package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQueryException
import org.scalatest.funsuite.AnyFunSuite
import graft.cdc.CdcParser
import graft.etl._
import graft.schema.{SelectionRule, SelectionRules}

/** Durable CDC state: distributed parquet-snapshot merge per batch, restart
  * recovery (including a merge cut short by a crash), idempotent state under
  * batch replay, the commit after the emission, and the Spark-job budget of
  * a full load and of one micro-batch.
  */
class DurableCdcSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark

  private def runner(stateDir: String, sink: EventSink = new MemoryEventSink) =
    new TaskRunner(spark, SelectionRules.referenceTables,
      Seq(SelectionRule("%", "%", "include")), sink, Some(stateDir))

  private def batchOf(body: String, fileSeq: Long) =
    CdcParser.parseLines(body.linesIterator.toSeq, fileSeq)

  private def keys(r: TaskRunner) = r.currentState.map(s => (s.schema, s.table, s.pk))
  private def exceptionKeys(r: TaskRunner) = r.exceptions.map(e => (e.table, e.pk))

  private def copyTree(from: Path, to: Path): Unit = {
    val paths = Files.walk(from)
    try paths.iterator().asScala.foreach { p =>
      val t = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    } finally paths.close()
  }

  /** State dirs after cdc file 1 (`half`: an empty snapshot, no exception)
    * and after files 1 and 2 (`full`: department 204, exception 301).
    */
  private lazy val (half, full) = {
    val h = Files.createTempDirectory("graft-half")
    runner(h.toString).processCdcBatchRecords(batchOf(ReferenceFixtures.cdcFile1, 1))
    val f = Files.createTempDirectory("graft-full")
    copyTree(h, f)
    runner(f.toString).processCdcBatchRecords(batchOf(ReferenceFixtures.cdcFile2, 2))
    (h, f)
  }

  /** The job group of every job submitted while `body` runs (None: no group). */
  private def jobGroupsIn(body: => Unit): Seq[Option[String]] = {
    val groups = new ConcurrentLinkedQueue[Option[String]]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      body
      ListenerBusAccess.drain(sc)
    } finally sc.removeSparkListener(listener)
    groups.asScala.toSeq
  }

  /** A full-load source tree holding the reference fixtures. */
  private def fixtureSource(): Path = {
    val src = Files.createTempDirectory("graft-seed-src")
    ReferenceFixtures.fullLoadCsvs.foreach { case (table, body) =>
      val d = Files.createDirectories(src.resolve(s"hr/$table"))
      Files.writeString(d.resolve(s"LOAD_$table.csv"), body)
    }
    src
  }

  private def seededRunner(stateDir: String, sink: EventSink = new MemoryEventSink): TaskRunner = {
    val r = runner(stateDir, sink)
    r.runFullLoadAndSeedCdc(fixtureSource().toString)
    r
  }

  /** A memory sink that runs `before` and `after` around every ordered
    * emission, or fails it when `failOrdered`.
    */
  private final class ProbeSink(
      before: () => Unit = () => (), after: () => Unit = () => (), failOrdered: Boolean = false
  ) extends EventSink {
    private val inner = new MemoryEventSink
    override def append(events: Seq[(String, String)]): Unit = inner.append(events)
    override def appendOrdered(events: DataFrame): Unit = {
      if (failOrdered) throw new IllegalStateException("stream unavailable")
      before()
      super.appendOrdered(events)
      after()
    }
    override def all: Seq[EventRecord] = inner.all
  }

  private def awaitFile(p: Path): Unit = {
    val deadline = System.currentTimeMillis() + 60000L
    while (!Files.exists(p) && System.currentTimeMillis() < deadline) Thread.sleep(5)
    assert(Files.exists(p), s"$p never appeared")
  }

  test("restarted runner resumes from the committed snapshot") {
    val dir = Files.createTempDirectory("graft-durable").toString
    val st = new DurableCdcState(spark, dir)
    import spark.implicits._

    // batch 1 (cdc file 1): net-empty employee
    st.mergeBatch(spark.createDataset(batchOf(ReferenceFixtures.cdcFile1, 1)))
    assert(st.loadState().count() == 0)

    // "crash": brand-new state handle on the same dir — batch 2 applies on top
    val st2 = new DurableCdcState(spark, dir)
    st2.mergeBatch(spark.createDataset(batchOf(ReferenceFixtures.cdcFile2, 2)))
    val state = st2.loadState().collect()
    assert(state.map(r => (r.schema, r.table, r.pk)).toSeq == Seq(("hr", "department", "204")))
    val ex = st2.loadExceptions().collect()
    assert(ex.map(e => (e.table, e.pk)).toSeq == Seq(("department", "301")))
  }

  test("state snapshot is idempotent under batch replay (at-least-once)") {
    val dir = Files.createTempDirectory("graft-replay").toString
    val st = new DurableCdcState(spark, dir)
    import spark.implicits._
    val b = batchOf(ReferenceFixtures.cdcFile2, 2)
    st.mergeBatch(spark.createDataset(b))
    val first = st.loadState().collect().map(r => (r.pk, r.values)).toSet
    st.mergeBatch(spark.createDataset(b)) // replayed micro-batch
    val second = st.loadState().collect().map(r => (r.pk, r.values)).toSet
    assert(first == second)
    // replayed identical exceptions dedup on read: the delete-missing-301
    // from the original batch appears exactly once (the replay also logs a
    // legitimate duplicate-insert artifact for 204 — full-row-image replays
    // keep STATE exact; the exception log records what each apply attempt saw)
    val ex = st.loadExceptions().collect()
    assert(ex.count(e => e.table == "department" && e.pk == "301") == 1)
  }

  test("mid-stream crash: restarted STREAMING query replays from the checkpoint exactly once") {
    // The adversarial form of the restart tests above: kill the actual CDC
    // streaming query between micro-batches (file 1 committed to the
    // checkpoint, file 2 not yet arrived), then restart the task — new
    // runner, new sink, same checkpoint + durable state — and feed file 2.
    // run.py:79-104 semantics: the resumed task must process file 2 ONLY
    // (no re-emission, no re-apply of file 1), and the union of both
    // processes' emissions must be the exact 15-event CDC golden with the
    // exception row intact.
    val cdcDir = Files.createTempDirectory("graft-cdc-crash")
    val ckpt = Files.createTempDirectory("graft-ckpt-crash")
    val stateDir = Files.createTempDirectory("graft-state-crash").toString
    def opOf(e: EventRecord): String =
      "\"operation\":\"([^\"]+)\"".r.findFirstMatchIn(e.envelope).map(_.group(1)).get
    def txnOf(e: EventRecord): Long =
      "\"transaction-id\":(\\d+)".r.findFirstMatchIn(e.envelope).map(_.group(1).toLong).getOrElse(-1L)

    val sink1 = new MemoryEventSink
    val r1 = runner(stateDir, sink1)
    val q1 = r1.startCdc(cdcDir.toString, ckpt.toString)
    try {
      Files.writeString(cdcDir.resolve("cdc0000000001.csv"), ReferenceFixtures.cdcFile1)
      q1.processAllAvailable()
    } finally q1.stop() // crash between micro-batches: file 1 is committed
    assert(sink1.all.size == 8, s"pre-crash: 4 controls + 4 data, got ${sink1.all.size}")

    // file 2 arrives while the task is down
    Files.writeString(cdcDir.resolve("cdc0000000002.csv"), ReferenceFixtures.cdcFile2)

    val sink2 = new MemoryEventSink
    val r2 = runner(stateDir, sink2)
    val q2 = r2.startCdc(cdcDir.toString, ckpt.toString, emitStartControls = false)
    try q2.processAllAvailable() finally q2.stop()

    // exactly-once across the restart: the resumed query emitted file 2's 7
    // data events and NOTHING from file 1 (transaction ids carry the file seq)
    assert(sink2.all.size == 7, s"resume must emit only file 2, got ${sink2.all.map(opOf)}")
    assert(sink2.all.forall(e => txnOf(e) >= 2000000L),
      s"resume re-emitted file-1 events: ${sink2.all.map(txnOf)}")

    // the union is the exact 15-event golden: 4 create + 4 insert + 3 update
    // + 4 delete, no duplicates (transaction ids of data events all distinct)
    val union = sink1.all ++ sink2.all
    assert(union.size == 15)
    val byOp = union.groupBy(opOf).view.mapValues(_.size).toMap
    assert(byOp == Map("create-table" -> 4, "insert" -> 4, "update" -> 3, "delete" -> 4))
    val dataIds = union.filter(e => opOf(e) != "create-table").map(txnOf)
    assert(dataIds.distinct.size == 11, s"duplicate data events: $dataIds")

    // durable state converged to the golden: department 204 survives, and
    // the delete-on-missing-301 exception row is intact, exactly once
    assert(r2.currentState.map(r => (r.schema, r.table, r.pk)) ==
      Seq(("hr", "department", "204")))
    assert(r2.exceptions.map(e => (e.table, e.pk)) == Seq(("department", "301")))
  }

  test("TaskRunner in durable mode survives a restart mid-stream") {
    val dir = Files.createTempDirectory("graft-tr-durable").toString
    val r1 = runner(dir)
    r1.processCdcBatchRecords(batchOf(ReferenceFixtures.cdcFile1, 1))
    // new runner (fresh JVM analog) on the same state dir
    val r2 = runner(dir)
    r2.processCdcBatchRecords(batchOf(ReferenceFixtures.cdcFile2, 2))
    assert(r2.currentState.map(r => (r.schema, r.table, r.pk)) ==
      Seq(("hr", "department", "204")))
    assert(r2.exceptions.map(e => (e.table, e.pk)) == Seq(("department", "301")))
  }

  test("a CDC file of only blank lines emits no data event and changes nothing") {
    val cdcDir = Files.createTempDirectory("graft-cdc-blank")
    val ckpt = Files.createTempDirectory("graft-ckpt-blank")
    val sink = new MemoryEventSink
    val r = runner(Files.createTempDirectory("graft-state-blank").toString, sink)
    val q = r.startCdc(cdcDir.toString, ckpt.toString)
    try {
      Files.writeString(cdcDir.resolve("cdc0000000001.csv"), ReferenceFixtures.cdcFile1)
      Files.writeString(cdcDir.resolve("cdc0000000002.csv"), ReferenceFixtures.cdcFile2)
      q.processAllAvailable()
      val (events, state, ex) = (sink.all, r.currentState, r.exceptions)
      Files.writeString(cdcDir.resolve("cdc0000000003.csv"), "\n   \n\t\n")
      q.processAllAvailable()
      assert(q.recentProgress.count(_.numInputRows > 0) == 3, "the blank file ran as a batch")
      assert(sink.all == events)
      assert(r.currentState == state && state.map(_.pk) == Seq("204"))
      assert(r.exceptions == ex && ex.map(_.pk) == Seq("301"))
    } finally q.stop()
  }

  test("crash mid-write: an unfinished state._tmp is ignored on restart and by the next merge") {
    val dir = Files.createTempDirectory("graft-crash-write")
    copyTree(half, dir)
    // a partial write: rows under both kinds, no _SUCCESS marker
    copyTree(full.resolve("state"), dir.resolve("state._tmp/kind=state"))
    copyTree(full.resolve("state"), dir.resolve("state._tmp/kind=exception"))
    val r = runner(dir.toString)
    assert(keys(r).isEmpty)
    assert(r.exceptions.isEmpty)
    r.processCdcBatchRecords(batchOf(ReferenceFixtures.cdcFile2, 2))
    assert(keys(r) == Seq(("hr", "department", "204")))
    assert(exceptionKeys(r) == Seq(("department", "301")))
    assert(!Files.exists(dir.resolve("state._tmp")))
  }

  test("crash mid-swap: a finished state._tmp with state/ deleted is swapped in on restart") {
    val dir = Files.createTempDirectory("graft-crash-swap")
    copyTree(full, dir)
    val tmp = Files.createDirectories(dir.resolve("state._tmp"))
    Files.move(dir.resolve("state"), tmp.resolve("kind=state"))
    Files.move(dir.resolve("exceptions"), tmp.resolve("kind=exception"))
    Files.createFile(tmp.resolve("_SUCCESS"))
    val r = runner(dir.toString)
    assert(keys(r) == Seq(("hr", "department", "204")))
    assert(exceptionKeys(r) == Seq(("department", "301")))
    assert(!Files.exists(tmp))
  }

  test("crash after the exception moves: the old snapshot stays and the replay is exactly once") {
    val dir = Files.createTempDirectory("graft-crash-moved")
    copyTree(half, dir)
    copyTree(full.resolve("exceptions"), dir.resolve("exceptions"))
    copyTree(full.resolve("state"), dir.resolve("state._tmp/kind=state"))
    Files.createFile(dir.resolve("state._tmp/_SUCCESS"))
    val r = runner(dir.toString)
    assert(keys(r).isEmpty, "state/ is present, so the unswapped write is dropped")
    // the replayed micro-batch re-appends the moved exception: read once
    r.processCdcBatchRecords(batchOf(ReferenceFixtures.cdcFile2, 2))
    assert(keys(r) == Seq(("hr", "department", "204")))
    assert(exceptionKeys(r) == Seq(("department", "301")))
  }

  test("a durable micro-batch on a seeded state stays within its Spark-job budget") {
    // the full load that seeds the state has a budget of its own
    val sc = spark.sparkContext
    var r: TaskRunner = null
    val load = jobGroupsIn {
      sc.setJobGroup("durable-fullload", "full load and seed")
      try r = seededRunner(Files.createTempDirectory("graft-jobs").toString)
      finally sc.clearJobGroup()
    }
    // per table the window shuffle and the ordered handoff, then the apply
    // shuffle and the one state write; the write runs on a helper thread,
    // which must carry the caller's job group like every other job
    assert(load.nonEmpty && load.size <= 8, s"runFullLoadAndSeedCdc ran ${load.size} jobs")
    assert(load.forall(_.contains("durable-fullload")), s"jobs outside the caller's group: $load")

    val replay = jobGroupsIn {
      sc.setJobGroup("durable-replay", "one replayed batch")
      try r.processCdcBatchRecords(batchOf(ReferenceFixtures.cdcFile1, 1))
      finally sc.clearJobGroup()
    }.count(_.contains("durable-replay"))
    // the emission, the apply shuffle and the one state write
    assert(replay <= 3, s"processCdcBatchRecords ran $replay jobs")

    val cdcDir = Files.createTempDirectory("graft-cdc-jobs")
    var q: org.apache.spark.sql.streaming.StreamingQuery = null
    // the stream's jobs run under its run id as the job group
    val streamGroups = jobGroupsIn {
      q = r.startCdc(cdcDir.toString, Files.createTempDirectory("graft-ckpt-jobs").toString,
        emitStartControls = false)
      try {
        Files.writeString(cdcDir.resolve("cdc0000000002.csv"), ReferenceFixtures.cdcFile2)
        q.processAllAvailable()
      } finally q.stop()
    }
    val streamed = streamGroups.count(_.contains(q.runId.toString))
    assert(q.recentProgress.count(_.numInputRows > 0) == 1)
    assert(streamed <= 3, s"one streaming file ran $streamed jobs")
    // seeded rows 201-203 / 101-104 / 301-303; file 1 deletes employee 101
    // (its INSERT of a loaded key excepts), file 2 nets to department 204
    assert(keys(r).map(k => s"${k._2}#${k._3}") == Seq("department#201", "department#202",
      "department#203", "department#204", "employee#102", "employee#103", "employee#104",
      "project#301", "project#302", "project#303"))
    assert(exceptionKeys(r) == Seq(("employee", "101"), ("department", "301")))
  }

  test("the state commits only after the emission: each ordered batch sees the pre-step state") {
    val dir = Files.createTempDirectory("graft-commit-order")
    var r: TaskRunner = null
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    def visible(): Unit = seen += ((keys(r).size, r.exceptions.size))
    // after each emission, wait until the step's state write has finished:
    // the state must still not have moved
    val sink = new ProbeSink(before = () => visible(),
      after = () => { awaitFile(dir.resolve("state._tmp/_SUCCESS")); visible() })
    r = runner(dir.toString, sink)
    r.runFullLoadAndSeedCdc(fixtureSource().toString)
    assert(seen.toSeq == Seq.fill(6)((0, 0)), "the seed was visible during the full load")
    assert(keys(r).size == 10)
    seen.clear()
    // file 1 deletes employee 101; its INSERT of the loaded key excepts
    r.processCdcBatchRecords(batchOf(ReferenceFixtures.cdcFile1, 1))
    assert(seen.toSeq == Seq((10, 0), (10, 0)), "the batch's state was visible during its emission")
    assert((keys(r).size, r.exceptions.size) == ((9, 1)))
    assert(!Files.exists(dir.resolve("state._tmp")))
  }

  test("a failed CDC emission commits nothing, and the replay equals a clean run") {
    val dir = Files.createTempDirectory("graft-emit-fail")
    copyTree(half, dir)
    val failing = runner(dir.toString, new ProbeSink(failOrdered = true))
    val e = intercept[IllegalStateException] {
      failing.processCdcBatchRecords(batchOf(ReferenceFixtures.cdcFile2, 2))
    }
    assert(e.getMessage == "stream unavailable")
    assert(!Files.exists(dir.resolve("exceptions")), "the batch's exceptions were committed")
    val reopened = runner(dir.toString)
    assert(keys(reopened).isEmpty && reopened.exceptions.isEmpty)
    assert(!Files.exists(dir.resolve("state._tmp")))
    // the replayed batch with a working sink
    reopened.processCdcBatchRecords(batchOf(ReferenceFixtures.cdcFile2, 2))
    val clean = runner(full.toString)
    assert(reopened.currentState == clean.currentState)
    assert(reopened.exceptions == clean.exceptions)
  }

  test("a failed full-load emission leaves the state unseeded") {
    val dir = Files.createTempDirectory("graft-fl-fail").toString
    val e = intercept[IllegalStateException](seededRunner(dir, new ProbeSink(failOrdered = true)))
    assert(e.getMessage == "stream unavailable")
    val reopened = runner(dir)
    assert(keys(reopened).isEmpty && reopened.exceptions.isEmpty)
    assert(!Files.exists(Path.of(dir, "state._tmp")))
    assert(keys(seededRunner(dir)).size == 10)
  }

  test("the full-load seed renders timestamps in the session time zone, not the JVM's") {
    import java.util.TimeZone
    val prev = TimeZone.getDefault
    try {
      // when the two zones agree, the text is Timestamp.toString's, cut
      // back to the date for a midnight
      TimeZone.setDefault(TimeZone.getTimeZone("UTC"))
      for (text <- Seq("2014-06-04 00:00:00", "2014-06-04 13:05:09", "2014-06-04 00:00:00.5",
          "2014-06-04 13:05:09.12345", "1969-12-31 23:59:59.1")) {
        val ts = java.sql.Timestamp.valueOf(text)
        val old = ts.toString
        assert(TaskRunner.sourceText(ts, java.time.ZoneId.of("UTC")) ==
          (if (old.endsWith(" 00:00:00.0")) old.dropRight(11) else old))
      }
      // the session zone is UTC; the JVM's is not
      TimeZone.setDefault(TimeZone.getTimeZone("America/New_York"))
      val r = seededRunner(Files.createTempDirectory("graft-seed-zone").toString)
      val bob = r.currentState.find(s => s.table == "employee" && s.pk == "101").get
      assert(bob.values(3) == "2014-06-04", bob.values)
    } finally TimeZone.setDefault(prev)
  }

  test("a CDC file past the seq stride fails its batch instead of reusing the next file's seqs") {
    def failsAlone(name: String, message: String)(write: java.io.Writer => Unit): Unit = {
      val cdcDir = Files.createTempDirectory("graft-cdc-stride")
      val w = Files.newBufferedWriter(cdcDir.resolve(name))
      try write(w) finally w.close()
      val sink = new MemoryEventSink
      val r = runner(Files.createTempDirectory("graft-state-stride").toString, sink)
      val q = r.startCdc(cdcDir.toString, Files.createTempDirectory("graft-ckpt-stride").toString)
      val e = try intercept[StreamingQueryException](q.processAllAvailable()) finally q.stop()
      def chain(t: Throwable): Seq[Throwable] =
        if (t == null) Nil else t +: (chain(t.getCause) ++ t.getSuppressed.toSeq.flatMap(chain))
      assert(chain(e).exists(t => String.valueOf(t.getMessage).contains(message)), e)
      assert(sink.size == 4, "only the start controls may be out")
      assert(keys(r).isEmpty && r.exceptions.isEmpty)
    }
    // row 1,000,001 would get file 2's first seq (2 x 1,000,000 + 1)
    failsAlone("cdc0000000001.csv", "has more than 999999 non-blank rows")(w =>
      (0 until 1000001).foreach(_ => w.write("DELETE,t,s,1\n")))
    // a file seq is the change order: a name without one (or past a long)
    // has no place in it
    failsAlone("changes.csv", "changes.csv has no sequence number in its name")(
      _.write(ReferenceFixtures.cdcFile1))
    failsAlone("cdc99999999999999999999.csv", "cdc99999999999999999999.csv has no sequence number")(
      _.write(ReferenceFixtures.cdcFile1))
  }
}
