package dmsbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import graft.etl._
import graft.schema.{SelectionRule, SelectionRules}

/** Sizes of the `dms-replicate` workload. */
final case class DmsConfig(
    employees: Int,
    opsPerFile: Int,
    intervalMs: Long,
    burstFiles: Int,
    fullLoads: Int,
    warmEmployees: Int,
    warmFiles: Int
)

/** One micro-batch of a streaming query, from its progress event. */
final case class BatchProgress(queryId: String, batchId: Long, rows: Long, endMs: Long, durations: Map[String, Long])

/** Collects progress events for every streaming query of the session. */
final class ProgressLog extends StreamingQueryListener {
  private val batches = new ConcurrentLinkedQueue[BatchProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.numInputRows > 0) {
      val durations = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      val end = java.time.Instant.parse(p.timestamp).toEpochMilli + p.batchDuration
      batches.add(BatchProgress(p.id.toString, p.batchId, p.numInputRows, end, durations))
    }
  }
  def dataBatches(queryId: String): Seq[BatchProgress] =
    batches.asScala.filter(_.queryId == queryId).toSeq.sortBy(_.batchId)
}

/** The `dms-replicate` workload: golden replay and CDC warm-up in set-up,
  * then a timed full load, a paced open-loop CDC phase and a burst drain,
  * all checked against [[ReplicationModel]].
  */
final class DmsReplicate(spark: SparkSession, tracer: Tracer, cfg: DmsConfig, seed: Long, seconds: Int, work: Path) {
  private val tables = Seq("employee", "department", "project")
  private val rules = Seq(SelectionRule("%", "%", "include"))
  private val problems = scala.collection.mutable.ArrayBuffer.empty[String]
  private val progress = new ProgressLog
  spark.streams.addListener(progress)

  private def dir(name: String): Path = Files.createDirectories(work.resolve(name))

  private def writeSource(root: Path, rows: Map[String, Seq[Seq[String]]]): Unit =
    rows.foreach { case (t, rs) =>
      val d = Files.createDirectories(root.resolve(s"hr/$t"))
      Files.writeString(d.resolve(s"LOAD_$t.csv"), rs.map(_.mkString(",")).mkString("", "\n", "\n"))
    }

  /** Writes change files into `staging` with strictly increasing
    * modification times, so the file source takes them in order even when
    * several arrive at once.
    */
  private def stageFiles(staging: Path, first: Int, files: Seq[Seq[ChangeOp]]): Seq[Path] = {
    val base = System.currentTimeMillis() - 3600000L
    files.zipWithIndex.map { case (ops, i) =>
      val n = first + i
      val f = staging.resolve(f"cdc$n%010d.csv")
      Files.writeString(f, ops.map(_.line).mkString("", "\n", "\n"))
      Files.setLastModifiedTime(f, java.nio.file.attribute.FileTime.fromMillis(base + n * 1000L))
      f
    }
  }

  private def drop(f: Path, cdcDir: Path): Unit =
    Files.move(f, cdcDir.resolve(f.getFileName), StandardCopyOption.ATOMIC_MOVE)

  private def eventCounts(events: Seq[EventRecord]): Map[(String, String), Long] =
    EventConsumer.project(spark, events).groupBy("table_name", "operation").count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap

  private def stateOf(runner: TaskRunner): (Long, Long, Seq[String]) = {
    val st = runner.currentState
    (st.size.toLong, st.map(r => ReplicationModel.rowHash(r.table, r.values)).sum,
      st.map(r => s"${r.schema}.${r.table}#${r.pk}"))
  }

  private def waitFor(queryId: String, n: Int, timeoutMs: Long): Seq[BatchProgress] = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var got = progress.dataBatches(queryId)
    while (got.size < n && System.currentTimeMillis() < deadline) {
      Thread.sleep(10)
      got = progress.dataBatches(queryId)
    }
    got
  }

  /** The reference scenario: 16 full-load and 15 CDC events, final state
    * hr.department#204, one apply exception. Returns true when exact.
    */
  private def golden(): Boolean = tracer.span("setup.golden") {
    val src = dir("golden/src")
    val fixtures = ReferenceFixtures.fullLoadCsvs.map { case (t, body) =>
      t -> body.linesIterator.map(_.split(",", -1).toSeq).toSeq
    }
    writeSource(src, fixtures)
    val model = new ReplicationModel(tables)
    model.fullLoad(fixtures, seedState = false)
    val flSink = new MemoryEventSink
    new TaskRunner(spark, SelectionRules.referenceTables, rules, flSink).runFullLoad(src.toString)
    val flOk = eventCounts(flSink.all) == model.eventCounts && flSink.size == 16

    val cdcModel = new ReplicationModel(tables)
    cdcModel.startCdc()
    ReplicationModel.goldenOps.foreach(cdcModel.apply)
    val cdcDir = dir("golden/cdc")
    val sink = new MemoryEventSink
    val runner = new TaskRunner(spark, SelectionRules.referenceTables, rules, sink, Some(dir("golden/state").toString))
    val staged = stageFiles(dir("golden/staging"), 1, Seq(
      ReferenceFixtures.cdcFile1, ReferenceFixtures.cdcFile2).map(_.linesIterator.map { l =>
        val p = l.split(",", -1).map(_.trim).toVector
        ChangeOp(p(0), p(1), p.drop(3))
      }.toSeq))
    val q = runner.startCdc(cdcDir.toString, dir("golden/ckpt").toString)
    try {
      staged.foreach(drop(_, cdcDir))
      q.processAllAvailable()
    } finally q.stop()
    val (_, _, keys) = stateOf(runner)
    val cdcOk = eventCounts(sink.all) == cdcModel.eventCounts && sink.size == 15 &&
      keys == cdcModel.stateKeys && keys == Seq("hr.department#204") &&
      runner.exceptions.size == cdcModel.exceptions && cdcModel.exceptions == 1
    if (!flOk) problems += s"golden full load: ${flSink.size} events, expected 16"
    if (!cdcOk) problems += s"golden CDC: ${sink.size} events, state $keys, ${runner.exceptions.size} exceptions"
    flOk && cdcOk
  }

  /** Full load and a few CDC batches on a small source, so the timed phases
    * run on compiled code.
    */
  private def warm(): Unit = tracer.span("setup.warm") {
    val gen = new HrGenerator(seed ^ 0x5eedL, cfg.warmEmployees)
    val src = dir("warm/src")
    writeSource(src, gen.fullLoad())
    val runner = new TaskRunner(spark, SelectionRules.referenceTables, rules,
      new FileEventSink(dir("warm/sink").toString), Some(dir("warm/state").toString))
    runner.runFullLoadAndSeedCdc(src.toString)
    val cdcDir = dir("warm/cdc")
    val staged = stageFiles(dir("warm/staging"), 1, Seq.fill(cfg.warmFiles)(gen.changeFile(cfg.opsPerFile)))
    val q = runner.startCdc(cdcDir.toString, dir("warm/ckpt").toString)
    try {
      staged.foreach(drop(_, cdcDir))
      q.processAllAvailable()
    } finally q.stop()
  }

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def run(setupStartMs: Long): Outcome = {
    var attempted = 0L
    var failed = 0L
    attempted += 1
    if (!golden()) failed += 1
    warm()

    // inputs for the timed phases, generated before timing starts
    val gen = new HrGenerator(seed, cfg.employees)
    val rows = gen.fullLoad()
    val src = dir("main/src")
    writeSource(src, rows)
    val paced = (seconds * 1000L / cfg.intervalMs).toInt
    val files = Seq.fill(paced + cfg.burstFiles)(gen.changeFile(cfg.opsPerFile))
    val cdcDir = dir("main/cdc")
    val staged = stageFiles(dir("main/staging"), 1, files)
    val model = new ReplicationModel(tables)
    model.fullLoad(rows)
    model.startCdc()
    files.flatten.foreach(model.apply)

    // the full load is timed fullLoads times, each into its own stream and
    // state, and reported as the median; CDC continues on the last one
    val loads = (1 to cfg.fullLoads).map { i =>
      val stateDir = dir(s"main/load$i/state")
      val sinkDir = dir(s"main/load$i/sink")
      val sink = new TracingSink(new FileEventSink(sinkDir.toString, shards = 1), tracer,
        () => tracer.add("etl.state.bytes_written", dirBytes(stateDir.resolve("state")).toDouble))
      (new TaskRunner(spark, SelectionRules.referenceTables, rules, sink, Some(stateDir.toString)), stateDir, sinkDir)
    }
    val (runner, stateDir, sinkDir) = loads.last

    val setupS = (System.currentTimeMillis() - setupStartMs) / 1e3
    val sourceRows = rows.values.map(_.size).sum
    val loadWalls = loads.map { case (r, _, _) =>
      attempted += 1
      try tracer.timed("fullload")(r.runFullLoadAndSeedCdc(src.toString))._2
      catch { case e: Exception => failed += 1; problems += s"full load threw: $e"; Double.NaN }
    }
    val fullLoadS = if (loadWalls.exists(_.isNaN)) Double.NaN else Stats.median(loadWalls)

    // paced open loop: file k is due at first + k * interval. Drops sit
    // mid-way between the trigger's 500 ms ticks, so the wait for the next
    // tick is the same for every file and every run.
    def midTick(afterMs: Long): Long = (afterMs / 500L + 1L) * 500L + 250L
    def sleepUntil(t: Long): Unit = {
      val wait = t - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
    }
    val drops = new Array[Long](paced)
    val due = new Array[Long](paced)
    var burstStart = 0L
    var batches = Seq.empty[BatchProgress]
    tracer.span("cdc") {
      val q = runner.startCdc(cdcDir.toString, dir("main/ckpt").toString)
      try {
        val first = midTick(System.currentTimeMillis() + 1000L)
        tracer.span("cdc.paced") {
          for (k <- 0 until paced) {
            due(k) = first + k * cfg.intervalMs
            sleepUntil(due(k))
            drop(staged(k), cdcDir)
            drops(k) = System.currentTimeMillis()
          }
          waitFor(q.id.toString, paced, 60000L)
        }
        tracer.span("cdc.burst") {
          burstStart = midTick(System.currentTimeMillis())
          sleepUntil(burstStart)
          staged.drop(paced).foreach(drop(_, cdcDir))
          batches = waitFor(q.id.toString, paced + cfg.burstFiles, 120000L)
        }
      } finally q.stop()
    }

    // the file source takes one file per trigger, oldest first: data batch
    // k applied file k (numInputRows also counts the batch's emptiness
    // probe, so it is not a line count)
    attempted += files.size
    val processed = batches.take(files.size)
    val badFiles = files.size - processed.size
    if (badFiles > 0) problems += s"$badFiles of ${files.size} CDC files were never applied"
    val pacedBatches = processed.take(paced)
    val lags = pacedBatches.indices.map(i => (pacedBatches(i).endMs - due(i)).toDouble)
    val burstOps = files.drop(paced).map(_.size).sum
    val drainS = processed.drop(paced).lastOption.map(b => (b.endMs - burstStart) / 1e3).getOrElse(Double.NaN)

    // output checks: read the stream back with a fresh sink
    val (counts, (stRows, stHash, _), exceptions) = tracer.span("check") {
      val events = new FileEventSink(sinkDir.toString, shards = 1).all
      (eventCounts(events), stateOf(runner), runner.exceptions.size.toLong)
    }
    val expected = model.eventCounts
    def loadOk(c: Map[(String, String), Long]): Boolean = tables.forall(t => Seq("load", "drop-table").forall(op =>
      c.getOrElse((t, op), 0L) == expected.getOrElse((t, op), 0L)))
    val loadCounts = loads.init.map { case (_, _, d) => eventCounts(new FileEventSink(d.toString, shards = 1).all) } :+ counts
    loadCounts.zip(loadWalls).zipWithIndex.foreach { case ((c, wall), i) =>
      if (!wall.isNaN && !loadOk(c)) { failed += 1; problems += s"full load ${i + 1}: event counts differ from the model" }
    }
    val cdcOk = counts == expected && stRows == model.stateRows && stHash == model.stateHash &&
      exceptions == model.exceptions
    if (!cdcOk) problems += s"CDC output differs from the model: events ${counts.toSeq.sorted} vs " +
      s"${expected.toSeq.sorted}; state rows $stRows vs ${model.stateRows}, hash match ${stHash == model.stateHash}; " +
      s"exceptions $exceptions vs ${model.exceptions}"
    failed += (if (cdcOk) badFiles.toLong else files.size.toLong)

    val genLateMs = drops.indices.map(i => (drops(i) - due(i)).toDouble).maxOption.getOrElse(0.0)
    val (tailLag, tailPct) = if (lags.nonEmpty) Stats.tail(lags) else (Double.NaN, Double.NaN)
    val endToEnd = Map(
      "setup_s" -> setupS,
      "latency_ms" -> (if (lags.nonEmpty) Stats.median(lags) else Double.NaN),
      "bulk_s" -> fullLoadS)

    // the burst drain rate is a layer figure: over ten same-code runs it
    // split into two groups (about 330 and 400 ops/s), too wide to bound
    val perLayer = scala.collection.mutable.Map("cdc.drain_ops_per_s" -> burstOps / drainS)
    if (tracer.enabled) {
      val fl = tracer.spansNamed(_ == "fullload").map(_.seconds).sum
      // the Spark counters of the fullload span cover all fullLoads loads
      val cdcWall = tracer.spansNamed(_ == "cdc").map(_.seconds).sum
      perLayer ++= Seq(
        "etl.fullload_s" -> fullLoadS,
        "etl.sink.append_s" -> tracer.counter("etl.sink.append_s"),
        "etl.sink.handoff_wait_s" -> (tracer.counter("etl.sink.ordered_s") - tracer.counter("etl.sink.append_in_ordered_s")),
        "etl.sink.events" -> tracer.counter("etl.sink.events"),
        "etl.sink.bytes" -> dirBytes(sinkDir).toDouble,
        "etl.state.rows" -> stRows.toDouble,
        "etl.state.bytes" -> dirBytes(stateDir.resolve("state")).toDouble,
        "etl.state.bytes_written" -> (tracer.counter("etl.state.bytes_written") + dirBytes(stateDir.resolve("state"))),
        "cdc.exceptions" -> exceptions.toDouble,
        "cdc.gen_late_ms_max" -> genLateMs)
      def p50(key: String): Double = {
        val xs = pacedBatches.flatMap(_.durations.get(key)).map(_.toDouble)
        if (xs.isEmpty) 0.0 else Stats.median(xs)
      }
      perLayer ++= Seq(
        "cdc.trigger_ms.p50" -> p50("triggerExecution"),
        "cdc.add_batch_ms.p50" -> p50("addBatch"),
        "cdc.latest_offset_ms.p50" -> p50("latestOffset"),
        "cdc.wal_commit_ms.p50" -> p50("walCommit"),
        "cdc.backlog_max_files" -> pacedBatches.map(b => drops.count(_ <= b.endMs) - pacedBatches.count(_.endMs <= b.endMs) + 1)
          .maxOption.getOrElse(0).toDouble)
      perLayer ++= Layers.sparkSpan(tracer, "fullload", _ == "fullload", fl)
      perLayer ++= Layers.sparkSpan(tracer, "cdc", _ == "cdc", cdcWall)
    }
    Outcome(attempted, failed, problems.toSeq, endToEnd, perLayer.toMap, Map(
      "source_rows" -> sourceRows,
      "fullload_rows_per_s" -> sourceRows / fullLoadS,
      "cdc_files_paced" -> paced,
      "cdc_files_burst" -> cfg.burstFiles,
      "cdc_lag_p50_ms" -> endToEnd("latency_ms"),
      "cdc_lag_tail_ms" -> tailLag,
      "cdc_lag_tail_percentile" -> tailPct,
      "cdc_lag_samples" -> lags.size,
      "cdc_drain_ops_per_s" -> burstOps / drainS,
      "model_exceptions" -> model.exceptions,
      "cdc_lags_ms" -> lags,
      "cdc_gen_late_ms_max" -> genLateMs,
      "cdc_batch_ms" -> processed.map(_.durations.getOrElse("triggerExecution", -1L)),
      "model_state_rows" -> model.stateRows))
  }
}

/** Per-span Spark counters in the names the benchmark reports. */
object Layers {
  val sparkNames: Seq[String] =
    Seq("jobs", "tasks", "task_cpu_s", "gc_s", "shuffle_bytes", "spill_bytes", "input_records", "slot_busy_frac")

  def sparkSpan(tracer: Tracer, prefix: String, p: String => Boolean, wallS: Double): Map[String, Double] = {
    val s = tracer.sparkSum(p)
    val cores = Runtime.getRuntime.availableProcessors
    sparkNames.map { n =>
      s"$prefix.$n" -> (if (n == "slot_busy_frac") (if (wallS > 0) s("task_run_s") / (wallS * cores) else 0.0) else s(n))
    }.toMap
  }
}
