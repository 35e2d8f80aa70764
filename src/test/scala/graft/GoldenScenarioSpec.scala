package graft

import java.nio.file.{Files, Path}
import org.scalatest.funsuite.AnyFunSuite
import graft.etl._
import graft.schema.{SelectionRule, SelectionRules}

/** The reference's only hard oracle, replayed end-to-end: 16 full-load events
  * and 15 CDC events with exact operation/table breakdowns
  * (run.py:170, run.py:198; README.md:74-87).
  */
class GoldenScenarioSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark

  private def opOf(e: EventRecord): String =
    "\"operation\":\"([^\"]+)\"".r.findFirstMatchIn(e.envelope).map(_.group(1)).get
  private def tableOf(e: EventRecord): String =
    "\"table-name\":\"([^\"]+)\"".r.findFirstMatchIn(e.envelope).map(_.group(1)).get

  private def writeSourceTree(root: Path): Unit = {
    ReferenceFixtures.fullLoadCsvs.foreach { case (table, body) =>
      val dir = root.resolve(s"hr/$table")
      Files.createDirectories(dir)
      Files.writeString(dir.resolve(s"LOAD_$table.csv"), body)
    }
  }

  test("E1 full load: 16 events = 3 create + 3 drop + 10 load (README.md:77)") {
    val root = Files.createTempDirectory("graft-fullload")
    writeSourceTree(root)
    val sink = new MemoryEventSink
    val runner = new TaskRunner(spark, SelectionRules.referenceTables,
      Seq(SelectionRule("%", "%", "include")), sink)
    runner.runFullLoad(root.toString)

    val events = sink.all
    assert(events.size == 16)
    val byOp = events.groupBy(opOf).view.mapValues(_.size).toMap
    assert(byOp == Map("create-table" -> 3, "drop-table" -> 3, "load" -> 10))
    val loadsByTable = events.filter(opOf(_) == "load").groupBy(tableOf).view.mapValues(_.size).toMap
    assert(loadsByTable == Map("employee" -> 4, "department" -> 3, "project" -> 3))
    // single-shard total order: seqNos are consecutive from 0
    assert(events.map(_.seqNo) == (0L until 16L))
    // partition keys are schema.table
    assert(events.map(_.partitionKey).toSet ==
      Set("hr.employee", "hr.department", "hr.project"))

    // stats report (O15/O16): full-load rows 4/3/3 sorted by table name
    val stats = runner.tableStatistics().collect()
    assert(stats.map(r => (r.getString(1), r.getLong(2))).toSeq ==
      Seq(("department", 3L), ("employee", 4L), ("project", 3L)))
  }

  test("E2 CDC: 15 events = 4 create + 4 insert + 3 update + 4 delete (README.md:84)") {
    val cdcDir = Files.createTempDirectory("graft-cdc")
    val ckpt = Files.createTempDirectory("graft-ckpt")
    val sink = new MemoryEventSink
    val runner = new TaskRunner(spark, SelectionRules.referenceTables,
      Seq(SelectionRule("%", "%", "include")), sink)

    // task starts before data exists (run.py:189-190)
    val q = runner.startCdc(cdcDir.toString, ckpt.toString)
    try {
      Files.writeString(cdcDir.resolve("cdc0000000001.csv"), ReferenceFixtures.cdcFile1)
      Thread.sleep(50)
      Files.writeString(cdcDir.resolve("cdc0000000002.csv"), ReferenceFixtures.cdcFile2)
      q.processAllAvailable()
    } finally q.stop()

    val events = sink.all
    assert(events.size == 15, s"got ${events.size}: ${events.map(opOf)}")
    val byOp = events.groupBy(opOf).view.mapValues(_.size).toMap
    assert(byOp == Map("create-table" -> 4, "insert" -> 4, "update" -> 3, "delete" -> 4))
    // the 4th create is the DMS-internal exceptions table
    assert(events.filter(opOf(_) == "create-table").map(tableOf).toSet ==
      Set("employee", "department", "project", "awsdms_apply_exceptions"))

    // final applied state: only hr.department 204 survives
    assert(runner.currentState.map(r => (r.schema, r.table, r.pk)) ==
      Seq(("hr", "department", "204")))
    // one apply exception: delete on never-inserted department 301
    assert(runner.exceptions.map(e => (e.table, e.pk)) == Seq(("department", "301")))

    // awsdms_apply_exceptions surfaced as a DMS-layout table
    val exTable = runner.applyExceptionsTable().collect()
    assert(exTable.length == 1)
    assert(exTable.head.getString(1) == "hr" && exTable.head.getString(2) == "department")
    assert(exTable.head.getString(5).contains("delete for missing key 301"))

    // stats: inserts/updates/deletes per table (employee 2/3/2, department 1/0/1, project 1/0/1)
    val stats = runner.tableStatistics().collect()
      .map(r => (r.getString(1), (r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(stats("employee") == ((2L, 3L, 2L)))
    assert(stats("department") == ((1L, 0L, 1L)))
    assert(stats("project") == ((1L, 0L, 1L)))
  }

  test("full-load-and-cdc: loaded rows seed the apply state") {
    val root = Files.createTempDirectory("graft-flcdc")
    writeSourceTree(root)
    val sink = new MemoryEventSink
    val runner = new TaskRunner(spark, SelectionRules.referenceTables,
      Seq(SelectionRule("%", "%", "include")), sink)
    runner.runFullLoadAndSeedCdc(root.toString)
    // 10 loaded rows are now live state
    assert(runner.currentState.size == 10)

    // CDC file 1 applies ON TOP of the load: INSERT of existing 101 excepts
    // (it was loaded), then update/update/delete → 101 gone, 102-104 remain
    runner.processCdcBatchRecords(
      graft.cdc.CdcParser.parseLines(ReferenceFixtures.cdcFile1.linesIterator.toSeq, fileSeq = 1))
    val employees = runner.currentState.filter(_.table == "employee").map(_.pk).sorted
    assert(employees == Seq("102", "103", "104"))
    assert(runner.exceptions.map(e => (e.table, e.pk)) == Seq(("employee", "101")))
    assert(runner.exceptions.head.error.contains("duplicate insert"))
    // loaded departments/projects untouched
    assert(runner.currentState.count(_.table == "department") == 3)
    assert(runner.currentState.count(_.table == "project") == 3)
  }

  test("alter-table marker becomes a control event and leaves row state alone") {
    val cdcDir = Files.createTempDirectory("graft-cdc-alter")
    val ckpt = Files.createTempDirectory("graft-ckpt-alter")
    val sink = new MemoryEventSink
    val runner = new TaskRunner(spark, SelectionRules.referenceTables,
      Seq(SelectionRule("%", "%", "include")), sink)
    val q = runner.startCdc(cdcDir.toString, ckpt.toString)
    try {
      // one insert, a schema change (include_table_alter_operations,
      // stack.py:124), then an update referencing the pre-alter image
      Files.writeString(cdcDir.resolve("cdc0000000001.csv"),
        """INSERT,employee,hr,101,Smith,Bob,2014-06-04,New York
          |ALTER-TABLE,employee,hr,ADD COLUMN Badge STRING
          |UPDATE,employee,hr,101,Smith,Bob,2014-06-04,Los Angeles
          |""".stripMargin)
      q.processAllAvailable()
    } finally q.stop()

    val dataOrControl = sink.all.map(e =>
      ("\"record-type\":\"([^\"]+)\"".r.findFirstMatchIn(e.envelope).map(_.group(1)).get, opOf(e)))
    // 4 start controls + insert + alter control + update
    assert(dataOrControl.count(_._1 == "control") == 5)
    assert(dataOrControl.count(_ == (("control", "alter-table"))) == 1)
    assert(dataOrControl.filter(_._1 == "data").map(_._2) == Seq("insert", "update"))
    val alter = sink.all.find(e => opOf(e) == "alter-table").get
    assert(alter.partitionKey == "hr.employee")
    assert(alter.envelope.contains(""""data":null"""))
    // the alter never reached the row apply: 101's update landed normally
    assert(runner.currentState.map(r => (r.table, r.pk)) == Seq(("employee", "101")))
    assert(runner.exceptions.isEmpty)
    // ddl counter includes the alter (plus the create controls)
    val stats = runner.tableStatistics().collect()
      .map(r => (r.getString(1), r.getLong(6))).toMap
    assert(stats("employee") == 2L) // create-table + alter-table
  }

  test("task status walks starting → running → stopped (run.py:93-104)") {
    val root = Files.createTempDirectory("graft-status-fl")
    writeSourceTree(root)
    val full = new TaskRunner(spark, SelectionRules.referenceTables,
      Seq(SelectionRule("%", "%", "include")), new MemoryEventSink)
    assert(full.status == "starting")
    full.runFullLoad(root.toString) // full-load tasks self-stop (run.py:169)
    assert(full.status == "stopped")
    assert(full.statusHistory == Seq("starting", "running", "stopped"))

    val cdcDir = Files.createTempDirectory("graft-status-cdc")
    val ckpt = Files.createTempDirectory("graft-status-ckpt")
    val cdc = new TaskRunner(spark, SelectionRules.referenceTables,
      Seq(SelectionRule("%", "%", "include")), new MemoryEventSink)
    assert(cdc.status == "starting")
    val q = cdc.startCdc(cdcDir.toString, ckpt.toString)
    try {
      assert(cdc.waitForStatus("running"), s"never running: ${cdc.statusHistory}")
    } finally q.stop()
    assert(cdc.waitForStatus("stopped"), s"never stopped: ${cdc.statusHistory}")
    assert(cdc.statusHistory == Seq("starting", "running", "stopped"))
    // bounded retry gives up on a status that never arrives
    assert(!cdc.waitForStatus("running", retries = 2, backoffMs = 1L))
  }

  test("envelope JSON retains nulls and carries the partition key") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = Seq((1L, null.asInstanceOf[String], "")).toDF("Id", "Name", "Note")
    val env = Envelope.forData(df, "hr", "employee", lit("load"),
      lit("2024-01-01T00:00:00Z"), lit(null).cast("long")).collect().head
    assert(env.getString(0) == "hr.employee")
    val json = env.getString(2)
    assert(json.contains(""""Name":null"""))
    assert(json.contains(""""Note":"""""))
    assert(json.contains(""""record-type":"data""""))
    assert(json.contains(""""transaction-id":null"""))
    assert(json.contains(""""partition-key-type":"schema-table""""))
  }
}
