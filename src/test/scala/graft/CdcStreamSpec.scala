package graft

import java.nio.file.Files
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.functions.{col, from_json}
import org.apache.spark.sql.types.{StringType, StructType}
import org.scalatest.funsuite.AnyFunSuite
import graft.cdc.CdcParser
import graft.etl._
import graft.schema.{SelectionRule, SelectionRules}

/** Streamed CDC input that the reference fixtures never carry: field values
  * that need JSON escaping or quoting, a task whose selection rules exclude a
  * table that the change files touch, and a file with blank lines replayed
  * beside its stream.
  */
class CdcStreamSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark

  /** Stream `files` (name → body) through a fresh runner; returns it once every file is applied. */
  private def stream(rules: Seq[SelectionRule], sink: EventSink, files: (String, String)*): TaskRunner = {
    val cdcDir = Files.createTempDirectory("graft-cdc-stream")
    val r = new TaskRunner(spark, SelectionRules.referenceTables, rules, sink)
    val q = r.startCdc(cdcDir.toString, Files.createTempDirectory("graft-ckpt-stream").toString)
    try {
      files.foreach { case (name, body) => Files.writeString(cdcDir.resolve(name), body) }
      q.processAllAvailable()
    } finally q.stop()
    r
  }

  test("CDC envelopes are valid JSON for leading zeros, tabs, quotes and backslashes") {
    val rows = Seq(
      Seq("007", "a\tb", "say \"hi\"", "C:\\tmp", "-01"),
      Seq("101", "0", "", "007", "a\tb"))
    val body = rows.map(v => ("INSERT" +: "employee" +: "hr" +: v).mkString(",")).mkString("\n")
    // the file sink escapes each envelope a second time on its way to disk
    val sink = new FileEventSink(Files.createTempDirectory("graft-cdc-escape-sink").toString)
    val r = stream(Seq(SelectionRule("%", "%", "include")), sink, "cdc0000000001.csv" -> body)

    val envelopes = sink.all.map(_.envelope)
    assert(envelopes.size == 6, "4 start controls + 2 inserts")
    val mapper = new ObjectMapper()
    envelopes.foreach(e => mapper.readTree(e)) // throws on invalid JSON
    assert(mapper.readTree(envelopes.last).get("data").get("LastName").isNumber, "0 stays a number")
    // a digit run is bare only without a leading zero (-0 is valid JSON, but
    // from_json reads it back as "0", so it is pinned here, not streamed)
    assert(Seq("0", "-0", "-01", "007").map(Envelope.jsonValue) == Seq("0", "-0", "\"-01\"", "\"007\""))

    import spark.implicits._
    val columns = Seq("Id", "LastName", "FirstName", "HireDate", "OfficeLocation")
    val schema = new StructType()
      .add("data", columns.foldLeft(new StructType())(_.add(_, StringType)))
      .add("metadata", new StructType().add("operation", StringType))
    val parsed = envelopes.toDF("e")
      .select(from_json(col("e"), schema).as("j"))
      .filter(col("j.metadata.operation") === "insert")
      .select(columns.map(c => col(s"j.data.$c")): _*)
      .collect().map(row => columns.indices.map(row.getString)).toSeq
    assert(parsed.sortBy(_.head) == rows)
    // the statistics report reads every event's operation
    val stats = r.tableStatistics().collect().map(row => (row.getString(1), row.getLong(3))).toMap
    assert(stats("employee") == 2L)
  }

  test("CDC honours the selection rules: an excluded table is neither emitted nor applied") {
    val sink = new MemoryEventSink
    val r = stream(
      Seq(SelectionRule("hr", "project", "exclude"), SelectionRule("%", "%", "include")), sink,
      "cdc0000000001.csv" -> ReferenceFixtures.cdcFile1,
      "cdc0000000002.csv" -> ReferenceFixtures.cdcFile2,
      // a surviving project row and a project apply exception, were it applied
      "cdc0000000003.csv" -> "INSERT,project,hr,304,Project4,Description4\nDELETE,project,hr,305,P,D")

    assert(!sink.all.exists(_.partitionKey == "hr.project"), sink.all.map(_.envelope))
    // the 15-event golden less the project create-table, insert and delete
    assert(sink.size == 12)
    assert(r.currentState.map(s => (s.schema, s.table, s.pk)) == Seq(("hr", "department", "204")))
    assert(r.exceptions.map(e => (e.table, e.pk)) == Seq(("department", "301")))
  }

  test("a replayed CDC file carries the same transaction-ids as the same file streamed") {
    val body = Seq(
      "INSERT,employee,hr,101,Smith,Bob,2014-06-04,New York",
      "",
      "UPDATE,employee,hr,101,Smith,Bob,2015-10-08,Los Angeles",
      " \t",
      "DELETE,employee,hr,101,Smith,Bob,2015-10-08,Los Angeles").mkString("\n")
    val rules = Seq(SelectionRule("%", "%", "include"))
    def transactionIds(sink: EventSink) =
      sink.all.flatMap(e => "\"transaction-id\":(\\d+)".r.findFirstMatchIn(e.envelope).map(_.group(1).toLong))

    val streamed = new MemoryEventSink
    stream(rules, streamed, "cdc0000000003.csv" -> body)
    val replayed = new MemoryEventSink
    new TaskRunner(spark, SelectionRules.referenceTables, rules, replayed)
      .processCdcBatchRecords(CdcParser.parseLines(body.linesIterator.toSeq, fileSeq = 3))

    assert(transactionIds(streamed) == Seq(3000001L, 3000002L, 3000003L))
    assert(transactionIds(replayed) == transactionIds(streamed))
  }
}
