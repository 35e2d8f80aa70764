package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}
import org.scalatest.funsuite.AnyFunSuite
import graft.etl._
import graft.schema.{SelectionRule, SelectionRules}

class FileEventSinkSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark

  test("append/read round-trip including escapes; restart resumes seq") {
    val dir = Files.createTempDirectory("graft-filesink").toString
    val sink = new FileEventSink(dir, shards = 2)
    val tricky = """{"data":{"s":"a\"b\\c","t":"x\ty"},"n":1}"""
    sink.append(Seq(("hr.employee", tricky), ("hr.department", "{}")))
    val got = sink.all
    assert(got.size == 2)
    assert(got.map(_.seqNo) == Seq(0L, 1L))
    assert(got.find(_.partitionKey == "hr.employee").get.envelope == tricky)

    // restart: new instance continues numbering and sees prior events
    val sink2 = new FileEventSink(dir, shards = 2)
    sink2.append(Seq(("hr.project", "{\"k\":2}")))
    val all = sink2.all
    assert(all.size == 3 && all.map(_.seqNo) == Seq(0L, 1L, 2L))
  }

  test("a torn write is cut before the next append: neither it nor the next event is lost") {
    val dir = Files.createTempDirectory("graft-filesink-torn").toString
    new FileEventSink(dir).append(Seq(("hr.employee", "{\"k\":0}"), ("hr.employee", "{\"k\":1}")))
    val shard = Paths.get(dir, "shard-00000.jsonl")
    val line = Files.readAllLines(shard).get(0).getBytes(StandardCharsets.UTF_8)
    // a crash mid-write: half of a line, no newline
    Files.write(shard, line.take(line.length / 2), StandardOpenOption.APPEND)
    val torn = Files.size(shard)
    val reader = new FileEventSink(dir)
    assert(reader.all.map(_.seqNo) == Seq(0L, 1L), "the unterminated tail is skipped")
    assert(Files.size(shard) == torn, "opening and reading modify nothing")

    val sink = new FileEventSink(dir)
    sink.append(Seq(("hr.employee", "{\"k\":2}")))
    val all = sink.all
    assert(all.map(_.seqNo) == Seq(0L, 1L, 2L))
    assert(all.map(_.envelope) == Seq("{\"k\":0}", "{\"k\":1}", "{\"k\":2}"))
  }

  test("resume reads only the tail; a corrupt complete line fails the read, naming it") {
    val dir = Files.createTempDirectory("graft-filesink-corrupt").toString
    new FileEventSink(dir).append((0 until 3).map(i => ("hr.employee", s"{\"k\":$i}")))
    val shard = Paths.get(dir, "shard-00000.jsonl")
    val bytes = Files.readAllBytes(shard)
    bytes(0) = 'X'.toByte // corrupt line 1, keep its newline
    Files.write(shard, bytes)

    val sink = new FileEventSink(dir)
    sink.append(Seq(("hr.employee", "{\"k\":3}")))
    val lines = Files.readAllLines(shard)
    assert(lines.size == 4 && lines.get(3).startsWith("{\"seq\":3,"), lines)
    val e = intercept[IllegalStateException](sink.all)
    assert(e.getMessage.contains(shard.toString) && e.getMessage.contains("line 1 "), e.getMessage)
  }

  test("golden full load through the durable file sink") {
    val root = Files.createTempDirectory("graft-fs-fl")
    ReferenceFixtures.fullLoadCsvs.foreach { case (table, body) =>
      val d = root.resolve(s"hr/$table")
      Files.createDirectories(d)
      Files.writeString(d.resolve("LOAD1.csv"), body)
    }
    val dir = Files.createTempDirectory("graft-fs-sink").toString
    val sink = new FileEventSink(dir, shards = 1)
    new TaskRunner(spark, SelectionRules.referenceTables,
      Seq(SelectionRule("%", "%", "include")), sink).runFullLoad(root.toString)
    assert(sink.all.size == 16)
    // a fresh reader sees the same 16 committed events (durable)
    assert(new FileEventSink(dir, shards = 1).all.size == 16)
    // consumer operators work unchanged over the durable record set
    val projected = EventConsumer.project(spark, sink.all)
    assert(projected.where("operation = 'load'").count() == 10)
  }
}
