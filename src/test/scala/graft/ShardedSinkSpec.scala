package graft

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import graft.etl._
import graft.schema.{SelectionRule, SelectionRules}

/** `FileEventSink(dir, shards)` with more than one shard: a key's events
  * stay in append order and live in exactly one `shard-*.jsonl` file.
  */
class ShardedSinkSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark

  private def shardFiles(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.filter(_.getFileName.toString.startsWith("shard-")).toVector
    finally s.close()
  }

  test("per-partition-key order survives sharding; nothing is lost") {
    val dir = Files.createTempDirectory("graft-shard-order")
    val sink = new FileEventSink(dir.toString, shards = 3)
    val keys = Seq("hr.employee", "hr.department", "hr.project", "dms.x")
    val sent = (0 until 100).map(i => (keys(i % keys.size), s"env-$i"))
    sent.grouped(7).foreach(g => sink.append(g))

    val all = sink.all
    assert(all.size == 100)
    // per key: envelope payloads appear in exactly the append order
    keys.foreach { k =>
      val gotten = all.filter(_.partitionKey == k).sortBy(_.seqNo).map(_.envelope)
      val expected = sent.filter(_._1 == k).map(_._2)
      assert(gotten == expected, s"order broken for $k")
    }
    // a key's lines live in exactly one shard file
    val files = shardFiles(dir)
    keys.foreach { k =>
      val shardsWithKey = files.count(f =>
        Files.readAllLines(f).asScala.exists(_.contains(s""""partitionKey":"$k"""")))
      assert(shardsWithKey == 1, s"$k is in $shardsWithKey shard files")
    }
  }

  test("full-load through a sharded sink keeps the 16-event golden content") {
    val root = Files.createTempDirectory("graft-shard-fl")
    ReferenceFixtures.fullLoadCsvs.foreach { case (table, body) =>
      val dir = root.resolve(s"hr/$table")
      Files.createDirectories(dir)
      Files.writeString(dir.resolve("LOAD1.csv"), body)
    }
    val sink = new FileEventSink(Files.createTempDirectory("graft-shard-fl-sink").toString, shards = 2)
    new TaskRunner(spark, SelectionRules.referenceTables,
      Seq(SelectionRule("%", "%", "include")), sink).runFullLoad(root.toString)
    assert(sink.all.size == 16)
    // each table's 2 controls + loads are in order on its shard
    val emp = sink.all.filter(_.partitionKey == "hr.employee").sortBy(_.seqNo)
    assert(emp.size == 6)
    assert(emp.head.envelope.contains("drop-table"))
    assert(emp(1).envelope.contains("create-table"))
  }
}
