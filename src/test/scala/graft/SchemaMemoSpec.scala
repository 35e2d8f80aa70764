package graft

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.StreamOps
import graft.tables.Tables

/** The parquet schema memo shared by `Tables.table` and
  * `StreamOps.readEventStream`: a warm read infers nothing, and a rewritten
  * file or a flipped schema conf infers again. */
class SchemaMemoSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark

  /** Spark jobs submitted while `body` runs. */
  private def jobsIn(body: => Unit): Int = {
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    org.apache.spark.ListenerBusAccess.drain(sc)
    sc.addSparkListener(listener)
    try {
      body
      org.apache.spark.ListenerBusAccess.drain(sc)
    } finally sc.removeSparkListener(listener)
    jobs.get
  }

  /** `df` as the single parquet FILE `<dir>/<name>.parquet`, replacing it. */
  private def writeFile(df: DataFrame, dir: Path, name: String): Unit = {
    val stage = Files.createTempDirectory("graft-memo-stage")
    df.coalesce(1).write.mode("overwrite").parquet(stage.resolve("out").toString)
    val listing = Files.list(stage.resolve("out"))
    val part =
      try listing.filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get()
      finally listing.close()
    Files.move(part, dir.resolve(s"$name.parquet"), StandardCopyOption.REPLACE_EXISTING)
  }

  private def withConf[T](k: String, v: String)(body: => T): T = {
    val prev = spark.conf.getAll.get(k)
    spark.conf.set(k, v)
    try body finally prev match {
      case Some(p) => spark.conf.set(k, p)
      case None => spark.conf.unset(k)
    }
  }

  test("a warm Tables.table read launches no Spark job") {
    val dir = Files.createTempDirectory("graft-memo-warm")
    writeFile(spark.range(10).toDF("id"), dir, "t")
    assert(jobsIn(Tables.table(spark, dir.toString, "t")) >= 1, "the first read infers the schema")
    var df: DataFrame = null
    assert(jobsIn { df = Tables.table(spark, dir.toString, "t") } == 0)
    assert(df.count() == 10)
  }

  test("a file rewritten with an extra column is re-inferred by batch and stream reads") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-memo-rewrite")
    writeFile(spark.range(5).toDF("id"), dir, "events")
    assert(Tables.table(spark, dir.toString, "events").columns.toSeq == Seq("id"))
    assert(StreamOps.readEventStream(spark, dir.toString).columns.toSeq == Seq("id"))
    writeFile(spark.range(5).select($"id", ($"id" * 2).as("extra")), dir, "events")
    assert(Tables.table(spark, dir.toString, "events").columns.toSeq == Seq("id", "extra"))
    assert(StreamOps.readEventStream(spark, dir.toString).columns.toSeq == Seq("id", "extra"))
  }

  test("a read after nanosAsLong flips gets the schema the flag implies") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val dir = Files.createTempDirectory("graft-memo-nanos")
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 ts (TIMESTAMP(NANOS,true)); }")
    val w = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(dir.resolve("ns.parquet").toString))
      .withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("ts", 1704067200000000001L))
    finally w.close()
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    def tsType() = Tables.table(spark, dir.toString, "ns").schema("ts").dataType
    withConf(key, "true")(assert(tsType() == LongType))
    // without the flag Spark refuses ns timestamps: a memo keyed on the
    // file alone would hand back the LongType schema instead
    withConf(key, "false")(intercept[Exception](tsType()))
    withConf(key, "true") {
      assert(tsType() == LongType)
      assert(Tables.table(spark, dir.toString, "ns").head().getLong(0) == 1704067200000000001L)
    }
  }
}
