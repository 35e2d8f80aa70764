package graft.etl

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import graft.schema.{SelectionRule, SelectionRules}

/** Runnable replication scenario — the engine-native analog of the
  * reference's `make run` / run.py driver: full-load task, then CDC task over
  * the golden change files, printing consumed events and the statistics
  * report. Usage: `sbt "runMain graft.etl.ScenarioMain"`.
  */
object ScenarioMain {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")}]")
      .appName("graft-scenario")
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // injected-function surface (spark.sql.extensions=graft.GraftExtensions)
    val fx = spark.sql(
      "SELECT cosine_sim(array(3.0D, 4.0D), array(3.0D, 4.0D)) AS c, " +
        "hyperplane_sig(array(1.0D)) AS h").head()
    println(s"[extensions] cosine_sim=${fx.getDouble(0)} (expect 1.0), hyperplane_sig ok")

    val root = Files.createTempDirectory("graft-scenario-src")
    ReferenceFixtures.fullLoadCsvs.foreach { case (table, body) =>
      val dir = root.resolve(s"hr/$table")
      Files.createDirectories(dir)
      Files.writeString(dir.resolve(s"LOAD_$table.csv"), body)
    }

    // --- E1: full load ------------------------------------------------------
    val flSink = new MemoryEventSink
    val fl = new TaskRunner(spark, SelectionRules.referenceTables,
      Seq(SelectionRule("%", "%", "include")), flSink)
    fl.runFullLoad(root.toString)
    println(s"[full-load] events=${flSink.size} (expect 16)")
    flSink.iterator(limit = 50).flatten.foreach(e =>
      println(s"  seq=${e.seqNo} pk=${e.partitionKey} ${e.envelope.take(120)}"))
    println("[full-load] table statistics:")
    fl.tableStatistics().show(truncate = false)

    // Every runner applies through the distributed parquet-snapshot merge
    // (DurableCdcState.mergeBatch → CdcApply.run, written once per batch:
    // the outcomes land in state._tmp partitioned by kind while the batch's
    // events are emitted, then, once the emission has returned, the
    // exception files move into exceptions/ and kind=state is swapped in as
    // state/). The CDC-applying runners here get a named state dir under
    // one root; a runner given none keeps its state in a temp dir of its
    // own. SPARK_GRAFT_STATE_ROOT pins the root (restart-resumable, an
    // interrupted swap is completed on open); default is a fresh temp root
    // per run.
    val stateRoot = sys.env.get("SPARK_GRAFT_STATE_ROOT")
      .map(java.nio.file.Paths.get(_))
      .getOrElse(Files.createTempDirectory("graft-scenario-state"))
    Files.createDirectories(stateRoot)
    def stateDirFor(name: String): Option[String] = {
      val d = stateRoot.resolve(name)
      Files.createDirectories(d)
      Some(d.toString)
    }

    // --- E2: CDC ------------------------------------------------------------
    val cdcDir = Files.createTempDirectory("graft-scenario-cdc")
    val ckpt = Files.createTempDirectory("graft-scenario-ckpt")
    val cdcSink = new MemoryEventSink
    val cdc = new TaskRunner(spark, SelectionRules.referenceTables,
      Seq(SelectionRule("%", "%", "include")), cdcSink, stateDirFor("cdc"))
    val q = cdc.startCdc(cdcDir.toString, ckpt.toString)
    Files.writeString(cdcDir.resolve("cdc0000000001.csv"), ReferenceFixtures.cdcFile1)
    Thread.sleep(100)
    Files.writeString(cdcDir.resolve("cdc0000000002.csv"), ReferenceFixtures.cdcFile2)
    q.processAllAvailable()
    q.stop()
    println(s"[cdc] events=${cdcSink.size} (expect 15)")
    cdcSink.all.foreach(e =>
      println(s"  seq=${e.seqNo} pk=${e.partitionKey} ${e.envelope.take(140)}"))
    println(s"[cdc] final state: ${cdc.currentState.map(r => s"${r.schema}.${r.table}#${r.pk}=${r.values.mkString("|")}")}")
    println(s"[cdc] apply exceptions: ${cdc.exceptions.map(e => s"${e.table}#${e.pk}: ${e.error}")}")
    println("[cdc] table statistics:")
    cdc.tableStatistics().show(truncate = false)
    println("[cdc] awsdms_apply_exceptions table:")
    cdc.applyExceptionsTable().show(truncate = false)

    // --- full-load-and-cdc: loaded rows seed the apply state ---------------
    val flc = new TaskRunner(spark, SelectionRules.referenceTables,
      Seq(SelectionRule("%", "%", "include")), new MemoryEventSink,
      stateDirFor("full-load-and-cdc"))
    flc.runFullLoadAndSeedCdc(root.toString)
    flc.processCdcBatchRecords(
      graft.cdc.CdcParser.parseLines(ReferenceFixtures.cdcFile1.linesIterator.toSeq, fileSeq = 1))
    println(s"[full-load-and-cdc] state after seed+cdc1: ${flc.currentState.size} rows " +
      s"(expect 9: 10 loaded, 101 deleted), exceptions=${flc.exceptions.size} (expect 1 dup-insert)")

    // --- durable file sink: JSON-lines shards, restart-readable ------------
    val sinkDir = Files.createTempDirectory("graft-scenario-sink").toString
    val fsink = new FileEventSink(sinkDir, shards = 2)
    new TaskRunner(spark, SelectionRules.referenceTables,
      Seq(SelectionRule("%", "%", "include")), fsink).runFullLoad(root.toString)
    println(s"[file-sink] wrote=${fsink.size}, fresh-reader sees=" +
      s"${new FileEventSink(sinkDir, shards = 2).size} (expect 16/16)")

    // --- sharded sink: the N-shard scale-out of the 1-shard stream ---------
    val sharded = new ShardedEventSink(2)
    new TaskRunner(spark, SelectionRules.referenceTables,
      Seq(SelectionRule("%", "%", "include")), sharded).runFullLoad(root.toString)
    println(s"[sharded] events=${sharded.all.size} (expect 16) across ${sharded.shards} shards: " +
      (0 until sharded.shards).map(i => s"shard$i=${sharded.shard(i).size}").mkString(", "))

    // --- durable CDC: restart recovery on the same state dir ---------------
    val stateDir = stateDirFor("restart-demo").get
    val d1 = new TaskRunner(spark, SelectionRules.referenceTables,
      Seq(SelectionRule("%", "%", "include")), new MemoryEventSink, Some(stateDir))
    d1.processCdcBatchRecords(
      graft.cdc.CdcParser.parseLines(ReferenceFixtures.cdcFile1.linesIterator.toSeq, fileSeq = 1))
    // simulated crash: a brand-new runner resumes from the snapshot
    val d2 = new TaskRunner(spark, SelectionRules.referenceTables,
      Seq(SelectionRule("%", "%", "include")), new MemoryEventSink, Some(stateDir))
    d2.processCdcBatchRecords(
      graft.cdc.CdcParser.parseLines(ReferenceFixtures.cdcFile2.linesIterator.toSeq, fileSeq = 2))
    println(s"[durable-cdc] state after restart+batch2: " +
      d2.currentState.map(r => s"${r.schema}.${r.table}#${r.pk}").mkString(", ") +
      s" (expect hr.department#204); exceptions=${d2.exceptions.size} (expect 1)")

    // --- consumer replay (O11-O14): threshold filter + early stop + parse --
    val consumed = EventConsumer.consume(cdcSink, expected = 15)
    println(s"[consumer] consumed=${consumed.size} (expect 15)")
    EventConsumer.project(spark, consumed)
      .groupBy("record_type", "operation").count().orderBy("record_type", "operation")
      .show(truncate = false)

    // --- streaming surface: tail events parquet as a file stream -----------
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val eventsBatch = graft.tables.Tables.events(spark, sfDir)
    val streamDir = Files.createTempDirectory("graft-events-stream")
    eventsBatch.limit(2000).coalesce(1).write.mode("overwrite").parquet(streamDir.toString)
    val stream = graft.streaming.StreamOps.readEventStream(spark, streamDir.toString)
    val sq = graft.streaming.StreamOps.runToMemory(
      graft.streaming.StreamOps.tumblingCounts(stream), "scenario_tumbling")
    sq.awaitTermination()
    val n = spark.table("scenario_tumbling").count()
    println(s"[streaming] tumbling windows emitted (closed by watermark): $n")
    val dq = graft.streaming.StreamOps.runToMemory(
      graft.streaming.StreamOps.dedupStream(
        graft.streaming.StreamOps.readEventStream(spark, streamDir.toString)
          .withColumn("uid_bucket",
            org.apache.spark.sql.functions.col("user_id") % 50), Seq("uid_bucket")),
      "scenario_dedup")
    dq.awaitTermination()
    println(s"[streaming] dedup kept ${spark.table("scenario_dedup").count()} of 2000 " +
      "(one per key within watermark)")

    // --- multimodal plumbing demo ------------------------------------------
    val docs = graft.tables.Tables.documents(spark, sfDir)
    val assets = graft.multimodal.Multimodal.assetsFromDocumentsMp4(spark, docs.limit(100))
    val frames = graft.multimodal.Multimodal.decodeToFrames(
      graft.multimodal.Multimodal.repartitionForDecode(assets, 4))
    val feats = graft.multimodal.Multimodal.extractFeatures(assets)
    println(s"[multimodal] assets=${assets.count()} frames=${frames.count()} " +
      s"features=${feats.count()} dim=${feats.head().feature.length}")

    spark.stop()
  }
}
