package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-20 closures: cell-aligned IVF tombstones (broadcast and forced
  * shuffle arms, pruned reads, out-of-order takedowns), and the committed
  * per-key bench history (`bench_history.json`) that gates `graft.Bench`'s
  * uncapped auto-remeasure of any key >2× its last committed med (the gate
  * itself is in [[BenchSpec]]).
  */
class Round20OpsSpec extends AnyFunSuite {

  private lazy val spark = SparkSuite.spark
  private val P = graft.queries.PipelineQueries
  private val sfDir = "/root/testdata/sf0.001"
  private def rm(p: String): Unit = graft.util.Fs.deleteRecursively(p)
  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
  private def doomedIds() = {
    import spark.implicits._
    spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select($"vec_id").filter($"vec_id" % 10 === 3)
  }
  private def serve(store: String, cap: Long = P.TombstoneBroadcastCapBytes) = {
    import spark.implicits._
    P.ivfIndexServeOnly(spark, sfDir, store, tombBroadcastCap = cap)
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
  }

  test("cell-aligned tombstones: broadcast arm, forced shuffle arm, and the legacy mask serve identically") {
    val a = tmp("ivf_cellmask_a"); val b = tmp("ivf_cellmask_b")
    try {
      P.ivfIndexBuild(spark, sfDir, a)
      P.ivfIndexAppend(spark, sfDir, a)
      P.ivfIndexBuild(spark, sfDir, b)
      P.ivfIndexAppend(spark, sfDir, b)
      val unmasked = serve(a)
      P.ivfIndexDeleteCellAligned(spark, a, delId = 1L, doomedIds())
      P.ivfIndexDelete(spark, b, delId = 1L, doomedIds()) // legacy layout
      val bc = serve(a)
      val sh = serve(a, cap = 0L) // pruned bytes always exceed 0: forced past-broadcast
      assert(bc != unmasked, "the mask must bite (otherwise this certifies nothing)")
      assert(sh == bc, "shuffle-hash arm must be row-identical to the broadcast arm")
      assert(bc == serve(b), "cell-aligned mask must equal the legacy global mask")
      assert(bc.forall { case (_, _, cId, _, _) => cId % 10 != 3 })
      // redelivery of the same batch converges (dynamic (cell,del) overwrite)
      P.ivfIndexDeleteCellAligned(spark, a, delId = 1L, doomedIds())
      assert(serve(a) == bc, "redelivered cell-aligned batch must be a no-op")
      // layout: one partition dir per touched cell, nothing global
      val parts = new java.io.File(s"$a/tombstones_cell").listFiles()
        .filter(_.isDirectory).map(_.getName).toSet
      assert(parts.nonEmpty && parts.forall(_.startsWith("cell=")))
    } finally { rm(a); rm(b) }
  }

  test("pruned tombstone read returns only the probed cells' ids (+ residual) and strictly fewer bytes") {
    import spark.implicits._
    val a = tmp("ivf_cellmask_prune")
    try {
      P.ivfIndexBuild(spark, sfDir, a)
      P.ivfIndexAppend(spark, sfDir, a)
      P.ivfIndexDeleteCellAligned(spark, a, delId = 1L, doomedIds())
      val (full, fullBytes) = P.ivfIndexTombstonesPruned(spark, a, None).get
      val cells = spark.read.parquet(s"$a/tombstones_cell")
        .select($"cell".cast("long")).distinct().as[Long].collect().toSeq
        .filter(_ != P.UnassignedTombCell).sorted
      assert(cells.size > 1, "fixture must spread tombstones over >1 cell")
      val probe = cells.take(1)
      val (pruned, prunedBytes) = P.ivfIndexTombstonesPruned(spark, a, Some(probe)).get
      assert(prunedBytes > 0 && prunedBytes < fullBytes,
        s"pruned read must cost strictly fewer bytes ($prunedBytes vs $fullBytes)")
      // the pruned set is exactly the probed cell's ids (no residual here:
      // every doomed id was in the index at delete time)
      val expect = spark.read.parquet(s"$a/tombstones_cell")
        .where($"cell".isin(probe.map(Long.box): _*))
        .select($"vec_id").as[Long].collect().toSet
      assert(pruned.as[Long].collect().toSet == expect)
      assert(full.as[Long].collect().toSet ==
        doomedIds().as[Long].collect().toSet)
    } finally rm(a)
  }

  test("out-of-order takedown: a delete arriving before the append masks the rows the append introduces") {
    import spark.implicits._
    val a = tmp("ivf_cellmask_ooo")
    try {
      P.ivfIndexBuild(spark, sfDir, a) // even half only
      val early = doomedIds().filter($"vec_id" % 2 =!= 0) // odd: not indexed yet
      P.ivfIndexDeleteCellAligned(spark, a, delId = 1L, early)
      // the not-yet-indexed ids file under the reserved residual partition
      val resDir = new java.io.File(
        s"$a/tombstones_cell/cell=${P.UnassignedTombCell}")
      assert(resDir.isDirectory, "out-of-order ids must land in the residual partition")
      P.ivfIndexAppend(spark, sfDir, a) // NOW the doomed odd ids land
      val served = serve(a)
      val earlySet = early.as[Long].collect().toSet
      assert(served.nonEmpty && served.forall { case (_, _, cId, _, _) => !earlySet(cId) },
        "rows introduced after their takedown must stay masked via the residual")
      // and the forced past-broadcast arm agrees through the residual too
      assert(serve(a, cap = 0L) == served)
    } finally rm(a)
  }

  test("past-broadcast mask plans as a shuffle-hash anti-join; broadcast arm stays broadcast") {
    val a = tmp("ivf_cellmask_plan")
    try {
      P.ivfIndexBuild(spark, sfDir, a)
      P.ivfIndexDeleteCellAligned(spark, a, delId = 1L, doomedIds())
      def planOf(cap: Long): String = {
        var plan = ""
        P.ivfIndexServeOnly(spark, sfDir, a,
          inspect = df => plan = df.queryExecution.executedPlan.toString,
          tombBroadcastCap = cap)
        plan
      }
      val sh = planOf(0L)
      assert(sh.contains("ShuffledHashJoin") && sh.contains("LeftAnti"),
        s"forced arm must plan a shuffle-hash LeftAnti, got:\n$sh")
      val bc = planOf(P.TombstoneBroadcastCapBytes)
      assert(bc.contains("BroadcastHashJoin") && bc.contains("LeftAnti"),
        s"under-cap arm must keep the broadcast anti-join, got:\n$bc")
    } finally rm(a)
  }

  test("the committed bench_history.json parses flat and covers the full registry") {
    val p = java.nio.file.Paths.get("bench_history.json")
    assert(java.nio.file.Files.isRegularFile(p),
      "bench_history.json must be a committed repo artifact (round-19 VERDICT #1)")
    val re = """"(q_[A-Za-z0-9_]+)":([0-9]+\.[0-9]+)""".r
    val hist = re.findAllMatchIn(java.nio.file.Files.readString(p))
      .map(m => m.group(1) -> m.group(2).toDouble).toMap
    // every registry key has a committed baseline med, and nothing stale:
    // the file tracks the registry exactly (same discipline as SURVEY §2B)
    val registry = SparkEntry.queries.keySet
    assert((registry -- hist.keySet).isEmpty,
      s"registry keys missing a history med: ${(registry -- hist.keySet).toSeq.sorted}")
    assert((hist.keySet -- registry).isEmpty,
      s"stale history keys not in the registry: ${(hist.keySet -- registry).toSeq.sorted}")
    assert(hist.values.forall(v => v > 0 && v < 600), "meds are sane seconds")
  }
}
