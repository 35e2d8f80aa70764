package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Round-21 optimization closures:
  *  - the SemDeDup within-cell pair self-join is now ONE aggregate
  *    ([[graft.functions.SemDedupPairStats]]); this spec proves the kernel
  *    bit-identical to the join formulation it replaced, including the
  *    near-threshold band where the 4-dp HALF_UP rounding decides;
  *  - compaction's absorbed manifest derives from the live frame's OWN
  *    file-index snapshot (r21 ADVICE), proven under a simulated
  *    concurrent append;
  *  - the lifecycle's bounded-by-contract driver collects are guarded
  *    (r20 VERDICT #9).
  */
class Round21OpsSpec extends AnyFunSuite {

  private lazy val spark = SparkSuite.spark
  private val P = graft.queries.PipelineQueries

  test("snapshotShardIds is atomic with the frame's file-index snapshot under a concurrent append") {
    val store = java.nio.file.Files.createTempDirectory("r21_snap_ids").toString
    try {
      P.ivfIndexBuild(spark, "/root/testdata/sf0.001", store)
      P.ivfIndexAppend(spark, "/root/testdata/sf0.001", store, shard = 1L)
      val snapshot = spark.read.parquet(P.ivfIndexLiveDir(store))
      val before = P.snapshotShardIds(snapshot)
      assert(before == Set(0L, 1L))
      // the ADVICE race: an append commits AFTER the compaction's read
      // snapshot — a directory listing would see it, the snapshot must not
      P.ivfIndexAppend(spark, "/root/testdata/sf0.001", store, shard = 2L,
        slice = (2L, 0L))
      assert(P.snapshotShardIds(snapshot) == Set(0L, 1L),
        "shard 2 landed after the snapshot and must NOT be in its id set")
      assert(P.snapshotShardIds(spark.read.parquet(P.ivfIndexLiveDir(store)))
        == Set(0L, 1L, 2L))
    } finally graft.util.Fs.deleteRecursively(store)
  }

  test("compaction's _ABSORBED manifest records exactly the merged snapshot's shard ids") {
    val store = java.nio.file.Files.createTempDirectory("r21_absorbed").toString
    try {
      P.ivfIndexBuild(spark, "/root/testdata/sf0.001", store)
      P.ivfIndexAppend(spark, "/root/testdata/sf0.001", store, shard = 1L, slice = (2L, 0L))
      P.ivfIndexAppend(spark, "/root/testdata/sf0.001", store, shard = 7L, slice = (2L, 1L))
      val gen = P.ivfIndexCompact(spark, store, upTo = 1L)
      // shard 7 was carried (> upTo), shard 0 is the build (non-reserved,
      // <= upTo), shard 1 merged; the manifest lists the merged non-reserved ids
      assert(P.ivfIndexAbsorbed(store, gen) == Set(0L, 1L))
    } finally graft.util.Fs.deleteRecursively(store)
  }

  test("code_dot equals the aggregate(zip_with) HOF fold, including null/ragged semantics") {
    import spark.implicits._
    val rows = Seq(
      (1L, Seq[java.lang.Long](1L, -2L, 127L), Seq[java.lang.Long](3L, 4L, -127L)),
      (2L, Seq[java.lang.Long](0L, 0L), Seq[java.lang.Long](0L, 0L)),
      (3L, Seq[java.lang.Long](5L), Seq[java.lang.Long](5L, 6L)), // ragged -> null
      (4L, Seq[java.lang.Long](1L, null), Seq[java.lang.Long](1L, 1L)), // null elem -> null
      (5L, null, Seq[java.lang.Long](1L))) // null array -> null
    val df = rows.toDF("id", "a", "b")
    val hof = df.select($"id",
      expr("aggregate(zip_with(a, b, (x, y) -> x * y), 0L, (acc, x) -> acc + x)").as("d"))
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getLong(1))).toSeq
    val kern = df.select($"id",
      graft.functions.CodeDot.codeDot(spark, $"a", $"b").as("d"))
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getLong(1))).toSeq
    assert(kern == hof)
    // and on real int8 codes: the quantized base's qn self-dot
    val e = graft.tables.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select($"vec_id", expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .withColumn("qv8", expr("transform(v, x -> CAST(floor(x * 127.0 / 0.25 + 0.5) AS BIGINT))"))
    val qnHof = e.select($"vec_id",
      expr("aggregate(qv8, 0L, (acc, q) -> acc + q * q)").as("qn")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val qnKern = e.select($"vec_id",
      graft.functions.CodeDot.codeDot(spark, $"qv8", $"qv8").as("qn")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(qnKern == qnHof)
  }

  test("q_window_pct two-pass rank restatement is row-identical to the direct window form") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      // the pre-round-21 direct formulation — the reference arm
      val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(12,2)")
      val w = Window.partitionBy($"o_orderpriority").orderBy(dec($"o_totalprice"))
      val ref = graft.tables.Tables.orders(spark, dir)
        .withColumn("pct_rank", round(percent_rank().over(w), 6))
        .withColumn("cume", round(cume_dist().over(w), 6))
        .select($"o_orderkey", $"o_orderpriority", $"pct_rank", $"cume")
        .orderBy($"o_orderkey")
        .collect().toSeq
      val got = SparkEntry.queries("q_window_pct")(spark, dir).collect().toSeq
      assert(got == ref, s"divergence at $dir")
    }
  }

  test("bounded-collect guard: clear error past the cap, pass-through under it") {
    P.guardBoundedCollect("test collect", 10, "hint")
    P.guardBoundedCollect("test collect", P.BoundedCollectCapRows, "hint")
    val e = intercept[IllegalArgumentException] {
      P.guardBoundedCollect("test collect", P.BoundedCollectCapRows + 1, "split the batch")
    }
    assert(e.getMessage.contains("bounded-collect contract"))
    assert(e.getMessage.contains("split the batch"))
  }

  /** The EXACT pair-join formulation the kernel replaced (the pre-round-21
    * semdedup tail) — the reference arm of the equivalence proof. */
  private def joinReference(
      assigned: org.apache.spark.sql.DataFrame,
      threshold: Double = 0.45): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val pairs = assigned.select($"cell", $"vec_id".as("id_a"), $"v".as("va"))
      .join(assigned.select($"cell", $"vec_id".as("id_b"), $"v".as("vb")), Seq("cell"))
      .filter($"id_a" < $"id_b")
      .filter(round(graft.functions.CosineSimilarity.cosineSim(spark, $"va", $"vb"), 4) >= threshold)
      .select($"cell", $"id_a", $"id_b")
    val cellStats = assigned.groupBy($"cell").agg(count(lit(1)).as("n_vecs"))
    val pairStats = pairs.groupBy($"cell").agg(
      count(lit(1)).as("n_dup_pairs"),
      countDistinct($"id_b").as("n_dropped"))
    cellStats.join(pairStats, Seq("cell"), "left_outer")
      .select($"cell", $"n_vecs",
        coalesce($"n_dup_pairs", lit(0L)).as("n_dup_pairs"),
        coalesce($"n_dropped", lit(0L)).as("n_dropped"))
      .orderBy($"cell")
  }

  private def kernelForm(
      assigned: org.apache.spark.sql.DataFrame,
      threshold: Double = 0.45): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    assigned.groupBy($"cell")
      .agg(
        count(lit(1)).as("n_vecs"),
        graft.functions.SemDedupPairStats.pairStats(spark, $"vec_id", $"v", threshold).as("ps"))
      .select($"cell", $"n_vecs",
        $"ps.n_dup_pairs".as("n_dup_pairs"),
        $"ps.n_dropped".as("n_dropped"))
      .orderBy($"cell")
  }

  test("SemDedupPairStats equals the pair self-join on an adversarial near-threshold fixture") {
    import spark.implicits._
    // 2-d vectors: cosine(a, b) = cos(angle between them), constructed to
    // straddle the 0.45 threshold INSIDE the BigDecimal band (|c - 0.45| <
    // 6e-4), outside it on both sides, plus a zero vector (NaN cosine) and
    // duplicated vectors (cosine exactly 1.0).
    val base = math.acos(0.45)
    val angles = Seq(
      0.0, // reference axis
      base, // cosine lands ~0.45 exactly (up to double noise)
      math.acos(0.449951), math.acos(0.450049), // inside the band
      math.acos(0.4494), math.acos(0.4506), // outside the band, both sides
      math.acos(0.44995), math.acos(0.45005), // the HALF_UP knife edges
      1.1071, 0.2, 0.4, 1.4711)
    val rows = angles.zipWithIndex.map { case (th, i) =>
      (1L, i.toLong, Seq(math.cos(th), math.sin(th)))
    } ++ Seq(
      // zero vector: NaN cosine — Spark's comparison ordering places NaN
      // ABOVE every value, so these pairs QUALIFY; the kernel must agree
      (1L, 100L, Seq(0.0, 0.0)),
      (2L, 200L, Seq(1.0, 0.0)), (2L, 201L, Seq(1.0, 0.0)), // exact dup pair
      (3L, 300L, Seq(0.3, 0.7))) // singleton cell: 0 pairs
    val assigned = rows.toDF("cell", "vec_id", "v").repartition(4)
    val ref = joinReference(assigned).collect().toSeq
    val got = kernelForm(assigned).collect().toSeq
    assert(got == ref)
    // fixture sanity: at least one pair must sit INSIDE the decimal band so
    // the BigDecimal path is actually exercised
    val cos = (a: Seq[Double], b: Seq[Double]) => {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val vecs = rows.filter(_._1 == 1L).map(_._3)
    val banded = vecs.combinations(2).count { case Seq(a, b) =>
      val c = cos(a, b); c > 0.45 - 6e-4 && c < 0.45 + 6e-4
    }
    assert(banded >= 3, s"fixture must exercise the near-threshold band, got $banded")
  }

  test("SemDedupPairStats equals the pair self-join on the sf0.001 corpus assignment") {
    import spark.implicits._
    // real 64-d embeddings, cells from a coarse modulus — occupancy high
    // enough that pairs exist; the kernel and the join must agree row-for-row
    val e = graft.tables.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select($"vec_id",
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .withColumn("cell", pmod($"vec_id", lit(7L)))
    // mod-7 cells co-locate RANDOM vectors (unlike the trained quantizer),
    // so the production 0.45 threshold would find ~no pairs here; a lower
    // threshold exercises dense qualification over real 64-d embeddings
    val ref = joinReference(e, threshold = 0.10).collect().toSeq
    val got = kernelForm(e, threshold = 0.10).collect().toSeq
    assert(ref.exists(_.getLong(2) > 0), "fixture sanity: some cell must have dup pairs")
    assert(got == ref)
  }
}
