package graft

import org.apache.spark.sql.functions.expr
import org.scalatest.funsuite.AnyFunSuite

/** Round-19 closures on the vector-index store lifecycle:
  *
  *  - same-watermark RE-compaction (round-18 ADVICE): a second
  *    `compact(upTo=N)` after new tombstones must physically drop them
  *    under an epoch-bumped generation, while a pure retry with no
  *    remaining work still converges as a no-op;
  *  - the append×compaction in-flight fence under REAL interleaving
  *    (round-18 VERDICT #4): a compaction pointer-flip injected between
  *    the append's pointer resolution and its write, proving the
  *    post-write fence re-lands the shard against the new generation;
  *  - the local-filesystem store-path guard (round-18 ADVICE).
  */
class Round19OpsSpec extends AnyFunSuite {
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

  private def serve(store: String): Seq[(Long, Long, Long, Long, Double)] = {
    import spark.implicits._
    P.ivfIndexServeOnly(spark, sfDir, store)
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
  }

  test("a second compact at the same watermark drops tombstones added after the first") {
    import spark.implicits._
    val a = tmp("ivf_recompact")
    try {
      P.ivfIndexBuild(spark, sfDir, a)
      P.ivfIndexAppend(spark, sfDir, a)
      val g1 = P.ivfIndexCompact(spark, a, upTo = 1L)
      assert(g1 == "index_c1" && P.ivfIndexLiveName(a) == g1)
      // takedown arrives AFTER the watermark-1 compaction already ran
      P.ivfIndexDelete(spark, a, delId = 1L, doomedIds())
      val masked = serve(a)
      assert(spark.read.parquet(P.ivfIndexLiveDir(a))
          .filter($"vec_id" % 10 === 3).count() > 0,
        "the doomed rows must still be physically present before the re-compact")
      // the round-18 bug: this call no-op'd on bare name equality and the
      // tombstones were never physically dropped
      val g2 = P.ivfIndexCompact(spark, a, upTo = 1L)
      assert(g2 == "index_c1e2" && P.ivfIndexLiveName(a) == g2,
        s"a new pass at the same watermark must run under an epoch-bumped name, got $g2")
      assert(spark.read.parquet(P.ivfIndexLiveDir(a))
          .filter($"vec_id" % 10 === 3).count() == 0L,
        "the same-watermark re-compaction must physically drop the new tombstones")
      assert(serve(a) == masked,
        "physical removal must not change served results (the mask already hid them)")
      // and a THIRD call with nothing left to do is a pure retry: no-op,
      // same generation, directory untouched
      val dirBefore = new java.io.File(s"$a/$g2").list().sorted.toSeq
      val g3 = P.ivfIndexCompact(spark, a, upTo = 1L)
      assert(g3 == g2, "a retry with no remaining work must converge as a no-op")
      assert(new java.io.File(s"$a/$g2").list().sorted.toSeq == dirBefore,
        "the no-op retry must not rewrite the live generation")
    } finally rm(a)
  }

  test("same-watermark recompact also merges a shard whose first delivery raced the earlier pass") {
    import spark.implicits._
    val a = tmp("ivf_recompact_raced"); val ref = tmp("ivf_recompact_ref")
    try {
      P.ivfIndexBuild(spark, sfDir, a)
      P.ivfIndexAppend(spark, sfDir, a, shard = 1L, slice = (2L, 0L))
      P.ivfIndexCompact(spark, a, upTo = 5L)
      // first delivery of shard 3 lands AFTER compact(upTo=5) — under its
      // own id (manifest says it was never absorbed)
      P.ivfIndexAppend(spark, sfDir, a, shard = 3L, slice = (2L, 1L))
      val g2 = P.ivfIndexCompact(spark, a, upTo = 5L)
      assert(g2 == "index_c5e2")
      val live = spark.read.parquet(P.ivfIndexLiveDir(a))
      assert(live.filter($"shard" =!= P.CompactedShard).count() == 0L,
        "after the re-compact every row at/below the watermark is merged")
      assert(P.ivfIndexAbsorbed(a, g2) == Set(0L, 1L, 3L),
        "the epoch generation's manifest must accumulate the newly merged shard")
      // a redelivery of the now-absorbed shard must no-op against the manifest
      val nBefore = live.count()
      P.ivfIndexAppend(spark, sfDir, a, shard = 3L, slice = (2L, 1L))
      assert(spark.read.parquet(P.ivfIndexLiveDir(a)).count() == nBefore,
        "redelivery of an absorbed shard after the epoch compact must no-op")
      // end state serves identically to the never-raced sequential store
      P.ivfIndexBuild(spark, sfDir, ref)
      P.ivfIndexAppend(spark, sfDir, ref, shard = 1L, slice = (2L, 0L))
      P.ivfIndexAppend(spark, sfDir, ref, shard = 3L, slice = (2L, 1L))
      P.ivfIndexCompact(spark, ref, upTo = 5L)
      assert(serve(a) == serve(ref))
    } finally { rm(a); rm(ref) }
  }

  test("in-flight append survives a compaction flip injected between resolve and write") {
    import spark.implicits._
    val a = tmp("ivf_inflight"); val ref = tmp("ivf_inflight_ref")
    try {
      P.ivfIndexBuild(spark, sfDir, a)
      P.ivfIndexAppend(spark, sfDir, a, shard = 1L, slice = (2L, 0L))
      // the r17 in-flight hole, driven deterministically: shard 3's append
      // resolves the pre-flip generation ("index"), then a compaction runs
      // TO COMPLETION (flip + old-generation delete) before the write —
      // the write lands in a retired directory and only the post-write
      // fence can save the shard
      val resolved = scala.collection.mutable.ArrayBuffer.empty[String]
      var flipped = false
      P.ivfIndexAppend(spark, sfDir, a, shard = 3L, slice = (2L, 1L),
        preWrite = { gen =>
          resolved += gen
          if (!flipped) { flipped = true; P.ivfIndexCompact(spark, a, upTo = 2L) }
        })
      assert(resolved.toSeq == Seq("index", "index_c2"),
        s"the fence must retry exactly once, against the flipped generation; saw $resolved")
      val live = spark.read.parquet(P.ivfIndexLiveDir(a))
      // shard 3 landed exactly once, in the live generation, no duplicates
      assert(live.filter($"shard" === 3L).count() > 0)
      assert(live.groupBy($"vec_id").count().filter($"count" > 1).count() == 0L,
        "the aborted pre-flip write must not double-serve any vector")
      P.ivfIndexBuild(spark, sfDir, ref)
      P.ivfIndexAppend(spark, sfDir, ref, shard = 1L, slice = (2L, 0L))
      P.ivfIndexCompact(spark, ref, upTo = 2L)
      P.ivfIndexAppend(spark, sfDir, ref, shard = 3L, slice = (2L, 1L))
      assert(serve(a) == serve(ref),
        "the interleaved store must serve identically to the sequential one")
    } finally { rm(a); rm(ref) }
  }

  // ---- multi-word LSH: planted-pair recall floor (round-18 VERDICT #2) ----

  /** Plane-weight matrix of the 64-plane family: W(p)(i) = weight of dim i
    * in plane p — the exact integer lattice both engines compute.
    */
  private def planeMatrix(): Array[Array[Double]] = {
    val A = graft.functions.LshConstants.AW
    val B = graft.functions.LshConstants.BW
    Array.tabulate(64, 64)((p, i) =>
      ((A(p) * (i + 1) + B(p)) % 1009L - 504L).toDouble)
  }

  /** Solve W·x = t by Gaussian elimination with partial pivoting — W is
    * square (64 planes × 64 dims) and verified invertible (the lshAExt
    * scaladoc), so a vector with EXACT target plane-dot values (hence
    * exact sign pattern) always exists. This is what makes the recall
    * fixture PLANTED rather than corpus luck: each pair's per-plane
    * agreement is chosen, not sampled.
    */
  private def solveForDots(w: Array[Array[Double]], t: Array[Double]): Array[Double] = {
    val n = t.length
    val m = Array.tabulate(n)(r => w(r) :+ t(r))
    for (c <- 0 until n) {
      val piv = (c until n).maxBy(r => math.abs(m(r)(c)))
      require(math.abs(m(piv)(c)) > 1e-9, s"plane matrix singular at column $c")
      val tmp = m(c); m(c) = m(piv); m(piv) = tmp
      for (r <- c + 1 until n) {
        val f = m(r)(c) / m(c)(c)
        for (k <- c to n) m(r)(k) -= f * m(c)(k)
      }
    }
    val x = new Array[Double](n)
    for (r <- n - 1 to 0 by -1) {
      var acc = m(r)(n)
      for (k <- r + 1 until n) acc -= m(r)(k) * x(k)
      x(r) = acc / m(r)(r)
    }
    x
  }

  test("multi-word banding: planted sign patterns recall deterministically at 24- and 32-bit widths") {
    import spark.implicits._
    val w = planeMatrix()
    // base pattern: deterministic pseudo-random signs, unit target dots
    def baseSign(p: Int): Double =
      if (((p * 2654435761L) >>> 3) % 2 == 0) 1.0 else -1.0
    val tBase = Array.tabulate(64)(baseSign)
    // flips use a SMALL negative target (sign flips, vector barely moves)
    // so every planted pair stays above the 0.45 verify threshold and
    // absence from the OUTPUT can only mean "not a candidate"
    def flipTargets(planes: Set[Int]): Array[Double] =
      Array.tabulate(64)(p => if (planes(p)) -0.05 * baseSign(p) else baseSign(p))
    val planted: Seq[(Long, Array[Double])] = Seq(
      1L -> tBase,                      // anchor
      2L -> flipTargets(Set(48, 49)),   // flips in word 3 only: band 0 intact
                                        // at BOTH widths → must be recalled
      3L -> flipTargets(Set(5, 40)),    // flips touch both bands at both
                                        // widths → must NOT be a candidate
      4L -> flipTargets(Set(26, 27, 40))// planes 26-27 sit in word 1's HIGH
                                        // half: outside the 24-bit band 0
                                        // (word0 + low 8 of word1) but inside
                                        // the 32-bit band 0 → recalled at 24,
                                        // not at 32 (with 40 killing band 1)
    ).map { case (id, t) => id -> solveForDots(w, t) }
    // fillers: distinct random-ish sign patterns, far from the planted ones
    val fillers = (100L until 160L).map { id =>
      val t = Array.tabulate(64)(p =>
        if (((id * 31L + p * 2654435761L) >>> 5) % 2 == 0) 1.0 else -1.0)
      id -> solveForDots(w, t)
    }
    val dir = tmp("lsh_planted")
    try {
      (planted ++ fillers)
        .map { case (id, v) => (id, v.map(_.toFloat), 0) }
        .toDF("vec_id", "embedding", "label")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      // self-validate the construction: the ENGINE's signature of each
      // planted vector must equal the planned sign pattern exactly
      val sigs = spark.read.parquet(s"$dir/embeddings.parquet")
        .select($"vec_id", graft.functions.LshFunctions.hyperplaneSigWords(
          expr("transform(embedding, x -> CAST(x AS DOUBLE))"), 4).as("sw"))
        .as[(Long, Seq[Long])].collect().toMap
      def plannedWords(t: Array[Double]): Seq[Long] =
        (0 until 4).map(wd => (0 until 16).foldLeft(0L)((acc, j) =>
          if (t(16 * wd + j) > 0) acc | (1L << j) else acc))
      planted.foreach { case (id, _) =>
        val t = id match {
          case 1L => tBase
          case 2L => flipTargets(Set(48, 49))
          case 3L => flipTargets(Set(5, 40))
          case 4L => flipTargets(Set(26, 27, 40))
        }
        assert(sigs(id) == plannedWords(t),
          s"planted vector $id: engine signature must equal the planned pattern")
      }
      // precondition: every planted pair is a true near-dup (the ≥0.45
      // output filter must not hide a candidate)
      def cos(a: Array[Double], b: Array[Double]): Double = {
        val dot = a.zip(b).map { case (x, y) => x * y }.sum
        dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
      }
      val byId = planted.toMap
      Seq(2L, 3L, 4L).foreach { id =>
        assert(cos(byId(1L), byId(id)) >= 0.45,
          s"planted pair (1, $id) must clear the verify threshold " +
            s"(got ${cos(byId(1L), byId(id))}) — otherwise absence proves nothing)")
      }
      def pairsAt(bits: Int): Set[(Long, Long)] =
        graft.queries.PipelineQueries.embeddingDupPairs(spark, dir, Some(bits))
          .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
      val p24 = pairsAt(24); val p32 = pairsAt(32)
      assert(p24.contains((1L, 2L)) && p32.contains((1L, 2L)),
        "flips confined to one 32-plane block must be recalled at both widths")
      assert(!p24.contains((1L, 3L)) && !p32.contains((1L, 3L)),
        "flips touching both bands must not be candidates at either width")
      assert(p24.contains((1L, 4L)),
        "planes 26-27 lie outside the 24-bit band 0 key — pair (1,4) must be recalled at 24 bits")
      assert(!p32.contains((1L, 4L)),
        "planes 26-27 lie inside the 32-bit band 0 key — pair (1,4) must be missed at 32 bits")
    } finally rm(dir)
  }

  test("multi-word signature word 0 is bit-identical to the single-long signature on the real corpus") {
    import spark.implicits._
    val mismatches = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .select(
        graft.functions.LshFunctions.hyperplaneSig(spark, $"v").as("sig16"),
        graft.functions.LshFunctions.hyperplaneSigWords($"v", 4).as("sw"))
      .filter($"sig16" =!= expr("sw[0]"))
      .count()
    assert(mismatches == 0L,
      "every ≤16-bit banding consumer relies on word-0 identity")
  }

  test("store entry points fail fast on scheme-qualified (non-local) paths") {
    import spark.implicits._
    val remote = "s3a://bucket/vecstore"
    val e1 = intercept[IllegalArgumentException](P.ivfIndexLiveName(remote))
    assert(e1.getMessage.contains("local-filesystem"))
    intercept[IllegalArgumentException](P.ivfIndexTombstones(spark, remote))
    intercept[IllegalArgumentException](
      P.ivfIndexDelete(spark, remote, 1L, Seq(1L).toDF("vec_id")))
  }
}
