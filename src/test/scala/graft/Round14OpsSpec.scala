package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.IvfKMeans

/** Round-14 closures, centered on the round-13 verdict's top item: the IVF
  * probe width is now a POLICY (nprobe = max(2, ⌈K/8⌉) — a fixed probed
  * fraction of the quantizer, the knee of the measured recall-vs-cost
  * curve), not a constant, and the forced key
  * `q_decontaminate_semantic_ivf_adaptive` runs the tier through it with a
  * DuckDB oracle that derives the SAME width from the trained centroid
  * table.
  */
class Round14OpsSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark
  private val sf001 = "/root/testdata/sf0.01"

  test("adaptiveNprobe is max(2, ceil(K/8)) — the measured-curve policy") {
    assert(IvfKMeans.adaptiveNprobe(1) == 2)   // floor
    assert(IvfKMeans.adaptiveNprobe(2) == 2)
    assert(IvfKMeans.adaptiveNprobe(16) == 2)  // ceil(16/8) = 2 = floor
    assert(IvfKMeans.adaptiveNprobe(17) == 3)  // first K where policy > legacy
    assert(IvfKMeans.adaptiveNprobe(21) == 3)  // the adaptive key's sf0.01 K
    assert(IvfKMeans.adaptiveNprobe(40) == 5)  // sf16's stride-256 K
    assert(IvfKMeans.adaptiveNprobe(323) == 41) // sf4's worst-case K
    // exact ceil identity over a dense range (no off-by-one drift vs the
    // oracle's CEIL(COUNT(*)/8.0))
    for (k <- 1 to 2048)
      assert(IvfKMeans.adaptiveNprobe(k) == math.max(2, math.ceil(k / 8.0).toInt), s"k=$k")
  }

  test("probeCells policy overload is bit-identical to the constant overload at the resolved width") {
    import spark.implicits._
    // 20 deterministic 8-dim centroids → policy resolves to ceil(20/8) = 3
    val cents: Seq[(Long, Seq[Double])] = (0L until 20L).map { c =>
      (c * 7L, (0 until 8).map(i => math.sin(c * 8 + i + 1).abs + 0.01))
    }
    val np = IvfKMeans.adaptiveNprobe(cents.size)
    assert(np == 3)
    val vecs = (0 until 50).map { r =>
      (r.toLong, (0 until 8).map(i => math.cos(r * 8 + i + 1) + 1.1))
    }.toDF("id", "v0").select($"id", $"v0".cast("array<double>").as("v"))
    val got = vecs.select($"id",
        IvfKMeans.probeCells(spark, cents, $"v", IvfKMeans.adaptiveNprobe _).as("a"),
        IvfKMeans.probeCells(spark, cents, $"v", np).as("c"))
      .collect()
    got.foreach { r =>
      assert(r.getSeq[Long](1) == r.getSeq[Long](2), s"policy overload diverged on id ${r.getLong(0)}")
      assert(r.getSeq[Long](1).length == np)
    }
  }

  test("image near-dup: planted Hamming-ball fixture — banding recalls every d<=3 pair, both exclusion paths hold") {
    import spark.implicits._
    // Texts ARE the pixel bytes (first 192 chars). Cell i is bright ('z',
    // lum 366) or dark ('', lum 3); 64·lum vs ΣG≈11.8k keeps every
    // threshold far from flipping when a few cells change, so the aHash is
    // exactly the planted bit pattern (base: cells 0..31 bright).
    def img(brightCells: Set[Int]): String =
      (0 until 64).map(i => (if (brightCells(i)) "z" else "") * 3).mkString
    val base = (0 until 32).toSet
    val docs = Seq(
      (0L, img(base)),                          // base
      (2L, img(base)),                          // exact dup -> same hash, collapses
      (4L, img(base + 63)),                     // d=1
      (6L, img(base -- Set(0, 1) + 62)),        // d=3
      (8L, img(base -- Set(0, 1, 2, 3))),       // d=4 vs base, all flips in band 0:
                                                //   candidate via bands 1-3, filtered
                                                //   by verify — but d=3 vs doc 6
                                                //   (diff {2,3,62}), a true near pair
      (10L, img(base -- Set(5, 20) ++ Set(40, 60))) // d=4, one flip per band: never
                                                //   even a candidate (no shared band)
    ).map { case (id, t) => (id, t, "en", "fixture", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("phash_near").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q_dedup_image_phash_near")(spark, dir)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((0L, 4L, 1L), (0L, 6L, 3L), (6L, 8L, 3L)),
      s"expected exactly the three planted d<=3 pairs, got $got")
    // the exact tier sees the collapse the near tier builds on
    val ahash = SparkEntry.queries("q_dedup_image_ahash")(spark, dir)
      .select($"doc_id", $"n_images").as[(Long, Long)].collect().toMap
    assert(ahash(0L) == 2L, "base and its exact dup must share one hash cluster")
    // and the cluster key composes both tiers — since round 17 over the
    // PRODUCTION b=8/d≤7 pair graph: the exact dup (doc 2) inherits its
    // rep's near-component label, and doc 10 (d=4 from base — a true
    // near-dup the old d≤3 graph missed, leaving it a false isolated
    // "canonical") now correctly joins the one component
    val clusters = SparkEntry.queries("q_dedup_image_clusters")(spark, dir)
      .as[(Long, Long)].collect().toMap
    assert(clusters == Map(0L -> 0L, 2L -> 0L, 4L -> 0L, 6L -> 0L, 8L -> 0L, 10L -> 0L),
      s"cluster labels diverged: $clusters")
  }

  test("image near-dup: banding equals brute force on the real corpus (recall floor at d<=3)") {
    import spark.implicits._
    // Pigeonhole claim verified wholesale: every distinct-hash pair within
    // Hamming 3 at sf0.01 (221 reps -> 24k brute pairs) must come back from
    // the banded equi-join — zero missed, zero extra, distances equal.
    val sf001Dir = "/root/testdata/sf0.01"
    val reps = graft.queries.PipelineQueries
      .entries("q_dedup_image_ahash").fn(spark, sf001Dir)
      .select($"doc_id", $"h_hi", $"h_lo")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    val brute = (for {
      i <- reps.indices; j <- (i + 1) until reps.length
      d = java.lang.Long.bitCount(reps(i)._2 ^ reps(j)._2) +
        java.lang.Long.bitCount(reps(i)._3 ^ reps(j)._3)
      if d <= 3
    } yield {
      val (a, b) = if (reps(i)._1 < reps(j)._1) (reps(i)._1, reps(j)._1)
                   else (reps(j)._1, reps(i)._1)
      (a, b, d.toLong)
    }).toSet
    val banded = SparkEntry.queries("q_dedup_image_phash_near")(spark, sf001Dir)
      .as[(Long, Long, Long)].collect().toSet
    assert(banded == brute,
      s"banding must equal brute force: missed ${brute -- banded}, extra ${banded -- brute}")
    assert(brute.nonEmpty, "the corpus must actually exercise the near tier")
  }

  test("quantized ANN tier: int8 codes are the symmetric global-scale scheme, and the rescored top-3 matches the float arm when the shortlist holds everything") {
    import spark.implicits._
    val base = graft.queries.PipelineQueries.quantizedLshBase(spark, sf001)
    val rows = base.select($"vec_id", $"v", $"qv8", $"qn").limit(20).collect()
    // recompute the global symmetric scale directly and check the codes
    val all = base.select($"v").collect().map(_.getSeq[Double](0))
    val maxAbs = all.flatten.map(math.abs).max
    rows.foreach { r =>
      val v = r.getSeq[Double](1); val q = r.getSeq[Long](2)
      assert(q.length == 64)
      (0 until 64).foreach { i =>
        val expect = if (maxAbs == 0.0) 0L
          else math.floor(v(i) * 127.0 / maxAbs + 0.5).toLong
        assert(q(i) == expect, s"code mismatch vec ${r.getLong(0)} dim $i")
        assert(q(i) >= -127 && q(i) <= 127)
      }
      assert(r.getLong(3) == q.map(x => x * x).sum, "integer code norm")
    }
    // at sf0.01 every bucket holds <= 15 candidates, so the int shortlist
    // keeps everything and the rescored top-3 must EQUAL the float-only
    // LSH arm (the quantization can only matter through truncation)
    val quant = SparkEntry.queries("q_similarity_quantized")(spark, sf001)
      .select($"q_id", $"rnk", $"c_id", $"sim4").collect().map(_.toSeq).toSeq
    val lsh = SparkEntry.queries("q_similarity_ann_lsh")(spark, sf001)
      .select($"q_id", $"rnk", $"c_id", $"sim4").collect().map(_.toSeq).toSeq
    assert(quant == lsh, "non-truncating shortlist must reproduce the float arm exactly")
  }

  test("BPE training: greedy non-overlap apply, multi-char merges, lexicographic tie-break — hand-computed fixture") {
    import spark.implicits._
    // "aaa"x5: (a,a) w10 -> merge 1; greedy left-to-right gives [aa, a]
    //   (NOT [a, aa] or a double-merge), so round 3 sees (aa, a) w5.
    // "bcbc"x4 + "bc"x1: (b,c) w9 -> merge 2; after it "bcbc" is [bc, bc].
    // round 4 ties (bc,bc) w4 against (x,y) w4 -> 'bc' < 'x' wins the tie.
    val text = (Seq.fill(5)("aaa") ++ Seq.fill(4)("bcbc") ++ Seq("bc")
      ++ Seq.fill(4)("xy")).mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("bpe_train").toString
    Seq((1L, text, "en", "fixture", text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q_bpe_train")(spark, dir)
      .as[(Long, String, String, Long)].collect().toSeq
    assert(got == Seq(
      (1L, "a", "a", 10L),   // the base pair
      (2L, "b", "c", 9L),    // across both bc-words
      (3L, "aa", "a", 5L),   // exists ONLY if merge 1 applied greedily
      (4L, "bc", "bc", 4L)), // multi-char pair, tie-broken against (x,y)
      s"merge sequence diverged: $got")
  }

  test("the adaptive forced key genuinely widens the probe at the oracle scale") {
    import spark.implicits._
    // the key's needle policy at sf0.01: every 3rd vector → 167 needles,
    // stride 8 → K = |vec_id % 24 == 0| = 21 → policy width 3 > legacy 2
    val en = graft.tables.Tables.embeddings(spark, sf001)
    val k = en.filter($"vec_id" % 24 === 0).count().toInt
    assert(k == 21, s"fixture drift: expected K=21 at sf0.01, got $k")
    assert(IvfKMeans.adaptiveNprobe(k) == 3)
    val adaptive = SparkEntry.queries("q_decontaminate_semantic_ivf_adaptive")(spark, sf001)
      .select($"vec_id", $"n_id", $"contam").collect()
    val pinned3 = graft.queries.PipelineQueries
      .semanticDecontamIvf(spark, sf001, (_: Int) => 3, 3L, Long.MaxValue)
      .select($"vec_id", $"n_id", $"contam").collect()
    assert(adaptive.toSeq == pinned3.toSeq,
      "policy path must equal the constant path at the resolved width")
    // and the width MATTERS here — nprobe=2 on the same needle set finds a
    // different audit (the branch is exercised, not just compiled)
    val pinned2 = graft.queries.PipelineQueries
      .semanticDecontamIvf(spark, sf001, (_: Int) => 2, 3L, Long.MaxValue)
      .select($"vec_id", $"n_id", $"contam").collect()
    assert(adaptive.toSeq != pinned2.toSeq,
      "widening 2→3 must change at least one audit row at K=21")
  }
}
