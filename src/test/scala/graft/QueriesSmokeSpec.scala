package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.{array, explode, expr, split}
import graft.cdc.{CdcApply, CdcParser}
import graft.etl.ReferenceFixtures

/** Executes every declared query at sf0.001 (plan + execution smoke; the
  * value-level gate is the driver's DuckDB compare, exercised locally via
  * tools/selfcheck.py).
  */
class QueriesSmokeSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark
  private val sfDir = "/root/testdata/sf0.001"

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every declared query executes at sf0.001") {
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try { fn(spark, sfDir).count(); None }
      catch { case e: Throwable => Some(s"$name: ${e.getMessage}") }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("bloom decontamination never false-negatives and its false-positive rate is sane") {
    import spark.implicits._
    val rows = SparkEntry.queries("q_decontaminate_bloom")(spark, sfDir)
      .select($"doc_id", $"bloom_hit", $"exact_hit")
      .as[(Long, Boolean, Boolean)].collect()
    assert(rows.nonEmpty)
    // structural Bloom guarantee: an exact shared 5-gram MUST set both bits
    val falseNeg = rows.filter { case (_, bloom, exact) => exact && !bloom }
    assert(falseNeg.isEmpty, s"bloom false negatives: ${falseNeg.map(_._1).toSeq}")
    // and the 2^16-bit / k=2 sizing keeps false positives a small minority
    // of the corpus (they are the price of the constant-size broadcast)
    val nCorpus = graft.tables.Tables.documents(spark, sfDir)
      .filter(expr("doc_id % 31 != 0")).count()
    val nFp = rows.count { case (_, bloom, exact) => bloom && !exact }
    assert(nFp.toDouble / nCorpus < 0.2,
      s"$nFp bloom false positives over $nCorpus docs — bitmap sizing broken")
  }

  test("bloom probe mechanisms are row-identical; the sizing override validates and bites") {
    import spark.implicits._
    val byDefault = graft.queries.PipelineQueries.bloomDecontaminate(spark, sfDir)
    // a non-power-of-two override is rejected
    intercept[IllegalArgumentException] {
      graft.queries.PipelineQueries.bloomDecontaminate(spark, sfDir, mBitsOverride = Some(1000L))
    }
    // a deliberately undersized bitmap saturates: more false flags than the
    // adaptive default, while the exact-hit rows stay identical
    val tiny = graft.queries.PipelineQueries
      .bloomDecontaminate(spark, sfDir, mBitsOverride = Some(1024L))
    assert(tiny.count() > byDefault.count(),
      "an 8x-undersized bitmap should flag strictly more docs")
    val exactDefault = byDefault.filter($"exact_hit").select($"doc_id")
    val exactTiny = tiny.filter($"exact_hit").select($"doc_id")
    assert(exactDefault.exceptAll(exactTiny).isEmpty && exactTiny.exceptAll(exactDefault).isEmpty)
    // a bitmap past the former 2^20-bit plan-literal cap: same exact-hit
    // rows as the default, and no exact hit escapes the bloom flag
    val wide = graft.queries.PipelineQueries
      .bloomDecontaminate(spark, sfDir, mBitsOverride = Some(1L << 21))
    assert(wide.filter($"exact_hit" && !$"bloom_hit").isEmpty,
      "a 2^21-bit bloom produced a false negative")
    val exactWide = wide.filter($"exact_hit").select($"doc_id")
    assert(exactDefault.exceptAll(exactWide).isEmpty && exactWide.exceptAll(exactDefault).isEmpty,
      "exact-hit rows must not depend on the bitmap size")
    // the stateless STREAMING probe shares bitmap policy + hashes with the
    // batch query, so their bloom_hit doc sets must be identical
    val streamHits = SparkEntry.queries("q_stream_decontaminate")(spark, sfDir)
      .filter($"bloom_hit").select($"doc_id").as[Long].collect().toSet
    val batchHits = byDefault.filter($"bloom_hit").select($"doc_id").as[Long].collect().toSet
    assert(streamHits == batchHits,
      s"stream/batch bloom flags diverge: only-stream=${streamHits -- batchHits} only-batch=${batchHits -- streamHits}")
    spark.catalog.clearCache()
  }

  test("substring dedup matches an independent pair-join formulation; novelty stats are consistent") {
    import spark.implicits._
    // independent formulation: a doc is substring-duplicated iff it appears
    // in some cross-doc pair sharing a 20-token window (self-join on the
    // window fingerprint — the shape the aggregate formulation avoids)
    val win = graft.tables.Tables.documents(spark, sfDir)
      .select($"doc_id", split($"text", " ").as("tok"))
      .filter(expr("size(tok) >= 20"))
      .select($"doc_id", explode(expr(
        // deliberately a DIFFERENT fingerprint than the query's xxhash64 —
        // equality-class counts must agree across any injective-enough hash
        "array_distinct(transform(sequence(0, size(tok)-20), " +
          "w -> md5(concat_ws(' ', slice(tok, w+1, 20)))))")).as("wfp"))
    val viaPairs = win.as("a").join(win.as("b"), "wfp")
      .filter($"a.doc_id" =!= $"b.doc_id")
      .select(explode(array($"a.doc_id", $"b.doc_id")).as("doc_id"))
      .distinct().as[Long].collect().toSet
    assert(viaPairs.nonEmpty, "corpus lost its shared-20-token-run fixture docs")
    val flagged = SparkEntry.queries("q_dedup_substring")(spark, sfDir)
      .filter($"dup_flag").select($"doc_id").as[Long].collect().toSet
    assert(flagged == viaPairs,
      s"flag sets diverge: only-agg=${flagged -- viaPairs} only-pairs=${viaPairs -- flagged}")
    // novelty: reference docs excluded; each seen bigram contributes >= 1
    val nov = SparkEntry.queries("q_text_novelty")(spark, sfDir)
      .select($"doc_id", $"n_bigrams", $"n_unseen", $"ref_freq_sum")
      .as[(Long, Long, Long, Long)].collect()
    assert(nov.nonEmpty && nov.forall(_._1 % 31 != 0))
    assert(nov.forall { case (_, nb, nu, rs) => nu <= nb && rs >= nb - nu })
  }

  test("pinned LSH band width reproduces (4-bit) or narrows (8-bit) the adaptive result") {
    import spark.implicits._
    // the oracle corpus sits below the 4-bit occupancy threshold, so pinning
    // bandBits = 4 must be bit-identical to the adaptive default — the pin
    // exists so a harness can hold 4-bit semantics at ANY scale
    val adaptive = graft.queries.PipelineQueries.embeddingDupPairs(spark, sfDir)
      .as[(Long, Long, Double)].collect().toSet
    val pinned4 = graft.queries.PipelineQueries
      .embeddingDupPairs(spark, sfDir, bandBits = Some(4))
      .as[(Long, Long, Double)].collect().toSet
    assert(pinned4 == adaptive, "bandBits=4 diverged from the adaptive default at oracle scale")
    // an 8-bit band is the conjunction of its two 4-bit halves, so its
    // candidate set — and thus its reported pairs — is a subset
    val pinned8 = graft.queries.PipelineQueries
      .embeddingDupPairs(spark, sfDir, bandBits = Some(8))
      .as[(Long, Long, Double)].collect().toSet
    assert(pinned8.subsetOf(adaptive),
      s"8-bit bands reported pairs outside the 4-bit set: ${pinned8 -- adaptive}")
    intercept[IllegalArgumentException] {
      graft.queries.PipelineQueries.embeddingDupPairs(spark, sfDir, bandBits = Some(5))
    }
    spark.catalog.clearCache()
  }

  test("every query has an oracle (the sketch queries oracle their error bounds)") {
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(noOracle.isEmpty, s"unexpected oracle-less: $noOracle")
  }

  test("hll sketch bounds hold and the exact side matches an independent count") {
    import spark.implicits._
    val rows = SparkEntry.queries("q_agg_hll_merge")(spark, sfDir)
      .select($"event_type", $"n_users_exact", $"merge_ok")
      .as[(String, Long, Boolean)].collect()
    assert(rows.forall(_._3), s"some estimate broke the 5% bound: ${rows.toSeq}")
    // the query's exact column against a count computed outside the query
    val exactAll = graft.tables.Tables.events(spark, sfDir)
      .select($"user_id").distinct().count()
    assert(rows.find(_._1 == "__all__").get._2 == exactAll)
  }

  test("approx quantile rank bounds hold for every group and quantile") {
    import spark.implicits._
    val rows = SparkEntry.queries("q_agg_approx_quantile")(spark, sfDir)
      .select($"l_returnflag", $"p50_ok", $"p90_ok", $"p99_ok")
      .as[(String, Boolean, Boolean, Boolean)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (flag, a, b, c) =>
      assert(a && b && c, s"$flag: rank bound broken (p50=$a p90=$b p99=$c)")
    }
  }

  test("heavy-hitter coverage: every oracled top-10 token clears the n/k guarantee") {
    import spark.implicits._
    // the per-row sketch_ok contract is only guaranteed for items above
    // n/k; assert the fixture actually keeps the top-10 above it so the
    // oracle row can never go flaky as testdata evolves
    val toks = graft.tables.Tables.documents(spark, sfDir)
      .select(org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.functions.split($"text", " ")).as("t"))
    val n = toks.count()
    val rows = SparkEntry.queries("q_heavy_hitters")(spark, sfDir)
      .select($"n_true", $"sketch_ok").as[(Long, Boolean)].collect()
    assert(rows.length == 10)
    rows.foreach { case (nTrue, ok) =>
      assert(nTrue > n / 32, s"top-10 token at $nTrue ≤ n/k ${n / 32}: guarantee void")
      assert(ok, s"sketch missed or mis-bounded a guaranteed heavy hitter ($nTrue)")
    }
  }

  test("q_dedup_clusters degrades to identity labels on a corpus with zero near-dup pairs") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_nopairs").toString
    // orthogonal unit vectors: every candidate pair scores cos = 0 < 0.45
    val rows = (0 until 8).map { i =>
      (i.toLong, Seq.tabulate(64)(j => if (j == i) 1.0f else 0.0f))
    }
    rows.toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = SparkEntry.queries("q_dedup_clusters")(spark, dir).collect()
    assert(out.length == 8 && out.forall(r => r.getLong(0) == r.getLong(1)))
  }

  test("distributed CdcApply.run matches the local sequential fold") {
    import spark.implicits._
    val recs = CdcParser.parseLines(ReferenceFixtures.cdcLines)
    val dist = CdcApply.run(spark, spark.createDataset(recs)).collect()
      .sortBy(o => (o.kind, o.schema, o.table, o.pk)).toSeq
    val local = CdcApplyReference.runLocal(recs)
    assert(dist == local)
  }

  test("mix weights match a driver-side exact-integer recompute; shares telescope") {
    import spark.implicits._
    val rows = SparkEntry.queries("q_mix_weights")(spark, sfDir)
      .as[(String, Long, Long, Long, Long, Long, Boolean)].collect()
    assert(rows.nonEmpty)
    // independent path: per-doc token counts folded on the driver
    val toks = graft.tables.Tables.documents(spark, sfDir)
      .select($"source", split($"text", " "))
      .as[(String, Seq[String])].collect()
      .groupBy(_._1).view
      .mapValues(ds => (ds.length.toLong, ds.map(_._2.length.toLong).sum)).toMap
    val total = toks.values.map(_._2).sum
    val nSrc = toks.size.toLong
    rows.foreach { case (src, nDocs, nTok, share, weight, epochs, flag) =>
      val (eDocs, eTok) = toks(src)
      assert(nDocs == eDocs && nTok == eTok, src)
      assert(share == 1000000L * eTok / total, src)
      assert(weight == 1000000L * total / (nSrc * eTok), src)
      assert(epochs == (weight + 999999L) / 1000000L, src)
      assert(flag == (weight > 1000000L), src)
    }
    // floor loss only: the ppm shares sum to within n_sources of 1e6
    val shareSum = rows.map(_._4).sum
    assert(shareSum <= 1000000L && shareSum > 1000000L - nSrc, shareSum)
  }

  test("stream ingest dedup suppresses cross-batch and corpus fingerprints") {
    import spark.implicits._
    val got = SparkEntry.queries("q_stream_ingest_dedup")(spark, sfDir)
      .as[(Long, String, Long)].collect().toSeq
    assert(got.nonEmpty)
    // batch-side ground truth: (doc_id, parity-batch, fingerprint)
    val fpExpr = expr("md5(array_join(array_sort(array_distinct(split(text, ' '))), ' '))")
    val nd = graft.tables.Tables.documents(spark, sfDir)
      .filter(expr("doc_id % 31 != 0"))
      .select($"doc_id", fpExpr.as("fp")).as[(Long, String)].collect()
    val corpus = graft.tables.Tables.documents(spark, sfDir)
      .filter(expr("doc_id % 31 = 0"))
      .select(fpExpr).as[String].collect().toSet
    val byFp = nd.groupBy(_._2)
    // exactly one emission per surviving fingerprint, none from the corpus
    assert(got.map(_._2).distinct.size == got.size)
    assert(got.forall(r => !corpus.contains(r._2)))
    // every cross-parity fingerprint must be live in this corpus (else the
    // test is vacuous) and emit from batch 0 with that batch's min doc_id
    val crossFps = byFp.filter { case (fp, ds) =>
      !corpus.contains(fp) && ds.map(_._1 % 2).distinct.size == 2
    }
    assert(crossFps.nonEmpty, "corpus has no cross-batch duplicate to exercise")
    crossFps.foreach { case (fp, ds) =>
      val row = got.find(_._2 == fp).get
      assert(row._1 % 2 == 0, s"$fp must emit from batch 0, got doc ${row._1}")
      assert(row._1 == ds.filter(_._1 % 2 == 0).map(_._1).min, fp)
      // in-shard dup count covers ONLY the emitting batch
      assert(row._3 == ds.count(_._1 % 2 == 0), fp)
    }
    // completeness: one row for every non-corpus fingerprint
    assert(got.size == byFp.keys.count(fp => !corpus.contains(fp)))
  }

  test("label cohesion matches a driver-side centroid recompute row for row") {
    import spark.implicits._
    val got = SparkEntry.queries("q_label_cohesion")(spark, sfDir)
      .as[(Long, Double, Int, Double, Boolean)].collect().toSeq
    assert(got.nonEmpty)
    // independent path: quantize, sum centroids, and score entirely on the
    // driver with the same left-to-right IEEE fold the Expression codegens
    val eq = graft.tables.Tables.embeddings(spark, sfDir)
      .select($"vec_id", $"label", $"embedding")
      .as[(Long, Int, Seq[Float])].collect()
      .map { case (id, l, v) =>
        (id, l, v.map(x => math.floor(x.toDouble * 1000000 + 0.5)).toArray)
      }
    val cents: Seq[(Int, Array[Double])] = eq.groupBy(_._2).view.mapValues { vs =>
      val s = new Array[Double](64)
      vs.foreach(v => v._3.indices.foreach(i => s(i) += v._3(i)))
      s
    }.toSeq.sortBy(_._1)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < 64) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      val r = dot / (math.sqrt(na) * math.sqrt(nb))
      BigDecimal(r).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0
    }
    val want = eq.map { case (id, l, v) =>
      val sims = cents.map { case (cl, cv) => (cl, cos(v, cv)) }
      val own = sims.find(_._1 == l).get._2
      val (bl, bs) = sims.filter(_._1 != l).maxBy { case (cl, s) => (s, -cl) }
      (id, own, bl, bs, bs >= own)
    }.sortBy(_._1).toSeq
    assert(got == want)
  }

  test("semdedup cells partition the corpus and the drop rule is internally consistent") {
    import spark.implicits._
    val rows = SparkEntry.queries("q_semdedup")(spark, sfDir)
      .select($"cell", $"n_vecs", $"n_dup_pairs", $"n_dropped")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(rows.nonEmpty)
    // the cells PARTITION the corpus: every vector lands in exactly one
    val total = graft.tables.Tables.embeddings(spark, sfDir).count()
    assert(rows.map(_._2).sum == total,
      s"cell n_vecs sums to ${rows.map(_._2).sum}, corpus has $total")
    rows.foreach { case (cell, nVecs, nPairs, nDropped) =>
      // each dropped vector is the id_b of >= 1 dup pair, and every cell
      // keeps at least one representative (id_a of the lowest pair survives)
      assert(nDropped <= nPairs, s"cell $cell: dropped $nDropped > pairs $nPairs")
      assert(nDropped < nVecs, s"cell $cell: dropped every vector")
      assert(nPairs <= nVecs * (nVecs - 1) / 2, s"cell $cell: pairs exceed all-pairs")
    }
  }
}
