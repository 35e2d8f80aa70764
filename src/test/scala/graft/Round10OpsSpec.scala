package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Round-10 depth checks:
  *  - SemDeDup key parity: q_semdedup_table (the flat quantizer pinned
  *    past the hierarchical threshold) must equal q_semdedup on a corpus
  *    with planted near-dups — the equivalence the shared DuckDB oracle
  *    relies on, checked engine-side on data where cells and dup pairs
  *    are non-trivial.
  */
class Round10OpsSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark

  /** Deterministic 64-dim corpus with planted near-dup pairs: every 10th
    * vector is followed by a slightly-perturbed copy, the rest decorrelate.
    * n = 2048 → K = ceil(n/256) = 8 cells, so both branches exercise real
    * multi-cell assignment and non-empty within-cell dup pairs.
    */
  private def embeddingsDir(n: Int): String = {
    import spark.implicits._
    val rows = (0 until n).map { i =>
      val base =
        if (i % 10 == 1) Array.tabulate(64)(j => (math.sin((i - 1) * 64 + j) + (if (j == 0) 0.001 else 0.0)).toFloat)
        else Array.tabulate(64)(j => math.sin(i * 64 + j).toFloat)
      (i.toLong, base, i % 3)
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_r10emb").toString
    rows.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("q_semdedup_table (broadcast-tier kernel path) is bit-identical to q_semdedup (plan-literal path)") {
    val dir = embeddingsDir(2048)
    val literal = SparkEntry.queries("q_semdedup")(spark, dir).collect().toSeq
    val table = SparkEntry.queries("q_semdedup_table")(spark, dir).collect().toSeq
    assert(literal == table,
      s"paths diverged: literal=${literal.take(5)}.. table=${table.take(5)}..")
    // the corpus must make the comparison non-trivial: several cells and
    // planted near-dup pairs actually detected
    val cells = literal.size
    val dupPairs = literal.map(_.getLong(2)).sum
    assert(cells >= 4, s"expected >=4 populated cells, got $cells")
    assert(dupPairs > 0, s"expected planted near-dup pairs to be found")
  }

  private def docsDir(rows: Seq[(Long, String)]): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_r10docs").toString
    rows.map { case (id, t) => (id, t, "en", "s0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("dedup tier hand-off: the heavy-shingle tier catches 20-container boilerplate; past the 64-df cap it falls to the linear tiers") {
    // Round 10 proved the df-[2,8] band BLIND to a doc quoted in 20
    // containers; round 11's heavy-shingle escalation (band-blind docs
    // join their single rarest shingle's posting list when its df ≤ 64)
    // must now catch it INSIDE containment, with exactly ≤63 pairs from
    // the one anchor. Past the 64-df cap the doc is invisible again —
    // that regime stays the documented hand-off to the linear tiers.
    val quote = (0 until 10).map(i => s"quote$i").mkString(" ")
    val containers = (2L to 21L).map(n =>
      n -> ((0 until 10).map(i => s"uniq${n}w$i").mkString(" ") + " " + quote))
    val rows = Seq(1L -> quote) ++ containers ++ Seq(22L -> containers.head._2)
    val dir = docsDir(rows)

    // heavy tier: doc 1 is band-blind (every shingle df = 22 > 8) but its
    // anchor df 22 ≤ 64 → paired with ALL 21 quote-holders, containment
    // 1.0 each (its whole shingle set is inside every container)
    val cont = SparkEntry.queries("q_dedup_containment")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val doc1Pairs = cont.filter(_._1 == 1L).map(_._2).toSet
    assert(doc1Pairs == (2L to 22L).toSet,
      s"heavy tier must pair doc 1 with every container: $doc1Pairs")
    // the primary band still works where it holds — the exact-copy pair
    // (2, 22) shares rare prefix shingles
    assert(cont.contains((2L, 22L)), s"expected the (2,22) pair: ${cont.toSeq}")

    // past the cap: 70 containers → anchor df = 72 > 64 → doc 1 invisible
    // to containment again (bounded fan-out beats unbounded recall here;
    // the linear tiers below own this regime)
    val manyContainers = (2L to 71L).map(n =>
      n -> ((0 until 10).map(i => s"uniq${n}w$i").mkString(" ") + " " + quote))
    val bigDir = docsDir(Seq(1L -> quote) ++ manyContainers ++
      Seq(72L -> manyContainers.head._2))
    val bigCont = SparkEntry.queries("q_dedup_containment")(spark, bigDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(!bigCont.exists(p => p._1 == 1L || p._2 == 1L),
      s"doc 1 must stay invisible past the 64-df anchor cap: ${bigCont.take(8).toSeq}")

    // paragraph tier: doc 1 keeps the quote chunk (first occurrence);
    // every container loses it (n_kept 1 of 2); the whole-doc copy 22
    // loses BOTH chunks and vanishes
    val para = SparkEntry.queries("q_dedup_paragraph")(spark, dir)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(para(1L) == ((1L, 1L)))
    (2L to 21L).foreach(n => assert(para(n) == ((2L, 1L)), s"doc $n: ${para.get(n)}"))
    assert(!para.contains(22L), "fully-duplicate doc 22 must vanish")

    // exact tier: docs 2 and 22 collapse into one group under doc 2
    val exact = SparkEntry.queries("q_dedup_exact")(spark, dir)
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(exact(2L) == 2L, s"docs 2+22 must form one exact group: $exact")
    assert(!exact.contains(22L))
  }

  test("hierarchical quantizer: partition invariants, exact-dup co-location, determinism") {
    import spark.implicits._
    import graft.operators.IvfKMeans
    // 2048 vectors → K = 8, K1 = ⌈√8⌉ = 3 coarse cells, per-cell subs —
    // a non-degenerate two-level shape. Every 10th vector is duplicated
    // EXACTLY (vec_id 10i+1 copies 10i): a deterministic quantizer must
    // co-locate identical inputs, which is the recall floor SemDeDup's
    // within-cell exactness stands on.
    val rows = (0 until 2048).map { i =>
      val src = if (i % 10 == 1) i - 1 else i
      (i.toLong, (0 until 64).map(j => math.sin(src * 64 + j)), i)
    }
    val e = rows.toDF("vec_id", "v", "tag").select($"vec_id", $"v")
    val a1 = IvfKMeans.trainAssignHierarchical(spark, e, coarseK = 3, iters = 2)
      .select($"vec_id", $"ccell", $"cid").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // every vector assigned exactly once
    assert(a1.size == 2048)
    // two-level shape is real: >1 coarse cell, more sub-cells than coarse
    val coarse = a1.values.map(_._1).toSet
    val sub = a1.values.map(_._2).toSet
    assert(coarse.size > 1, s"expected multiple coarse cells, got $coarse")
    assert(sub.size > coarse.size,
      s"expected sub-cells to outnumber coarse cells: ${sub.size} vs ${coarse.size}")
    // identical vectors land in the same (ccell, cid) — both quantizer
    // stages are deterministic expressions of the vector value
    (0 until 2048 by 10).foreach { i =>
      assert(a1(i.toLong) == a1(i.toLong + 1),
        s"exact duplicate pair ($i, ${i + 1}) split across cells: ${a1(i.toLong)} vs ${a1(i.toLong + 1)}")
    }
    // deterministic across runs (fixed seeds, pinned iterations)
    val a2 = IvfKMeans.trainAssignHierarchical(spark, e, coarseK = 3, iters = 2)
      .select($"vec_id", $"ccell", $"cid").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(a1 == a2)
  }

  test("q_dedup_lsh_recall: truth arm enumerates exactly the planted pairs per decile; exact dups always recalled") {
    // Per decile d, 40 pairs (A, B) where B shares A's first m_d tokens and
    // diverges after: both docs carry 58 distinct 3-token shingles, shared
    // shingles m_d - 2, so J = (m_d-2)/(118-m_d) lands in decile d by exact
    // integer arithmetic. Namespaced tokens keep pairs mutually invisible.
    //   m=42 -> J=40/76  (decile 5)    m=46 -> J=44/72 (decile 6)
    //   m=50 -> J=48/68  (decile 7)    m=54 -> J=52/64 (decile 8)
    // plus 20 exact-duplicate pairs (J=1, clamped into decile 9).
    val mByDecile = Map(5 -> 42, 6 -> 46, 7 -> 50, 8 -> 54)
    var id = 0L
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    for ((d, m) <- mByDecile.toSeq.sortBy(_._1); j <- 0 until 40) {
      val a = (0 until 60).map(i => s"d${d}p${j}t$i")
      val b = a.take(m) ++ (m until 60).map(i => s"d${d}p${j}u$i")
      rows += ((id, a.mkString(" "))); id += 1
      rows += ((id, b.mkString(" "))); id += 1
    }
    for (j <- 0 until 20) {
      val a = (0 until 60).map(i => s"exp${j}t$i").mkString(" ")
      rows += ((id, a)); id += 1
      rows += ((id, a)); id += 1
    }
    val dir = docsDir(rows.toSeq)
    val out = SparkEntry.queries("q_dedup_lsh_recall")(spark, dir)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap

    // truth-arm exactness: the PPJoin ground truth finds EXACTLY the planted
    // pairs in every decile — no false pairs, no missed pairs
    assert(out.keySet == Set(5L, 6L, 7L, 8L, 9L), s"unexpected deciles: $out")
    (5L to 8L).foreach(d => assert(out(d)._1 == 40L, s"decile $d n_true: ${out(d)}"))
    assert(out(9L)._1 == 20L, s"decile 9 n_true: ${out(9L)}")

    // recall floor: identical shingle sets produce identical signatures, so
    // every exact-duplicate pair MUST be a banding candidate
    assert(out(9L)._2 == 20L, s"exact dups must always be recalled: ${out(9L)}")

    // the probabilistic region is live: the banding misses some low-J pairs
    // and recalls more mass at J in [0.8,0.9) than at [0.5,0.6) — the
    // S-curve shape (deterministic: fixed tokens, fixed md5-derived hashes)
    assert(out(5L)._2 < 40L, s"decile 5 should show misses: ${out(5L)}")
    assert(out(5L)._2 < out(8L)._2,
      s"recall must rise across the curve: d5=${out(5L)} d8=${out(8L)}")
  }

  test("q_corpus_curate: each funnel stage removes exactly the planted casualties") {
    // 15 docs, one planted casualty per stage:
    //   ids 1..9 + 31 - clean 45-token docs (43 namespaced + 'the a')
    //   id 50 - exact copy of doc 1          -> removed at exact_dedup
    //   id 51 - doc 2's tokens reversed      -> removed at neardup_collapse
    //   id 52 - shares a 5-token run with doc 31 (31 % 31 = 0, a benchmark
    //           member)                      -> removed at decontaminate
    //   ids 53, 54 - wordcount fail (10 tokens) / dominance fail (top
    //           token 20 of 45)              -> removed at quality_gate
    def clean(ns: String): String =
      ((0 until 43).map(i => f"${ns}w$i%02d") ++ Seq("the", "a")).mkString(" ")
    val doc2 = clean("g2")
    val rows = (1L to 9L).map(i => i -> clean(s"g$i")) ++ Seq(
      31L -> clean("b31"),
      50L -> clean("g1"),
      51L -> (doc2.split(" ").reverse.mkString(" ")),
      52L -> (((0 until 38).map(i => f"c52w$i%02d") ++
        (10 until 15).map(i => f"b31w$i%02d") ++ Seq("the", "a")).mkString(" ")),
      53L -> (((0 until 8).map(i => s"f53w$i") ++ Seq("the", "a")).mkString(" ")),
      54L -> (((0 until 23).map(i => f"f54w$i%02d") ++ Seq.fill(20)("f54re") ++
        Seq("the", "a")).mkString(" ")))
    val dir = docsDir(rows.toSeq)
    val out = SparkEntry.queries("q_corpus_curate")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val byStage = out.map(t => t._2 -> ((t._3, t._4))).toMap
    assert(byStage("corpus") == ((15L, 15L)))
    assert(byStage("quality_gate") == ((15L, 13L)), s"quality: $out")
    assert(byStage("exact_dedup") == ((13L, 12L)), s"exact: $out")
    assert(byStage("neardup_collapse") == ((12L, 11L)), s"fuzzy: $out")
    assert(byStage("decontaminate") == ((11L, 10L)), s"decontam: $out")
    // splits partition the final survivors exactly
    val splits = Seq("split_train", "split_val", "split_test").map(byStage)
    assert(splits.forall(_._1 == 10L))
    assert(splits.map(_._2).sum == 10L, s"splits must partition survivors: $out")
    // chain consistency: each stage's n_in is the previous stage's n_out
    val chain = out.filter(t => t._1 >= 2 && t._1 <= 5).sortBy(_._1)
    chain.foldLeft(15L) { case (prevOut, (_, _, nIn, nOut)) =>
      assert(nIn == prevOut); nOut
    }
  }

  test("q_corpus_curate invariants hold on arbitrary corpora (property)") {
    // Random corpora drawn from a 14-word pool so collisions are the norm,
    // not the exception: exact duplicates, same-word-set permutations,
    // shared 5-grams with benchmark members (ids 0 and 31), sub-5-token
    // docs (outside the gram domain), and corpora where the quality gate
    // kills everything (the window-min-over-empty-group edge). The funnel
    // must keep its shape on ALL of them: stages 1..8 in order, the
    // survivor chain monotone and connected, splits partitioning the
    // final survivors exactly.
    val rnd = new scala.util.Random(0xC0FFEE)
    val pool = Vector("the", "a", "of", "data", "spark", "row", "agg",
      "join", "scan", "batch", "window", "hash", "merge", "sort")
    (0 until 6).foreach { sample =>
      val nDocs = 1 + rnd.nextInt(40)
      val rows = (0L until nDocs.toLong).map { id =>
        val k = 1 + rnd.nextInt(60)
        id -> Seq.fill(k)(pool(rnd.nextInt(pool.size))).mkString(" ")
      }
      val dir = docsDir(rows)
      val out = SparkEntry.queries("q_corpus_curate")(spark, dir)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      assert(out.map(_._1).toSeq == (1L to 8L), s"sample $sample stages: ${out.toSeq}")
      val byStage = out.map(t => t._1 -> t).toMap
      assert(byStage(1L)._4 == nDocs.toLong, s"sample $sample corpus count")
      // chain: corpus -> quality -> exact -> fuzzy -> clean, monotone
      (2L to 5L).foreach { sid =>
        val (_, _, nIn, nOut) = byStage(sid)
        assert(nIn == byStage(sid - 1)._4, s"sample $sample stage $sid n_in")
        assert(nOut <= nIn && nOut >= 0, s"sample $sample stage $sid monotone")
      }
      // splits: all read the final survivor count and partition it exactly
      val nFinal = byStage(5L)._4
      (6L to 8L).foreach(sid => assert(byStage(sid)._3 == nFinal))
      assert((6L to 8L).map(byStage(_)._4).sum == nFinal,
        s"sample $sample splits must partition $nFinal: ${out.toSeq}")
    }
  }

  test("q_stream_curate: gates run before dedup; every suppression path fires in one replay") {
    // One crafted two-batch replay (shard = doc_id % 2) exercising every
    // path of the streaming curation ingest:
    //   id 7  - corpus member (7 % 7 = 0): not streamed, its fp suppresses
    //   id 31 - benchmark member (31 % 31 = 0): not streamed, its grams
    //           feed the Bloom needles
    //   id 2  - dominance-fail doc (top token 20 of 45) sharing its word
    //           SET with id 3: quality must kill it BEFORE dedup, so id 3
    //           survives as the sole member of that fingerprint group -
    //           the ordering subtlety that distinguishes gate-then-dedup
    //           from dedup-then-gate (which would emit NEITHER: id 2 wins
    //           the min-id dedup, then dies at the gate)
    //   id 3  - balanced doc over id 2's word set: survives
    //   id 4  - shares a 5-token run with benchmark doc 31: bloom-dropped
    //   id 5  - permutation of corpus doc 7 (same word set): passes the
    //           gates, then the corpus anti-join suppresses it
    //   id 6 / id 1 - identical clean docs in batch 0 / batch 1: id 6 is
    //           emitted in batch 0, the durable store suppresses id 1 in
    //           batch 1 (cross-batch suppression through the prep hook)
    def clean(ns: String): String =
      ((0 until 43).map(i => f"${ns}w$i%02d") ++ Seq("the", "a")).mkString(" ")
    val setT = (0 until 24).map(i => f"s3w$i%02d")
    val doc2 = (setT ++ Seq.fill(19)(setT.head) ++ Seq("the", "a")).mkString(" ")
    val doc3 = (setT ++ setT.take(19) ++ Seq("the", "a")).mkString(" ")
    val corp7 = clean("c7")
    val rows = Seq(
      1L -> clean("g1"),
      2L -> doc2,
      3L -> doc3,
      4L -> (((0 until 38).map(i => f"c4w$i%02d") ++
        (10 until 15).map(i => f"b31w$i%02d") ++ Seq("the", "a")).mkString(" ")),
      5L -> corp7.split(" ").reverse.mkString(" "),
      6L -> clean("g1"),
      7L -> corp7,
      31L -> clean("b31"))
    val dir = docsDir(rows)
    val out = SparkEntry.queries("q_stream_curate")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(out.map(_._1).toSet == Set(3L, 6L),
      s"expected exactly docs 3 and 6 to survive: ${out.toSeq}")
    assert(out.forall(_._2 == 1L), s"each survivor is unique in its shard: ${out.toSeq}")
  }

  test("maxRunSql (sorted-run fold) equals the naive distinct×count dominance statistic") {
    // The quality gates' top_cnt moved from O(n·distinct) to O(n log n);
    // the DuckDB oracles keep the naive form, so engine↔oracle parity
    // rests on value equality of the two formulations — proven here over
    // 200 random token arrays from a 5-word pool (ties everywhere) plus
    // the single-token and all-identical edges.
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val pool = Vector("a", "b", "c", "dd", "eee")
    val rows = (0 until 200).map { i =>
      val k = 1 + rnd.nextInt(30)
      (i.toLong, Seq.fill(k)(pool(rnd.nextInt(pool.size))))
    } ++ Seq((1000L, Seq("solo")), (1001L, Seq.fill(7)("same")))
    val df = rows.toDF("id", "tok")
      .withColumn("st", array_sort($"tok"))
      .withColumn("fast", expr(graft.queries.Q.maxRunSql))
      .withColumn("naive", expr(
        "CAST(array_max(transform(array_distinct(tok), t -> size(filter(tok, x -> x = t)))) AS BIGINT)"))
    val bad = df.filter($"fast" =!= $"naive").collect()
    assert(bad.isEmpty, s"formulations diverge: ${bad.take(5).toSeq}")
    // Documented divergence (QueryDef scaladoc): empty array → 0 from the
    // fold, NULL from the naive form. Unreachable from split(), pinned so
    // the contract is explicit rather than accidental.
    val empty = Seq((0L, Seq.empty[String])).toDF("id", "tok")
      .withColumn("st", array_sort($"tok"))
      .select(expr(graft.queries.Q.maxRunSql)).collect().head
    assert(!empty.isNullAt(0) && empty.getLong(0) == 0L,
      s"empty-array fold contract changed: $empty")
  }

  test("grams5Sql (zip_with form) equals the index-transform 5-gram form") {
    // The gram builder moved to shifted-slice zip_with (filter-inlining
    // safety, QueryDef scaladoc); same elements in the same order as the
    // previous transform(sequence) form, including the <5-token empty case.
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val pool = Vector("a", "b", "c", "dd", "eee", "f")
    val rows = (0 until 120).map { i =>
      val k = rnd.nextInt(12) // includes 0..4 (below gram width)
      (i.toLong, Seq.fill(k)(pool(rnd.nextInt(pool.size))))
    }
    val df = rows.toDF("id", "tok")
      .withColumn("zw", expr(graft.queries.Q.grams5Sql))
      .withColumn("tr", expr(
        "IF(size(tok) < 5, array(), " +
          "array_distinct(transform(sequence(0, size(tok)-5), " +
          "i -> concat_ws(' ', tok[i], tok[i+1], tok[i+2], tok[i+3], tok[i+4]))))"))
      // sequence(0, negative) DESCENDS instead of being empty, so the old
      // form is only defined for size>=5 — compare there; below the width
      // the new form must yield [] on its own.
    val bad = df.filter(size($"tok") >= 5).filter($"zw" =!= $"tr").collect()
    assert(bad.isEmpty, s"gram forms diverge: ${bad.take(5).toSeq}")
    val shorts = df.filter(size($"tok") < 5).filter(size($"zw") =!= 0).collect()
    assert(shorts.isEmpty, s"short docs must yield no grams: ${shorts.take(5).toSeq}")
  }
}
