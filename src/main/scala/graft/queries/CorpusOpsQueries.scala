package graft.queries

import org.apache.spark.sql.functions._
import graft.tables.Tables._

/** Corpus-curation operators a training-data release pipeline runs between
  * raw ingest and tokenization: composite quality gating, batch-shape
  * (padding-waste) audit, snapshot diffing, rarity scoring against the
  * corpus unigram model, and tokenizer-training pair statistics.
  *
  * Determinism discipline (the cross-engine hash gate): every rule is
  * integer arithmetic — ratio thresholds are expressed as cross-multiplied
  * integer comparisons (`3·n ≤ sum_len` instead of `sum_len/n ≥ 3`), so no
  * float ever decides a boolean. The only doubles emitted are 4-dp rounded
  * ratios of exact int64s, always non-negative (no -0.0 normalization
  * needed, unlike the cosine queries).
  *
  * Scale shapes (100 TB):
  * - quality gate / length buckets: map-side per-doc rules + a bounded-key
  *   groupBy (20 sources / ≤7 buckets) — partial-aggregated, no data shuffle.
  * - snapshot diff: full-outer equi-join on the PK; at scale both snapshots
  *   are bucketed by doc_id so the diff co-locates with zero exchange.
  * - token rarity: the two-pass unigram-LM shape — vocab counts (bounded by
  *   true vocabulary, not corpus size) then an equi-join of exploded tokens
  *   against it; AQE broadcasts the vocab side while it fits.
  * - BPE pairs: pair stats are computed over DISTINCT words weighted by
  *   word frequency — the classic tokenizer-training optimization: the char
  *   fan-out is vocabulary-bounded, not corpus-bounded.
  */
object CorpusOpsQueries {

  /** Shared SemDeDup body (Abbas et al. 2023): k-means coarse clustering +
    * within-cluster exact-cosine near-dup detection with the greedy
    * lowest-id-keeps drop rule. The piece the banded-LSH dedup
    * (q_dedup_embedding) can't express: LSH recall decays with band width,
    * while SemDeDup's within-cell comparison is EXACT for any pair the
    * coarse quantizer co-locates.
    *
    * Scale shape: K is count-adaptive (K = ceil(n/256)) so expected cell
    * occupancy stays ~256 and within-cell pairs stay O(n) — ~128 pairs per
    * vector regardless of corpus size (the quadratic-per-cell cost is
    * bounded by the quantizer, which is the SemDeDup design point). Two
    * quantizers behind one K policy (`strategy` forces a branch for gating;
    * "auto" picks by scale):
    *  - K ≤ 2×10⁶ (or "table", which keeps it past that K): flat Lloyd
    *    training and assignment through ONE static nearest-cell kernel, the
    *    centroid matrix riding a broadcast VARIABLE
    *    ([[graft.operators.IvfKMeans.train]]/`assignCell`) — pure map-side
    *    assignment (no crossJoin, no argmin aggregate, no re-attach join)
    *    and one expression node in the plan at any K. q_semdedup_table
    *    shares q_semdedup's oracle. BENCH_SCALING ("Round-10 scale point:
    *    SemDeDup past the plan-literal cap") records this mechanism at
    *    262k+ vectors.
    *  - K > 2×10⁶ (or "hier"): the centroid matrix outgrows the executor
    *    ceiling (~0.5 GB/10⁶ centroids ⇒ ≈5×10⁸ vectors under n/256), so
    *    the quantizer goes hierarchical: ⌈√K⌉ coarse cells via the
    *    broadcast tier, then ONE shuffle of the vectors by coarse cell into
    *    a per-coarse-cell kernel that trains and assigns the sub-cells and
    *    emits their dedup stats in the same pass
    *    ([[graft.operators.IvfKMeans.hierarchicalDedupStats]]) — nothing
    *    broadcast-bounded by total K remains, per-vector comparisons stay
    *    ~√K. Scale shape: each vector crosses the wire once in stage 2, and
    *    a task holds one coarse cell, ≈ 16√n vectors under n/256: about
    *    185 MB of doubles (plus as many bytes of scale-12 decimals for the
    *    means) at the 5.1×10⁸-vector `auto` threshold — below the centroid
    *    matrix the table tier already broadcasts to every executor there
    *    (2×10⁶ × 64 doubles ≈ 1 GB). A different quantizer ⇒ different
    *    (still valid) cells, so this branch has its OWN oracle
    *    (q_semdedup_hier replays both k-means stages in SQL); the
    *    within-cell dedup semantics — the SemDeDup contract — are the
    *    same code in both branches.
    * The pair join shuffles each vector payload once per side into its cell
    * partition (2n rows), strictly cheaper than re-attaching vectors to the
    * ~128n candidate pairs by id. The oracle replays the SAME count-driven
    * K policy and Lloyd iterations in SQL (pol CTE — the q_dedup_embedding
    * band-policy pattern), so engine and oracle agree at every scale.
    */
  private def semdedup(
      s: org.apache.spark.sql.SparkSession, d: String, strategy: String
  ): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    import graft.operators.IvfKMeans
    val e = embeddings(s, d)
      .select($"vec_id", expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = e.count() // materializes the persist it would pay anyway
    val k = math.max(1L, math.ceil(n / 256.0).toLong)
    val threshold = 0.45
    val stats = if (strategy == "hier" || (strategy == "auto" && k > 2000000L)) {
      val k1 = math.max(1L, math.ceil(math.sqrt(k.toDouble)).toLong)
      require(k1 <= 2000000L, // K ≈ 4×10¹² — n beyond 10¹⁵ vectors
        s"hierarchical coarse stage exceeds the broadcast ceiling (K1=$k1)")
      // the sub-cells' dedup stats come out of the same per-coarse-cell
      // pass that assigns them; the small result is checkpointed so the
      // corpus projection can be released before returning
      IvfKMeans.hierarchicalDedupStats(s, e, k1.toInt, iters = 2, threshold).localCheckpoint()
    } else {
      val seedPool = e.filter($"vec_id" % 97 === 0).orderBy($"vec_id").limit(k.toInt)
      // the assignment artifact feeds the self-join's two arms + the cell
      // stats: materialize it ONCE as an eager checkpoint (a persist here
      // would register its cache only when the CALLER materializes, then
      // outlive the fn — CacheHygieneSpec pins no-residue), and release
      // the corpus projection cache the Lloyd passes consumed. A/B at sf1
      // (round 12, isolated 3-trial medians, calibrated): checkpoint 5.24
      // vs persist 4.97 units on q_semdedup_hier (the join formulation of
      // its stage 2) — the hygiene guarantee costs ~5% here, paid knowingly.
      // The driver collect is K rows (≤ ~1 GB at the 2e6 policy ceiling) —
      // the same rows any broadcast build ships through the driver.
      val seeds: Seq[(Long, Seq[Double])] =
        seedPool.collect().toSeq.map(r => (r.getLong(0), r.getSeq[Double](1)))
      val cents = IvfKMeans.train(s, e, seeds, iters = 2)
      val assigned = e.withColumn("cell", IvfKMeans.assignCell(s, cents, $"v"))
        .localCheckpoint()
      // Within-cell exact dedup as ONE aggregate (round 21): the former cell
      // self-join (two cell-partitioned exchanges + two sorts + ~128n pair
      // rows through the cosine filter) + separate n_vecs aggregate + left
      // join re-attach collapse into a single groupBy(cell) — each vector
      // crosses the wire once and the O(occupancy²) comparison loop runs in
      // [[graft.functions.SemDedupPairStats]]'s primitive-array kernel,
      // bit-identical to the join formulation by construction (Round21OpsSpec
      // proves it against the join form end-to-end; the shared oracle
      // certifies it at every SF). guide §2.3/§2.4.
      assigned.groupBy($"cell")
        .agg(
          count(lit(1)).as("n_vecs"),
          graft.functions.SemDedupPairStats.pairStats(s, $"vec_id", $"v", threshold).as("ps"))
        .select($"cell", $"n_vecs",
          $"ps.n_dup_pairs".as("n_dup_pairs"),
          $"ps.n_dropped".as("n_dropped"))
    }
    e.unpersist(blocking = false)
    stats.orderBy($"cell")
  }

  /** One oracle for both SemDeDup keys: the two assignment strategies are
    * bit-identical, so the SQL replay (count-driven K policy + pinned Lloyd
    * iterations) certifies either. */
  private val semdedupOracleSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |n AS (
       |  SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
       |pol AS (SELECT CAST(CEIL(COUNT(*) / 256.0) AS BIGINT) AS k FROM e),
       |c0 AS (
       |  SELECT cid, cv, cnrm FROM (
       |    SELECT vec_id AS cid, v AS cv, nrm AS cnrm,
       |      ROW_NUMBER() OVER (ORDER BY vec_id) AS rk
       |    FROM n WHERE vec_id % 97 = 0) s, pol
       |  WHERE s.rk <= pol.k),
       |${PipelineQueries.lloydIterSql(0)},
       |${PipelineQueries.lloydIterSql(1)},
       |asg AS (
       |  SELECT vec_id, cid,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos6 DESC, cid) AS rk
       |  FROM (
       |    SELECT n.vec_id, c.cid,
       |      ROUND(list_sum(list_transform(range(1, 65), i -> n.v[i] * c.cv[i])) / (n.nrm * c.cnrm), 6) AS cos6
       |    FROM n, c2 c)),
       |cells AS (SELECT vec_id, cid AS cell FROM asg WHERE rk = 1),
       |pr AS (
       |  SELECT a.cell, a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM cells a
       |  JOIN cells b ON a.cell = b.cell AND a.vec_id < b.vec_id
       |  JOIN n na ON na.vec_id = a.vec_id
       |  JOIN n nb ON nb.vec_id = b.vec_id
       |  WHERE ROUND(list_sum(list_transform(range(1, 65), i -> na.v[i] * nb.v[i]))
       |          / (na.nrm * nb.nrm), 4) >= 0.45),
       |cs AS (SELECT cell, COUNT(*) AS n_vecs FROM cells GROUP BY cell),
       |ps AS (
       |  SELECT cell, COUNT(*) AS n_dup_pairs, COUNT(DISTINCT id_b) AS n_dropped
       |  FROM pr GROUP BY cell)
       |SELECT cell, n_vecs,
       |  COALESCE(n_dup_pairs, 0) AS n_dup_pairs,
       |  COALESCE(n_dropped, 0) AS n_dropped
       |FROM cs LEFT JOIN ps USING (cell) ORDER BY cell""".stripMargin

  /** One sub-stage Lloyd iteration for the hierarchical oracle: assignment
    * joins each vector to ITS coarse cell's sub-centroids only (`USING
    * (ccell)` — what [[graft.operators.SubCellKernel]] does per coarse
    * cell), means are grouped per (ccell, cid, dim) with the same exact
    * decimal(38,12) sums. Emits `sasg$k`, `sm$k`, `s${k+1}` over `nc`/`s$k`. */
  private def subLloydIterSql(k: Int): String =
    s"""sasg$k AS (
       |  SELECT vec_id, ccell, cid FROM (
       |    SELECT nc.vec_id, nc.ccell, c.cid,
       |      ROW_NUMBER() OVER (PARTITION BY nc.vec_id ORDER BY
       |        ROUND(list_sum(list_transform(range(1, 65), i -> nc.v[i] * c.cv[i])) / (nc.nrm * c.cnrm), 6) DESC,
       |        c.cid) AS rk
       |    FROM nc JOIN s$k c USING (ccell)) WHERE rk = 1),
       |sm$k AS (
       |  SELECT a.ccell, a.cid, r.i,
       |    ROUND(CAST(SUM(CAST(nc.v[r.i] AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*), 6) AS mx
       |  FROM sasg$k a JOIN nc USING (vec_id), range(1, 65) r(i)
       |  GROUP BY a.ccell, a.cid, r.i),
       |s${k + 1} AS (
       |  SELECT ccell, cid, list(mx ORDER BY i) AS cv,
       |    sqrt(list_sum(list_transform(list(mx ORDER BY i), x -> x * x))) AS cnrm
       |  FROM sm$k GROUP BY ccell, cid)""".stripMargin

  /** Oracle for the hierarchical (K > 2e6 production) branch: both k-means
    * stages replayed in SQL — coarse seeds bounded by K1 = ⌈√K⌉, the shared
    * flat Lloyd iterations, coarse assignment, per-cell sub-seed selection
    * (row_number ≤ ⌈n_c/256⌉ over vec_id order), two sub-iterations, final
    * within-cell assignment — then the byte-identical dedup tail. */
  private val semdedupHierOracleSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |n AS (
       |  SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
       |pol AS (SELECT CAST(CEIL(COUNT(*) / 256.0) AS BIGINT) AS k FROM e),
       |pol1 AS (SELECT CAST(CEIL(SQRT(CAST(k AS DOUBLE))) AS BIGINT) AS k1 FROM pol),
       |c0 AS (
       |  SELECT cid, cv, cnrm FROM (
       |    SELECT vec_id AS cid, v AS cv, nrm AS cnrm,
       |      ROW_NUMBER() OVER (ORDER BY vec_id) AS rk
       |    FROM n WHERE vec_id % 97 = 0) s, pol1
       |  WHERE s.rk <= pol1.k1),
       |${PipelineQueries.lloydIterSql(0)},
       |${PipelineQueries.lloydIterSql(1)},
       |casg AS (
       |  SELECT vec_id, cid AS ccell FROM (
       |    SELECT n.vec_id, c.cid,
       |      ROW_NUMBER() OVER (PARTITION BY n.vec_id ORDER BY
       |        ROUND(list_sum(list_transform(range(1, 65), i -> n.v[i] * c.cv[i])) / (n.nrm * c.cnrm), 6) DESC,
       |        c.cid) AS rk
       |    FROM n, c2 c) WHERE rk = 1),
       |nc AS (SELECT n.vec_id, casg.ccell, n.v, n.nrm FROM n JOIN casg USING (vec_id)),
       |s0 AS (
       |  SELECT ccell, vec_id AS cid, v AS cv, nrm AS cnrm FROM (
       |    SELECT ccell, vec_id, v, nrm,
       |      ROW_NUMBER() OVER (PARTITION BY ccell ORDER BY vec_id) AS rk,
       |      COUNT(*) OVER (PARTITION BY ccell) AS n_c
       |    FROM nc)
       |  WHERE rk <= CAST(CEIL(n_c / 256.0) AS BIGINT)),
       |${subLloydIterSql(0)},
       |${subLloydIterSql(1)},
       |cells AS (
       |  SELECT vec_id, cid AS cell FROM (
       |    SELECT nc.vec_id, c.cid,
       |      ROW_NUMBER() OVER (PARTITION BY nc.vec_id ORDER BY
       |        ROUND(list_sum(list_transform(range(1, 65), i -> nc.v[i] * c.cv[i])) / (nc.nrm * c.cnrm), 6) DESC,
       |        c.cid) AS rk
       |    FROM nc JOIN s2 c USING (ccell)) WHERE rk = 1),
       |pr AS (
       |  SELECT a.cell, a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM cells a
       |  JOIN cells b ON a.cell = b.cell AND a.vec_id < b.vec_id
       |  JOIN n na ON na.vec_id = a.vec_id
       |  JOIN n nb ON nb.vec_id = b.vec_id
       |  WHERE ROUND(list_sum(list_transform(range(1, 65), i -> na.v[i] * nb.v[i]))
       |          / (na.nrm * nb.nrm), 4) >= 0.45),
       |cs AS (SELECT cell, COUNT(*) AS n_vecs FROM cells GROUP BY cell),
       |ps AS (
       |  SELECT cell, COUNT(*) AS n_dup_pairs, COUNT(DISTINCT id_b) AS n_dropped
       |  FROM pr GROUP BY cell)
       |SELECT cell, n_vecs,
       |  COALESCE(n_dup_pairs, 0) AS n_dup_pairs,
       |  COALESCE(n_dropped, 0) AS n_dropped
       |FROM cs LEFT JOIN ps USING (cell) ORDER BY cell""".stripMargin

  /** The paragraph-dedup mechanism behind `q_dedup_paragraph`, with the
    * paragraph EXTRACTION pluggable (the r12 verdict's item 6 — the
    * chunking rule is a stand-in for split-on-blank-line because the
    * synthetic corpus is newline-free; both modes must run the identical
    * dedup computation):
    *  - `mode = "chunk"`: consecutive 10-token tiles of the space-split
    *    text (the sf* oracle contract). Fused tiling: the HOF form
    *    embedded split(text) INSIDE the lambda, and interpreted HOFs
    *    re-evaluate outer references per iteration — one re-split per
    *    chunk, O(n²/10) per doc. One split + the compiled ChunkTexts pass
    *    emits the identical strings (array_join and concat_ws share
    *    null-skip join semantics; Round11OpsSpec pins the 10/10 shape).
    *  - `mode = "blankline"`: real paragraph boundaries — split on blank
    *    lines (`\n{2,}`, CCNet's unit), empties dropped. Proven equivalent
    *    to chunk mode on an aligned fixture in Round13OpsSpec (same
    *    counts AND the same kept-text fingerprint when each blank-line
    *    paragraph carries exactly 10 tokens).
    * Everything downstream of extraction is shared: keep-first over the
    * corpus-wide (doc_id, position) order per chunk md5, then
    * order-preserving reassembly fingerprint.
    */
  private[graft] def paragraphDedup(
      s: org.apache.spark.sql.SparkSession,
      docs: org.apache.spark.sql.DataFrame,
      mode: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val chunks = mode match {
      case "chunk" =>
        docs
          .select($"doc_id", split($"text", " ").as("tok"))
          .select($"doc_id", posexplode(
            graft.functions.ChunkTexts.chunkTexts(s, $"tok", 10, 10))
            .as(Seq("chunk_idx", "chunk")))
      case "blankline" =>
        docs
          .select($"doc_id", posexplode(split($"text", "\\n{2,}"))
            .as(Seq("chunk_idx", "chunk")))
          .filter(trim($"chunk") =!= "")
      case other => throw new IllegalArgumentException(s"unknown mode $other")
    }
    chunks
      .withColumn("n_chunks", count(lit(1)).over(Window.partitionBy($"doc_id")))
      .withColumn("rn", row_number().over(
        Window.partitionBy(md5($"chunk")).orderBy($"doc_id", $"chunk_idx")))
      .filter($"rn" === 1)
      .groupBy($"doc_id")
      .agg(
        first($"n_chunks").as("n_chunks"),
        count(lit(1)).as("n_kept"),
        expr("md5(array_join(transform(array_sort(collect_list(struct(chunk_idx, chunk))), x -> x.chunk), ' '))")
          .as("kept_fp"))
      .orderBy($"doc_id")
  }

  // ------------------------------------------------------------------ BPE
  // Shared machinery of the tokenizer loop (q_bpe_train / q_bpe_train_batch
  // train the merge table; q_bpe_apply runs it over the corpus).
  //
  // Representation: every symbol carries its OWN '|…|' wrapper — 'the' is
  // '|t||h||e|' — so merge (a,b) is ONE left-to-right non-overlapping
  // replace(symstr, '|a||b|', '|ab|') in BOTH engines, which IS the BPE
  // greedy-apply rule: both symbol boundaries are explicit in the pattern
  // (no false match against a symbol merely PREFIXED by b — the round-14
  // defect), and adjacent occurrences share no characters (each symbol
  // owns its wrappers), so a==b chains resolve exactly greedily in one
  // pass ('aaaaa' → [aa,aa,a]) — the property a '|a|b|' pattern over
  // singly-delimited text loses (shared boundary '|' forces a fixpoint
  // loop that merges [aa,a,aa]). Tokens containing '|' or non-printables
  // are excluded by the same regex both sides.

  /** The word-frequency vocabulary in wrapped-symbol form — (symstr,
    * wcnt), materialized once: the ONLY corpus-wide pass of the whole BPE
    * loop; every training iteration and the apply's merge replay run on
    * this vocabulary-bounded table.
    */
  private[graft] def bpeVocab(s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    documents(s, d)
      .select(explode(split($"text", " ")).as("tok"))
      .filter($"tok".rlike("^[!-{}-~]+$"))
      .select(regexp_replace($"tok", "(.)", "|$1|").as("symstr"))
      .groupBy($"symstr").agg(count(lit(1)).as("wcnt"))
      .localCheckpoint()
  }

  /** Adjacent-pair counts over a wrapped-symbol vocabulary — (a, b, cnt),
    * weighted by word frequency; one partial-aggregable shuffle bounded by
    * the live pair alphabet. */
  private def bpePairs(w: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    w.withColumn("syms",
        expr("split(substring(symstr, 2, length(symstr) - 2), '\\\\|\\\\|')"))
      .select(col("wcnt"), explode(expr(
        """zip_with(slice(syms, 1, size(syms) - 1),
          |         slice(syms, 2, size(syms) - 1),
          |         (a, b) -> struct(a AS a, b AS b))""".stripMargin)).as("pr"))
      .groupBy(col("pr.a").as("a"), col("pr.b").as("b"))
      .agg(sum(col("wcnt")).as("cnt"))

  /** Greedy application of merge (a,b) to the vocabulary — the one-pass
    * replace under the wrapped representation (exactness argued at the
    * section comment). */
  private def bpeApplyMerge(w: org.apache.spark.sql.DataFrame, a: String, b: String): org.apache.spark.sql.DataFrame =
    w.withColumn("p", lit("|" + a + "||" + b + "|"))
      .withColumn("q", lit("|" + a + b + "|"))
      .select(col("wcnt"), expr("replace(symstr, p, q)").as("symstr"))

  /** The tokenize-apply oracle (shared verbatim by q_bpe_apply and
    * q_bpe_apply_shuffle — same semantics, different join mechanism, so
    * one SQL string certifies row parity across the policy's two arms):
    * replay the 4-merge training staged-CTE, derive the word→tokenization
    * map from the post-merge vocabulary, tokenize every document, and
    * hash each document's exact ordered token sequence. */
  private def bpeApplySql: String =
    s"""WITH ${bpeTrainCtes(4, applyLast = true)},
       |mp AS (
       |  SELECT replace(symstr, '|', '') AS word,
       |    substring(symstr, 2, length(symstr) - 2) AS core,
       |    CAST((length(symstr) - length(replace(symstr, '|', ''))) // 2 AS BIGINT) AS n_tok
       |  FROM w4),
       |ct AS (
       |  SELECT doc_id, CAST(i AS BIGINT) AS pos, toks[CAST(i AS INT)] AS tok FROM (
       |    SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS i FROM (
       |      SELECT doc_id, string_split(text, ' ') AS toks FROM documents))
       |  WHERE regexp_matches(toks[CAST(i AS INT)], '^[!-{}-~]+$$')),
       |j AS (SELECT ct.doc_id, ct.pos, mp.core, mp.n_tok FROM ct JOIN mp ON ct.tok = mp.word)
       |SELECT doc_id, COUNT(*) AS n_words,
       |  CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
       |  md5(string_agg(core, ' ' ORDER BY pos)) AS tok_fp
       |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Vocab-map join ceiling for [[bpeApplyTokenize]] — rows, not bytes,
    * because the decision is taken BEFORE the map is serialized and a map
    * row is small and uniform (word + core + count). 2e6 rows ≈ low
    * hundreds of MB broadcast — the same ceiling the semdedup broadcast
    * tier uses; a real tokenizer artifact (≤~10⁵ merges, Heaps-law vocab)
    * sits orders of magnitude below it. */
  private[graft] val BpeVocabBroadcastCap = 2000000L

  /** Tokenize the corpus with the merge table the 4-merge trainer induces —
    * the shared body of q_bpe_apply and its forced-shuffle twin. The merge
    * replay is vocabulary-side (the driver loop over the checkpointed
    * vocab); the corpus pass is ONE map-side explode joined against the
    * word→tokenization map under a SIZE-GATED policy: while the measured
    * vocab row count fits `vocabRowCap`, the map broadcasts (map-only
    * corpus pass, the per-doc aggregate partial-aggregates, one result-row
    * exchange — the plan PlanQualitySpec gates); past the cap the SAME
    * semantics degrade to a shuffle-hash equi-join on word (vocab as the
    * per-partition build side — never a sort of the exploded token
    * stream). The count that drives the gate is vocabulary-bounded (one
    * aggregate over the checkpointed vocab), not a corpus pass.
    */
  private[graft] def bpeApplyTokenize(
      s: org.apache.spark.sql.SparkSession, d: String,
      vocabRowCap: Long): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    var w = bpeVocab(s, d)
    for (_ <- 1 to 4) {
      // bounded: ONE row per iteration (the trainer's argmax reduce)
      val top = bpePairs(w).orderBy($"cnt".desc, $"a", $"b")
        .limit(1).collect()(0)
      w = bpeApplyMerge(w, top.getString(0), top.getString(1)).localCheckpoint()
    }
    val map = w.select(
      expr("replace(symstr, '|', '')").as("word"),
      expr("substring(symstr, 2, length(symstr) - 2)").as("core"),
      expr("CAST((length(symstr) - length(replace(symstr, '|', ''))) div 2 AS BIGINT)")
        .as("n_tok"))
    val corpus = documents(s, d)
      .select($"doc_id", posexplode(split($"text", " ")).as(Seq("pos", "tok")))
      .filter($"tok".rlike("^[!-{}-~]+$"))
    val joined =
      if (w.count() <= vocabRowCap) corpus.join(broadcast(map), $"tok" === $"word")
      else corpus.join(map.hint("shuffle_hash"), $"tok" === $"word")
    joined
      .groupBy($"doc_id")
      .agg(
        count(lit(1)).as("n_words"),
        sum($"n_tok").as("n_tokens"),
        expr("md5(array_join(transform(array_sort(collect_list(struct(pos, core))), x -> x.core), ' '))")
          .as("tok_fp"))
      .orderBy($"doc_id")
  }

  /** DuckDB pair-count CTE over wrapped-symbol vocabulary `w` → `p (a, b, cnt)`. */
  private def bpePairCte(p: String, w: String): String =
    s"""$p AS (
       |  SELECT sy[CAST(i AS INT)] AS a, sy[CAST(i + 1 AS INT)] AS b, SUM(wcnt) AS cnt FROM (
       |    SELECT wcnt, sy, unnest(range(1, len(sy))) AS i FROM (
       |      SELECT wcnt, string_split(substring(symstr, 2, length(symstr) - 2), '||') AS sy FROM $w)) GROUP BY a, b)""".stripMargin

  /** Greedy non-interacting batch selection from a ranked pair pool — the
    * pure selection rule of [[bpeTrainBatched]], factored out so the spec
    * can force its skip cases directly (Round16OpsSpec). Walks the pool in
    * (cnt DESC, a, b) rank order and takes a pair iff
    *  (1) neither symbol was a symbol of an already-selected pair
    *      (symbol-disjointness), AND
    *  (2) neither symbol EQUALS the concatenation a+b of an
    *      already-selected pair (concat exclusion).
    * (1) makes the published counts exact: applying merge (a,b) changes
    * the count only of pairs containing a or b (destroyed: the consumed
    * (x,a)/(a,b)/(b,y) adjacencies; created: (x,ab)/(ab,y)). (2) closes
    * the one gap in that argument: a later pair CONTAINING the string a+b
    * as a symbol (e.g. (w, 'xy') after selecting (x,y), where 'xy' already
    * exists from an earlier different-split merge) would, in the chained
    * apply, also merge the 'xy' instances NEWLY created by (x,y) — a
    * sequential recount would have seen a different count. We have not
    * found a corpus that can reach such a pool under the wrapped
    * representation (every constructed attempt collapses: once one split
    * of a string fires, the other split's source adjacencies are
    * unreachable), but the argument is not a proof, so the exclusion makes
    * count-exactness unconditional. Selection stops at `batchM` picks or
    * `remaining` merges, whichever is smaller. */
  private[graft] def bpeSelectBatch(
      pool: Seq[(String, String, Long)],
      batchM: Int, remaining: Int): Seq[(String, String, Long)] = {
    val used = scala.collection.mutable.Set.empty[String]
    val sel = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    val it = pool.iterator
    while (sel.size < batchM && sel.size < remaining && it.hasNext) {
      val (a, b, c) = it.next()
      if (!used.contains(a) && !used.contains(b)) {
        sel += ((a, b, c)); used += a; used += b; used += (a + b)
      }
    }
    sel.toSeq
  }

  /** Ranked-pool width policy: the pool must survive [[bpeSelectBatch]]'s
    * skips (each pick consumes two symbols plus its concatenation, so a
    * contentious prefix can reject several candidates per pick) and still
    * yield batchM disjoint pairs — a pool that does not scale with the
    * batch silently starves selection and the iteration count creeps back
    * toward sequential (the round-16 verdict's fixed-64-literal item).
    * 4× the batch with the original 64 floor; still a bounded driver
    * collect (1024 rows at the production batchM=256).
    */
  private[graft] def adaptivePoolK(batchM: Int): Int = math.max(64, 4 * batchM)

  /** Multi-merge batched BPE training — the iteration protocol that makes
    * a production vocabulary (~32k merges) affordable: the sequential
    * trainer pays one pair-count shuffle + one driver argmax round-trip
    * PER MERGE (32k Spark jobs); this variant takes, per iteration, the
    * top-`batchM` NON-INTERACTING pairs ([[bpeSelectBatch]]: greedy in
    * (cnt DESC, a, b) rank order, skipping any pair sharing a symbol with
    * — or equal to the concatenation of — an already-selected one) and
    * applies them in ONE combined vocabulary pass (chained replaces in a
    * single projection, rank order preserved).
    *
    * Why the selection rule makes the batch sound: applying merge (a,b)
    * changes the count only of pairs containing a, b, or the new symbol
    * a+b, so every later selected pair's published count equals what a
    * sequential recount would have shown — and the chained one-pass apply
    * is literally the sequential replace composition, so the vocabulary
    * state matches too. Spec-proven in Round16OpsSpec: batchM=1 reproduces
    * q_bpe_train exactly at sf0.001 AND on both round-15 adversarial
    * fixtures; a disjoint-top fixture reproduces the sequential merge
    * table at batchM=4 in a single iteration; the concat-exclusion skip is
    * forced directly on [[bpeSelectBatch]]. The residual divergence from
    * sequential training is selection-only: a NEW pair created mid-batch
    * ((x,ab)) cannot be seen until the next recount, and a SKIPPED
    * conflicting pair is deferred — the standard trade of batched BPE.
    * `poolK` bounds the ranked pool collected per iteration (the batch
    * trainer's global reduce — poolK rows instead of batchM separate
    * 1-row argmax jobs).
    */
  private[graft] def bpeTrainBatched(
      s: org.apache.spark.sql.SparkSession, d: String,
      nMerges: Int, batchM: Int, poolK: Int = -1,
      minPairCount: Long = 1L): org.apache.spark.sql.DataFrame =
    bpeTrainLoop(s, bpeVocab(s, d), nMerges, batchM, poolK, minPairCount)

  /** The trainer loop of [[bpeTrainBatched]] starting from an
    * already-materialized wrapped-symbol vocabulary (its timings, apart
    * from the shared corpus→vocabulary pass, are recorded in BENCH_SCALING
    * round 16, "The batched trainer loop, measured"). `poolK = -1` resolves to
    * [[adaptivePoolK]]. NATURAL STOP RULE (round 17): training ends at
    * `nMerges` OR when no remaining pair reaches `minPairCount` —
    * production BPE's termination (a merge seen once generalizes to
    * nothing; the vocabulary size target is a cap, not a quota), and the
    * reason a run on a vocabulary that exhausts early returns the merges
    * that exist instead of throwing.
    */
  private[graft] def bpeTrainLoop(
      s: org.apache.spark.sql.SparkSession,
      w0: org.apache.spark.sql.DataFrame,
      nMerges: Int, batchM: Int, poolK: Int,
      minPairCount: Long = 1L): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    require(minPairCount >= 1L, s"minPairCount $minPairCount must be positive")
    val k = if (poolK == -1) adaptivePoolK(batchM) else poolK
    var w = w0
    var dry = false
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    while (merges.size < nMerges && !dry) {
      // bounded: poolK ranked rows through the driver per iteration; the
      // stop threshold prunes INSIDE the rank order, so a below-threshold
      // pair can never be selected and an all-below pool ends training
      val pool = bpePairs(w).orderBy($"cnt".desc, $"a", $"b").limit(k).collect()
        .toSeq.map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        .takeWhile(_._3 >= minPairCount)
      if (pool.isEmpty) dry = true
      else {
        val sel = bpeSelectBatch(pool, batchM, nMerges - merges.size)
        // ONE kernel pass applies the whole batch (value-identical to the
        // chained per-merge replaces — BpeBatchApply scaladoc + Round16OpsSpec;
        // the replace chain's measured floor is ~85 ms PER MERGE over the sf4
        // vocabulary, the kernel is one parse + presence-set lookups per word)
        val applied = org.apache.spark.sql.GraftColumnBridge.column(
          graft.functions.BpeBatchApply(
            org.apache.spark.sql.GraftColumnBridge.expression(col("symstr")),
            sel.map { case (a, b, _) => (a, b) }))
        w = w.select(col("wcnt"), applied.as("symstr"))
          .localCheckpoint() // one action per BATCH, not per merge
        sel.foreach { case (a, b, c) => merges += ((merges.size + 1L, a, b, c)) }
      }
    }
    merges.toSeq.toDF("rank", "merge_left", "merge_right", "pair_count")
      .orderBy($"rank")
  }

  /** DuckDB replay of the BATCHED trainer at batchM=2 for one iteration k:
    * the ranked pair table `rk`, the batch's first pick `s{k}a` (rank 1)
    * and second pick `s{k}b` (the highest-ranked pair within the poolK
    * window sharing no symbol with the first AND not containing the first
    * pick's concatenation — [[bpeSelectBatch]]'s rule; greedy at M=2 needs
    * no recursion). */
  private def bpeBatchSelCtes(k: Int, poolK: Int): String =
    s"""r$k AS (SELECT a, b, cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, a, b) AS rk FROM p$k),
       |s${k}a AS (SELECT a, b, cnt FROM r$k WHERE rk = 1),
       |s${k}b AS (
       |  SELECT a, b, cnt FROM r$k
       |  WHERE rk <= $poolK
       |    AND a NOT IN (SELECT a FROM s${k}a UNION ALL SELECT b FROM s${k}a
       |                  UNION ALL SELECT a || b FROM s${k}a)
       |    AND b NOT IN (SELECT a FROM s${k}a UNION ALL SELECT b FROM s${k}a
       |                  UNION ALL SELECT a || b FROM s${k}a)
       |  ORDER BY rk LIMIT 1)""".stripMargin

  /** DuckDB replay of the full BATCHED training loop at batchM=2:
    * `tk`/`w0` (the wrapped vocabulary), then per iteration k: `pk`
    * (pair counts), the selection CTEs ([[bpeBatchSelCtes]]), and
    * `w{k+1}` — BOTH picks applied in rank order as one chained replace,
    * exactly [[bpeTrainBatched]]'s combined vocabulary pass. Precondition
    * (checked by the correctness gate itself — a missing second pick
    * yields NULL symstrs and a hash mismatch): every iteration finds a
    * second non-interacting pair within the poolK window. */
  private[graft] def bpeBatchTrainCtes(nIter: Int, poolK: Int): String = {
    val parts = Seq.newBuilder[String]
    parts += """tk AS (
               |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents)""".stripMargin
    parts += """w0 AS (
               |  SELECT regexp_replace(tok, '(.)', '|\1|', 'g') AS symstr, COUNT(*) AS wcnt
               |  FROM tk WHERE regexp_matches(tok, '^[!-{}-~]+$') GROUP BY 1)""".stripMargin
    for (k <- 0 until nIter) {
      parts += bpePairCte(s"p$k", s"w$k")
      parts += bpeBatchSelCtes(k, poolK)
      if (k < nIter - 1)
        parts += s"""w${k + 1} AS (
                    |  SELECT replace(replace(symstr,
                    |    '|' || (SELECT a FROM s${k}a) || '||' || (SELECT b FROM s${k}a) || '|',
                    |    '|' || (SELECT a FROM s${k}a) || (SELECT b FROM s${k}a) || '|'),
                    |    '|' || (SELECT a FROM s${k}b) || '||' || (SELECT b FROM s${k}b) || '|',
                    |    '|' || (SELECT a FROM s${k}b) || (SELECT b FROM s${k}b) || '|') AS symstr, wcnt FROM w$k)""".stripMargin
    }
    parts.result().mkString(",\n")
  }

  /** DuckDB replay of the full training loop: `tk`/`w0` (the wrapped
    * vocabulary), then per merge k: `pk` (pair counts), `mk` (the argmax),
    * `w{k+1}` (the vocabulary after applying mk). `applyLast` additionally
    * emits `w$n` so a consumer (q_bpe_apply's oracle) can read the
    * post-all-merges vocabulary. */
  private[graft] def bpeTrainCtes(n: Int, applyLast: Boolean = false): String = {
    val parts = Seq.newBuilder[String]
    parts += """tk AS (
               |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents)""".stripMargin
    parts += """w0 AS (
               |  SELECT regexp_replace(tok, '(.)', '|\1|', 'g') AS symstr, COUNT(*) AS wcnt
               |  FROM tk WHERE regexp_matches(tok, '^[!-{}-~]+$') GROUP BY 1)""".stripMargin
    for (k <- 0 until n) {
      parts += bpePairCte(s"p$k", s"w$k")
      parts += s"m$k AS (SELECT a, b, cnt FROM p$k ORDER BY cnt DESC, a, b LIMIT 1)"
      if (k < n - 1 || applyLast)
        parts += s"""w${k + 1} AS (
                    |  SELECT replace(symstr,
                    |    '|' || (SELECT a FROM m$k) || '||' || (SELECT b FROM m$k) || '|',
                    |    '|' || (SELECT a FROM m$k) || (SELECT b FROM m$k) || '|') AS symstr, wcnt FROM w$k)""".stripMargin
    }
    parts.result().mkString(",\n")
  }

  val entries: Map[String, QueryDef] = Map(

    "q_quality_gopher" -> QueryDef(
      // Gopher-style composite quality rules (Rae et al. 2021 §A1.1 shape):
      // word-count bounds, mean-word-length bounds, single-token dominance
      // (repetition), and minimum distinct-stopword presence — reported as a
      // per-source rule-failure profile, the dataset-card table a curation
      // run publishes before deciding per-source filtering.
      (s, d) => {
        import s.implicits._
        val rules = documents(s, d)
          .select($"doc_id", $"source", split($"text", " ").as("tok"))
          .withColumn("n_tokens", size($"tok").cast("long"))
          // fused gate kernels (value-identical to the HOF chains —
          // Round11OpsSpec; max_run_sorted sorts internally, so no st col)
          .withColumn("sum_len", graft.functions.GopherKernels.tokCharSum(s, $"tok"))
          .withColumn("top_cnt", graft.functions.GopherKernels.maxRunSorted(s, $"tok"))
          .withColumn("n_stop", graft.functions.GopherKernels.stopwordHits(s, $"tok"))
          // integer cross-multiplication: no float decides a rule
          .withColumn("f_wordcount", !$"n_tokens".between(40L, 100000L))
          .withColumn("f_wordlen",
            $"sum_len" < $"n_tokens" * 3L || $"sum_len" > $"n_tokens" * 10L)
          .withColumn("f_repetition", $"top_cnt" * 5L > $"n_tokens")
          .withColumn("f_stopword", $"n_stop" < 2)
        rules.groupBy($"source")
          .agg(
            count(lit(1)).as("n_docs"),
            sum(when($"f_wordcount", 1L).otherwise(0L)).as("n_fail_wordcount"),
            sum(when($"f_wordlen", 1L).otherwise(0L)).as("n_fail_wordlen"),
            sum(when($"f_repetition", 1L).otherwise(0L)).as("n_fail_repetition"),
            sum(when($"f_stopword", 1L).otherwise(0L)).as("n_fail_stopword"),
            sum(when(!$"f_wordcount" && !$"f_wordlen" && !$"f_repetition" && !$"f_stopword",
              1L).otherwise(0L)).as("n_pass"))
          .orderBy($"source")
      },
      Some("""WITH t AS (
             |  SELECT doc_id, source, string_split(text, ' ') AS tok FROM documents),
             |r AS (
             |  SELECT source,
             |    CAST(len(tok) AS BIGINT) AS n_tokens,
             |    CAST(list_sum(list_transform(tok, x -> len(x))) AS BIGINT) AS sum_len,
             |    CAST(list_max(list_transform(list_distinct(tok), w -> len(list_filter(tok, x -> x = w)))) AS BIGINT) AS top_cnt,
             |    len(list_filter(['the','a','of','and','to','in'], w -> list_contains(tok, w))) AS n_stop
             |  FROM t),
             |f AS (
             |  SELECT source,
             |    NOT (n_tokens BETWEEN 40 AND 100000) AS f_wordcount,
             |    (sum_len < n_tokens * 3 OR sum_len > n_tokens * 10) AS f_wordlen,
             |    top_cnt * 5 > n_tokens AS f_repetition,
             |    n_stop < 2 AS f_stopword
             |  FROM r)
             |SELECT source, COUNT(*) AS n_docs,
             |  CAST(SUM(CASE WHEN f_wordcount THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_wordcount,
             |  CAST(SUM(CASE WHEN f_wordlen THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_wordlen,
             |  CAST(SUM(CASE WHEN f_repetition THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_repetition,
             |  CAST(SUM(CASE WHEN f_stopword THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_stopword,
             |  CAST(SUM(CASE WHEN NOT f_wordcount AND NOT f_wordlen AND NOT f_repetition AND NOT f_stopword THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
             |FROM f GROUP BY source ORDER BY source""".stripMargin)
    ),

    "q_length_buckets" -> QueryDef(
      // Sequence-length bucket histogram + padding-waste audit: docs are
      // assigned to the power-of-two context bucket their token count needs,
      // and each bucket reports how many pad tokens a fixed-shape training
      // batch would burn. The bucket ladder is an explicit CASE (identical
      // branch semantics in both engines — no float log2 at exact powers of
      // two). waste_ratio4 is the ratio of two exact int64s.
      (s, d) => {
        import s.implicits._
        documents(s, d)
          .select(size(split($"text", " ")).cast("long").as("n_tokens"))
          .withColumn("bucket",
            when($"n_tokens" <= 16L, 16L).when($"n_tokens" <= 32L, 32L)
              .when($"n_tokens" <= 64L, 64L).when($"n_tokens" <= 128L, 128L)
              .when($"n_tokens" <= 256L, 256L).when($"n_tokens" <= 512L, 512L)
              .otherwise(1024L))
          .groupBy($"bucket")
          .agg(
            count(lit(1)).as("n_docs"),
            sum($"n_tokens").as("total_tokens"))
          .withColumn("pad_tokens", $"bucket" * $"n_docs" - $"total_tokens")
          .withColumn("waste_ratio4",
            round($"pad_tokens".cast("double") / ($"bucket" * $"n_docs"), 4))
          .orderBy($"bucket")
      },
      Some("""WITH t AS (
             |  SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents),
             |b AS (
             |  SELECT CASE WHEN n_tokens <= 16 THEN 16 WHEN n_tokens <= 32 THEN 32
             |              WHEN n_tokens <= 64 THEN 64 WHEN n_tokens <= 128 THEN 128
             |              WHEN n_tokens <= 256 THEN 256 WHEN n_tokens <= 512 THEN 512
             |              ELSE 1024 END AS bucket,
             |         n_tokens
             |  FROM t),
             |g AS (
             |  SELECT CAST(bucket AS BIGINT) AS bucket, COUNT(*) AS n_docs,
             |    CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
             |  FROM b GROUP BY bucket)
             |SELECT bucket, n_docs, total_tokens,
             |  bucket * n_docs - total_tokens AS pad_tokens,
             |  ROUND(CAST(bucket * n_docs - total_tokens AS DOUBLE) / (bucket * n_docs), 4) AS waste_ratio4
             |FROM g ORDER BY bucket""".stripMargin)
    ),

    "q_corpus_diff" -> QueryDef(
      // Dataset-versioning diff between two corpus snapshots: full-outer
      // join on the PK, md5 content fingerprints decide changed vs
      // unchanged, and the per-source added/removed/changed/unchanged
      // counts are the release-notes table a dataset version bump ships.
      // Snapshots are derived deterministically from the one documents
      // table (A = even doc_ids, B = doc_ids % 3 = 0, with every 12th doc's
      // text revised) so the oracle sees the identical inputs. At 100 TB
      // both snapshots are bucketed by doc_id and the diff co-locates.
      (s, d) => {
        import s.implicits._
        val docs = documents(s, d)
        val snapA = docs.filter($"doc_id" % 2 === 0)
          .select($"doc_id", $"source".as("source_a"), md5($"text").as("fp_a"))
        val snapB = docs.filter($"doc_id" % 3 === 0)
          .select($"doc_id", $"source".as("source_b"),
            md5(when($"doc_id" % 12 === 0, upper($"text")).otherwise($"text")).as("fp_b"))
        snapA.join(snapB, Seq("doc_id"), "full_outer")
          .withColumn("status",
            when($"fp_a".isNull, "added").when($"fp_b".isNull, "removed")
              .when($"fp_a" =!= $"fp_b", "changed").otherwise("unchanged"))
          .groupBy(coalesce($"source_a", $"source_b").as("source"), $"status")
          .agg(count(lit(1)).as("n_docs"))
          .orderBy($"source", $"status")
      },
      Some("""WITH a AS (
             |  SELECT doc_id, source AS source_a, md5(text) AS fp_a
             |  FROM documents WHERE doc_id % 2 = 0),
             |b AS (
             |  SELECT doc_id, source AS source_b,
             |    md5(CASE WHEN doc_id % 12 = 0 THEN upper(text) ELSE text END) AS fp_b
             |  FROM documents WHERE doc_id % 3 = 0),
             |j AS (
             |  SELECT COALESCE(a.source_a, b.source_b) AS source,
             |    CASE WHEN a.fp_a IS NULL THEN 'added'
             |         WHEN b.fp_b IS NULL THEN 'removed'
             |         WHEN a.fp_a <> b.fp_b THEN 'changed'
             |         ELSE 'unchanged' END AS status
             |  FROM a FULL OUTER JOIN b USING (doc_id))
             |SELECT source, status, COUNT(*) AS n_docs
             |FROM j GROUP BY source, status ORDER BY source, status""".stripMargin)
    ),

    "q_token_rarity" -> QueryDef(
      // Per-doc rarity against the corpus unigram model — the
      // perplexity-proxy scoring pass a quality-filter pipeline runs
      // without a trained LM: pass 1 builds the vocabulary frequency table
      // (bounded by true vocabulary, partial-aggregated), pass 2 joins each
      // doc's tokens back against it. min_freq is the doc's rarest token;
      // mean_freq4 its average token frequency — exact int64 sufficient
      // statistics, one 4-dp division at the end.
      (s, d) => {
        import s.implicits._
        val toks = documents(s, d)
          .select($"doc_id", explode(split($"text", " ")).as("tok"))
        val freq = toks.groupBy($"tok").agg(count(lit(1)).as("cnt"))
        // vocab side is vocabulary-bounded, corpus-independent: AQE turns
        // this into a broadcast join at runtime while it fits
        toks.join(freq, Seq("tok"))
          .groupBy($"doc_id")
          .agg(
            count(lit(1)).as("n_tokens"),
            min($"cnt").as("min_freq"),
            round(sum($"cnt").cast("double") / count(lit(1)), 4).as("mean_freq4"))
          .orderBy($"doc_id")
      },
      Some("""WITH tk AS (
             |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
             |fr AS (SELECT tok, COUNT(*) AS cnt FROM tk GROUP BY tok)
             |SELECT doc_id, COUNT(*) AS n_tokens, MIN(cnt) AS min_freq,
             |  ROUND(CAST(SUM(cnt) AS DOUBLE) / COUNT(*), 4) AS mean_freq4
             |FROM tk JOIN fr USING (tok)
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin)
    ),

    "q_bpe_pairs" -> QueryDef(
      // The first BPE merge iteration (Sennrich et al. 2016 shape): count
      // adjacent character pairs across the corpus and rank the merge
      // candidates. Computed the way tokenizer trainers actually do it —
      // over DISTINCT words weighted by word frequency, so the character
      // fan-out is vocabulary-bounded (the corpus-sized explode never
      // happens). Top-20 with a deterministic (count DESC, pair ASC) rank.
      (s, d) => {
        import s.implicits._
        val w = documents(s, d)
          .select(explode(split($"text", " ")).as("tok"))
          .groupBy($"tok").agg(count(lit(1)).as("wcnt"))
          .filter(length($"tok") >= 2)
        w.select($"wcnt",
            explode(expr("transform(sequence(1, length(tok) - 1), i -> substring(tok, i, 2))"))
              .as("pair"))
          .groupBy($"pair").agg(sum($"wcnt").as("cnt"))
          .orderBy($"cnt".desc, $"pair")
          .limit(20)
      },
      Some("""WITH tk AS (
             |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
             |w AS (
             |  SELECT tok, COUNT(*) AS wcnt FROM tk GROUP BY tok HAVING len(tok) >= 2),
             |p AS (
             |  SELECT substring(tok, CAST(i AS INT), 2) AS pair, wcnt FROM (
             |    SELECT tok, wcnt, unnest(range(1, len(tok))) AS i FROM w))
             |SELECT pair, CAST(SUM(wcnt) AS BIGINT) AS cnt
             |FROM p GROUP BY pair ORDER BY cnt DESC, pair LIMIT 20""".stripMargin)
    ),

    "q_bpe_train" -> QueryDef(
      // ACTUAL BPE training (round 14; representation hardened round 15) —
      // q_bpe_pairs ranks the first merge's candidates; this key runs the
      // real iterative loop (Sennrich et al. 2016): 4 merges, each picking
      // the globally most frequent adjacent symbol pair (ties:
      // lexicographically smallest pair — deterministic in both engines on
      // this ASCII corpus) and applying it to the vocabulary left-to-right
      // non-overlapping. The iteration count is FIXED like the quantizer's
      // Lloyd discipline, so DuckDB replays all four stages bit-for-bit as
      // staged CTEs (builder: [[bpeTrainCtes]]).
      //
      // Representation (shared by both engines, see [[bpeVocab]]): every
      // symbol carries its OWN '|…|' wrapper ('the' → '|t||h||e|'), so
      // applying merge (a,b) is ONE replace(symstr, '|a||b|', '|ab|') —
      // left-to-right non-overlapping string replace IS the BPE greedy-
      // apply rule under this wrapping, and both symbol boundaries are
      // explicit in the pattern. The round-14 leading-separator form
      // ('|t|h|e', pattern '|a|b') lacked the RIGHT boundary: after an
      // earlier merge created a multi-char symbol, merge (e,t) also
      // matched a symbol merely STARTING with t ('|m|e|th' → '|m|eth'),
      // corrupting symbols — latent on the shipped corpus (er/in/ow/or
      // never collide) but reachable on ordinary text; the prefix-
      // collision fixture in Round15OpsSpec now forces exactly that case.
      // Why not a trailing-sentinel fixpoint instead: with a full '|a|b|'
      // pattern over singly-delimited text, adjacent occurrences share
      // their boundary '|' and a==b chains resolve NON-greedily
      // ('aaaaa' → [aa,a,aa], greedy is [aa,aa,a]); per-symbol wrapping
      // has no shared boundary, so one pass is exact.
      //
      // Scale shape: the corpus is touched ONCE (the word-frequency
      // groupBy); all four iterations run on the vocabulary table
      // (corpus-independent size), each paying one partial-aggregable
      // (a,b) shuffle and a 1-row TakeOrdered argmax through the driver —
      // the BPE trainer's global reduce, bounded by construction. The
      // merge table (4 rows) is the tokenizer artifact; q_bpe_apply
      // consumes it.
      (s, d) => {
        import s.implicits._
        var w = bpeVocab(s, d)
        val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
        for (r <- 1 to 4) {
          // bounded: ONE row — the trainer's global argmax reduce
          val top = bpePairs(w)
            .orderBy($"cnt".desc, $"a", $"b")
            .limit(1).collect()(0)
          val (a, b, c) = (top.getString(0), top.getString(1), top.getLong(2))
          merges += ((r.toLong, a, b, c))
          // each action is one stage, not a nested DAG
          w = bpeApplyMerge(w, a, b).localCheckpoint()
        }
        merges.toSeq.toDF("rank", "merge_left", "merge_right", "pair_count")
          .orderBy($"rank")
      },
      Some(s"""WITH ${bpeTrainCtes(4)}
              |SELECT rank, merge_left, merge_right, pair_count FROM (
              |  SELECT 1::BIGINT AS rank, a AS merge_left, b AS merge_right, CAST(cnt AS BIGINT) AS pair_count FROM m0
              |  UNION ALL SELECT 2, a, b, CAST(cnt AS BIGINT) FROM m1
              |  UNION ALL SELECT 3, a, b, CAST(cnt AS BIGINT) FROM m2
              |  UNION ALL SELECT 4, a, b, CAST(cnt AS BIGINT) FROM m3)
              |ORDER BY rank""".stripMargin)
    ),

    "q_bpe_train_batch" -> QueryDef(
      // BATCHED BPE training (round-14 verdict item #4, landed round 16) —
      // the protocol that makes a production vocabulary affordable:
      // q_bpe_train pays one pair-count shuffle + one 1-row argmax action
      // PER MERGE (a 32k-merge vocab = 32k Spark jobs); this key trains
      // the same 4 merges in 2 iterations of batchM=2 — per iteration ONE
      // ranked-pool collect (poolK=64 rows, the batch trainer's global
      // reduce) + ONE combined vocabulary pass applying both selected
      // merges as chained replaces in rank order. Selection is
      // [[bpeSelectBatch]]: greedy by (cnt DESC, a, b), skipping pairs
      // that share a symbol with — or contain the concatenation of — an
      // already-selected pair, which keeps every published pair_count
      // equal to a sequential recount (argument at [[bpeSelectBatch]];
      // equivalence specs in Round16OpsSpec). The DuckDB oracle replays
      // both iterations as staged CTEs ([[bpeBatchTrainCtes]]): ranked
      // pair table, rank-1 pick, the concat-excluded second pick, then
      // the chained two-replace vocabulary step — certifying selection
      // AND application bit-for-bit.
      //
      // Scale shape: identical to q_bpe_train (ONE corpus pass, all
      // iterations vocabulary-bounded) with the driver round-trips and
      // checkpoint actions divided by batchM — at batchM=256 a 32k-merge
      // training run is 125 Spark jobs instead of 32k. Measured
      // merges/sec vs the sequential loop in BENCH_SCALING.md.
      (s, d) => bpeTrainBatched(s, d, nMerges = 4, batchM = 2, poolK = 64),
      Some(s"""WITH ${bpeBatchTrainCtes(2, 64)}
              |SELECT rank, merge_left, merge_right, pair_count FROM (
              |  SELECT 1::BIGINT AS rank, a AS merge_left, b AS merge_right, CAST(cnt AS BIGINT) AS pair_count FROM s0a
              |  UNION ALL SELECT 2, a, b, CAST(cnt AS BIGINT) FROM s0b
              |  UNION ALL SELECT 3, a, b, CAST(cnt AS BIGINT) FROM s1a
              |  UNION ALL SELECT 4, a, b, CAST(cnt AS BIGINT) FROM s1b)
              |ORDER BY rank""".stripMargin)
    ),

    "q_bpe_apply" -> QueryDef(
      // BPE APPLY — run the tokenizer q_bpe_train induces (round-14
      // verdict's top item: the trainer produced a merge table nothing
      // consumed; this is the single most-used operator of a real
      // training-data pipeline — every document gets tokenized). The
      // 4-merge training loop re-runs here (same pinned discipline, same
      // argmax), then the post-merge vocabulary IS the word→tokenization
      // map: each row's symstr has become the word's final symbol
      // sequence, the word itself is recovered by stripping wrappers
      // (merges never change the underlying chars), and the token count
      // is pipes/2 (every symbol owns exactly two). Emitted per doc:
      // eligible word count, REAL post-BPE token count, and an md5 over
      // the full ordered tokenization (cores joined by ' ') — the hash
      // gate certifies every document's exact token sequence, not just
      // totals.
      //
      // Scale shape (100 TB): tokenization is VOCABULARY-side — the merge
      // replay touches only the distinct-word table; the corpus is
      // touched ONCE, map-only: explode is map-side, the word→map join
      // broadcasts (Heaps' law: vocab grows ~√corpus — the map is the
      // tokenizer artifact, MBs where the corpus is TBs), and the
      // per-doc aggregate completes map-side under partial
      // aggregation (explode keeps a doc's words co-partitioned), so the
      // only exchange carries one result row per doc. Plan-gated in
      // PlanQualitySpec: BroadcastHashJoin, no Exchange below the partial
      // aggregate. The broadcast is SIZE-GATED, not assumed
      // ([[bpeApplyTokenize]]): past [[BpeVocabBroadcastCap]] measured
      // vocab rows the same semantics degrade to a shuffle-hash equi-join
      // on word — forced and parity-proven by q_bpe_apply_shuffle below.
      (s, d) => bpeApplyTokenize(s, d, BpeVocabBroadcastCap),
      Some(bpeApplySql)
    ),

    "q_bpe_apply_shuffle" -> QueryDef(
      // The PAST-BROADCAST arm of q_bpe_apply's size-gated policy, forced
      // (cap = 0, so the measured vocab count always exceeds it): the
      // word→tokenization map joins as a SHUFFLE-HASH equi-join on word —
      // the vocab is the per-partition build side; the exploded token
      // stream is hashed, never sorted. Shares q_bpe_apply's oracle
      // bit-for-bit, so the DuckDB gate proves row parity through the
      // non-broadcast mechanism; PlanQualitySpec pins the plan shape
      // (ShuffledHashJoin, no broadcast, no sort of the token stream).
      (s, d) => bpeApplyTokenize(s, d, vocabRowCap = 0L),
      Some(bpeApplySql)
    ),

    // see `semdedup` above: scale-adaptive strategy (flat table → hier)
    "q_semdedup" -> QueryDef(
      (s, d) => semdedup(s, d, strategy = "auto"),
      Some(semdedupOracleSql)
    ),

    // Same operator pinned to the flat broadcast-table quantizer even past
    // K = 2e6, where "auto" goes hierarchical; below that K it runs
    // q_semdedup's mechanism and is gated at every sf by the SAME oracle.
    "q_semdedup_table" -> QueryDef(
      (s, d) => semdedup(s, d, strategy = "table"),
      Some(semdedupOracleSql)
    ),

    // Forced through the K > 2e6 hierarchical branch (⌈√K⌉ coarse cells →
    // per-cell sub-centroids by ccell equi-join). A different quantizer
    // yields different (still valid) cells, so this key carries its own
    // oracle: BOTH k-means stages replayed in SQL — coarse seeds/iterations
    // (shared lloydIterSql), coarse assignment, per-cell sub-seed selection
    // (row_number ≤ ⌈n_c/256⌉), two sub-iterations, final within-cell
    // assignment — then the identical dedup tail. The hash match certifies
    // the production path for corpora past ~5×10⁸ vectors at every gated sf.
    "q_semdedup_hier" -> QueryDef(
      (s, d) => semdedup(s, d, strategy = "hier"),
      Some(semdedupHierOracleSql)
    ),

    "q_dedup_paragraph" -> QueryDef(
      // CCNet-style paragraph-level dedup (Wenzek et al. 2020 §3.1 shape):
      // dedup at sub-document granularity, so boilerplate shared across
      // otherwise-distinct pages is removed WITHOUT dropping whole docs —
      // the piece doc-level dedup (q_dedup_exact .. q_semdedup) can't
      // express. Paragraph := consecutive 10-token chunk (the synthetic
      // corpus has no newlines; the chunking rule is the engine-portable
      // stand-in for split-on-blank-line). Keep-first rule: the corpus-wide
      // first occurrence (doc_id, then position) of each chunk hash wins;
      // every later occurrence is dropped; docs whose chunks ALL lose
      // disappear (fully-boilerplate pages). Output per surviving doc:
      // chunk counts before/after and an md5 fingerprint of the retained
      // text (order-preserving reassembly), so the hash gate certifies the
      // exact post-dedup corpus, not just its size.
      //
      // Scale shape (100 TB): chunking is map-side (one pass, no data
      // blowup beyond token count); the keep-first decision is ONE shuffle
      // on the 16-byte chunk hash (window over md5(chunk)); reassembly is
      // one shuffle back on doc_id. No similarity joins, no candidate
      // pairs — this is the linear-cost dedup tier that runs before any
      // LSH family. At cluster scale the md5 partitioning is uniform by
      // construction (no salting needed).
      (s, d) => paragraphDedup(s, documents(s, d), mode = "chunk"),
      Some("""WITH t AS (
             |  SELECT doc_id, string_split(text, ' ') AS tok FROM documents),
             |c AS (
             |  SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
             |         array_to_string(tok[i*10+1 : i*10+10], ' ') AS chunk
             |  FROM t, UNNEST(range((len(tok)-1)//10 + 1)) AS u(i)),
             |w AS (
             |  SELECT doc_id, chunk_idx, chunk,
             |         COUNT(*) OVER (PARTITION BY doc_id) AS n_chunks,
             |         ROW_NUMBER() OVER (PARTITION BY md5(chunk) ORDER BY doc_id, chunk_idx) AS rn
             |  FROM c)
             |SELECT doc_id, CAST(MIN(n_chunks) AS BIGINT) AS n_chunks,
             |       COUNT(*) AS n_kept,
             |       md5(string_agg(chunk, ' ' ORDER BY chunk_idx)) AS kept_fp
             |FROM w WHERE rn = 1
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin)
    ),

    "q_sample_temperature" -> QueryDef(
      // Temperature-scaled mixture resampling (the multinomial source-
      // rebalancing of multilingual/multi-domain training sets, Conneau &
      // Lample 2019 §3.1 shape, alpha = 0.5): big sources are downsampled
      // toward p_i ∝ n_i^alpha while the total token budget is preserved,
      // and membership is decided per doc by a deterministic md5 threshold
      // — reproducible across engines, runs, and cluster layouts (unlike
      // rand()-based sampling). Distinct from q_sample_quota (hard per-
      // source CAP) and q_mix_weights (REPORTS weights): this op actually
      // draws the rebalanced corpus.
      //
      // Determinism discipline: weights are integer-quantized BEFORE any
      // sum — w_i = round(sqrt(n_i)) is exact in both engines (IEEE sqrt is
      // correctly rounded, and sqrt(int) can never land on a .5 tie), so
      // sum(w), the per-source threshold thr_i = min(16^6, w_i*N*16^6 div
      // (sum(w)*n_i)) and the keep predicate (6-hex-digit md5 prefix <
      // printf-%06x threshold) are all integer arithmetic — no float ever
      // decides membership. int64 headroom: w*N*16^6 < 2^63 through ~1e8
      // docs/source; past that the same formula runs in DECIMAL(38,0).
      //
      // Scale shape (100 TB): the per-source table is bounded by #sources,
      // so the scalar totals are a window over ~20 rows (one tiny
      // exchange), the threshold join broadcasts, and the keep predicate
      // is map-side codegen over the corpus — no corpus shuffle at all
      // until the final bounded-key count.
      (s, d) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val docs = documents(s, d)
        val thr = docs.groupBy($"source").agg(count(lit(1)).as("n"))
          .withColumn("w", round(sqrt($"n")).cast("long"))
          .withColumn("sw", sum($"w").over(Window.partitionBy(lit(1))))
          .withColumn("tot", sum($"n").over(Window.partitionBy(lit(1))))
          .withColumn("thr",
            least(lit(16777216L), expr("(w * tot * 16777216) div (sw * n)")))
          .select($"source", $"n".as("n_before"), $"thr")
        docs.select($"doc_id", $"source")
          .join(broadcast(thr), Seq("source"))
          .filter($"thr" === 16777216L ||
            substring(md5($"doc_id".cast("string")), 1, 6) <
              format_string("%06x", $"thr"))
          .groupBy($"source")
          .agg(
            first($"n_before").as("n_before"),
            count(lit(1)).as("n_after"),
            first($"thr").as("thr"))
          .withColumn("rate4", round($"thr".cast("double") / 16777216d, 4))
          .select($"source", $"n_before", $"n_after", $"thr", $"rate4")
          .orderBy($"source")
      },
      Some("""WITH n AS (
             |  SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
             |w AS (
             |  SELECT source, n, CAST(round(sqrt(n)) AS BIGINT) AS w FROM n),
             |t AS (
             |  SELECT source, n AS n_before,
             |    CAST(LEAST(16777216,
             |      (w * (SUM(n) OVER ()) * 16777216) // ((SUM(w) OVER ()) * n))
             |      AS BIGINT) AS thr
             |  FROM w),
             |k AS (
             |  SELECT d.source, t.n_before, t.thr
             |  FROM documents d JOIN t ON d.source = t.source
             |  WHERE t.thr = 16777216
             |     OR substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 6) < printf('%06x', t.thr))
             |SELECT source, CAST(MIN(n_before) AS BIGINT) AS n_before,
             |       COUNT(*) AS n_after, CAST(MIN(thr) AS BIGINT) AS thr,
             |       ROUND(CAST(MIN(thr) AS DOUBLE) / 16777216, 4) AS rate4
             |FROM k GROUP BY source ORDER BY source""".stripMargin)
    ),

    "q_vocab_oov" -> QueryDef(
      // Tokenizer-vocabulary coverage audit (the release gate before
      // freezing a vocab): build the top-50 corpus vocabulary with a
      // deterministic tie-break (count DESC, token ASC — the cutoff is
      // reproducible across engines), then report per source how many
      // token occurrences fall outside it. oov_ppm is exact integer
      // parts-per-million — no float decides anything. Distinct from
      // q_token_rarity (per-DOC score against the full unigram model):
      // this is the per-SOURCE out-of-vocabulary rate against a CAPPED
      // vocab, the number that sizes a byte-fallback budget.
      //
      // Scale shape (100 TB): token explode is map-side; the vocab agg is
      // true-vocabulary-bounded and partial-aggregated; the top-50 cut is
      // a TakeOrdered on the bounded vocab table; the membership join
      // broadcasts 50 rows; the final agg is bounded by #sources.
      (s, d) => {
        import s.implicits._
        val tok = documents(s, d)
          .select($"source", explode(split($"text", " ")).as("tok"))
        val vocab = tok.groupBy($"tok").agg(count(lit(1)).as("c"))
          .orderBy($"c".desc, $"tok").limit(50)
          .select($"tok", lit(1L).as("in_vocab"))
        tok.join(broadcast(vocab), Seq("tok"), "left_outer")
          .groupBy($"source")
          .agg(
            count(lit(1)).as("n_tokens"),
            sum(when($"in_vocab".isNull, 1L).otherwise(0L)).as("n_oov"))
          .withColumn("oov_ppm", expr("n_oov * 1000000 div n_tokens"))
          .orderBy($"source")
      },
      Some("""WITH tk AS (
             |  SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents),
             |v AS (
             |  SELECT tok FROM (
             |    SELECT tok, COUNT(*) AS c FROM tk GROUP BY tok)
             |  ORDER BY c DESC, tok LIMIT 50),
             |j AS (
             |  SELECT tk.source, (v.tok IS NOT NULL) AS in_vocab
             |  FROM tk LEFT JOIN v ON tk.tok = v.tok)
             |SELECT source, COUNT(*) AS n_tokens,
             |  CAST(SUM(CASE WHEN NOT in_vocab THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
             |  CAST(SUM(CASE WHEN NOT in_vocab THEN 1 ELSE 0 END) AS BIGINT) * 1000000
             |    // COUNT(*) AS oov_ppm
             |FROM j GROUP BY source ORDER BY source""".stripMargin)
    )
  )
}
