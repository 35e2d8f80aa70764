package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Round-12 depth checks: the strict-suffix JsonGetScalar contract (the
  * malformed-document class ADVICE r11 flagged as untested), the
  * zero-width-pattern rejection in redact_counts, the registry/broadcast
  * hygiene of the stateful gates, and the IVF decontamination tier's
  * internal consistency against the exact arm.
  */
class Round12OpsSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark
  private val sfDir = "/root/testdata/sf0.001"

  /** (json_get_scalar, get_json_object) for one document/key. */
  private def both(json: String, key: String = "k"): (Option[String], Option[String]) = {
    import spark.implicits._
    val r = Seq(json).toDF("j").select(
      graft.functions.JsonGetScalar.jsonGetScalar(spark, col("j"), key).as("mine"),
      get_json_object(col("j"), s"$$.$key").as("ref")).head
    (Option(r.getString(0)), Option(r.getString(1)))
  }

  test("json_get_scalar matches get_json_object on the malformed-suffix class") {
    // the r11 ADVICE class: garbage AFTER the matched member must void the
    // match (Jackson throws walking to END_OBJECT), mismatched closers and
    // junk inside SKIPPED subtrees included
    val cases = Seq(
      """{"k":1, junk}""", // bare junk member after the match
      """{"k":1, "a":01}""", // invalid number grammar in a skipped member
      """{"k":1, "a":[1,2}}""", // array closed with a brace
      """{"k":1, "a":{"x":[1}]}""", // crossed closers
      """{"k":1, "a":"unterminated}""", // unterminated string
      """{"k":1 "a":2}""", // missing comma
      """{"k":1,}""", // trailing comma
      """{"a":junk, "k":1}""", // junk BEFORE the match (already-strict side)
      """{"k":1, "a":[true, false, null, -1.5e3]}""", // valid suffix: match survives
      """{"a":{"k":99}, "k":7}""" // nested same-name key must not shadow
    )
    cases.foreach { j =>
      val (mine, ref) = both(j)
      assert(mine == ref, s"diverged on <$j>: mine=$mine get_json_object=$ref")
    }
  }

  test("json_get_scalar ignores content past the root object, like Jackson's early stop") {
    val (mine, ref) = both("""{"k":1} trailing junk""")
    assert(mine == ref, s"mine=$mine ref=$ref")
  }

  test("json_get_scalar duplicate-key handling is PARITY: both return the first occurrence") {
    // measured, not assumed (the r11 ADVICE suspected divergence here):
    // Spark's get_json_object also emits the FIRST top-level match for a
    // duplicated key, so first-occurrence-wins is parity — pin both sides
    // so a Spark behavior drift is visible
    val (mine, ref) = both("""{"k":1,"k":2}""")
    assert(mine.contains("1") && ref.contains("1"), s"mine=$mine ref=$ref")
  }

  test("redact_counts rejects patterns that can match the empty string at analysis") {
    import spark.implicits._
    val df = Seq("aaa bbb").toDF("t")
    // the shipped-style patterns (>= 1 char) still work
    val ok = df.select(graft.functions.RedactCounts
      .redactCounts(spark, $"t", "a+", "X", "b+", "Y").as("r"))
      .select($"r.clean", $"r.n1", $"r.n2").head
    assert(ok.getString(0) == "X Y" && ok.getLong(1) == 1L && ok.getLong(2) == 1L)
    // a zero-width-matching pattern fails analysis, not silently mis-counts
    val e = intercept[Exception] {
      df.select(graft.functions.RedactCounts
        .redactCounts(spark, $"t", "a*", "X", "b+", "Y")).collect()
    }
    assert(e.getMessage.contains("must not match the empty string"), e.getMessage)
  }

  test("the broadcast gates leave the function registry untouched (no per-call UUID entries)") {
    import spark.implicits._
    val before = spark.sessionState.functionRegistry.listFunction().size
    // a bloom gate probing one word and a needle gate over two needles,
    // each built and USED — neither may register anything
    val bloom = graft.functions.BloomBcProbe.gate(spark, Array(1L << 3), 64L)
    val hits = Seq(Seq("g")).toDF("grams")
      .select(bloom(col("grams")).as("h")).head.getBoolean(0)
    val needle = graft.functions.NeedleProbe.gate(spark,
      Array(0L, 1L), Array(Array(1.0, 0.0), Array(0.0, 1.0)))
    val packed = Seq(Seq(1.0, 0.0)).toDF("v")
      .select(needle(col("v")).as("p")).head.getLong(0)
    // sim(v, needle0) = 1.0 → k = 10000; best id 0
    assert(packed == ((20000L << 41) | ((1L << 41) - 1L)))
    val after = spark.sessionState.functionRegistry.listFunction().size
    assert(after == before,
      s"gate construction/use grew the function registry: $before -> $after")
    assert(!hits) // md5("g") bits don't land on the single set bit
  }

  test("fused top-nprobe probe is value-identical to the composed array_sort(simStructs) route") {
    import spark.implicits._
    import graft.operators.IvfKMeans
    // crafted centroid table: near-duplicates that tie at 6 dp, an exact
    // duplicate pair (cid tiebreak), an anti-correlated cell, and a
    // zero-norm cell whose cosine is NaN against everything
    val cents: Seq[(Long, Seq[Double])] = Seq(
      7L -> Seq(1.0, 0.0, 0.0, 0.0),
      3L -> Seq(1.0, 1e-9, 0.0, 0.0), // rounds to the same cos6 vs most vectors -> cid tiebreak
      9L -> Seq(1.0, 1e-9, 0.0, 0.0), // exact duplicate of cid 3 -> 3 must win
      5L -> Seq(-1.0, 0.0, 0.0, 0.0), // anti-correlated
      2L -> Seq(0.0, 1.0, 0.0, 0.0),
      8L -> Seq(0.0, 0.0, 0.0, 0.0)) // zero-norm: NaN vs everything
    val vecs = Seq(
      Seq(1.0, 0.0, 0.0, 0.0), // ties 7/3/9 at 6 dp
      Seq(0.9, 0.1, 0.0, 0.0),
      Seq(-0.7, 0.2, 0.1, 0.0),
      Seq(0.0, 0.0, 1.0, 0.0), // orthogonal to all real cells: cos 0 everywhere
      Seq(0.0, 0.0, 0.0, 0.0), // zero-norm vector: all-NaN row -> cells by ascending cid
      Seq(1e-3, -1e-3, 1e-3, -1e-3))
    val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
    for (np <- Seq(1, 2, 3, 6, 9)) { // incl. nprobe > K
      val composedDf = df
        .withColumn("probe_structs", IvfKMeans.simStructs(spark, cents, $"v"))
        .select($"id", expr(
          s"transform(slice(array_sort(probe_structs), 1, $np), p -> p.cid)").as("cells"))
        .as[(Long, Seq[Long])].collect().sortBy(_._1).toSeq
      val fused = df
        .select($"id", IvfKMeans.probeCells(spark, cents, $"v", np).as("cells"))
        .as[(Long, Seq[Long])].collect().sortBy(_._1).toSeq
      assert(fused == composedDf, s"nprobe=$np broadcast kernel diverged")
    }
  }

  test("column-needle argmax kernel is value-identical to the broadcast kernel") {
    import spark.implicits._
    // needles crafted for ties at the 4-dp boundary, an exact duplicate
    // (min-id rule), anti-correlation, and a zero-norm (NaN) needle
    val nIds = Array(11L, 3L, 9L, 5L, 2L)
    val nVecs: Array[Array[Double]] = Array(
      Array(1.0, 0.0, 0.0), Array(1.0, 1e-9, 0.0), Array(1.0, 1e-9, 0.0),
      Array(-1.0, 0.0, 0.0), Array(0.0, 0.0, 0.0))
    val vecs = Seq(
      Seq(1.0, 0.0, 0.0), Seq(0.6, 0.8, 0.0), Seq(-0.9, 0.1, 0.0),
      Seq(0.0, 0.0, 0.0), // all-NaN row -> both kernels must yield null
      Seq(1e-4, -1e-4, 1.0))
    val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
    val viaBc = graft.functions.NeedleProbe.gate(spark, nIds, nVecs)
    val ndsLit = typedlit(nIds.zip(nVecs.map(_.toSeq)).toSeq)
      .cast("array<struct<n_id:bigint,nv:array<double>>>")
    val got = df.select($"id",
        viaBc($"v").as("p_bc"),
        graft.functions.NeedleProbe.argmaxPackedCells($"v", ndsLit).as("p_cells"))
      .collect().sortBy(_.getLong(0))
    got.foreach { r =>
      assert(r.isNullAt(1) == r.isNullAt(2), s"null parity broke on row ${r.getLong(0)}")
      if (!r.isNullAt(1))
        assert(r.getLong(1) == r.getLong(2), s"packed diverged on row ${r.getLong(0)}")
    }
    assert(got.count(_.isNullAt(1)) == 1, "exactly the zero-norm row must be null")
  }

  test("the semantic recall row equals a direct recompute from the two arms") {
    import spark.implicits._
    val ex = graft.queries.PipelineQueries.semanticDecontamExact(spark, sfDir)
      .select($"vec_id", $"n_id".as("n_ex"), $"contam".as("c_ex"))
    val iv = graft.queries.PipelineQueries.semanticDecontamIvf(spark, sfDir)
      .select($"vec_id", $"n_id".as("n_iv"), $"contam".as("c_iv"))
    val j = ex.join(iv, Seq("vec_id"))
      .as[(Long, Long, Boolean, Long, Boolean)].collect()
    val row = SparkEntry.queries("q_decontaminate_semantic_recall")(spark, sfDir)
      .as[(Long, Long, Long, Long, Long)].head()
    assert(row._1 == j.length.toLong, "n_vecs")
    assert(row._2 == j.count(r => r._2 == r._4).toLong, "n_argmax_match")
    assert(row._3 == j.count(_._3).toLong, "n_contam_exact")
    assert(row._4 == j.count(_._5).toLong, "n_contam_ivf")
    assert(row._5 == j.count(r => r._3 == r._5).toLong, "n_flag_agree")
    // every corpus vector gets exactly one audit row in BOTH arms (probe
    // cells are never needle-empty: each cell holds at least its seed)
    val nCorpus = graft.tables.Tables.embeddings(spark, sfDir)
      .filter($"vec_id" % 31 =!= 0).count()
    assert(row._1 == nCorpus, s"expected one row per corpus vector ($nCorpus)")
  }
}
