package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Round-11 depth checks: the broadcast-variable Bloom probe — the one
  * stream decontamination mechanism — must agree across the two stream
  * keys that share its oracle at a policy-sized bitmap, AND be
  * bit-identical to the composed md5/conv/element_at bit test at a real
  * 2^28-bit size (so the probe is proven where a large benchmark puts it,
  * not just where it is cheap to test).
  */
class Round11OpsSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark

  /** documents-shaped corpus: every 31st doc is a benchmark needle; some
    * stream docs quote a needle 5-gram verbatim (must flag), others are
    * clean (must not, modulo the policy's ~1e-3 per-gram fp rate — with
    * mBits forced to 2^28 the fp rate is ~0 at this gram count).
    */
  private def docsDir(n: Int): String = {
    import spark.implicits._
    val rows = (0 until n).map { i =>
      val id = i.toLong
      val text =
        if (i % 31 == 0) (0 until 12).map(j => s"bench${i}w$j").mkString(" ")
        else if (i % 7 == 3)
          // quotes needle (i/31*31)'s first 5-gram verbatim
          (0 until 4).map(j => s"own${i}w$j").mkString(" ") + " " +
            (0 until 5).map(j => s"bench${(i / 31) * 31}w$j").mkString(" ")
        else (0 until 12).map(j => s"own${i}w$j").mkString(" ")
      (id, text, "en", "s0", text.length.toLong)
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_r11docs")
    // single parquet FILE named documents.parquet, matching the driver
    // corpora: the stream source dir symlinks the table path, and a
    // symlinked subDIRECTORY is invisible to the file-stream listing
    val tmp = dir.resolve("_tmp")
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = java.nio.file.Files.list(tmp).filter(p =>
        p.getFileName.toString.startsWith("part-") &&
          p.getFileName.toString.endsWith(".parquet"))
      .findFirst().orElseThrow()
    java.nio.file.Files.move(part, dir.resolve("documents.parquet"))
    java.nio.file.Files.list(tmp).forEach(p => java.nio.file.Files.delete(p))
    java.nio.file.Files.delete(tmp)
    dir.toString
  }

  test("broadcast-variable probe is row-identical to the literal probe (policy-sized bitmap, full stream path)") {
    val dir = docsDir(310)
    val lit = SparkEntry.queries("q_stream_decontaminate")(spark, dir).collect().toSeq
    val bc = SparkEntry.queries("q_stream_decontaminate_bc")(spark, dir).collect().toSeq
    assert(lit == bc, s"mechanisms diverged: lit=${lit.take(5)}.. bc=${bc.take(5)}..")
    // discriminative fixture: both flagged and clean docs present
    val hits = lit.count(_.getBoolean(2))
    assert(hits > 0 && hits < lit.size,
      s"fixture must exercise both outcomes: $hits/${lit.size} flagged")
    // every planted quoter flagged (false negatives are structurally
    // impossible: all needle-gram bits are set)
    val missed = lit.filter(r => r.getLong(0) % 7 == 3 && !r.getBoolean(2))
    assert(missed.isEmpty, s"planted quoters must flag: ${missed.take(5)}")
  }

  test("broadcast probe at a forced 2^28-bit bitmap (past the literal ceiling) matches the literal mechanism bit-for-bit") {
    import spark.implicits._
    import graft.queries.{PipelineQueries, Q}
    val dir = docsDir(310)
    val big = 1L << 28
    // override validation: non-power-of-two / out-of-range sizes refuse
    val refused = intercept[IllegalArgumentException] {
      PipelineQueries.streamBloomGate(spark, dir, mBitsOverride = Some(100L))
    }
    assert(refused.getMessage.contains("power of two"))
    // the one broadcast-variable probe, at a pinned size
    val (mBits, bcProbe) =
      PipelineQueries.streamBloomGate(spark, dir, mBitsOverride = Some(big))
    assert(mBits == big)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .filter(pmod($"doc_id", lit(31)) =!= 0)
      .select($"doc_id", split($"text", " ").as("tok"))
      .filter(size($"tok") >= 5)
      .withColumn("grams", expr(Q.grams5Sql))
      .persist()
    val bcFlags = docs.select($"doc_id", bcProbe($"grams").as("hit"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    // literal-mechanism reference at the SAME forced size: 2^28 bits is
    // 4.26M words ≈ 34 MB as one Literal — fine for ONE test plan, which
    // is exactly why the ceiling is a production-plan policy, not a
    // correctness boundary
    val words = PipelineQueries.collectBloomWords(
      spark.read.parquet(s"$dir/documents.parquet")
        .filter(pmod($"doc_id", lit(31)) === 0)
        .select($"doc_id", split($"text", " ").as("tok"))
        .filter(size($"tok") >= 5)
        .select(explode(expr(Q.grams5Sql)).as("g")).distinct(),
      big)
    val bm = typedlit(words.toIndexedSeq)
    val masks = typedlit((0 until 63).map(1L << _))
    def bitTest(h: org.apache.spark.sql.Column) =
      element_at(bm, (h / 63).cast("int") + 1)
        .bitwiseAND(element_at(masks, (h % 63).cast("int") + 1)) =!= 0
    def hw(g: org.apache.spark.sql.Column, off: Int) =
      conv(substring(md5(g), off, 8), 16, 10).cast("long") % big
    val litFlags = docs.select($"doc_id",
        exists($"grams", g => bitTest(hw(g, 1)) && bitTest(hw(g, 9))).as("hit"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    docs.unpersist(blocking = false)
    assert(bcFlags == litFlags,
      s"mechanisms diverge at 2^28 bits: ${bcFlags.toSeq.diff(litFlags.toSeq).take(5)}")
    val hits = bcFlags.values.count(identity)
    assert(hits > 0 && hits < bcFlags.size,
      s"fixture must exercise both outcomes at 2^28: $hits/${bcFlags.size}")
  }

  test("ingest-dedup tolerates an empty shard: schema-only batch file, batch numbering preserved") {
    // A prep-narrowed corpus can leave a shard value with zero rows
    // (ADVICE r10 named q_stream_curate's parity shards); staging now
    // writes a schema-only parquet file for it, so the replay still sees
    // nShards ordered batch files and the collapsed-replay guard counts
    // only data-carrying shards.
    import spark.implicits._
    import graft.streaming.IngestDedup
    val docs = Seq(
      (2L, "alpha beta gamma delta"),
      (4L, "epsilon zeta eta theta"),
      (6L, "alpha beta gamma delta") // dup of 2 in the SAME (even) shard
    ).toDF("doc_id", "text")
    val corpusFps = Seq("nomatch").toDF("x")
      .select(IngestDedup.fpCol($"x").as("fp")).limit(0)
    // doc_id % 2: shard 1 (odd) is EMPTY
    val run = IngestDedup.runIngest(spark, docs, corpusFps, nShards = 2)
    val out = spark.read.parquet(run.outDir)
      .select($"doc_id", $"n_dup_in_shard")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    IngestDedup.cleanup(spark, run)
    assert(out == Map(2L -> 2L, 4L -> 1L),
      s"empty-shard replay must keep in-shard dedup semantics: $out")
  }

  /** embeddings-shaped fixture (vec_id, embedding FLOAT[], label) as a
    * single parquet FILE, the driver-corpus layout. */
  private def embDir(vecs: Seq[(Long, Seq[Float])]): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_r11emb")
    val tmp = dir.resolve("_tmp")
    vecs.map { case (id, v) => (id, v, 0) }
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = java.nio.file.Files.list(tmp).filter(p =>
        p.getFileName.toString.startsWith("part-") &&
          p.getFileName.toString.endsWith(".parquet"))
      .findFirst().orElseThrow()
    java.nio.file.Files.move(part, dir.resolve("embeddings.parquet"))
    java.nio.file.Files.list(tmp).forEach(p => java.nio.file.Files.delete(p))
    java.nio.file.Files.delete(tmp)
    dir.toString
  }

  test("q_decontaminate_semantic: planted paraphrase flags, ties break to the smallest needle, packing survives sim = -1") {
    // The driver corpora have no cross-needle near-dups (contam fires on a
    // single tuned near-miss), so the interesting paths are pinned here:
    // an exact planted copy of a needle (sim4 = 1.0, contam), a corpus
    // vector EQUALLY similar to two needles (argmax tie → SMALLEST needle
    // id, the documented determinism rule), and an anti-correlated vector
    // (sim4 = -1.0 — the packed encoding's floor: s = 0). The packed-long
    // HashAggregate path is also value-checked against the naive window
    // argmax formulation on the same fixture.
    import spark.implicits._
    val dim = 64
    def mk(seed: Int): Seq[Float] =
      (0 until dim).map(j => math.sin(seed * 131 + j * 17).toFloat)
    val shared = mk(9) // ALL needles identical → every match is a tie
    val vecs: Seq[(Long, Seq[Float])] = Seq(
      0L -> shared, 31L -> shared, 62L -> shared, 93L -> shared, // needles
      5L -> shared,              // exact copy of every needle (4-way tie)
      11L -> shared.map(-_),     // anti-correlated with EVERY needle
      7L -> mk(7), 13L -> mk(13) // background corpus
    )
    val dir = embDir(vecs)
    val out = SparkEntry.queries("q_decontaminate_semantic")(spark, dir)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getBoolean(3)))).toMap
    assert(out.keySet == Set(5L, 7L, 11L, 13L), s"one audit row per corpus vector: ${out.keySet}")
    assert(out(5L) == ((0L, 1.0, true)),
      s"exact planted copy must flag with the SMALLEST tied needle id: ${out(5L)}")
    assert(out(11L) == ((0L, -1.0, false)),
      s"anti-correlated vector must round-trip sim4 = -1.0 unflagged (tie → smallest id): ${out(11L)}")
    // packed-argmax vs naive window argmax: value identity on this fixture
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select($"vec_id", expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    val needles = e.filter(pmod($"vec_id", lit(31)) === 0)
      .select($"vec_id".as("n_id"), $"v".as("nv"))
    val naive = e.filter(pmod($"vec_id", lit(31)) =!= 0)
      .crossJoin(broadcast(needles))
      .withColumn("sim4",
        round(graft.functions.CosineSimilarity.cosineSim(spark, $"v", $"nv"), 4) + lit(0.0))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"vec_id")
          .orderBy($"sim4".desc, $"n_id")))
      .filter($"rn" === 1)
      .select($"vec_id", $"n_id", $"sim4", ($"sim4" >= 0.40).as("contam"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getBoolean(3)))).toMap
    assert(out == naive, s"packed argmax diverged from the naive window form:\n$out\nvs\n$naive")
  }

  test("SimHash16 is value-identical to the HOF formulation, including null-token and empty-array edges") {
    // The fused kernel replaced a nested-aggregate HOF that recomputed the
    // md5 once per bit per token; identity must hold on real corpus token
    // arrays AND on the edges the corpus never exercises: a null token
    // (votes −1 on every bit — the HOF's CASE falls to ELSE on a null
    // condition), an empty array (fingerprint 0), and a single-token array
    // (every vote ±1, fingerprint = h & 0xFFFF).
    import spark.implicits._
    val corpus = graft.tables.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(array_distinct(split($"text", " ")).as("tok"))
    val edges = Seq(
      Seq[String](),                   // empty → 0
      Seq[String]("alpha"),            // single → h & 0xFFFF
      Seq[String]("alpha", null),      // null votes −1 everywhere
      Seq[String](null, null),         // all-null → 0
      Seq[String]("a", "b", "c", "a")  // small mixed
    ).toDF("tok")
    val hof = expr("""aggregate(sequence(0, 15),
                     |  0L,
                     |  (acc, b) -> acc + CASE WHEN
                     |    aggregate(tok, 0L, (v, t) ->
                     |      v + CASE WHEN (conv(substring(md5(t), 1, 8), 16, 10) DIV shiftleft(1L, b)) % 2 = 1
                     |          THEN 1L ELSE -1L END) > 0
                     |    THEN shiftleft(1L, b) ELSE 0L END)""".stripMargin)
    Seq(corpus, edges).foreach { df =>
      val diverged = df
        .withColumn("fused", graft.functions.SimHash16.simhash16(spark, $"tok"))
        .withColumn("ref", hof)
        .filter(!($"fused" <=> $"ref"))
        .count()
      assert(diverged == 0L, s"$diverged rows diverged between fused and HOF simhash")
    }
  }

  test("Grams3Hash48 (both variants) is element-identical to the two-step HOF shingle pass") {
    // The fused kernel must be a DROP-IN for the transform(array_distinct(
    // transform(...)))-then-md5 column: same values, same first-occurrence
    // order — so every downstream consumer (minhash signatures, rarity
    // windows, sorted verify sets) and every oracle is untouched. Checked
    // on the real corpus plus edges: repeated grams (dedupe order), a null
    // token (concat_ws skips it), and sub-3-token docs excluded by the
    // callers' shared size(tok) >= 3 pre-filter.
    import spark.implicits._
    val corpus = graft.tables.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(split($"text", " ").as("tok"))
    val edges = Seq(
      Seq[String]("a", "b", "c", "a", "b", "c", "a"), // repeated grams
      Seq[String]("x", null, "y", "z", "w"),          // null token mid-gram
      Seq[String]("one", "two", "three")              // exactly one gram
    ).toDF("tok")
    val hofMod = expr(
      """transform(
        |  array_distinct(transform(sequence(0, size(tok)-3),
        |    i -> concat_ws(' ', tok[i], tok[i+1], tok[i+2]))),
        |  g -> CAST(conv(substring(md5(g), 1, 12), 16, 10) AS BIGINT) % 2147483647)""".stripMargin)
    val hofRaw = expr(
      """transform(
        |  array_distinct(transform(sequence(0, size(tok)-3),
        |    i -> concat_ws(' ', tok[i], tok[i+1], tok[i+2]))),
        |  g -> CAST(conv(substring(md5(g), 1, 12), 16, 10) AS BIGINT))""".stripMargin)
    Seq(corpus, edges).foreach { df0 =>
      val df = df0.filter(size($"tok") >= 3) // the callers' shared pre-filter
      val diverged = df
        .withColumn("fm", graft.functions.Grams3Hash48.grams3Hash48(spark, $"tok"))
        .withColumn("fr", graft.functions.Grams3Hash48.grams3Hash48Raw(spark, $"tok"))
        .withColumn("rm", hofMod)
        .withColumn("rr", hofRaw)
        .filter(!($"fm" <=> $"rm") || !($"fr" <=> $"rr"))
        .count()
      assert(diverged == 0L, s"$diverged rows diverged between fused and HOF gram hashes")
    }
  }

  test("Grams5 is element-identical to the grams5Sql zip_with chain, including null-gram propagation") {
    // The fused assembly feeds every Bloom probe as STRINGS, so it must be
    // byte-identical to Q.grams5Sql: position order, string-distinct with
    // first occurrence kept, concat's null-propagation (any null token
    // nulls the gram; array_distinct keeps ONE null at its first slot),
    // and the under-5-token empty result. Checked on the real corpus plus
    // crafted edges.
    import spark.implicits._
    import graft.queries.Q
    val corpus = graft.tables.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(split($"text", " ").as("tok"))
    val edges = Seq(
      Seq[String]("a", "b", "c", "d", "e", "a", "b", "c", "d", "e"), // repeated grams
      Seq[String]("u", "v", null, "w", "x", "y", "z"),               // null token → null grams
      Seq[String]("p", "q", "r", "s", "t")                           // exactly one gram
    ).toDF("tok")
    Seq(corpus, edges).foreach { df0 =>
      val df = df0.filter(size($"tok") >= 5) // the callers' shared pre-filter
      val diverged = df
        .withColumn("fused", graft.functions.Grams5.grams5(spark, $"tok"))
        .withColumn("ref", expr(Q.grams5Sql))
        .filter(!($"fused" <=> $"ref"))
        .count()
      assert(diverged == 0L, s"$diverged rows diverged between fused and zip_with 5-grams")
    }
  }

  test("GramsDistinctCount is value-identical to the concat_ws HOF chain, including null-skip semantics") {
    // The fused count feeds q_text_repetition's n_unique, so it must match
    // the HOF form exactly: concat_ws SKIPS null tokens (no null grams —
    // the opposite of Grams5's concat), string-distinct, and the under-
    // width guard. Checked on the real corpus plus crafted edges.
    import spark.implicits._
    val hof = "CAST(size(array_distinct(transform(sequence(0, size(tok)-2), " +
      "i -> concat_ws(' ', tok[i], tok[i+1])))) AS BIGINT)"
    val corpus = graft.tables.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(split($"text", " ").as("tok"))
    val edges = Seq(
      Seq[String]("a", "b", "a", "b", "a"),      // repeated bigrams
      Seq[String]("u", null, "u", "x"),          // null-skip: (u), (u), (u x)
      Seq[String](null, null, null),             // all-null → 1 empty gram
      Seq[String]("p", "q")                      // exactly one bigram
    ).toDF("tok")
    Seq(corpus, edges).foreach { df0 =>
      val df = df0.filter(size($"tok") >= 2) // the caller's pre-filter
      val diverged = df
        .withColumn("fused",
          graft.functions.GramsDistinctCount.gramsDistinctCount(spark, $"tok", 2))
        .withColumn("ref", expr(hof))
        .filter(!($"fused" <=> $"ref"))
        .count()
      assert(diverged == 0L, s"$diverged rows diverged between fused and HOF bigram counts")
    }
  }

  test("RedactCounts is value-identical to the composed regexp_replace/split form") {
    // The fused kernel feeds q_text_redact (clean fingerprint + both
    // counts), so all three struct fields must match the composed form:
    // replace chain order (emails first, digits on the post-email text),
    // match counts = size(split(.., -1)) - 1, null text → null fields.
    // Checked on the real corpus plus crafted edges.
    import spark.implicits._
    val emailRe = "[A-Za-z0-9._]+@[A-Za-z0-9.]+"
    val digitRe = "[0-9]{6,}"
    val corpus = graft.tables.Tables.documents(spark, "/root/testdata/sf0.001")
      .select($"text")
    val edges = Seq(
      "a@b.c writes 1234567 then c.d_e@f.gh and 999999",  // both kinds
      "12345 under the digit floor, no emails",           // no matches
      "@@ not@ an@email 123456789012345678901234567890",  // adjacent digits
      "a@b.c$1\\x dollar-and-backslash text",             // regex-special chars
      ""                                                  // empty string
    ).toDF("text")
      .union(Seq.empty[String].toDF("text"))
    val withNull = edges.union(Seq(null.asInstanceOf[String]).toDF("text"))
    Seq(corpus, withNull).foreach { df =>
      val diverged = df
        .withColumn("fused", graft.functions.RedactCounts.redactCounts(
          spark, $"text", emailRe, "<EMAIL>", digitRe, "<NUM>"))
        .withColumn("ref", struct(
          regexp_replace(regexp_replace($"text", emailRe, "<EMAIL>"), digitRe, "<NUM>")
            .as("clean"),
          (size(split($"text", emailRe, -1)) - 1).cast("long").as("n1"),
          (size(split(regexp_replace($"text", emailRe, "<EMAIL>"), digitRe, -1)) - 1)
            .cast("long").as("n2")))
        // composed form null-propagates per FIELD (struct of nulls), the
        // fused kernel nulls the whole struct — same downstream values, so
        // compare field-wise under null-safe equality
        .filter(!($"fused.clean" <=> $"ref.clean" &&
          $"fused.n1" <=> $"ref.n1" && $"fused.n2" <=> $"ref.n2"))
        .count()
      assert(diverged == 0L, s"$diverged rows diverged between fused and composed redaction")
    }
  }

  test("JsonGetScalar matches get_json_object('$.key') on valid JSON, scalar and null paths") {
    // The fused scanner feeds q_json_extract; parity contract: identical
    // to get_json_object for top-level SCALAR values, missing keys, JSON
    // nulls, non-object roots and malformed JSON (all NULL both sides).
    // Documented divergence: object/array values (get_json_object
    // re-serializes, the scanner returns NULL) — excluded here, and
    // value-identical under the numeric cast the query applies.
    import spark.implicits._
    val cases = Seq(
      """{"k": 76}""",
      """{"k":-12, "j": 3}""",
      """{"j": 1, "k": 2}""",                          // key not first
      """{"k": "quoted"}""",                           // string value
      """{"k": "a\"b\\c\nA"}""",                  // escapes
      """{"k": true}""", """{"k": false}""",
      """{"k": null}""",                               // JSON null → SQL null
      """{"j": 5}""",                                  // missing key
      """{"kk": 1, "k": 2}""",                         // prefix-named key
      """{"nested": {"k": 99}, "k": 7}""",             // nested decoy
      """{"arr": [{"k": 1}, 2], "k": 8}""",            // array decoy
      """{"s": "has \"k\": inside", "k": 9}""",        // string-value decoy
      """{ "k" : 1.5e3 }""",                           // whitespace + float (Jackson-normalized)
      """{"k": 1.25}""", """{"k": -0.5}""",            // plain floats
      """{"k": 0}""",
      """[1, 2, 3]""",                                 // non-object root
      """not json at all""", """{"k": }""", """{"k" 1}""", // malformed
      """{}""", "",
      null.asInstanceOf[String]
    ).toDF("js")
    val corpus = graft.tables.Tables.events(spark, "/root/testdata/sf0.001")
      .select($"props".as("js"))
    Seq(cases, corpus).foreach { df =>
      val diverged = df
        .withColumn("fused", graft.functions.JsonGetScalar.jsonGetScalar(spark, $"js", "k"))
        .withColumn("ref", get_json_object($"js", "$.k"))
        .filter(!($"fused" <=> $"ref"))
        .collect()
      assert(diverged.isEmpty,
        s"${diverged.length} rows diverged between fused and get_json_object: " +
          diverged.take(5).mkString(" | "))
    }
  }

  test("the shape-guarded try_cast equals plain try_cast on every string class") {
    // q_try_funcs guards try_cast with a shape regex so the per-row
    // exception path only fires on shape-valid-but-failing rows. The guard
    // must admit EXACTLY ANSI's trimmed optional-sign digit grammar:
    // anything it rejects, try_cast must null too; anything it admits goes
    // through the real try_cast (overflow still nulls there).
    import spark.implicits._
    val intShape = "^[\\s\\x00-\\x1f]*[+-]?[0-9]+[\\s\\x00-\\x1f]*$"
    val inputs = Seq(
      "123", "+5", "-42", " 12 ", "\t7\n", "8 ",  // trimmed/signed valid
      "1.5", "1e3", "abc", "alm", "", " ", "+", "-", "12a", "a12",
      "99999999999999999999999",                              // overflow → null both
      "0", "-0", "007",
      null.asInstanceOf[String]
    ).toDF("x")
    val diverged = inputs
      .withColumn("guarded",
        when($"x".rlike(intShape), expr("try_cast(x AS BIGINT)"))
          .otherwise(lit(null).cast("long")))
      .withColumn("plain", expr("try_cast(x AS BIGINT)"))
      .filter(!($"guarded" <=> $"plain"))
      .collect()
    assert(diverged.isEmpty,
      s"guarded/plain try_cast diverged: ${diverged.take(5).mkString(" | ")}")
  }

  test("GramsJoin is element-identical to the transform/concat_ws HOF chain (non-distinct)") {
    // The fused assembly feeds the occurrence-level bigram passes
    // (q_text_novelty, q_text_ngrams): every occurrence kept, position
    // order, concat_ws null-skip, empty under width.
    import spark.implicits._
    val hof = "transform(sequence(0, size(tok)-2), i -> concat_ws(' ', tok[i], tok[i+1]))"
    val corpus = graft.tables.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(split($"text", " ").as("tok"))
    val edges = Seq(
      Seq[String]("a", "b", "a", "b", "a"),  // repeated bigrams KEPT
      Seq[String]("u", null, "u", "x"),      // null-skip: (u),(u),(u x)
      Seq[String]("p", "q")                  // exactly one bigram
    ).toDF("tok")
    Seq(corpus, edges).foreach { df0 =>
      val df = df0.filter(size($"tok") >= 2) // the callers' shared pre-filter
      val diverged = df
        .withColumn("fused", graft.functions.GramsJoin.gramsJoin(spark, $"tok", 2))
        .withColumn("ref", expr(hof))
        .filter(!($"fused" <=> $"ref"))
        .count()
      assert(diverged == 0L, s"$diverged rows diverged between fused and HOF bigram arrays")
    }
  }

  test("Gopher gate kernels are value-identical to their HOF chains (sum_len, top_cnt, n_stop)") {
    // The fused gate feeds q_quality_gopher and both curation funnels'
    // quality filters, so each statistic must match its HOF form exactly:
    // tok_char_sum's sticky null (any null token nulls the sum),
    // max_run_sorted = Q.maxRunSql over array_sort(tok) (nulls sort last
    // and never extend a run; size<=1 returns size), stopword_hits =
    // size(filter(words, w -> array_contains(tok, w))) with the
    // not-found-with-null-tokens NULL dropped like a false.
    import spark.implicits._
    import graft.queries.Q
    val corpus = graft.tables.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(split($"text", " ").as("tok"))
    val edges = Seq(
      Seq[String]("the", "of", "of", "banana", "of", "the"), // multiplicity 3
      Seq[String]("x", null, "x", "x"),                      // null token
      Seq[String](null, null),                               // all null
      Seq[String]("solo"),                                   // size 1
      Seq[String](),                                         // empty
      Seq[String]("the", "a", "of", "and", "to", "in")       // all 6 stopwords
    ).toDF("tok")
    Seq(corpus, edges).foreach { df =>
      val diverged = df
        .withColumn("f_sum", graft.functions.GopherKernels.tokCharSum(spark, $"tok"))
        .withColumn("r_sum", expr("aggregate(tok, 0L, (a, x) -> a + length(x))"))
        .withColumn("f_run", graft.functions.GopherKernels.maxRunSorted(spark, $"tok"))
        .withColumn("st", array_sort($"tok"))
        .withColumn("r_run", expr(Q.maxRunSql))
        .withColumn("f_stop", graft.functions.GopherKernels.stopwordHits(spark, $"tok"))
        .withColumn("r_stop", expr(
          "CAST(size(filter(array('the','a','of','and','to','in'), w -> array_contains(tok, w))) AS BIGINT)"))
        .filter(!($"f_sum" <=> $"r_sum" && $"f_run" <=> $"r_run" && $"f_stop" <=> $"r_stop"))
        .collect()
      assert(diverged.isEmpty,
        s"${diverged.length} rows diverged on the gate kernels: ${diverged.take(3).mkString(" | ")}")
    }
  }

  test("TokenSetCount is value-identical to the size(filter(tok, x IN ...)) HOF") {
    // Occurrence-level membership count (every matching token counts,
    // unlike StopwordHits's distinct-word count) feeding q_text_quality /
    // q_text_langid / q_similarity_filtered's gate.
    import spark.implicits._
    val words = Seq("the", "a", "of", "and", "to", "in")
    val corpus = graft.tables.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(split($"text", " ").as("tok"))
    val edges = Seq(
      Seq[String]("the", "the", "the", "of"), // repeats count each time
      Seq[String]("x", null, "the"),          // null token dropped
      Seq[String]()                           // empty
    ).toDF("tok")
    Seq(corpus, edges).foreach { df =>
      val diverged = df
        .withColumn("fused",
          graft.functions.GopherKernels.tokenSetCount(spark, $"tok", words))
        .withColumn("ref",
          expr("size(filter(tok, x -> x IN ('the', 'a', 'of', 'and', 'to', 'in')))"))
        .filter(!($"fused" <=> $"ref"))
        .count()
      assert(diverged == 0L, s"$diverged rows diverged between fused and HOF set counts")
    }
  }

  test("WindowHash64 preserves the window-equality structure of the HOF fingerprints") {
    // The kernel's VALUES legitimately differ from the xxhash64-of-slice
    // HOF (the cross-engine contract is counts, not hash bytes), so the
    // pin is structural: per-doc distinct-window COUNTS match the HOF
    // exactly (no extra collisions on the real corpus), and equal windows
    // ACROSS docs share a fingerprint (the property the dedup counts on).
    import spark.implicits._
    val corpus = graft.tables.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(split($"text", " ").as("tok"))
      .filter(size($"tok") >= 20)
    val countDiverged = corpus
      .withColumn("fused", size(graft.functions.WindowHash64.windowHashes(spark, $"tok", 20)))
      .withColumn("ref", size(expr(
        "array_distinct(transform(sequence(0, size(tok)-20), w -> xxhash64(slice(tok, w+1, 20))))")))
      .filter(!($"fused" <=> $"ref"))
      .count()
    assert(countDiverged == 0L,
      s"$countDiverged docs diverged in distinct-window counts (unexpected collision)")
    // cross-doc equality: two docs share one 20-token run, differ elsewhere
    val shared = (0 until 20).map(i => s"shared$i").mkString(" ")
    val docs = Seq(
      s"$shared tail0 tail1 tail2",
      s"head0 head1 $shared",
      (0 until 23).map(i => s"other$i").mkString(" ")
    ).toDF("text").select(split($"text", " ").as("tok"))
    val fps = docs
      .select(explode(graft.functions.WindowHash64.windowHashes(spark, $"tok", 20)).as("fp"))
      .groupBy($"fp").count().filter($"count" >= 2).count()
    assert(fps == 1L, s"expected exactly the planted shared window to repeat, got $fps")
  }

  test("ChunkTexts is element-identical to both HOF chunking shapes (32/24 windows, 16/16 tiles)") {
    import spark.implicits._
    val hofWin = "transform(sequence(0, CAST(greatest(ceil((size(tok) - 32) / 24.0), 0) AS INT)), " +
      "w -> concat_ws(' ', slice(tok, w*24+1, 32)))"
    val hofTile = "transform(sequence(0, CAST(ceil(size(tok) / 16.0) AS INT) - 1), " +
      "i -> concat_ws(' ', slice(tok, i*16+1, 16)))"
    val corpus = graft.tables.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(split($"text", " ").as("tok"))
    // boundary edges: 1 token, exactly width, width+1, a stride multiple,
    // and a null token inside a chunk
    val edges = Seq(
      (1 to 1), (1 to 16), (1 to 17), (1 to 32), (1 to 33), (1 to 56), (1 to 57)
    ).map(r => r.map(i => s"t$i"): Seq[String]).toDF("tok")
      .union(Seq(Seq[String]("a", null, "b")).toDF("tok"))
    // q_dedup_paragraph's 10/10 shape joins with array_join instead of
    // concat_ws — same null-skip join, pinned here too
    val hofPara = "transform(sequence(0, (size(tok) - 1) div 10), " +
      "i -> array_join(slice(tok, i * 10 + 1, 10), ' '))"
    Seq(corpus, edges).foreach { df =>
      val diverged = df
        .withColumn("fw", graft.functions.ChunkTexts.chunkTexts(spark, $"tok", 32, 24))
        .withColumn("rw", expr(hofWin))
        .withColumn("ft", graft.functions.ChunkTexts.chunkTexts(spark, $"tok", 16, 16))
        .withColumn("rt", expr(hofTile))
        .withColumn("fp", graft.functions.ChunkTexts.chunkTexts(spark, $"tok", 10, 10))
        .withColumn("rp", expr(hofPara))
        .filter(!($"fw" <=> $"rw" && $"ft" <=> $"rt" && $"fp" <=> $"rp"))
        .collect()
      assert(diverged.isEmpty,
        s"${diverged.length} rows diverged on chunk shapes: ${diverged.take(3).mkString(" | ")}")
    }
  }

  test("BloomPair is bit-identical to the conv(substring(md5)) probe pair") {
    // The kernel's [h1, h2] feed the cross-engine bitmap (the DuckDB
    // oracle parses md5 hex), so they must equal the SQL pair exactly:
    // first/second big-endian 32-bit digest words == the 8-hex-char
    // substrings conv() parses. Checked at two bitmap sizes on real grams.
    import spark.implicits._
    val grams = graft.tables.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(explode(split($"text", " ")).as("g"))
      .union(Seq("", "a", "exact five gram words here").toDF("g"))
    Seq(1L << 16, 1L << 23).foreach { mBits =>
      val diverged = grams
        .withColumn("fused", graft.functions.BloomPair.bloomPair(spark, $"g", mBits))
        .withColumn("mh", md5($"g"))
        .withColumn("ref", array(
          conv(substring($"mh", 1, 8), 16, 10).cast("long") % mBits,
          conv(substring($"mh", 9, 8), 16, 10).cast("long") % mBits))
        .filter(!($"fused" <=> $"ref"))
        .count()
      assert(diverged == 0L, s"$diverged grams diverged at mBits=$mBits")
    }
  }
}
