package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.multimodal.WavCodec

/** Round-13 ADVICE closures: the WAV chunk-walk Int-overflow class (a
  * declared chunk size near Int.MaxValue must be a structural violation,
  * not wrapped arithmetic), and the runtime zero-width-match rejection in
  * redact_counts for the context-dependent patterns the analysis-time
  * empty-string probe cannot see (`(?=a)`, `\b`).
  */
class Round13OpsSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark

  private def putLeInt(b: Array[Byte], at: Int, v: Int): Unit = {
    b(at) = (v & 0xff).toByte; b(at + 1) = ((v >> 8) & 0xff).toByte
    b(at + 2) = ((v >> 16) & 0xff).toByte; b(at + 3) = ((v >> 24) & 0xff).toByte
  }

  test("WAV decode returns None on a chunk size near Int.MaxValue (no Int wrap)") {
    val ok = WavCodec.encode(WavCodec.Wav(8000, 1, Array[Short](5, 6, 7)))
    // the fmt chunk's declared size lives at offset 16; poison it so that
    // i + 8 + size wraps negative in Int arithmetic — the bounds check must
    // still trip (Long math), returning None rather than throwing
    for (poison <- Seq(Int.MaxValue, Int.MaxValue - 4, Int.MaxValue - 20)) {
      val bad = ok.clone()
      putLeInt(bad, 16, poison)
      assert(WavCodec.decode(bad).isEmpty, s"size=$poison must be rejected, not wrapped")
    }
    // same poison on the data chunk's size field (offset 40 in the canonical
    // 44-byte layout the encoder writes)
    val badData = ok.clone()
    putLeInt(badData, 40, Int.MaxValue - 4)
    assert(WavCodec.decode(badData).isEmpty, "poisoned data size must be rejected")
    // and an inflated RIFF container size must not extend past the real bytes
    val badRiff = ok.clone()
    putLeInt(badRiff, 4, Int.MaxValue)
    assert(WavCodec.decode(badRiff).nonEmpty,
      "riffEnd is clamped to the byte array; the intact chunks still parse")
  }

  test("resize kernels: area-average downscale floors per 2x2 block; decimation averages pairs") {
    import graft.multimodal.{PpmCodec, WavCodec}
    // 4x2 RGB image: two 2x2 blocks with hand-computed per-channel floors
    // block A channel values: R {10,11,12,13}=46 -> 11 (floor 11.5)
    val px = Array[Int](
      10, 0, 255, 11, 1, 254, /* row0: A(0,0) A(0,1) */ 100, 7, 3, 101, 8, 2,
      12, 2, 253, 13, 3, 252, /* row1 */ 102, 9, 1, 103, 10, 0
    ).map(_.toByte)
    val small = PpmCodec.downscale2x(PpmCodec.Ppm(4, 2, 255, px))
    assert(small.width == 2 && small.height == 1)
    assert(small.pixels.map(_ & 0xff).toSeq == Seq(11, 1, 253, 101, 8, 1),
      small.pixels.map(_ & 0xff).toSeq.toString)
    // decimation: even count averages pairs; odd count passes the tail through;
    // negative pairs stay exact (fixture samples are multiples of 256)
    val even = WavCodec.downsample2x(WavCodec.Wav(8000, 1, Array[Short](256, 512, -256, -768)))
    assert(even.sampleRate == 4000 && even.samples.toSeq == Seq[Short](384, -512))
    val odd = WavCodec.downsample2x(WavCodec.Wav(8000, 1, Array[Short](1000, 2000, 3000)))
    assert(odd.samples.toSeq == Seq[Short](1500, 3000))
    // full cycle: downscaled image re-encodes and re-decodes byte-exact
    val back = PpmCodec.decode(PpmCodec.encode(small)).get
    assert(java.util.Arrays.equals(back.pixels, small.pixels))
  }

  test("paragraph dedup: blank-line mode equals chunk mode on an aligned newline fixture") {
    import spark.implicits._
    // real paragraph boundaries: each paragraph is EXACTLY 10 tokens, so
    // the 10-token chunking of the flat join and the \n\n split of the
    // newline join extract the same paragraph sequence — the stand-in
    // claim q_dedup_paragraph documents, now proven on newline-bearing text
    def para(seed: Int): String =
      (0 until 10).map(i => s"w${seed}_$i").mkString(" ")
    val boiler = para(999) // shared boilerplate paragraph
    val docs = Seq(
      (0L, Seq(boiler, para(1), para(2))),
      (1L, Seq(para(3), boiler, para(2))), // loses boiler AND para(2)
      (2L, Seq(boiler)), // fully-boilerplate page: must disappear
      (3L, Seq(para(4), para(4), para(5))) // self-duplicate paragraph
    )
    val flat = docs.map { case (id, ps) => (id, ps.mkString(" ")) }.toDF("doc_id", "text")
    val nl = docs.map { case (id, ps) => (id, ps.mkString("\n\n")) }.toDF("doc_id", "text")
    val a = graft.queries.CorpusOpsQueries.paragraphDedup(spark, flat, "chunk").collect()
    val b = graft.queries.CorpusOpsQueries.paragraphDedup(spark, nl, "blankline").collect()
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq,
      s"chunk=${a.mkString(";")} blankline=${b.mkString(";")}")
    // and the dedup semantics themselves: doc 2 gone, doc 1 kept only
    // para(3), doc 3 kept para(4) once + para(5)
    val byId = a.map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(!byId.contains(2L), "fully-boilerplate doc must disappear")
    assert(byId(0L) == ((3L, 3L)) && byId(1L) == ((3L, 1L)) && byId(3L) == ((3L, 2L)))
  }

  test("redact_counts rejects context-dependent zero-width patterns at runtime") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val df = Seq("alpha beta").toDF("t")
    // (?=a) never matches the empty string (needs an 'a' ahead), so it passes
    // the analysis-time probe — but every match is zero-length on real text,
    // which would silently break the split-minus-one count identity
    for (zw <- Seq("(?=a)", "\\b")) {
      val e = intercept[Exception] {
        df.select(graft.functions.RedactCounts
          .redactCounts(spark, col("t"), zw, "X", "z+", "Y")).collect()
      }
      def causes(t: Throwable): Iterator[Throwable] =
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      assert(causes(e).exists(c => Option(c.getMessage)
        .exists(_.contains("zero-length match"))), s"pattern $zw: ${e.getMessage}")
    }
    // consuming patterns are unaffected
    val ok = df.select(graft.functions.RedactCounts
      .redactCounts(spark, col("t"), "a", "X", "e", "Y").as("r"))
      .select($"r.clean", $"r.n1", $"r.n2").head
    assert(ok.getString(0) == "XlphX bYtX" && ok.getLong(1) == 3L && ok.getLong(2) == 1L)
  }
}
