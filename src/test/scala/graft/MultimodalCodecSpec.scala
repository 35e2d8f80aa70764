package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.multimodal.{PpmCodec, WavCodec}

/** The real-codec contract: both parsers must accept the full format
  * grammar (not just their own encoder's output) and reject structural
  * violations with None — never a partial decode.
  */
class MultimodalCodecSpec extends AnyFunSuite {

  private def ascii(s: String): Array[Byte] =
    s.getBytes(java.nio.charset.StandardCharsets.US_ASCII)

  test("PPM round-trips through encode/decode") {
    val px = Array.tabulate(2 * 3 * 3)(i => (i * 37 % 256).toByte)
    val img = PpmCodec.Ppm(2, 3, 255, px)
    val back = PpmCodec.decode(PpmCodec.encode(img))
    assert(back.nonEmpty)
    assert(back.get.width == 2 && back.get.height == 3 && back.get.maxVal == 255)
    assert(back.get.pixels.toSeq == px.toSeq)
  }

  test("PPM parser accepts the full header grammar: comments, CRLF, arbitrary whitespace") {
    val raster = Array.tabulate(2 * 2 * 3)(i => (i + 1).toByte)
    val header = "P6 # a comment right after magic\r\n\t 2 # width\n 2\n# maxval next\n255 "
    val got = PpmCodec.decode(ascii(header) ++ raster)
    assert(got.nonEmpty, "grammar-exercising header must parse")
    assert(got.get.width == 2 && got.get.height == 2 && got.get.maxVal == 255)
    assert(got.get.pixels.toSeq == raster.toSeq)
  }

  test("PPM parser reads the 2-byte-sample regime (maxval > 255)") {
    // samples big-endian; low byte is what the pixel fold keeps
    val samples = Seq(0x0102, 0x0304, 0x0506).flatMap(v => Seq((v >> 8).toByte, (v & 0xff).toByte))
    val got = PpmCodec.decode(ascii("P6\n1 1\n65535\n") ++ samples.toArray)
    assert(got.nonEmpty)
    assert(got.get.pixels.toSeq == Seq(0x02.toByte, 0x04.toByte, 0x06.toByte))
  }

  test("PPM parser rejects structural violations") {
    val ok = PpmCodec.encode(PpmCodec.Ppm(2, 2, 255, new Array[Byte](12)))
    assert(PpmCodec.decode("P5\n2 2\n255\n".getBytes ++ new Array[Byte](12)).isEmpty, "magic")
    assert(PpmCodec.decode(ok.dropRight(1)).isEmpty, "truncated raster")
    assert(PpmCodec.decode(ascii("P6\n0 2\n255\n")).isEmpty, "zero width")
    assert(PpmCodec.decode(ascii("P6\n2 2\n0\n") ++ new Array[Byte](12)).isEmpty, "maxval 0")
    assert(PpmCodec.decode(ascii("P6\n2 2\n99999\n") ++ new Array[Byte](24)).isEmpty, "maxval > 65535")
    // sample exceeding maxval is out of range, not silently folded
    assert(PpmCodec.decode(ascii("P6\n1 1\n100\n") ++ Array[Byte](50, 120, 10)).isEmpty)
  }

  test("WAV round-trips through encode/decode") {
    val samples = Array.tabulate(37)(i => ((i - 18) * 256).toShort)
    val back = WavCodec.decode(WavCodec.encode(WavCodec.Wav(8000, 1, samples)))
    assert(back.nonEmpty)
    assert(back.get.sampleRate == 8000 && back.get.channels == 1)
    assert(back.get.samples.toSeq == samples.toSeq)
  }

  test("WAV chunk walk skips unknown chunks with word-alignment padding") {
    val base = WavCodec.encode(WavCodec.Wav(16000, 1, Array[Short](1000, -1000)))
    // splice an odd-sized junk chunk between 'WAVE' and 'fmt ': 5 bytes of
    // payload + 1 pad byte (RIFF word alignment)
    val junk = ascii("JUNK") ++ Array[Byte](5, 0, 0, 0) ++ Array[Byte](9, 9, 9, 9, 9, 0)
    val spliced = base.take(12) ++ junk ++ base.drop(12)
    // fix the RIFF container size for the added bytes
    val sz = (base.length - 8) + junk.length
    spliced(4) = (sz & 0xff).toByte; spliced(5) = ((sz >> 8) & 0xff).toByte
    spliced(6) = ((sz >> 16) & 0xff).toByte; spliced(7) = ((sz >> 24) & 0xff).toByte
    val got = WavCodec.decode(spliced)
    assert(got.nonEmpty, "unknown chunk must be skipped")
    assert(got.get.sampleRate == 16000 && got.get.samples.toSeq == Seq[Short](1000, -1000))
  }

  test("WAV parser rejects structural violations") {
    val ok = WavCodec.encode(WavCodec.Wav(8000, 1, Array[Short](5, 6, 7)))
    assert(WavCodec.decode(ok.dropRight(2)).isEmpty, "truncated data chunk")
    val notRiff = ok.clone(); notRiff(0) = 'X'
    assert(WavCodec.decode(notRiff).isEmpty, "bad container magic")
    val nonPcm = ok.clone(); nonPcm(20) = 3 // audioFormat = IEEE float
    assert(WavCodec.decode(nonPcm).isEmpty, "non-PCM format")
    val eightBit = ok.clone(); eightBit(34) = 8 // bits per sample
    assert(WavCodec.decode(eightBit).isEmpty, "non-16-bit samples")
  }

  test("codec round-trip PROPERTY: random images and clips survive encode->decode byte-exact") {
    import org.scalacheck.{Gen, Prop}
    val ppmProp = Prop.forAll(
      Gen.choose(1, 9), Gen.choose(1, 9), Gen.choose(1, 255),
      Gen.long) { (w, h, maxVal, seed) =>
      val rnd = new scala.util.Random(seed)
      // samples must respect maxVal (the decoder range-checks)
      val px = Array.fill(w * h * 3)((rnd.nextInt(maxVal + 1) & 0xff).toByte)
      val back = PpmCodec.decode(PpmCodec.encode(PpmCodec.Ppm(w, h, maxVal, px)))
      back.exists(p => p.width == w && p.height == h && p.maxVal == maxVal &&
        java.util.Arrays.equals(p.pixels, px))
    }
    val wavProp = Prop.forAll(
      Gen.choose(1, 96000), Gen.choose(1, 4), Gen.choose(0, 300), Gen.long) {
      (rate, ch, n, seed) =>
        val rnd = new scala.util.Random(seed)
        val samples = Array.fill(n)(rnd.nextInt().toShort)
        val back = WavCodec.decode(WavCodec.encode(WavCodec.Wav(rate, ch, samples)))
        back.exists(a => a.sampleRate == rate && a.channels == ch &&
          java.util.Arrays.equals(a.samples, samples))
    }
    PropCheck.check(ppmProp :| "PPM round-trip", 200)
    PropCheck.check(wavProp :| "WAV round-trip", 200)
  }

  test("the codec asset source emits decodable real bytes for every document") {
    val spark = SparkSuite.spark
    val docs = graft.tables.Tables.documents(spark, "/root/testdata/sf0.001")
    val assets = graft.multimodal.Multimodal.assetsFromDocumentsCodec(spark, docs).collect()
    assert(assets.nonEmpty)
    assets.foreach { a =>
      if (a.meta.kind == "image") {
        val img = PpmCodec.decode(a.content)
        assert(img.nonEmpty && img.get.width == 8 && img.get.height == 8, s"asset ${a.asset_id}")
      } else {
        val wav = WavCodec.decode(a.content)
        assert(wav.nonEmpty && wav.get.sampleRate == 8000, s"asset ${a.asset_id}")
      }
    }
  }
}
