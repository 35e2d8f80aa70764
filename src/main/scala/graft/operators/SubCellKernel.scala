package graft.operators

import java.math.{BigDecimal => JBigDecimal, RoundingMode}
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode, Literal}
import org.apache.spark.sql.types._

/** Stage 2 of the hierarchical quantizer
  * ([[IvfKMeans.trainAssignHierarchical]]) for one coarse cell at a time, on
  * primitive arrays: sub-seed selection, the pinned sub-Lloyd iterations,
  * the final assignment and, for SemDeDup, each sub-cell's pair stats. Its
  * input is the coarse-assigned vectors shuffled ONCE by `ccell` and sorted
  * by `(ccell, vec_id)`, so a task holds one coarse cell in memory.
  *
  * Bit-parity contract with the join formulation it replaces (a ccell
  * equi-join of vectors to sub-centroids, a `groupBy(vec_id)` packed-long
  * argmin, and `posexplode` + `decimal(38,12)` per-dimension means):
  *  - seeds: the ⌈n_c/256⌉ lowest-`vec_id` members (`row_number` over
  *    `vec_id` ≤ `ceil(n_c / 256.0)`), cell id = the seed's `vec_id`;
  *  - assignment: the minimum of the packed key
  *    `round(-cos6·10⁶)·2⁴¹ + cid` (`cos6` = Spark `Round(cosine, 6)`,
  *    NaN → 2·10⁶), and `cid = pmod(key, 2⁴¹)`. Not
  *    `IvfNearestCell.nearest`: its `Double.compare` order separates ±0.0
  *    cosines, the packed key does not;
  *  - cosine: [[graft.functions.CosineSimilarity]]'s fold over min(len)
  *    elements, a null element read as 0.0 (as `getDouble` reads it);
  *  - means: per dimension i, `round(sum(cast(x as decimal(38,12)))
  *    .cast(double) / count, 6)` with Spark's own `Decimal`: `count` counts
  *    every member longer than i (a null element too, as `posexplode` emits
  *    it), the sum skips nulls, and a dimension with no non-null element is
  *    a null mean. A sub-cell whose members are all empty vectors has no
  *    exploded row and vanishes; a coarse cell left with no sub-centroid
  *    drops its vectors, as the equi-join did;
  *  - cids must lie in [0, 2⁴¹) (the packing's range).
  */
private[graft] object SubCellKernel {

  /** What one pass emits. */
  sealed trait Output { def schema: StructType }

  /** `(vec_id, v, ccell, cid)` per vector: the trainAssignHierarchical contract. */
  case object Assign extends Output {
    val schema: StructType = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("v", ArrayType(DoubleType)),
      StructField("ccell", LongType),
      StructField("cid", LongType)))
  }

  /** `(cell, n_vecs, n_dup_pairs, n_dropped)` per non-empty sub-cell, the
    * pairs by [[graft.functions.SemDedupPairStats.cellStats]]. */
  final case class DedupStats(threshold: Double) extends Output {
    val schema: StructType = StructType(Seq(
      StructField("cell", LongType),
      StructField("n_vecs", LongType, nullable = false),
      StructField("n_dup_pairs", LongType, nullable = false),
      StructField("n_dropped", LongType, nullable = false)))
  }

  /** `(ccell, cid, cv)`: the sub-centroids the final assignment used. */
  case object Centroids extends Output {
    val schema: StructType = StructType(Seq(
      StructField("ccell", LongType),
      StructField("cid", LongType),
      StructField("cv", ArrayType(DoubleType))))
  }

  /** A vector as the kernel reads it: `x` with null elements as 0.0, and
    * `nulls` marking them (null when there are none). */
  final class Vec(val x: Array[Double], val nulls: Array[Boolean]) {
    def isNull(i: Int): Boolean = nulls != null && nulls(i)
  }

  /** One coarse cell's result: the sub-cell id of each member (input
    * order), and the sub-centroids of the final assignment. `cid` is null
    * when the cell lost every sub-centroid. */
  final class Cell(val cid: Array[Long], val centIds: Array[Long], val cents: Array[Vec])

  private val PackShift = 1L << 41
  private val NanKey = 2000000L
  private val MaxSumUnscaled = java.math.BigInteger.TEN.pow(38) // decimal(38,12)'s bound, unscaled

  /** Spark `Round(x, d)` on a double: NaN and ±Infinity pass through. */
  private def roundHalfUp(x: Double, d: Int): Double =
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) x
    else JBigDecimal.valueOf(x).setScale(d, RoundingMode.HALF_UP).doubleValue()

  /** `when(isnan(cos6), 2e6).otherwise(round(-cos6 * 1e6).cast(long))`. */
  private def negs(cos: Double, ansi: Boolean): Long = {
    val c6 = roundHalfUp(cos, 6)
    if (java.lang.Double.isNaN(c6)) NanKey
    else {
      val y = -c6 * 1e6
      // y is within a few ulps of an integer: away from a .5 fraction the
      // HALF_UP result is the nearest integer
      val r = math.rint(y)
      val rounded = if (math.abs(y - r) < 0.25) r else roundHalfUp(y, 0)
      if (ansi && java.lang.Double.isInfinite(rounded))
        throw new ArithmeticException(s"cosine key $rounded overflows bigint")
      rounded.toLong
    }
  }

  /** CosineSimilarity's fold over min(len), with `|a|²`/`|b|²` precomputed
    * over the full lengths (the identical IEEE double when the lengths
    * agree; a ragged pair refolds the prefixes). */
  private def cosine(a: Array[Double], na: Double, b: Array[Double], nb: Double): Double = {
    val m = math.min(a.length, b.length)
    var dot = 0.0
    var i = 0
    while (i < m) { dot += a(i) * b(i); i += 1 }
    val sa = if (m == a.length) na else sq(a, m)
    val sb = if (m == b.length) nb else sq(b, m)
    dot / (math.sqrt(sa) * math.sqrt(sb))
  }

  private def sq(a: Array[Double], m: Int): Double = {
    var s = 0.0; var i = 0
    while (i < m) { s += a(i) * a(i); i += 1 }
    s
  }

  /** `cast(x as decimal(38,12))` with Spark's own conversion: `Decimal` on
    * the common path; NaN, ±Infinity and magnitudes near the precision
    * bound go through Spark's `Cast` itself (null, or its ANSI error).
    * null: a null contribution. */
  private def toDecimal(x: Double, ansi: Boolean): JBigDecimal =
    if (!java.lang.Double.isNaN(x) && !java.lang.Double.isInfinite(x) && math.abs(x) < 1e25) {
      val d = Decimal(x)
      if (d.changePrecision(38, 12)) d.toJavaBigDecimal else null
    } else {
      val d = Cast(Literal(x, DoubleType), DecimalType(38, 12), None,
        if (ansi) EvalMode.ANSI else EvalMode.LEGACY).eval()
      if (d == null) null else d.asInstanceOf[Decimal].toJavaBigDecimal
    }

  // scale-12 unscaled longs, converted once per vector: a null
  // contribution, and a value too wide for a long (re-converted when summed)
  private val NullDec = Long.MinValue
  private val WideDec = Long.MinValue + 1

  private def unscaled(x: Double, ansi: Boolean): Long = toDecimal(x, ansi) match {
    case null => NullDec
    case d =>
      val u = d.unscaledValue
      if (u.bitLength < 63) u.longValue else WideDec
  }

  /** Run stage 2 on one coarse cell: `ids` ascending, `vecs` aligned. */
  def cell(ids: Array[Long], vecs: Array[Vec], iters: Int, ansi: Boolean): Cell = {
    val n = ids.length
    val norms = vecs.map(v => sq(v.x, v.x.length))
    val decs: Array[Array[Long]] = vecs.map { v =>
      Array.tabulate(v.x.length)(i => if (v.isNull(i)) NullDec else unscaled(v.x(i), ansi))
    }
    val nSeeds = math.ceil(n / 256.0).toInt
    var centIds = java.util.Arrays.copyOf(ids, nSeeds)
    var cents = java.util.Arrays.copyOf(vecs, nSeeds)
    centIds.foreach(c => require(c >= 0 && c < PackShift,
      s"sub-cell ids are packed into 41 bits (cid $c out of range)"))

    def assign(): Array[Long] = {
      val cnorms = cents.map(c => sq(c.x, c.x.length))
      val out = new Array[Long](n)
      var j = 0
      while (j < n) {
        var best = Long.MaxValue
        var k = 0
        while (k < cents.length) {
          val key = negs(cosine(vecs(j).x, norms(j), cents(k).x, cnorms(k)), ansi) * PackShift + centIds(k)
          if (key < best) best = key
          k += 1
        }
        out(j) = Math.floorMod(best, PackShift)
        j += 1
      }
      out
    }

    var it = 0
    while (it < iters && cents.nonEmpty) {
      val cid = assign()
      val next = (0 until n).groupBy(cid(_)).toSeq.sortBy(_._1)
        .flatMap { case (c, js) => mean(js, vecs, decs, ansi).map(c -> _) }
      centIds = next.map(_._1).toArray
      cents = next.map(_._2).toArray
      it += 1
    }
    new Cell(if (cents.isEmpty) null else assign(), centIds, cents)
  }

  /** The sub-centroid of members `js`: None when no member has an element
    * (no exploded row, so the sub-cell vanishes). */
  private def mean(
      js: Seq[Int], vecs: Array[Vec], decs: Array[Array[Long]], ansi: Boolean
  ): Option[Vec] = {
    val len = js.map(vecs(_).x.length).max
    if (len == 0) None
    else {
      val x = new Array[Double](len)
      var nulls: Array[Boolean] = null
      var i = 0
      while (i < len) {
        var cnt = 0L
        var any = false
        var sum = 0L
        var wide: JBigDecimal = null // the exact sum once a long cannot hold it
        js.foreach { j =>
          if (vecs(j).x.length > i) {
            cnt += 1
            val u = decs(j)(i)
            if (u != NullDec) {
              any = true
              if (u == WideDec) {
                val d = toDecimal(vecs(j).x(i), ansi)
                wide = if (wide == null) d else wide.add(d)
              } else {
                val s = sum + u
                if (((sum ^ s) & (u ^ s)) < 0) { // long overflow: carry into `wide`
                  val d = JBigDecimal.valueOf(sum, 12).add(JBigDecimal.valueOf(u, 12))
                  wide = if (wide == null) d else wide.add(d)
                  sum = 0L
                } else sum = s
              }
            }
          }
        }
        val total =
          if (!any) null
          else if (wide == null) JBigDecimal.valueOf(sum, 12)
          else wide.add(JBigDecimal.valueOf(sum, 12))
        val overflow = total != null && total.unscaledValue.abs.compareTo(MaxSumUnscaled) >= 0
        if (overflow && ansi) throw new ArithmeticException(s"decimal(38,12) sum overflow: $total")
        if (total == null || overflow) {
          if (nulls == null) nulls = new Array[Boolean](len)
          nulls(i) = true
        } else x(i) = roundHalfUp(Decimal(total).toDouble / cnt.toDouble, 6)
        i += 1
      }
      Some(new Vec(x, nulls))
    }
  }

  /** A row's `v` (non-null `array<double>`) as a [[Vec]]. */
  private def vecOf(r: Row, ord: Int): Vec = {
    val s = r.getSeq[Any](ord)
    val x = new Array[Double](s.length)
    var nulls: Array[Boolean] = null
    var i = 0
    s.foreach { e =>
      if (e == null) {
        if (nulls == null) nulls = new Array[Boolean](x.length)
        nulls(i) = true
      } else x(i) = e.asInstanceOf[Double]
      i += 1
    }
    new Vec(x, nulls)
  }

  private def boxed(v: Vec): Seq[Any] =
    v.x.indices.map(i => if (v.isNull(i)) null else v.x(i))

  /** Stream `(vec_id, v, ccell)` rows sorted by (ccell, vec_id), one coarse
    * cell at a time, into `out`'s rows. */
  def run(rows: Iterator[Row], iters: Int, ansi: Boolean, out: Output): Iterator[Row] = {
    val in = rows.buffered
    new Iterator[Iterator[Row]] {
      def hasNext: Boolean = in.hasNext
      def next(): Iterator[Row] = {
        val ccell = in.head.getLong(2)
        val ids = Array.newBuilder[Long]
        val vecs = Array.newBuilder[Vec]
        while (in.hasNext && in.head.getLong(2) == ccell) {
          val r = in.next()
          require(!r.isNullAt(0), "vec_id must not be null")
          ids += r.getLong(0)
          vecs += vecOf(r, 1)
        }
        emit(ccell, ids.result(), vecs.result(), iters, ansi, out)
      }
    }.flatten
  }

  private def emit(
      ccell: Long, ids: Array[Long], vecs: Array[Vec], iters: Int, ansi: Boolean, out: Output
  ): Iterator[Row] = {
    val c = cell(ids, vecs, iters, ansi)
    out match {
      case Centroids =>
        c.centIds.indices.iterator.map(k => Row(ccell, c.centIds(k), boxed(c.cents(k))))
      case _ if c.cid == null => Iterator.empty
      case Assign =>
        ids.indices.iterator.map(j => Row(ids(j), boxed(vecs(j)), ccell, c.cid(j)))
      case DedupStats(threshold) =>
        ids.indices.groupBy(c.cid(_)).toSeq.sortBy(_._1).iterator.map { case (sub, js) =>
          val (pairs, dropped) = graft.functions.SemDedupPairStats.cellStats(
            js.map(ids(_)).toArray, js.map(vecs(_).x).toArray, threshold)
          Row(sub, js.size.toLong, pairs, dropped)
        }
    }
  }
}
