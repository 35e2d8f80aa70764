package graft.functions

import java.nio.ByteBuffer
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, SparkSession}

/** Growable (vec_id, vector) bag for one cell — the aggregation buffer of
  * [[SemDedupPairStats]]. No reduction is possible before `eval` (every
  * pair needs both vectors), so update/merge only accumulate; the O(m²)
  * work happens once per GROUP, not per row.
  */
final class SemDedupCellBuffer {
  var ids = new Array[Long](8)
  var vecs = new Array[Array[Double]](8)
  var n = 0

  private def grow(min: Int): Unit = {
    val cap = math.max(min, ids.length * 2)
    ids = java.util.Arrays.copyOf(ids, cap)
    vecs = java.util.Arrays.copyOf(vecs, cap)
  }

  def add(id: Long, v: Array[Double]): Unit = {
    if (n == ids.length) grow(n + 1)
    ids(n) = id; vecs(n) = v; n += 1
  }

  def mergeFrom(o: SemDedupCellBuffer): Unit = {
    if (n + o.n > ids.length) grow(n + o.n)
    System.arraycopy(o.ids, 0, ids, n, o.n)
    System.arraycopy(o.vecs, 0, vecs, n, o.n)
    n += o.n
  }
}

/** `semdedup_pair_stats(vec_id, v, threshold)` — per-group exact SemDeDup
  * pair statistics, value-identical to the cell self-join it replaces:
  *
  *   pairs = assigned JOIN assigned ON cell, id_a < id_b,
  *           round(cosine_sim(va, vb), 4) >= threshold
  *   n_dup_pairs = COUNT(*), n_dropped = COUNT(DISTINCT id_b)
  *
  * computed as ONE aggregate over the assignment — one exchange of n rows
  * (each vector crosses the wire once) instead of the self-join's two
  * cell-partitioned exchanges + two sorts + ~occupancy·n/2 joined pair rows
  * through a filter, plus the separate n_vecs aggregate and the left join
  * re-attaching it (guide §2.3/§2.4: shuffle fewer bytes, remove shuffles
  * outright). The quadratic-per-cell comparison count is the SemDeDup
  * design point either way (occupancy is policy-bounded, ~256); this moves
  * it from join machinery into a tight primitive-array loop.
  *
  * Bit-parity contract with the join formulation:
  *  - the cosine is [[CosineSimilarity]]'s fold exactly: dot, |a|², |b|²
  *    accumulated left-to-right over min(len) elements, dot/(√·√) — and
  *    multiplication is commutative per IEEE, so (a,b) vs (b,a) is moot;
  *  - the 4-dp rounding is Spark `Round`'s double path exactly:
  *    NaN/Infinity pass through (and Spark's comparison ordering places
  *    NaN above every value, so a NaN cosine QUALIFIES), else
  *    BigDecimal.valueOf(x).setScale(4, HALF_UP).doubleValue(). A
  *    conservative fast band skips the BigDecimal for cosines further than
  *    6e-4 from the threshold (|round4(x) − x| ≤ 5e-5 + one toString ulp,
  *    so no such cosine can cross it — only near-threshold pairs pay the
  *    decimal path);
  *  - pair order: ids sorted ascending, i < j ⇒ (id_a, id_b) = (ids(i),
  *    ids(j)) with id_a < id_b — duplicate vec_ids (impossible per
  *    generation, but defensively) compare i < j exactly like the strict
  *    `<` join predicate, i.e. equal ids never pair;
  *  - null vectors never pair (the join's null cosine fails the filter);
  *    they still count toward n_vecs, which stays a separate count(1).
  *
  * Returns struct(n_dup_pairs BIGINT, n_dropped BIGINT); 0/0 for cells
  * with no qualifying pair — exactly the old COALESCE(left join, 0).
  */
case class SemDedupPairStats(
    vecId: Expression,
    vec: Expression,
    thresholdExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0
) extends TypedImperativeAggregate[SemDedupCellBuffer] {

  private lazy val threshold: Double =
    thresholdExpr.eval(InternalRow.empty).asInstanceOf[Number].doubleValue()

  override def children: Seq[Expression] = Seq(vecId, vec, thresholdExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = StructType(Seq(
    StructField("n_dup_pairs", LongType, nullable = false),
    StructField("n_dropped", LongType, nullable = false)))
  override def prettyName: String = "semdedup_pair_stats"

  override def createAggregationBuffer(): SemDedupCellBuffer = new SemDedupCellBuffer

  override def update(buf: SemDedupCellBuffer, input: InternalRow): SemDedupCellBuffer = {
    val id = vecId.eval(input)
    val v = vec.eval(input)
    if (id != null && v != null)
      buf.add(id.asInstanceOf[Long], v.asInstanceOf[ArrayData].toDoubleArray())
    buf
  }

  override def merge(buf: SemDedupCellBuffer, other: SemDedupCellBuffer): SemDedupCellBuffer = {
    buf.mergeFrom(other); buf
  }

  override def eval(buf: SemDedupCellBuffer): Any = {
    val (pairs, dropped) = SemDedupPairStats.cellStats(
      java.util.Arrays.copyOf(buf.ids, buf.n), java.util.Arrays.copyOf(buf.vecs, buf.n), threshold)
    InternalRow(pairs, dropped)
  }

  override def serialize(buf: SemDedupCellBuffer): Array[Byte] = {
    var bytes = 4
    var i = 0
    while (i < buf.n) {
      bytes += 12 + (if (buf.vecs(i) == null) 0 else buf.vecs(i).length * 8)
      i += 1
    }
    val bb = ByteBuffer.allocate(bytes)
    bb.putInt(buf.n)
    i = 0
    while (i < buf.n) {
      bb.putLong(buf.ids(i))
      val v = buf.vecs(i)
      if (v == null) bb.putInt(-1)
      else {
        bb.putInt(v.length)
        var k = 0
        while (k < v.length) { bb.putDouble(v(k)); k += 1 }
      }
      i += 1
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): SemDedupCellBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new SemDedupCellBuffer
    val n = bb.getInt
    var i = 0
    while (i < n) {
      val id = bb.getLong
      val len = bb.getInt
      val v =
        if (len < 0) null
        else {
          val a = new Array[Double](len)
          var k = 0
          while (k < len) { a(k) = bb.getDouble; k += 1 }
          a
        }
      buf.add(id, v)
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): SemDedupPairStats =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): SemDedupPairStats =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(vecId = c(0), vec = c(1), thresholdExpr = c(2))
}

object SemDedupPairStats {

  /** `(n_dup_pairs, n_dropped)` of one cell's vectors (`ids` aligned with
    * `vecs`, any order; a null vector never pairs) — the aggregate's eval,
    * shared with the hierarchical quantizer's per-cell kernel. */
  def cellStats(ids: Array[Long], vecs: Array[Array[Double]], threshold: Double): (Long, Long) = {
    val n = ids.length
    // sort by vec_id ascending so (i < j) ⇔ (id_a < id_b); buffer arrival
    // order is shuffle-nondeterministic and must not matter
    val order = (0 until n).sortBy(ids(_)).toArray
    // the fast band: outside ±6e-4 of the threshold the 4-dp HALF_UP
    // rounding cannot change which side of `>= threshold` a cosine is on
    val lo = threshold - 6e-4
    val hi = threshold + 6e-4
    var pairs = 0L
    var dropped = 0L
    var j = 1
    while (j < n) {
      val oj = order(j)
      val vj = vecs(oj)
      var cnt = 0L
      var i = 0
      while (i < j) {
        val oi = order(i)
        if (ids(oi) != ids(oj)) { // strict <: equal ids never pair
          if (qualifies(vecs(oi), vj, threshold, lo, hi)) cnt += 1L
        }
        i += 1
      }
      pairs += cnt
      if (cnt > 0L) dropped += 1L
      j += 1
    }
    (pairs, dropped)
  }

  /** round(cosine_sim(a, b), 4) >= threshold, bit-identical to the Spark
    * expression chain (see the class doc). */
  private def qualifies(
      a: Array[Double], b: Array[Double], threshold: Double, lo: Double, hi: Double): Boolean = {
    if (a == null || b == null) return false
    val n = math.min(a.length, b.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a(i); val y = b(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    val c = dot / (math.sqrt(na) * math.sqrt(nb))
    // Spark's (and DuckDB's) double comparison ordering places NaN ABOVE
    // every value, so a NaN cosine (zero-norm vector) QUALIFIES under
    // `>= threshold` — java primitive NaN comparison would silently drop
    // those pairs (caught by the Round21OpsSpec zero-vector fixture)
    if (java.lang.Double.isNaN(c)) true
    else if (c < lo) false
    else if (c >= hi) true // +Infinity lands here; -Infinity under lo
    else java.math.BigDecimal.valueOf(c)
      .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue() >= threshold
  }
  /** Delegates to the shared `GraftExtensions` builder (same arity guard
    * and coercion as extension injection). */
  def register(spark: SparkSession): Unit =
    graft.GraftExtensions.registerTemp(spark, "semdedup_pair_stats")

  def pairStats(spark: SparkSession, vecId: Column, v: Column, threshold: Double): Column = {
    register(spark)
    org.apache.spark.sql.functions.call_function(
      "semdedup_pair_stats", vecId, v, org.apache.spark.sql.functions.lit(threshold))
  }
}
