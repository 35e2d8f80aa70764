package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Codegen'd nearest-centroid assignment against a centroid table riding a
  * BROADCAST VARIABLE.
  *
  * Semantically identical to `array_min(array(struct(-round(cosine, 6), cid)
  * for each centroid)).cid` — the formulation `IvfKMeans` originally
  * composed from K separate `CosineSimilarity` trees — but as ONE
  * expression node whatever K is. That collapses K cosine codegen blocks +
  * K struct allocations + an array_min per row into a single fused loop,
  * and keeps each consuming plan's expression tree (and every Lloyd
  * iteration's analysis + codegen) O(1) in K. The (cids, matrix, norms)
  * triple ships to each executor once as a TorrentBroadcast; K stays
  * bounded by executor memory (~0.5 GB at K = 10⁶, dim 64).
  *
  * Exact-parity details mirrored from the composed form so the DuckDB
  * oracle replays bit-for-bit:
  *  - dot and |v|² accumulate left-to-right in doubles; centroid norms are
  *    precomputed with the same left-to-right fold (same IEEE result);
  *  - cos rounds to 6 dp via BigDecimal HALF_UP (Spark's `round(_, 6)`);
  *  - argmax = min over (-cos6, cid) with java.lang.Double.compare ordering
  *    (NaN greatest, as in struct comparison), i.e. lowest-cid tiebreak.
  */
case class IvfNearestCellBc(
    child: Expression,
    bc: org.apache.spark.broadcast.Broadcast[IvfNearestCell.Table]
) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "ivf_nearest_cell_bc"

  /** Called from eval/codegen once per row. */
  def nearestOf(v: ArrayData): Long = {
    val t = bc.value
    IvfNearestCell.nearest(v, t._1, t._2, t._3)
  }

  override def nullSafeEval(input: Any): Any =
    nearestOf(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("nearestBc", this, classOf[IvfNearestCellBc].getName)
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $self.nearestOf($v);")
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Top-`nprobe` variant of [[IvfNearestCellBc]]: the cids of the `nprobe`
  * nearest centroids by (round(cos, 6) DESC, cid ASC), as one fused
  * expression returning `array<long>`. Semantically identical to the
  * composed probe-side formulation
  * `transform(slice(array_sort(simStructs(cents, v)), 1, nprobe), p -> p.cid)`
  * — K cosine trees + K struct allocations + a full array sort per row —
  * but one compiled loop over the broadcast centroid table, and per-row
  * BigDecimal rounding bounded by the raw-window argument instead of K.
  * This is the CORPUS-side probe of the IVF decontamination tier (every
  * corpus vector runs it), where the composed form's O(K·dim) plan nodes
  * and per-row sort were the dominant cost.
  *
  * Ordering parity with the struct sort: doubles compare via
  * java.lang.Double.compare (NaN greatest, -0.0 < 0.0), so all-NaN cells
  * rank after every real cosine and tie among themselves by cid — exactly
  * array_sort's struct ordering.
  */
case class IvfNearestCellsBc(
    child: Expression,
    bc: org.apache.spark.broadcast.Broadcast[IvfNearestCell.Table],
    nprobe: Int
) extends UnaryExpression {

  require(nprobe >= 1, s"nprobe must be >= 1 (got $nprobe)")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "ivf_nearest_cells_bc"

  /** Called from eval/codegen once per row. */
  def nearestNOf(v: ArrayData): ArrayData = {
    val t = bc.value
    IvfNearestCell.nearestN(v, t._1, t._2, t._3, nprobe)
  }

  override def nullSafeEval(input: Any): Any =
    nearestNOf(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("nearestNBc", this, classOf[IvfNearestCellsBc].getName)
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $self.nearestNOf($v);")
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object IvfNearestCell {

  /** A centroid table as the kernels read it: (cids, K×dim matrix, norms). */
  type Table = (Array[Long], Array[Array[Double]], Array[Double])

  /** The [[Table]] of a centroid Seq. The norm fold is CosineSimilarity's
    * left-to-right |b|² accumulation (identical IEEE double — the kernels'
    * bit-parity contract). */
  def table(cents: Seq[(Long, Seq[Double])]): Table = {
    require(cents.nonEmpty, "a centroid table needs at least one centroid")
    val mat = cents.map(_._2.toArray).toArray
    val cnorms = mat.map { c =>
      var s = 0.0; var i = 0
      while (i < c.length) { s += c(i) * c(i); i += 1 }
      math.sqrt(s)
    }
    (cents.map(_._1).toArray, mat, cnorms)
  }

  /** Max distance 6-dp HALF_UP rounding can move a double: the shortest-
    * decimal step of `BigDecimal.valueOf` shifts by ≤ ulp/2 (≈1e-16 for
    * |cos| ≤ 1) and setScale(6) by ≤ 5e-7. Two raw cosines further apart
    * than 2× this bound (plus slack) therefore CANNOT invert or tie after
    * rounding — so only candidates within the window of the raw max need
    * the exact (expensive) rounding.
    */
  private final val Round6Window = 2.5e-6

  /** Shared kernel for interpreted eval and codegen (one virtual call per
    * row; the loop body JITs the same either way).
    *
    * Two passes over the K centroids: pass 1 is the pure-double hot loop
    * (raw cosines into a scratch array, tracking the raw non-NaN max);
    * pass 2 applies Spark's exact `round(_, 6)` semantics — BigDecimal
    * HALF_UP on the shortest decimal representation — ONLY to candidates
    * within [[Round6Window]] of the raw max (normally exactly one), then
    * picks min (-cos6, cid). Bit-identical to rounding every candidate
    * (the window bound above), but drops the per-row BigDecimal count from
    * K to ~1: at K=313 the all-K BigDecimal formulation measured 15 s per
    * 80k-row assignment pass — ~90% of q_semdedup's sf4 runtime — vs
    * ~0.6 s for this form.
    */
  def nearest(
      v: ArrayData,
      cids: Array[Long],
      cents: Array[Array[Double]],
      cnorms: Array[Double]
  ): Long = {
    // one primitive copy per ROW, amortized over the K-centroid loop:
    // ArrayData.getDouble per element per centroid was K×dim virtual-call
    // reads (round 21; same bits, better locality)
    val va = v.toDoubleArray()
    val n = va.length
    val kk = cids.length
    // |v|² folded left-to-right over the FULL length ONCE per row — the
    // per-centroid fold must cover min(len); at m == n (the universal
    // fixed-dim case) the full fold is the identical IEEE double, and the
    // ragged case below recomputes the prefix fold (CosineSimilarity
    // accumulates BOTH norms only over min(len) — bit-parity contract)
    var nvFull = 0.0
    locally {
      var j = 0
      while (j < n) { val x = va(j); nvFull += x * x; j += 1 }
    }
    val raw = new Array[Double](kk)
    var rawBest = Double.NaN
    var anyNonNaN = false
    var k = 0
    while (k < kk) {
      val c = cents(k)
      val m = math.min(n, c.length)
      var dot = 0.0
      var j = 0
      while (j < m) {
        dot += va(j) * c(j)
        j += 1
      }
      val nv =
        if (m == n) nvFull
        else {
          var s = 0.0; var i = 0
          while (i < m) { val x = va(i); s += x * x; i += 1 }
          s
        }
      val cnorm =
        if (m == c.length) cnorms(k)
        else {
          var s = 0.0; var i = 0
          while (i < m) { s += c(i) * c(i); i += 1 }
          math.sqrt(s)
        }
      val cos = dot / (math.sqrt(nv) * cnorm)
      raw(k) = cos
      if (!java.lang.Double.isNaN(cos) && (!anyNonNaN || cos > rawBest)) {
        rawBest = cos; anyNonNaN = true
      }
      k += 1
    }
    // All-NaN row: every rounded candidate compares equal (NaN), so the
    // original all-K loop's tiebreak reduces to the lowest cid.
    if (!anyNonNaN) {
      var best = cids(0); k = 1
      while (k < kk) { if (cids(k) < best) best = cids(k); k += 1 }
      return best
    }
    // ±Infinity: rawBest - window stays +Inf for a +Inf max (only +Inf
    // candidates qualify) and -Inf never qualifies next to any finite cos —
    // matching the all-K form, where round passes infinities through.
    val cut = rawBest - Round6Window
    var bestNeg = 0.0
    var bestCid = 0L
    var bestSet = false
    k = 0
    while (k < kk) {
      val cos = raw(k)
      if (!java.lang.Double.isNaN(cos) && cos >= cut) {
        // Spark's round(double, 6) passes NaN/Infinity through untouched
        // (BigDecimal.valueOf would throw); mirror that.
        val cos6 =
          if (java.lang.Double.isInfinite(cos)) cos
          else java.math.BigDecimal.valueOf(cos)
            .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
        val neg = -cos6
        val cmp = java.lang.Double.compare(neg, bestNeg)
        if (!bestSet || cmp < 0 || (cmp == 0 && cids(k) < bestCid)) {
          bestNeg = neg; bestCid = cids(k); bestSet = true
        }
      }
      k += 1
    }
    bestCid
  }

  /** Top-`nprobe` kernel behind [[IvfNearestCellsBc]].
    *
    * Same two-pass discipline as [[nearest]], generalized: pass 1 computes
    * raw cosines (pure-double hot loop) while tracking the nprobe-th
    * largest non-NaN raw value; pass 2 applies the exact BigDecimal HALF_UP
    * `round(_, 6)` ONLY to candidates within [[Round6Window]] of that
    * threshold (the window argument: a raw cosine more than the window
    * BELOW the raw nprobe-th cannot round above — or tie — the rounded
    * nprobe-th, so it can never displace a top-nprobe member or affect a
    * tiebreak). Candidates sort by (-cos6, cid) with Double.compare
    * ordering; if fewer than nprobe non-NaN cosines exist, NaN cells fill
    * the tail in ascending-cid order — both exactly the composed
    * `array_sort` struct ordering.
    */
  def nearestN(
      v: ArrayData,
      cids: Array[Long],
      cents: Array[Array[Double]],
      cnorms: Array[Double],
      nprobe: Int
  ): ArrayData = {
    val kk = cids.length
    val np = math.min(nprobe, kk)
    val raw = new Array[Double](kk)
    // top-np raw non-NaN values, kept sorted descending (np is tiny)
    val top = new Array[Double](np)
    var nTop = 0
    // same per-row primitive copy + hoisted full-length |v|² fold as
    // [[nearest]] (bit-identical at m == n; prefix fold for ragged)
    val va = v.toDoubleArray()
    val n = va.length
    var nvFull = 0.0
    locally {
      var j = 0
      while (j < n) { val x = va(j); nvFull += x * x; j += 1 }
    }
    var k = 0
    while (k < kk) {
      val c = cents(k)
      val m = math.min(n, c.length)
      var dot = 0.0
      var j = 0
      while (j < m) {
        dot += va(j) * c(j)
        j += 1
      }
      val nv =
        if (m == n) nvFull
        else {
          var s = 0.0; var i = 0
          while (i < m) { val x = va(i); s += x * x; i += 1 }
          s
        }
      val cnorm =
        if (m == c.length) cnorms(k)
        else {
          var s = 0.0; var i = 0
          while (i < m) { s += c(i) * c(i); i += 1 }
          math.sqrt(s)
        }
      val cos = dot / (math.sqrt(nv) * cnorm)
      raw(k) = cos
      if (!java.lang.Double.isNaN(cos) && (nTop < np || cos > top(nTop - 1))) {
        var i = math.min(nTop, np - 1)
        while (i > 0 && top(i - 1) < cos) { top(i) = top(i - 1); i -= 1 }
        top(i) = cos
        if (nTop < np) nTop += 1
      }
      k += 1
    }
    val out = new Array[Long](np)
    var written = 0
    if (nTop > 0) {
      // candidates: every non-NaN raw within the window of the raw
      // nTop-th; -Infinity threshold stays -Inf (all candidates qualify),
      // matching the all-K rounded sort
      val cut = top(nTop - 1) - Round6Window
      // (cos6 ASC would be -cos6 DESC; store negs = -cos6 and sort asc)
      var cand = new Array[Long](8) // packed slots: index into raw
      var nc = 0
      k = 0
      while (k < kk) {
        val cos = raw(k)
        if (!java.lang.Double.isNaN(cos) && cos >= cut) {
          if (nc == cand.length) cand = java.util.Arrays.copyOf(cand, nc * 2)
          cand(nc) = k; nc += 1
        }
        k += 1
      }
      val negs = new Array[Double](nc)
      var i = 0
      while (i < nc) {
        val cos = raw(cand(i).toInt)
        negs(i) = -(
          if (java.lang.Double.isInfinite(cos)) cos
          else java.math.BigDecimal.valueOf(cos)
            .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue())
        i += 1
      }
      // selection sort over the tiny candidate set by (negs, cid),
      // Double.compare ordering — emit the first np
      val used = new Array[Boolean](nc)
      while (written < np && written < nc) {
        var best = -1
        var b = 0
        while (b < nc) {
          if (!used(b)) {
            if (best < 0) best = b
            else {
              val cmp = java.lang.Double.compare(negs(b), negs(best))
              if (cmp < 0 || (cmp == 0 && cids(cand(b).toInt) < cids(cand(best).toInt)))
                best = b
            }
          }
          b += 1
        }
        used(best) = true
        out(written) = cids(cand(best).toInt)
        written += 1
      }
    }
    if (written < np) {
      // NaN cells fill the tail in ascending-cid order (struct-sort parity)
      val nanCids = new Array[Long](kk)
      var nn = 0
      k = 0
      while (k < kk) {
        if (java.lang.Double.isNaN(raw(k))) { nanCids(nn) = cids(k); nn += 1 }
        k += 1
      }
      java.util.Arrays.sort(nanCids, 0, nn)
      var i = 0
      while (written < np && i < nn) { out(written) = nanCids(i); written += 1; i += 1 }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}
