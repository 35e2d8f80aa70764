package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic Lloyd (k-means) refinement for IVF coarse quantizers.
  *
  * Each iteration is one distributed pass: nearest-centroid assignment is
  * map-side codegen (the K centroids ride in the plan as array literals — the
  * property that keeps IVF viable at 100 TB), and the new centroids are
  * element-wise means via posexplode + partial-aggregating groupBy on
  * (cell, position) — the shuffle carries K×dim×partitions partial sums, not
  * data. Only the K×dim mean table is collected per iteration.
  *
  * Everything is pinned so an external engine can replay it bit-for-bit:
  * a FIXED iteration count (no convergence test), cosine rounded to 6 dp with
  * lowest-cid tiebreak for assignment, and means computed as exact
  * decimal(38,12) sums (order-independent) divided as doubles and rounded to
  * 6 dp. `q_similarity_ann_ivf`'s DuckDB oracle mirrors the same iterations
  * in SQL.
  */
object IvfKMeans {

  /** Per-centroid `(-cos6, cid)` structs for `vcol` against the centroid
    * literals: `array_min(...)` of these is argmax-cosine with the
    * lowest-cid tiebreak (matches `ORDER BY cos6 DESC, cid` in SQL).
    */
  def simStructs(
      spark: SparkSession,
      cents: Seq[(Long, Seq[Double])],
      vcol: Column
  ): Column = array(cents.map { case (cid, cv) =>
    struct(
      (-round(graft.functions.CosineSimilarity.cosineSim(spark, vcol, typedlit(cv)), 6)).as("negs"),
      lit(cid).as("cid"))
  }: _*)

  /** Nearest-centroid cell id for `vcol` — pure map-side codegen, as ONE
    * fused expression over the baked centroid matrix
    * ([[graft.functions.IvfNearestCell]]) rather than K composed cosine
    * trees: same bit-exact result as
    * `array_min(simStructs(...)).getField("cid")`, but each consuming plan
    * carries a single expression node, so Lloyd-iteration plans
    * analyze + codegen in O(1) instead of O(K·dim).
    */
  def assignCell(
      spark: SparkSession,
      cents: Seq[(Long, Seq[Double])],
      vcol: Column
  ): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    import org.apache.spark.sql.catalyst.expressions.Cast
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val cids = cents.map(_._1).toArray
    val mat = cents.map(_._2.toArray).toArray
    // same left-to-right fold as CosineSimilarity's |b|² accumulation →
    // identical IEEE double
    val cnorms = mat.map { c =>
      var s = 0.0; var i = 0
      while (i < c.length) { s += c(i) * c(i); i += 1 }
      math.sqrt(s)
    }
    // Build the Column DIRECTLY from the expression — a session-global temp
    // function would bind whichever centroids were registered LAST at
    // analysis time, silently mis-assigning any deferred or concurrent use
    // in the same session.
    GraftColumnBridge.column(graft.functions.IvfNearestCell(
      Cast(GraftColumnBridge.expression(vcol), ArrayType(DoubleType)),
      cids, mat, cnorms))
  }

  /** Run `iters` Lloyd iterations over `e` (columns `vec_id: Long`,
    * `v: Array[Double]`) starting from `seeds`. Cell ids stay the seed ids
    * (stable tiebreak ordering across iterations). Cells keep at least their
    * seed vector assigned (cos(seed, seed) = 1 is the strict max), so no
    * empty-cell repair is needed when seeds are drawn from the data.
    */
  def train(
      spark: SparkSession,
      e: DataFrame,
      seeds: Seq[(Long, Seq[Double])],
      iters: Int
  ): Seq[(Long, Seq[Double])] = {
    import spark.implicits._
    var cents = seeds
    for (_ <- 0 until iters) {
      cents = meanUpdate(spark,
        e.withColumn("cell", assignCell(spark, cents, $"v")))
    }
    cents
  }

  /** One Lloyd mean update over an assigned frame (`cell`, `v`): exact
    * decimal(38,12) per-dimension sums (order-independent) divided as
    * doubles, rounded to 6 dp, collected as the new centroid Seq. The
    * per-(cell, dim) means are collected FLAT and the K centroid arrays
    * assemble on the driver (round 20): the former
    * coalesce(1) + groupBy(cell) + collect_list tail was a second shuffle
    * stage per iteration whose only job was array assembly — the collect
    * moves the SAME K×dim doubles either way, and i is unique per cell, so
    * sorting by dimension here is value-identical to the old
    * array_sort(collect_list(struct(i, mx))).
    */
  private def meanUpdate(
      spark: SparkSession, assigned: DataFrame
  ): Seq[(Long, Seq[Double])] = {
    import spark.implicits._
    assigned
      .select($"cell", posexplode($"v").as(Seq("i", "x")))
      .groupBy($"cell", $"i")
      .agg(round(sum($"x".cast("decimal(38,12)")).cast("double") / count(lit(1)), 6).as("mx"))
      .collect()
      .groupBy(_.getLong(0)).view
      .map { case (cell, rs) =>
        (cell, rs.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq) }
      .toSeq
      .sortBy(_._1)
  }

  /** Production probe-width policy, prescribed by the measured recall-vs-
    * cost curve (BENCH_SCALING round 13): recall is governed by the probed
    * FRACTION nprobe/K, so a constant nprobe collapses as the quantizer
    * grows — measured 53.8% contamination-flag agreement at nprobe=2 with
    * K=323 cells (0.6% probed), the count-driven seed policy's worst case.
    * Probing a fixed eighth of the cells (floor 2) holds the fraction — and
    * therefore recall — flat across scales. Measured at the forced scales
    * (BENCH_SCALING round 14, isotropic worst-case corpus): flag agreement
    * 94.0% at sf1 (K=81), 90.9% at sf4 (the old worst case, up from 53.8%),
    * 88.7% at sf16 (K=40) — at 0.30× the exact arm's cost where the tier's
    * past-broadcast regime actually holds (sf16) and cost parity at sf4.
    * Cost scales linearly with the fraction, so the eighth is the knee the
    * curve recommends — callers with a different recall budget pass their
    * own policy.
    */
  def adaptiveNprobe(k: Int): Int = math.max(2, (k + 7) / 8)

  /** [[probeCells]] with the probe width derived from the quantizer size by
    * `policy` (e.g. [[adaptiveNprobe]]) instead of a pinned constant.
    */
  def probeCells(
      spark: SparkSession,
      cents: Seq[(Long, Seq[Double])],
      vcol: Column,
      policy: Int => Int
  ): Column = probeCells(spark, cents, vcol, policy(cents.size))

  /** Policy twin of [[probeCellsBc]] — same contract as the policy
    * [[probeCells]] overload. */
  def probeCellsBc(
      spark: SparkSession,
      cents: Seq[(Long, Seq[Double])],
      vcol: Column,
      policy: Int => Int
  ): Column = probeCellsBc(spark, cents, vcol, policy(cents.size))

  /** Top-`nprobe` probe cells for `vcol` — the fused, compiled twin of
    * `transform(slice(array_sort(simStructs(...)), 1, nprobe), p -> p.cid)`
    * ([[graft.functions.IvfNearestCells]]): one expression node instead of
    * K cosine trees + a per-row struct sort, bit-identical ordering
    * (round-6 HALF_UP, lowest-cid ties, NaN cells last by cid). This is
    * the CORPUS-side probe of the IVF decontamination tier, where every
    * corpus vector runs it.
    */
  def probeCells(
      spark: SparkSession,
      cents: Seq[(Long, Seq[Double])],
      vcol: Column,
      nprobe: Int
  ): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    import org.apache.spark.sql.catalyst.expressions.Cast
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val (cids, mat, cnorms) = centArrays(cents)
    GraftColumnBridge.column(graft.functions.IvfNearestCells(
      Cast(GraftColumnBridge.expression(vcol), ArrayType(DoubleType)),
      cids, mat, cnorms, nprobe))
  }

  /** Broadcast-variable twin of [[probeCells]] for quantizers past the
    * plan-literal cap (same static kernel — bit-parity by construction).
    */
  def probeCellsBc(
      spark: SparkSession,
      cents: Seq[(Long, Seq[Double])],
      vcol: Column,
      nprobe: Int
  ): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    import org.apache.spark.sql.catalyst.expressions.Cast
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val bc = spark.sparkContext.broadcast(centArrays(cents))
    GraftColumnBridge.column(graft.functions.IvfNearestCellsBc(
      Cast(GraftColumnBridge.expression(vcol), ArrayType(DoubleType)), bc, nprobe))
  }

  /** (cids, matrix, norms) triple from a centroid Seq — the norm fold is
    * CosineSimilarity's left-to-right |b|² accumulation (identical IEEE
    * double, the kernels' bit-parity contract). */
  private def centArrays(
      cents: Seq[(Long, Seq[Double])]
  ): (Array[Long], Array[Array[Double]], Array[Double]) = {
    val cids = cents.map(_._1).toArray
    val mat = cents.map(_._2.toArray).toArray
    val cnorms = mat.map { c =>
      var s = 0.0; var i = 0
      while (i < c.length) { s += c(i) * c(i); i += 1 }
      math.sqrt(s)
    }
    (cids, mat, cnorms)
  }

  /** Broadcast-variable twin of [[assignCell]] for centroid counts past the
    * plan-literal cap: the SAME static [[graft.functions.IvfNearestCell]]
    * kernel — bit-parity with the literal path by construction — with the
    * (cids, matrix, norms) triple riding a TorrentBroadcast instead of the
    * plan, so every assignment is pure map-side codegen with ONE small
    * expression node regardless of K. This replaces the former broadcast-
    * JOIN mechanism (crossJoin + packed-long argmin HashAggregate + vector
    * re-attach join — three exchanges per assignment). Scale ceiling:
    * K × dim doubles must fit executor memory — ~0.5 GB at K = 10⁶, dim 64 — the same bound the
    * join's broadcast build side had; the SemDeDup n/256 policy crosses it
    * near 5×10⁸ vectors, where [[trainAssignHierarchical]] takes over.
    */
  def assignCellBc(
      spark: SparkSession,
      cents: Seq[(Long, Seq[Double])],
      vcol: Column
  ): Column = assignCellBcHandle(spark, cents, vcol)._1

  private def assignCellBcHandle(
      spark: SparkSession,
      cents: Seq[(Long, Seq[Double])],
      vcol: Column
  ): (Column, org.apache.spark.broadcast.Broadcast[(Array[Long], Array[Array[Double]], Array[Double])]) = {
    import org.apache.spark.sql.GraftColumnBridge
    import org.apache.spark.sql.catalyst.expressions.Cast
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val cids = cents.map(_._1).toArray
    val mat = cents.map(_._2.toArray).toArray
    // same left-to-right fold as CosineSimilarity's |b|² accumulation →
    // identical IEEE double (the bit-parity contract of the kernel)
    val cnorms = mat.map { c =>
      var s = 0.0; var i = 0
      while (i < c.length) { s += c(i) * c(i); i += 1 }
      math.sqrt(s)
    }
    val bc = spark.sparkContext.broadcast((cids, mat, cnorms))
    (GraftColumnBridge.column(graft.functions.IvfNearestCellBc(
      Cast(GraftColumnBridge.expression(vcol), ArrayType(DoubleType)), bc)), bc)
  }

  /** Broadcast-tier twin of [[train]]: identical Lloyd discipline (same
    * [[meanUpdate]], same kernel assignment — bit-parity with [[train]] on
    * the same seeds is BY CONSTRUCTION, both paths run the same static
    * kernel), with each iteration's centroid triple broadcast as a
    * variable and destroyed once the iteration's eager mean collect has
    * consumed it, so peak executor footprint stays one centroid table.
    */
  def trainBc(
      spark: SparkSession,
      e: DataFrame,
      seeds: Seq[(Long, Seq[Double])],
      iters: Int
  ): Seq[(Long, Seq[Double])] = {
    import spark.implicits._
    var cents = seeds
    for (_ <- 0 until iters) {
      val (cellCol, bc) = assignCellBcHandle(spark, cents, $"v")
      cents = meanUpdate(spark, e.withColumn("cell", cellCol))
      bc.destroy() // consumed by meanUpdate's collect; next iter re-broadcasts
    }
    cents
  }

  /** Hierarchical coarse quantizer for K past [[assignCellBc]]'s
    * executor-memory ceiling: stage 1 trains `coarseK` cells through the
    * broadcast-variable kernel path and assigns every vector once (pure
    * map-side); stage 2 trains per-coarse-cell sub-centroids
    * (count-adaptive: ⌈n_c/256⌉ per cell, seeds = the cell's lowest-vec_id
    * vectors) with the SAME pinned Lloyd discipline (fixed iterations,
    * cos6 + lowest-cid assignment, exact decimal(38,12) means rounded to
    * 6 dp) and assigns within the cell.
    * Returns `(vec_id, v, ccell, cid)`; `cid` (a globally-unique seed
    * vec_id) IS the final cell id.
    *
    * Stage 2 is ONE shuffle of the coarse-assigned vectors by `ccell`,
    * sorted by `vec_id` within each partition, and [[SubCellKernel]] runs
    * the seeds, the sub-Lloyd iterations and the final assignment on
    * primitive arrays one coarse cell at a time, bit-identical to the
    * former join formulation (a ccell equi-join, a packed-long argmin
    * aggregate, a re-attach join and a posexplode mean aggregate per
    * iteration, each vector moving about three times per iteration).
    *
    * Scale shape: stage 1's broadcast is coarseK ≈ √K vectors (fits the
    * executor ceiling up to K ≈ 4×10¹²); stage 2 moves each vector once,
    * and nothing is broadcast-bounded by total K. A task holds one coarse
    * cell: ≈ 16√n vectors under the n/256 policy. Empty sub-cells cannot
    * occur: every seed is a cell member and cos(seed, seed) = 1 is the
    * strict per-vector max.
    */
  def trainAssignHierarchical(
      spark: SparkSession, e: DataFrame, coarseK: Int, iters: Int): DataFrame =
    subCellPass(spark, e, coarseK, iters, SubCellKernel.Assign)

  /** The hierarchical quantizer's SemDeDup stats in the same pass:
    * `(cell, n_vecs, n_dup_pairs, n_dropped)` per sub-cell, the pairs by
    * the `SemDedupPairStats` kernel, with no second shuffle. */
  private[graft] def hierarchicalDedupStats(
      spark: SparkSession, e: DataFrame, coarseK: Int, iters: Int, threshold: Double): DataFrame =
    subCellPass(spark, e, coarseK, iters, SubCellKernel.DedupStats(threshold))

  /** Stage 1, then the one `ccell` shuffle feeding [[SubCellKernel]]. */
  private[graft] def subCellPass(
      spark: SparkSession, e: DataFrame, coarseK: Int, iters: Int,
      out: SubCellKernel.Output): DataFrame = {
    import spark.implicits._
    val cSeeds: Seq[(Long, Seq[Double])] =
      e.filter($"vec_id" % 97 === 0).orderBy($"vec_id").limit(coarseK)
        .select($"vec_id", $"v")
        // bounded: coarseK ≈ √K rows through the driver — the same rows
        // any broadcast build would ship through it
        .collect().toSeq.map(r => (r.getLong(0), r.getSeq[Double](1)))
    val cCents = trainBc(spark, e, cSeeds, iters)
    val ansi = spark.conf.get("spark.sql.ansi.enabled").toBoolean
    e.select($"vec_id", $"v")
      // a null vector has a null coarse cell and never met a sub-centroid
      // in the equi-join formulation
      .filter($"v".isNotNull)
      .withColumn("ccell", assignCellBc(spark, cCents, $"v"))
      .repartition($"ccell")
      .sortWithinPartitions($"ccell", $"vec_id")
      .mapPartitions(rows => SubCellKernel.run(rows, iters, ansi, out))(
        org.apache.spark.sql.Encoders.row(out.schema))
  }
}
