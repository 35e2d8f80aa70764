package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The join formulation of the hierarchical quantizer's stage 2, kept as the
  * reference [[graft.operators.SubCellKernel]] must reproduce bit for bit
  * (the way `CdcApply.runLocal` is the reference for the apply). Per
  * sub-Lloyd iteration: a ccell equi-join of the vectors to their cell's
  * sub-centroids, a `groupBy(vec_id)` packed-long argmin, a re-attach join,
  * and a `posexplode` + exact `decimal(38,12)` mean aggregate.
  */
object HierJoinReference {

  /** `(assigned (vec_id, v, ccell, cid), final sub-centroids (ccell, cid, cv))`. */
  def trainAssignHierarchical(
      spark: SparkSession, e: DataFrame, coarseK: Int, iters: Int): (DataFrame, DataFrame) = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import graft.operators.IvfKMeans
    val cSeeds: Seq[(Long, Seq[Double])] =
      e.filter($"vec_id" % 97 === 0).orderBy($"vec_id").limit(coarseK)
        .select($"vec_id", $"v")
        .collect().toSeq.map(r => (r.getLong(0), r.getSeq[Double](1)))
    val cCents = IvfKMeans.trainBc(spark, e, cSeeds, iters)
    val ev = e
      .withColumn("ccell", IvfKMeans.assignCellBc(spark, cCents, $"v"))
      .localCheckpoint()
    val byCell = Window.partitionBy($"ccell")
    var sc = ev
      .withColumn("rn", row_number().over(byCell.orderBy($"vec_id")))
      .withColumn("n_c", count(lit(1)).over(byCell))
      .filter($"rn" <= ceil($"n_c" / lit(256.0)))
      .select($"ccell", $"vec_id".as("cid"), $"v".as("cv"))
      .localCheckpoint()
    val scMax = sc.agg(max($"cid")).head.getLong(0)
    for (_ <- 0 until iters) {
      sc = assignSubCells(spark, ev, sc, scMax)
        .select($"ccell", $"cid", posexplode($"v").as(Seq("i", "x")))
        .groupBy($"ccell", $"cid", $"i")
        .agg(round(sum($"x".cast("decimal(38,12)")).cast("double") / count(lit(1)), 6).as("mx"))
        .groupBy($"ccell", $"cid")
        .agg(expr("transform(array_sort(collect_list(struct(i, mx))), s -> s.mx)").as("cv"))
        .localCheckpoint()
    }
    (assignSubCells(spark, ev, sc, scMax), sc)
  }

  /** Within-coarse-cell assignment: the min of `round(-cos6·10⁶)·2⁴¹ + cid`
    * over the vector's own cell's sub-centroids (NaN cosines key 2·10⁶). */
  def assignSubCells(spark: SparkSession, ev: DataFrame, subCents: DataFrame, maxCid: Long): DataFrame = {
    import spark.implicits._
    require(maxCid >= 0 && maxCid < (1L << 41),
      s"assignSubCells packs cid into 41 bits (max cid $maxCid out of range)")
    val cos6 = round(graft.functions.CosineSimilarity.cosineSim(spark, $"v", $"cv"), 6)
    val negs = when(isnan(cos6), lit(2000000L))
      .otherwise(round(-cos6 * 1e6).cast("long"))
    val cells = ev.select($"vec_id", $"v", $"ccell")
      .join(subCents, Seq("ccell"))
      .groupBy($"vec_id")
      .agg(min(negs * (1L << 41) + $"cid").as("k"))
      .select($"vec_id", pmod($"k", lit(1L << 41)).as("cid"))
    ev.join(cells, Seq("vec_id"))
      .select($"vec_id", $"v", $"ccell", $"cid")
  }

  /** SemDeDup's per-cell stats over an assignment, as the flat tiers compute
    * them: `(cell, n_vecs, n_dup_pairs, n_dropped)`. */
  def dedupStats(spark: SparkSession, assigned: DataFrame, threshold: Double): DataFrame = {
    import spark.implicits._
    assigned.groupBy($"cid".as("cell"))
      .agg(
        count(lit(1)).as("n_vecs"),
        graft.functions.SemDedupPairStats.pairStats(spark, $"vec_id", $"v", threshold).as("ps"))
      .select($"cell", $"n_vecs", $"ps.n_dup_pairs".as("n_dup_pairs"), $"ps.n_dropped".as("n_dropped"))
  }
}
