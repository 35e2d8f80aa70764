package graft.operators

import java.math.{BigDecimal => JBigDecimal, RoundingMode}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

/** Fixed-iteration PageRank (3 rounds, d = 0.85) over an undirected pair
  * list, returning the top 20 nodes as `(rnk, id, r)` ordered by rnk.
  *
  * Numerics (the `q_graph_pagerank` oracle's portability contract): each
  * node's per-round contribution quantizes to a 1e-14 grid as a SCALED LONG
  * (`round(r / deg * 1e14)`, then a truncating cast), so the per-node sum
  * is exact integer math that no accumulation order can change; the update
  * re-enters double math as `round(0.15 / n + 0.85 * (sum / 1e14), 10)`.
  * The initial rank is `1.0 / n`; undirected degree ≥ 1 means no
  * dangling-mass term. Ties on rank order by id.
  *
  * Adaptive execution on the [[DriverGraph]] size rule, like
  * [[ConnectedComponents]]:
  *
  *  - **Subcritical graphs** run the three rounds and the top 20 on the
  *    driver, over the edge list the gate's bounded collect holds, with
  *    primitive arrays indexed by node. Every operation is the one Spark
  *    evaluates on the distributed branch, in the same order — Spark's
  *    double `round` is HALF_UP on `BigDecimal.valueOf` — so both branches
  *    return the same bits.
  *  - **Large graphs** run one edge join + one groupBy per round over a
  *    persisted, src-partitioned edge list. The gate's collect there costs
  *    one more evaluation of `pairs` (up to its first threshold + 1 rows).
  */
object PageRank {
  private val Rounds = 3
  private val Damping = 0.85
  private val TopK = 20
  private val Scale = 1.0e14

  /** Top-20 `(rnk, id, r)` of `pairs` (two long-castable columns, one row
    * per DISTINCT undirected edge). `materialize = false` returns the
    * distributed branch's un-checkpointed plan, for plan gates.
    */
  def top(
      spark: SparkSession,
      pairs: DataFrame,
      driverEdgeThreshold: Long = DriverGraph.EdgeThreshold,
      materialize: Boolean = true
  ): DataFrame = {
    val pr = pairs.toDF("a", "b")
    DriverGraph.collect(pr, driverEdgeThreshold) match {
      case Some(g) => onDriver(spark, g)
      case None => distributed(spark, pr, materialize)
    }
  }

  /** Spark's `round(x, scale)` on a double. */
  private def roundHalfUp(x: Double, scale: Int): Double =
    if (x.isNaN || x.isInfinite) x
    else JBigDecimal.valueOf(x).setScale(scale, RoundingMode.HALF_UP).doubleValue()

  private def onDriver(spark: SparkSession, g: EdgeList): DataFrame = {
    import spark.implicits._
    val n = g.nNodes
    val degd = new Array[Double](n)
    var e = 0
    while (e < g.nEdges) { degd(g.a(e)) += 1.0; degd(g.b(e)) += 1.0; e += 1 }
    val base = 0.15 / n.toDouble
    val r = Array.fill(n)(1.0 / n.toDouble)
    val contrib = new Array[Long](n)
    val sc = new Array[Long](n)
    for (_ <- 0 until Rounds) {
      var i = 0
      while (i < n) { contrib(i) = roundHalfUp(r(i) / degd(i) * Scale, 0).toLong; i += 1 }
      java.util.Arrays.fill(sc, 0L)
      e = 0
      while (e < g.nEdges) {
        sc(g.b(e)) += contrib(g.a(e)); sc(g.a(e)) += contrib(g.b(e)); e += 1
      }
      i = 0
      while (i < n) { r(i) = roundHalfUp(base + Damping * (sc(i).toDouble / Scale), 10); i += 1 }
    }
    // top-k by (r desc, id asc): insertion into a k-slot sorted buffer
    def before(x: Int, y: Int): Boolean =
      r(x) > r(y) || (r(x) == r(y) && g.nodes(x) < g.nodes(y))
    val k = math.min(TopK, n)
    val top = new Array[Int](k)
    var size = 0
    var i = 0
    while (i < n) {
      if (size < k || before(i, top(k - 1))) {
        var j = if (size < k) size else k - 1
        while (j > 0 && before(i, top(j - 1))) { top(j) = top(j - 1); j -= 1 }
        top(j) = i
        if (size < k) size += 1
      }
      i += 1
    }
    spark.createDataset(top.toSeq.zipWithIndex.map { case (v, p) => (p + 1L, g.nodes(v), r(v)) })
      .toDF("rnk", "id", "r")
  }

  private def distributed(spark: SparkSession, pr: DataFrame, materialize: Boolean): DataFrame = {
    import spark.implicits._
    // hash-partition the edge list by src ONCE: every round's
    // edges⋈contrib join then reuses the persisted partitioning and
    // shuffles only the node-sized rank table
    val edges = pr.select($"a".as("src"), $"b".as("dst"))
      .union(pr.select($"b".as("src"), $"a".as("dst")))
      .repartition($"src")
      .persist(MEMORY_AND_DISK)
    val deg = edges.groupBy($"src").agg(count(lit(1)).as("deg"))
      .select($"src".as("id"), $"deg".cast("double").as("degd"))
      .persist(MEMORY_AND_DISK)
    val n = deg.count()
    val base = 0.15 / n.toDouble
    // the degree re-attach broadcasts only while the node count says it
    // fits; past that it degrades to a shuffle join on id (both sides
    // already hash-partitioned by node from their groupBys)
    val degSide = if (n < 10000000L) broadcast(deg) else deg
    var ranks = deg.select($"id", lit(1.0 / n.toDouble).as("r"))
    for (it <- 0 until Rounds) {
      // contribution quantizes on the NODE table (map-side under the
      // broadcast), so the per-round heavy ops are exactly one edge
      // join + one groupBy
      val contrib = ranks.join(degSide, Seq("id"))
        .select($"id".as("src"),
          round($"r" / $"degd" * Scale).cast("long").as("contrib"))
      // SHUFFLE-HASH, build = contrib: the default SMJ re-SORTED the
      // persisted edge list every round (the partitioning is reused from
      // the persist, the sort is not reusable across the join) while
      // contrib is node-sized — building the hash map from contrib streams
      // the edge side unsorted (round 21, measured at sf16).
      ranks = edges
        .join(contrib.hint("shuffle_hash"), Seq("src"))
        .groupBy($"dst")
        .agg(sum($"contrib").as("sc"))
        .select($"dst".as("id"),
          round(lit(base) + lit(Damping) * ($"sc".cast("double") / Scale), 10).as("r"))
      // Materialize the NODE-sized rank table between rounds (eager
      // checkpoint; skipped after the last round — the final
      // materialization below covers it). Without it the rounds nest into
      // ONE plan whose single action runs every chained shuffle and
      // broadcast build in one window: median 4.50 s vs 5.51 s nested at
      // sf0.1, with a tighter spread (BENCH_SCALING "Round-13:
      // q_graph_pagerank variance diagnosis + fix"). Intermediate
      // checkpoints are unreferenced once the next round materializes;
      // ContextCleaner reclaims them on GC.
      if (it < Rounds - 1) ranks = ranks.localCheckpoint()
    }
    // Top-20 via orderBy().limit() → TakeOrderedAndProject: each
    // partition keeps a 20-row heap and the driver merges heaps — no
    // single-partition sort of the whole node set. The 20 survivors then
    // get ranks from a window that is single-partition by construction.
    // The partition key must be NON-foldable (id*0, never null: id is a
    // join key) — a literal gets constant-folded out of the partitionSpec
    // and the planner then warns it is moving "all data" to one partition.
    val top = ranks.orderBy($"r".desc, $"id").limit(TopK)
    val w = Window.partitionBy($"id" * 0).orderBy($"r".desc, $"id")
    val ranked = top.withColumn("rnk", row_number().over(w).cast("long"))
      .select($"rnk", $"id", $"r")
      .orderBy($"rnk")
    if (materialize) {
      val out = ranked.localCheckpoint()
      edges.unpersist(); deg.unpersist()
      out
    } else ranked
  }
}
