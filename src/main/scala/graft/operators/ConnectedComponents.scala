package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

/** Connected components over an undirected pair list, with the canonical
  * label = MIN reachable node id (so "keep one doc per near-dup cluster"
  * becomes a groupBy on the label).
  *
  * Adaptive execution on the [[DriverGraph]] size rule:
  *
  *  - **Subcritical graphs** (≤ `driverEdgeThreshold` edges, the near-dup
  *    common case: dup pairs are a tiny fraction of any healthy corpus)
  *    run union-find with path compression on the driver, over the edge
  *    list the gate's bounded collect already holds; the result
  *    broadcasts back out.
  *  - **Large graphs** run Pregel-style iterative min-label propagation
  *    (hash-join per round, rounds ≈ graph diameter): every frame stays
  *    distributed, the driver holds only a convergence scalar (Σlbl is
  *    strictly decreasing until fixpoint), superseded label snapshots are
  *    unpersisted each round, and lineage is truncated every 5 rounds.
  *
  * Both paths produce identical labels for the edge ENDPOINTS only —
  * isolated nodes never enter the graph (callers left-join and coalesce to
  * the node's own id), which keeps per-round work O(edges), not O(corpus).
  */
object ConnectedComponents {

  /** Labels `(id, lbl)` for every node of the graph, and the edge count the
    * gate saw: `Some(n)` on the driver branch, `None` past the threshold.
    */
  final case class Components(labels: DataFrame, edgeCount: Option[Long]) {

    /** The callers' broadcast gate: the label table is bounded by the
      * connected subgraph, so it (and tables sized like it) broadcast while
      * the graph has fewer than 10^6 edges; past that, joins on id shuffle.
      */
    def fitsBroadcast: Boolean = edgeCount.exists(_ < 1000000L)
  }

  /** Components of `pairs` (two long columns, one row per undirected edge).
    * `pairs` should be materialized (checkpointed/persisted) by the caller —
    * both paths traverse it at least twice.
    */
  def run(
      spark: SparkSession,
      pairs: DataFrame,
      driverEdgeThreshold: Long = DriverGraph.EdgeThreshold
  ): Components = {
    val pr = pairs.toDF("id_a", "id_b")
    DriverGraph.collect(pr, driverEdgeThreshold) match {
      case Some(g) => Components(driverUnionFind(spark, g), Some(g.nEdges.toLong))
      case None => Components(distributedPropagation(spark, pr), None)
    }
  }

  /** Union-find (path compression + union by rank) over the index-compressed
    * edge list: parent/rank are int/byte arrays over node indices.
    */
  private def driverUnionFind(spark: SparkSession, g: EdgeList): DataFrame = {
    import spark.implicits._
    val n = g.nNodes
    val parent = Array.tabulate(n)(identity)
    val rank = new Array[Byte](n) // rank ≤ log2(n) < 127 always
    def find(x: Int): Int = {
      var root = x
      while (parent(root) != root) root = parent(root)
      var cur = x
      while (cur != root) { val nxt = parent(cur); parent(cur) = root; cur = nxt }
      root
    }
    var i = 0
    while (i < g.nEdges) {
      val ra = find(g.a(i)); val rb = find(g.b(i))
      if (ra != rb) {
        if (rank(ra) > rank(rb)) parent(rb) = ra
        else if (rank(ra) < rank(rb)) parent(ra) = rb
        else { parent(rb) = ra; rank(ra) = (rank(ra) + 1).toByte }
      }
      i += 1
    }
    // component label = min node id in the component; node ids ascend with
    // index, so the FIRST index seen per root is the component minimum
    val lbl = new Array[Long](n)
    java.util.Arrays.fill(lbl, Long.MinValue)
    val out = new Array[(Long, Long)](n)
    i = 0
    while (i < n) {
      val r = find(i)
      if (lbl(r) == Long.MinValue) lbl(r) = g.nodes(i)
      out(i) = (g.nodes(i), lbl(r))
      i += 1
    }
    spark.createDataset(out.toSeq).toDF("id", "lbl")
  }

  /** Distributed min-label propagation — the past-threshold scale path. */
  private def distributedPropagation(spark: SparkSession, pr: DataFrame): DataFrame = {
    import spark.implicits._
    val nPairs = pr.count()
    // partition the loop frames by edge volume, not the session default — a
    // small subgraph on 32 shuffle partitions pays ~30x task overhead per
    // round for no parallelism
    val parts = math.max(1, (nPairs / 500000L).toInt)
    val edges = pr.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pr.select(col("id_b").as("src"), col("id_a").as("dst")))
      .repartition(parts, col("src"))
      .persist(MEMORY_AND_DISK)
    var labels = edges.select($"src".as("id")).distinct()
      .select($"id", $"id".as("lbl"))
    // labels only ever decrease, so Σlbl strictly decreases until the
    // fixpoint: convergence is one exact decimal-sum aggregate per round
    // instead of a join against the previous labels.
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum($"lbl".cast("decimal(38,0)"))).head.getDecimal(0)
    var prevSum = labelSum(labels)
    var prevCached: Option[DataFrame] = None
    var rounds = 0
    var converged = false
    val maxRounds = 50
    while (!converged && rounds < maxRounds) {
      val prop = edges.join(labels.select($"id".as("src"), $"lbl"), Seq("src"))
        .select($"dst".as("id"), $"lbl")
      // coalesce collapses the shuffle output back to the graph-scaled
      // partition count (narrow — one task drains all reducers)
      var merged = labels.union(prop).groupBy($"id").agg(min($"lbl").as("lbl"))
        .coalesce(parts)
      // localCheckpoint every 5 rounds truncates the per-round
      // join-union-agg lineage chain (otherwise linear in rounds)
      if ((rounds + 1) % 5 == 0) merged = merged.localCheckpoint(false)
      merged = merged.persist(MEMORY_AND_DISK)
      val curSum = labelSum(merged) // materializes this round's snapshot
      // the superseded snapshot is dead once the new one is materialized:
      // unpersist it so executor storage stays O(1) in rounds
      prevCached.foreach(_.unpersist())
      prevCached = Some(merged)
      converged = curSum.compareTo(prevSum) == 0
      prevSum = curSum
      labels = merged
      rounds += 1
    }
    // A fixpoint past the cap would mean silently-wrong labels for nodes
    // farther than maxRounds hops from their component minimum — fail loudly
    // instead. Rounds ≈ graph diameter, so 50 covers any realistic near-dup
    // graph; a genuine >50-diameter graph needs pointer-jumping, not a
    // bigger cap.
    if (!converged)
      throw new IllegalStateException(
        s"connected components did not converge within $maxRounds rounds " +
          s"($nPairs edges); the graph diameter exceeds the propagation cap")
    // cut the result loose from the loop's caches: eager localCheckpoint
    // materializes the final labels, then the edge cache can go
    val result = labels.localCheckpoint()
    edges.unpersist()
    prevCached.foreach(_.unpersist())
    result
  }
}
