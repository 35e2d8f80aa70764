package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** The size rule both graph operators ([[ConnectedComponents]],
  * [[PageRank]]) branch on — the broadcast-join size decision applied to
  * graph iteration. A subcritical graph (the near-dup pair graph, a
  * one-year trade graph at small scale) runs on the driver over primitive
  * arrays: microseconds of CPU versus one Spark job PER ROUND of the
  * iterative alternative. A larger graph keeps its distributed plan.
  *
  * One bounded collect both decides the branch and feeds the driver path:
  * no separate count job, and the driver never holds more than
  * `threshold + 1` edges.
  */
object DriverGraph {

  /** Undirected edge rows a graph may have and still run on the driver:
    * 2^20 edges ≈ 16 MB of longs plus ~10 MB of indices.
    */
  val EdgeThreshold: Long = 1L << 20

  /** The edge list of `pairs` (two long-castable columns, one row per
    * undirected edge) on the driver when it has at most `threshold` rows;
    * `None` when it has more. One Spark action, `limit(threshold + 1)`.
    */
  def collect(pairs: DataFrame, threshold: Long): Option[EdgeList] = {
    require(threshold >= 0 && threshold < Int.MaxValue,
      s"driver edge threshold must be in [0, ${Int.MaxValue}); got $threshold")
    val Seq(a, b) = pairs.columns.toSeq
    val rows = pairs.select(col(a).cast("long"), col(b).cast("long"))
      .limit(threshold.toInt + 1)
      .collect()
    if (rows.length > threshold) None
    else {
      val m = rows.length
      val ea = new Array[Long](m); val eb = new Array[Long](m)
      var i = 0
      while (i < m) { ea(i) = rows(i).getLong(0); eb(i) = rows(i).getLong(1); i += 1 }
      Some(EdgeList(ea, eb))
    }
  }
}

/** An undirected edge list over primitive arrays: node ids are
  * index-compressed through one sorted distinct array (`nodes`, so node
  * ids ascend with index), and edge `i` joins node indices `a(i)` and
  * `b(i)`. The boxed-HashMap formulation this replaces cost a boxed entry
  * per node in two maps — hundreds of MB at the threshold, enough to OOM a
  * default-sized driver.
  */
final class EdgeList private (val nodes: Array[Long], val a: Array[Int], val b: Array[Int]) {
  def nNodes: Int = nodes.length
  def nEdges: Int = a.length
}

object EdgeList {
  def apply(ea: Array[Long], eb: Array[Long]): EdgeList = {
    val m = ea.length
    val all = new Array[Long](2 * m)
    System.arraycopy(ea, 0, all, 0, m); System.arraycopy(eb, 0, all, m, m)
    java.util.Arrays.sort(all)
    var n = 0; var j = 0
    while (j < all.length) {
      if (n == 0 || all(j) != all(n - 1)) { all(n) = all(j); n += 1 }
      j += 1
    }
    val nodes = java.util.Arrays.copyOf(all, n)
    def idx(ids: Array[Long]): Array[Int] = ids.map(java.util.Arrays.binarySearch(nodes, _))
    new EdgeList(nodes, idx(ea), idx(eb))
  }
}
