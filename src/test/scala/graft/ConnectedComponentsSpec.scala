package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.ListenerBusAccess
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.ConnectedComponents

class ConnectedComponentsSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark

  // Chain 1-2-3-4, triangle 10-11-12 (with a redundant edge), pair 20-21,
  // self-loop 30, duplicate edge 40-41.
  private def edges = {
    import spark.implicits._
    Seq(
      (2L, 1L), (2L, 3L), (4L, 3L),
      (10L, 11L), (11L, 12L), (10L, 12L),
      (21L, 20L),
      (30L, 30L),
      (40L, 41L), (41L, 40L)
    ).toDF("id_a", "id_b")
  }

  private val expected = Map(
    1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
    10L -> 10L, 11L -> 10L, 12L -> 10L,
    20L -> 20L, 21L -> 20L,
    30L -> 30L,
    40L -> 40L, 41L -> 40L)

  test("driver union-find path labels every endpoint with its component min") {
    val cc = ConnectedComponents.run(spark, edges)
    val got = cc.labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)
    // the gate reports the edge count its bounded collect saw
    assert(cc.edgeCount.contains(10L) && cc.fitsBroadcast)
    // a threshold equal to the edge count still takes the driver branch
    assert(ConnectedComponents.run(spark, edges, driverEdgeThreshold = 10L).edgeCount.contains(10L))
  }

  test("distributed propagation path agrees with the driver path") {
    // threshold 0 forces the iterative scale path on the same graph
    val cc = ConnectedComponents.run(spark, edges, driverEdgeThreshold = 0L)
    val got = cc.labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)
    // past the threshold the count is unknown, and the callers' joins shuffle
    assert(cc.edgeCount.isEmpty && !cc.fitsBroadcast)
  }

  test("driver and distributed paths agree on seeded random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 3) {
      val n = 30 + trial * 20
      val es = Seq.fill(n)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      val df = es.toDF("id_a", "id_b")
      val viaDriver = ConnectedComponents.run(spark, df).labels
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val viaLoop = ConnectedComponents.run(spark, df, driverEdgeThreshold = 0L).labels
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(viaDriver == viaLoop, s"trial $trial: paths disagree")
      // canonical-label invariant: every label is a member of its own
      // component and is the minimum id in it
      val byLbl = viaDriver.groupBy(_._2).view.mapValues(_.keys.min)
      byLbl.foreach { case (lbl, minId) => assert(lbl == minId) }
    }
  }

  test("distributed Pregel path labels the REAL LSH pair graph identically to union-find") {
    // ConnectedComponentsSpec's random graphs prove path equivalence in the
    // abstract; this runs the distributed min-label propagation end-to-end
    // against the actual banded-LSH near-dup pair graph q_dedup_clusters
    // feeds it (driverEdgeThreshold = 0 forces the Pregel path the subcritical
    // fixture would otherwise never take).
    val sfDir = "/root/testdata/sf0.001"
    val pairs = graft.queries.PipelineQueries
      .embeddingDupPairs(spark, sfDir)
      .select(org.apache.spark.sql.functions.col("id_a"),
        org.apache.spark.sql.functions.col("id_b"))
      .localCheckpoint()
    assert(pairs.count() > 0, "fixture LSH graph unexpectedly empty")
    val viaDriver = ConnectedComponents.run(spark, pairs).labels
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaPregel = ConnectedComponents.run(spark, pairs, driverEdgeThreshold = 0L).labels
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaDriver == viaPregel,
      s"paths disagree on the real pair graph (${pairs.count()} edges)")
    spark.catalog.clearCache()
  }

  test("zero edges yields an empty, correctly-typed label frame") {
    import spark.implicits._
    val cc = ConnectedComponents.run(
      spark, Seq.empty[(Long, Long)].toDF("id_a", "id_b"))
    assert(cc.edgeCount.contains(0L))
    val out = cc.labels
    assert(out.columns.toSeq == Seq("id", "lbl"))
    assert(out.count() == 0)
  }

  /** `count()` actions run while `body` runs. */
  private def countsIn(body: => Unit): Int = {
    val n = new AtomicInteger
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        if (f == "count") n.incrementAndGet()
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    ListenerBusAccess.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      body
      ListenerBusAccess.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    n.get
  }

  test("no ConnectedComponents caller counts its pair list: the gate's collect decides") {
    import graft.queries.PipelineQueries.{embeddingDupPairs, imagePhashNearPairs}
    val sfDir = "/root/testdata/sf0.001"
    // each caller against its pair builder alone (the adaptive LSH band
    // width counts the corpus; the pinned-width and image builders count
    // nothing)
    val callers = Seq[(String, () => Unit)](
      "q_dedup_clusters" -> (() => embeddingDupPairs(spark, sfDir)),
      "q_dedup_clusters_w32" -> (() => embeddingDupPairs(spark, sfDir, bandBits = Some(32))),
      "q_cluster_canonical" -> (() => embeddingDupPairs(spark, sfDir)),
      "q_dedup_image_clusters" -> (() => imagePhashNearPairs(spark, sfDir, nBands = 8, maxDist = 7)))
    for ((key, pairs) <- callers) {
      val own = countsIn(pairs())
      val all = countsIn(SparkEntry.queries(key)(spark, sfDir).collect())
      assert(all == own, s"$key ran ${all - own} count() beyond its pair builder's $own")
    }
    spark.catalog.clearCache()
  }
}
