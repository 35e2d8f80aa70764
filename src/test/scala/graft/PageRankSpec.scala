package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.PageRank
import graft.queries.RelationalQueries

/** `PageRank`'s two branches return the same rows bit for bit: the driver
  * branch a subcritical graph takes, and the distributed one (forced by
  * threshold 0). Doubles compare by `doubleToRawLongBits`.
  */
class PageRankSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark

  private def bits(df: DataFrame): Seq[(Long, Long, Long)] =
    df.collect().toSeq.map(r =>
      (r.getLong(0), r.getLong(1), java.lang.Double.doubleToRawLongBits(r.getDouble(2))))

  private def onDriver(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]

  /** Both branches of `pairs`; returns the driver branch's rows. */
  private def assertParity(pairs: DataFrame): Seq[(Long, Long, Long)] = {
    val driver = PageRank.top(spark, pairs)
    val dist = PageRank.top(spark, pairs, driverEdgeThreshold = 0L)
    assert(onDriver(driver) && !onDriver(dist))
    assert(driver.schema.map(f => (f.name, f.dataType)) == dist.schema.map(f => (f.name, f.dataType)))
    val rows = bits(driver)
    assert(rows == bits(dist))
    assert(rows.map(_._1) == (1L to rows.size.toLong))
    rows
  }

  private def graph(pairs: Seq[(Long, Long)]): DataFrame = {
    import spark.implicits._
    pairs.distinct.toDF("a", "b")
  }

  test("sf0.01 trade graph: driver and distributed branches are bit-identical") {
    val pairs = RelationalQueries.pageRankPairs(spark, "/root/testdata/sf0.01").localCheckpoint()
    val n = pairs.count()
    assert(assertParity(pairs).size == 20)
    // the gate's boundary: a threshold equal to the edge count stays on the driver
    assert(onDriver(PageRank.top(spark, pairs, driverEdgeThreshold = n)))
    assert(!onDriver(PageRank.top(spark, pairs, driverEdgeThreshold = n - 1)))
  }

  test("synthetic graphs: a star, two components, and 41 nodes tied on rank") {
    // star: hub 0 with 30 leaves — the hub ranks first, then 19 tied leaves by id
    val star = assertParity(graph((1L to 30L).map(l => (0L, l))))
    assert(star.map(_._2) == (0L +: (1L to 19L)))
    // two components of different shapes
    assertParity(graph((1L to 5L).map(l => (100L, l)) ++ Seq((7L, 8L), (8L, 9L), (9L, 10L))))
    // a 41-node ring with scrambled ids: every rank ties, so id orders the top 20
    val ids = (0L until 41L).map(i => (i * 7919L) % 1009L)
    val ring = assertParity(graph(ids.indices.map(i => (ids(i), ids((i + 1) % ids.size)))))
    assert(ring.map(_._3).distinct.size == 1)
    assert(ring.map(_._2) == ids.sorted.take(20))
  }

  test("seeded random graphs: branches agree, including fewer nodes than the top 20") {
    val rnd = new scala.util.Random(7)
    for (nPairs <- Seq(3, 60, 400)) {
      val pairs = Seq.fill(nPairs)((rnd.nextInt(50).toLong, 1000L + rnd.nextInt(80)))
      assertParity(graph(pairs))
    }
  }

  test("a subcritical pagerank runs at most 4 Spark jobs") {
    val sfDir = "/root/testdata/sf0.01"
    val q = SparkEntry.queries("q_graph_pagerank")
    q(spark, sfDir).collect() // warm: the tables' schemas are memoized
    val jobs = SparkSuite.jobsIn(q(spark, sfDir).collect())
    assert(jobs <= 4, s"$jobs jobs")
  }
}
