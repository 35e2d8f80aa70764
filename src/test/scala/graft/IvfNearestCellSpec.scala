package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.IvfKMeans

class IvfNearestCellSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark

  test("fused ivf_nearest_cell matches the composed array_min(simStructs) form") {
    import spark.implicits._
    // deterministic pseudo-vectors, incl. ties by construction (vec 0 == vec 8
    // pattern) so the lowest-cid tiebreak is exercised
    val vecs = (0L until 64L).map { id =>
      (id, (0 until 16).map(i => ((id % 8) * 31 + i * 7 % 13).toDouble / 10.0))
    }
    val df = vecs.toDF("vec_id", "v")
    val cents: Seq[(Long, Seq[Double])] =
      vecs.filter(_._1 % 9 == 0).map { case (id, v) => (id, v) }
    val fused = df.withColumn("cell", IvfKMeans.assignCell(spark, cents, $"v"))
      .select($"vec_id", $"cell")
    val composed = df.withColumn("cell",
        array_min(IvfKMeans.simStructs(spark, cents, $"v")).getField("cid"))
      .select($"vec_id", $"cell")
    val f = fused.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val c = composed.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(f == c)
    assert(f.size == 64)
  }

  test("ties break to the lowest centroid id") {
    import spark.implicits._
    val v = Seq((1L, Seq(1.0, 0.0))).toDF("vec_id", "v")
    // two identical centroids — cos6 ties exactly; cid 3 < cid 7 must win
    val cents: Seq[(Long, Seq[Double])] = Seq((7L, Seq(2.0, 0.0)), (3L, Seq(2.0, 0.0)))
    val cell = v.withColumn("cell", IvfKMeans.assignCell(spark, cents, $"v"))
      .select($"cell").head.getLong(0)
    assert(cell == 3L)
  }

  test("past 1024 cells the broadcast kernels still match the composed simStructs forms") {
    import spark.implicits._
    // K = 1030 at dim 3: the far side of the former 1024-cell plan-literal
    // gate, at a size the composed K-struct form can still analyze. cids
    // are scrambled against table order, every 7th centroid duplicates its
    // predecessor (exact cos6 ties → lowest-cid wins), and one is the zero
    // vector (NaN cosine against everything).
    val cents: Seq[(Long, Seq[Double])] = (0 until 1030).map { c =>
      val src = if (c % 7 == 6) c - 1 else c
      val cv =
        if (c == 500) Seq(0.0, 0.0, 0.0)
        else Seq(math.sin(src * 1.3 + 0.1), math.cos(src * 0.7), math.sin(src * 0.37 + 2.0))
      (((c * 389L) % 1031L) + 1L, cv)
    }
    val df = (0L until 40L).map { id =>
      (id, Seq(math.cos(id * 0.9), math.sin(id * 1.7 + 0.3), math.cos(id * 0.23 + 1.0)))
    }.toDF("vec_id", "v")
    val np = 5
    val got = df.select($"vec_id",
        IvfKMeans.assignCell(spark, cents, $"v").as("cell"),
        IvfKMeans.probeCells(spark, cents, $"v", np).as("cells"))
      .as[(Long, Long, Seq[Long])].collect().sortBy(_._1).toSeq
    val ref = df
      .withColumn("ss", IvfKMeans.simStructs(spark, cents, $"v"))
      .select($"vec_id", array_min($"ss").getField("cid").as("cell"),
        expr(s"transform(slice(array_sort(ss), 1, $np), p -> p.cid)").as("cells"))
      .as[(Long, Long, Seq[Long])].collect().sortBy(_._1).toSeq
    assert(got == ref)
    assert(got.map(_._2).distinct.size > 1, "fixture degenerate: every vector in one cell")
  }
}
