package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** [[graft.operators.SubCellKernel]] against the join formulation it
  * replaced ([[HierJoinReference]]), bit for bit: per-vector `(ccell, cid)`
  * and `v`, the final sub-centroids by `doubleToRawLongBits`, and the
  * SemDeDup stats of the sub-cells. Every corpus holds exact duplicates, a
  * zero vector and a coarse cell with one vector; the last also holds a
  * short vector, a vector with a null element and a null vector.
  */
class HierSubCellSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark
  import graft.operators.{IvfKMeans, SubCellKernel}

  private val schema = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("v", ArrayType(DoubleType))))

  /** `n` vectors of `dim`: ordinary vectors are non-negative and sparse
    * (each element is set with probability 1/2) off the last axis, so their
    * cosines spread across the 0.45 threshold and none is negative; vec 97
    * is the last axis, a coarse seed with cosine 0 to every other vector,
    * which therefore stays alone in its coarse cell (a 0 tie goes to the
    * lower cid, vec 0); vec 10i+1 copies vec 10i; vecs 500 and 501 are all
    * zeros. */
  private def corpus(seed: Long, n: Int, dim: Int, ragged: Boolean): DataFrame = {
    val rnd = new java.util.Random(seed)
    val base = Array.tabulate(n) { i =>
      Array.tabulate(dim)(j =>
        if (j == dim - 1 || rnd.nextBoolean()) 0.0
        else math.abs(rnd.nextGaussian()) * (1 + (i % 4)))
    }
    val rows = (0 until n).map { i =>
      val v: Seq[Any] =
        if (i == 97) Seq.tabulate(dim)(j => if (j == dim - 1) 1.0 else 0.0)
        else if (i == 500 || i == 501) Seq.fill(dim)(0.0)
        else if (ragged && i == 301) base(i).take(dim / 4).toSeq
        else if (ragged && i == 302) base(i).toSeq.updated(3, null)
        else if (ragged && i == 303) null
        else base(if (i % 10 == 1) i - 1 else i).toSeq
      Row(i.toLong, v)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
  }

  private def bits(v: scala.collection.Seq[Any]): Seq[Option[Long]] =
    v.toSeq.map(x => Option(x).map(d => java.lang.Double.doubleToRawLongBits(d.asInstanceOf[Double])))

  private def byVec(df: DataFrame): Map[Long, (Long, Long, Seq[Option[Long]])] =
    df.select("vec_id", "ccell", "cid", "v").collect().map(r =>
      r.getLong(0) -> ((r.getLong(1), r.getLong(2), bits(r.getSeq[Any](3))))).toMap

  private def byCent(df: DataFrame): Map[(Long, Long), Seq[Option[Long]]] =
    df.select("ccell", "cid", "cv").collect().map(r =>
      (r.getLong(0), r.getLong(1)) -> bits(r.getSeq[Any](2))).toMap

  private def stats(df: DataFrame): Set[(Long, Long, Long, Long)] =
    df.select("cell", "n_vecs", "n_dup_pairs", "n_dropped").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet

  for ((seed, n, dim, ragged) <- Seq((11L, 1400, 16, false), (23L, 2000, 64, false), (37L, 1100, 24, true)))
    test(s"kernel matches the join reference bit for bit (seed $seed, n $n, dim $dim${if (ragged) ", ragged" else ""})") {
      val e = corpus(seed, n, dim, ragged).localCheckpoint()
      val (refAssigned, refCents) = HierJoinReference.trainAssignHierarchical(spark, e, coarseK = 3, iters = 2)
      val ref = byVec(refAssigned)
      val got = byVec(IvfKMeans.trainAssignHierarchical(spark, e, coarseK = 3, iters = 2))
      assert(got == ref, s"per-vector assignment differs at ${(got.keySet ++ ref.keySet)
        .filter(k => got.get(k) != ref.get(k)).take(5).map(k => k -> ((got.get(k), ref.get(k))))}")

      val gotCents = byCent(IvfKMeans.subCellPass(spark, e, 3, 2, SubCellKernel.Centroids))
      assert(gotCents == byCent(refCents))

      val refStats = stats(HierJoinReference.dedupStats(spark, refAssigned, 0.45))
      assert(stats(IvfKMeans.hierarchicalDedupStats(spark, e, 3, 2, 0.45)) == refStats)

      // the corpus exercises what it claims to
      val perCoarse = ref.values.groupBy(_._1).map { case (c, vs) => c -> vs.size }
      assert(perCoarse.size == 3 && perCoarse.values.exists(_ == 1), perCoarse)
      assert(ref.contains(500L) && ref(500L) == ref(501L))
      assert(gotCents.size > 3 && gotCents.keys.map(_._1).toSet.size == 3, gotCents.keys)
      assert(refStats.exists(_._3 > 0), refStats)
      if (ragged) {
        assert(!ref.contains(303L), "a null vector has no coarse cell")
        assert(ref(301L)._3.size == dim / 4 && ref(302L)._3(3).isEmpty)
      }
    }

  test("a coarse cell whose sub-centroids vanish drops its vectors, as the equi-join did") {
    // every member of the coarse cell is an empty vector: no exploded row,
    // so the seed's sub-centroid disappears after one iteration
    val ids = Array(4L, 9L)
    val empty = new SubCellKernel.Vec(Array.emptyDoubleArray, null)
    val c = SubCellKernel.cell(ids, Array(empty, empty), iters = 1, ansi = true)
    assert(c.cid == null && c.centIds.isEmpty)
    val c0 = SubCellKernel.cell(ids, Array(empty, empty), iters = 0, ansi = true)
    assert(c0.cid.toSeq == Seq(4L, 4L))
  }
}
