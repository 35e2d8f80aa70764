package dmsbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class FingerprintSpec extends AnyFunSuite {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "3").getOrCreate()

  test("fingerprint is invariant to row order and partition count") {
    val df = spark.range(0, 5000).select(
      col("id"), (col("id") % 7).as("g"), concat(lit("v"), col("id").cast("string")).as("s"),
      array(col("id"), col("id") * 2).as("a"), (col("id") / 3.0).as("d"))
    val base = Fingerprint.drain(df)
    assert(base.rows == 5000)
    assert(Fingerprint.drain(df.repartition(7)) == base)
    assert(Fingerprint.drain(df.coalesce(1).orderBy(col("id").desc)) == base)
    assert(Fingerprint.drain(df.repartition(11, col("g")).sortWithinPartitions(col("s"))) == base)
  }

  test("fingerprint changes with one value or one duplicated row") {
    val df = spark.range(0, 100).toDF("id")
    val base = Fingerprint.drain(df)
    assert(Fingerprint.drain(df.withColumn("id", when(col("id") === 42, 43L).otherwise(col("id")))) != base)
    assert(Fingerprint.drain(df.union(df.limit(1))).rows == 101)
    assert(Fingerprint.parse(base.render) == base)
  }
}
