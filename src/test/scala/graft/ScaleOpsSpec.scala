package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.ScaleOps
import graft.tables.Tables

class ScaleOpsSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark
  private val sfDir = "/root/testdata/sf0.001"

  test("saltedJoin returns exactly the rows of the plain equi-join") {
    import spark.implicits._
    val li = Tables.lineitem(spark, sfDir)
      .select($"l_orderkey".as("o_orderkey"), $"l_extendedprice")
    val o = Tables.orders(spark, sfDir).select($"o_orderkey", $"o_totalprice")
    val plain = li.join(o, Seq("o_orderkey"))
    // threshold 4 lands mid-distribution: some orderkeys hot, some cold —
    // both paths of the hot/cold split must reproduce the plain join
    // both probe modes must reproduce the plain join exactly
    Seq(false, true).foreach { eager =>
      val salted = ScaleOps.saltedJoin(li, o, "o_orderkey", saltFactor = 8,
        hotKeyThreshold = 4L, eagerProbe = eager, broadcastShortCircuit = false)
      assert(salted.count() == plain.count(), s"eagerProbe=$eager")
      assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty,
        s"eagerProbe=$eager")
      assert(!salted.columns.contains("__salt"))
    }
  }

  test("saltedJoin spreads a pathological hot key across salts") {
    import spark.implicits._
    // 10k rows on one key (the classic straggler) + 1k cold keys
    val hot = spark.range(10000).select(lit(1L).as("k"), $"id")
      .union(spark.range(1000).select($"id" + 100L as "k", $"id"))
    val dim = spark.range(1000).select(
      when($"id" === 0, 1L).otherwise($"id" + 100L).as("k"),
      lit("x").as("v"))
    val joined = ScaleOps.saltedJoin(hot, dim, "k", saltFactor = 8,
      hotKeyThreshold = 1000L, broadcastShortCircuit = false)
    // hot key matches all 10000; cold keys 101..1099 match 999 of the 1000
    assert(joined.count() == 10999)
    // the internal salt spread the hot key over >1 partition-key values
    val salts = hot.filter($"k" === 1L).withColumn("__salt",
      pmod(hash(struct(hot.columns.map(col).toIndexedSeq: _*)), lit(8)))
      .select(countDistinct($"__salt")).head().getLong(0)
    assert(salts > 4, s"expected hot key spread across salts, got $salts")
  }

  test("saltedJoin replicates the small side only for hot keys") {
    import spark.implicits._
    val large = spark.range(5000).select(lit(1L).as("k"), $"id")
      .union(spark.range(500).select($"id" + 10L as "k", $"id"))
    val small = spark.range(500).select(
      when($"id" === 0, 1L).otherwise($"id" + 10L).as("k"), $"id".as("v"))
    // reproduce the internal small-side replication: 1 hot key of 501 total
    val hotKeys = large.groupBy($"k").count().filter($"count" >= 1000L)
      .select($"k", lit(true).as("__hot"))
    val replicated = small.join(broadcast(hotKeys), Seq("k"), "left_outer")
      .withColumn("__salt", explode(sequence(lit(0),
        when($"__hot", lit(7)).otherwise(lit(0)))))
    // cold keys 1×, the single hot key 8× → 499 + 8 + 0 (id 0 maps to hot)
    assert(replicated.count() === small.count() + 7)
  }

  test("saltedJoin bakes the hot set into the plan: no pre-pass in the executed join") {
    import spark.implicits._
    val large = spark.range(20000).select(lit(1L).as("k"), $"id")
      .union(spark.range(500).select($"id" + 10L as "k", $"id"))
    val small = spark.range(500).select(
      when($"id" === 0, 1L).otherwise($"id" + 10L).as("k"), $"id".as("v"))
    val joined = ScaleOps.saltedJoin(large, small, "k", saltFactor = 8,
      hotKeyThreshold = 1000L, eagerProbe = true, broadcastShortCircuit = false)
    joined.collect()
    val plan = joined.queryExecution.executedPlan.toString
    // the collected hot set turns both probes into map-side set predicates:
    // the executed plan must contain neither the frequency pre-pass (its
    // __cnt aggregate) nor any probe join on a __hot marker — the pre-pass
    // ran exactly once, at construction
    assert(!plan.contains("__cnt") && !plan.contains("__hot"),
      s"expected the hot-key pre-pass to be absent from the executed plan:\n$plan")
    assert(plan.contains("__salt"), plan)
    // 20000 hot-key matches (k=1 → id 0) + 499 cold matches
    assert(joined.count() == 20499L)
  }

  test("deferred saltedJoin runs its pre-pass inside the join plan, once, reused") {
    import spark.implicits._
    val large = spark.range(20000).select(lit(1L).as("k"), $"id")
      .union(spark.range(500).select($"id" + 10L as "k", $"id"))
    val small = spark.range(500).select(
      when($"id" === 0, 1L).otherwise($"id" + 10L).as("k"), $"id".as("v"))
    val joined = ScaleOps.saltedJoin(large, small, "k", saltFactor = 8,
      hotKeyThreshold = 1000L, eagerProbe = false, broadcastShortCircuit = false)
    // plan-only consumption must run NO job (the deferred point): assert by
    // plan inspection — the pre-pass marker sits inside the plan itself
    val before = joined.queryExecution.executedPlan.toString
    assert(before.contains("__hot"), before)
    joined.collect()
    val plan = joined.queryExecution.executedPlan.toString
    // the two hot probes share one broadcast of the pre-pass output
    assert(plan.contains("ReusedExchange") || plan.contains("ReusedQueryStage"),
      s"expected the two hot-marker probes to reuse one broadcast:\n$plan")
    assert(joined.count() == 20499L)
  }

  test("property: eager-probe overflow falls back to the deferred probe, row-identical") {
    import spark.implicits._
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // Correctness must never depend on WHERE the probe lands: when the hot
    // set exceeds the collect cap, saltedJoin degrades to the deferred
    // broadcast-probe form — and the rows must still be exactly the plain
    // join's. maxCollectedHotKeys is shrunk so the real overflow branch
    // executes at test scale.
    val gen = for {
      numHot <- Gen.choose(5, 12)      // distinct hot keys, all > cap of 4
      rowsPerHot <- Gen.choose(2, 5)
      saltFactor <- Gen.choose(1, 8)
    } yield (numHot, rowsPerHot, saltFactor)
    val prop = Prop.forAllNoShrink(gen) { case (numHot, rowsPerHot, saltFactor) =>
      val large = spark.range(numHot.toLong * rowsPerHot)
        .select(($"id" % numHot).as("k"), $"id".as("payload"))
        .union(spark.range(30).select($"id" + 1000L as "k", $"id".as("payload")))
      val small = spark.range(numHot.toLong + 15)
        .select($"id".as("k"), lit("v").as("v"))
      val plain = large.join(small, Seq("k"))
      val salted = ScaleOps.saltedJoin(large, small, "k", saltFactor,
        hotKeyThreshold = rowsPerHot.toLong, eagerProbe = true,
        maxCollectedHotKeys = 4, broadcastShortCircuit = false)
      // the overflow fallback IS the deferred plan: its __hot marker probe
      // must be present (an in-set bake would have erased it)
      val deferred = salted.queryExecution.executedPlan.toString.contains("__hot")
      val identical = salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty
      Prop(deferred && identical) :| s"deferred=$deferred identical=$identical"
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(15), prop)
    assert(res.passed, res.status.toString)
  }

  test("property: a hot key the sampled probe misses never changes the result") {
    import spark.implicits._
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // The sampled pre-pass only picks which keys SCATTER — a missed hot key
    // falls through to the plain-join path for that key and must still
    // match every row. Tiny fractions make misses common; the property
    // asserts row-identity in every case and that both outcomes (missed →
    // collapses to plain join, detected → salted plan) actually occurred
    // across the run.
    var sawMiss = false; var sawHit = false
    def identical(hotRows: Int, frac: Double, saltFactor: Int): Boolean = {
      val large = spark.range(hotRows.toLong).select(lit(7L).as("k"), $"id".as("payload"))
        .union(spark.range(40).select($"id" + 100L as "k", $"id".as("payload")))
      val small = spark.range(50)
        .select(when($"id" === 0, 7L).otherwise($"id" + 100L).as("k"), lit("v").as("v"))
      val plain = large.join(small, Seq("k"))
      val salted = ScaleOps.saltedJoin(large, small, "k", saltFactor,
        hotKeyThreshold = 50L, sampleFraction = frac, eagerProbe = true,
        broadcastShortCircuit = false)
      val plan = salted.queryExecution.executedPlan.toString
      if (plan.contains("__salt")) sawHit = true else sawMiss = true
      salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty
    }
    // fixed cases first, through the same row-identity check: at local[4]
    // the seeded sample is empty (a miss) at frac 0.001 and never at 0.5
    // (a hit), so both outcomes occur whatever the generator draws
    for (hotRows <- Seq(60, 200); frac <- Seq(0.001, 0.5))
      assert(identical(hotRows, frac, saltFactor = 4), s"hotRows=$hotRows frac=$frac")
    val gen = for {
      hotRows <- Gen.choose(60, 200)   // genuinely hot vs threshold below
      frac <- Gen.oneOf(0.001, 0.01, 0.05, 0.5)
      saltFactor <- Gen.choose(2, 8)
    } yield (hotRows, frac, saltFactor)
    val prop = Prop.forAllNoShrink(gen) { case (hotRows, frac, saltFactor) =>
      val same = identical(hotRows, frac, saltFactor)
      Prop(same) :| s"hotRows=$hotRows frac=$frac identical=$same"
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(20), prop)
    assert(res.passed, res.status.toString)
    assert(sawMiss, "no case ever missed the hot key — property vacuous")
    assert(sawHit, "no case ever detected the hot key — property vacuous")
  }

  test("withGlobalRank assigns exact global ranks without a single-partition window") {
    import spark.implicits._
    // scrambled keys so range partitioning has real work to do
    val df = spark.range(10000)
      .select((($"id" * 2654435761L) % 1000003L).as("k"), $"id")
    val ranked = ScaleOps.withGlobalRank(df, "rnk", $"k".asc, $"id".asc)
    val rows = ranked.orderBy($"k", $"id").select($"rnk").as[Long].collect().toSeq
    // sorting by the rank's own order must yield exactly 1..n
    assert(rows == (1L to 10000L), s"head=${rows.take(5)} tail=${rows.takeRight(5)}")
    val plan = ranked.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange SinglePartition"),
      s"global rank must not serialize on one partition:\n$plan")
  }

  test("withGlobalRank + ntileFromRank reproduce Spark's own ntile exactly") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // sizes around the bucket-remainder edges, incl. n < k and n % k != 0
    for (n <- Seq(1, 3, 4, 5, 7, 8, 101, 1000); k <- Seq(3, 4, 7)) {
      val df = spark.range(n).select((($"id" * 7919L) % 104729L).as("v"), $"id")
      val viaWindow = df.withColumn("t",
        ntile(k).over(Window.orderBy($"v".desc, $"id")).cast("long"))
        .select($"v", $"id", $"t")
      val viaRank = ScaleOps.withGlobalRank(df, "rnk", $"v".desc, $"id".asc)
        .withColumn("t", ScaleOps.ntileFromRank($"rnk", n.toLong, k.toLong))
        .select($"v", $"id", $"t")
      val diff = viaWindow.exceptAll(viaRank).count() + viaRank.exceptAll(viaWindow).count()
      assert(diff == 0, s"n=$n k=$k: distributed ntile diverged from window ntile")
    }
    spark.catalog.clearCache()
  }

  test("withNtileBucket reproduces Spark's ntile exactly — ties, narrowing, and all") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // three data shapes: near-unique values, heavy ties (11 distinct values
    // so boundaries SPLIT tie groups), and constant column (one giant tie);
    // collectCap=50 forces the iterative narrowing path on the larger sets
    val shapes: Seq[(String, Int => org.apache.spark.sql.Column)] = Seq(
      ("unique", _ => (col("id") * 7919L) % 104729L),
      ("ties", _ => (col("id") * 7919L) % 11L),
      ("constant", _ => lit(42L))
    )
    for ((tag, mk) <- shapes; n <- Seq(1, 7, 101, 2000); k <- Seq(3, 4, 7);
         cap <- Seq(50, 1 << 20)) {
      val df = spark.range(n).select(mk(n).cast("double").as("v"), $"id")
      val viaWindow = df.withColumn("t",
        ntile(k).over(Window.orderBy($"v".desc, $"id")).cast("long"))
      val viaBounds = ScaleOps.withNtileBucket(df, "t", "v", "id", k, collectCap = cap)
      val diff = viaWindow.exceptAll(viaBounds).count() +
        viaBounds.exceptAll(viaWindow).count()
      assert(diff == 0, s"shape=$tag n=$n k=$k cap=$cap: diverged from window ntile")
    }
  }

  test("withNtileBucket fails fast on null or NaN values instead of misbucketing") {
    import spark.implicits._
    val withNull = Seq((Some(1.0), 1L), (None, 2L), (Some(3.0), 3L))
      .toDF("v", "id")
    val exNull = intercept[IllegalArgumentException] {
      ScaleOps.withNtileBucket(withNull, "t", "v", "id", 2)
    }
    assert(exNull.getMessage.contains("non-null"), exNull.getMessage)
    val withNan = Seq((1.0, 1L), (Double.NaN, 2L), (3.0, 3L)).toDF("v", "id")
    val exNan = intercept[IllegalArgumentException] {
      ScaleOps.withNtileBucket(withNan, "t", "v", "id", 2)
    }
    assert(exNan.getMessage.contains("non-NaN"), exNan.getMessage)
  }

  test("orderStatAsc returns the exact order statistic through forced narrowing") {
    import spark.implicits._
    // 10k scrambled values with duplicates; cap 100 forces ≥2 narrowing
    // rounds; checked against a driver-side sort at several ranks
    val vals = (0 until 10000).map(i => ((i.toLong * 2654435761L) % 997L).toDouble)
    val df = vals.zipWithIndex.map { case (v, i) => (v, i.toLong) }.toDF("v", "id")
    val sorted = vals.sorted
    for (a <- Seq(1L, 17L, 2500L, 5000L, 9999L, 10000L)) {
      val (v, lt, eq) = ScaleOps.orderStatAsc(df, col("v"), a, 10000L, cap = 100)
      assert(v.asInstanceOf[Double] == sorted((a - 1).toInt), s"rank $a value")
      assert(lt == sorted.count(_ < sorted((a - 1).toInt)), s"rank $a lt")
      assert(eq == sorted.count(_ == sorted((a - 1).toInt)), s"rank $a eq")
    }
  }

  test("AQE splits a skewed join partition at runtime (OptimizeSkewedJoin)") {
    import spark.implicits._
    // one key owns ~90% of the left side; thresholds lowered so local data
    // sizes qualify as "skewed"
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.autoBroadcastJoinThreshold"
    ).map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ path
      val left = spark.range(200000)
        .select(when($"id" % 10 =!= 0, lit(7L)).otherwise($"id").as("k"), $"id".as("payload"))
      val right = spark.range(1000).select($"id".as("k"), lit("dim").as("v"))
      val joined = left.join(right, Seq("k"))
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"), s"expected AQE skew handling in:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None)    => conf.unset(k)
    }
  }

  test("bucketed tables join without any shuffle exchange") {
    import spark.implicits._
    val warehouse = java.nio.file.Files.createTempDirectory("graft-wh")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      ScaleOps.writeBucketed(
        Tables.orders(spark, sfDir).select($"o_orderkey", $"o_custkey", $"o_totalprice"),
        "b_orders", "o_orderkey", buckets = 8)
      ScaleOps.writeBucketed(
        Tables.lineitem(spark, sfDir)
          .select($"l_orderkey".as("o_orderkey"), $"l_extendedprice"),
        "b_lineitem", "o_orderkey", buckets = 8)
      val joined = spark.table("b_lineitem").join(spark.table("b_orders"), Seq("o_orderkey"))
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle:\n$plan")
      assert(joined.count() == Tables.lineitem(spark, sfDir).count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
    }
  }
}
