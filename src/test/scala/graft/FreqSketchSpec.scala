package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.{FreqBuffer, FreqSketch}

/** SpaceSaving guarantees checked against exact counts — the sketch has no
  * SQL oracle (counter contents depend on partition arrival order), so the
  * invariants themselves are the correctness contract:
  *  - tracked item:  trueCount ≤ est  and  est − err ≤ trueCount
  *  - any item with trueCount > n/k is tracked (single-stream guarantee)
  */
class FreqSketchSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark

  // skewed synthetic stream: item "h0" ≈ 50%, "h1" ≈ 17%, "h2" ≈ 8%, rest
  // a long tail of near-unique items
  private def stream(n: Int): Seq[String] =
    (0 until n).map { i =>
      if (i % 2 == 0) "h0"
      else if (i % 6 == 1) "h1"
      else if (i % 12 == 3) "h2"
      else s"t${i % 97}"
    }

  test("single-buffer guarantees hold vs exact counts") {
    val data = stream(6000)
    val exact = data.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val buf = new FreqBuffer(16)
    data.foreach(buf.insert(_))
    val tracked = buf.sorted.map { case (it, est, err) => it -> (est, err) }.toMap
    tracked.foreach { case (it, (est, err)) =>
      val t = exact.getOrElse(it, 0L)
      assert(t <= est, s"$it: est $est under true $t")
      assert(est - err <= t, s"$it: est-err ${est - err} over true $t")
    }
    // n/k = 375; h0 (3000), h1 (1000), h2 (500) must all be tracked
    assert(tracked.contains("h0") && tracked.contains("h1") && tracked.contains("h2"))
    // the dominant item's estimate is tight (its counter never evicts)
    assert(tracked("h0")._1 == exact("h0"))
  }

  test("merged partials keep both bounds and surface the true heavy hitters") {
    val data = stream(6000)
    val exact = data.groupBy(identity).view.mapValues(_.size.toLong).toMap
    // split into 4 'partitions', sketch each, merge pairwise (the partial-
    // aggregate path the distributed plan takes)
    val parts = data.grouped(1500).toSeq.map { chunk =>
      val b = new FreqBuffer(16); chunk.foreach(b.insert(_)); b
    }
    val merged = parts.reduce { (a, b) => a.mergeFrom(b); a }
    val tracked = merged.sorted.map { case (it, est, err) => it -> (est, err) }.toMap
    tracked.foreach { case (it, (est, err)) =>
      val t = exact.getOrElse(it, 0L)
      assert(t <= est, s"$it: merged est $est under true $t")
      assert(est - err <= t, s"$it: merged est-err ${est - err} over true $t")
    }
    assert(tracked.contains("h0") && tracked.contains("h1") && tracked.contains("h2"))
    // top-1 by estimate must be the true top-1 (50% of the stream)
    assert(merged.sorted.head._1 == "h0")
  }

  test("non-positive counter budgets are rejected, not silently wrong") {
    intercept[IllegalArgumentException] { new FreqBuffer(0) }
    intercept[IllegalArgumentException] { new FreqBuffer(-3) }
    import spark.implicits._
    FreqSketch.register(spark)
    val e = intercept[Exception] {
      Seq("a", "b").toDF("item").selectExpr("freq_sketch(item, 0)").collect()
    }
    assert(e.getMessage.contains("positive") || e.getCause != null, e.getMessage)
  }

  test("property: invariants hold for arbitrary streams under arbitrary partition splits") {
    import org.scalacheck.{Gen, Prop}
    val genCase = for {
      n <- Gen.choose(0, 400)
      alpha <- Gen.choose(1, 30) // item universe size: small → heavy collisions
      items <- Gen.listOfN(n, Gen.choose(0, alpha).map(i => s"i$i"))
      k <- Gen.choose(2, 12)
      nSplits <- Gen.choose(1, 5)
    } yield (items, k, nSplits)
    val prop = Prop.forAll(genCase) { case (items, k, nSplits) =>
      val exact = items.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val chunkSize = math.max(1, math.ceil(items.size / nSplits.toDouble).toInt)
      val merged = items.grouped(chunkSize).toSeq
        .map { c => val b = new FreqBuffer(k); c.foreach(b.insert(_)); b }
        .reduceOption { (a, b) => a.mergeFrom(b); a }
        .getOrElse(new FreqBuffer(k))
      merged.sorted.forall { case (it, est, err) =>
        val t = exact.getOrElse(it, 0L)
        t <= est && est - err <= t
      }
    }
    PropCheck.check(prop, 300)
  }

  test("aggregate runs through SQL and the Column API with identical guarantees") {
    import spark.implicits._
    val df = stream(3000).toDF("item").repartition(7)
    val viaColumn = df.agg(FreqSketch.freqSketch(spark, $"item", 16).as("hh"))
      .select(explode($"hh").as("e"))
      .select($"e.item", $"e.est", $"e.err")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val exact = stream(3000).groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(viaColumn.nonEmpty && viaColumn.length <= 16)
    viaColumn.foreach { case (it, est, err) =>
      val t = exact.getOrElse(it, 0L)
      assert(t <= est && est - err <= t, s"$it: ($est, $err) vs true $t")
    }
    assert(viaColumn.map(_._1).contains("h0"))
    // SQL path (temp registration, same builder as GraftExtensions)
    FreqSketch.register(spark)
    df.createOrReplaceTempView("freq_items")
    val viaSql = spark.sql(
      "SELECT size(freq_sketch(item, 16)) FROM freq_items").head.getInt(0)
    assert(viaSql > 0 && viaSql <= 16)
  }
}
