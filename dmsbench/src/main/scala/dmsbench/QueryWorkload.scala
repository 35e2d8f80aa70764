package dmsbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}

/** Shape of a final physical plan: the operator sequence and its joins. */
final case class PlanShape(nodes: Seq[String]) {
  def fingerprint: String = f"${scala.util.hashing.MurmurHash3.seqHash(nodes)}%08x"
  def count(name: String): Int = nodes.count(_ == name)
}

object PlanShape {
  private def walk(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
    case s: QueryStageExec => walk(s.plan)
    case r: ReusedExchangeExec => r +: walk(r.child)
    case other => other +: other.children.flatMap(walk)
  }

  def of(df: DataFrame): PlanShape = PlanShape(walk(df.queryExecution.executedPlan).map {
    case _: Exchange => "Exchange"
    case _: SortMergeJoinExec => "SortMergeJoin"
    case _: ShuffledHashJoinExec => "ShuffledHashJoin"
    case _: BroadcastHashJoinExec => "BroadcastHashJoin"
    case n => n.nodeName
  })
}

/** One execution of one key. */
final case class KeyRun(key: String, pass: Int, wallS: Double, ok: Boolean, plan: Option[PlanShape])

/** A query workload: an untimed warm pass over the keys, then `passes`
  * timed passes, each in its own seed-permuted order. Each execution drains the key's own plan and fingerprints its
  * output on the way; a mismatch or a throw is a failed execution.
  */
final class QueryWorkload(
    spark: SparkSession,
    tracer: Tracer,
    sfDir: String,
    keys: Seq[String],
    expected: Map[String, Fingerprint],
    expectedPlans: Map[String, String],
    hotKeys: Seq[String],
    seed: Long,
    passes: Int
) {
  private val problems = scala.collection.mutable.ArrayBuffer.empty[String]
  private val queries = graft.SparkEntry.queries

  /** Owning pipeline module of each key, from the engine's query registries. */
  private val moduleOf: Map[String, String] = Seq(
    "Pipeline" -> graft.queries.PipelineQueries.entries.keySet,
    "CorpusOps" -> graft.queries.CorpusOpsQueries.entries.keySet,
    "StreamShape" -> graft.queries.StreamShapeQueries.entries.keySet
  ).flatMap { case (m, ks) => ks.toSeq.map(_ -> m) }.toMap

  private def clean(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  private def execute(key: String, pass: Int): KeyRun = {
    clean()
    val span = s"p$pass/$key"
    var plan: Option[PlanShape] = None
    val (fp, wall) =
      try tracer.timed(span) {
        val df = queries(key)(spark, sfDir)
        val f = Fingerprint.drain(df)
        plan = Some(PlanShape.of(df))
        Some(f)
      } catch { case e: Exception =>
        problems += s"$key (pass $pass) threw: ${e.toString.take(300)}"
        (None, Double.PositiveInfinity)
      }
    val ok = fp.exists { f =>
      val want = expected.get(key)
      if (!want.contains(f)) problems += s"$key (pass $pass) output ${f.render}, expected ${want.map(_.render).getOrElse("none recorded")}"
      want.contains(f)
    }
    KeyRun(key, pass, if (ok) wall else Double.PositiveInfinity, ok, plan)
  }

  def run(setupStartMs: Long): Outcome = {
    val unknown = keys.filterNot(queries.contains)
    require(unknown.isEmpty, s"unknown query keys: ${unknown.mkString(", ")}")
    val warm = tracer.span("setup.warm") {
      new scala.util.Random(seed ^ 0x5eedL).shuffle(keys).map(execute(_, 0))
    }
    val setupS = (System.currentTimeMillis() - setupStartMs) / 1e3

    val runs = scala.collection.mutable.ArrayBuffer.empty[KeyRun]
    for (pass <- 1 to passes)
      new scala.util.Random(seed * 1000L + pass).shuffle(keys).foreach(k => runs += execute(k, pass))

    val all = warm ++ runs
    val failed = all.count(!_.ok).toLong
    val walls = runs.map(_.wallS).toSeq
    val perKey = keys.map(k => k -> Stats.median(runs.filter(_.key == k).map(_.wallS).toSeq)).toMap
    val (tail, tailPct) = Stats.tail(walls)
    val endToEnd = Map(
      "setup_s" -> setupS,
      "latency_ms" -> Stats.geomean(perKey.values.toSeq) * 1e3,
      "bulk_s" -> perKey.values.sum)

    val perLayer = scala.collection.mutable.Map.empty[String, Double]
    if (tracer.enabled) {
      val first = runs.filter(_.pass == 1)
      val firstWall = first.map(_.wallS).filterNot(_.isInfinite).sum
      perLayer ++= Layers.sparkSpan(tracer, "pass", _.startsWith("p1/"), firstWall)
      for (m <- Seq("Pipeline", "CorpusOps", "StreamShape")) {
        val ks = keys.filter(k => moduleOf.get(k).contains(m))
        perLayer(s"module.$m.wall_s") = ks.map(perKey).sum
        perLayer(s"module.$m.jobs") = tracer.sparkSum(s => ks.exists(k => s == s"p1/$k"))("jobs")
      }
      for (k <- hotKeys) {
        perLayer(s"key.$k.wall_s") = if (keys.contains(k)) perKey(k) else 0.0
        perLayer(s"key.$k.jobs") = tracer.sparkSum(_ == s"p1/$k")("jobs")
      }
      val plans = first.flatMap(r => r.plan.map(r.key -> _)).toMap
      perLayer ++= Seq(
        "plan.exchanges" -> plans.values.map(_.count("Exchange")).sum.toDouble,
        "plan.smj" -> plans.values.map(_.count("SortMergeJoin")).sum.toDouble,
        "plan.shj" -> plans.values.map(_.count("ShuffledHashJoin")).sum.toDouble,
        "plan.bhj" -> plans.values.map(_.count("BroadcastHashJoin")).sum.toDouble,
        "plan.fingerprint_changed" -> plans.count { case (k, p) => !expectedPlans.get(k).contains(p.fingerprint) }.toDouble)
    }
    val firstPlans = runs.filter(_.pass == 1).flatMap(r => r.plan.map(p => r.key -> p.fingerprint)).toMap
    Outcome(all.size.toLong, failed, problems.toSeq, endToEnd, perLayer.toMap, Map(
      "keys" -> keys.size,
      "timed_executions" -> runs.size,
      "timed_passes" -> passes,
      "latency_p50_ms" -> Stats.median(walls) * 1e3,
      "latency_tail_ms" -> tail * 1e3,
      "latency_tail_percentile" -> tailPct,
      "latency_samples" -> walls.size,
      "key_wall_s" -> perKey,
      "plan_fingerprints" -> firstPlans,
      "failed_keys" -> all.filterNot(_.ok).map(_.key).distinct))
  }
}
