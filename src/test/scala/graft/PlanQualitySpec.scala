package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution

/** Physical-plan quality gates: the properties that keep these queries fast
  * at 100 TB must hold in the compiled plan, not just in intent — filter/
  * column pushdown into the parquet scan, broadcast for dimension joins,
  * TakeOrderedAndProject for top-k (per-partition k + driver merge, never a
  * global sort), whole-stage codegen coverage.
  */
class PlanQualitySpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark
  private val sfDir = "/root/testdata/sf0.001"

  private def physical(df: DataFrame): String = {
    df.collect() // materialize THIS QueryExecution so AQE settles on the final plan
    val qe: QueryExecution = df.queryExecution
    qe.executedPlan.toString
  }
  private def run(name: String): DataFrame = SparkEntry.queries(name)(spark, sfDir)

  test("q_scan_project_filter pushes predicates and prunes columns at the scan") {
    val plan = physical(run("q_scan_project_filter"))
    assert(plan.contains("PushedFilters: ["), plan)
    // PushedFilters is elided at 100 chars in toString; DataFilters shows both
    assert(plan.contains("GreaterThan(l_quantity") && plan.contains("= R)"), plan)
    // pruned read schema: only the 4 projected + filtered columns
    assert(!plan.contains("l_shipdate"), "scan should not read unprojected columns")
  }

  test("q_pred_pushdown_scan pushes the date range into the parquet scan") {
    val plan = physical(run("q_pred_pushdown_scan"))
    assert(plan.contains("PushedFilters") && plan.contains("o_orderdate"), plan)
  }

  test("q_join_broadcast uses a broadcast hash join") {
    val plan = physical(run("q_join_broadcast"))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("q_join_multiway broadcasts every dimension (no fact-side SMJ for dims)") {
    val plan = physical(run("q_join_multiway"))
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("q_sort_limit_topk compiles to TakeOrderedAndProject, not a global sort") {
    val plan = physical(run("q_sort_limit_topk"))
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("q_graph_pagerank takes its top-20 via TakeOrderedAndProject, not a global window sort") {
    // the distributed branch (threshold 0 forces it; the fixture graph is
    // subcritical), un-materialized: the operator localCheckpoints, which
    // collapses the visible plan to a LogicalRDD scan
    val df = graft.operators.PageRank.top(spark,
      queries.RelationalQueries.pageRankPairs(spark, sfDir),
      driverEdgeThreshold = 0L, materialize = false)
    try {
      val plan = physical(df)
      assert(plan.contains("TakeOrderedAndProject"), plan)
      // the only Window left ranks the 20 survivors AFTER the limit: it must
      // sit above TakeOrderedAndProject in the plan text (printed top-down)
      val winAt = plan.indexOf("Window")
      val topAt = plan.indexOf("TakeOrderedAndProject")
      assert(winAt >= 0 && winAt < topAt,
        s"window must rank post-limit rows only (win@$winAt top@$topAt)\n$plan")
    } finally spark.catalog.clearCache() // drop the pipeline's edge/deg persists
  }

  test("q_event_paths ranks only post-limit survivors: window above TakeOrderedAndProject") {
    // the ≤20-row post-limit rank window is explicitly allowed to be
    // single-partition — what the gate forbids is GLOBAL ranking BEFORE the
    // limit (a window sort of the whole transition table). Checked
    // structurally: top-k via TakeOrderedAndProject, and the topmost Window
    // sits above it in the top-down plan text (the other window, the
    // per-user lead(), is key-partitioned below the aggregate).
    val plan = physical(run("q_event_paths"))
    assert(plan.contains("TakeOrderedAndProject"), plan)
    val winAt = plan.indexOf("Window")
    val topAt = plan.indexOf("TakeOrderedAndProject")
    assert(winAt >= 0 && winAt < topAt,
      s"window must rank post-limit rows only (win@$winAt top@$topAt)\n$plan")
  }

  test("q_join_semi / q_join_anti produce semi/anti physical joins") {
    assert(physical(run("q_join_semi")).contains("LeftSemi"))
    assert(physical(run("q_join_anti")).contains("LeftAnti"))
  }

  test("q_decontaminate broadcasts the benchmark needles (no corpus shuffle join)") {
    val plan = physical(run("q_decontaminate"))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("q_dedup_incremental anti-joins the new shard against corpus fingerprints") {
    val plan = physical(run("q_dedup_incremental"))
    assert(plan.contains("LeftAnti"), plan)
  }

  test("q_window_ntile computes global quartiles without a single-partition window") {
    val plan = physical(run("q_window_ntile"))
    assert(!plan.contains("Exchange SinglePartition"),
      s"global ntile must not serialize on one partition:\n$plan")
    // boundary-broadcast form: the returned plan buckets map-side off the
    // parquet scan — no Window at all, and no localCheckpoint/ExistingRDD
    // materialization of the table (the old withGlobalRank cost)
    assert(!plan.contains("ExistingRDD") && !plan.contains("Window"),
      s"ntile aggregate must bucket map-side from broadcast boundaries:\n$plan")
    assert(plan.contains("Scan parquet"), plan)
  }

  test("q_text_repetition is map-only: no exchange below the final order") {
    // exactly one Exchange — the rangepartitioning for the final orderBy;
    // scoring itself must not shuffle (count the AQE final section only,
    // not the Initial Plan echo)
    val plan = finalSection(physical(run("q_text_repetition")))
    val exchanges = "Exchange".r.findAllIn(plan.replace("ReusedExchange", "")).size
    assert(exchanges <= 1, s"expected at most the final-sort exchange:\n$plan")
  }

  // AQE plans print "== Final Plan ==" followed by an "== Initial Plan =="
  // echo — count structure only in the final section
  private def finalSection(plan: String): String =
    plan.split("== Initial Plan ==").head

  test("q_sessionize runs all window passes on ONE user_id shuffle") {
    val plan = finalSection(physical(run("q_sessionize")))
    // both window functions and the per-session row_number must reuse the
    // same hashpartitioning(user_id...) exchange; extra exchanges mean the
    // session assignment re-shuffles per pass
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges <= 1, s"expected <=1 hash exchange, plan:\n$plan")
  }

  test("q_histogram aggregates partially before its single shuffle") {
    val plan = finalSection(physical(run("q_histogram")))
    assert(plan.contains("HashAggregate"), plan)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges <= 1, s"expected <=1 hash exchange, plan:\n$plan")
  }

  test("q_incremental_agg combines partials without recomputing the base scan twice per branch") {
    val plan = physical(run("q_incremental_agg"))
    // two branch scans (base + delta) then a single combine shuffle chain —
    // no cartesian, no nested-loop anywhere
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q_agg_hash stays inside whole-stage codegen with partial aggregation") {
    val plan = physical(run("q_agg_hash"))
    assert(plan.contains("*(1) HashAggregate"), plan) // *(n) = whole-stage codegen stage
    // partial + final pair: two HashAggregate occurrences minimum
    assert("HashAggregate".r.findAllIn(plan).size >= 2, plan)
  }

  test("similarity expression participates in whole-stage codegen") {
    val plan = physical(run("q_similarity_topk"))
    assert(plan.contains("cosine_sim"), plan)
    assert(plan.contains("*("), plan) // inside a codegen stage
  }

  test("broadcast Bloom probe participates in whole-stage codegen, map-only") {
    // the batch shape of the stream probe: gram build + BloomBcAnyHit in
    // one projection — must compile into a codegen stage (one virtual call
    // per row) with no join or exchange introduced by the probe itself
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val (_, probe) = queries.PipelineQueries.streamBloomGate(spark, sfDir)
    val df = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(pmod($"doc_id", lit(31)) =!= 0)
      .select($"doc_id", split($"text", " ").as("tok"))
      .filter(size($"tok") >= 5)
      .withColumn("grams", expr(queries.Q.grams5Sql))
      .select($"doc_id", probe($"grams").as("hit"))
    val plan = physical(df)
    assert(plan.contains("bloom_bc_any_hit"), plan)
    assert(plan.contains("*("), plan) // inside a codegen stage
    assert(!plan.contains("Exchange") && !plan.contains("Join"),
      s"probe must stay map-only:\n$plan")
  }

  test("q_similarity_ann_ivf assigns cells map-side and joins cells by broadcast") {
    // the returned frame is the materialized top-k checkpoint (the
    // materialize-then-unpersist cache-hygiene pattern), so gate the
    // checkpoint-materialization execution, which carries the real plan
    val all = executedPlansOf("q_similarity_ann_ivf")
    val main = all.filter(_._1 == "localCheckpoint").map(_._2.toString)
    assert(main.nonEmpty, s"expected a localCheckpoint execution; saw ${all.map(_._1)}")
    val plan = main.maxBy(_.length)
    // candidate×probe matching is an equi-join on cell id, never all-pairs
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"), plan)
    // centroid assignment is literal-baked cosine argmin (no shuffle before the join):
    // exactly the exchanges for the probe broadcast + final top-k window remain
    assert(plan.contains("cosine_sim"), plan)
  }

  test("partitionBy layout prunes partitions at the scan, not per-row") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_part").toString
    graft.tables.Tables.events(spark, sfDir)
      .withColumn("event_date", to_date(col("ts")))
      .write.mode("overwrite").partitionBy("event_date").parquet(dir)
    val full = spark.read.parquet(dir)
    val oneDay = full.select(max(col("event_date"))).collect()(0).getDate(0)
    val pruned = full.filter(col("event_date") === lit(oneDay))
    val plan = physical(pruned)
    // the date predicate resolves against the directory layout (metadata),
    // never against row contents — the 100 TB time-travel access path
    assert(plan.contains("PartitionFilters:") && plan.contains("event_date"), plan)
    val scan = pruned.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.get
    assert(scan.metrics("numFiles").value < full.inputFiles.length,
      s"pruned scan read ${scan.metrics("numFiles").value}/${full.inputFiles.length} files")
  }

  test("runtime bloom filter from a selective dim prunes the fact side pre-shuffle") {
    import org.apache.spark.sql.functions._
    val conf = spark.conf
    val keys = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold")
    val saved = keys.map(k => k -> conf.getOption(k)).toMap
    try {
      // force the shuffle-join shape (at 100 TB part outgrows broadcast) and
      // drop the size thresholds so sf0.001 exercises the rewrite
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
      val l = graft.tables.Tables.lineitem(spark, sfDir)
      val p = graft.tables.Tables.part(spark, sfDir).filter(col("p_size") === 1)
      val joined = l.join(p, col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey"), col("p_name"))
      val plan = physical(joined)
      // the selective dim side seeds a bloom filter that is applied at the
      // fact scan BEFORE the join shuffle: rows that cannot match never
      // leave the mapper — the runtime analogue of static pushdown
      assert(plan.contains("might_contain"), plan)
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None)    => conf.unset(k)
    }
  }

  test("dynamic partition pruning drops fact partitions from the dim filter at runtime") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_dpp").toString
    graft.tables.Tables.events(spark, sfDir)
      .write.mode("overwrite").partitionBy("event_type").parquet(dir)
    val fact = spark.read.parquet(dir)
    // the dim must be a real scan: a LocalRelation constant-folds its filter
    // away and the pruning rule no longer sees a selective predicate
    val dimDir = java.nio.file.Files.createTempDirectory("graft_dpp_dim").toString
    spark.createDataFrame(Seq(("purchase", 1L), ("view", 2L)))
      .toDF("event_type", "flag")
      .write.mode("overwrite").parquet(dimDir)
    val dim = spark.read.parquet(dimDir).filter(col("flag") === 1L)
    val joined = fact.join(dim, Seq("event_type"))
      .select(col("event_id"), col("flag"))
    val plan = physical(joined)
    // the partition filter is a dynamicpruning subquery fed by the dim side:
    // only matching partitions of the fact layout are listed/read
    assert(plan.toLowerCase.contains("dynamicpruning"), plan)
  }

  test("no declared query plans a cartesian product; NLJ only where intended") {
    // q_similarity_topk is the deliberate brute-force exact baseline: its
    // non-equi (q_id <> c_id) broadcast join IS the operator; the recall
    // evaluations re-run that exact arm to measure an approximate index
    // against it (the LSH arm and the composed IVF×int8 arm each have
    // one). Everything else must key its joins — including the SemDeDup
    // broadcast tier, whose assignment is now the map-side
    // IvfNearestCellBc kernel (no crossJoin at any K; the former
    // broadcast-join mechanism's NLJ allowance is gone).
    val allowNlj = Set("q_similarity_topk", "q_similarity_recall",
      "q_similarity_ivf_quantized_recall")
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try {
        val plan = fn(spark, sfDir).queryExecution.executedPlan.toString
        val cartesian = plan.contains("CartesianProduct")
        val nlj = plan.contains("BroadcastNestedLoopJoin") && !allowNlj(name)
        if (cartesian || nlj) Some(s"$name: cartesian=$cartesian nlj=$nlj") else None
      } catch { case e: Throwable => Some(s"$name: plan failed: ${e.getMessage}") }
      finally spark.catalog.clearCache() // drop each query's persisted intermediates
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("ingest fingerprint store: bucketed-by-fp scan anti-joins with zero store-side Exchange") {
    // The q_stream_ingest_dedup store contract at 100 TB: the per-batch
    // anti-join must co-locate on the STORE side — the store is written
    // bucketed by fp (partitioned by writer batch), so only the incoming
    // shard shuffles, never the accumulated store. Gate reproduces the
    // store layout (two appends → multiple files per bucket, exactly the
    // state a real ingest run leaves) and asserts the executed anti-join
    // carries exactly ONE Exchange — the probe side's.
    import org.apache.spark.sql.functions._
    val conf = spark.conf
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> conf.getOption(k)).toMap
    val tbl = "graft_fp_store_gate"
    try {
      // at real scale neither side broadcasts — force the shuffle shape
      keys.foreach(conf.set(_, "-1"))
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      (0 to 1).foreach { b =>
        spark.range(b * 500, b * 500 + 500)
          .select(md5(col("id").cast("string")).as("fp"),
            lit(b.toLong).as("batch"))
          .write.partitionBy("batch").bucketBy(4, "fp").sortBy("fp")
          .mode("append").format("parquet").saveAsTable(tbl)
      }
      val probe = spark.range(0, 200)
        .select(md5((col("id") * 3).cast("string")).as("fp"))
      val store = spark.table(tbl).where(col("batch") < 2L).select(col("fp"))
      val fresh = probe.join(store, Seq("fp"), "left_anti")
      val plan = finalSection(physical(fresh))
      assert(plan.contains("LeftAnti"), plan)
      val exchanges = "Exchange".r.findAllIn(plan.replace("ReusedExchange", "")).size
      assert(exchanges == 1,
        s"expected exactly the probe-side exchange (store co-located by bucketing):\n$plan")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      saved.foreach { case (k, Some(v)) => conf.set(k, v)
                      case (k, None)    => conf.unset(k) }
    }
  }

  test("assignCell assignment is pure map-side: no join, no aggregate, no exchange") {
    // The flat-quantizer contract: the centroid matrix rides a
    // broadcast VARIABLE inside one IvfNearestCellBc expression, so the
    // whole assignment is a Project over the vector scan — zero joins,
    // zero aggregates, zero shuffles at any K. (The former broadcast-JOIN
    // mechanism paid an NLJ + packed-argmin HashAggregate + re-attach join
    // per assignment; a refactor reintroducing any of those shows up here.)
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val e = spark.range(0, 512)
      .select(col("id").as("vec_id"),
        expr("transform(sequence(0, 7), j -> CAST(sin(id * 8 + j) AS DOUBLE))").as("v"))
    val cents: Seq[(Long, Seq[Double])] = (0L until 32L).map(c =>
      c -> (0 until 8).map(j => math.sin(c * 131 + j)))
    val out = e.withColumn("cell",
      graft.operators.IvfKMeans.assignCell(spark, cents, $"v"))
    val plan = finalSection(physical(out))
    assert(plan.contains("ivf_nearest_cell_bc"), plan)
    Seq("Join", "Aggregate", "Exchange").foreach(op =>
      assert(!plan.contains(op), s"assignment must be map-only, found $op:\n$plan"))
  }

  test("the sketch keys probe through their broadcast-variable kernels, with no word-index join") {
    // One kernel per sketch at every size: the Bloom keys (batch and
    // stream) test grams with BloomBcAnyHit, the flat IVF key assigns
    // cells with IvfNearestCellBc. The only joins allowed are the keys'
    // own: the batch Bloom key's exact-hit arm on the gram, the IVF key's
    // candidate join on the cell — never a join on a bitmap word index.
    import org.apache.spark.sql.execution.SparkPlanInfo
    def nodes(p: SparkPlanInfo): Seq[SparkPlanInfo] = p +: p.children.flatMap(nodes)
    val JoinKey = """^\w*Join \[(\w+)#""".r.unanchored
    Seq(
      ("q_decontaminate_bloom", "bloom_bc_any_hit(", Set("g")),
      ("q_stream_decontaminate", "bloom_bc_any_hit(", Set.empty[String]),
      ("q_similarity_ann_ivf", "ivf_nearest_cell_bc(", Set("cell"))
    ).foreach { case (key, kernel, joinKeys) =>
      val plans = planInfosOf(key)
      assert(plans.exists(p => nodes(p).exists(_.simpleString.contains(kernel))),
        s"$key: no execution carries $kernel")
      val joins = plans.flatMap(nodes).filter(_.nodeName.endsWith("Join")).map(_.simpleString)
      val keyed = joins.map {
        case JoinKey(k) => k
        case other => other
      }
      assert(keyed.forall(joinKeys), s"$key plans a join outside ${joinKeys.mkString(",")}: $joins")
    }
  }

  test("hierarchical stage 2 feeds its kernel through one ccell exchange") {
    // The hierarchical stage-2 contract: the coarse-assigned vectors cross
    // the wire ONCE, hash-partitioned by ccell and sorted, straight into
    // the per-coarse-cell kernel — never a nested-loop or cartesian pairing
    // of vectors and sub-centroids — and the only broadcast is stage 1's
    // coarse centroid matrix (coarseK rows, ≈ √K), never a table that
    // grows with the number of sub-cells. This is what removes the
    // broadcast ceiling.
    import org.apache.spark.sql.execution.{SparkPlan, MapPartitionsExec}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.functions._
    val e = spark.range(0, 2048)
      .select(col("id").as("vec_id"),
        expr("transform(sequence(0, 7), j -> CAST(sin(id * 8 + j) AS DOUBLE))").as("v"))
    val out = graft.operators.IvfKMeans.trainAssignHierarchical(spark, e, coarseK = 3, iters = 2)
    val nSub = out.select("cid").distinct().count()
    assert(nSub > 3, s"expected more sub-cells than coarse cells, got $nSub")
    out.collect()
    val exec = out.queryExecution.executedPlan
    val plan = finalSection(exec.toString)
    val shuffles = outerShuffles(exec)
    assert(shuffles.size == 1 && shuffles.head.startsWith("hashpartitioning(ccell"),
      s"exactly one exchange, keyed on ccell:\n$plan")
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => q +: nodes(q.plan)
      case other => other +: other.children.flatMap(nodes)
    }
    // below the kernel, only the sort, the row deserializer and AQE's
    // shuffle read (and codegen wrappers) stand between it and the exchange
    val kernel = nodes(exec).collectFirst { case m: MapPartitionsExec => m }
      .getOrElse(fail(s"no MapPartitions kernel:\n$plan"))
    val below = nodes(kernel.child).takeWhile(n => !n.isInstanceOf[ShuffleExchangeLike])
    assert(below.forall(n => Seq("Sort", "DeserializeToObject", "AQEShuffleRead", "ShuffleQueryStage",
      "WholeStageCodegen", "InputAdapter").exists(n.nodeName.startsWith)), s"${below.map(_.nodeName)}:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastExchange"), s"no broadcast join side:\n$plan")
    val bcCents = nodes(exec).flatMap(_.expressions.flatMap(_.collect {
      case b: graft.functions.IvfNearestCellBc => b.bc.value._1.length }))
    assert(bcCents == Seq(3), s"the only broadcast variable is the 3 coarse centroids: $bcCents")
  }

  test("q_join_theta_range keeps the equi key as the join key (range as post-filter)") {
    val plan = physical(run("q_join_theta_range"))
    // joined on user_id (hash-partitionable); the ts band must not force NLJ
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  // --- tree-based shuffle census helpers (for queries whose interesting ---
  // --- plan runs behind a persist/localCheckpoint, invisible on the     ---
  // --- returned DataFrame; text-grepping the plan string over-counts    ---
  // --- because InMemoryTableScan re-renders its cached plan per site)   ---

  /** Partitionings of every shuffle in the plan TREE (AQE stages unwrapped;
    * cached relations are leaves — their shuffles are counted separately by
    * [[cachedRelations]] because they execute once at materialization). */
  private def outerShuffles(plan: org.apache.spark.sql.execution.SparkPlan): Seq[String] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val out = scala.collection.mutable.ArrayBuffer[String]()
    def walk(p: org.apache.spark.sql.execution.SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case s: ShuffleExchangeLike =>
        out += s.outputPartitioning.toString; s.children.foreach(walk)
      case other => other.children.foreach(walk)
    }
    walk(plan)
    out.toSeq
  }

  /** Distinct cached relations referenced by the plan: (scan-site count,
    * materialization-plan shuffles) per relation. */
  private def cachedRelations(
      plan: org.apache.spark.sql.execution.SparkPlan): Seq[(Int, Seq[String])] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val sites = scala.collection.mutable.ArrayBuffer[(Int, org.apache.spark.sql.execution.SparkPlan)]()
    def walk(p: org.apache.spark.sql.execution.SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case s: InMemoryTableScanExec =>
        sites += ((System.identityHashCode(s.relation.cacheBuilder), s.relation.cachedPlan))
      case other => other.children.foreach(walk)
    }
    walk(plan)
    sites.groupBy(_._1).values.map(g => (g.size, outerShuffles(g.head._2))).toSeq
  }

  /** Runs `name` and returns every QueryExecution plan it triggers (persist
    * materializations, localCheckpoint, the final collect) via a listener —
    * delivery is async, so poll until the captured set is quiescent. */
  private def executedPlansOf(name: String): Seq[(String, org.apache.spark.sql.execution.SparkPlan)] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[(String, org.apache.spark.sql.execution.SparkPlan)]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add((funcName, qe.executedPlan))
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      run(name).collect()
      var last = -1
      var same = 0
      var waited = 0
      while (same < 6 && waited < 15000) {
        Thread.sleep(250); waited += 250
        val n = plans.size()
        if (n == last) same += 1 else { same = 0; last = n }
      }
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    plans.asScala.toSeq
  }

  /** The plan of every SQL execution `name` starts (streaming micro-batches
    * included), as posted to the listener bus: the initial plan and each
    * adaptive re-plan. */
  private def planInfosOf(name: String): Seq[org.apache.spark.sql.execution.SparkPlanInfo] = {
    import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.execution.SparkPlanInfo]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(event: org.apache.spark.scheduler.SparkListenerEvent): Unit = event match {
        case e: SparkListenerSQLExecutionStart => plans.add(e.sparkPlanInfo)
        case e: SparkListenerSQLAdaptiveExecutionUpdate => plans.add(e.sparkPlanInfo)
        case _ => ()
      }
    }
    val sc = spark.sparkContext
    org.apache.spark.ListenerBusAccess.drain(sc)
    sc.addSparkListener(listener)
    try {
      run(name).collect()
      org.apache.spark.ListenerBusAccess.drain(sc)
    } finally sc.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    plans.asScala.toSeq
  }

  test("q_dedup_containment exchanges the exploded gram table on h exactly once, reused by every h consumer") {
    // The round-11 window-count attach claims: df joins the exploded table
    // via ONE h-exchange (the window's, inside the cached exdf relation),
    // and the rare-band self-join + heavy-anchor probe REUSE that
    // partitioning — no h-shuffle anywhere in the outer plan. Gate it on
    // the executed tree, not the commit message.
    val all = executedPlansOf("q_dedup_containment")
    val main = all.filter(_._1 == "localCheckpoint").map(_._2)
    assert(main.nonEmpty, s"expected a localCheckpoint execution; saw ${all.map(_._1)}")
    val plan = main.maxBy(p => outerShuffles(p).size + cachedRelations(p).size)
    val outer = outerShuffles(plan)
    assert(!outer.exists(_.contains("hashpartitioning(h#")),
      s"h must not re-shuffle in the outer plan (cached partitioning reuse lost):\n${outer.mkString("\n")}")
    val cached = cachedRelations(plan)
    val hRelations = cached.filter(_._2.exists(_.contains("hashpartitioning(h#")))
    assert(hRelations.size == 1,
      s"exactly one cached relation (exdf) should carry the h-exchange; census: $cached")
    val (scanSites, shuffles) = hRelations.head
    assert(shuffles.count(_.contains("hashpartitioning(h#")) == 1,
      s"exdf must materialize with ONE h-exchange (the window's): $shuffles")
    assert(scanSites >= 2,
      s"the h-partitioned cache must be read by at least the self-join's two arms (saw $scanSites sites)")
  }

  test("q_corpus_curate pays exactly two fingerprint shuffles; the gram probe never shuffles") {
    // The flagship funnel's scale claim: the two dedup keep-first decisions
    // are window-mins over ONE fp_exact and ONE fp_fuzzy exchange (the same
    // two shuffles the standalone dedups pay), and decontamination is a
    // broadcast-needle probe — the survivors' exploded grams NEVER hash-
    // partition by g. Gate it on the executed trees (outer + cached-
    // materialization shuffles together; split/audit shuffles key on other
    // columns and are scale-dependent, so only the fp/g census is pinned).
    val all = executedPlansOf("q_corpus_curate")
    val main = all.filter(_._1 == "localCheckpoint").map(_._2)
    assert(main.nonEmpty, s"expected a localCheckpoint execution; saw ${all.map(_._1)}")
    val plan = main.maxBy(p => outerShuffles(p).size + cachedRelations(p).size)
    val shuffles = outerShuffles(plan) ++ cachedRelations(plan).flatMap(_._2)
    def countOn(col: String) = shuffles.count(_.contains(s"hashpartitioning($col#"))
    assert(countOn("fp_exact") == 1,
      s"exactly one fp_exact window exchange expected:\n${shuffles.mkString("\n")}")
    assert(countOn("fp_fuzzy") == 1,
      s"exactly one fp_fuzzy window exchange expected:\n${shuffles.mkString("\n")}")
    assert(countOn("g") == 0,
      s"the gram probe must stay broadcast (no g-shuffle):\n${shuffles.mkString("\n")}")
  }

  test("q_decontaminate_semantic is map-only: fused needle probe, no join, no aggregate, one sort exchange") {
    // The scale contract: the needle matrix rides a broadcast VARIABLE
    // inside one fused expression, so the corpus × needles pair stream
    // never exists as rows — no join operator of any kind, no aggregate,
    // and the only exchange is the output sort's rangepartitioning. (The
    // first cut was a broadcast NLJ + packed-long HashAggregate: row-
    // identical but 10× slower at sf4 — this gate keeps the fused shape
    // from silently regressing to it.)
    val plan = finalSection(physical(run("q_decontaminate_semantic")))
    assert(!plan.contains("Join"), s"no join operator expected:\n$plan")
    assert(!plan.contains("Aggregate"), s"no aggregate expected:\n$plan")
    val exchanges = "Exchange".r.findAllIn(plan.replace("ReusedExchange", "")).size
    assert(exchanges <= 2,
      s"only the parallelizing repartition + the output sort expected:\n$plan")
    assert(plan.contains("REPARTITION_BY_COL") && plan.contains("rangepartitioning"),
      s"expected the scan-parallelizing repartition and the output sort:\n$plan")
  }

  test("q_decontaminate_semantic_ivf probes needles via a shuffled-hash cell equi-join: no NLJ, no needle broadcast, hash-agg argmax") {
    // The past-broadcast tier's scale contract: the corpus meets ONLY its
    // probed cells' needles through a cell equi-join whose needle side is
    // explicitly NOT broadcast (broadcast is the exact tier's mechanism;
    // this tier exists for needle sets past it), the pair stream never
    // materializes as an NLJ/cartesian product, and the packed-long argmax
    // partial-aggregates in HashAggregate (a struct-ordered min would fall
    // back to SortAggregate and sort the pair stream — the 76 GB spill
    // lesson from the former hierarchical sub-cell join).
    val plan = finalSection(physical(run("q_decontaminate_semantic_ivf")))
    assert(plan.contains("ShuffledHashJoin"),
      s"the cell equi-join must be a shuffled hash join:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"the corpus x needles pair stream must never NLJ:\n$plan")
    assert(!plan.contains("BroadcastHashJoin"),
      s"the needle side must not broadcast (that is the exact tier):\n$plan")
    assert(plan.contains("HashAggregate") && !plan.contains("SortAggregate"),
      s"the packed argmax must hash-aggregate (map-side partials):\n$plan")
  }

  test("q_decontaminate_semantic_ivf_adaptive keeps the same scale shape at the policy width") {
    // The adaptive probe-width policy changes only how many cells explode
    // per corpus vector — the physical contract of the tier (cell
    // equi-join via ShuffledHashJoin, no NLJ/cartesian, no needle
    // broadcast, hash-aggregated packed argmax) must be identical to the
    // pinned-width key's.
    val plan = finalSection(physical(run("q_decontaminate_semantic_ivf_adaptive")))
    assert(plan.contains("ShuffledHashJoin"),
      s"the cell equi-join must be a shuffled hash join:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"the corpus x needles pair stream must never NLJ:\n$plan")
    assert(!plan.contains("BroadcastHashJoin"),
      s"the needle side must not broadcast (that is the exact tier):\n$plan")
    assert(plan.contains("HashAggregate") && !plan.contains("SortAggregate"),
      s"the packed argmax must hash-aggregate (map-side partials):\n$plan")
  }

  test("q_dedup_image_phash_near bands are an equi-join over distinct-hash reps: no all-pairs, no broadcast-by-accident NLJ") {
    // The near tier's 100 TB story: banding over distinct-hash canonical
    // representatives (the exact tier collapses first), candidates from a
    // (band, value) EQUI-join — never a cartesian Hamming scan over the
    // rep set. Gate the UNMATERIALIZED pair plan: the shipped key
    // checkpoints the pair list (shared with q_dedup_image_clusters),
    // which truncates the visible plan to an ExistingRDD scan.
    val plan = physical(graft.queries.PipelineQueries
      .imagePhashNearPairs(spark, sfDir, materialize = false))
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"the candidate stage must be an equi-join, not all-pairs:\n$plan")
    assert(plan.contains("Join"), s"expected the banded self-join:\n$plan")
    // the PRODUCTION 8×8-band d≤7 tier (round 17) keeps the identical
    // shape — only the band slicing and the verify threshold change
    val planB8 = physical(graft.queries.PipelineQueries
      .imagePhashNearPairs(spark, sfDir, materialize = false, nBands = 8, maxDist = 7))
    assert(!planB8.contains("BroadcastNestedLoopJoin") && !planB8.contains("CartesianProduct"),
      s"the b8 candidate stage must be an equi-join, not all-pairs:\n$planB8")
    assert(planB8.contains("Join"), s"expected the b8 banded self-join:\n$planB8")
  }

  test("q_similarity_quantized: bucket equi-join candidates, literal-stats map-side quantize, no NLJ") {
    // The int8 tier's scale contract: candidates come from the LSH bucket
    // EQUI-join (broadcast query side — 10 rows), never an all-pairs
    // product, and the quantize itself is map-side (the 64-row stats table
    // is baked as plan literals at build time — no stats join in the plan).
    // the shipped key checkpoints its 30-row result (cache hygiene), which
    // truncates the visible plan — gate the unmaterialized ranking plan
    val plan = finalSection(physical(graft.queries.PipelineQueries.quantizedTop3(
      spark, graft.queries.PipelineQueries.quantizedLshBase(spark, sfDir))))
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"the candidate stage must be the bucket equi-join, not all-pairs:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"the 10-query side must broadcast onto the bucketed corpus:\n$plan")
  }

  test("q_bpe_apply's corpus pass is one map-side broadcast join — no corpus shuffle below the per-doc aggregate") {
    // The tokenizer-apply scale contract: merges replay on the DISTINCT-
    // word table only (driver loop over checkpointed vocab — absent from
    // this plan), and the corpus pass is map-only — explode, the
    // word→tokenization map joined as a BROADCAST hash join (the map is
    // the tokenizer artifact, MBs where the corpus is TBs), and the
    // per-doc aggregate completing map-side under partial aggregation.
    // The only hash exchange may carry ONE aggregated row per doc; a
    // SortMergeJoin/ShuffledHashJoin here would shuffle the exploded
    // token stream — the 100 TB killer this gate exists to catch.
    val plan = finalSection(physical(run("q_bpe_apply")))
    assert(plan.contains("BroadcastHashJoin"),
      s"the word map must broadcast onto the corpus:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"the corpus-side join must not shuffle the token stream:\n$plan")
    assert(!plan.contains("SortAggregate"),
      s"the per-doc aggregate must partial-aggregate map-side:\n$plan")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashEx == 1,
      s"expected exactly the one-row-per-doc result exchange, saw $hashEx:\n$plan")
  }

  test("q_bpe_apply_shuffle: the past-broadcast arm hash-shuffles on word — never sorts the token stream") {
    // The degrade contract of the size-gated vocab-join policy: when the
    // tokenizer artifact outgrows the broadcast cap, the corpus pass pays
    // exactly the two join-key exchanges plus the per-doc result exchange
    // — a ShuffledHashJoin with the vocab as the per-partition build side.
    // A SortMergeJoin here would SORT the exploded token stream (far more
    // data movement than hashing it); a BroadcastHashJoin would mean the
    // forced arm silently took the path it exists to avoid.
    val plan = finalSection(physical(run("q_bpe_apply_shuffle")))
    assert(plan.contains("ShuffledHashJoin"),
      s"the vocab map must shuffle-hash join on word past the cap:\n$plan")
    assert(!plan.contains("BroadcastHashJoin"),
      s"the forced arm must not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"the token stream must be hashed, never sorted:\n$plan")
    assert(!plan.contains("SortAggregate"),
      s"the per-doc aggregate must still partial-aggregate:\n$plan")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashEx == 3,
      s"expected the two join-side exchanges + the per-doc result exchange, saw $hashEx:\n$plan")
  }

  test("q_dedup_lsh_recall's truth and measured arms share ONE persisted shingle pass") {
    // The recall gate's cost story: shingle hashing (the data-proportional
    // floor) runs once, cached, and feeds the PPJoin truth arm (exploded df
    // pass + two verification-join reads) AND the minhash measured arm. A
    // second shingle computation would double the dominant stage silently —
    // pin the structure: exactly one cached relation, materialized off the
    // parallelizing doc_id repartition, read from >= 4 scan sites.
    val all = executedPlansOf("q_dedup_lsh_recall")
    val main = all.filter(_._1 == "localCheckpoint").map(_._2)
    assert(main.nonEmpty, s"expected a localCheckpoint execution; saw ${all.map(_._1)}")
    val plan = main.maxBy(p => outerShuffles(p).size + cachedRelations(p).size)
    val cached = cachedRelations(plan)
    assert(cached.size == 1,
      s"exactly one cached relation (the shingle pass) expected; census: ${cached.map(_._1)}")
    val (sites, shuffles) = cached.head
    assert(sites >= 4,
      s"the shingle cache must feed both arms (ex, sig, two verify-join reads) — saw $sites sites")
    assert(shuffles.exists(_.contains("hashpartitioning(doc_id#")),
      s"shingle hashing must parallelize off the doc_id repartition: $shuffles")
  }

  test("the round-13 real-codec keys are map-only: no exchange below the final sort") {
    // encode+decode (jpeg), container parse (mp4), and the full
    // decode->resize->re-encode->re-decode cycle must all stay map-side —
    // the only exchange is the rangepartitioning for the output orderBy,
    // and there must be no join or aggregate anywhere
    // q_multimodal_video_frames (round 17): container walk + per-frame
    // JPEG decode is a flatMap fan-out — same map-only contract
    for (key <- Seq("q_multimodal_jpeg", "q_multimodal_mp4", "q_multimodal_resize",
        "q_multimodal_video_frames")) {
      val plan = finalSection(physical(run(key)))
      val exchanges = "Exchange".r.findAllIn(plan.replace("ReusedExchange", "")).size
      assert(exchanges <= 1, s"$key: expected at most the final-sort exchange:\n$plan")
      for (op <- Seq("Join", "HashAggregate", "SortAggregate"))
        assert(!plan.contains(op), s"$key must not contain $op:\n$plan")
    }
  }
}
