package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.tables.Tables._
import Q._

/** Relational operator inventory (SURVEY.md §2B): scans, joins, aggregations,
  * grouping sets, windows, sort/limit, set ops, scalar function families.
  *
  * Scale notes per query are in the Scaladoc of each entry; the general rules:
  * filters/projections are written so Catalyst pushes them into the parquet
  * scan, dimension joins use explicit `broadcast`, every aggregate is
  * partial-aggregatable (map-side combine), and every query ends in an
  * `orderBy` on a unique key only to make driver hash-comparison
  * deterministic (a tiny final sort over already-reduced output).
  */
object RelationalQueries {

  val entries: Map[String, QueryDef] = Map(
    // ---------------------------------------------------------- scans
    "q_scan_project_filter" -> QueryDef(
      (s, d) => {
        import s.implicits._
        lineitem(s, d)
          .select($"l_orderkey", $"l_linenumber", $"l_quantity", $"l_extendedprice", $"l_returnflag")
          .filter($"l_quantity" > 30 && $"l_returnflag" === "R")
          .select($"l_orderkey", $"l_linenumber", $"l_quantity", $"l_extendedprice")
          // ORDER BY the full projected row: (l_orderkey, l_linenumber) is
          // NOT a key of this corpus (dup pairs exist at every sf), and a
          // non-total dump order is engine-nondeterministic — invisible at
          // oracle scale, caught by the sf1 sweep
          .orderBy($"l_orderkey", $"l_linenumber", $"l_quantity", $"l_extendedprice")
      },
      Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
             |FROM lineitem WHERE l_quantity > 30 AND l_returnflag = 'R'
             |ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice""".stripMargin)
    ),

    "q_pred_pushdown_scan" -> QueryDef(
      (s, d) => {
        import s.implicits._
        orders(s, d)
          .filter($"o_orderdate" >= lit("1998-01-01").cast("timestamp") &&
            $"o_orderdate" < lit("1999-01-01").cast("timestamp"))
          .select($"o_orderkey", $"o_custkey", $"o_totalprice", $"o_orderdate")
          .orderBy($"o_orderkey")
      },
      Some("""SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
             |FROM orders
             |WHERE o_orderdate >= TIMESTAMP '1998-01-01' AND o_orderdate < TIMESTAMP '1999-01-01'
             |ORDER BY o_orderkey""".stripMargin)
    ),

    // ---------------------------------------------------------- joins
    "q_join_inner_hash" -> QueryDef(
      (s, d) => {
        import s.implicits._
        val o = orders(s, d)
        val c = customer(s, d)
        // customer is ~1% of orders: Catalyst broadcasts under AQE; shuffle-hash
        // on o_custkey at 100 TB when customer outgrows the broadcast threshold.
        o.join(c, o("o_custkey") === c("c_custkey"), "inner")
          .select($"o_orderkey", $"c_name", $"o_totalprice")
          .orderBy($"o_orderkey")
      },
      Some("""SELECT o_orderkey, c_name, o_totalprice
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |ORDER BY o_orderkey""".stripMargin)
    ),

    "q_join_broadcast" -> QueryDef(
      (s, d) => {
        import s.implicits._
        lineitem(s, d)
          .join(broadcast(part(s, d)), $"l_partkey" === $"p_partkey")
          .select($"l_orderkey", $"l_linenumber", $"p_brand", $"p_retailprice")
          // full-row ORDER BY: dup (l_orderkey, l_linenumber) pairs exist,
          // see q_scan_project_filter
          .orderBy($"l_orderkey", $"l_linenumber", $"p_brand", $"p_retailprice")
      },
      Some("""SELECT l_orderkey, l_linenumber, p_brand, p_retailprice
             |FROM lineitem JOIN part ON l_partkey = p_partkey
             |ORDER BY l_orderkey, l_linenumber, p_brand, p_retailprice""".stripMargin)
    ),

    "q_join_multiway" -> QueryDef(
      // TPC-H Q5 shape: dims broadcast, facts shuffle once on the join key.
      (s, d) => {
        import s.implicits._
        val r = broadcast(region(s, d).filter($"r_name" === "ASIA"))
        val n = broadcast(nation(s, d))
        val c = customer(s, d)
        val o = orders(s, d)
        val l = lineitem(s, d)
        l.join(o, $"l_orderkey" === $"o_orderkey")
          .join(c, $"o_custkey" === $"c_custkey")
          .join(n, $"c_nationkey" === $"n_nationkey")
          .join(r, $"n_regionkey" === $"r_regionkey")
          .groupBy($"n_name")
          .agg(
            sum(dec($"l_extendedprice") * (lit(1) - dec($"l_discount", 4, 2)))
              .cast("double").as("revenue"),
            count(lit(1)).as("n_items"))
          .orderBy($"n_name")
      },
      Some("""SELECT n_name,
             |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
             |  COUNT(*) AS n_items
             |FROM lineitem
             |  JOIN orders ON l_orderkey = o_orderkey
             |  JOIN customer ON o_custkey = c_custkey
             |  JOIN nation ON c_nationkey = n_nationkey
             |  JOIN region ON n_regionkey = r_regionkey
             |WHERE r_name = 'ASIA'
             |GROUP BY n_name ORDER BY n_name""".stripMargin)
    ),

    "q_join_left_outer" -> QueryDef(
      (s, d) => {
        import s.implicits._
        val c = customer(s, d)
        val o = orders(s, d)
        c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
          .groupBy($"c_custkey")
          .agg(
            count($"o_orderkey").as("n_orders"),
            coalesce(sum(dec($"o_totalprice")), lit(0).cast("decimal(12,2)"))
              .cast("double").as("total_spend"))
          .orderBy($"c_custkey")
      },
      Some("""SELECT c_custkey, COUNT(o_orderkey) AS n_orders,
             |  CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(12,2))), 0) AS DOUBLE) AS total_spend
             |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
             |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin)
    ),

    "q_join_full_outer" -> QueryDef(
      // FULL OUTER over two pre-aggregated daily series: days with only
      // signups and days with only purchases both survive with zero-filled
      // counterparts. Aggregate-then-join keeps the outer join on the tiny
      // per-day frames, never on raw events.
      (s, d) => {
        import s.implicits._
        val ev = events(s, d)
        val su = ev.filter($"event_type" === "signup")
          .groupBy(to_date($"ts").as("day")).agg(count(lit(1)).as("n_signups"))
        val pu = ev.filter($"event_type" === "purchase")
          .groupBy(to_date($"ts").as("day")).agg(count(lit(1)).as("n_purchases"))
        su.join(pu, Seq("day"), "full_outer")
          .select($"day",
            coalesce($"n_signups", lit(0L)).as("n_signups"),
            coalesce($"n_purchases", lit(0L)).as("n_purchases"))
          .orderBy($"day")
      },
      Some("""WITH su AS (
             |  SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n_signups FROM events
             |  WHERE event_type = 'signup' GROUP BY 1),
             |pu AS (
             |  SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n_purchases FROM events
             |  WHERE event_type = 'purchase' GROUP BY 1)
             |SELECT day, COALESCE(n_signups, 0) AS n_signups,
             |  COALESCE(n_purchases, 0) AS n_purchases
             |FROM su FULL JOIN pu USING (day)
             |ORDER BY day""".stripMargin)
    ),

    "q_join_semi" -> QueryDef(
      (s, d) => {
        import s.implicits._
        customer(s, d)
          .join(orders(s, d).filter($"o_orderpriority" === "1-URGENT"),
            $"c_custkey" === $"o_custkey", "left_semi")
          .select($"c_custkey", $"c_name")
          .orderBy($"c_custkey")
      },
      Some("""SELECT c_custkey, c_name FROM customer c
             |WHERE EXISTS (SELECT 1 FROM orders o
             |  WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
             |ORDER BY c_custkey""".stripMargin)
    ),

    "q_join_anti" -> QueryDef(
      (s, d) => {
        import s.implicits._
        customer(s, d)
          .join(orders(s, d), $"c_custkey" === $"o_custkey", "left_anti")
          .select($"c_custkey", $"c_name")
          .orderBy($"c_custkey")
      },
      Some("""SELECT c_custkey, c_name FROM customer c
             |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
             |ORDER BY c_custkey""".stripMargin)
    ),

    "q_join_salted" -> QueryDef(
      // Skew-safe salted join (graft.operators.ScaleOps): result must be
      // row-identical to the plain equi-join — which is exactly what the
      // oracle states. Resolution ladder, cheapest first: (1) plan-time
      // broadcast short-circuit — orders' optimizer stats are under the
      // broadcast threshold, so the large side never shuffles and skew
      // cannot hurt; saltedJoin returns the plain join with ZERO pre-pass
      // jobs. For genuinely large-large joins: (2) the 2%-sampled eager
      // pre-pass (one column-pruned job) — empty hot set collapses to the
      // plain join; (3) hot keys scatter across 8 salts. All rungs are
      // row-identical (spec + ScalaCheck-proven, including degraded paths).
      // The insurance's PAYOFF is measured against a planted 20%-hot key
      // (round 19, BENCH_SCALING "Planted-skew arm"):
      // at sf4 with broadcast off, salting beats the naked-skew join on
      // both wall (-14%) and max-task (-36%), and beats AQE's skew-join;
      // at sf1 the straggler is too small to repay the pre-pass — exactly
      // the regime the plan-time short-circuit exists for.
      (s, d) => {
        import s.implicits._
        val li = lineitem(s, d).select($"l_orderkey", $"l_extendedprice")
        val ord = orders(s, d).select($"o_orderkey".as("l_orderkey"), $"o_orderpriority")
        graft.operators.ScaleOps.saltedJoin(li, ord, "l_orderkey", saltFactor = 8,
          hotKeyThreshold = 1000L, sampleFraction = 0.02)
          .groupBy($"o_orderpriority")
          .agg(count(lit(1)).as("n_items"), sumMoney($"l_extendedprice").as("revenue"))
          .orderBy($"o_orderpriority")
      },
      Some("""SELECT o_orderpriority, COUNT(*) AS n_items,
             |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
    ),

    "q_join_bucketed" -> QueryDef(
      // Co-located join via bucketed layout (graft.operators.ScaleOps
      // .writeBucketed): both sides land pre-hashed into the same bucket
      // count on the join key, so the join runs with NO Exchange on either
      // side (plan-asserted in ScaleOpsSpec) — the 100 TB answer to repeated
      // fact⋈fact joins on a stable key: pay the shuffle once at layout
      // time, amortize it over every subsequent join. The oracle is the
      // plain equi-join — bucketing is pure layout, never semantics.
      (s, d) => {
        import s.implicits._
        val sfx = d.replaceAll("[^A-Za-z0-9]", "_")
        // Per-process token in the external path: two concurrent JVMs on the
        // same dataset (e.g. Bench and Verify) would otherwise overwrite one
        // shared layout while the other reads it. Layout reuse is only ever
        // per-session anyway (catalog-gated below), so per-process paths
        // lose nothing.
        val base = s"${System.getProperty("java.io.tmpdir")}/graft_bucketed_" +
          s"p${ProcessHandle.current().pid()}$sfx"
        val ot = s"graft_bkt_orders$sfx"
        val ct = s"graft_bkt_customer$sfx"
        // Layout is AMORTIZED state, not per-query work: write the bucketed
        // tables once per (session, sf) and let every later run pay only the
        // co-located join — the 100 TB usage pattern this operator models.
        // (Bucketing metadata lives in the session catalog, so a fresh
        // session rebuilds; the source is read-only testdata, so an
        // existing layout is never stale.)
        if (!s.catalog.tableExists(ot))
          graft.operators.ScaleOps.writeBucketed(
            orders(s, d).select($"o_orderkey", $"o_custkey", $"o_totalprice"),
            ot, "o_custkey", buckets = 8, path = Some(s"$base/$ot"))
        if (!s.catalog.tableExists(ct))
          graft.operators.ScaleOps.writeBucketed(
            customer(s, d).select($"c_custkey", $"c_mktsegment"),
            ct, "c_custkey", buckets = 8, path = Some(s"$base/$ct"))
        val o = s.table(ot)
        val c = s.table(ct)
        o.join(c, o("o_custkey") === c("c_custkey"))
          .groupBy($"c_mktsegment")
          .agg(count(lit(1)).as("n_orders"), sumMoney($"o_totalprice").as("total_price"))
          .orderBy($"c_mktsegment")
      },
      Some("""SELECT c_mktsegment, COUNT(*) AS n_orders,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)
    ),

    "q_join_theta_range" -> QueryDef(
      // Range self-join on a compound (user_id, hour-bucket) key: the probe
      // side replicates 2× into its own bucket and the next (a 1-hour band
      // can only land there), the build side keys by its bucket, and the
      // exact band is a post-join filter. Per-key work is bounded by events
      // in two adjacent hours — a hot user at 100× inflates many small keys
      // instead of one quadratic one, unlike a plain user_id equi-join.
      (s, d) => {
        import s.implicits._
        val ev = events(s, d)
        val bkt = (t: org.apache.spark.sql.Column) => floor(unix_timestamp(t) / 3600L)
        val e1 = ev.select($"user_id", $"ts".as("ts1"), $"event_id".as("id1"))
          .withColumn("bkt", explode(array(bkt($"ts1"), bkt($"ts1") + 1L)))
        val e2 = ev.select($"user_id", $"ts".as("ts2"), $"event_id".as("id2"))
          .withColumn("bkt", bkt($"ts2"))
        // (bkt1, bkt1+1) are distinct buckets, so each qualifying pair
        // matches exactly one probe replica — no post-join dedup needed
        e1.join(e2, Seq("user_id", "bkt"))
          .filter($"ts2" > $"ts1" && $"ts2" <= $"ts1" + expr("INTERVAL 1 HOUR"))
          .groupBy($"user_id")
          .agg(count(lit(1)).as("n_pairs"))
          .orderBy($"user_id")
      },
      Some("""SELECT e1.user_id, COUNT(*) AS n_pairs
             |FROM events e1 JOIN events e2
             |  ON e1.user_id = e2.user_id
             | AND e2.ts > e1.ts AND e2.ts <= e1.ts + INTERVAL 1 HOUR
             |GROUP BY e1.user_id ORDER BY e1.user_id""".stripMargin)
    ),

    "q_join_asof" -> QueryDef(
      // As-of join without a join: union both streams, one window pass carries
      // the latest signup ts forward per user. One shuffle on user_id, no
      // pair explosion — the 100 TB-safe as-of pattern.
      (s, d) => {
        import s.implicits._
        val e = events(s, d).filter($"event_type".isin("purchase", "signup"))
        val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        e.withColumn("signup_ts", when($"event_type" === "signup", $"ts"))
          .withColumn("last_signup_ts", last($"signup_ts", ignoreNulls = true).over(w))
          .filter($"event_type" === "purchase")
          .select($"event_id", $"user_id", $"ts".as("purchase_ts"), $"last_signup_ts")
          .orderBy($"event_id")
      },
      Some("""SELECT e.event_id, e.user_id, e.ts AS purchase_ts,
             |  (SELECT max(s.ts) FROM events s
             |   WHERE s.user_id = e.user_id AND s.event_type = 'signup' AND s.ts <= e.ts) AS last_signup_ts
             |FROM events e WHERE e.event_type = 'purchase'
             |ORDER BY e.event_id""".stripMargin)
    ),

    "q_join_asof_nearest" -> QueryDef(
      // Nearest-neighbor as-of join (pandas merge_asof direction='nearest'):
      // each purchase pairs with the CLOSEST signup in time, either
      // direction, ties to the earlier one. Same no-join shape as
      // q_join_asof (backward-only): union both streams, ONE shuffle on
      // user_id, then two window passes over the SAME sort order (Catalyst
      // runs them in a single Window sort) — last-non-null carries the
      // latest earlier signup forward, first-non-null carries the next
      // later signup backward. No pair explosion; the tie-break and all
      // distance arithmetic are exact µs int64 (no float decides the pick).
      // Direction is intentionally NOT a column: when a signup shares the
      // purchase's exact µs timestamp the two engines attribute the zero-
      // distance match to different sides (row-order vs predicate
      // semantics) while agreeing on the chosen timestamp and distance.
      (s, d) => {
        import s.implicits._
        val e = events(s, d).filter($"event_type".isin("purchase", "signup"))
        val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
        val back = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val fwd = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
        e.withColumn("signup_ts", when($"event_type" === "signup", $"ts"))
          .withColumn("back_ts", last($"signup_ts", ignoreNulls = true).over(back))
          .withColumn("fwd_ts", first($"signup_ts", ignoreNulls = true).over(fwd))
          .filter($"event_type" === "purchase")
          .withColumn("nearest_signup_ts",
            when($"back_ts".isNull, $"fwd_ts")
              .when($"fwd_ts".isNull, $"back_ts")
              .when(unix_micros($"ts") - unix_micros($"back_ts") <=
                unix_micros($"fwd_ts") - unix_micros($"ts"), $"back_ts")
              .otherwise($"fwd_ts"))
          .withColumn("diff_us",
            abs(unix_micros($"nearest_signup_ts") - unix_micros($"ts")))
          .select($"event_id", $"user_id", $"ts".as("purchase_ts"),
            $"nearest_signup_ts", $"diff_us")
          .orderBy($"event_id")
      },
      Some("""WITH p AS (
             |  SELECT e.event_id, e.user_id, e.ts,
             |    (SELECT max(s.ts) FROM events s
             |     WHERE s.user_id = e.user_id AND s.event_type = 'signup'
             |       AND s.ts <= e.ts) AS back_ts,
             |    (SELECT min(s.ts) FROM events s
             |     WHERE s.user_id = e.user_id AND s.event_type = 'signup'
             |       AND s.ts > e.ts) AS fwd_ts
             |  FROM events e WHERE e.event_type = 'purchase'),
             |n AS (
             |  SELECT event_id, user_id, ts,
             |    CASE WHEN back_ts IS NULL THEN fwd_ts
             |         WHEN fwd_ts IS NULL THEN back_ts
             |         WHEN epoch_us(ts) - epoch_us(back_ts)
             |              <= epoch_us(fwd_ts) - epoch_us(ts) THEN back_ts
             |         ELSE fwd_ts END AS nearest_signup_ts
             |  FROM p)
             |SELECT event_id, user_id, ts AS purchase_ts, nearest_signup_ts,
             |  abs(epoch_us(nearest_signup_ts) - epoch_us(ts)) AS diff_us
             |FROM n ORDER BY event_id""".stripMargin)
    ),

    "q_skew_profile" -> QueryDef(
      // Join-key skew diagnostics — the pre-flight a 100 TB join runs
      // before choosing salting/AQE-skew handling: per-key cardinalities
      // collapsed into power-of-two occupancy buckets (floor(log2 n) =
      // length(bin(n))-1, exact integer — no float log), per-bucket key
      // and row counts plus min/max occupancy. Complements q_heavy_hitters
      // (point list of top keys) with the distribution's SHAPE: a long
      // right tail here is the signal that the key needs salting. One
      // partial-aggregated shuffle on the key, then a ≤64-key aggregate.
      (s, d) => {
        import s.implicits._
        events(s, d)
          .groupBy($"user_id").agg(count(lit(1)).as("cnt"))
          .withColumn("bucket", (length(bin($"cnt")) - 1).cast("long"))
          .groupBy($"bucket")
          .agg(
            count(lit(1)).as("n_keys"),
            sum($"cnt").as("n_rows"),
            min($"cnt").as("min_cnt"),
            max($"cnt").as("max_cnt"))
          .orderBy($"bucket")
      },
      Some("""WITH c AS (
             |  SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY user_id),
             |b AS (
             |  SELECT CAST(length(bin(cnt)) - 1 AS BIGINT) AS bucket, cnt FROM c)
             |SELECT bucket, COUNT(*) AS n_keys, CAST(SUM(cnt) AS BIGINT) AS n_rows,
             |  MIN(cnt) AS min_cnt, MAX(cnt) AS max_cnt
             |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin)
    ),

    "q_funnel_conversion" -> QueryDef(
      // Product-analytics funnel: per user, first signup → purchases within
      // the next hour. The signup side collapses to one row per user BEFORE
      // the join (groupBy min — no event×event product), purchases join on
      // user_id and filter to the window. One shuffle each side on user_id;
      // at 100 TB both sides are partial-aggregated ahead of the join.
      (s, d) => {
        import s.implicits._
        val ev = events(s, d)
        val signup = ev.filter($"event_type" === "signup")
          .groupBy($"user_id").agg(min($"ts").as("signup_ts"))
        val purch = ev.filter($"event_type" === "purchase")
          .select($"user_id", $"ts".as("p_ts"))
        signup.join(purch, Seq("user_id"), "left_outer")
          .withColumn("in_window",
            $"p_ts" > $"signup_ts" && $"p_ts" <= $"signup_ts" + expr("INTERVAL 1 HOUR"))
          .groupBy($"user_id", $"signup_ts")
          .agg(
            sum(when($"in_window", 1L).otherwise(0L)).as("n_conv_purchases"),
            max(coalesce($"in_window", lit(false))).as("converted"))
          .orderBy($"user_id")
      },
      Some("""WITH signup AS (
             |  SELECT user_id, MIN(ts) AS signup_ts FROM events
             |  WHERE event_type = 'signup' GROUP BY user_id),
             |purch AS (
             |  SELECT user_id, ts AS p_ts FROM events WHERE event_type = 'purchase')
             |SELECT s.user_id, s.signup_ts,
             |  CAST(COALESCE(SUM(CASE WHEN p.p_ts > s.signup_ts
             |        AND p.p_ts <= s.signup_ts + INTERVAL 1 HOUR THEN 1 ELSE 0 END), 0) AS BIGINT)
             |    AS n_conv_purchases,
             |  COALESCE(MAX(p.p_ts > s.signup_ts AND p.p_ts <= s.signup_ts + INTERVAL 1 HOUR),
             |    FALSE) AS converted
             |FROM signup s LEFT JOIN purch p ON p.user_id = s.user_id
             |GROUP BY s.user_id, s.signup_ts
             |ORDER BY s.user_id""".stripMargin)
    ),

    "q_retention_cohort" -> QueryDef(
      // Cohort retention: users grouped by first-activity day, tracked for
      // how many return k days later (k = 0..3). Two pre-aggregations
      // (first day per user, distinct activity days per user) joined on
      // user_id — both partial-aggregated before the join, so nothing
      // event-sized shuffles twice; the cohort matrix is tiny.
      (s, d) => {
        import s.implicits._
        val ev = events(s, d).select($"user_id", to_date($"ts").as("day"))
        val firstDay = ev.groupBy($"user_id").agg(min($"day").as("cohort_day"))
        val active = ev.distinct()
        firstDay.join(active, Seq("user_id"))
          .withColumn("k", datediff($"day", $"cohort_day"))
          .filter($"k".between(0, 3))
          .groupBy($"cohort_day", $"k")
          .agg(countDistinct($"user_id").as("n_users"))
          .orderBy($"cohort_day", $"k")
      },
      Some("""WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events),
             |first_day AS (SELECT user_id, MIN(day) AS cohort_day FROM ev GROUP BY user_id),
             |active AS (SELECT DISTINCT user_id, day FROM ev)
             |SELECT f.cohort_day, CAST(a.day - f.cohort_day AS INTEGER) AS k,
             |  COUNT(DISTINCT f.user_id) AS n_users
             |FROM first_day f JOIN active a USING (user_id)
             |WHERE a.day - f.cohort_day BETWEEN 0 AND 3
             |GROUP BY f.cohort_day, k
             |ORDER BY f.cohort_day, k""".stripMargin)
    ),

    "q_scalar_subquery" -> QueryDef(
      // Correlated scalar subquery through the SQL front door: customers
      // above their own nation's average balance. Catalyst decorrelates this
      // to an aggregate + join — worth pinning since the rewrite is where
      // subquery bugs live. The threshold is the deterministic
      // decimal-sum::double / count form on both sides.
      (s, d) => {
        customer(s, d).createOrReplaceTempView("customer")
        s.sql(
          """SELECT c_custkey, c_acctbal FROM customer c
            |WHERE c_acctbal > (
            |  SELECT CAST(SUM(CAST(c2.c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*)
            |  FROM customer c2 WHERE c2.c_nationkey = c.c_nationkey)
            |ORDER BY c_custkey""".stripMargin)
      },
      Some("""SELECT c_custkey, c_acctbal FROM customer c
             |WHERE c_acctbal > (
             |  SELECT CAST(SUM(CAST(c2.c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*)
             |  FROM customer c2 WHERE c2.c_nationkey = c.c_nationkey)
             |ORDER BY c_custkey""".stripMargin)
    ),

    // ---------------------------------------------------------- aggregation
    "q_agg_hash" -> QueryDef(
      // TPC-H Q1 shape. All aggregates are partial-aggregatable; with 4 group
      // keys total the reduce side is trivial at any scale.
      (s, d) => {
        import s.implicits._
        val one = lit(1).cast("decimal(4,2)")
        lineitem(s, d)
          .filter($"l_shipdate" <= lit("2000-09-02").cast("timestamp"))
          .groupBy($"l_returnflag", $"l_linestatus")
          .agg(
            sum(dec($"l_quantity")).cast("double").as("sum_qty"),
            sum(dec($"l_extendedprice")).cast("double").as("sum_base_price"),
            sum(dec($"l_extendedprice") * (one - dec($"l_discount", 4, 2)))
              .cast("double").as("sum_disc_price"),
            // micro-unit BIGINT, not double: this scale-6 decimal sum
            // exceeds 2^53 scaled units at sf1+, where decimal->double
            // casts diverge by 1 ulp between engines; x1e6 is exactly
            // integral, so truncating and rounding casts agree everywhere
            (sum(dec($"l_extendedprice") * (one - dec($"l_discount", 4, 2)) * (one + dec($"l_tax", 4, 2)))
              * lit(1000000L)).cast("long").as("sum_charge_micros"),
            (sum(dec($"l_quantity")).cast("double") / count(lit(1))).as("avg_qty"),
            (sum(dec($"l_extendedprice")).cast("double") / count(lit(1))).as("avg_price"),
            (sum(dec($"l_discount", 4, 2)).cast("double") / count(lit(1))).as("avg_disc"),
            count(lit(1)).as("count_order"))
          .orderBy($"l_returnflag", $"l_linestatus")
      },
      Some("""SELECT l_returnflag, l_linestatus,
             |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
             |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
             |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
             |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))) * (CAST(1 AS DECIMAL(4,2)) + CAST(l_tax AS DECIMAL(4,2)))) * 1000000 AS BIGINT) AS sum_charge_micros,
             |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
             |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_price,
             |  CAST(SUM(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
             |  COUNT(*) AS count_order
             |FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-09-02'
             |GROUP BY l_returnflag, l_linestatus
             |ORDER BY l_returnflag, l_linestatus""".stripMargin)
    ),

    "q_agg_distinct" -> QueryDef(
      (s, d) => {
        import s.implicits._
        orders(s, d)
          .groupBy($"o_orderpriority")
          .agg(countDistinct($"o_custkey").as("n_customers"),
            count(lit(1)).as("n_orders"))
          .orderBy($"o_orderpriority")
      },
      Some("""SELECT o_orderpriority, COUNT(DISTINCT o_custkey) AS n_customers, COUNT(*) AS n_orders
             |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
    ),

    "q_agg_approx_distinct" -> QueryDef(
      // HLL sketch — mergeable partial aggregate, the 100 TB answer to
      // COUNT(DISTINCT). The estimate itself is engine-internal (no other
      // engine reproduces it bit-for-bit), so the DRIVER-VERIFIED contract
      // is the error bound: `hll_ok` certifies the rsd=0.01 estimate lands
      // within 5% of exact (HLL is order-independent, so the boolean is
      // deterministic), and the oracle states exact counts + TRUE. The
      // exact countDistinct here exists only to certify the sketch — a
      // production rollup reads the sketch alone.
      // Shape: pre-group on (event_type, user_id), THEN sketch. Mixing
      // approx_count_distinct with countDistinct in ONE agg makes Spark's
      // distinct-rewrite evaluate the HLL partial per (group, user) pair —
      // thousands of dense rsd=0.01 sketch buffers (16 KB each) through the
      // shuffle (profiled 1.8 s vs 0.23+0.76 s separate at sf0.1, recorded
      // in commit 2546fe3). HLL registers are max-based, so sketching the
      // DISTINCT pairs yields the bit-identical estimate; the pair pre-agg
      // is one row-shuffle and the sketch runs once per surviving pair.
      (s, d) => {
        import s.implicits._
        events(s, d)
          .groupBy($"event_type", $"user_id")
          .agg(count(lit(1)).as("c"))
          .groupBy($"event_type")
          .agg(approx_count_distinct($"user_id", 0.01).as("est"),
            count(lit(1)).as("n_users_exact"),
            sum($"c").as("n_events"))
          .select($"event_type", $"n_users_exact", $"n_events",
            (abs($"est" - $"n_users_exact").cast("double")
              / $"n_users_exact".cast("double") <= 0.05).as("hll_ok"))
          .orderBy($"event_type")
      },
      Some("""SELECT event_type, COUNT(DISTINCT user_id) AS n_users_exact,
             |  COUNT(*) AS n_events, TRUE AS hll_ok
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)
    ),

    "q_agg_salted" -> QueryDef(
      // Two-phase (salted) aggregation: phase 1 pre-aggregates on
      // (key, salt) so a pathologically hot grouping key spreads across 16
      // reducers instead of serializing on one; phase 2 combines the
      // per-salt partials. Decimal partial sums keep the money math exact
      // through both phases, so the result is bit-identical to the direct
      // groupBy — which is exactly what the oracle states. (Spark's own
      // partial aggregation handles MOST skew; explicit salting is the
      // pattern for when a single key's partials still overwhelm one
      // reducer — high-cardinality agg states, collect_list, etc.)
      // Measured against a planted 20%-hot event_type (round 19,
      // BENCH_SCALING "Planted-skew arm"): the direct
      // groupBy wins at every tested sf for BOTH sum and collect_list
      // states — map-side combine absorbs the hot key and the salted form
      // pays an extra shuffle. The two-phase shape stays as insurance for
      // per-key states too large to combine map-side, not a default.
      (s, d) => {
        import s.implicits._
        events(s, d)
          .withColumn("__salt", pmod(hash($"event_id"), lit(16)))
          .groupBy($"event_type", $"__salt")
          .agg(count(lit(1)).as("pc"), sum(dec($"value")).as("pv"))
          .groupBy($"event_type")
          .agg(sum($"pc").as("n_events"), sum($"pv").cast("double").as("total_value"))
          .orderBy($"event_type")
      },
      Some("""SELECT event_type, COUNT(*) AS n_events,
             |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)
    ),

    "q_agg_hll_merge" -> QueryDef(
      // Datasketches HLL with EXPLICIT partial-sketch merge: per-group
      // sketches built once (hll_sketch_agg), per-group estimates read out,
      // and the global distinct count computed by UNIONING the group
      // sketches (hll_union_agg) — never rescanning the input. This is the
      // 100 TB distinct-count architecture: sketches are associative
      // partials, so shard/day/partition sketches roll up to any grain for
      // the cost of a merge. Sketch estimates are engine-internal, so the
      // driver-verified contract is the 5% error bound at BOTH levels —
      // per-group estimates and the union-merged global — against exact
      // countDistinct (datasketches lgK=12 → rsd ≈ 1.6%, 3σ < 5%;
      // order-independent, so the booleans are deterministic). The exact
      // sides exist only to certify the merge; production reads sketches.
      (s, d) => {
        import s.implicits._
        def ok(est: org.apache.spark.sql.Column, exact: org.apache.spark.sql.Column) =
          (abs(est - exact).cast("double") / exact.cast("double") <= 0.05)
            .as("merge_ok")
        // localCheckpoint, not persist: the sketch table is read by the
        // driver-side merge head() AND the returned per-group plan, but a
        // cache entry would outlive the query (pinned until an external
        // sweep) — checkpoint blocks are dropped by the ContextCleaner as
        // soon as the plan is unreferenced.
        val sk = events(s, d)
          .groupBy($"event_type")
          .agg(hll_sketch_agg($"user_id").as("sk"),
            countDistinct($"user_id").as("n_exact"),
            count(lit(1)).as("n_events"))
          .localCheckpoint()
        val per = sk.select($"event_type", $"n_exact".as("n_users_exact"),
          $"n_events", ok(hll_sketch_estimate($"sk"), $"n_exact"))
        // The global row is three scalars (union-merged estimate, exact
        // distinct, event count) — attach them driver-side as a literal
        // row rather than planning a 1×1 join (whose constant key folds
        // into a cartesian under the optimizer and trips the plan gate)
        val m = sk
          .agg(hll_sketch_estimate(hll_union_agg($"sk")).as("est"),
            sum($"n_events").as("n_events")).head()
        val nExact = events(s, d)
          .agg(countDistinct($"user_id").as("n")).head().getLong(0)
        val merged = Seq((
          "__all__", nExact, m.getLong(1),
          math.abs(m.getLong(0) - nExact).toDouble / nExact.toDouble <= 0.05
        )).toDF("event_type", "n_users_exact", "n_events", "merge_ok")
        per.union(merged).orderBy($"event_type")
      },
      Some("""SELECT event_type, COUNT(DISTINCT user_id) AS n_users_exact,
             |  COUNT(*) AS n_events, TRUE AS merge_ok
             |FROM events GROUP BY event_type
             |UNION ALL
             |SELECT '__all__', COUNT(DISTINCT user_id), COUNT(*), TRUE FROM events
             |ORDER BY event_type""".stripMargin)
    ),

    "q_agg_approx_quantile" -> QueryDef(
      // Mergeable quantile sketch (approx_percentile) — the 100 TB answer to
      // exact percentile(): partial sketches merge associatively, so no
      // single-node sort of the whole column. Estimates are engine-internal
      // (and ride partition merge order), so the DRIVER-VERIFIED contract is
      // the rank-error bound: for each quantile q the returned element's
      // rank interval [count(< est)+1, count(≤ est)] must intersect
      // [(q−ε)·n, (q+ε)·n] — GK guarantees ε = 1/accuracy = 0.001; checked
      // at ε = 0.005 for a discreteness cushion. The exact rank counts come
      // from one broadcast re-join of the 3-row estimate table; the oracle
      // states group sizes + TRUE per bound.
      (s, d) => {
        import s.implicits._
        val est = lineitem(s, d)
          .groupBy($"l_returnflag")
          .agg(
            expr("approx_percentile(l_extendedprice, array(0.5, 0.9, 0.99), 1000)")
              .as("q"),
            count(lit(1)).as("n"))
          .select($"l_returnflag", element_at($"q", 1).as("p50"),
            element_at($"q", 2).as("p90"), element_at($"q", 3).as("p99"), $"n")
        def rankCols(p: org.apache.spark.sql.Column, tag: String) = Seq(
          sum(when($"l_extendedprice" < p, 1L).otherwise(0L)).as(s"lt$tag"),
          sum(when($"l_extendedprice" <= p, 1L).otherwise(0L)).as(s"le$tag"))
        val ranks = lineitem(s, d).select($"l_returnflag", $"l_extendedprice")
          .join(broadcast(est), Seq("l_returnflag"))
          .groupBy($"l_returnflag")
          .agg(max($"n").as("n"),
            (rankCols($"p50", "50") ++ rankCols($"p90", "90")
              ++ rankCols($"p99", "99")): _*)
        val eps = 0.005
        def ok(q: Double, tag: String) =
          (($"lt$tag" + 1).cast("double") <= lit(q + eps) * $"n".cast("double") &&
            $"le$tag".cast("double") >= lit(q - eps) * $"n".cast("double"))
            .as(s"p${tag}_ok")
        ranks.select($"l_returnflag", $"n",
          ok(0.5, "50"), ok(0.9, "90"), ok(0.99, "99"))
          .orderBy($"l_returnflag")
      },
      Some("""SELECT l_returnflag, COUNT(*) AS n,
             |  TRUE AS p50_ok, TRUE AS p90_ok, TRUE AS p99_ok
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
    ),

    "q_agg_minmax" -> QueryDef(
      (s, d) => {
        import s.implicits._
        orders(s, d)
          .groupBy($"o_orderpriority")
          .agg(
            min($"o_totalprice").as("min_price"),
            max($"o_totalprice").as("max_price"),
            min($"o_orderdate").as("first_date"),
            max($"o_orderdate").as("last_date"))
          .orderBy($"o_orderpriority")
      },
      Some("""SELECT o_orderpriority, MIN(o_totalprice) AS min_price, MAX(o_totalprice) AS max_price,
             |  MIN(o_orderdate) AS first_date, MAX(o_orderdate) AS last_date
             |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
    ),

    "q_agg_median" -> QueryDef(
      // Exact interpolated median over integral-valued quantities: the
      // midpoint arithmetic is exact for integers, so Spark's percentile and
      // DuckDB's quantile_cont agree bitwise. (For arbitrary doubles the two
      // interpolation formulas can differ 1 ulp — integral inputs sidestep it.)
      (s, d) => {
        import s.implicits._
        lineitem(s, d)
          .groupBy($"l_returnflag")
          .agg(
            expr("percentile(l_quantity, 0.5)").as("median_qty"),
            expr("percentile(l_quantity, 0.9)").as("p90_qty"),
            count(lit(1)).as("n"))
          .orderBy($"l_returnflag")
      },
      Some("""SELECT l_returnflag,
             |  quantile_cont(l_quantity, 0.5) AS median_qty,
             |  quantile_cont(l_quantity, 0.9) AS p90_qty,
             |  COUNT(*) AS n
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
    ),

    "q_agg_mode" -> QueryDef(
      // Per-group mode with an explicit deterministic tie-break (smallest
      // value wins). Built-in mode() in both engines leaves ties
      // implementation-defined, so the operator is expressed as the
      // portable count + rank form: two hash aggregations (both partial-
      // aggregated — the first on (group, value), bounded by distinct
      // values; the second a bounded-key window input) and one window over
      // the tiny (group × distinct-value) table — the corpus itself is
      // never sorted or re-shuffled.
      (s, d) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        orders(s, d)
          .groupBy($"o_orderpriority", $"o_orderstatus")
          .agg(count(lit(1)).as("cnt"))
          .withColumn("rn", row_number().over(
            Window.partitionBy($"o_orderpriority")
              .orderBy($"cnt".desc, $"o_orderstatus")))
          .filter($"rn" === 1)
          .select($"o_orderpriority", $"o_orderstatus".as("mode_status"),
            $"cnt".as("mode_cnt"))
          .orderBy($"o_orderpriority")
      },
      Some("""WITH c AS (
             |  SELECT o_orderpriority, o_orderstatus, COUNT(*) AS cnt
             |  FROM orders GROUP BY o_orderpriority, o_orderstatus),
             |r AS (
             |  SELECT o_orderpriority, o_orderstatus, cnt,
             |    ROW_NUMBER() OVER (PARTITION BY o_orderpriority
             |                       ORDER BY cnt DESC, o_orderstatus) AS rn
             |  FROM c)
             |SELECT o_orderpriority, o_orderstatus AS mode_status, cnt AS mode_cnt
             |FROM r WHERE rn = 1 ORDER BY o_orderpriority""".stripMargin)
    ),

    "q_percentile_disc" -> QueryDef(
      // Discrete (non-interpolated) per-group quantiles — the value
      // actually present in the data at each cut, which interpolating
      // percentile/quantile_cont can't provide. Built-in disc variants
      // differ at boundary indices between engines, so both sides use the
      // same portable definition: smallest value whose cume_dist reaches
      // p. The p-comparisons are float-safe: cume_dist is a correctly-
      // rounded k/n division and p ∈ {.25,.5,.75} are exactly
      // representable, so k/n ≥ p can only flip if the true ratio equals p
      // — where the division is exact.
      //
      // Shape: a row-level cume_dist window would sort the WHOLE table
      // through #groups reducers (3 here — a parallelism cliff at scale).
      // Tied rows all share cd = count(rows ≤ v)/n, so the engine
      // pre-aggregates to (group, value, count) — one partial-aggregatable
      // hash shuffle — and runs the window over the value-level rows,
      // bounded by the group's distinct-value count, not its row count.
      // The oracle keeps the definitional row-level form.
      (s, d) => {
        import s.implicits._
        val wRun = Window.partitionBy($"l_returnflag").orderBy($"l_quantity")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wAll = Window.partitionBy($"l_returnflag")
        lineitem(s, d)
          .groupBy($"l_returnflag", $"l_quantity")
          .agg(count(lit(1)).as("c"))
          // cd of every row tied at this value = running count / total —
          // the same correctly-rounded k/n double cume_dist() emits
          .withColumn("cd",
            sum($"c").over(wRun).cast("double") / sum($"c").over(wAll))
          .groupBy($"l_returnflag")
          .agg(
            min(when($"cd" >= 0.25, $"l_quantity")).as("p25_disc"),
            min(when($"cd" >= 0.5, $"l_quantity")).as("p50_disc"),
            min(when($"cd" >= 0.75, $"l_quantity")).as("p75_disc"),
            sum($"c").as("n"))
          .orderBy($"l_returnflag")
      },
      Some("""WITH c AS (
             |  SELECT l_returnflag, l_quantity,
             |    cume_dist() OVER (PARTITION BY l_returnflag ORDER BY l_quantity) AS cd
             |  FROM lineitem)
             |SELECT l_returnflag,
             |  MIN(CASE WHEN cd >= 0.25 THEN l_quantity END) AS p25_disc,
             |  MIN(CASE WHEN cd >= 0.5 THEN l_quantity END) AS p50_disc,
             |  MIN(CASE WHEN cd >= 0.75 THEN l_quantity END) AS p75_disc,
             |  COUNT(*) AS n
             |FROM c GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
    ),

    "q_pivot" -> QueryDef(
      // Relational pivot: per-nation sales spread across the 5 market
      // segments as columns (explicit value list keeps the schema static —
      // the scalable form; dynamic pivot needs a pre-pass to enumerate keys).
      (s, d) => {
        import s.implicits._
        val segs = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
        orders(s, d)
          .join(customer(s, d), $"o_custkey" === $"c_custkey")
          .join(broadcast(nation(s, d)), $"c_nationkey" === $"n_nationkey")
          .groupBy($"n_name")
          .pivot("c_mktsegment", segs)
          .agg(sumMoney($"o_totalprice"))
          .na.fill(0.0, segs)
          .orderBy($"n_name")
      },
      Some("""SELECT n_name,
             |  CAST(COALESCE(SUM(CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN CAST(o_totalprice AS DECIMAL(12,2)) END), 0) AS DOUBLE) AS "AUTOMOBILE",
             |  CAST(COALESCE(SUM(CASE WHEN c_mktsegment = 'BUILDING' THEN CAST(o_totalprice AS DECIMAL(12,2)) END), 0) AS DOUBLE) AS "BUILDING",
             |  CAST(COALESCE(SUM(CASE WHEN c_mktsegment = 'FURNITURE' THEN CAST(o_totalprice AS DECIMAL(12,2)) END), 0) AS DOUBLE) AS "FURNITURE",
             |  CAST(COALESCE(SUM(CASE WHEN c_mktsegment = 'HOUSEHOLD' THEN CAST(o_totalprice AS DECIMAL(12,2)) END), 0) AS DOUBLE) AS "HOUSEHOLD",
             |  CAST(COALESCE(SUM(CASE WHEN c_mktsegment = 'MACHINERY' THEN CAST(o_totalprice AS DECIMAL(12,2)) END), 0) AS DOUBLE) AS "MACHINERY"
             |FROM orders
             |  JOIN customer ON o_custkey = c_custkey
             |  JOIN nation ON c_nationkey = n_nationkey
             |GROUP BY n_name ORDER BY n_name""".stripMargin)
    ),

    "q_pivot_dynamic" -> QueryDef(
      // Dynamic pivot: the key set is discovered at runtime (Spark runs a
      // distinct pre-pass over o_orderpriority, capped by
      // spark.sql.pivotMaxValues, then compiles the same CASE-per-key agg as
      // the static form). The extra job is one low-cardinality distinct —
      // cheap at any scale when the pivot column is a dimension; the static
      // list above stays the choice when keys are known and the pre-pass scan
      // of the fact table matters.
      (s, d) => {
        import s.implicits._
        orders(s, d)
          .groupBy($"o_orderstatus")
          .pivot("o_orderpriority")
          .agg(count(lit(1)))
          .na.fill(0)
          .orderBy($"o_orderstatus")
      },
      Some("""SELECT o_orderstatus,
             |  COUNT(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END) AS "1-URGENT",
             |  COUNT(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 END) AS "2-HIGH",
             |  COUNT(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 END) AS "3-MEDIUM",
             |  COUNT(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 END) AS "4-NOT SPECIFIED",
             |  COUNT(CASE WHEN o_orderpriority = '5-LOW' THEN 1 END) AS "5-LOW"
             |FROM orders
             |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
    ),

    "q_window_pct" -> QueryDef(
      // Relative-rank analytics: percent_rank + cume_dist of each order
      // within its priority class by value. Ties share a rank in both
      // engines (rank-based definitions, not row_number), so the output is
      // tie-order insensitive.
      //
      // TWO-PASS rank restatement (round 21, guide §2.5 skew): the direct
      // window partitions by a 5-value key, so EVERY row funnels through 5
      // reducer tasks (27 of 32 cores idle through the sort at sf16 —
      // 43.4 s). Both functions depend only on (priority, price), so the
      // rank table computes over the DEDUPED group table — 24M → 150k rows
      // at sf16 — and re-attaches by equi-join (AQE broadcasts the rank
      // side while it fits; past that it degrades to a fully parallel
      // shuffle join, never the 5-reducer funnel). Value identity is exact
      // integer arithmetic, not float luck: within a priority,
      // rank−1 = #rows strictly below = cum−c and cume peers = cum (both
      // exact int64 running sums over the distinct-price table, which has
      // no window peers by construction), divided as doubles exactly as
      // PercentRank/CumeDist define — (rank−1) and (n−1) subtract as longs
      // then cast. o_totalprice is non-null in this corpus (TPC-H NOT
      // NULL), so the equi-join re-attach drops nothing; the shared oracle
      // certifies row parity at every sf. Round21OpsSpec pins new-vs-old
      // row identity end-to-end.
      (s, d) => {
        import s.implicits._
        val price = dec($"o_totalprice")
        val g = orders(s, d)
          .groupBy($"o_orderpriority", price.as("price"))
          .agg(count(lit(1)).as("c"))
        val byPrio = Window.partitionBy($"o_orderpriority")
        val cumW = byPrio.orderBy($"price")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val ranked = g
          .withColumn("cum", sum($"c").over(cumW))
          .withColumn("n", sum($"c").over(byPrio))
          .select($"o_orderpriority", $"price",
            round(when($"n" > 1L,
              ($"cum" - $"c").cast("double") / ($"n" - 1L).cast("double"))
              .otherwise(0.0), 6).as("pct_rank"),
            round($"cum".cast("double") / $"n".cast("double"), 6).as("cume"))
        orders(s, d)
          .select($"o_orderkey", $"o_orderpriority", price.as("price"))
          .join(ranked, Seq("o_orderpriority", "price"))
          .select($"o_orderkey", $"o_orderpriority", $"pct_rank", $"cume")
          .orderBy($"o_orderkey")
      },
      Some("""SELECT o_orderkey, o_orderpriority,
             |  ROUND(percent_rank() OVER (PARTITION BY o_orderpriority ORDER BY CAST(o_totalprice AS DECIMAL(12,2))), 6) AS pct_rank,
             |  ROUND(cume_dist() OVER (PARTITION BY o_orderpriority ORDER BY CAST(o_totalprice AS DECIMAL(12,2))), 6) AS cume
             |FROM orders ORDER BY o_orderkey""".stripMargin)
    ),

    "q_generator_gapfill" -> QueryDef(
      // Generator + densification: build the full per-type date spine with
      // sequence()/explode and left-join the observed daily counts, zero-
      // filling gaps — calendar gap-filling for time series. The spine
      // derives from a tiny per-type min/max agg (K rows), so the generate
      // side is never large; the counts side is one hash-agg shuffle.
      (s, d) => {
        import s.implicits._
        val e = events(s, d).select(to_date($"ts").as("day"), $"event_type")
        val spine = e.groupBy($"event_type")
          .agg(min($"day").as("d0"), max($"day").as("d1"))
          .select($"event_type",
            explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
        val counts = e.groupBy($"event_type", $"day").agg(count(lit(1)).as("n"))
        spine.join(counts, Seq("event_type", "day"), "left")
          .na.fill(0, Seq("n"))
          .orderBy($"event_type", $"day")
      },
      Some("""WITH e AS (
             |  SELECT event_type, CAST(ts AS DATE) AS day FROM events),
             |span AS (
             |  SELECT event_type, MIN(day) AS d0, MAX(day) AS d1 FROM e GROUP BY event_type),
             |spine AS (
             |  SELECT event_type, CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
             |  FROM span),
             |c AS (
             |  SELECT event_type, day, COUNT(*) AS n FROM e GROUP BY event_type, day)
             |SELECT s.event_type, s.day, COALESCE(c.n, 0) AS n
             |FROM spine s LEFT JOIN c ON s.event_type = c.event_type AND s.day = c.day
             |ORDER BY s.event_type, s.day""".stripMargin)
    ),

    "q_listagg" -> QueryDef(
      // Ordered string aggregation (LISTAGG/string_agg): collect_set is
      // merge-order-nondeterministic, so the deterministic form is
      // sort-then-join — one hash-agg shuffle, the sort is per-group over a
      // small distinct set, never a global sort.
      (s, d) => {
        import s.implicits._
        customer(s, d)
          .join(broadcast(nation(s, d)), $"c_nationkey" === $"n_nationkey")
          .groupBy($"c_mktsegment")
          .agg(
            array_join(array_sort(collect_set($"n_name")), ",").as("nations"),
            countDistinct($"n_name").as("n_nations"))
          .orderBy($"c_mktsegment")
      },
      Some("""SELECT c_mktsegment,
             |  string_agg(DISTINCT n_name, ',' ORDER BY n_name) AS nations,
             |  COUNT(DISTINCT n_name) AS n_nations
             |FROM customer JOIN nation ON c_nationkey = n_nationkey
             |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)
    ),

    "q_unpivot" -> QueryDef(
      // Wide→long reshape (UNPIVOT/melt): map-only — each row fans out to
      // one row per measure with no shuffle at all; the inverse of pivot.
      (s, d) => {
        import s.implicits._
        lineitem(s, d)
          .unpivot(
            Array($"l_orderkey", $"l_linenumber"),
            Array($"l_quantity", $"l_discount", $"l_tax"),
            "metric", "val")
          // val in the ORDER BY: (l_orderkey, l_linenumber) is not a key,
          // so (key, metric) alone is not total — see q_scan_project_filter
          .orderBy($"l_orderkey", $"l_linenumber", $"metric", $"val")
      },
      Some("""SELECT l_orderkey, l_linenumber, metric, val FROM (
             |  SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, CAST(l_quantity AS DOUBLE) AS val FROM lineitem
             |  UNION ALL
             |  SELECT l_orderkey, l_linenumber, 'l_discount', CAST(l_discount AS DOUBLE) FROM lineitem
             |  UNION ALL
             |  SELECT l_orderkey, l_linenumber, 'l_tax', CAST(l_tax AS DOUBLE) FROM lineitem) t
             |ORDER BY l_orderkey, l_linenumber, metric, val""".stripMargin)
    ),

    "q_window_range" -> QueryDef(
      // Value-range window frame: trailing 30-day revenue per customer —
      // RANGE frames bound by the ORDER BY value, not row counts, so the
      // result is insensitive to tie order (exact decimal sum per the money
      // rule). One shuffle on the partition key.
      (s, d) => {
        import s.implicits._
        val day = datediff($"o_orderdate", lit("1992-01-01")).cast("bigint")
        val w = Window.partitionBy($"o_custkey").orderBy($"day")
          .rangeBetween(-30, Window.currentRow)
        orders(s, d)
          .withColumn("day", day)
          .withColumn("trailing30",
            sum(dec($"o_totalprice")).over(w).cast("double"))
          .select($"o_orderkey", $"o_custkey", $"day", $"trailing30")
          .orderBy($"o_orderkey")
      },
      Some("""SELECT o_orderkey, o_custkey,
             |  date_diff('day', DATE '1992-01-01', o_orderdate) AS day,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
             |    PARTITION BY o_custkey
             |    ORDER BY date_diff('day', DATE '1992-01-01', o_orderdate)
             |    RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS DOUBLE) AS trailing30
             |FROM orders ORDER BY o_orderkey""".stripMargin)
    ),

    "q_agg_variance" -> QueryDef(
      // Sample variance/stddev via the explicit exact-sum formula: Σx and Σx²
      // as exact decimals, then identical double arithmetic in both engines —
      // the built-in stddev aggregates are partial-merge-order-dependent and
      // would differ run to run, let alone engine to engine.
      (s, d) => {
        import s.implicits._
        val x = dec($"c_acctbal")
        val x2 = (dec($"c_acctbal") * dec($"c_acctbal"))
        customer(s, d)
          .groupBy($"c_mktsegment")
          .agg(
            count(lit(1)).as("n"),
            sum(x).cast("double").as("sum_x"),
            sum(x2).cast("double").as("sum_x2"))
          .withColumn("variance",
            ($"sum_x2" - $"sum_x" * $"sum_x" / $"n") / ($"n" - 1))
          .withColumn("stddev", sqrt($"variance"))
          .select($"c_mktsegment", $"n", round($"variance", 2).as("variance"),
            round($"stddev", 2).as("stddev"))
          .orderBy($"c_mktsegment")
      },
      Some("""SELECT c_mktsegment, n, ROUND(variance, 2) AS variance, ROUND(sqrt(variance), 2) AS stddev
             |FROM (
             |  SELECT c_mktsegment, n, (sum_x2 - sum_x * sum_x / n) / (n - 1) AS variance
             |  FROM (
             |    SELECT c_mktsegment, COUNT(*) AS n,
             |      CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS sum_x,
             |      CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2)) * CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS sum_x2
             |    FROM customer GROUP BY c_mktsegment) a) b
             |ORDER BY c_mktsegment""".stripMargin)
    ),

    "q_rollup" -> QueryDef(
      (s, d) => {
        import s.implicits._
        val o = orders(s, d)
        val c = customer(s, d)
        val n = broadcast(nation(s, d))
        o.join(c, o("o_custkey") === c("c_custkey"))
          .join(n, c("c_nationkey") === n("n_nationkey"))
          .rollup($"n_name", $"c_mktsegment")
          .agg(sumMoney($"o_totalprice").as("sales"), count(lit(1)).as("n_orders"),
            grouping_id($"n_name", $"c_mktsegment").as("gid"))
          .orderBy($"gid", asc_nulls_first("n_name"), asc_nulls_first("c_mktsegment"))
      },
      Some("""SELECT n_name, c_mktsegment,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sales,
             |  COUNT(*) AS n_orders,
             |  GROUPING(n_name, c_mktsegment) AS gid
             |FROM orders
             |  JOIN customer ON o_custkey = c_custkey
             |  JOIN nation ON c_nationkey = n_nationkey
             |GROUP BY ROLLUP (n_name, c_mktsegment)
             |ORDER BY gid, n_name NULLS FIRST, c_mktsegment NULLS FIRST""".stripMargin)
    ),

    "q_cube" -> QueryDef(
      (s, d) => {
        import s.implicits._
        val o = orders(s, d)
        val c = customer(s, d)
        o.join(c, o("o_custkey") === c("c_custkey"))
          .cube($"c_mktsegment", $"o_orderpriority")
          .agg(sumMoney($"o_totalprice").as("sales"), count(lit(1)).as("n_orders"),
            grouping_id($"c_mktsegment", $"o_orderpriority").as("gid"))
          .orderBy($"gid", asc_nulls_first("c_mktsegment"), asc_nulls_first("o_orderpriority"))
      },
      Some("""SELECT c_mktsegment, o_orderpriority,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sales,
             |  COUNT(*) AS n_orders,
             |  GROUPING(c_mktsegment, o_orderpriority) AS gid
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |GROUP BY CUBE (c_mktsegment, o_orderpriority)
             |ORDER BY gid, c_mktsegment NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin)
    ),

    "q_grouping_sets" -> QueryDef(
      // Explicit GROUPING SETS (not derivable from one rollup/cube): totals
      // by (priority), by (status), and grand total in one pass.
      (s, d) => {
        orders(s, d).createOrReplaceTempView("orders")
        s.sql(
          """SELECT o_orderpriority, o_orderstatus,
            |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sales,
            |  COUNT(*) AS n,
            |  GROUPING_ID(o_orderpriority, o_orderstatus) AS gid
            |FROM orders
            |GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
            |ORDER BY gid, o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST""".stripMargin)
      },
      Some("""SELECT o_orderpriority, o_orderstatus,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sales,
             |  COUNT(*) AS n,
             |  GROUPING(o_orderpriority, o_orderstatus) AS gid
             |FROM orders
             |GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
             |ORDER BY gid, o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST""".stripMargin)
    ),

    "q_lateral_topn" -> QueryDef(
      // Correlated LATERAL subquery: top-2 customers per nation by balance.
      // Catalyst plans this via DomainJoin decorrelation — a different path
      // from window top-k, worth pinning separately.
      (s, d) => {
        nation(s, d).createOrReplaceTempView("nation")
        customer(s, d).createOrReplaceTempView("customer")
        s.sql(
          """SELECT n.n_name, t.c_custkey, t.c_acctbal
            |FROM nation n,
            |LATERAL (SELECT c_custkey, c_acctbal FROM customer c
            |         WHERE c.c_nationkey = n.n_nationkey
            |         ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t
            |ORDER BY n.n_name, t.c_custkey""".stripMargin)
      },
      Some("""SELECT n.n_name, t.c_custkey, t.c_acctbal
             |FROM nation n,
             |LATERAL (SELECT c_custkey, c_acctbal FROM customer c
             |         WHERE c.c_nationkey = n.n_nationkey
             |         ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t
             |ORDER BY n.n_name, t.c_custkey""".stripMargin)
    ),

    "q_try_funcs" -> QueryDef(
      // Error-tolerant ETL casts: malformed input → null, not a failed job
      // (ANSI mode makes plain CAST throw — try_cast is the 100 TB-safe form).
      //
      // Scale shape: try_cast's failure path THROWS internally (TryEval
      // catches), and a Java exception + stack-trace fill per malformed row
      // is ~50 µs — on a mostly-malformed column that dominates the scan
      // (measured 4.1 s for 200k rows at sf1). The production form guards
      // with a cheap codegen'd shape regex so the exception path only runs
      // on shape-valid-but-still-failing rows (e.g. overflow): the guard
      // routes definitely-invalid strings to the SAME null try_cast
      // produces, so the value semantics are identical by construction
      // (the regex admits exactly ANSI's trimmed optional-sign digit
      // grammar; anything it rejects, try_cast nulls too).
      (s, d) => {
        import s.implicits._
        val intShape = "^[\\s\\x00-\\x1f]*[+-]?[0-9]+[\\s\\x00-\\x1f]*$"
        part(s, d)
          .select(
            $"p_partkey",
            when(substring($"p_name", 1, 3).rlike(intShape),
              expr("try_cast(substring(p_name, 1, 3) AS BIGINT)"))
              .otherwise(lit(null).cast("long")).as("bad_int"),
            expr("try_cast(CAST(p_size AS STRING) AS BIGINT)").as("good_int"),
            expr("try_cast('2024-13-45' AS DATE)").as("bad_date"))
          .orderBy($"p_partkey")
      },
      Some("""SELECT p_partkey,
             |  TRY_CAST(substring(p_name, 1, 3) AS BIGINT) AS bad_int,
             |  TRY_CAST(CAST(p_size AS VARCHAR) AS BIGINT) AS good_int,
             |  TRY_CAST('2024-13-45' AS DATE) AS bad_date
             |FROM part ORDER BY p_partkey""".stripMargin)
    ),

    // ---------------------------------------------------------- windows
    "q_window_rank" -> QueryDef(
      (s, d) => {
        import s.implicits._
        val w = Window.partitionBy($"o_custkey")
          .orderBy($"o_totalprice".desc, $"o_orderkey")
        orders(s, d)
          .withColumn("rnk", row_number().over(w))
          .filter($"rnk" <= 3)
          .select($"o_custkey", $"rnk", $"o_orderkey", $"o_totalprice")
          .orderBy($"o_custkey", $"rnk")
      },
      Some("""SELECT o_custkey, rnk, o_orderkey, o_totalprice FROM (
             |  SELECT o_custkey, o_orderkey, o_totalprice,
             |    ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rnk
             |  FROM orders) t
             |WHERE rnk <= 3 ORDER BY o_custkey, rnk""".stripMargin)
    ),

    "q_window_running" -> QueryDef(
      // Running sum in exact integer cents (primitive long window — no
      // decimal boxing in the frame loop), surfaced as double: x*100 of a
      // 2-dp double is within 1e-9 of an integer, so round() is exact and
      // the /100.0 is one correctly-rounded division in both engines.
      (s, d) => {
        import s.implicits._
        val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        orders(s, d)
          .withColumn("cents", round($"o_totalprice" * 100, 0).cast("long"))
          .withColumn("running_spend", sum($"cents").over(w) / 100.0)
          .select($"o_custkey", $"o_orderkey", $"o_orderdate", $"running_spend")
          .orderBy($"o_custkey", $"o_orderdate", $"o_orderkey")
      },
      Some("""SELECT o_custkey, o_orderkey, o_orderdate,
             |  SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) OVER (
             |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / 100.0 AS running_spend
             |FROM orders ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin)
    ),

    "q_window_lag" -> QueryDef(
      (s, d) => {
        import s.implicits._
        val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
        events(s, d)
          .withColumn("gap_us", unix_micros($"ts") - unix_micros(lag($"ts", 1).over(w)))
          .select($"user_id", $"event_id", $"ts", $"gap_us")
          .orderBy($"user_id", $"ts", $"event_id")
      },
      Some("""SELECT user_id, event_id, ts,
             |  epoch_us(ts) - epoch_us(LAG(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS gap_us
             |FROM events ORDER BY user_id, ts, event_id""".stripMargin)
    ),

    "q_topk_per_group" -> QueryDef(
      // Top-3 orders per customer via the custom bounded_topk
      // TypedImperativeAggregate: map-side partials keep a 3-element buffer
      // per key, so only k×keys rows shuffle — the scale path the
      // row_number() window (which sorts everything) can't take. The oracle
      // is the independent window formulation: agreement verifies the
      // aggregate's update/merge/eval against relational semantics.
      (s, d) => {
        import s.implicits._
        orders(s, d)
          .groupBy($"o_custkey")
          .agg(graft.functions.BoundedTopK
            .boundedTopK(s, $"o_totalprice", $"o_orderkey", 3).as("topk"))
          .select($"o_custkey", posexplode($"topk"))
          .select(
            $"o_custkey",
            ($"pos" + 1).cast("long").as("rnk"),
            $"col.id".as("o_orderkey"),
            $"col.score".as("o_totalprice"))
          .orderBy($"o_custkey", $"rnk")
      },
      Some("""SELECT o_custkey, CAST(rnk AS BIGINT) AS rnk, o_orderkey, o_totalprice FROM (
             |  SELECT o_custkey, o_orderkey, o_totalprice,
             |    ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rnk
             |  FROM orders) t
             |WHERE rnk <= 3 ORDER BY o_custkey, rnk""".stripMargin)
    ),

    "q_window_ntile" -> QueryDef(
      // Global quartiles WITHOUT `ntile(4).over(Window.orderBy(...))`: the
      // unpartitioned ntile window single-partition-sorts the whole table
      // (the same scale-killer class as pagerank's old global top-k). This
      // consumer needs quartile AGGREGATES, not per-row ranks, so the
      // boundary-broadcast form (ScaleOps.withNtileBucket) applies: the 3
      // exact boundary tuples of the (o_totalprice DESC, o_orderkey) total
      // order are computed by bounded pre-pass jobs and broadcast as
      // literals; every row buckets MAP-SIDE — no range repartition, no
      // localCheckpoint materialization, no full-table shuffle at any
      // scale. (Per-row-rank consumers keep withGlobalRank+ntileFromRank.)
      // Result is row-identical to ntile(4); the oracle keeps NTILE(4).
      (s, d) => {
        import s.implicits._
        val base = orders(s, d).select($"o_orderkey", $"o_totalprice")
        graft.operators.ScaleOps
          .withNtileBucket(base, "quartile", "o_totalprice", "o_orderkey", 4)
          .groupBy($"quartile")
          .agg(count(lit(1)).as("n_orders"), sumMoney($"o_totalprice").as("sales"))
          .orderBy($"quartile")
      },
      Some("""SELECT quartile, COUNT(*) AS n_orders,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sales
             |FROM (
             |  SELECT o_totalprice,
             |    CAST(NTILE(4) OVER (ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS quartile
             |  FROM orders) t
             |GROUP BY quartile ORDER BY quartile""".stripMargin)
    ),

    // ---------------------------------------------------------- sort / limit
    "q_window_first_last" -> QueryDef(
      // first/last over an explicit full-partition frame (last_value without
      // the frame is the running-last trap both engines share).
      (s, d) => {
        import s.implicits._
        val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        orders(s, d)
          .select(
            $"o_custkey", $"o_orderkey", $"o_orderdate",
            first($"o_orderkey").over(w).as("first_order"),
            last($"o_orderkey").over(w).as("last_order"))
          .orderBy($"o_custkey", $"o_orderdate", $"o_orderkey")
      },
      Some("""SELECT o_custkey, o_orderkey, o_orderdate,
             |  FIRST_VALUE(o_orderkey) OVER w AS first_order,
             |  LAST_VALUE(o_orderkey) OVER w AS last_order
             |FROM orders
             |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             |ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin)
    ),

    "q_sort_limit_topk" -> QueryDef(
      // orderBy.limit compiles to TakeOrderedAndProject: per-partition top-10
      // then a 10-row merge on the driver — no global sort at any scale.
      (s, d) => {
        import s.implicits._
        lineitem(s, d)
          .select($"l_orderkey", $"l_linenumber", $"l_extendedprice")
          .orderBy($"l_extendedprice".desc, $"l_orderkey", $"l_linenumber")
          .limit(10)
      },
      Some("""SELECT l_orderkey, l_linenumber, l_extendedprice
             |FROM lineitem
             |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 10""".stripMargin)
    ),

    // ---------------------------------------------------------- set ops
    "q_union" -> QueryDef(
      (s, d) => {
        import s.implicits._
        val a = customer(s, d).filter($"c_mktsegment" === "AUTOMOBILE").select($"c_custkey")
        val b = orders(s, d).filter($"o_orderpriority" === "1-URGENT")
          .select($"o_custkey".as("c_custkey"))
        a.union(b).distinct().orderBy($"c_custkey")
      },
      Some("""SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
             |UNION
             |SELECT o_custkey AS c_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
             |ORDER BY c_custkey""".stripMargin)
    ),

    "q_except" -> QueryDef(
      (s, d) => {
        import s.implicits._
        customer(s, d).select($"c_custkey")
          .except(orders(s, d).select($"o_custkey".as("c_custkey")))
          .orderBy($"c_custkey")
      },
      Some("""SELECT c_custkey FROM customer
             |EXCEPT
             |SELECT o_custkey AS c_custkey FROM orders
             |ORDER BY c_custkey""".stripMargin)
    ),

    "q_intersect" -> QueryDef(
      (s, d) => {
        import s.implicits._
        customer(s, d).filter($"c_acctbal" > 0).select($"c_custkey")
          .intersect(orders(s, d).filter($"o_orderstatus" === "F")
            .select($"o_custkey".as("c_custkey")))
          .orderBy($"c_custkey")
      },
      Some("""SELECT c_custkey FROM customer WHERE c_acctbal > 0
             |INTERSECT
             |SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'F'
             |ORDER BY c_custkey""".stripMargin)
    ),

    // ---------------------------------------------------------- scalar funcs
    "q_string_funcs" -> QueryDef(
      (s, d) => {
        import s.implicits._
        part(s, d)
          .select(
            $"p_partkey",
            upper($"p_name").as("u_name"),
            substring($"p_name", 1, 8).as("pre8"),
            concat_ws("|", $"p_brand", $"p_type").as("brand_type"),
            length($"p_name").cast("long").as("name_len"),
            $"p_name".like("%a%").as("has_a"))
          .orderBy($"p_partkey")
      },
      Some("""SELECT p_partkey, UPPER(p_name) AS u_name, SUBSTRING(p_name, 1, 8) AS pre8,
             |  CONCAT_WS('|', p_brand, p_type) AS brand_type,
             |  CAST(LENGTH(p_name) AS BIGINT) AS name_len,
             |  (p_name LIKE '%a%') AS has_a
             |FROM part ORDER BY p_partkey""".stripMargin)
    ),

    "q_regex_funcs" -> QueryDef(
      // Patterns kept to the POSIX-ish common subset so Java regex (Spark)
      // and RE2 (DuckDB) agree.
      (s, d) => {
        import s.implicits._
        part(s, d)
          .select(
            $"p_partkey",
            regexp_extract($"p_name", "([a-z]+)$", 1).as("last_word"),
            regexp_replace($"p_name", "[aeiou]", "_").as("devoweled"),
            $"p_name".rlike("^[a-z]+ ").as("starts_word"))
          .orderBy($"p_partkey")
      },
      Some("""SELECT p_partkey,
             |  regexp_extract(p_name, '([a-z]+)$', 1) AS last_word,
             |  regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled,
             |  regexp_matches(p_name, '^[a-z]+ ') AS starts_word
             |FROM part ORDER BY p_partkey""".stripMargin)
    ),

    "q_date_funcs" -> QueryDef(
      (s, d) => {
        import s.implicits._
        orders(s, d)
          .select(
            $"o_orderkey",
            year($"o_orderdate").cast("long").as("o_year"),
            month($"o_orderdate").cast("long").as("o_month"),
            date_trunc("month", $"o_orderdate").as("month_start"),
            datediff($"o_orderdate", lit("1995-01-01").cast("date")).cast("long").as("days_since_95"))
          .orderBy($"o_orderkey")
      },
      Some("""SELECT o_orderkey,
             |  CAST(YEAR(o_orderdate) AS BIGINT) AS o_year,
             |  CAST(MONTH(o_orderdate) AS BIGINT) AS o_month,
             |  CAST(DATE_TRUNC('month', o_orderdate) AS TIMESTAMP) AS month_start,
             |  CAST(DATE_DIFF('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS days_since_95
             |FROM orders ORDER BY o_orderkey""".stripMargin)
    ),

    "q_date_arith" -> QueryDef(
      // Calendar arithmetic: month shifting, month-end snapping, weekday.
      // Weekday numbering differs (Spark 1=Sunday, DuckDB 0=Sunday) — the
      // oracle aligns explicitly.
      (s, d) => {
        import s.implicits._
        orders(s, d)
          .select(
            $"o_orderkey",
            add_months($"o_orderdate", 3).cast("date").as("plus3m"),
            last_day($"o_orderdate").cast("date").as("month_end"),
            (dayofweek($"o_orderdate") - 1).cast("long").as("dow0"),
            quarter($"o_orderdate").cast("long").as("q"))
          .orderBy($"o_orderkey")
      },
      Some("""SELECT o_orderkey,
             |  CAST(o_orderdate + INTERVAL 3 MONTH AS DATE) AS plus3m,
             |  last_day(CAST(o_orderdate AS DATE)) AS month_end,
             |  CAST(dayofweek(o_orderdate) AS BIGINT) AS dow0,
             |  CAST(quarter(o_orderdate) AS BIGINT) AS q
             |FROM orders ORDER BY o_orderkey""".stripMargin)
    ),

    "q_bitwise_funcs" -> QueryDef(
      (s, d) => {
        import s.implicits._
        part(s, d)
          .select(
            $"p_partkey",
            ($"p_partkey".bitwiseAND(lit(255L))).as("low8"),
            ($"p_partkey".bitwiseOR(lit(1L))).as("odd_or"),
            ($"p_partkey".bitwiseXOR($"p_size".cast("long"))).as("xored"),
            shiftleft($"p_partkey", 2).as("shl2"))
          .orderBy($"p_partkey")
      },
      Some("""SELECT p_partkey,
             |  p_partkey & 255 AS low8,
             |  p_partkey | 1 AS odd_or,
             |  xor(p_partkey, CAST(p_size AS BIGINT)) AS xored,
             |  p_partkey << 2 AS shl2
             |FROM part ORDER BY p_partkey""".stripMargin)
    ),

    "q_math_funcs" -> QueryDef(
      (s, d) => {
        import s.implicits._
        part(s, d)
          .select(
            $"p_partkey",
            round(dec($"p_retailprice"), 1).cast("double").as("price_r1"),
            abs($"p_size" - 25).cast("long").as("size_dist"),
            pow($"p_size", 2).as("size_sq"),
            greatest($"p_size", lit(25)).cast("long").as("size_floor25"))
          .orderBy($"p_partkey")
      },
      Some("""SELECT p_partkey,
             |  CAST(ROUND(CAST(p_retailprice AS DECIMAL(12,2)), 1) AS DOUBLE) AS price_r1,
             |  CAST(ABS(p_size - 25) AS BIGINT) AS size_dist,
             |  POW(p_size, 2) AS size_sq,
             |  CAST(GREATEST(p_size, 25) AS BIGINT) AS size_floor25
             |FROM part ORDER BY p_partkey""".stripMargin)
    ),

    "q_map_funcs" -> QueryDef(
      (s, d) => {
        import s.implicits._
        part(s, d)
          .withColumn("m", map(lit("brand"), $"p_brand", lit("type"), $"p_type"))
          .select(
            $"p_partkey",
            element_at($"m", "brand").as("brand_v"),
            size(map_keys($"m")).cast("long").as("n_keys"),
            array_contains(map_keys($"m"), "type").as("has_type"))
          .orderBy($"p_partkey")
      },
      Some("""SELECT p_partkey,
             |  map_extract(map(['brand','type'], [p_brand, p_type]), 'brand')[1] AS brand_v,
             |  CAST(cardinality(map(['brand','type'], [p_brand, p_type])) AS BIGINT) AS n_keys,
             |  list_contains(map_keys(map(['brand','type'], [p_brand, p_type])), 'type') AS has_type
             |FROM part ORDER BY p_partkey""".stripMargin)
    ),

    "q_struct_funcs" -> QueryDef(
      (s, d) => {
        import s.implicits._
        customer(s, d)
          .withColumn("st", struct($"c_name".as("name"), $"c_acctbal".as("bal")))
          .select(
            $"c_custkey",
            $"st.name".as("name_v"),
            ($"st.bal" > 0).as("positive"))
          .orderBy($"c_custkey")
      },
      Some("""SELECT c_custkey,
             |  struct_pack(name := c_name, bal := c_acctbal).name AS name_v,
             |  (struct_pack(name := c_name, bal := c_acctbal).bal > 0) AS positive
             |FROM customer ORDER BY c_custkey""".stripMargin)
    ),

    "q_conditional_funcs" -> QueryDef(
      (s, d) => {
        import s.implicits._
        customer(s, d)
          .select(
            $"c_custkey",
            coalesce(nullif($"c_mktsegment", lit("AUTOMOBILE")), lit("OTHER")).as("seg_or_other"),
            when($"c_acctbal" < 0, "debt").when($"c_acctbal" < 1000, "low").otherwise("high").as("bal_band"),
            least($"c_nationkey", lit(10)).cast("long").as("nk_cap"))
          .orderBy($"c_custkey")
      },
      Some("""SELECT c_custkey,
             |  COALESCE(NULLIF(c_mktsegment, 'AUTOMOBILE'), 'OTHER') AS seg_or_other,
             |  CASE WHEN c_acctbal < 0 THEN 'debt' WHEN c_acctbal < 1000 THEN 'low' ELSE 'high' END AS bal_band,
             |  CAST(LEAST(c_nationkey, 10) AS BIGINT) AS nk_cap
             |FROM customer ORDER BY c_custkey""".stripMargin)
    ),

    "q_sample_hash" -> QueryDef(
      // Deterministic ~1/16 sample by md5 bucket — the reproducible,
      // engine-independent way to sample at scale (TABLESAMPLE is neither).
      (s, d) => {
        import s.implicits._
        orders(s, d)
          .filter(substring(md5($"o_orderkey".cast("string")), 1, 1) === "0")
          .select($"o_orderkey", $"o_custkey", $"o_totalprice")
          .orderBy($"o_orderkey")
      },
      Some("""SELECT o_orderkey, o_custkey, o_totalprice
             |FROM orders
             |WHERE substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) = '0'
             |ORDER BY o_orderkey""".stripMargin)
    ),

    "q_sample_stratified" -> QueryDef(
      // Stratified deterministic sampling: per-stratum rates via md5 hex
      // prefix of the row key (purchase 1/1, signup 1/4, view 1/8, rest
      // 1/16) — the downsample-common/keep-rare shape of training-data
      // curation, reproducible across engines and runs (unlike TABLESAMPLE
      // or rand()). Map-only: the predicate evaluates per row with no
      // shuffle and composes with pushdown on the stratum column.
      (s, d) => {
        import s.implicits._
        val h = substring(md5($"event_id".cast("string")), 1, 1)
        events(s, d)
          .filter(
            when($"event_type" === "purchase", lit(true))
              .when($"event_type" === "signup", h.isin("0", "1", "2", "3"))
              .when($"event_type" === "view", h.isin("0", "1"))
              .otherwise(h === "0"))
          .select($"event_id", $"event_type", $"user_id")
          .orderBy($"event_id")
      },
      Some("""SELECT event_id, event_type, user_id
             |FROM events
             |WHERE CASE
             |  WHEN event_type = 'purchase' THEN TRUE
             |  WHEN event_type = 'signup' THEN substring(md5(CAST(event_id AS VARCHAR)), 1, 1) IN ('0', '1', '2', '3')
             |  WHEN event_type = 'view' THEN substring(md5(CAST(event_id AS VARCHAR)), 1, 1) IN ('0', '1')
             |  ELSE substring(md5(CAST(event_id AS VARCHAR)), 1, 1) = '0' END
             |ORDER BY event_id""".stripMargin)
    ),

    "q_agg_argmax" -> QueryDef(
      // arg-max with a composite deterministic ordering key (cents ⊕ orderkey)
      (s, d) => {
        import s.implicits._
        orders(s, d)
          .withColumn("ord_key",
            round($"o_totalprice" * 100, 0).cast("long") * 10000000L + $"o_orderkey")
          .groupBy($"o_orderpriority")
          .agg(
            max_by($"o_orderkey", $"ord_key").as("top_order"),
            max($"o_totalprice").as("top_price"))
          .orderBy($"o_orderpriority")
      },
      Some("""SELECT o_orderpriority,
             |  arg_max(o_orderkey, CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) * 10000000 + o_orderkey) AS top_order,
             |  MAX(o_totalprice) AS top_price
             |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
    ),

    "q_having" -> QueryDef(
      (s, d) => {
        import s.implicits._
        orders(s, d)
          .groupBy($"o_custkey")
          .agg(count(lit(1)).as("n_orders"), sumMoney($"o_totalprice").as("spend"))
          .filter($"n_orders" >= 15)
          .orderBy($"o_custkey")
      },
      Some("""SELECT o_custkey, COUNT(*) AS n_orders,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS spend
             |FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 15
             |ORDER BY o_custkey""".stripMargin)
    ),

    "q_json_extract" -> QueryDef(
      // Typed extraction from a JSON props column. The fused scanner
      // (JsonGetScalar) replaces get_json_object's per-row Jackson parser
      // setup — the dominant cost on tiny flat documents — and is
      // value-identical under the long cast for EVERY input (structural
      // values null out through the cast either way; Round11OpsSpec pins
      // the raw-extraction parity). Predicate pushdown duplicates the
      // extraction into the filter, which is why the per-call cost matters
      // twice here.
      (s, d) => {
        import s.implicits._
        events(s, d)
          .select(
            $"event_id",
            graft.functions.JsonGetScalar.jsonGetScalar(s, $"props", "k")
              .cast("long").as("k_val"))
          .filter($"k_val" > 50)
          .orderBy($"event_id")
      },
      Some("""SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val
             |FROM events
             |WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) > 50
             |ORDER BY event_id""".stripMargin)
    ),

    "q_array_funcs" -> QueryDef(
      // Higher-order functions on the embedding column: codegen-friendly, no
      // UDF. Float→double casts keep the fold order-identical across engines.
      (s, d) => {
        import s.implicits._
        embeddings(s, d)
          .select(
            $"vec_id",
            size($"embedding").cast("long").as("dim"),
            expr("aggregate(slice(embedding, 1, 8), CAST(0.0 AS DOUBLE), (acc, x) -> acc + CAST(x AS DOUBLE))")
              .as("sum_first8"),
            expr("CAST(aggregate(embedding, 0L, (acc, x) -> acc + CASE WHEN x > 0 THEN 1L ELSE 0L END) AS BIGINT)")
              .as("n_positive"))
          .orderBy($"vec_id")
      },
      Some("""SELECT vec_id, CAST(LEN(embedding) AS BIGINT) AS dim,
             |  LIST_SUM(LIST_TRANSFORM(embedding[1:8], x -> CAST(x AS DOUBLE))) AS sum_first8,
             |  CAST(LEN(LIST_FILTER(embedding, x -> x > 0)) AS BIGINT) AS n_positive
             |FROM embeddings ORDER BY vec_id""".stripMargin)
    ),

    // ---------------------------------------------------------- analytics
    "q_sessionize" -> QueryDef(
      // Batch sessionization: assign every EVENT its (user-scoped) session
      // sequence number and position — the per-row complement of
      // q_stream_session's per-window aggregate, and the building block for
      // funnel/attribution work. Gaps compare in integer MICROSECONDS
      // (unix_micros / epoch_us) so the 30-min boundary is exact in both
      // engines — a seconds-truncated diff would disagree with an interval
      // comparison on sub-second timestamps. One shuffle on user_id; both
      // window passes and the final row_number reuse the same partitioning.
      (s, d) => {
        import s.implicits._
        val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
        events(s, d)
          .withColumn("prev_us", lag(unix_micros($"ts"), 1).over(w))
          .withColumn("brk",
            when($"prev_us".isNull ||
              unix_micros($"ts") - $"prev_us" >= 1800000000L, 1L).otherwise(0L))
          .withColumn("session_seq",
            sum($"brk").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("event_seq", row_number().over(
            Window.partitionBy($"user_id", $"session_seq").orderBy($"ts", $"event_id"))
            .cast("long"))
          .select($"event_id", $"user_id", $"session_seq", $"event_seq")
          .orderBy($"event_id")
      },
      Some("""WITH g AS (
             |  SELECT event_id, user_id, ts,
             |    CASE WHEN LAG(ts) OVER w IS NULL
             |           OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) >= 1800000000
             |         THEN 1 ELSE 0 END AS brk
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |sess AS (
             |  SELECT event_id, user_id, ts,
             |    CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
             |  FROM g)
             |SELECT event_id, user_id, session_seq,
             |  CAST(ROW_NUMBER() OVER (PARTITION BY user_id, session_seq
             |    ORDER BY ts, event_id) AS BIGINT) AS event_seq
             |FROM sess ORDER BY event_id""".stripMargin)
    ),

    "q_stats_corr" -> QueryDef(
      // Pearson correlation + sample covariance per group, from EXACT
      // decimal partials (n, Σx, Σy, Σx², Σy², Σxy) — the q_agg_variance
      // recipe extended to two variables. Built-in corr()/covar_samp()
      // accumulate doubles in partition order (non-deterministic across
      // engines and even across runs); exact sums are order-independent and
      // partial-aggregatable (map-side combine), then ONE double expression
      // per group computes the statistic identically in both engines.
      (s, d) => {
        import s.implicits._
        val x = dec($"l_quantity", 14, 2)
        val y = dec($"l_extendedprice", 14, 2)
        lineitem(s, d)
          .groupBy($"l_returnflag")
          .agg(
            count(lit(1)).as("n"),
            sum(x).as("sx"), sum(y).as("sy"),
            sum(x * x).as("sxx"), sum(y * y).as("syy"), sum(x * y).as("sxy"))
          .select($"l_returnflag", $"n",
            round(
              ($"n".cast("double") * $"sxy".cast("double") -
                $"sx".cast("double") * $"sy".cast("double")) /
                (sqrt($"n".cast("double") * $"sxx".cast("double") -
                  $"sx".cast("double") * $"sx".cast("double")) *
                  sqrt($"n".cast("double") * $"syy".cast("double") -
                    $"sy".cast("double") * $"sy".cast("double"))), 6)
              .as("corr_qty_price"),
            round(
              ($"sxy".cast("double") -
                $"sx".cast("double") * $"sy".cast("double") / $"n".cast("double")) /
                ($"n".cast("double") - 1.0), 6)
              .as("covar_qty_price"))
          .orderBy($"l_returnflag")
      },
      Some("""WITH p AS (
             |  SELECT l_returnflag, COUNT(*) AS n,
             |    SUM(CAST(l_quantity AS DECIMAL(14,2))) AS sx,
             |    SUM(CAST(l_extendedprice AS DECIMAL(14,2))) AS sy,
             |    SUM(CAST(l_quantity AS DECIMAL(14,2)) * CAST(l_quantity AS DECIMAL(14,2))) AS sxx,
             |    SUM(CAST(l_extendedprice AS DECIMAL(14,2)) * CAST(l_extendedprice AS DECIMAL(14,2))) AS syy,
             |    SUM(CAST(l_quantity AS DECIMAL(14,2)) * CAST(l_extendedprice AS DECIMAL(14,2))) AS sxy
             |  FROM lineitem GROUP BY l_returnflag)
             |SELECT l_returnflag, n,
             |  ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             |    / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
             |     * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
             |    AS corr_qty_price,
             |  ROUND((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
             |    / (CAST(n AS DOUBLE) - 1.0), 6) AS covar_qty_price
             |FROM p ORDER BY l_returnflag""".stripMargin)
    ),

    "q_histogram" -> QueryDef(
      // Fixed-width histogram of order totals: bucket assignment is pure
      // map-side arithmetic (floor of a double divide, clamped), the count
      // is a partial-aggregatable groupBy on ≤ 20 keys — the profile-a-
      // column primitive that costs one scan + one tiny shuffle at any
      // scale.
      (s, d) => {
        import s.implicits._
        orders(s, d)
          .withColumn("bucket",
            least(lit(19L), greatest(lit(0L), floor($"o_totalprice" / 30000.0d))))
          .groupBy($"bucket")
          .agg(count(lit(1)).as("n_orders"), sumMoney($"o_totalprice").as("total_price"))
          .withColumn("lo", ($"bucket" * 30000L).cast("double"))
          .select($"bucket", $"lo", $"n_orders", $"total_price")
          .orderBy($"bucket")
      },
      Some("""SELECT CAST(LEAST(19, GREATEST(0, FLOOR(o_totalprice / 30000.0))) AS BIGINT) AS bucket,
             |  CAST(CAST(LEAST(19, GREATEST(0, FLOOR(o_totalprice / 30000.0))) AS BIGINT) * 30000 AS DOUBLE) AS lo,
             |  COUNT(*) AS n_orders,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price
             |FROM orders GROUP BY 1, 2 ORDER BY bucket""".stripMargin)
    ),

    "q_anomaly_zscore" -> QueryDef(
      // Per-customer spend outliers: z-score each order against its
      // customer's mean/stddev, flag z ≥ 1.5. Moments come from the exact
      // decimal partials (order-independent, map-side combinable); the
      // stats side is already partitioned by custkey after its groupBy, so
      // the re-join adds no exchange on that side, and AQE picks broadcast
      // when the per-key stats table is small. The anomaly-detection shape
      // for data-quality gates over training corpora.
      (s, d) => {
        import s.implicits._
        val x = dec($"o_totalprice", 14, 2)
        val stats = orders(s, d)
          .groupBy($"o_custkey")
          .agg(count(lit(1)).as("n"), sum(x).as("sx"), sum(x * x).as("sxx"))
          .filter($"n" >= 5)
          .withColumn("nd", $"n".cast("double"))
          .withColumn("mean", $"sx".cast("double") / $"nd")
          .withColumn("varr",
            ($"sxx".cast("double") - $"sx".cast("double") * $"sx".cast("double") / $"nd") /
              ($"nd" - 1.0))
          .filter($"varr" > 0.0)
          .select($"o_custkey", $"mean", sqrt($"varr").as("std"))
        orders(s, d)
          .join(stats, Seq("o_custkey"))
          .withColumn("z", ($"o_totalprice" - $"mean") / $"std")
          .filter($"z" >= 1.5)
          .select($"o_orderkey", $"o_custkey", round($"z", 4).as("z"))
          .orderBy($"o_orderkey")
      },
      Some("""WITH p AS (
             |  SELECT o_custkey, COUNT(*) AS n,
             |    SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS sx,
             |    SUM(CAST(o_totalprice AS DECIMAL(14,2)) * CAST(o_totalprice AS DECIMAL(14,2))) AS sxx
             |  FROM orders GROUP BY o_custkey),
             |st AS (
             |  SELECT o_custkey,
             |    CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
             |    (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
             |      / (CAST(n AS DOUBLE) - 1.0) AS varr
             |  FROM p WHERE n >= 5),
             |z AS (
             |  SELECT o.o_orderkey, o.o_custkey,
             |    (o.o_totalprice - st.mean) / sqrt(st.varr) AS z
             |  FROM orders o JOIN st USING (o_custkey)
             |  WHERE st.varr > 0)
             |SELECT o_orderkey, o_custkey, ROUND(z, 4) AS z
             |FROM z WHERE z >= 1.5 ORDER BY o_orderkey""".stripMargin)
    ),

    "q_scd_intervals" -> QueryDef(
      // SCD type-2 construction: each event becomes a validity interval
      // [ts, next event's ts) per user via lead() — the change-log →
      // dimension-history transform every warehouse maintains. The open
      // current row keeps a NULL valid_to. One shuffle on user_id; interval
      // assembly is a single window pass over it.
      (s, d) => {
        import s.implicits._
        val w = Window.partitionBy($"user_id").orderBy($"valid_from", $"event_id")
        events(s, d)
          .select($"event_id", $"user_id", $"event_type", $"ts".as("valid_from"))
          .withColumn("valid_to", lead($"valid_from", 1).over(w))
          .withColumn("is_current", $"valid_to".isNull)
          .orderBy($"event_id")
      },
      Some("""SELECT event_id, user_id, event_type, ts AS valid_from,
             |  LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
             |  LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL AS is_current
             |FROM events ORDER BY event_id""".stripMargin)
    ),

    "q_event_paths" -> QueryDef(
      // Path analysis: global top-20 event-type transitions (bigrams of
      // consecutive events per user). lead() over the per-user timeline —
      // the same single user_id shuffle as sessionization — then a tiny
      // partial-aggregatable count; the sequence-mining primitive behind
      // funnel discovery.
      (s, d) => {
        import s.implicits._
        val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
        events(s, d)
          .select($"user_id", $"ts", $"event_id", $"event_type")
          .withColumn("next_type", lead($"event_type", 1).over(w))
          .filter($"next_type".isNotNull)
          .groupBy($"event_type", $"next_type")
          .agg(count(lit(1)).as("n"))
          // top-20 via limit → TakeOrderedAndProject, then rank the 20
          // survivors in a window that is single-partition by construction
          // (non-foldable constant key — a literal would fold out of the
          // partitionSpec; same pattern as pagerank). coalesce: event_type
          // is nullable, and a null key would open a second partition that
          // restarts rnk at 1.
          .orderBy($"n".desc, $"event_type", $"next_type").limit(20)
          .withColumn("rnk", row_number().over(
            Window.partitionBy(coalesce(length($"event_type") * 0, lit(0)))
              .orderBy($"n".desc, $"event_type", $"next_type")).cast("long"))
          .select($"rnk", $"event_type", $"next_type", $"n")
          .orderBy($"rnk")
      },
      Some("""WITH t AS (
             |  SELECT event_type,
             |    LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
             |  FROM events),
             |c AS (
             |  SELECT event_type, next_type, COUNT(*) AS n FROM t
             |  WHERE next_type IS NOT NULL GROUP BY 1, 2)
             |SELECT rnk, event_type, next_type, n FROM (
             |  SELECT event_type, next_type, n,
             |    CAST(ROW_NUMBER() OVER (ORDER BY n DESC, event_type, next_type) AS BIGINT) AS rnk
             |  FROM c) x
             |WHERE rnk <= 20 ORDER BY rnk""".stripMargin)
    ),

    "q_graph_pagerank" -> QueryDef(
      // Fixed-iteration PageRank (3 rounds, d = 0.85) over the undirected
      // customer↔supplier trade graph — iterative whole-graph analytics
      // beyond connected components (graft.operators.PageRank: the
      // numeric-portability contract, and the driver branch a subcritical
      // graph takes). Contributions quantize to a 1e-14 grid as SCALED
      // LONGS (round of identical doubles — double→decimal casts are NOT
      // portable, DuckDB truncates where Spark rounds half-up) so the
      // per-node sum is exact integer math. Rounds are a fixed count (no
      // convergence test), so the oracle unrolls the same three CTE
      // iterations. Top-20 hubs by (rank, id) keep the output bounded.
      (s, d) => graft.operators.PageRank.top(s, pageRankPairs(s, d)),
      Some {
        def iter(k: Int): String =
          s"""r${k + 1} AS (
             |  SELECT e.dst AS id,
             |    ROUND(0.15 / (SELECT nd FROM nn) +
             |      0.85 * (CAST(SUM(CAST(ROUND(r.r / d.degd * 1.0e14) AS BIGINT)) AS DOUBLE) / 1.0e14), 10) AS r
             |  FROM edges e JOIN r$k r ON r.id = e.src JOIN deg d ON d.id = e.src
             |  GROUP BY e.dst)""".stripMargin
        s"""WITH pairs AS (
           |  SELECT DISTINCT o.o_custkey AS c, l.l_suppkey + 1000000 AS p
           |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
           |  WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'),
           |edges AS (
           |  SELECT c AS src, p AS dst FROM pairs
           |  UNION ALL SELECT p, c FROM pairs),
           |deg AS (
           |  SELECT src AS id, CAST(COUNT(*) AS DOUBLE) AS degd
           |  FROM edges GROUP BY src),
           |nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nd FROM deg),
           |r0 AS (SELECT id, 1.0 / (SELECT nd FROM nn) AS r FROM deg),
           |${iter(0)},
           |${iter(1)},
           |${iter(2)}
           |SELECT rnk, id, r FROM (
           |  SELECT id, r,
           |    CAST(ROW_NUMBER() OVER (ORDER BY r DESC, id) AS BIGINT) AS rnk
           |  FROM r3) t
           |WHERE rnk <= 20 ORDER BY rnk""".stripMargin
      }
    ),

    "q_incremental_agg" -> QueryDef(
      // Incremental materialized-view maintenance: the standing aggregate is
      // kept as mergeable PARTIALS (n, exact decimal sums); a new data slice
      // computes the same partials over only its rows and a combine step
      // folds them in — never a recompute over the base. The oracle is the
      // direct full-table aggregate, certifying combine(base, delta) ≡
      // recompute. Exact decimal partials make the merge associative to the
      // bit; finals (avg) derive only at read time. At 100 TB this is the
      // difference between touching a day of data and touching all of it.
      (s, d) => {
        import s.implicits._
        val cutoff = lit("1996-01-01").cast("timestamp")
        def partials(df: org.apache.spark.sql.DataFrame) =
          df.groupBy($"l_returnflag").agg(
            count(lit(1)).as("n"),
            sum(dec($"l_quantity")).as("sq"),
            sum(dec($"l_extendedprice")).as("sp"))
        val base = partials(lineitem(s, d).filter($"l_shipdate" < cutoff))
        val delta = partials(lineitem(s, d).filter($"l_shipdate" >= cutoff))
        base.unionByName(delta)
          .groupBy($"l_returnflag")
          .agg(sum($"n").as("n_rows"), sum($"sq").as("sqm"), sum($"sp").as("spm"))
          .select($"l_returnflag", $"n_rows",
            $"sqm".cast("double").as("sum_qty"),
            round($"spm".cast("double") / $"n_rows".cast("double"), 4).as("avg_price"))
          .orderBy($"l_returnflag")
      },
      Some("""SELECT l_returnflag, COUNT(*) AS n_rows,
             |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
             |  ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
             |    / CAST(COUNT(*) AS DOUBLE), 4) AS avg_price
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
    )
  )

  /** `q_graph_pagerank`'s graph: the distinct customer↔supplier pairs of
    * one trade year (the filter lands in the parquet scan; the iteration
    * cost is linear in edges either way). Suppliers are offset into their
    * own id space so the bipartite node sets never collide.
    */
  private[graft] def pageRankPairs(
      s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    lineitem(s, d)
      .filter($"l_shipdate" >= lit("1997-01-01").cast("timestamp"))
      .select($"l_orderkey", $"l_suppkey")
      .join(orders(s, d).select($"o_orderkey", $"o_custkey"),
        $"l_orderkey" === $"o_orderkey")
      .select($"o_custkey".as("c"), ($"l_suppkey" + 1000000L).as("p"))
      .distinct()
  }
}
