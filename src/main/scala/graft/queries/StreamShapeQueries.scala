package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.tables.Tables._
import Q._

/** Event-time windowing shapes (SURVEY.md §2B `q_stream_*`).
  *
  * `window()` and `session_window()` are the exact operators the streaming
  * path uses (graft.streaming wires them behind `readStream` + watermark);
  * run here in batch mode so the driver can oracle-verify the semantics —
  * batch and streaming share the same Catalyst windowing logic, so this
  * verifies the streaming aggregation itself, not a lookalike.
  */
object StreamShapeQueries {

  /** The file-stream source tails a DIRECTORY; the testdata table is a
    * single parquet file, so expose it through a symlinked temp dir (at
    * scale the source would already be a date-partitioned prefix). Shared
    * by every real-readStream query.
    */
  private[queries] def streamSourceDir(d: String, table: String = "events"): String = {
    val src = java.nio.file.Paths.get(d, s"$table.parquet").toAbsolutePath
    val dir = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"),
      s"graft_stream_$table" + d.replaceAll("[^A-Za-z0-9]", "_"))
    java.nio.file.Files.createDirectories(dir)
    val link = dir.resolve(s"$table.parquet")
    // NOFOLLOW: a stale link to a vanished target must be replaced, and
    // plain exists() would follow it and report false. Both the delete and
    // the create race a concurrent JVM (e.g. Bench and Verify on the same
    // dataset) between check and act — each loser is benign (the winner
    // left the identical link), so swallow the specific collisions.
    try {
      if (java.nio.file.Files.exists(link, java.nio.file.LinkOption.NOFOLLOW_LINKS)
          && !java.nio.file.Files.exists(link))
        java.nio.file.Files.delete(link)
    } catch { case _: java.nio.file.NoSuchFileException => () }
    try {
      if (!java.nio.file.Files.exists(link, java.nio.file.LinkOption.NOFOLLOW_LINKS))
        java.nio.file.Files.createSymbolicLink(link, src)
    } catch { case _: java.nio.file.FileAlreadyExistsException => () }
    dir.toString
  }

  /** Body of q_stream_decontaminate (and q_stream_decontaminate_bc, which
    * runs the same mechanism): stateless stream projection flagging each
    * arriving doc against the benchmark Bloom bitmap through
    * `PipelineQueries.streamBloomGate`'s broadcast-variable probe.
    */
  private def streamDecontaminate(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (_, bloomHit) = graft.queries.PipelineQueries.streamBloomGate(s, d)
    val name = "q_stream_decon_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    graft.streaming.StreamOps.withRightSizedStreaming(s, 4, noDataBatches = false) {
      val flagged = graft.streaming.StreamOps
        .readEventStream(s, streamSourceDir(d, "documents"))
        .filter(pmod($"doc_id", lit(31)) =!= 0)
        .select($"doc_id", split($"text", " ").as("tok"))
        .filter(size($"tok") >= 5)
        // fused gram assembly (element-identical to Q.grams5Sql — Round11OpsSpec)
        .withColumn("grams", graft.functions.Grams5.grams5(s, $"tok"))
        .select($"doc_id", size($"grams").cast("long").as("n_grams"),
          bloomHit($"grams").as("bloom_hit"))
      val q = graft.streaming.StreamOps.runToMemory(flagged, name)
      q.awaitTermination()
    }
    val out = s.table(name).orderBy($"doc_id").localCheckpoint()
    s.catalog.dropTempView(name)
    out
  }

  private val streamDecontaminateOracle: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tok FROM documents),
      |g AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(range(0, len(tok)-4),
      |    i -> array_to_string(tok[i+1:i+5], ' ')))) AS g
      |  FROM t WHERE len(tok) >= 5),
      |bg AS (SELECT DISTINCT g FROM g WHERE doc_id % 31 = 0),
      |p AS (
      |  SELECT CASE WHEN 64 * COUNT(*) <= 65536 THEN 65536::BIGINT
      |              WHEN CEIL(LOG2(64.0 * COUNT(*))) >= 32 THEN (1::BIGINT << 32)
      |              ELSE (1::BIGINT << CAST(CEIL(LOG2(64.0 * COUNT(*))) AS INT)) END AS mbits
      |  FROM bg),
      |bits AS (
      |  SELECT unnest([('0x' || substring(md5(g), 1, 8))::BIGINT % (SELECT mbits FROM p),
      |                 ('0x' || substring(md5(g), 9, 8))::BIGINT % (SELECT mbits FROM p)]) AS bit
      |  FROM bg),
      |words AS (
      |  SELECT bit // 63 AS w, bit_or(1::BIGINT << CAST(bit % 63 AS INT)) AS word
      |  FROM bits GROUP BY 1),
      |probe AS (
      |  SELECT doc_id, g,
      |    ('0x' || substring(md5(g), 1, 8))::BIGINT % (SELECT mbits FROM p) AS h1,
      |    ('0x' || substring(md5(g), 9, 8))::BIGINT % (SELECT mbits FROM p) AS h2
      |  FROM g WHERE doc_id % 31 != 0),
      |f AS (
      |  SELECT p.doc_id,
      |    COALESCE(w1.word, 0) & (1::BIGINT << CAST(p.h1 % 63 AS INT)) != 0 AND
      |    COALESCE(w2.word, 0) & (1::BIGINT << CAST(p.h2 % 63 AS INT)) != 0 AS hit
      |  FROM probe p
      |  LEFT JOIN words w1 ON p.h1 // 63 = w1.w
      |  LEFT JOIN words w2 ON p.h2 // 63 = w2.w)
      |SELECT doc_id, COUNT(*) AS n_grams, BOOL_OR(hit) AS bloom_hit
      |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** q_stream_curate's per-doc gate chain — the quality gate (fused Gopher
    * kernels) and the Bloom decontamination probe — as a reusable STATELESS
    * transform: applied to the stream by the query entry and to the same
    * docs batch-side by `StreamCurateSoakSpec` (streaming/batch equivalence
    * is exactly what stateless gates guarantee). The fused kernels are
    * single opaque expressions, so the downstream Filter's pushdown
    * inlining evaluates each ONCE per row (the zip_with maxRunSql safety).
    */
  private[graft] def curateGates(
      s: SparkSession,
      bloomHit: org.apache.spark.sql.Column => org.apache.spark.sql.Column
  ): DataFrame => DataFrame = df => df
    .withColumn("tok", split(col("text"), " "))
    .withColumn("n_tokens", size(col("tok")).cast("long"))
    .withColumn("sum_len", graft.functions.GopherKernels.tokCharSum(s, col("tok")))
    .withColumn("top_cnt", graft.functions.GopherKernels.maxRunSorted(s, col("tok")))
    .withColumn("n_stop", graft.functions.GopherKernels.stopwordHits(s, col("tok")))
    .filter(col("n_tokens").between(40L, 100000L) &&
      col("sum_len") >= col("n_tokens") * 3L &&
      col("sum_len") <= col("n_tokens") * 10L &&
      col("top_cnt") * 5L <= col("n_tokens") &&
      col("n_stop") >= 2)
    .withColumn("grams", graft.functions.Grams5.grams5(s, col("tok")))
    .filter(!bloomHit(col("grams")))
    .select(col("doc_id"), col("text"))

  val entries: Map[String, QueryDef] = Map(
    "q_stream_tumbling" -> QueryDef(
      (s, d) => {
        import s.implicits._
        events(s, d)
          .groupBy(window($"ts", "1 hour"), $"event_type")
          .agg(count(lit(1)).as("n_events"),
            sum(dec($"value")).cast("double").as("total_value"))
          .select(
            $"window.start".as("window_start"),
            $"window.end".as("window_end"),
            $"event_type", $"n_events", $"total_value")
          .orderBy($"window_start", $"event_type")
      },
      Some("""SELECT CAST(DATE_TRUNC('hour', ts) AS TIMESTAMP) AS window_start,
             |  CAST(DATE_TRUNC('hour', ts) + INTERVAL 1 HOUR AS TIMESTAMP) AS window_end,
             |  event_type, COUNT(*) AS n_events,
             |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
             |FROM events
             |GROUP BY 1, 2, 3
             |ORDER BY window_start, event_type""".stripMargin)
    ),

    "q_stream_sliding" -> QueryDef(
      // Sliding windows (1 h window, 30 min slide): window() replicates each
      // event into exactly windowDuration/slide = 2 windows map-side, then
      // the same partial-agg shuffle as tumbling — state per (window, type),
      // never per event. The oracle enumerates the two containing windows
      // per event (epoch-aligned 30-min bucket, minus k·slide for k ∈ {0,1}).
      (s, d) => {
        import s.implicits._
        events(s, d)
          .groupBy(window($"ts", "1 hour", "30 minutes"), $"event_type")
          .agg(count(lit(1)).as("n_events"),
            sum(dec($"value")).cast("double").as("total_value"))
          .select(
            $"window.start".as("window_start"),
            $"window.end".as("window_end"),
            $"event_type", $"n_events", $"total_value")
          .orderBy($"window_start", $"event_type")
      },
      Some("""WITH w AS (
             |  SELECT event_type, value,
             |    CAST(time_bucket(INTERVAL 30 MINUTE, ts) - k.k * INTERVAL 30 MINUTE AS TIMESTAMP) AS window_start
             |  FROM events, (SELECT unnest([0, 1]) AS k) k)
             |SELECT window_start, window_start + INTERVAL 1 HOUR AS window_end,
             |  event_type, COUNT(*) AS n_events,
             |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
             |FROM w GROUP BY 1, 2, 3
             |ORDER BY window_start, event_type""".stripMargin)
    ),

    "q_stream_session" -> QueryDef(
      // Session windows (30-min gap) per user. In Spark a session extends
      // while the next event's ts is strictly inside [start, last+gap); the
      // oracle's gap-and-island SQL starts a new session when diff >= gap —
      // the same boundary rule. session_window shuffles once on user_id.
      (s, d) => {
        import s.implicits._
        events(s, d)
          .groupBy(session_window($"ts", "30 minutes"), $"user_id")
          .agg(count(lit(1)).as("n_events"),
            sum(dec($"value")).cast("double").as("total_value"))
          .select(
            $"user_id",
            $"session_window.start".as("session_start"),
            $"session_window.end".as("session_end"),
            $"n_events", $"total_value")
          .orderBy($"user_id", $"session_start")
      },
      Some("""WITH flags AS (
             |  SELECT user_id, ts, value,
             |    CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
             |           OR ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) >= INTERVAL 30 MINUTE
             |         THEN 1 ELSE 0 END AS new_s
             |  FROM events),
             |sess AS (
             |  SELECT user_id, ts, value,
             |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
             |  FROM flags)
             |SELECT user_id, MIN(ts) AS session_start,
             |  MAX(ts) + INTERVAL 30 MINUTE AS session_end,
             |  COUNT(*) AS n_events,
             |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
             |FROM sess GROUP BY user_id, sid
             |ORDER BY user_id, session_start""".stripMargin)
    ),

    "q_stream_stateful" -> QueryDef(
      // REAL Structured Streaming execution, not a batch stand-in: readStream
      // over the events parquet → flatMapGroupsWithState keyed per user
      // (graft.streaming.StreamOps.runningUserCounters — custom state in the
      // state store, partitioned by key) → AvailableNow into a memory sink.
      // The emitted counters are monotone per user, so max() recovers the
      // final state regardless of how the source chopped batches — which is
      // exactly the batch aggregate the oracle states. Verifies the custom-
      // state operator end-to-end through the streaming engine.
      (s, d) => {
        import s.implicits._
        val name = "q_stream_stateful_" +
          java.util.UUID.randomUUID().toString.replace("-", "")
        // The stateful operator's state-store partition count is pinned from
        // spark.sql.shuffle.partitions at query START (each partition pays a
        // per-batch store open/commit). The user-counter state is keyed by
        // user (thousands of tiny entries), so two partitions carry it; the
        // session default (sized for data shuffles) would spend more on
        // store commits than on data. The helper restores its
        // conf overrides (incl. the ns-parquet toggle the source needs at
        // schema inference, hence construction INSIDE the block) only after
        // awaitTermination (micro-batch planning runs async after start(),
        // so restoring earlier would race the read) and serializes
        // streaming runs JVM-wide.
        graft.streaming.StreamOps.withRightSizedStreaming(s, 2, noDataBatches = false) {
          val raw = graft.streaming.StreamOps.readEventStream(s, streamSourceDir(d))
          val ev = graft.tables.Tables.normalizeEventTs(raw)
            .select($"user_id", $"ts", $"event_type")
            .as[graft.streaming.StreamOps.UserEvent]
          val q = graft.streaming.StreamOps.runToMemory(
            graft.streaming.StreamOps.runningUserCounters(ev).toDF(), name)
          q.awaitTermination()
        }
        // materialize the (tiny) final counters, then drop the memory-sink
        // view so repeated invocations don't retain per-batch output forever
        val out = s.table(name)
          .groupBy($"user_id")
          .agg(max($"n_events").as("n_events"), max($"n_purchases").as("n_purchases"))
          .orderBy($"user_id")
          .localCheckpoint()
        s.catalog.dropTempView(name)
        out
      },
      Some("""SELECT user_id, COUNT(*) AS n_events,
             |  CAST(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS n_purchases
             |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)
    ),

    "q_stream_join" -> QueryDef(
      // REAL stream-stream join through the streaming engine: purchases and
      // signups read as two readStream branches of the event stream, inner-
      // joined on user within a 2-hour event-time horizon. Both sides are
      // watermarked, so the join state is GC'd once the range condition can
      // no longer match — the bounded-state requirement of any 100 TB/day
      // stream-stream join (unbounded state grows forever). AvailableNow +
      // memory sink; the oracle is the equivalent batch self-join.
      (s, d) => {
        import s.implicits._
        val dir = streamSourceDir(d)
        val name = "q_stream_join_" +
          java.util.UUID.randomUUID().toString.replace("-", "")
        // stream-stream join state partitions by the join key; same
        // right-sizing (and restore/serialization discipline) as
        // q_stream_stateful — construction inside the block so the
        // ns-parquet toggle is scoped, not session-leaked
        graft.streaming.StreamOps.withRightSizedStreaming(s, 2, noDataBatches = false) {
          // one replay week bounds the per-run state volume; the
          // bounded-state join semantics are identical at any window length
          def branch(tpe: String) =
            graft.tables.Tables.normalizeEventTs(
              graft.streaming.StreamOps.readEventStream(s, dir))
              .filter($"event_type" === tpe &&
                $"ts" < lit("2024-01-08").cast("timestamp"))
              .select($"event_id", $"user_id", $"ts")
          val joined = graft.streaming.StreamOps.purchasesJoinedToSignups(
            branch("purchase"), branch("signup"))
          val q = graft.streaming.StreamOps.runToMemory(joined, name)
          q.awaitTermination()
        }
        val out = s.table(name)
          .orderBy($"purchase_id", $"signup_ts")
          .localCheckpoint()
        s.catalog.dropTempView(name)
        out
      },
      Some("""SELECT p.event_id AS purchase_id, p.user_id,
             |  p.ts AS purchase_ts, sg.ts AS signup_ts
             |FROM events p JOIN events sg
             |  ON p.user_id = sg.user_id
             |  AND p.event_type = 'purchase' AND sg.event_type = 'signup'
             |  AND p.ts < TIMESTAMP '2024-01-08' AND sg.ts < TIMESTAMP '2024-01-08'
             |  AND sg.ts <= p.ts
             |  AND sg.ts >= p.ts - INTERVAL 2 HOUR
             |ORDER BY purchase_id, signup_ts""".stripMargin)
    ),

    "q_stream_dedup" -> QueryDef(
      // REAL streaming exact-dedup through the engine:
      // dropDuplicatesWithinWatermark keyed on (user_id, event_type) — state
      // holds one entry per key and is GC'd once the watermark passes, the
      // bounded-state form of streaming dedup (plain dropDuplicates grows
      // state forever at 100 TB/day). AvailableNow processes the replay in
      // one batch, where within-watermark dedup ≡ global distinct — which
      // is exactly the batch oracle. Emitted per-key firsts are aggregated
      // to one deterministic row per key.
      (s, d) => {
        import s.implicits._
        val name = "q_stream_dedup_" +
          java.util.UUID.randomUUID().toString.replace("-", "")
        graft.streaming.StreamOps.withRightSizedStreaming(s, 2, noDataBatches = false) {
          val ev = graft.tables.Tables.normalizeEventTs(
            graft.streaming.StreamOps.readEventStream(s, streamSourceDir(d)))
            .select($"user_id", $"event_type", $"ts")
          val deduped = graft.streaming.StreamOps.dedupStream(
            ev, Seq("user_id", "event_type"))
          val q = graft.streaming.StreamOps.runToMemory(
            deduped.select($"user_id", $"event_type"), name)
          q.awaitTermination()
          // The n_emitted=1 oracle relies on the replay landing in ONE
          // micro-batch (within-watermark dedup ≡ global distinct only
          // then; a key whose state was GC'd across batches re-emits).
          // That holds structurally — one source file, no
          // maxFiles/BytesPerTrigger — but assert it so any future source
          // chop fails loudly here instead of as a silent oracle mismatch.
          val dataBatches = q.recentProgress.count(_.numInputRows > 0)
          require(dataBatches <= 1,
            s"q_stream_dedup expects a single-batch replay, saw $dataBatches data batches")
        }
        val out = s.table(name)
          .groupBy($"user_id", $"event_type")
          .agg(count(lit(1)).as("n_emitted"))
          .orderBy($"user_id", $"event_type")
          .localCheckpoint()
        s.catalog.dropTempView(name)
        out
      },
      Some("""SELECT user_id, event_type, CAST(1 AS BIGINT) AS n_emitted
             |FROM events GROUP BY user_id, event_type
             |ORDER BY user_id, event_type""".stripMargin)
    ),

    "q_stream_decontaminate" -> QueryDef(
      // STREAM-SIDE decontamination: every incoming corpus doc is probed
      // against the benchmark Bloom bitmap inside a STATELESS stream
      // projection. No state store, no watermark, no stream-static join:
      // the ingest-firehose filter shape, where a constant-size sketch
      // rides the executors as a broadcast variable (see streamBloomGate)
      // and each doc is flagged the moment it arrives (the batch variant
      // q_decontaminate_bloom is the backfill twin — same bitmap policy,
      // same hashes, same flags). The oracle recomputes the sizing policy
      // and bitmap in SQL, so construction, policy and probe are all
      // hash-verified at every scale; false negatives remain structurally
      // impossible.
      (s, d) => streamDecontaminate(s, d),
      Some(streamDecontaminateOracle)
    ),

    "q_stream_decontaminate_bc" -> QueryDef(
      // The broadcast-variable probe (graft.functions.BloomBcAnyHit —
      // words array as TorrentBroadcast, codegen'd per-doc any-hit loop),
      // the one mechanism q_stream_decontaminate also runs at every bitmap
      // size; kept as a declared key with the shared policy oracle.
      // Round11OpsSpec proves bit-parity with the composed
      // md5/conv/element_at bit test at a real 2^28-bit size.
      (s, d) => streamDecontaminate(s, d),
      Some(streamDecontaminateOracle)
    ),

    "q_stream_decontaminate_semantic" -> QueryDef(
      // STREAM-SIDE SEMANTIC decontamination (round 16) — the third
      // decontamination mechanism gets its streaming twin (verbatim
      // 5-gram and Bloom both have theirs above): every arriving corpus
      // EMBEDDING is flagged against the fixed benchmark suite inside a
      // STATELESS stream projection — no state store, no watermark, no
      // stream-static join. The suite is the round-16 needle-budget
      // artifact (64 needles in deterministic md5 order over the mod-3
      // set — the same suite the budgeted IVF tier trains on), collected
      // once batch-side (64×64 doubles, the bounded benchmark matrix) and
      // riding the executors inside the fused codegen'd probe expression
      // (NeedleProbe.gate: per-needle cosine loop + exact HALF_UP round +
      // family packing per ROW — the exact arm's kernel, so the stream
      // emits the same audit schema: nearest needle, sim4, contam flag,
      // the moment the vector arrives). The oracle is the exact
      // argmax over the same budgeted suite, so the hash certifies the
      // suite cap, the kernel and the stream plumbing at once.
      (s, d) => {
        import s.implicits._
        val needleRows = embeddings(s, d)
          .select($"vec_id",
            expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
          .filter(pmod($"vec_id", lit(3)) === 0)
          .orderBy(md5($"vec_id".cast("string")), $"vec_id").limit(64)
          .collect() // bounded: the fixed 64-needle benchmark matrix
        val probe = graft.functions.NeedleProbe.gate(s,
          needleRows.map(_.getLong(0)),
          needleRows.map(_.getSeq[Double](1).toArray))
        val low = lit((1L << 41) - 1L)
        val name = "q_stream_sem_" +
          java.util.UUID.randomUUID().toString.replace("-", "")
        graft.streaming.StreamOps.withRightSizedStreaming(s, 4, noDataBatches = false) {
          val flagged = graft.streaming.StreamOps
            .readEventStream(s, streamSourceDir(d, "embeddings"))
            .filter(pmod($"vec_id", lit(3)) =!= 0)
            .select($"vec_id",
              expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
            .withColumn("p", probe($"v"))
            .select($"vec_id",
              (low - $"p".bitwiseAND(low)).as("n_id"),
              ((shiftright($"p", 41) - lit(10000L)).cast("double") / 10000.0).as("sim4"))
            .withColumn("contam", $"sim4" >= 0.40)
          val q = graft.streaming.StreamOps.runToMemory(flagged, name)
          q.awaitTermination()
        }
        val out = s.table(name).orderBy($"vec_id").localCheckpoint()
        s.catalog.dropTempView(name)
        out
      },
      Some("""WITH e AS (
             |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
             |en AS (
             |  SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
             |n AS (
             |  SELECT vec_id, v, nrm FROM en WHERE vec_id % 3 = 0
             |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 64),
             |cor AS (SELECT * FROM en WHERE vec_id % 3 <> 0)
             |SELECT vec_id, n_id, sim4, sim4 >= 0.40 AS contam FROM (
             |  SELECT c.vec_id, q.vec_id AS n_id,
             |    ROUND(list_sum(list_transform(range(1, 65), i -> c.v[i] * q.v[i])) / (c.nrm * q.nrm), 4) + 0.0 AS sim4,
             |    ROW_NUMBER() OVER (PARTITION BY c.vec_id ORDER BY
             |      ROUND(list_sum(list_transform(range(1, 65), i -> c.v[i] * q.v[i])) / (c.nrm * q.nrm), 4) + 0.0 DESC,
             |      q.vec_id) AS rn
             |  FROM cor c, n q) t
             |WHERE rn = 1 ORDER BY vec_id""".stripMargin)
    ),

    "q_stream_multimodal_audit" -> QueryDef(
      // MEDIA-FIREHOSE TRIAGE (round 16) — q_multimodal_audit's streaming
      // twin: every arriving document's media asset is decode-routed the
      // moment it lands, as a STATELESS stream stage (no state store, no
      // watermark — the mapPartitions decode is the mapInPandas shape on
      // a stream): Decoded assets emit their pixel checksum, structurally
      // valid assets past the 4096-int envelope route to the OVERSIZED
      // lane carrying the declared plane ints (what the big-asset retry
      // lane budgets from), corrupt bytes route to invalid. The batch key
      // aggregates this stream's rows into the release audit; here the
      // oracle certifies every PER-ASSET routing decision and checksum
      // from doc_id arithmetic.
      (s, d) => {
        import s.implicits._
        import graft.multimodal.JpegCodec
        val name = "q_stream_mm_" +
          java.util.UUID.randomUUID().toString.replace("-", "")
        graft.streaming.StreamOps.withRightSizedStreaming(s, 4, noDataBatches = false) {
          val routed = graft.multimodal.Multimodal
            .assetsFromDocumentsJpegAudit(s,
              graft.streaming.StreamOps.readEventStream(s, streamSourceDir(d, "documents")))
            .mapPartitions(_.map { a =>
              JpegCodec.decodeDetailed(a.content, maxPlaneInts = 4096L) match {
                case JpegCodec.DecodeResult.Decoded(img) =>
                  (a.asset_id, "decoded",
                    img.pixels.map(_ & 0xff).foldLeft(0L)(_ + _), 0L)
                case JpegCodec.DecodeResult.Oversized(declared, _) =>
                  (a.asset_id, "oversized", 0L, declared)
                case JpegCodec.DecodeResult.Invalid =>
                  (a.asset_id, "invalid", 0L, 0L)
              }
            }).toDF("doc_id", "lane", "px_sum", "declared_ints")
          val q = graft.streaming.StreamOps.runToMemory(routed, name)
          q.awaitTermination()
        }
        val out = s.table(name).orderBy($"doc_id").localCheckpoint()
        s.catalog.dropTempView(name)
        out
      },
      Some("""WITH cls AS (
             |  SELECT doc_id, doc_id % 7 AS c,
             |    8 * (1 + doc_id % 3) AS w, 8 * (1 + (doc_id // 3) % 2) AS h
             |  FROM documents),
             |blocks AS (
             |  SELECT doc_id, unnest(range((w // 8) * (h // 8))) AS b
             |  FROM cls WHERE c NOT IN (0, 1)),
             |px AS (
             |  SELECT doc_id, CAST(64 * SUM(2 * ((doc_id * 13 + 29 * b) % 128)) AS BIGINT) AS px_sum
             |  FROM blocks GROUP BY doc_id)
             |SELECT cls.doc_id,
             |  CASE WHEN c = 0 THEN 'invalid' WHEN c = 1 THEN 'oversized'
             |       ELSE 'decoded' END AS lane,
             |  COALESCE(px.px_sum, 0) AS px_sum,
             |  CAST(CASE WHEN c = 1 THEN 5120 ELSE 0 END AS BIGINT) AS declared_ints
             |FROM cls LEFT JOIN px ON cls.doc_id = px.doc_id
             |ORDER BY cls.doc_id""".stripMargin)
    ),

    "q_stream_video_frames" -> QueryDef(
      // VIDEO-FIREHOSE FRAME TRIAGE (round 17) — q_multimodal_video_frames'
      // streaming twin, completing the stream-twin discipline for the
      // video family: every arriving MJPEG-in-MP4 asset is container-
      // walked and its frames decoded the moment it lands, as a STATELESS
      // stream stage (flatMap fan-out to per-frame rows — no state store,
      // no watermark; append-mode output of a stateless transform equals
      // the batch result, so the oracle is the batch key's, certifying
      // every per-frame routing decision and pixel statistic on arrival).
      // The three lanes ride through: decoded frames with exact stats,
      // the cut last frame of every 97th doc as a frame-level -1 row, the
      // truncated container of every 89th doc as a single -1 row.
      (s, d) => {
        import s.implicits._
        import graft.multimodal.{JpegCodec, Mp4Codec, Multimodal}
        val name = "q_stream_vf_" +
          java.util.UUID.randomUUID().toString.replace("-", "")
        graft.streaming.StreamOps.withRightSizedStreaming(s, 4, noDataBatches = false) {
          val routed = Multimodal
            .assetsFromDocumentsMjpeg(s,
              graft.streaming.StreamOps.readEventStream(s, streamSourceDir(d, "documents")))
            .flatMap { a =>
              Mp4Codec.decode(a.content) match {
                case None => Seq((a.asset_id, -1L, -1L, -1L, -1L, -1L))
                case Some(m) =>
                  m.samples.zipWithIndex.map { case (sb, k) =>
                    JpegCodec.decode(sb) match {
                      case Some(j) =>
                        val px = j.pixels.map(_ & 0xff)
                        (a.asset_id, k.toLong, px.length.toLong,
                          px.foldLeft(0L)(_ + _.toLong), px.min.toLong, px.max.toLong)
                      case None => (a.asset_id, k.toLong, -1L, -1L, -1L, -1L)
                    }
                  }.toSeq
              }
            }.toDF("doc_id", "frame", "n_px", "px_sum", "px_min", "px_max")
          val q = graft.streaming.StreamOps.runToMemory(routed, name)
          q.awaitTermination()
        }
        val out = s.table(name).orderBy($"doc_id", $"frame").localCheckpoint()
        s.catalog.dropTempView(name)
        out
      },
      // identical rows to the batch key — stream == batch for a stateless
      // transform, so the twin shares its oracle verbatim
      Some("""WITH d AS (SELECT doc_id, 1 + doc_id % 7 AS nf FROM documents),
             |fr AS (SELECT doc_id, nf, unnest(range(nf)) AS k FROM d),
             |tv AS (SELECT doc_id, nf, k,
             |    128 + 2 * (((doc_id * 7 + k * 13) % 128) - 64) AS p0,
             |    128 + 2 * (((doc_id * 7 + k * 13 + 29) % 128) - 64) AS p1
             |  FROM fr),
             |lanes AS (
             |  SELECT doc_id, CAST(k AS BIGINT) AS frame,
             |    CAST(CASE WHEN doc_id % 97 = 0 AND k = nf - 1 THEN -1 ELSE 128 END AS BIGINT) AS n_px,
             |    CAST(CASE WHEN doc_id % 97 = 0 AND k = nf - 1 THEN -1 ELSE 64 * p0 + 64 * p1 END AS BIGINT) AS px_sum,
             |    CAST(CASE WHEN doc_id % 97 = 0 AND k = nf - 1 THEN -1 ELSE LEAST(p0, p1) END AS BIGINT) AS px_min,
             |    CAST(CASE WHEN doc_id % 97 = 0 AND k = nf - 1 THEN -1 ELSE GREATEST(p0, p1) END AS BIGINT) AS px_max
             |  FROM tv WHERE doc_id % 89 <> 0
             |  UNION ALL
             |  SELECT doc_id, CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), CAST(-1 AS BIGINT),
             |    CAST(-1 AS BIGINT), CAST(-1 AS BIGINT)
             |  FROM documents WHERE doc_id % 89 = 0)
             |SELECT doc_id, frame, n_px, px_sum, px_min, px_max
             |FROM lanes ORDER BY doc_id, frame""".stripMargin)
    ),

    "q_stream_similarity_serve" -> QueryDef(
      // STREAMING VECTOR SERVING against the persisted index (round 17) —
      // the lifecycle's missing consumer shape: query traffic ARRIVES on
      // a stream and each micro-batch is served against the PREBUILT
      // named store — per trigger: quantize the batch's queries with the
      // STORED scale, route via the STORED centroids, read ONLY the
      // probed cells (the static partition filter — per-trigger pruned
      // I/O, the property that makes a 100 TB index servable at stream
      // latency), int8 shortlist, full-precision rescore, idempotent
      // per-batch output overwrite (foreachBatch is at-least-once — the
      // IngestDedup write discipline). Build+append run ONCE before the
      // stream starts, never per trigger. The query traffic replays as
      // two ordered micro-batches (vec_id parity); served results are
      // batch-independent (each query is served exactly once, whole), so
      // the twin shares q_similarity_index_serve's oracle verbatim.
      (s, d) => {
        import s.implicits._
        val P = graft.queries.PipelineQueries
        val store = java.nio.file.Files
          .createTempDirectory("graft_ivf_stream_store").toString
        val base = java.nio.file.Files.createTempDirectory("graft_serve_stream")
        try {
          P.ivfIndexBuild(s, d, store)
          P.ivfIndexAppend(s, d, store)
          // the centroid/scale meta is IMMUTABLE after build (appends
          // assign against it, compaction rewrites data only), so the
          // serving process loads it ONCE before the stream starts and
          // every trigger reuses it — the production shape
          // ivfIndexServeQueriesWith documents; the former per-batch
          // ivfIndexServeQueries call re-read + re-collected the meta
          // parquet on every trigger (round 20). The TOMBSTONE read stays
          // per-trigger inside the serve (deletes arrive between triggers).
          val meta = P.ivfIndexMeta(s, store)
          // stage today's query traffic as 2 ordered shard files — ONE
          // pass (repartition on the parity so each shard's rows land in
          // one task; partitionBy splits the dirs — the IngestDedup
          // staging pattern), not one full scan + coalesce(1) per shard
          val queries = embeddings(s, d).filter($"vec_id" < 10)
          val src = base.resolve("src")
          java.nio.file.Files.createDirectories(src)
          val stage = base.resolve("stage")
          queries.withColumn("b", pmod($"vec_id", lit(2)))
            .repartition(2, $"b")
            .write.partitionBy("b").mode("overwrite").parquet(stage.toString)
          for (b <- 0 to 1) {
            val shardDir = stage.resolve(s"b=$b")
            val listing = java.nio.file.Files.list(shardDir)
            val part =
              try listing.filter(p => p.getFileName.toString.startsWith("part-")
                && p.getFileName.toString.endsWith(".parquet")).findFirst()
                .orElseThrow(() => new IllegalStateException(s"no part file in $shardDir"))
              finally listing.close()
            val dst = src.resolve(f"shard$b%04d.parquet")
            java.nio.file.Files.move(part, dst)
            java.nio.file.Files.setLastModifiedTime(dst,
              java.nio.file.attribute.FileTime.fromMillis(1700000000000L + b * 60000L))
          }
          val outDir = base.resolve("out").toString
          val schema = queries.schema
          graft.streaming.StreamOps.withRightSizedStreaming(s, 4, noDataBatches = false) {
            val stream = s.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src.toString)
            val q = stream.writeStream
              .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
                // the batch df belongs to the micro-batch's CLONED session:
                // helpers must register their temp functions (cosine_sim)
                // there, not in the outer session whose registry the clone
                // snapshotted at stream start
                val bs = batch.sparkSession
                val qv = batch.select($"vec_id",
                  expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
                P.ivfIndexServeQueriesWith(bs, store, meta, qv)
                  .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
                ()
              }
              .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
              .option("checkpointLocation",
                s"${graft.streaming.StreamOps.fastCheckpointRoot}/serve_" +
                  java.util.UUID.randomUUID().toString.replace("-", ""))
              .start()
            q.awaitTermination()
            val dataBatches = q.recentProgress.count(_.numInputRows > 0)
            require(dataBatches == 2,
              s"serving replay expects 2 data micro-batches, saw $dataBatches")
          }
          s.read.parquet(outDir)
            .select($"q_id", $"rnk", $"c_id", $"iq", $"sim4")
            .orderBy($"q_id", $"rnk").localCheckpoint()
        } finally {
          graft.util.Fs.deleteRecursively(store)
          graft.util.Fs.deleteRecursively(base.toString)
        }
      },
      // served results are batch-independent — the oracle is the batch
      // lifecycle key's, verbatim
      Some(s"""WITH ${graft.queries.PipelineQueries.ivfIndexServeCtes}
              |SELECT q_id, rnk, c_id, iq, sim4 FROM (
              |  SELECT q_id, c_id, iq, sim4,
              |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim4 DESC, c_id) AS rnk
              |  FROM sc) t
              |WHERE rnk <= 3 ORDER BY q_id, rnk""".stripMargin)
    ),

    "q_stream_ingest_dedup" -> QueryDef(
      // CONTINUOUS corpus ingestion with a durable fingerprint store — see
      // graft.streaming.IngestDedup for the full operator contract (batch
      // dedup → corpus ∪ store anti-join → idempotent dual write; bucketed
      // zero-Exchange store scan gated in PlanQualitySpec; depth/pruning/
      // retry proven at 4 batches in IngestDedupDepthSpec). Here the replay
      // runs at TWO ordered micro-batches (doc_id parity shards) against
      // the DuckDB oracle, which replays the same min-shard-wins rule.
      (s, d) => {
        import s.implicits._
        import graft.streaming.IngestDedup
        val corpusFps = documents(s, d)
          .filter(pmod($"doc_id", lit(31)) === 0)
          .select(IngestDedup.fpCol($"text").as("fp")).distinct()
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        corpusFps.count() // materialize once; every micro-batch reuses it
        val newDocs = documents(s, d)
          .filter(pmod($"doc_id", lit(31)) =!= 0).select($"doc_id", $"text")
        val run = IngestDedup.runIngest(s, newDocs, corpusFps, nShards = 2)
        // partition discovery adds the batch column back; drop it so the
        // output schema (and the oracle) stay batch-layout-independent
        val out = s.read.parquet(run.outDir)
          .select($"doc_id", $"fp", $"n_dup_in_shard")
          .orderBy($"doc_id").localCheckpoint()
        IngestDedup.cleanup(s, run)
        corpusFps.unpersist(blocking = false)
        out
      },
      Some("""WITH nd AS (
             |  SELECT doc_id, doc_id % 2 AS b,
             |    md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp
             |  FROM documents WHERE doc_id % 31 <> 0),
             |corpus AS (
             |  SELECT DISTINCT md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp
             |  FROM documents WHERE doc_id % 31 = 0),
             |sh AS (SELECT fp, b, MIN(doc_id) AS doc_id,
             |  COUNT(*) AS n_dup_in_shard FROM nd GROUP BY fp, b),
             |fb AS (SELECT fp, MIN(b) AS mb FROM sh GROUP BY fp)
             |SELECT s.doc_id, s.fp, s.n_dup_in_shard
             |FROM sh s JOIN fb ON s.fp = fb.fp AND s.b = fb.mb
             |WHERE s.fp NOT IN (SELECT fp FROM corpus)
             |ORDER BY s.doc_id""".stripMargin)
    ),

    "q_stream_curate" -> QueryDef(
      // The STREAMING curation ingest — q_corpus_curate's production twin:
      // incoming shards flow through the quality gate (q_quality_gopher's
      // four integer rules) and the benchmark Bloom decontamination probe
      // (q_stream_decontaminate's broadcast bitmap, same policy/hashes)
      // as STATELESS stream transforms, then into the durable-fingerprint
      // ingest-dedup loop (IngestDedup: within-batch min-id dedup, corpus ∪
      // store anti-join, idempotent dual write, bucketed zero-Exchange
      // store). The cheap per-doc gates run map-side BEFORE anything
      // shuffles — only quality-passing, uncontaminated docs ever pay the
      // fingerprint exchange, which is exactly how a production firehose
      // orders these stages. Corpus = doc_id % 7 = 0 (already ingested);
      // benchmark needles = doc_id % 31 = 0 (excluded from the stream, as
      // in q_stream_decontaminate); replay forced to two ordered
      // micro-batches. The oracle replays gate, bitmap policy, probe and
      // min-shard-wins dedup as one CTE chain.
      (s, d) => {
        import s.implicits._
        import graft.streaming.IngestDedup
        val (_, bloomHit) = graft.queries.PipelineQueries.streamBloomGate(s, d)
        val corpusFps = documents(s, d)
          .filter(pmod($"doc_id", lit(7)) === 0)
          .select(IngestDedup.fpCol($"text").as("fp")).distinct()
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        corpusFps.count()
        val newDocs = documents(s, d)
          .filter(pmod($"doc_id", lit(7)) =!= 0 && pmod($"doc_id", lit(31)) =!= 0)
          .select($"doc_id", $"text")
        val run = IngestDedup.runIngest(s, newDocs, corpusFps, nShards = 2,
          prep = curateGates(s, bloomHit))
        val out = s.read.parquet(run.outDir)
          .select($"doc_id", $"fp", $"n_dup_in_shard")
          .orderBy($"doc_id").localCheckpoint()
        IngestDedup.cleanup(s, run)
        corpusFps.unpersist(blocking = false)
        out
      },
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS tok FROM documents),
             |r AS (
             |  SELECT doc_id, tok,
             |    CAST(len(tok) AS BIGINT) AS n_tokens,
             |    CAST(list_sum(list_transform(tok, x -> len(x))) AS BIGINT) AS sum_len,
             |    CAST(list_max(list_transform(list_distinct(tok), w -> len(list_filter(tok, x -> x = w)))) AS BIGINT) AS top_cnt,
             |    len(list_filter(['the','a','of','and','to','in'], w -> list_contains(tok, w))) AS n_stop
             |  FROM t WHERE doc_id % 7 != 0 AND doc_id % 31 != 0),
             |q AS (
             |  SELECT doc_id, tok FROM r
             |  WHERE (n_tokens BETWEEN 40 AND 100000)
             |    AND sum_len >= n_tokens * 3 AND sum_len <= n_tokens * 10
             |    AND top_cnt * 5 <= n_tokens AND n_stop >= 2),
             |bg AS (
             |  SELECT DISTINCT unnest(list_distinct(list_transform(range(0, len(tok)-4),
             |    i -> array_to_string(tok[i+1:i+5], ' ')))) AS g
             |  FROM t WHERE doc_id % 31 = 0 AND len(tok) >= 5),
             |p AS (
             |  SELECT CASE WHEN 64 * COUNT(*) <= 65536 THEN 65536::BIGINT
             |              WHEN CEIL(LOG2(64.0 * COUNT(*))) >= 32 THEN (1::BIGINT << 32)
             |              ELSE (1::BIGINT << CAST(CEIL(LOG2(64.0 * COUNT(*))) AS INT)) END AS mbits
             |  FROM bg),
             |words AS (
             |  SELECT bit // 63 AS w, bit_or(1::BIGINT << CAST(bit % 63 AS INT)) AS word
             |  FROM (
             |    SELECT unnest([('0x' || substring(md5(g), 1, 8))::BIGINT % (SELECT mbits FROM p),
             |                   ('0x' || substring(md5(g), 9, 8))::BIGINT % (SELECT mbits FROM p)]) AS bit
             |    FROM bg) GROUP BY 1),
             |qg AS (
             |  SELECT doc_id, unnest(list_distinct(list_transform(range(0, len(tok)-4),
             |    i -> array_to_string(tok[i+1:i+5], ' ')))) AS g
             |  FROM q),
             |hit AS (
             |  SELECT DISTINCT p2.doc_id FROM (
             |    SELECT doc_id,
             |      ('0x' || substring(md5(g), 1, 8))::BIGINT % (SELECT mbits FROM p) AS h1,
             |      ('0x' || substring(md5(g), 9, 8))::BIGINT % (SELECT mbits FROM p) AS h2
             |    FROM qg) p2
             |  LEFT JOIN words w1 ON p2.h1 // 63 = w1.w
             |  LEFT JOIN words w2 ON p2.h2 // 63 = w2.w
             |  WHERE COALESCE(w1.word, 0) & (1::BIGINT << CAST(p2.h1 % 63 AS INT)) != 0
             |    AND COALESCE(w2.word, 0) & (1::BIGINT << CAST(p2.h2 % 63 AS INT)) != 0),
             |nd AS (
             |  SELECT q.doc_id, q.doc_id % 2 AS b,
             |    md5(array_to_string(list_sort(list_distinct(q.tok)), ' ')) AS fp
             |  FROM q LEFT JOIN hit ON hit.doc_id = q.doc_id
             |  WHERE hit.doc_id IS NULL),
             |corpus AS (
             |  SELECT DISTINCT md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp
             |  FROM documents WHERE doc_id % 7 = 0),
             |sh AS (SELECT fp, b, MIN(doc_id) AS doc_id,
             |  COUNT(*) AS n_dup_in_shard FROM nd GROUP BY fp, b),
             |fb AS (SELECT fp, MIN(b) AS mb FROM sh GROUP BY fp)
             |SELECT s.doc_id, s.fp, s.n_dup_in_shard
             |FROM sh s JOIN fb ON s.fp = fb.fp AND s.b = fb.mb
             |WHERE s.fp NOT IN (SELECT fp FROM corpus)
             |ORDER BY s.doc_id""".stripMargin)
    )
  )
}
