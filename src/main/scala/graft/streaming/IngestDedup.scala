package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Continuous corpus ingestion with a durable fingerprint store — the
  * production "absorb daily shards" loop run as a real multi-batch stream:
  * each micro-batch dedups within itself (groupBy fingerprint, min doc_id —
  * deterministic, unlike dropDuplicates), LEFT ANTI joins against corpus
  * fingerprints ∪ the durable store (so a later shard never re-admits an
  * earlier shard's doc), emits the survivors, and appends their
  * fingerprints to the store. This is the reference's foreachBatch
  * CDC-apply pattern (O6, `run.py` flow) pointed at corpus curation, and
  * the streaming twin of q_dedup_incremental.
  *
  * State is nothing but the fingerprint store — a catalog table BUCKETED BY
  * fp (so the per-batch anti-join co-locates on the store side: zero
  * Exchange under the bucketed scan, gated in PlanQualitySpec) and
  * partitioned by the batch id that wrote each row. foreachBatch is
  * at-least-once, so both writes are retry-safe WITHOUT transactions:
  * survivors OVERWRITE their own out/batch=<id> partition (idempotent), and
  * the anti-join reads only store partitions with batch < currentBatchId —
  * a half-complete earlier attempt of THIS batch may already have appended
  * its fps, and without that filter the retry would suppress its own
  * survivors and emit nothing. Store-side duplicate fps from such an
  * attempt are harmless: the store is a set probed by anti-join. Per-batch
  * cost is shard + pruned store partitions — never the corpus.
  *
  * `q_stream_ingest_dedup` runs this at 2 shards against the DuckDB oracle;
  * `IngestDedupDepthSpec` replays it at 4 ordered batches, measures the
  * store-scan file counts per batch (partition pruning, including a
  * retried batch skipping its own half-written partition), and re-applies
  * a completed batch to prove the overwrite-idempotency claim.
  */
object IngestDedup {

  /** Order/multiplicity-insensitive doc fingerprint (the q_dedup_exact key). */
  def fpCol(text: Column): Column =
    md5(array_join(array_sort(array_distinct(split(text, " "))), " "))

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** A brand-new store's name must be suffix-free: every maintenance pass
    * derives its output name from the stripped base, so a base that itself
    * matched `_c<n>`/`_r<n>` would be silently retargeted — and the pass's
    * DROP-retry guard could clear an unrelated table. Pass outputs (which
    * legitimately carry the suffix) are only ever reached through an
    * already-validated base. [[runIngest]] validates once at stream setup;
    * [[applyBatch]] keeps the call as direct-invocation defense, which is
    * FREE on the common suffix-free path — the string check short-circuits
    * before the catalog lookup, so steady-state batches against a remote
    * metastore pay zero catalog RPCs (round-17 ADVICE). A PRE-EXISTING
    * store whose name matches the pattern stays usable but is logged: its
    * maintenance passes will target the stripped base's lineage.
    */
  // suffixed names that already passed validation this JVM — the warn and
  // the catalog RPC fire once per lineage, not once per micro-batch
  private val validatedSuffixedStores =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private[graft] def validateStoreName(s: SparkSession, storeTable: String): Unit =
    if (storeBaseName(storeTable) != storeTable
        && !validatedSuffixedStores.contains(storeTable)) {
      require(s.catalog.tableExists(storeTable),
        s"new store name '$storeTable' matches the maintenance-suffix " +
          "pattern (_c<n>/_r<n>); pick a suffix-free base name")
      log.warn(s"existing store '$storeTable' matches the maintenance-suffix " +
        s"pattern; maintenance passes derive names from base " +
        s"'${storeBaseName(storeTable)}' and may retarget that lineage")
      validatedSuffixedStores.add(storeTable)
      ()
    }

  /** One micro-batch of the ingest loop (the foreachBatch body; also
    * invoked directly by the depth spec's retry simulation).
    */
  def applyBatch(
      s: SparkSession,
      batch: DataFrame,
      batchId: Long,
      corpusFps: DataFrame,
      storeTable: String,
      outDir: String
  ): Unit = {
    validateStoreName(s, storeTable)
    val inBatch = batch.select(col("doc_id"), fpCol(col("text")).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("doc_id"),
        count(lit(1)).as("n_dup_in_shard"))
    val noCorpus = inBatch.join(corpusFps, Seq("fp"), "left_anti")
    // batch < batchId: retry safety (see header comment) — and partition
    // pruning keeps a retried batch from even reading its own half-written
    // store partition
    val fresh = (if (s.catalog.tableExists(storeTable))
        noCorpus.join(
          s.table(storeTable).where(col("batch") < batchId)
            .select(col("fp")),
          Seq("fp"), "left_anti")
      else noCorpus)
      .select(col("doc_id"), col("fp"), col("n_dup_in_shard"))
      // one materialization feeds both writes: the store append below must
      // not trigger a re-plan of the anti-join
      .localCheckpoint()
    // idempotent: a checkpoint-driven retry OVERWRITES its own partition
    // instead of double-appending (foreachBatch is at-least-once)
    fresh.write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
    fresh.select(col("fp")).withColumn("batch", lit(batchId))
      .write.partitionBy("batch").bucketBy(4, "fp").sortBy("fp")
      .mode("append").format("parquet").saveAsTable(storeTable)
    ()
  }

  /** Stable identity of a store across maintenance passes: compaction
    * names its output `<base>_c<upTo>` and retention `<base>_r<cutoff>`,
    * so repeated passes on a table that is itself a pass output would
    * otherwise accrete suffixes (`store_c3_c7_c12…`) — and each pass's
    * DROP-retry guard only clears its own exact name. Deriving every
    * pass name from the stripped base keeps table identity bounded over
    * the store's 100 TB maintenance lifetime. Sound because lineage
    * starts suffix-free: [[applyBatch]] rejects a NEW store whose name
    * matches the suffix pattern, so stripping can never retarget a
    * legitimately-suffixed user table.
    */
  private[graft] def storeBaseName(storeTable: String): String =
    storeTable.replaceAll("(_[cr]\\d+)+$", "")

  /** Compact the fingerprint store — the 100 TB maintenance pass: every
    * ingest batch appends one file per bucket, so after N batches each of
    * the 4 buckets holds N small files and the store-side scan pays N× the
    * file-open/footer cost (a year of daily shards = hundreds of files per
    * bucket while the DATA is only ever 16-byte fingerprints). Compaction
    * rewrites every partition with `batch <= upTo` as ONE distinct-fp
    * partition — keyed `batch = upTo`, so every later batch's
    * `batch < batchId` retry-safety filter still reads it — into a NEW
    * table with the identical bucketing contract (bucketBy(4, fp), sortBy
    * fp): the anti-join's zero-store-side-Exchange plan survives
    * unchanged (gated in IngestDedupDepthSpec). Partitions with
    * `batch > upTo` (a half-written in-flight batch under at-least-once
    * delivery) are copied verbatim, so their retry semantics survive too.
    *
    * Crash-safe like the dual write, without transactions: the source
    * table is never touched until the compacted table is fully written —
    * a crash mid-compaction leaves the store intact plus a garbage
    * `_c<upTo>` table that a retry's initial DROP clears (idempotent);
    * the caller then swaps to the returned name and drops the old table
    * ([[swapCompacted]]) — a crash between the write and the drop leaves
    * both tables readable and the retry converges.
    *
    * Safe `upTo`: any batch id ≤ the highest COMMITTED batch. Committed
    * batches never re-run under foreachBatch's checkpoint contract, and a
    * later half-written partition stays above `upTo`.
    */
  def compactStore(s: SparkSession, storeTable: String, upTo: Long): String = {
    val compacted = s"${storeBaseName(storeTable)}_c$upTo"
    require(compacted != storeTable,
      s"compaction target equals the source table ($storeTable)")
    s.sql(s"DROP TABLE IF EXISTS $compacted") // clear a crashed prior attempt
    val src = s.table(storeTable)
    src.where(col("batch") <= upTo).select(col("fp")).distinct()
      .withColumn("batch", lit(upTo))
      .union(src.where(col("batch") > upTo).select(col("fp"), col("batch")))
      .write.partitionBy("batch").bucketBy(4, "fp").sortBy("fp")
      .mode("overwrite").format("parquet").saveAsTable(compacted)
    compacted
  }

  /** Complete a compaction by dropping the superseded store. Idempotent. */
  def swapCompacted(s: SparkSession, oldTable: String): Unit = {
    s.sql(s"DROP TABLE IF EXISTS $oldTable")
    ()
  }

  /** Age-based retention — the other half of the store's 100 TB lifecycle
    * (compaction bounds the FILE count; this bounds the DATA): drop every
    * fingerprint partition with `batch < dropBelow`, preserving the
    * bucketing contract (bucketBy(4, fp), sortBy fp — the zero-Exchange
    * anti-join plan survives, gated in IngestDedupDepthSpec) and the
    * retry filter (surviving partitions keep their batch values, so a
    * later batch's `batch < batchId` read is unchanged over them).
    *
    * Semantics are deliberate TTL dedup: a document last seen before the
    * horizon MAY be re-admitted — the standard trade every production
    * ingest dedup makes to keep the state set bounded (otherwise the
    * store grows forever with the corpus). Pair with [[compactStore]]:
    * compact first (collapses the prefix to `batch = upTo`), then expiry
    * at `dropBelow > upTo` retires whole compacted generations at once.
    *
    * Crash-safe by the same dual-write discipline as [[compactStore]]:
    * the source is never touched until `<base>_r<dropBelow>` is fully
    * written (a retry's initial DROP clears a crashed attempt; the
    * caller completes with [[swapCompacted]]). `dropBelow` must be ≤ the
    * lowest batch id the NEXT micro-batch still needs suppressed-history
    * for — i.e. the retention horizon is a policy input, not inferred.
    */
  def expireStore(s: SparkSession, storeTable: String, dropBelow: Long): String = {
    val expired = s"${storeBaseName(storeTable)}_r$dropBelow"
    require(expired != storeTable,
      s"expiry target equals the source table ($storeTable)")
    s.sql(s"DROP TABLE IF EXISTS $expired") // clear a crashed prior attempt
    s.table(storeTable).where(col("batch") >= dropBelow)
      .select(col("fp"), col("batch"))
      .write.partitionBy("batch").bucketBy(4, "fp").sortBy("fp")
      .mode("overwrite").format("parquet").saveAsTable(expired)
    expired
  }

  /** Handle to a completed ingest replay; `outDir`/`storeTable` stay live
    * until [[cleanup]] so callers (the depth spec) can inspect them. */
  final case class IngestRun(
      outDir: String,
      storeTable: String,
      srcDir: java.nio.file.Path,
      base: java.nio.file.Path)

  /** Split `newDocs` into `nShards` ordered shard files (doc_id mod
    * nShards; modification times staggered so the file source processes
    * shard b as micro-batch b) and replay them as a REAL multi-batch stream
    * (maxFilesPerTrigger=1, AvailableNow). The batch count is asserted —
    * cross-batch suppression is the behavior under test, so a collapsed
    * replay must fail loudly, not silently pass.
    */
  def runIngest(
      s: SparkSession,
      newDocs: DataFrame,
      corpusFps: DataFrame,
      nShards: Int,
      prep: DataFrame => DataFrame = identity
  ): IngestRun = {
    val runId = java.util.UUID.randomUUID().toString.replace("-", "")
    val base = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), s"graft_ingest_$runId")
    val srcDir = base.resolve("src")
    val storeTable = s"graft_fp_store_$runId"
    validateStoreName(s, storeTable) // once per query, at stream setup
    val outDir = base.resolve("out").toString
    java.nio.file.Files.createDirectories(srcDir)
    // Single-pass staging: repartition on the shard value so every shard's
    // rows land in exactly one task, then partitionBy writes one file per
    // shard dir in one parallel job. (The previous per-shard loop paid
    // nShards full scans, each squeezed through coalesce(1) — the scan
    // itself went single-threaded.) Hash collisions between shard values
    // only co-locate two shards in one task; partitionBy still splits them
    // into their own dirs, so the one-file-per-shard invariant the ordered
    // replay needs (maxFilesPerTrigger=1 ⇒ file b = micro-batch b) holds.
    val stage = base.resolve("stage")
    newDocs.withColumn("b", pmod(col("doc_id"), lit(nShards)))
      .repartition(nShards, col("b"))
      .write.partitionBy("b").mode("overwrite").parquet(stage.toString)
    var nonEmptyShards = 0
    (0 until nShards).foreach { b =>
      val shardDir = stage.resolve(s"b=$b")
      val part =
        if (java.nio.file.Files.isDirectory(shardDir)) {
          nonEmptyShards += 1
          val listing = java.nio.file.Files.list(shardDir)
          try listing.filter(p => p.getFileName.toString.startsWith("part-")
            && p.getFileName.toString.endsWith(".parquet")).findFirst()
            .orElseThrow(() => new IllegalStateException(s"no part file in $shardDir"))
          finally listing.close()
        } else {
          // EMPTY SHARD (no row had this shard value — plausible once a
          // caller narrows the input, e.g. q_stream_curate's prep-filtered
          // corpus on a small or skewed dataset): stage a schema-only
          // parquet file so the replay still sees nShards ordered batch
          // files instead of collapsing the batch numbering (ADVICE r10).
          val tmp = base.resolve(s"emptyshard$b")
          s.createDataFrame(
              s.sparkContext.emptyRDD[org.apache.spark.sql.Row], newDocs.schema)
            .coalesce(1).write.parquet(tmp.toString)
          val listing = java.nio.file.Files.list(tmp)
          try listing.filter(p => p.getFileName.toString.startsWith("part-")
            && p.getFileName.toString.endsWith(".parquet")).findFirst()
            .orElseThrow(() => new IllegalStateException(s"no empty part in $tmp"))
          finally listing.close()
        }
      val dst = srcDir.resolve(s"shard$b.parquet")
      java.nio.file.Files.move(part, dst)
      // drop the empty-shard staging dir (its _SUCCESS/.crc leftovers) now
      // that its part file has moved, mirroring the stage-dir handling
      val tmp = base.resolve(s"emptyshard$b")
      if (java.nio.file.Files.isDirectory(tmp)) {
        val walk = java.nio.file.Files.walk(tmp)
        try walk.sorted(java.util.Comparator.reverseOrder())
          .forEach(p => java.nio.file.Files.deleteIfExists(p))
        finally walk.close()
      }
      // staggered mtimes pin batch ORDER: the file source processes
      // oldest-first, so shard b is always micro-batch b
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + b * 60000L))
    }
    // the shard files carry exactly newDocs' columns (partitionBy kept `b`
    // in the dir name, not the file), so reuse its schema instead of paying
    // a listing + footer-inference job on the staged dir
    val schema = newDocs.schema
    StreamOps.withRightSizedStreaming(s, 4, noDataBatches = false) {
      // `prep` composes STATELESS per-doc transforms (quality gates, bloom
      // decontamination probes) onto the stream itself — upstream of the
      // fingerprint dedup, so the store/anti-join machinery is untouched
      // (identity for the plain ingest-dedup operator)
      val stream = prep(s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir.toString))
      val q = stream.writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
          applyBatch(s, batch, batchId, corpusFps, storeTable, outDir)
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation",
          s"${StreamOps.fastCheckpointRoot}/ingest_$runId")
        .start()
      q.awaitTermination()
      // empty shards replay as real (0-row) micro-batches, so the
      // collapsed-replay guard counts only the shards that carried rows
      val dataBatches = q.recentProgress.count(_.numInputRows > 0)
      require(dataBatches == nonEmptyShards,
        s"ingest-dedup expects a $nonEmptyShards-data-batch replay " +
          s"($nShards shards, ${nShards - nonEmptyShards} empty), saw $dataBatches")
    }
    IngestRun(outDir, storeTable, srcDir, base)
  }

  def cleanup(s: SparkSession, run: IngestRun): Unit = {
    s.sql(s"DROP TABLE IF EXISTS ${run.storeTable}")
    // drop the validation memo with the table: a later reuse of the same
    // suffixed name for a BRAND-NEW store must hit the tableExists guard
    // again, not ride this lineage's stale pass (round-18 ADVICE)
    validatedSuffixedStores.remove(run.storeTable)
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    rm(run.base.toFile)
  }
}
