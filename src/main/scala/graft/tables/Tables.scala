package graft.tables

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Accessors for the driver-provided TPC-H-ish parquet testdata (TESTDATA.md).
  *
  * Scans stay plain parquet reads so Catalyst retains full pushdown /
  * pruning freedom; column selection and predicates belong in the queries, not
  * here. At 100 TB these would be partitioned external tables — the access
  * pattern (relative path per table) is the same.
  *
  * Schemas come from a memo ([[parquetSchema]]), not from the footer on
  * every read: inferring a parquet schema is one Spark job (76–116 ms warm
  * on a 4-core host, against 6–12 ms for a read with the schema given), and
  * a query pass reads the same files again and again.
  */
object Tables {

  /** Session confs that change the schema the same footer infers to. */
  private val SchemaConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema")

  /** (qualified path, conf values) → (files as (name, length, mtime), schema). */
  private val schemaMemo = new java.util.concurrent.ConcurrentHashMap[
    (String, Seq[String]), (Seq[(String, Long, Long)], org.apache.spark.sql.types.StructType)]()

  /** The inferred schema of the parquet file or flat directory at `path`,
    * shared by every batch and streaming read in this JVM. The memo key is
    * the qualified path, the length and modification time of each file,
    * and the [[SchemaConfs]] values, so a rewritten file or a flipped flag
    * infers again. A directory with subdirectories (partitioned, or a
    * layout whose files can change below the top level) is inferred on
    * every call, as is any path that cannot be listed.
    */
  def parquetSchema(spark: SparkSession, path: String): org.apache.spark.sql.types.StructType = {
    def infer() = spark.read.parquet(path).schema
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val listing =
      try {
        val st = fs.getFileStatus(p)
        val files = if (st.isDirectory) fs.listStatus(p).toSeq else Seq(st)
        if (files.exists(_.isDirectory)) None
        else Some(files.map(f => (f.getPath.getName, f.getLen, f.getModificationTime)).sortBy(_._1))
      } catch { case _: java.io.IOException => None }
    listing match {
      case None => infer()
      case Some(files) =>
        val key = (fs.makeQualified(p).toString, SchemaConfs.map(k => spark.conf.getOption(k).orNull))
        val hit = schemaMemo.get(key)
        if (hit != null && hit._1 == files) hit._2
        else {
          val schema = infer()
          schemaMemo.put(key, (files, schema))
          schema
        }
    }
  }

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    spark.read.schema(parquetSchema(spark, path)).parquet(path)
  }

  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")

  /** `events` with `ts` normalized to TimestampType ([[normalizeEventTs]]).
    * Spark 4 refuses to read a ns-precision parquet timestamp, so when the
    * footer holds one the session gets `spark.sql.legacy.parquet.nanosAsLong`
    * (the scan reads it at execution time too) and the nanos are truncated
    * to µs. A µs file — every local corpus — leaves the session conf alone.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val path = s"$d/events.parquet"
    if (hasNanosTimestamp(s, path)) s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeEventTs(table(s, d, "events"))
  }

  /** True when the footer of the parquet file at `path` (or of the first
    * data file of a flat directory there) declares a TIMESTAMP(NANOS) column. */
  private def hasNanosTimestamp(spark: SparkSession, path: String): Boolean = {
    import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit, TimestampLogicalTypeAnnotation}
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    val file =
      if (!fs.getFileStatus(p).isDirectory) Some(p)
      else fs.listStatus(p).filter(_.isFile).map(_.getPath)
        .filterNot(f => f.getName.startsWith("_") || f.getName.startsWith("."))
        .sortBy(_.getName).headOption
    file.exists { f =>
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, conf))
      try reader.getFooter.getFileMetaData.getSchema.getColumns.asScala.exists(
        _.getPrimitiveType.getLogicalTypeAnnotation match {
          case t: TimestampLogicalTypeAnnotation => t.getUnit == TimeUnit.NANOS
          case _ => false
        })
      finally reader.close()
    }
  }

  /** Normalize `ts` to session-TZ TimestampType regardless of how the parquet
    * writer encoded it. Three representations have shown up across driver data
    * regenerations, and every events-reading operator (window lag, sessionize,
    * watermarked streams) must see the same type:
    *   - LongType: ns-int64 (nanosAsLong read of ns parquet) → truncate to µs
    *     with integer `div` (exact on int64; double division would lose
    *     precision at 1e18), matching DuckDB's ns→µs truncation.
    *   - TimestampNTZType: µs parquet with isAdjustedToUTC=0. The session TZ
    *     is pinned UTC, so casting to TimestampType relabels the same µs
    *     instant — exact, and DuckDB reads the naive value identically, so
    *     oracle parity is preserved. Watermarks/unix_micros require this cast.
    *   - TimestampType: already normalized → no-op.
    * Idempotent and a no-op on frames without a `ts` column, so it is safe to
    * apply unconditionally at every accessor (batch and stream).
    */
  def normalizeEventTs(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    raw.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType) =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case Some(TimestampNTZType) =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
