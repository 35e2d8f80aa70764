package graft.cdc

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** One parsed CDC change row.
  *
  * Reference grammar (lib/query.py:16-27): each line of a `cdc*.csv` file is
  * `OP,<table>,<schema>,v1,...,vn` — note the order is op, **table**, schema —
  * with variable arity per target table (full row image; v1 is the PK value
  * for every reference table). `seq` is the global apply order: file sequence
  * number × [[CdcParser.SeqStride]] + row number (single-shard total order,
  * stack.py:268).
  */
final case class CdcRecord(
    seq: Long,
    op: String,      // INSERT | UPDATE | DELETE (LOAD used internally for seeding)
    schema: String,
    table: String,
    pk: String,
    values: Seq[String]
)

object CdcParser {
  val OpInsert = "INSERT"
  val OpUpdate = "UPDATE"
  val OpDelete = "DELETE"
  val OpLoad = "LOAD" // internal: full-load seed rows, seq < any change seq

  /** Schema-change marker (include_table_alter_operations, stack.py:124):
    * `ALTER-TABLE,<table>,<schema>[,<ddl...>]`. Synthesized as an alter-table
    * CONTROL envelope by the runner; never enters the row-apply fold.
    */
  val OpAlterTable = "ALTER-TABLE"

  /** Parse one raw line at a given global sequence number. Lines must be read
    * as text, not fixed-schema CSV — arity varies within one file
    * (lib/query.py:21-27 mixes 5- and 8-field rows).
    */
  def parseLine(seq: Long, line: String): CdcRecord = {
    val parts = line.split(",", -1).map(_.trim)
    require(parts.length >= 3, s"malformed CDC row (need >=3 fields): $line")
    val op = parts(0).toUpperCase
    if (op == OpAlterTable)
      // DDL marker: no PK/row image; remaining fields are the DDL text
      CdcRecord(seq, op, parts(2), parts(1),
        if (parts.length > 3) parts(3) else "", parts.drop(3).toSeq)
    else {
      require(parts.length >= 4, s"malformed CDC row (need >=4 fields): $line")
      CdcRecord(seq, op, parts(2), parts(1), parts(3), parts.drop(3).toSeq)
    }
  }

  /** CDC seq = file seq × `SeqStride` + the row's 1-based number among its
    * file's non-blank rows: one rule for the stream and for replays. The
    * stride is fixed: persisted `lastSeq`s must stay comparable.
    */
  val SeqStride = 1000000L

  /** Parse one CDC file's raw lines, in file order, under the stream's seq
    * rule: blank lines (nothing above U+0020, the `String.trim` rule) are
    * skipped and not counted, and a file with `SeqStride` or more non-blank
    * rows fails, as its batch does in the stream.
    */
  def parseLines(lines: Seq[String], fileSeq: Long = 0L): Seq[CdcRecord] = {
    val rows = lines.filter(_.trim.nonEmpty)
    require(rows.size < SeqStride, s"CDC file $fileSeq has more than ${SeqStride - 1} " +
      "non-blank rows; its seqs would collide with the next file's")
    rows.zipWithIndex.map { case (l, i) => parseLine(fileSeq * SeqStride + i + 1, l) }
  }

  /** Distributed parse of a DataFrame of (seq, line). Used by the streaming
    * task runner, where seq is derived from (file sequence, row index) so the
    * single-shard total order survives Spark's parallel read.
    */
  def parse(spark: SparkSession, df: DataFrame): Dataset[CdcRecord] = {
    import spark.implicits._
    df.as[(Long, String)].map { case (seq, line) => parseLine(seq, line) }
  }
}
