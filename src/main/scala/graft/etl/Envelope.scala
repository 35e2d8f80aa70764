package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** DMS-style Kinesis event envelope construction (reference operators O7/O9),
  * and the one owner of its text format: `to_json` for the full load, one
  * metadata builder for the literal control and CDC envelopes, and one JSON
  * string escaper, [[escape]], which `FileEventSink` shares.
  *
  * Shape pinned by stack.py:117-127 (kinesis_settings) and the consumer at
  * run.py:133-138:
  * {{{
  * {"data": {col: val, ...},
  *  "metadata": {"timestamp": ..., "record-type": "data"|"control",
  *               "operation": "load"|"insert"|"update"|"delete"|
  *                            "create-table"|"drop-table"|"alter-table",
  *               "partition-key-type": "schema-table",
  *               "schema-name": s, "table-name": t, "transaction-id": id}}
  * }}}
  * plus a partition key `"<schema>.<table>"` (partition_include_schema_table,
  * stack.py:126). Nulls and empty strings are retained in `data`
  * (include_null_and_empty, stack.py:122) — hence `ignoreNullFields=false`,
  * Spark's `to_json` drops null fields by default.
  *
  * `forData` is a single narrow projection — codegen'd `to_json` over a
  * struct, no shuffle, scales linearly with input.
  */
object Envelope {
  val jsonOpts: Map[String, String] = Map("ignoreNullFields" -> "false")

  def metadataStruct(
      recordType: String,
      operation: Column,
      schemaName: String,
      tableName: String,
      timestamp: Column,
      transactionId: Column
  ): Column =
    struct(
      timestamp.as("timestamp"),
      lit(recordType).as("record-type"),
      operation.as("operation"),
      lit("schema-table").as("partition-key-type"),
      lit(schemaName).as("schema-name"),
      lit(tableName).as("table-name"),
      transactionId.as("transaction-id")
    )

  def partitionKey(schemaName: String, tableName: String): Column =
    lit(s"$schemaName.$tableName")

  /** Wrap every row of `df` in a data envelope. Output columns:
    * `partition_key`, `envelope` (JSON string) — plus `op` for counters.
    */
  def forData(
      df: DataFrame,
      schemaName: String,
      tableName: String,
      operation: Column,
      timestamp: Column,
      transactionId: Column
  ): DataFrame = {
    val dataStruct = struct(df.columns.map(col).toIndexedSeq: _*)
    df.select(
      partitionKey(schemaName, tableName).as("partition_key"),
      operation.as("op"),
      to_json(
        struct(
          dataStruct.as("data"),
          metadataStruct("data", operation, schemaName, tableName, timestamp, transactionId).as("metadata")
        ),
        jsonOpts
      ).as("envelope")
    )
  }

  /** A single control event (create-table / drop-table / alter-table;
    * include_control_details + include_table_alter_operations,
    * stack.py:121,124). `data` is an explicit null (include_null_and_empty).
    */
  def controlJson(
      operation: String,
      schemaName: String,
      tableName: String,
      timestamp: String
  ): String =
    s"""{"data":null,"metadata":${metadataJson("control", operation, schemaName, tableName, timestamp, "null")}}"""

  /** One CDC data event: `data` pairs each column with its value, and the
    * transaction-id is the change's seq.
    */
  def cdcDataJson(columns: Seq[String], values: Seq[String], operation: String,
      schemaName: String, tableName: String, timestamp: String, transactionId: Long): String = {
    val data = columns.zip(values)
      .map { case (n, v) => s""""${escape(n)}":${jsonValue(v)}""" }.mkString("{", ",", "}")
    s"""{"data":$data,"metadata":${metadataJson("data", operation, schemaName, tableName, timestamp, transactionId.toString)}}"""
  }

  /** The literal envelopes' metadata object, keys in [[metadataStruct]] order. */
  private def metadataJson(recordType: String, operation: String, schemaName: String,
      tableName: String, timestamp: String, transactionId: String): String =
    s"""{"timestamp":"${escape(timestamp)}","record-type":"$recordType","operation":"${escape(operation)}",""" +
      s""""partition-key-type":"schema-table","schema-name":"${escape(schemaName)}",""" +
      s""""table-name":"${escape(tableName)}","transaction-id":$transactionId}"""

  // compiled once: jsonValue runs for every field of every CDC envelope. A
  // leading zero (007, -01) is not a JSON number, so such a run is quoted.
  private val IntegerLiteral = java.util.regex.Pattern.compile("-?(?:0|[1-9]\\d*)")

  /** DMS-style scalar JSON encoding for envelope `data` fields: integers
    * bare, everything else a JSON string.
    */
  def jsonValue(v: String): String =
    if (v == null) "null"
    else if (IntegerLiteral.matcher(v).matches()) v
    else "\"" + escape(v) + "\""

  /** The body of a JSON string literal holding `s`: quote, backslash and
    * every control character escaped. Returns `s` itself when nothing needs
    * escaping, else builds the result in one pass.
    */
  def escape(s: String): String = {
    var i = 0
    while (i < s.length && !needsEscape(s.charAt(i))) i += 1
    if (i == s.length) s
    else {
      val sb = new java.lang.StringBuilder(s.length + 8).append(s, 0, i)
      while (i < s.length) {
        s.charAt(i) match {
          case '"'  => sb.append("\\\"")
          case '\\' => sb.append("\\\\")
          case '\n' => sb.append("\\n")
          case '\r' => sb.append("\\r")
          case '\t' => sb.append("\\t")
          case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
          case c => sb.append(c)
        }
        i += 1
      }
      sb.toString
    }
  }

  private def needsEscape(c: Char): Boolean = c == '"' || c == '\\' || c < ' '
}
