package dmsbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.types.StructType

/** Row count plus an order-insensitive hash of a query's output.
  *
  * Each row is projected to its `UnsafeRow` form (a canonical byte layout
  * for a given schema) and hashed; the hashes are summed modulo 2^64, so
  * neither row order nor the partitioning of the output changes the value.
  */
final case class Fingerprint(rows: Long, hash: Long) {
  def +(o: Fingerprint): Fingerprint = Fingerprint(rows + o.rows, hash + o.hash)
  def render: String = f"$rows:$hash%016x"
}

object Fingerprint {
  val empty: Fingerprint = Fingerprint(0L, 0L)

  def parse(s: String): Fingerprint = {
    val Array(r, h) = s.split(":")
    Fingerprint(r.toLong, java.lang.Long.parseUnsignedLong(h, 16))
  }

  def ofRows(schema: StructType, rows: Iterator[InternalRow]): Fingerprint = {
    val proj = UnsafeProjection.create(
      schema.fields.zipWithIndex.map { case (f, i) =>
        BoundReference(i, f.dataType, nullable = true)
      }.toSeq)
    var n = 0L
    var h = 0L
    while (rows.hasNext) {
      val u = proj(rows.next())
      h += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
      n += 1
    }
    Fingerprint(n, h)
  }

  /** Executes `df`'s own physical plan once, fingerprinting each partition
    * where it is produced; only one small pair per partition reaches the
    * driver.
    */
  def drain(df: DataFrame): Fingerprint = {
    val schema = df.schema
    df.queryExecution.toRdd
      .mapPartitions(it => Iterator(ofRows(schema, it)))
      .collect()
      .foldLeft(empty)(_ + _)
  }
}
