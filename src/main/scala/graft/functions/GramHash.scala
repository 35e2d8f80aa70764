package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Distinct 3-token-shingle 48-bit md5 hashes of a token array, fused into
  * one codegen'd expression — the opening pass of the whole near-dup family
  * (q_dedup_minhash_lsh / containment / ngram_jaccard / lsh_recall).
  *
  * Drop-in ELEMENT-IDENTICAL (values and order) to the two-step HOF it
  * replaces:
  * {{{
  *   transform(array_distinct(transform(sequence(0, size(tok)-3),
  *       i -> concat_ws(' ', tok[i], tok[i+1], tok[i+2]))),
  *     g -> CAST(conv(substring(md5(g), 1, 12), 16, 10) AS BIGINT) % 2147483647)
  * }}}
  * — first-occurrence order of the STRING-distinct grams (a 48-bit hash
  * collision between two distinct grams therefore still yields the
  * duplicate hash entry both engines see), md5's first 6 digest bytes as a
  * big-endian unsigned 48-bit value mod 2^31−1. Because the output column
  * is identical, every consumer (minhash signatures, sorted-distinct verify
  * sets, rarity orders, df windows) and every DuckDB oracle is untouched.
  *
  * Why fused: the HOF pair walks interpreted lambdas twice per gram and
  * builds each gram string through the generic concat_ws path; profiled at
  * sf0.1 the grams+hash stages cost 0.58 s of each ~2 s family query
  * (recorded in commit f32d8dd). Here the gram is assembled once as a UTF8String
  * and digested in compiled code — the [[SimHash16]] pattern.
  *
  * Edge semantics: size(tok) < 3 returns an EMPTY array (the HOF form's
  * `sequence(0, size-3)` is undefined there — every caller pre-filters
  * `size(tok) >= 3`, which stays in place); null tokens are skipped by the
  * gram join exactly like concat_ws.
  *
  * `mod` ≤ 0 keeps the raw 48-bit value (the q_dedup_ngram_jaccard
  * convention, whose callers sort+distinct the hashes themselves — the
  * string-level dedupe here only removes duplicates their own
  * array_distinct would, so the final set is unchanged).
  */
case class Grams3Hash48(child: Expression, mod: Long) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "grams3_hash48"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"grams3_hash48 expects array<string>, got ${other.sql}")
    }

  /** Called from eval/codegen once per row. */
  def gramHashes(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    if (n < 3) return new GenericArrayData(Array.emptyLongArray)
    val md = Grams3Hash48.digest.get()
    val space = Grams3Hash48.space
    val seen = new java.util.HashSet[UTF8String](Math.max(16, (n - 2) * 2))
    val out = new Array[Long](n - 2)
    var m = 0
    var i = 0
    while (i <= n - 3) {
      // concat_ws(' ', a, b, c): null inputs skipped, like the HOF form.
      // Explicit isNullAt guards (like the sibling gram kernels) — relying
      // on getUTF8String returning null for null slots is implementation-
      // dependent ArrayData behavior.
      def at(j: Int): UTF8String = if (arr.isNullAt(j)) null else arr.getUTF8String(j)
      val gram = UTF8String.concatWs(space, at(i), at(i + 1), at(i + 2))
      if (seen.add(gram)) {
        md.reset()
        val d = md.digest(gram.getBytes)
        // first 12 hex digits = first 6 digest bytes, big-endian unsigned
        val h = ((d(0) & 0xffL) << 40) | ((d(1) & 0xffL) << 32) |
          ((d(2) & 0xffL) << 24) | ((d(3) & 0xffL) << 16) |
          ((d(4) & 0xffL) << 8) | (d(5) & 0xffL)
        out(m) = if (mod > 0) h % mod else h
        m += 1
      }
      i += 1
    }
    new GenericArrayData(if (m == out.length) out else java.util.Arrays.copyOf(out, m))
  }

  override def nullSafeEval(input: Any): Any =
    gramHashes(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val self = ctx.addReferenceObj("grams3", this, classOf[Grams3Hash48].getName)
      s"${ev.value} = $self.gramHashes($v);"
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Grams3Hash48 {
  val FunctionName = "grams3_hash48"
  val RawFunctionName = "grams3_hash48_raw"

  /** The minhash-family modulus (2^31 − 1). */
  val Mod: Long = 2147483647L

  private[functions] val space = UTF8String.fromString(" ")

  // MessageDigest is not thread-safe; one instance per executor thread.
  private val digest: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))

  def register(spark: SparkSession): Unit =
    graft.GraftExtensions.registerTemp(spark, FunctionName, RawFunctionName)

  /** Column-API surface: `grams3Hash48($"tok")` — hashes mod 2^31−1. */
  def grams3Hash48(spark: SparkSession, tok: Column): Column = {
    register(spark)
    org.apache.spark.sql.functions.call_function(FunctionName, tok)
  }

  /** Raw 48-bit variant (no modulus). */
  def grams3Hash48Raw(spark: SparkSession, tok: Column): Column = {
    register(spark)
    org.apache.spark.sql.functions.call_function(RawFunctionName, tok)
  }
}
