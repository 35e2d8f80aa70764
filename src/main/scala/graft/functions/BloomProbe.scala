package graft.functions

import java.security.MessageDigest

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, StringType}

/** Broadcast-variable Bloom probe — the one decontamination probe, batch
  * (`PipelineQueries.bloomDecontaminate`, one gram per call) and stream
  * (`PipelineQueries.streamBloomGate`, a document's grams per call), at
  * every bitmap size.
  *
  * The policy can size the bitmap up to 2^32 bits (~545 MB of words) — far
  * past what a plan literal tolerates: a literal is re-serialized with
  * every plan and copied into every codegen reference array, and the
  * driver would fold it per analysis. A TorrentBroadcast ships the words
  * array to each executor ONCE (chunked, off the task path) and the plan
  * carries only the handle — the standard Spark mechanism for a sketch
  * shipped to every task. Where both were measured, the compiled any-hit
  * loop also beat a plan-literal `exists` probe (BENCH_SCALING round 11).
  *
  * The expression evaluates the whole gram array in one call (any-hit
  * short-circuit), so whole-stage codegen sees a single boolean-valued
  * leaf: one virtual call per ROW, the md5+bit-test loop per gram runs in
  * plain JVM code against the broadcast `long[]`. Hash/bit layout is
  * EXACTLY the oracle's contract — h1/h2 = the first/second 32-bit words
  * of md5 hex (`conv(substring(md5(g), 1|9, 8), 16, 10)`) mod mBits, word
  * index h/63, mask 1L << (h%63) — proven bit-for-bit against that
  * composed form in Round11OpsSpec at 2^28 bits.
  */
case class BloomBcAnyHit(
    child: Expression,
    bc: Broadcast[Array[Long]],
    mBits: Long
) extends UnaryExpression {

  override def dataType: DataType = BooleanType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"bloom_bc_any_hit expects array<string>, got ${other.sql}")
    }
  override def prettyName: String = "bloom_bc_any_hit"

  // One digest per thread: MessageDigest is stateful and not thread-safe;
  // per-gram getInstance would dominate the probe loop.
  @transient private lazy val digest: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))

  /** Per-doc any-hit probe: called once per row from eval/codegen. */
  def anyHit(grams: ArrayData): Boolean = {
    val words = bc.value
    val dg = digest.get()
    val n = grams.numElements()
    var i = 0
    while (i < n) {
      val g = grams.getUTF8String(i)
      if (g != null) {
        dg.reset()
        val md = dg.digest(g.getBytes)
        // first/second big-endian 32-bit words of the digest == the two
        // 8-hex-char substrings the oracle parses with conv()
        val h1 = (((md(0) & 0xffL) << 24) | ((md(1) & 0xffL) << 16) |
          ((md(2) & 0xffL) << 8) | (md(3) & 0xffL)) % mBits
        val h2 = (((md(4) & 0xffL) << 24) | ((md(5) & 0xffL) << 16) |
          ((md(6) & 0xffL) << 8) | (md(7) & 0xffL)) % mBits
        if ((words((h1 / 63).toInt) & (1L << (h1 % 63))) != 0 &&
          (words((h2 / 63).toInt) & (1L << (h2 % 63))) != 0) return true
      }
      i += 1
    }
    false
  }

  override def nullSafeEval(input: Any): Any =
    anyHit(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, g => {
      // the expression instance (carrying the broadcast handle) rides the
      // codegen reference array; the loop itself is compiled JVM code in
      // anyHit — one virtual call per row keeps WholeStageCodegen intact
      val self = ctx.addReferenceObj("bloomBcProbe", this, classOf[BloomBcAnyHit].getName)
      s"${ev.value} = $self.anyHit($g);"
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object BloomBcProbe {

  /** Broadcast `words` and return a gram-array-column => any-hit-column
    * closure. The expression is built DIRECTLY (GraftColumnBridge, the same
    * route as IvfNearestCellBc) rather than through a per-call UUID temp
    * function: a registry entry would pin the multi-MB words broadcast for
    * the SESSION lifetime (bench/verify call the query fn once per trial,
    * so pinned word arrays accumulated) — with the broadcast referenced
    * only by the plan, the ContextCleaner reclaims it as soon as the
    * caller's DataFrame is dropped. Streaming reuse is unaffected: the
    * expression instance rides the logical plan across micro-batches.
    */
  def gate(spark: SparkSession, words: Array[Long], mBits: Long): Column => Column = {
    val bc = spark.sparkContext.broadcast(words)
    g => org.apache.spark.sql.GraftColumnBridge.column(
      BloomBcAnyHit(org.apache.spark.sql.GraftColumnBridge.expression(g), bc, mBits))
  }
}
