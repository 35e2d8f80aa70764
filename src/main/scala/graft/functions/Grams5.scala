package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Distinct space-joined 5-grams of a token array, fused into one codegen'd
  * expression — the gram-assembly pass in front of every Bloom
  * decontamination probe (q_decontaminate_bloom / stream_decontaminate /
  * stream_decontaminate_bc / stream_curate's gate).
  *
  * Drop-in ELEMENT-IDENTICAL (values, order, null semantics) to
  * `QueryDef.grams5Sql`'s shape — `array_distinct` over the zipped
  * `concat(a, ' ', b)` chain:
  *  - grams in position order, string-distinct keeping FIRST occurrence;
  *  - `concat` null semantics: any null token nulls the whole gram, and
  *    array_distinct keeps one null at its first position (split() never
  *    emits nulls, so this is edge armor, not a live path);
  *  - fewer than 5 tokens yields an EMPTY array (the slice-length guard).
  * The gram strings feed the md5-based [[BloomBcAnyHit]] probe, so
  * byte-identical strings mean the probe and every DuckDB oracle are
  * untouched.
  *
  * Why fused: the zip_with chain walks four interpreted lambda levels and
  * allocates three intermediate gram-prefix arrays per doc; this assembles
  * each gram once as a UTF8String in compiled code (the [[Grams3Hash48]]
  * pattern, minus the hashing — Bloom probes digest internally).
  */
case class Grams5(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def prettyName: String = "grams5"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"grams5 expects array<string>, got ${other.sql}")
    }

  /** Called from eval/codegen once per row. */
  def grams(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    if (n < 5) return new GenericArrayData(Array.empty[AnyRef])
    val seen = new java.util.HashSet[UTF8String](Math.max(16, (n - 4) * 2))
    val out = new Array[AnyRef](n - 4)
    var m = 0
    var seenNull = false
    var i = 0
    while (i <= n - 5) {
      var anyNull = false
      var j = 0
      while (j < 5 && !anyNull) {
        if (arr.isNullAt(i + j)) anyNull = true
        j += 1
      }
      if (anyNull) {
        // concat propagates null; array_distinct keeps the first null
        if (!seenNull) { seenNull = true; out(m) = null; m += 1 }
      } else {
        val gram = UTF8String.concatWs(Grams5.space,
          arr.getUTF8String(i), arr.getUTF8String(i + 1), arr.getUTF8String(i + 2),
          arr.getUTF8String(i + 3), arr.getUTF8String(i + 4))
        if (seen.add(gram)) { out(m) = gram; m += 1 }
      }
      i += 1
    }
    new GenericArrayData(if (m == out.length) out else java.util.Arrays.copyOf(out, m))
  }

  override def nullSafeEval(input: Any): Any =
    grams(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val self = ctx.addReferenceObj("grams5", this, classOf[Grams5].getName)
      s"${ev.value} = $self.grams($v);"
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Grams5 {
  val FunctionName = "grams5"

  private[functions] val space = UTF8String.fromString(" ")

  def register(spark: SparkSession): Unit =
    graft.GraftExtensions.registerTemp(spark, FunctionName)

  /** Column-API surface: `grams5($"tok")`. */
  def grams5(spark: SparkSession, tok: Column): Column = {
    register(spark)
    org.apache.spark.sql.functions.call_function(FunctionName, tok)
  }
}
