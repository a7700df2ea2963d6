package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Cosine similarity of two `ARRAY<FLOAT>` vectors — a native Catalyst
  * expression (preference order (b) from SURVEY.md §4), replacing the
  * Scala-UDF kernel on the similarity family's hot paths.
  *
  * Why an Expression and not the UDF it replaces: a `udf { (a:
  * Array[Float], b: Array[Float]) => ... }` pays a per-row encoder
  * round-trip — Tungsten `ArrayData` is DESERIALIZED into two fresh JVM
  * `Array[Float]` copies (an allocation + element copy per row per side)
  * before the kernel runs, and the wrapping `ScalaUDF` breaks the
  * whole-stage-codegen span it sits in. This expression reads the packed
  * `ArrayData` floats in place — zero copies, no boxing — and
  * participates in codegen via a static kernel call, so a scan-side
  * cosine over a 100 TB embedding corpus stays one fused loop.
  *
  * The accumulation order is IDENTICAL to the UDF kernel it replaces
  * (single forward pass, per-element double promotion, dot/na/nb
  * accumulators): `cosine_sim(a, b)` is bit-identical to the previous
  * `cosineUdf` output, which is what keeps the oracle-checked entries
  * (q_similarity_topk, q_embed_near_dup) hash-stable across the swap —
  * pinned by CosineSimSpec against the reference kernel.
  *
  * NULL semantics come from `BinaryExpression.nullSafeEval` (NULL in →
  * NULL out). Element-level NULLs do not occur in the embedding columns
  * (fixture schema: `list<element: float>` non-null elements); a NULL
  * element would read as 0.0f, the same value the UDF path's encoder
  * produces for primitive-array targets.
  */
case class CosineSim(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType

  private def isFloatArray(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (isFloatArray(left.dataType) && isFloatArray(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cosine_sim requires ARRAY<FLOAT> inputs, got " +
        s"${left.dataType.catalogString} / ${right.dataType.catalogString}")

  override protected def nullSafeEval(a: Any, b: Any): Any =
    java.lang.Double.valueOf(
      CosineSim.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.CosineSim.cosine($a, $b)")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}

object CosineSim {

  /** `cosine_sim` as a typed Column combinator for DataFrame code (the
    * `expr("cosine_sim(...)")` string form stays available after
    * [[register]]).
    */
  def sim(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.GraftExpressionBridge.column(
      CosineSim(org.apache.spark.sql.GraftExpressionBridge.expression(a),
        org.apache.spark.sql.GraftExpressionBridge.expression(b)))

  /** Public + JVM-static so generated (Janino) code can call it. Reads the
    * Tungsten array representation in place — no materialized JVM arrays.
    * Same accumulation order as the historical UDF kernel
    * (graft.ext.Similarity.cosineKernel): forward pass over
    * min(len(a), len(b)), double-promoted terms.
    */
  def cosine(a: ArrayData, b: ArrayData): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    val n = math.min(a.numElements(), b.numElements())
    while (i < n) {
      val x = a.getFloat(i).toDouble; val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Register `cosine_sim(a, b)` for `expr(...)` / `spark.sql(...)`.
    * Idempotent.
    */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "cosine_sim", exprs => CosineSim(exprs.head, exprs(1)), "built-in")
}
