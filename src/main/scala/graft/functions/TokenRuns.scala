package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `token_runs(text)` — the number of maximal runs of ASCII `[a-z]`,
  * exactly `regexp_count(text, '[a-z]+')`, as a single allocation-free
  * byte scan participating in whole-stage codegen.
  *
  * Why it exists: the regex version dominated q_token_count (the whole
  * 8.4 s bench entry was the per-row Java regex engine). Token counting
  * is a per-document hot loop in a curation pipeline, the same shape as
  * the JSON envelope work json_get replaces (see JsonGet). Scanning
  * UTF8String bytes is safe for an ASCII class: multi-byte UTF-8
  * continuation/lead bytes have the high bit set and can never fall in
  * 'a'..'z'.
  */
case class TokenRuns(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"token_runs requires STRING, got ${child.dataType.catalogString}")

  override protected def nullSafeEval(input: Any): Any =
    TokenRuns.count(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TokenRuns.count($c)")

  override protected def withNewChildInternal(newChild: Expression): TokenRuns =
    copy(child = newChild)
}

object TokenRuns {

  /** Register `token_runs(text)`; idempotent. */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "token_runs", exprs => TokenRuns(exprs.head), "built-in")

  /** Public + JVM-static for generated code. */
  def count(s: UTF8String): Long = {
    val n = s.numBytes()
    var i = 0
    var runs = 0L
    var inRun = false
    while (i < n) {
      val b = s.getByte(i)
      val isAz = b >= 'a' && b <= 'z'
      if (isAz && !inRun) runs += 1
      inRun = isAz
      i += 1
    }
    runs
  }
}
