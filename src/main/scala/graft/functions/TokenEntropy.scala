package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `token_entropy(text)` — per-document word entropy
  * H = ln(n) − Σ c·ln(c) / n over space-separated word counts, as one
  * compiled kernel participating in whole-stage codegen.
  *
  * Why it exists: q_entropy's higher-order `aggregate()` fold evaluates
  * INTERPRETED (lambda expressions never enter codegen) and allocates a
  * named_struct per array element — measured 6.5 s at 20x scale where its
  * row-local neighbors run well under 1 s (SURVEY §9/§11; VERDICT r5 #4).
  * Same playbook as token_runs replacing the regex engine.
  *
  * Equivalence discipline (TokenEntropySpec pins bit-identity to the
  * fold): the kernel replays the fold's exact floating-point addition
  * sequence — tokens from UTF8String.split (the same call Spark's
  * `split` expression makes), sorted with UTF8String's binary comparator
  * (what array_sort uses), runs accumulated in sorted order, logs via
  * StrictMath.log (what Spark's `ln` uses).
  */
case class TokenEntropy(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"token_entropy requires STRING, got ${child.dataType.catalogString}")

  override protected def nullSafeEval(input: Any): Any =
    TokenEntropy.entropy(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TokenEntropy.entropy($c)")

  override protected def withNewChildInternal(newChild: Expression): TokenEntropy =
    copy(child = newChild)
}

object TokenEntropy {

  private val Space = UTF8String.fromString(" ")

  /** Register `token_entropy(text)`; idempotent. */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "token_entropy", exprs => TokenEntropy(exprs.head), "built-in")

  /** Public + JVM-static for generated code. */
  def entropy(s: UTF8String): Double = {
    val tokens = s.split(Space, -1)
    val n = tokens.length
    java.util.Arrays.sort(tokens.asInstanceOf[Array[AnyRef]])
    var acc = 0.0
    var run = 1
    var i = 1
    while (i < n) {
      if (tokens(i).equals(tokens(i - 1))) run += 1
      else {
        acc += run * StrictMath.log(run)
        run = 1
      }
      i += 1
    }
    acc += run * StrictMath.log(run)
    StrictMath.log(n) - acc / n
  }
}
