package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** 64-bit SimHash of a whitespace-tokenized string — a native Catalyst
  * expression (preference order (b) from SURVEY.md §4: a custom
  * `Expression` beats a Scala UDF; no whole-operator plan node is needed
  * because this is a scalar function).
  *
  * Algorithm: xxhash64 each token; for each of the 64 bit lanes add +1 if
  * the token hash has the bit set, else -1; the output bit is 1 where the
  * lane total is positive. Near-duplicate texts (similar token multisets)
  * land within small Hamming distance — pair candidates come from banding
  * the 64 bits into 16-bit chunks (see graft.ext.Similarity).
  *
  * Input validation goes through `checkInputDataTypes()` with public
  * `DataType` only — `AbstractDataType`/`ExpectsInputTypes` are
  * private[sql] in Spark 4.1.2 and unusable from third-party packages.
  *
  * Codegen: `doGenCode` emits a static call to the hash kernel, so the
  * expression participates in whole-stage codegen (no UDF serialization
  * boundary, no interpreted-eval fallback on the hot path).
  */
case class SimHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"simhash64 requires STRING input, got ${child.dataType.catalogString}")

  override protected def nullSafeEval(input: Any): Any =
    java.lang.Long.valueOf(SimHash64.hashUtf8(input.asInstanceOf[UTF8String]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimHash64.hashUtf8($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

object SimHash64 {

  /** Public + JVM-static so generated (Janino) code can call it. */
  def hashUtf8(u: UTF8String): Long = {
    val s = u.toString
    val lanes = new Array[Int](64)
    var start = 0
    val n = s.length
    while (start < n) {
      var end = s.indexOf(' ', start)
      if (end < 0) end = n
      if (end > start) {
        val tok = UTF8String.fromString(s.substring(start, end))
        val h = XxHash64Function.hash(tok, StringType, 42L)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) lanes(b) += 1 else lanes(b) -= 1
          b += 1
        }
      }
      start = end + 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (lanes(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  /** Register `simhash64(str)` as the native Catalyst expression (no
    * UDF serialization boundary, NULL handling from UnaryExpression) so
    * it is usable from `expr(...)` and `spark.sql(...)`. Idempotent.
    */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "simhash64", exprs => SimHash64(exprs.head), "built-in")
}
