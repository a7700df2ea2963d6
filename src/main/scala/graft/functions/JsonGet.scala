package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `json_get(json, key)` — top-level JSON object field extraction with
  * `get_json_object(json, '$.key')` semantics (scalars unquoted/unescaped,
  * nested values as raw JSON text, missing/JSON-null/malformed → SQL NULL)
  * implemented as a single linear scan with zero per-row allocations
  * beyond the result.
  *
  * Why it exists: the reference's hot loop is JSON-field work — the DDL
  * filter reads one field per record and the flatten projects a handful
  * (HdfsSink.java:59-104). Spark's `get_json_object`/`from_json` build a
  * Jackson parser (via byte stream + InputStreamReader) per row per call
  * — measured 16-70 µs/row, which dominates the envelope pipeline at
  * scale. This expression scans the document once, skips nested
  * structures by depth counting, and participates in whole-stage codegen
  * (`doGenCode` → static kernel call).
  *
  * Divergence (documented): for nested object/array results Spark
  * re-serializes through Jackson (normalizing whitespace) while this
  * returns the raw source text of the subtree. Scalar extraction — the
  * reference's only use — is behavior-identical.
  */
case class JsonGet(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"json_get requires (STRING, STRING), got " +
        s"(${left.dataType.catalogString}, ${right.dataType.catalogString})")

  override protected def nullSafeEval(json: Any, key: Any): Any =
    JsonGet.extract(json.asInstanceOf[UTF8String], key.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (j, k) => {
      s"""
         |${ev.value} = graft.functions.JsonGet.extract($j, $k);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JsonGet =
    copy(left = newLeft, right = newRight)
}

object JsonGet {

  /** Register `json_get(json, key)`; idempotent. */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "json_get", exprs => JsonGet(exprs.head, exprs(1)), "built-in")

  /** Public + JVM-static (via companion forwarder) for generated code.
    * Malformed escapes surface as NumberFormatException from `unescape`;
    * get_json_object parity is malformed → SQL NULL, so catch here at the
    * single entry point rather than at each unescape call site.
    */
  def extract(json: UTF8String, key: UTF8String): UTF8String =
    try extractImpl(json, key)
    catch { case _: NumberFormatException => null }

  private def extractImpl(json: UTF8String, key: UTF8String): UTF8String = {
    if (json == null || key == null) return null
    val s = json.toString
    val k = key.toString
    val n = s.length
    var i = skipWs(s, 0)
    if (i >= n || s.charAt(i) != '{') return null
    i += 1
    while (i < n) {
      i = skipWs(s, i)
      if (i >= n || s.charAt(i) == '}') return null
      if (s.charAt(i) != '"') return null
      val keyEnd = stringEnd(s, i)
      if (keyEnd < 0) return null
      val isMatch = stringEquals(s, i + 1, keyEnd - 1, k)
      i = skipWs(s, keyEnd)
      if (i >= n || s.charAt(i) != ':') return null
      i = skipWs(s, i + 1)
      if (i >= n) return null
      s.charAt(i) match {
        case '"' =>
          val e = stringEnd(s, i)
          if (e < 0) return null
          if (isMatch) return UTF8String.fromString(unescape(s, i + 1, e - 1))
          i = e
        case '{' | '[' =>
          val e = nestedEnd(s, i)
          if (e < 0) return null
          if (isMatch) return UTF8String.fromString(s.substring(i, e))
          i = e
        case _ =>
          var j = i
          while (j < n && s.charAt(j) != ',' && s.charAt(j) != '}') j += 1
          if (isMatch) {
            val raw = s.substring(i, j).trim
            if (raw == "null" || raw.isEmpty) return null
            // Spark round-trips fractional/exponent numbers through double
            // (Jackson re-serialization): "-12.5e3" -> "-12500.0".
            val normalized =
              if (raw.indexOf('.') >= 0 || raw.indexOf('e') >= 0 || raw.indexOf('E') >= 0)
                try java.lang.Double.toString(java.lang.Double.parseDouble(raw))
                catch { case _: NumberFormatException => raw }
              else raw
            return UTF8String.fromString(normalized)
          }
          i = j
      }
      i = skipWs(s, i)
      if (i < n && s.charAt(i) == ',') i += 1
      else return null // '}' (key absent) or malformed
    }
    null
  }

  private def skipWs(s: String, from: Int): Int = {
    var i = from
    while (i < s.length && (s.charAt(i) == ' ' || s.charAt(i) == '\t' ||
      s.charAt(i) == '\n' || s.charAt(i) == '\r')) i += 1
    i
  }

  /** Index just past the closing quote of the string starting at `start`
    * (which must be '"'), honoring escapes; -1 if unterminated.
    */
  private def stringEnd(s: String, start: Int): Int = {
    var i = start + 1
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\') i += 2
      else if (c == '"') return i + 1
      else i += 1
    }
    -1
  }

  /** Compare the (possibly escaped) string body s[from, to) to `k`. */
  private def stringEquals(s: String, from: Int, to: Int, k: String): Boolean = {
    if (to - from == k.length && s.regionMatches(from, k, 0, k.length) &&
        s.indexOf('\\', from) < 0) return true // fast path, no escapes
    unescape(s, from, to) == k
  }

  private def unescape(s: String, from: Int, to: Int): String = {
    if (s.indexOf('\\', from) < 0 || s.indexOf('\\', from) >= to)
      return s.substring(from, to)
    val sb = new java.lang.StringBuilder(to - from)
    var i = from
    while (i < to) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < to) {
        s.charAt(i + 1) match {
          case '"' => sb.append('"'); i += 2
          case '\\' => sb.append('\\'); i += 2
          case '/' => sb.append('/'); i += 2
          case 'b' => sb.append('\b'); i += 2
          case 'f' => sb.append('\f'); i += 2
          case 'n' => sb.append('\n'); i += 2
          case 'r' => sb.append('\r'); i += 2
          case 't' => sb.append('\t'); i += 2
          case 'u' =>
            // Needs exactly 4 HEX DIGITS within the body; a truncated
            // escape like "\u123 would otherwise swallow the closing
            // quote, and parseInt alone accepts a sign ("\u+123") that
            // strict-JSON Jackson rejects. Malformed → NumberFormatException,
            // caught in extract → SQL NULL.
            if (i + 6 > to) throw new NumberFormatException("truncated \\u escape")
            var cp = 0
            var h = i + 2
            while (h < i + 6) {
              val d = Character.digit(s.charAt(h), 16)
              if (d < 0) throw new NumberFormatException("invalid \\u escape")
              cp = cp * 16 + d
              h += 1
            }
            sb.append(cp.toChar); i += 6
          case other => sb.append(other); i += 2
        }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Index just past the matching close of the '{' or '[' at `start`,
    * depth-counting and string-aware; -1 if unbalanced.
    */
  private def nestedEnd(s: String, start: Int): Int = {
    var depth = 0
    var i = start
    while (i < s.length) {
      s.charAt(i) match {
        case '"' =>
          val e = stringEnd(s, i)
          if (e < 0) return -1
          i = e
        case '{' | '[' => depth += 1; i += 1
        case '}' | ']' =>
          depth -= 1; i += 1
          if (depth == 0) return i
        case _ => i += 1
      }
    }
    -1
  }
}
