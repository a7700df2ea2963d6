package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{QueryDef, QueryModule, Tables}

/** Scalar-function surface: string building (R3, HdfsSink.java:86-97),
  * epoch-millis date math (R4, EventTimeBucketAssigner.java:40-42), JSON
  * extraction (R2/R3 fastjson parse), plus math/array/map families over
  * the fixture tables. Everything is `org.apache.spark.sql.functions` —
  * codegen'd, no UDFs. Int-returning Spark functions are cast to BIGINT
  * where the DuckDB twin returns BIGINT, for schema parity.
  */
object Scalars extends QueryModule {

  private def strFuncs(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "customer")
      .select(
        col("c_custkey"),
        upper(col("c_name")).as("upper_name"),
        lower(col("c_mktsegment")).as("lower_seg"),
        substring(col("c_name"), 1, 8).as("name_prefix"),
        length(col("c_name")).cast(LongType).as("name_len"),
        replace(col("c_name"), lit("Customer#"), lit("")).as("name_id"),
        concat(col("c_mktsegment"), lit("/"), col("c_name")).as("seg_name"),
        trim(lit("  pad  ")).as("trimmed"))
      .orderBy("c_custkey")

  private def dateFuncs(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "events")
      .select(
        col("event_id"),
        date_format(col("ts"), "yyyyMMdd").as("dt"),
        year(col("ts")).cast(LongType).as("y"),
        month(col("ts")).cast(LongType).as("m"),
        dayofmonth(col("ts")).cast(LongType).as("d"),
        hour(col("ts")).cast(LongType).as("h"),
        date_trunc("day", col("ts")).as("day_start"),
        datediff(col("ts").cast(DateType), lit("2024-01-01").cast(DateType))
          .cast(LongType).as("days_since"))
      .orderBy("event_id")

  private def mathFuncs(spark: SparkSession, sfDir: String): DataFrame =
    // Total tie order (r17): (l_orderkey, l_linenumber) is NOT unique in
    // the fixture, so the old 2-key sort's tie order was whatever row
    // order reached the sort — deterministic only while the scan stayed
    // single-task. The spread rebalance exposed that; ordering by every
    // output column makes the contract layout-independent (rows equal on
    // all sort keys are identical, so any order hashes the same). The
    // oracle carries the same ORDER BY list.
    mathProjection(spark, sfDir)
      .orderBy("l_orderkey", "l_linenumber", "price_up", "disc_dev",
        "qty_ceil", "qty_floor", "ln_mod", "price_sqrt", "tax_sq")

  /** The q_math_funcs projection WITHOUT the oracle-determinism global
    * ORDER BY — the form a production sink consumes (sinks don't need
    * total order; the sort is a range exchange + full sort over every
    * output row, THE scale cost of the oracle form — SURVEY §14's
    * "q_math_funcs production-form receipt at 100×" row: 128.9 s oracle
    * form vs 58.7 s without the sort).
    */
  private def mathProjection(spark: SparkSession, sfDir: String): DataFrame =
    // spread (r17): the BigDecimal HALF_UP rounds are the projection's
    // cost and sit scan-side; the rebalanced exchange also gets REUSED by
    // the oracle orderBy's range-sampling pass, so the scan+projection no
    // longer execute twice.
    Tables.spread(spark, sfDir, "lineitem")
      .select(
        col("l_orderkey"), col("l_linenumber"),
        // floor-based 2-decimal truncation, not round: price*1.1 lands on
        // many decimal .xx5 halves where Spark (HALF_UP on the shortest
        // decimal repr) and DuckDB (binary double) round differently.
        (floor(col("l_extendedprice") * lit(1.1) * lit(100)).cast(DoubleType) / lit(100.0))
          .as("price_up"),
        round(abs(col("l_discount") - lit(0.05)), 4).as("disc_dev"),
        ceil(col("l_quantity")).as("qty_ceil"),
        floor(col("l_quantity")).as("qty_floor"),
        (col("l_linenumber") % 3).as("ln_mod"),
        round(sqrt(col("l_extendedprice")), 4).as("price_sqrt"),
        round(pow(col("l_tax"), 2), 6).as("tax_sq"))

  private def jsonFuncs(spark: SparkSession, sfDir: String): DataFrame = {
    // json_get (graft.functions.JsonGet): linear-scan field extraction in
    // whole-stage codegen. Spark's get_json_object/from_json allocate a
    // Jackson parser per row (measured 16-70 µs/row) — the scanner is the
    // difference between JSON work dominating a scan and disappearing
    // into it.
    graft.functions.JsonGet.register(spark)
    Tables(spark, sfDir, "events")
      .select(
        col("event_id"),
        expr("json_get(props, 'k')").as("k_str"),
        expr("json_get(props, 'k')").cast(IntegerType).as("k_int"),
        expr("json_get(props, 'missing')").as("k_missing"))
      .orderBy("event_id")
  }

  private def arrayFuncs(spark: SparkSession, sfDir: String): DataFrame = {
    def e(i: Int) = element_at(col("embedding"), i).cast(DoubleType)
    Tables(spark, sfDir, "embeddings")
      .select(
        col("vec_id"),
        size(col("embedding")).cast(LongType).as("n_dims"),
        round(e(1), 4).as("e1"),
        round(e(64), 4).as("e64"),
        round(e(1) + e(2) + e(3) + e(4), 4).as("head_sum"))
      .orderBy("vec_id")
  }

  private def mapFuncs(spark: SparkSession, sfDir: String): DataFrame = {
    val m = from_json(col("props"), MapType(StringType, IntegerType))
    Tables(spark, sfDir, "events")
      .select(
        col("event_id"),
        element_at(map_keys(m), 1).as("first_key"),
        element_at(m, "k").as("k_val"),
        size(map_keys(m)).cast(LongType).as("n_keys"))
      .orderBy("event_id")
  }

  override val defs: Map[String, QueryDef] = Map(
    "q_str_funcs" -> QueryDef(strFuncs, Some("""
      SELECT c_custkey,
             upper(c_name) AS upper_name,
             lower(c_mktsegment) AS lower_seg,
             substring(c_name, 1, 8) AS name_prefix,
             length(c_name) AS name_len,
             replace(c_name, 'Customer#', '') AS name_id,
             concat(c_mktsegment, '/', c_name) AS seg_name,
             trim('  pad  ') AS trimmed
      FROM customer ORDER BY c_custkey""")),
    "q_date_funcs" -> QueryDef(dateFuncs, Some("""
      SELECT event_id,
             strftime(ts, '%Y%m%d') AS dt,
             year(ts) AS y, month(ts) AS m, day(ts) AS d, hour(ts) AS h,
             date_trunc('day', ts) AS day_start,
             datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS days_since
      FROM events ORDER BY event_id""")),
    "q_math_funcs" -> QueryDef(mathFuncs, Some("""
      SELECT l_orderkey, l_linenumber,
             floor(l_extendedprice * 1.1 * 100) / 100 AS price_up,
             round(abs(l_discount - 0.05), 4) AS disc_dev,
             CAST(ceil(l_quantity) AS BIGINT) AS qty_ceil,
             CAST(floor(l_quantity) AS BIGINT) AS qty_floor,
             l_linenumber % 3 AS ln_mod,
             round(sqrt(l_extendedprice), 4) AS price_sqrt,
             round(pow(l_tax, 2), 6) AS tax_sq
      FROM lineitem ORDER BY l_orderkey, l_linenumber, price_up, disc_dev,
        qty_ceil, qty_floor, ln_mod, price_sqrt, tax_sq""")),
    "q_json_funcs" -> QueryDef(jsonFuncs, Some("""
      SELECT event_id,
             json_extract_string(props, '$.k') AS k_str,
             CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_int,
             json_extract_string(props, '$.missing') AS k_missing
      FROM events ORDER BY event_id""")),
    "q_array_funcs" -> QueryDef(arrayFuncs, Some("""
      SELECT vec_id,
             len(embedding) AS n_dims,
             round(CAST(embedding[1] AS DOUBLE), 4) + 0 AS e1,
             round(CAST(embedding[64] AS DOUBLE), 4) + 0 AS e64,
             round(CAST(embedding[1] AS DOUBLE) + CAST(embedding[2] AS DOUBLE)
                 + CAST(embedding[3] AS DOUBLE) + CAST(embedding[4] AS DOUBLE), 4) + 0 AS head_sum
      FROM embeddings ORDER BY vec_id""")),
    "q_map_funcs" -> QueryDef(mapFuncs, Some("""
      SELECT event_id,
             json_keys(props)[1] AS first_key,
             CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_val,
             len(json_keys(props)) AS n_keys
      FROM events ORDER BY event_id""")))
}
