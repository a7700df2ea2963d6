package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{QueryDef, QueryModule, Seed, Tables, Warehouse}

/** Bucketed co-located join — the zero-shuffle join layout for repeated
  * large-fact joins at scale: both sides are written `bucketBy` the join
  * key (hash-partitioned into files at write time), so the join reads
  * co-located buckets and plans a SortMergeJoin with NO Exchange on
  * either side (pinned in PlanSpec). At 100 TB this converts an
  * every-query shuffle of both tables into a one-time write-side cost —
  * the standard layout for fact tables joined on the same key by many
  * queries.
  */
object Bucketed extends QueryModule {

  private val Buckets = 8
  private val BktRoot = "/tmp/graft_bkt"

  /** Per-fixture bucketed table name (core.Tables.fixtureTag over the
    * source table, `-` mapped to `_` to stay an identifier), so a
    * regenerated fixture at the same path never reuses stale buckets.
    * Tag version v2: a v1 seed dir keeps its DDL in the marker and has
    * no [[SchemaFile]], so it must not be re-attached.
    */
  private[graft] def tableName(sfDir: String, tbl: String): String =
    s"${tbl}_bkt_" + Tables.fixtureTag("v2", sfDir, tbl).replace('-', '_')

  /** The seed-time schema DDL, inside the seed dir. The `_` prefix keeps
    * it out of the table's file listing.
    */
  private val SchemaFile = "_schema.ddl"

  /** Make `table` available as a bucketed table, paying the bucketed WRITE
    * only on the first run per fixture per machine (a `Warehouse.ensureSeed`
    * seed dir, same economics as the Derby seed in Scans): the files live
    * under a persistent seed dir, and a later JVM — whose in-memory
    * catalog is empty even though the files survived — re-attaches them
    * with a metadata-only `CREATE TABLE ... CLUSTERED BY ... LOCATION`
    * (bucket ids are carried in the file names, so no data moves). This
    * is exactly a real bucketed fact table's cost model: one-time layout
    * write, co-located reads for every query after. The seed runs before
    * the catalog check, so every call counts a hit or a miss.
    */
  private def ensureBucketed(spark: SparkSession, table: String, key: String,
      src: => DataFrame): Unit = {
    val dir = Warehouse.ensureSeed(new java.io.File(BktRoot, table)) { d =>
      val df = src
      df.write.bucketBy(Buckets, key).sortBy(key)
        .option("path", d)
        .mode("overwrite").saveAsTable(table)
      java.nio.file.Files.write(new java.io.File(d, SchemaFile).toPath,
        df.schema.toDDL.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      ()
    }
    if (!spark.catalog.tableExists(table)) {
      // The seed carries the schema DDL, so the attach is two catalog
      // calls and zero file reads (a footer read here cost ~0.8 s of the
      // fresh-JVM path).
      val ddl = new String(java.nio.file.Files.readAllBytes(
        new java.io.File(dir, SchemaFile).toPath), java.nio.charset.StandardCharsets.UTF_8)
      spark.sql(
        s"""CREATE TABLE `$table` ($ddl) USING parquet
           |CLUSTERED BY (`$key`) SORTED BY (`$key`) INTO $Buckets BUCKETS
           |LOCATION '$dir'""".stripMargin)
      ()
    }
  }

  /** Seed/attach both bucketed tables without running the join. Returns
    * the table names.
    */
  private[graft] def seed(spark: SparkSession, sfDir: String): (String, String) = {
    // Table names carry a per-fixture tag so different scale factors in
    // one session (Verify vs specs) never reuse each other's buckets.
    val (ot, ct) = (tableName(sfDir, "orders"), tableName(sfDir, "customer"))
    ensureBucketed(spark, ot, "o_custkey", Tables(spark, sfDir, "orders"))
    ensureBucketed(spark, ct, "c_custkey", Tables(spark, sfDir, "customer"))
    (ot, ct)
  }

  /** The bucketed tables' one-time layout write (or catalog attach),
    * untimed like the Derby import: a one-time LAYOUT cost is not the
    * operator's steady-state throughput. The bucketed join itself stays
    * timed cold like every other query.
    */
  val LayoutSeed: Seed = Seed("bucketed layout", seed)

  /** Register both sides bucketed by the join key (write-once per fixture,
    * see ensureBucketed), return the co-located join result.
    */
  def bucketedJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val (ot, ct) = seed(spark, sfDir)
    val o = spark.table(ot)
    val c = spark.table(ct)
    o.join(c, o("o_custkey") === c("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"), round(sum(col("o_totalprice")), 2).as("total"))
      .orderBy("c_mktsegment")
  }

  override val defs: Map[String, QueryDef] = Map(
    "q_bucketed_join" -> QueryDef(bucketedJoin, Some("""
      SELECT c_mktsegment, count(*) AS n_orders, round(sum(o_totalprice), 2) AS total
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_mktsegment ORDER BY c_mktsegment"""), Seq(LayoutSeed)))
}
