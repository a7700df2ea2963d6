package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.{QueryDef, QueryModule, Seed}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every engine capability is registered by its module (graft.cdc for the
  * reference's CDC spine, graft.ops for the relational families, graft.ext
  * for the large-scale data-pipeline extensions); this object is only the
  * aggregation point the driver calls.
  */
object SparkEntry {

  private val modules: Seq[QueryModule] = Seq(
    cdc.Cdc,
    ops.Scans, ops.Joins, ops.Aggregates, ops.Windows, ops.SetOps, ops.Scalars,
    ops.AsofJoin, ops.Reshape, ops.Bucketed, ops.Formats, ops.Subqueries,
    ops.Behavior, ops.Graph, ops.Quality,
    ext.Dedup, ext.Similarity, ext.TextAnalysis, ext.Multimodal, ext.Corpus,
    ext.Linkage,
    stream.Streaming)

  /** The registry in module order: no two entries share a name, nor do
    * two different seeds.
    */
  private lazy val defs: Seq[(String, QueryDef)] = {
    val defs = modules.flatMap(_.defs.toSeq)
    require(defs.map(_._1).distinct.size == defs.size, "duplicate query name across modules")
    val seeds = seedsOf(defs)
    require(seeds.map(_.name).distinct.size == seeds.size, "different seeds share a name")
    defs
  }

  private def seedsOf(defs: Seq[(String, QueryDef)]): Seq[Seed] =
    defs.flatMap(_._2.allSeeds).distinct

  private lazy val all: Map[String, QueryDef] = defs.toMap

  /** Every seed an entry declares, in registry order, each once. */
  lazy val seeds: Seq[Seed] = seedsOf(defs)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The CDC merge restore — the one query the whole reference exists to
    * answer (README.md:222-252).
    */
  def entry(spark: SparkSession): DataFrame =
    cdc.Cdc.fullMerge(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map { case (name, d) => name -> d.fn }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    all.collect { case (name, QueryDef(_, Some(sql), _)) => name -> sql.trim }
}
