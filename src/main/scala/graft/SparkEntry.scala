package graft

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.{CacheScope, QueryDef, QueryModule, Seed}

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
    ext.Dedup, ext.Similarity, ext.Ivf, ext.SemDedup, ext.TextAnalysis, ext.Multimodal,
    ext.Corpus, ext.Linkage,
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

  /** One entry per implemented operator from SURVEY.md §2. Mains run
    * entries only through [[run]]; specs may call them directly.
    */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map { case (name, d) => name -> d.fn }

  /** Every entry name, in the order the harness mains sweep them. */
  lazy val names: Seq[String] = all.keys.toSeq

  /** An entry call's result (or what it threw) and its wall seconds. */
  final case class Ran[T](name: String, result: Try[T], seconds: Double) {
    def get: T = result.recover { case e =>
      throw new RuntimeException(s"$name failed: ${e.getMessage}", e) }.get
  }

  /** The one way a main runs an entry: build `name` over `sfDir` and run
    * `action` on it, timing both. After the clock stops, what the call
    * cached is released, even on a throw ([[core.CacheScope]]).
    */
  def run[T](spark: SparkSession, name: String, sfDir: String)(action: DataFrame => T): Ran[T] = {
    val fn = all.getOrElse(name, throw new NoSuchElementException(s"no registry entry $name")).fn
    CacheScope.scoped(spark) {
      val t0 = System.nanoTime()
      val result = try Success(action(fn(spark, sfDir))) catch { case e: Throwable => Failure(e) }
      Ran(name, result, (System.nanoTime() - t0) / 1e9)
    }
  }

  /** [[run]] with the timed action `toRdd.count()`: it consumes the
    * entry's own physical plan, so every output column materializes
    * (`df.count()` would let the optimizer prune the projections being
    * measured). Bench and Profile time through this.
    */
  def timed(spark: SparkSession, name: String, sfDir: String): Ran[Long] =
    run(spark, name, sfDir)(_.queryExecution.toRdd.count())

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    all.collect { case (name, QueryDef(_, Some(sql), _)) => name -> sql.trim }
}
