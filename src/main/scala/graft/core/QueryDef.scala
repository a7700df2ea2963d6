package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered engine capability: a Spark query plus (optionally) the
  * equivalent ANSI SQL the driver runs in DuckDB over the same parquet
  * tables. Queries without an oracle get a weaker rows-only check.
  * `seeds` are the one-time artifacts the query reads; a lifecycle
  * [[IndexLifecycle.Scenario]] adds its own.
  *
  * Determinism contract (both sides): key-complete ORDER BY, round(x, 2)
  * on double aggregates, UTC session time zone, matching column names and
  * (as close as practical) matching column types.
  */
final case class QueryDef(
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String] = None,
    seeds: Seq[Seed] = Nil) {

  /** Every seed the query reads: the declared ones, then its scenario's. */
  def allSeeds: Seq[Seed] = fn match {
    case s: IndexLifecycle.Scenario => seeds :+ s.seed
    case _ => seeds
  }
}

/** A one-time per-fixture artifact that queries read but do not time: a
  * marker-gated dir under /tmp ([[Warehouse.ensureSeed]]) or a session
  * memo. `build` makes it if it is missing and is cheap once it exists.
  * Each artifact is one shared value, declared on every [[QueryDef]] that
  * reads it; Bench builds them all before it times anything.
  */
final case class Seed(name: String, build: (SparkSession, String) => Unit)

/** A group of related queries (scans, joins, aggregates, ...). */
trait QueryModule {
  def defs: Map[String, QueryDef]
}
