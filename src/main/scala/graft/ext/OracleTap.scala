package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Materialization tap for partially-oracled queries (VERDICT r8 #6).
  *
  * The MinHash/SimHash near-dup pipelines have exactly ONE leg DuckDB
  * cannot recompute: the banded candidate stage (seeded permutations /
  * a custom hash kernel). Everything downstream — exact-Jaccard or
  * Hamming verification, threshold, exact-group expansion, ordering — is
  * deterministic relational algebra over the documents table. Writing the
  * candidate-stage output to a fixed path and READING IT BACK into the
  * query plan lets the driver's DuckDB oracle recompute the entire verify
  * leg from the same intermediate (`read_parquet` on the tap path), which
  * upgrades those entries from rows-only to hash-matched on everything
  * but the hash kernel itself (whose bit-identity has its own spec).
  *
  * The path is fixed per JVM (oracleSql is a static map with no sfDir
  * parameter): each query run overwrites the tap, and the driver runs the
  * oracle immediately after Verify's dump, so the tap always reflects the
  * verified run. Tap writes are tiny — candidates are rep-level
  * (distinct-content) pairs, signatures one row per rep.
  */
object OracleTap {

  private[graft] val Base = "/tmp/graft_oracle_aux"

  /** This JVM's tap dir, `Base/<pid>`: two engine JVMs on one host (two
    * spec runs, a spec beside a Verify) never share a tap.
    */
  val Root: String = s"$Base/${ProcessHandle.current().pid()}"

  private val SweepAgeMs = 24L * 60 * 60 * 1000

  /** Delete every `<pid>` dir under `base` whose process is dead and that
    * is idle for [[SweepAgeMs]], so a finished Verify's taps stay until
    * `check.py` reads them. A JVM sweeps on its first tap write.
    */
  private[graft] def sweep(base: java.io.File, nowMs: Long): Unit =
    graft.core.TempDirs.sweepIdle(base, nowMs - SweepAgeMs)(_.getName.toLongOption
      .exists(pid => pid > 0 && !ProcessHandle.of(pid).filter(_.isAlive).isPresent))

  private lazy val swept: Unit = sweep(new java.io.File(Base), System.currentTimeMillis())

  /** `-Dgraft.tap.disabled=true` (set ONLY by Bench, disclosed there and
    * in SURVEY round-11 continuation 4): a production run writes no tap,
    * so the benchmark measures that form; Verify always runs with taps
    * ON. The disabled path substitutes a lazy localCheckpoint, which keeps
    * the tap's two PLAN-level effects — the tapped intermediate is
    * materialized once (the cluster-graph propagation iterates over it)
    * and its lineage is truncated — and skips only the parquet round-trip.
    */
  private def disabled: Boolean =
    sys.props.get("graft.tap.disabled").contains("true")

  /** Overwrite the tap for `name` with `df` and return the read-back
    * DataFrame, so the query's own output provably derives from the same
    * rows the oracle reads. `single = false` keeps the writer's
    * parallelism for larger taps (the oracle globs `*.parquet` either
    * way); the default single file suits the tiny rep-level taps.
    */
  def apply(spark: SparkSession, name: String, df: DataFrame,
      single: Boolean = true): DataFrame = {
    if (disabled) return df.localCheckpoint(false)
    swept
    val path = s"$Root/$name"
    (if (single) df.coalesce(1) else df).write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }
}
