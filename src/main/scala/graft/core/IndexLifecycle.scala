package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** A persisted index family as the lifecycle scenario drives it: MinHash
  * and pHash postings over `documents`/`doc_id`, IVF postings and
  * semdedup members over `embeddings`/`vec_id`. A family supplies its
  * store ([[PersistedIndex]], the commit protocol), its marker-gated
  * seed and its batch writers; [[IndexLifecycle]] runs every scenario
  * over them.
  */
trait IndexFamily {
  def store: PersistedIndex

  /** The corpus table the index covers; its id column is `store.idCol`. */
  def table: String

  /** The marker-gated seed template, never mutated, and its cut: the seed
    * holds the corpus ids below the cut.
    */
  def seed(spark: SparkSession, sfDir: String): (String, Long)

  /** Write `rows` as a complete single-batch index under `dir`. */
  def write(dir: String, rows: DataFrame): Unit

  /** Append `rows` as one batch; an `ingestKey` already committed is a
    * replay and publishes nothing. `spark` is the session the family
    * reads its own tables with: a micro-batch's rows belong to the
    * stream's session.
    */
  def append(spark: SparkSession, dir: String, rows: DataFrame,
      ingestKey: Option[String] = None): Unit

  def compact(spark: SparkSession, dir: String): Unit

  /** Rebuild from the surviving ids; `corpus` serves the content an
    * index of one-way hashes cannot.
    */
  def rebuild(dir: String, corpus: DataFrame): Unit

  /** Whether answering publishes (semdedup's answers are ingests), so that
    * even an entry with no timed step answers on a scratch copy.
    */
  def answerWrites: Boolean = false
}

/** The one lifecycle scenario every index-family registry entry runs.
  * A scenario's steps are either *baked* — applied once to the family's
  * seed into a marker-gated template (`<seed>-<suffix>`, through
  * [[Warehouse.ensureDerivedSeed]]), the same untimed one-time economics
  * as the seed — or *timed*, run on every call against a fresh scratch
  * copy of that template. The entry's answer is its probe, tapped.
  */
object IndexLifecycle {

  /** One run of a scenario: the fixture, the family's seed and cut, and
    * the index directory the steps act on.
    */
  final class Run private[IndexLifecycle] (val spark: SparkSession, val sfDir: String,
      val seed: String, val cut: Long, val dir: String, scenario: Scenario) {

    def family: IndexFamily = scenario.family

    def corpus: DataFrame = Tables(spark, sfDir, family.table)

    /** Corpus ids in [from, until). */
    def slice(from: Long, until: Long = Long.MaxValue): Column = {
      val id = col(family.store.idCol)
      if (until == Long.MaxValue) id >= from else id >= from && id < until
    }

    /** What the probe (and a takedown's discovery) reads, built at most
      * once per run.
      */
    lazy val batch: DataFrame = scenario.batch(this)

    /** The entry's probe against `dir`, tapped as `tap` if given. */
    def probe(tap: Option[String]): DataFrame = scenario.probe(this, tap)
  }

  sealed trait Step
  /** Append `rows` as one batch. */
  final case class Append(rows: Run => DataFrame) extends Step
  /** Stream the corpus rows `slice` selects in, one keyed append per
    * micro-batch ([[BoundedStream.appendStream]]).
    */
  final case class Stream(slice: Run => Column) extends Step
  /** Delete the ids `victims` names, if it names any. */
  final case class Takedown(victims: Run => Option[DataFrame]) extends Step
  case object Compact extends Step
  case object Rebuild extends Step

  /** Steps applied once to the seed, cached as the template `<seed>-<suffix>`. */
  final case class Bake(suffix: String, steps: Step*)

  private def run(r: Run, step: Step): Unit = step match {
    case Append(rows) => r.family.append(r.spark, r.dir, rows(r))
    case Stream(slice) =>
      BoundedStream.appendStream(Tables.streamTable(r.spark, r.sfDir, r.family.table)
          .filter(slice(r))) { (b, key) => r.family.append(r.spark, r.dir, b, Some(key)) }
    case Takedown(victims) => victims(r).foreach(r.family.store.delete(r.dir, _))
    case Compact => r.family.compact(r.spark, r.dir)
    case Rebuild => r.family.rebuild(r.dir, r.corpus)
  }

  /** An index lifecycle as a registry entry: the `bake` template (the seed
    * if none), then per call the `timed` steps on a scratch copy of it
    * and the probe tapped as `tap`. With no timed step the template
    * answers in place, unless answering writes. `batch` defaults to the
    * corpus from the cut on; `caches` are the marker-gated discovery
    * results the steps read, which [[seed]] builds with the template.
    */
  final case class Scenario(family: IndexFamily, tap: String, timed: Seq[Step],
      probe: (Run, Option[String]) => DataFrame,
      batch: Run => DataFrame = r => r.corpus.filter(r.slice(r.cut)),
      bake: Option[Bake] = None, caches: Seq[Run => Unit] = Nil)
      extends ((SparkSession, String) => DataFrame) {

    /** The seed, the baked template, and a run on the template. */
    private def template(spark: SparkSession, sfDir: String): Run = {
      val (seed, cut) = family.seed(spark, sfDir)
      def on(dir: String) = new Run(spark, sfDir, seed, cut, dir, this)
      on(bake.fold(seed) { b =>
        Warehouse.ensureDerivedSeed(seed, b.suffix) { d =>
          val r = on(d)
          b.steps.foreach(run(r, _))
        }
      })
    }

    /** Everything a call reads but does not time: the family's seed, the
      * baked template (e.g. q_ann_ivf_compact's appended decile) and the
      * discovery caches (q_semdedup_delete's purge cells) — one-time
      * per-fixture LAYOUT writes. A call times the operator (probe,
      * append, stream, delete, compact, rebuild) on a per-run scratch
      * copy, not the setup a deployment pays once per corpus.
      */
    val seed: Seed = Seed(s"${family.store.name} lifecycle $tap", { (spark, sfDir) =>
      val r = template(spark, sfDir)
      caches.foreach(_(r))
    })

    def apply(spark: SparkSession, sfDir: String): DataFrame = {
      val t = template(spark, sfDir)
      val r = if (timed.isEmpty && !family.answerWrites) t else {
        new Run(spark, sfDir, t.seed, t.cut, Warehouse.scratchFromSeed(t.dir,
          s"graft_${family.store.name.toLowerCase}_lifecycle"), this)
      }
      timed.foreach(run(r, _))
      r.probe(Some(tap))
    }
  }
}
