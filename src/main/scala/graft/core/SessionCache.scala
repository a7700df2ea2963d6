package graft.core

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** Per-session memo of session-bound values (resolved DataFrames and
  * similar plan-shaped state).
  *
  * Not a WeakHashMap keyed on the session: a cached DataFrame strongly
  * references its session, so a weak key would never be collected
  * (ADVICE r14). The first touch per session registers a context-stop
  * listener instead, and the stop event evicts every entry whose session
  * rides a stopped context (`newSession()` clones go with their parent).
  *
  * A memo value is meant to outlive the call that built it, so the
  * entry runner's release ([[CacheScope]]) keeps every persisted RDD a
  * memoized DataFrame reads ([[SessionCache.pinnedRdds]]).
  */
final class SessionCache[K, V] {
  private val maps = new java.util.concurrent.ConcurrentHashMap[
    SparkSession, java.util.concurrent.ConcurrentHashMap[K, V]]()
  SessionCache.all.add(this)

  private def perSession(spark: SparkSession) =
    maps.computeIfAbsent(spark, s => {
      // SparkContext.stop() flips isStopped BEFORE posting
      // ApplicationEnd, so the sweep below observes the stopping
      // context as stopped. One listener per cached session: cheap,
      // and each sweep clears every already-stopped session's entries
      // (including sessions whose own listener already ran).
      s.sparkContext.addSparkListener(new SparkListener {
        override def onApplicationEnd(end: SparkListenerApplicationEnd): Unit =
          evictStopped()
      })
      new java.util.concurrent.ConcurrentHashMap[K, V]()
    })

  /** Drop every entry keyed by a session whose context has stopped.
    * Called from the stop listener; exposed for direct use in tests. */
  private[graft] def evictStopped(): Unit = {
    val it = maps.keySet().iterator()
    while (it.hasNext) if (it.next().sparkContext.isStopped) it.remove()
  }

  /** Memoized build under the map's per-bin lock — use when `build` is
    * cheap driver-side work (a read plan, schema inference) that never
    * runs a Spark job. Exactly-once per key.
    */
  def getOrBuild(spark: SparkSession, key: K)(build: => V): V =
    perSession(spark).computeIfAbsent(key, _ => build)

  /** Memoized build WITHOUT holding the map lock during `build` — use
    * when the build runs Spark jobs (an eager localCheckpoint): a
    * lock-held job would block unrelated keys hashing to the same bin
    * for the job's whole duration. Racing builders may both run; the
    * first `putIfAbsent` wins and everyone returns the winner.
    */
  def getOrBuildRacy(spark: SparkSession, key: K)(build: => V): V = {
    val per = perSession(spark)
    val cur = per.get(key)
    if (cur != null) cur
    else {
      val built = build
      val prev = per.putIfAbsent(key, built)
      if (prev != null) prev else built
    }
  }

  /** Entry count across all sessions (test observability). */
  private[graft] def size: Int = {
    var n = 0
    maps.forEach((_, m) => n += m.size())
    n
  }
}

object SessionCache {
  private val all = new java.util.concurrent.ConcurrentLinkedQueue[SessionCache[_, _]]()

  /** Ids of the persisted RDDs that the memoized DataFrames of
    * `spark`'s context read: the RDDs behind their `localCheckpoint`s.
    */
  private[graft] def pinnedRdds(spark: SparkSession): Set[Int] =
    all.asScala.flatMap(_.maps.asScala.collect {
      case (s, m) if s.sparkContext eq spark.sparkContext => m.values.asScala
    }.flatten).flatMap {
      case df: Dataset[_] => df.queryExecution.logical.collect { case r: LogicalRDD => r.rdd.id }
      case _ => Nil
    }.toSet
}
