package graft.core

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CacheManager, CachedData}

/** What Spark keeps cached across a call, and its release. An operator
  * that returns a lazy frame over a frame it persisted cannot unpersist
  * it (the caller's action reads it); left behind, it would serve any
  * later call that persists an equal plan. The entry runner
  * ([[graft.SparkEntry.run]]) therefore releases what each call cached,
  * except the RDDs a [[SessionCache]] memo holds. Calls run one at a
  * time: a release also frees what another thread cached meanwhile.
  */
object CacheScope {

  // Spark keeps the entry list private; `isEmpty` is its only public view.
  private val cachedData = {
    val f = classOf[CacheManager].getDeclaredField("cachedData")
    f.setAccessible(true)
    f
  }

  /** The `CacheManager`'s entries. */
  def entries(spark: SparkSession): Seq[CachedData] =
    cachedData.get(spark.sharedState.cacheManager).asInstanceOf[Seq[CachedData]]

  /** Run `body`, then release, blocking and even if it throws, every
    * cache entry and persisted RDD that appeared meanwhile, except the
    * RDDs a [[SessionCache]] memo holds.
    */
  def scoped[T](spark: SparkSession)(body: => T): T = {
    val entries0 = entries(spark)
    val rdds0 = spark.sparkContext.getPersistentRDDs.keySet.toSet
    try body finally {
      val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      entries(spark).filterNot(e => entries0.exists(_ eq e)).foreach { e =>
        spark.sharedState.cacheManager.uncacheQuery(classic, e.plan, cascade = false, blocking = true)
      }
      val pinned = SessionCache.pinnedRdds(spark)
      spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!rdds0(id) && !pinned(id)) rdd.unpersist(blocking = true)
      }
    }
  }
}
