package graft.util

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession

import scala.collection.concurrent.TrieMap

/** The one registry of session-scoped state: staged builds shared
  * across queries (LSH candidate stages, IVF indexes, trained models,
  * scratch-table paths, sizing counts) and the CDC path's per-session
  * memos (read schemas, registered partitions, ensured tables, batch
  * counters, the hadoop-conf broadcast).
  *
  * Entries are keyed by (applicationId, key). Each owner keeps its own
  * fixed key prefix (`"ivf:"`, `"schema:"`, …), so no two owners can
  * alias one entry. An entry is built once per (application, key) and
  * served to every later caller — the build-once/serve-many lifecycle
  * of an index built at ingest and queried many times. Entries often
  * hold persisted DataFrames whose cached blocks die with their
  * session, so ONE listener per application evicts all of that
  * application's entries when it ends (SparkListener.onApplicationEnd)
  * — a long-lived JVM hosting many sequential sessions cannot
  * accumulate entries for dead applications. Every entry can be
  * rebuilt: a dropped stage recomputes, a dropped memo re-derives or
  * re-runs idempotent DDL.
  *
  * Whether a staged frame is settled ([[Staged.settle]]) or persisted
  * is the builder's choice, made in the `make` body.
  */
private[graft] object SessionScopedCache {

  private val cache = TrieMap.empty[(String, String), Any]
  private val hooked = TrieMap.empty[String, Unit]

  /** Global build (cache-miss) counter: the bench snapshots it around
    * each rep so a query whose warm reps answer from session-staged
    * state is LABELED as such in the emitted JSON — warm `queries_min`
    * timings for those queries measure the serve path, not the staged
    * build, and cross-round comparisons must pair them with the
    * `queries_cold` column.
    */
  private[graft] val misses = new java.util.concurrent.atomic.AtomicLong(0L)
  private[graft] def totalMisses: Long = misses.get()

  /** Listeners registered so far, one per application. */
  private val listeners = new java.util.concurrent.atomic.AtomicLong(0L)
  private[graft] def listenersAdded: Long = listeners.get()

  def getOrElseUpdate[T](s: SparkSession, key: String)(make: => T): T =
    cache.getOrElseUpdate(slot(s, key), { misses.incrementAndGet(); make }).asInstanceOf[T]

  def get[T](s: SparkSession, key: String): Option[T] =
    cache.get((s.sparkContext.applicationId, key)).map(_.asInstanceOf[T])

  def put(s: SparkSession, key: String, value: Any): Unit = {
    cache.put(slot(s, key), value)
    ()
  }

  def remove(s: SparkSession, key: String): Unit = {
    cache.remove((s.sparkContext.applicationId, key))
    ()
  }

  /** The entry key, after making sure the application's eviction
    * listener is registered (exactly once: only the caller whose
    * `putIfAbsent` wins adds it).
    */
  private def slot(s: SparkSession, key: String): (String, String) = {
    val appId = s.sparkContext.applicationId
    if (hooked.putIfAbsent(appId, ()).isEmpty) {
      s.sparkContext.addSparkListener(new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = evict(appId)
      })
      listeners.incrementAndGet()
    }
    (appId, key)
  }

  private[graft] def evict(appId: String): Unit = {
    cache.filterInPlace { case ((app, _), _) => app != appId }
    hooked.remove(appId)
    ()
  }

  private[graft] def entryCount: Int = cache.size
}
