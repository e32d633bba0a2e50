package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Session-scoped memoization with eviction when the session's context
  * shuts down (ADVICE r12: caches keyed by SparkSession in plain TrieMaps
  * outlive stopped sessions and pin cached/checkpointed block references
  * for the JVM lifetime in multi-session processes). First use from a
  * session installs one SparkListener on that session's context; on
  * application end every entry keyed by the session is dropped, releasing
  * the DataFrame references so the blocks (already gone with the context)
  * and plans can be garbage-collected.
  *
  * The values memoized through this cache are bounded by construction —
  * table readers (a plan, not data), persisted layer frames, trained
  * model frames — never corpus-sized driver data.
  */
object SessionCache {

  private val store =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, Any), Any]
  /** Storage level each [[layer]] value carried right after its builder
    * ran (NONE entries are never recorded). Lets a hit re-assert the
    * persistence: `spark.catalog.clearCache()` (or any cacheQuery
    * eviction) drops the CacheManager REGISTRATION of a memoized layer
    * frame while this cache keeps handing the frame out — without the
    * re-persist every consumer silently recomputes the layer from
    * source for the rest of the session (the r14 order-dependent
    * ContractSpec failure: stress_centrality re-ran the whole wide-graph
    * build at every construction once a clearCache landed between suite
    * runs). Re-persisting only re-registers; blocks repopulate lazily on
    * the next consumer's execution — a one-time cost, not a rebuild. */
  private val builtLevel = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, Any), StorageLevel]
  private val hooked = java.util.Collections.newSetFromMap(
    new java.util.concurrent.ConcurrentHashMap[SparkSession, java.lang.Boolean])

  private def hook(s: SparkSession): Unit =
    if (hooked.add(s)) {
      s.sparkContext.addSparkListener(new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
          evict(s)
      })
    }

  /** Drop every entry keyed by `s` — the application-end listener's body,
    * callable directly so the eviction path is unit-testable without
    * stopping the suite's shared context (SessionCacheSpec). */
  private[graft] def evict(s: SparkSession): Unit = {
    store.keys.iterator.filter(_._1 eq s).foreach(store.remove)
    builtLevel.keys.iterator.filter(_._1 eq s).foreach(builtLevel.remove)
    hooked.remove(s)
  }

  /** Entry count for `s` (test observability). */
  private[graft] def entriesFor(s: SparkSession): Int =
    store.keys.count(_._1 eq s)

  /** Memoize `mk` under (session, key). `mk` may run more than once under
    * concurrent first access (TrieMap getOrElseUpdate is not atomic for
    * side effects) — every memoized builder here is idempotent. */
  def getOrElseUpdate[V](s: SparkSession, key: Any)(mk: => V): V = {
    hook(s)
    store.getOrElseUpdate((s, key), mk).asInstanceOf[V]
  }

  /** Memoized layer with [[LayerMetrics]] accounting: hits record a reuse,
    * misses run `mk` under the named build timer. The shared shape of the
    * mart/gram/pair/vocab layer caches (SURVEY §4's materialize-once
    * posture), now with session-end eviction in one place. */
  def layer[V](name: String, s: SparkSession, key: Any)(mk: => V): V = {
    hook(s)
    val k = (s, (name, key))
    store.get(k) match {
      case Some(v) =>
        LayerMetrics.reuse(name)
        v match { // self-heal a dropped persist registration (see builtLevel)
          case df: org.apache.spark.sql.Dataset[_] =>
            builtLevel.get(k).foreach { lvl =>
              if (df.storageLevel == StorageLevel.NONE)
                df.persist(lvl)
            }
          case _ =>
        }
        v.asInstanceOf[V]
      case None =>
        val v = store.getOrElseUpdate(k, LayerMetrics.build(name)(mk))
        v match {
          case df: org.apache.spark.sql.Dataset[_]
              if df.storageLevel != StorageLevel.NONE =>
            builtLevel.put(k, df.storageLevel)
          case _ =>
        }
        v.asInstanceOf[V]
    }
  }

  /** [[layer]] for a persisted frame: `mk`'s result is persisted
    * MEMORY_AND_DISK and counted inside the layer's build timer, so the
    * materialization is charged to the named layer at build time, not
    * smeared over whichever consumer's action fires first. Frames kept
    * here must be bounded by their inputs' row counts. */
  def persisted(name: String, s: SparkSession, key: Any)(mk: => DataFrame): DataFrame =
    layer(name, s, key) {
      val df = mk.persist(StorageLevel.MEMORY_AND_DISK)
      df.count()
      df
    }
}
