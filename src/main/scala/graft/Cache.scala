package graft

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Session-scoped registry of shared, persisted intermediates.
  *
  * The reference re-derives per-corpus state on every request (each CLI
  * query re-opens the store; the CI loop runs ≤30 searches each scanning
  * the corpus — `src/core/ci/doc-service.ts:231-236`). Persisting the
  * scored/vectorized corpus across a multi-query session is the single
  * biggest lever vs that design (SURVEY.md §4): at 100 TB the tokenized
  * sparse vectors are built once per job, not once per query.
  *
  * Storage level MEMORY_AND_DISK: spill instead of recompute — the
  * inputs here (sparse doc vectors, normed embeddings) are far smaller
  * than the raw text corpus.
  */
object Cache {

  /** Per-session state keyed by the session OBJECT under identity
    * equality (`SparkSession` overrides neither `equals` nor
    * `hashCode`), never by `System.identityHashCode`, which two
    * sessions can share. A plain identity map, not a weak one: the
    * cached DataFrames hold their session, so weak keys could never be
    * collected. An entry lives until [[Cache.clear]] (or `remove`)
    * drops it or its session's context stops; stopped sessions are
    * swept on every access, so a new session never reads a dead one's
    * state. Sessions made with `newSession()` on a live context keep
    * their entries until cleared. `fresh` makes a session's first
    * value. */
  final class PerSession[M](fresh: => M) {
    private val m = new java.util.IdentityHashMap[SparkSession, M]()
    def apply(spark: SparkSession): M = synchronized {
      m.keySet.removeIf(_.sparkContext.isStopped)
      m.computeIfAbsent(spark, _ => fresh)
    }
    def remove(spark: SparkSession): Option[M] =
      synchronized(Option(m.remove(spark)))
  }

  private val frames =
    new PerSession(mutable.Map.empty[(String, String), DataFrame])

  /** The `build` thunk runs OUTSIDE the monitor: build paths reach the
    * HNSW artifact caches (ConcurrentHashMap bins held across long
    * index builds), whose mapping functions call back into
    * [[getOrBuild]] — holding this monitor across a build closed a
    * 3-way cycle (Cache monitor → image-cache bin → index-cache bin →
    * Cache monitor) the moment a bench/serving session ran queries
    * concurrently (jstack-confirmed deadlock, round 13). The monitor
    * now only guards map reads/writes — a leaf lock by construction.
    * A concurrent first-build may run the (deterministic) thunk twice;
    * the loser's DataFrame is discarded un-persisted and the winner is
    * shared — never two live persisted copies. */
  def getOrBuild(spark: SparkSession, key: String, dir: String)(
      build: => DataFrame): DataFrame = {
    val k = (key, dir)
    synchronized {
      frames(spark).get(k) match {
        case Some(df) => return df
        case None =>
      }
    }
    val df = build
    synchronized {
      val store = frames(spark)
      store.get(k) match {
        case Some(winner) => winner
        case None =>
          df.persist(StorageLevel.MEMORY_AND_DISK)
          store(k) = df
          df
      }
    }
  }

  /** Re-materialize every cached intermediate owned by `spark`: one
    * count per entry re-caches the partitions a memory-pressure burst
    * (the bench's concurrent cold pass; any heavy concurrent job)
    * evicted, so subsequent serving measures operators over the warm
    * session cache the design intends — not eviction roulette. Cost
    * is one cached-read (or one recompute, once) per entry. */
  def rewarm(spark: SparkSession): Unit = {
    val mine = synchronized(frames(spark).values.toSeq)
    mine.foreach(df => try df.count() catch { case NonFatal(_) => () })
  }

  private val sideCaches = mutable.Buffer.empty[SparkSession => Unit]

  /** Register a side-cache's per-session eviction (e.g. the ANN salt
    * memo) so [[clear]] drops it together with the DataFrame cache —
    * without this a process-global memo outlives every session and
    * probes that clear the cache silently reuse stale entries. */
  def registerSideCache(evict: SparkSession => Unit): Unit = synchronized {
    sideCaches += evict
  }

  /** Drop everything owned by one session (tests). */
  def clear(spark: SparkSession): Unit = synchronized {
    frames.remove(spark).foreach(_.values.foreach(_.unpersist(false)))
    sideCaches.foreach(_(spark))
  }
}
