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

  private val store = mutable.Map.empty[(Int, String, String), DataFrame]

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
    val k = (System.identityHashCode(spark), key, dir)
    synchronized {
      store.get(k) match {
        case Some(df) => return df
        case None =>
      }
    }
    val df = build
    synchronized {
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
    val mine = synchronized {
      val id = System.identityHashCode(spark)
      store.collect { case ((s, _, _), df) if s == id => df }.toSeq
    }
    mine.foreach(df => try df.count() catch { case NonFatal(_) => () })
  }

  private val sideCaches = mutable.Buffer.empty[Int => Unit]

  /** Register a side-cache's per-session eviction (e.g. the ANN salt
    * memo) so [[clear]] drops it together with the DataFrame cache —
    * without this a process-global memo outlives every session and
    * probes that clear the cache silently reuse stale entries. */
  def registerSideCache(evict: Int => Unit): Unit = synchronized {
    sideCaches += evict
  }

  /** Drop everything owned by one session (tests). */
  def clear(spark: SparkSession): Unit = synchronized {
    val id = System.identityHashCode(spark)
    store.filterInPlace { case ((s, _, _), df) =>
      if (s == id) { df.unpersist(false); false } else true
    }
    sideCaches.foreach(_(id))
  }
}
