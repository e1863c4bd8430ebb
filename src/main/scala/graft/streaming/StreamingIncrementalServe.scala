package graft
package streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Hnsw, IncrementalIndex => II}

/** Streaming ingest → INCREMENTAL segment lifecycle — the LSM loop
  * composed end-to-end, and [[StreamingShardedServe]]'s scale-honest
  * sibling: that lifecycle folds the streamed delta into a GROWN
  * corpus and reseals every segment (cost ∝ corpus); this one seals
  * the delta as its OWN segment (cost ∝ delta,
  * [[graft.operators.IncrementalIndex.sealDelta]]) and amortizes
  * graph-build debt through size-tiered compaction instead of
  * whole-corpus rebuilds:
  *
  *   vectors stream in → land in per-batch delta directories
  *     (the [[StreamingShardedServe.startIngest]] idempotent
  *     discipline, unchanged)
  *     → queries serve segments + exact-delta in one k-bounded gather
  *       ([[graft.operators.IncrementalIndex.serve]])
  *     → when the delta outgrows a DERIVED fraction of the SMALLEST
  *       sealed segment (the LSM trigger: a delta is worth sealing
  *       when its index would be segment-sized — contrast
  *       [[StreamingShardedServe.maybeReseal]]'s whole-corpus
  *       fraction), it seals as the next segment and its consumed
  *       batch dirs drop
  *     → [[graft.operators.IncrementalIndex.compactUntil]] bounds the
  *       segment count as seals accumulate.
  *
  * Ingest corrections ride the same machinery at every stage:
  * latest-batch-wins inside the delta, the delta arm shadows every
  * segment while un-sealed, and the seal records them as shadows —
  * never a sealed-file rewrite. StreamingIncrementalSpec pins
  * batch-invariance, the seal trigger, consumed-batch cleanup, and
  * correction survival across the seal.
  */
object StreamingIncrementalServe {

  /** Serve queries through the sealed segments + whatever has landed
    * in `$deltaWork/delta` so far — [[II.serve]] with the streamed
    * delta as its live arm. `maxRoutes`/`margin` route the SEALED
    * scatter only (a burst-heavy stream serves R ≪ S segment images per
    * query where the corpus has structure); the live delta always
    * scans exactly, so routing can never cost freshness. An unbounded
    * query table serves through [[II.serveQueryTable]] with the same
    * delta (spec-pinned equal). */
  def serve(spark: SparkSession, segWork: String, deltaWork: String,
      queries: DataFrame, ef: Int = 16, k: Int = 10,
      budgetBytes: Long = Hnsw.DefaultNodeBudget,
      maxRoutes: Int = Int.MaxValue, margin: Double = 2.0): DataFrame =
    II.serve(spark, segWork, queries, ef, k, budgetBytes, maxRoutes,
      margin, Some(StreamingShardedServe.deltaRows(spark, deltaWork)))

  /** Seal the streamed delta as the next segment IF it has outgrown
    * `1/fraction` of the SMALLEST sealed segment (growth measured,
    * never assumed). Seals a SNAPSHOT: only the batch directories
    * that exist when the trigger fires are consumed (latest-wins
    * inside the snapshot) and then dropped — a micro-batch landing
    * mid-seal stays in the delta for the next round, so the
    * at-least-once ingest contract survives the race. Returns the new
    * segment, or None while the delta is still cheap to scan
    * exactly. */
  def maybeSeal(spark: SparkSession, segWork: String, deltaWork: String,
      fraction: Long = 4L): Option[II.Seg] = {
    val root = new org.apache.hadoop.fs.Path(s"$deltaWork/delta")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return None
    val consumed = fs.listStatus(root).toSeq.map(_.getPath)
      .filter(_.getName.startsWith("batch="))
    if (consumed.isEmpty) return None
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id").orderBy(col("batch").desc)
    val snapshot = spark.read
      .option("basePath", s"$deltaWork/delta")
      .parquet(consumed.map(_.toString): _*)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select("vec_id", "embedding")
    val deltaN = snapshot.count()
    if (deltaN == 0) return None
    // per-path cached (rows, dim) — sidecar-read, so the trigger check
    // never re-scans a sealed segment however often it polls
    val minSeg = II.segs(spark, segWork)
      .map(s0 => II.segMeta(spark, s0.dir)._1)
      .minOption.getOrElse(0L)
    if (deltaN * fraction <= minSeg) None
    else {
      val seg = II.sealDelta(spark, segWork, snapshot)
      consumed.foreach(p => fs.delete(p, true))
      seg
    }
  }
}
