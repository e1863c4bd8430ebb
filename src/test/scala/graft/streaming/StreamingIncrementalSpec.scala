package graft
package streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.{Hnsw, IncrementalIndex => II, Search}

/** The composed streaming INCREMENTAL lifecycle
  * ([[StreamingIncrementalServe]]): micro-batches land in delta
  * directories, serving composes segments + live delta, the seal
  * triggers on measured segment-relative growth and costs one
  * delta-sized build. Pins batch-invariance of the streamed serve,
  * the seal trigger and its snapshot cleanup, and correction survival
  * (stream-delivered re-embeddings stay latest-wins across the
  * seal). */
class StreamingIncrementalSpec extends SparkSpec {

  private def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
    .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    .sortBy(t => (t._1, t._2))

  private def freshSegs(): String = {
    val segWork = java.nio.file.Files
      .createTempDirectory("graft_sinc_segs").toString
    val stats = Search.embNormed(spark, sfDir)
      .agg(count(lit(1)), first(size(col("embedding")))).head
    val budget = math.max(1L,
      stats.getLong(0) * Hnsw.imageBytesPerVec(stats.getInt(1)) / 3)
    II.initSegments(spark, sfDir, segWork, budget)
    segWork
  }

  test("streamed serve is batch-invariant: two micro-batches serve " +
      "exactly like the same vectors as one explicit delta, and a " +
      "stream-delivered correction wins latest") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext

    val segWork = freshSegs()
    val v0 = Search.embNormed(spark, sfDir)
      .filter(col("vec_id") === 0).select("embedding").head
      .getSeq[Float](0).toArray
    // batch 1: two fresh near-clones + a WRONG embedding for id 5;
    // batch 2: the correction for id 5 (latest-batch-wins)
    val b1 = Seq((900001L, v0.map(_ * 0.5f)),
      (900002L, v0.map(_ * -0.5f)), (5L, v0.map(_ * 2.0f)))
    val b2 = Seq((5L, v0.map(_ * 0.25f)))

    val deltaWork = java.nio.file.Files
      .createTempDirectory("graft_sinc_delta").toString
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_sinc_ckpt").toString
    val stream = MemoryStream[(Long, Array[Float])]
    val q = StreamingShardedServe.startIngest(spark,
      stream.toDF().toDF("vec_id", "embedding"), deltaWork, ckpt)
    try {
      stream.addData(b1: _*)
      q.processAllAvailable()
      stream.addData(b2: _*)
      q.processAllAvailable()
    } finally q.stop()

    val queries = spark.range(8).toDF("query_id")
    val got = rows(StreamingIncrementalServe.serve(spark, segWork,
      deltaWork, queries, ef = 16, k = 5))
    // reference: the SAME vectors as one explicit latest-wins delta
    val explicit = (b1.filterNot(_._1 == 5L) ++ b2)
      .toDF("vec_id", "embedding")
    val want = rows(II.serve(spark, segWork, queries, ef = 16, k = 5,
      delta = Some(explicit)))
    assert(got === want,
      "streamed incremental serve diverged from the explicit-delta serve")
    // the correction is live: kNN(0) ranks id 5 at 1.0 from the
    // 0.25×v0 row (2.0×v0 would score the same 1.0 — pin the id once)
    val for0 = got.filter(_._1 == 0L)
    assert(for0.count(_._3 == 5L) === 1)

    // ROUTED streamed serve: a wide-but-finite margin (1.99 < 2 takes
    // the routed code path) at full maxRoutes must be bit-equal to the
    // full streamed serve (the degeneration pin),
    // and a narrow margin still reports the live-delta correction —
    // the delta arm never rides a routed image, so routing can only
    // trim SEALED scatter, never freshness
    val S = II.segs(spark, segWork).size
    val routedWide = rows(StreamingIncrementalServe.serve(spark,
      segWork, deltaWork, queries, ef = 16, k = 5, maxRoutes = S,
      margin = 1.99))
    assert(routedWide === got,
      "wide-margin routed streamed serve diverged from the full serve")
    val routedNarrow = rows(StreamingIncrementalServe.serve(spark,
      segWork, deltaWork, queries, ef = 16, k = 5, maxRoutes = 1,
      margin = 0.0))
    val narrow0 = routedNarrow.filter(_._1 == 0L)
    assert(narrow0.count(_._3 == 5L) === 1,
      "narrow routing must still serve the live-delta correction")

    // QUERY-TABLE streamed serve (r12 item 4 closed): the fully
    // in-plan composition — join-shaped deadness, broadcast delta arm
    // at +∞ ordinal — answers exactly like the bounded-batch streamed
    // serve: fresh from the live delta, no seal required, and in the
    // routed variant the delta stays structurally immune to routing
    val streamed = Some(StreamingShardedServe.deltaRows(spark, deltaWork))
    val viaTable = rows(II.serveQueryTable(spark, segWork, queries,
      ef = 16, k = 5, delta = streamed))
    assert(viaTable === got,
      "streamed query-table serve diverged from the bounded-batch serve")
    val viaTableRouted = rows(II.serveQueryTable(spark, segWork,
      queries, ef = 16, k = 5, maxRoutes = 1, margin = 0.0,
      delta = streamed))
    assert(viaTableRouted.filter(_._1 == 0L).count(_._3 == 5L) === 1,
      "routed query-table serve must still report the live-delta " +
        "correction")
  }

  test("maybeSeal: measured trigger, snapshot cleanup, delta-sized " +
      "segment, correction survives as a shadow, loop continues") {
    val spark2 = spark
    import spark2.implicits._

    val segWork = freshSegs()
    val deltaWork = java.nio.file.Files
      .createTempDirectory("graft_sinc_delta2").toString
    val v0 = Search.embNormed(spark, sfDir)
      .filter(col("vec_id") === 0).select("embedding").head
      .getSeq[Float](0).toArray
    // land two delta batches directly (ingest idempotence is pinned
    // by the streaming suite; this case is about the seal)
    Seq((900001L, v0.map(_ * 0.5f)), (5L, v0.map(_ * 0.25f)))
      .toDF("vec_id", "embedding")
      .write.parquet(s"$deltaWork/delta/batch=0")
    Seq((900002L, v0.map(_ * -0.5f)))
      .toDF("vec_id", "embedding")
      .write.parquet(s"$deltaWork/delta/batch=1")

    // 3 rows vs smallest segment (~166): below the default trigger
    assert(StreamingIncrementalServe.maybeSeal(spark, segWork,
      deltaWork).isEmpty, "seal fired below the derived fraction")
    // force it: fraction larger than minSeg/deltaN
    val seg = StreamingIncrementalServe.maybeSeal(spark, segWork,
      deltaWork, fraction = 1000L)
    assert(seg.nonEmpty, "forced seal did not fire")
    // delta-sized segment, consumed batches gone
    assert(spark.read.parquet(s"${seg.get.dir}/embeddings.parquet")
      .count() === 3L)
    val remaining = new java.io.File(s"$deltaWork/delta")
      .listFiles().toSeq.map(_.getName).filter(_.startsWith("batch="))
    assert(remaining.isEmpty, s"consumed batch dirs survive: $remaining")
    // the correction is a shadow, and still wins post-seal
    assert(II.shadowOf(spark, segWork, seg.get.ord)
      .as[Long].collect().toSeq === Seq(5L))
    val out = rows(StreamingIncrementalServe.serve(spark, segWork,
      deltaWork, spark.range(1).toDF("query_id"), ef = 16, k = 5))
    assert(out.count(t => t._3 == 5L) === 1)
    assert(out.filter(t => t._3 == 5L).head._4 === 1.0)
    // the loop continues: a later batch lands and serves (fresh
    // delta over the now-bigger segment list)
    Seq((900003L, v0.map(_ * 0.125f))).toDF("vec_id", "embedding")
      .write.parquet(s"$deltaWork/delta/batch=2")
    val out2 = rows(StreamingIncrementalServe.serve(spark, segWork,
      deltaWork, spark.range(1).toDF("query_id"), ef = 16, k = 5))
    assert(out2.exists(t => t._3 == 900003L && t._4 == 1.0),
      "post-seal ingest did not serve")
  }
}
