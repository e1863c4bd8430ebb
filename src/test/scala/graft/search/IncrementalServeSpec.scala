package graft
package search

import org.apache.spark.sql.functions._

import graft.operators.{Hnsw, IncrementalIndex => II, Search}

/** The LSM serve-mode equality pins (bounded batch vs in-plan
  * query table, routed, live delta, past-the-cap) — split from
  * [[IncrementalIndexSpec]] so the parallel test groups overlap
  * the two suites (round 14 item 1). In the test names, `serveRouted`
  * and `serveWithDelta` are the bounded [[II.serve]] with routing
  * (`maxRoutes`/`margin`) and with a live `delta`. */
class IncrementalServeSpec extends IncrementalFixture {

  test("shadow excludes past the driver cap: the Bloom + verified-" +
      "report serve equals the exact reference bit-for-bit, and a " +
      "repeat serve derives NOTHING — no shadow collects, no query " +
      "re-scans, no segment metadata jobs") {
    import spark.implicits._
    val (work, _) = freshWork()
    val v0 = Search.embNormed(spark, sfDir)
      .filter(col("vec_id") === 0).select("embedding").head
      .getSeq[Float](0).toArray
    // six corrections → a 6-id shadow, past the planted cap of 2
    val delta = (3L to 8L).map(id => (id, v0.map(_ * (0.05f * id))))
      .toDF("vec_id", "embedding")
    II.sealDelta(spark, work, delta)
    spark.conf.set("spark.graft.ann.deadSetCap", "2")
    try {
      // bit-parity with the exact-exclude reference: serveVec's
      // exclusion is REPORT-only (the pool is ef-driven), so the
      // widened Bloom rounds report exactly the top-k live of the
      // same visited pool
      assertServeMatchesReference(work, Seq(0L, 5L, 9L))
      val qids = Seq(0L, 5L, 9L)
      val first = II.serve(spark, work, qids.toDF("query_id"),
        ef = 16, k = 5).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).sortBy(t => (t._1, t._2)).toSeq
      val d0 = II.shadowDerivations.get
      val q0 = II.queryVecDerivations.get
      val m0 = II.segMetaJobs.get
      val again = II.serve(spark, work, qids.toDF("query_id"),
        ef = 16, k = 5).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).sortBy(t => (t._1, t._2)).toSeq
      assert(again === first, "repeat serve diverged")
      assert(II.shadowDerivations.get === d0,
        "a repeat serve against an unchanged work dir re-collected " +
          "shadow tables")
      assert(II.queryVecDerivations.get === q0,
        "a repeat serve re-scanned segments for query vectors")
      assert(II.segMetaJobs.get === m0,
        "a repeat serve ran segment metadata jobs")
    } finally spark.conf.unset("spark.graft.ann.deadSetCap")
  }

  test("serveRouted: wide margin at full maxRoutes is bit-equal to " +
      "the full scatter; a clustered ingest burst routes narrow and " +
      "still finds its planted clone") {
    import spark.implicits._
    val (work, _) = freshWork()
    // a topical burst: 20 clones along vec 0's direction, fresh ids —
    // its sealed segment's centroid points at v0, while the
    // residue-split init segments' centroids sit near the global mean
    val v0 = Search.embNormed(spark, sfDir)
      .filter(col("vec_id") === 0).select("embedding").head
      .getSeq[Float](0).toArray
    val burst = (0 until 20).map(i =>
      (500000L + i, v0.map(_ * (0.5f + 0.01f * i))))
      .toDF("vec_id", "embedding")
    II.sealDelta(spark, work, burst)
    val qids = Seq(0L, 7L)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).sortBy(t => (t._1, t._2)).toSeq
    val full = rows(II.serve(spark, work, qids.toDF("query_id"),
      ef = 16, k = 5))
    // margin 1.99 < 2 exercises the routed code path (no shortcut);
    // the adaptive rule still keeps every segment at that margin
    val wide = rows(II.serve(spark, work, qids.toDF("query_id"),
      ef = 16, k = 5, maxRoutes = II.segs(spark, work).size,
      margin = 1.99))
    assert(wide === full,
      "wide-margin routed serve must degenerate to the full scatter")
    // query 0 (v0's own direction) at margin 0: top-1 route is the
    // burst segment, and the clone family fills the report
    val narrow = rows(II.serve(spark, work,
      Seq(0L).toDF("query_id"), ef = 16, k = 5, maxRoutes = 1,
      margin = 0.0))
    assert(narrow.nonEmpty)
    assert(narrow.head._3 >= 500000L,
      "the narrow route must reach the burst segment's clones")
    assert(narrow.head._4 === 1.0)
  }

  test("serveQueryTable (the in-plan unbounded-query-table serve) is " +
      "bit-equal to the bounded-batch serve — in the exact-exclude " +
      "mode, the past-the-cap widening mode, and at every qParts") {
    import spark.implicits._
    val (work, _) = freshWork()
    val v0 = Search.embNormed(spark, sfDir)
      .filter(col("vec_id") === 0).select("embedding").head
      .getSeq[Float](0).toArray
    // six corrections (shadow of 6) + two fresh ids
    val delta = ((3L to 8L).map(id => (id, v0.map(_ * (0.05f * id)))) ++
      Seq((600000L, v0.map(_ * 0.5f)), (600001L, v0.map(_ * 0.45f))))
      .toDF("vec_id", "embedding")
    II.sealDelta(spark, work, delta)
    val qids = Seq(0L, 5L, 9L, 11L)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).sortBy(t => (t._1, t._2)).toSeq
    val batch = rows(II.serve(spark, work, qids.toDF("query_id"),
      ef = 16, k = 5))
    val tableExact = rows(II.serveQueryTable(spark, work,
      qids.toDF("query_id"), ef = 16, k = 5))
    assert(tableExact === batch,
      "in-plan query-table serve diverged (exact-exclude mode)")
    val tableP3 = rows(II.serveQueryTable(spark, work,
      qids.toDF("query_id"), ef = 16, k = 5, qParts = 3))
    assert(tableP3 === batch,
      "query-dimension split changed a query-table answer")
    spark.conf.set("spark.graft.ann.deadSetCap", "2")
    try {
      val batchBloom = rows(II.serve(spark, work,
        qids.toDF("query_id"), ef = 16, k = 5))
      assert(batchBloom === batch,
        "the cap must not change the bounded-batch answer")
      val tableWiden = rows(II.serveQueryTable(spark, work,
        qids.toDF("query_id"), ef = 16, k = 5))
      assert(tableWiden === batch,
        "in-plan query-table serve diverged (widening mode)")
    } finally spark.conf.unset("spark.graft.ann.deadSetCap")
  }

  test("serveQueryTable with IN-PLAN routing is bit-equal to " +
      "serveRouted at matching parameters, and a wide-but-finite " +
      "margin serves the full fan-out answer through the routed path") {
    import spark.implicits._
    val (work, _) = freshWork()
    // a topical burst seals as its own segment (centroid points at v0)
    val v0 = Search.embNormed(spark, sfDir)
      .filter(col("vec_id") === 0).select("embedding").head
      .getSeq[Float](0).toArray
    val burst = (0 until 20).map(i =>
      (510000L + i, v0.map(_ * (0.5f + 0.01f * i))))
      .toDF("vec_id", "embedding")
    II.sealDelta(spark, work, burst)
    val qids = Seq(0L, 7L, 9L)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).sortBy(t => (t._1, t._2)).toSeq
    val s = II.segs(spark, work).size
    val full = rows(II.serveQueryTable(spark, work,
      qids.toDF("query_id"), ef = 16, k = 5))
    // margin 1.99 < 2 exercises the routed code path (no shortcut);
    // the adaptive rule still keeps every segment at that margin
    val wide = rows(II.serveQueryTable(spark, work,
      qids.toDF("query_id"), ef = 16, k = 5, maxRoutes = s,
      margin = 1.99))
    assert(wide === full,
      "wide-but-finite margin must equal the full fan-out bit-for-bit")
    Seq((1, 0.0), (2, 0.05)).foreach { case (mr, mg) =>
      val batch = rows(II.serve(spark, work, qids.toDF("query_id"),
        ef = 16, k = 5, maxRoutes = mr, margin = mg))
      val table = rows(II.serveQueryTable(spark, work,
        qids.toDF("query_id"), ef = 16, k = 5, maxRoutes = mr,
        margin = mg))
      assert(table === batch,
        s"in-plan routed query-table serve diverged at maxRoutes=$mr " +
          s"margin=$mg")
    }
  }

  test("serveQueryTable composes the LIVE delta in-plan — fresh " +
      "answers without a seal, equal to serveWithDelta; past a " +
      "planted cap the delta ladder serves identically with no " +
      "driver Set") {
    import spark.implicits._
    val (work, _) = freshWork()
    val v0 = Search.embNormed(spark, sfDir)
      .filter(col("vec_id") === 0).select("embedding").head
      .getSeq[Float](0).toArray
    // live delta: two corrections + two fresh arrivals — NOT sealed
    val delta = Seq(
      (5L, v0.map(_ * 0.25f)), (7L, v0.map(_ * 0.3f)),
      (700000L, v0.map(_ * 0.5f)), (700001L, v0.map(_ * 0.45f)))
      .toDF("vec_id", "embedding")
    val qids = Seq(0L, 5L, 9L)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).sortBy(t => (t._1, t._2)).toSeq
    val viaSet = rows(II.serve(spark, work, qids.toDF("query_id"),
      ef = 16, k = 5, delta = Some(delta)))
    val viaTable = rows(II.serveQueryTable(spark, work,
      qids.toDF("query_id"), ef = 16, k = 5, delta = Some(delta)))
    assert(viaTable === viaSet,
      "in-plan delta composition diverged from the bounded serve")
    // freshness without a seal: query 0's top hit is the corrected id
    // 5 at the NEW row's score
    val top0 = viaTable.filter(t => t._1 == 0L && t._2 == 1L).head
    assert(top0._3 === 5L)
    assert(top0._4 === 1.0)
    // the routed twin, under the default cap (driver-Set arm)
    val routedSet = rows(II.serve(spark, work, qids.toDF("query_id"),
      ef = 16, k = 5, maxRoutes = 2, margin = 0.05, delta = Some(delta)))
    spark.conf.set("spark.graft.ann.deadSetCap", "2") // delta of 4 > 2
    try {
      // the ladder reroutes through the in-plan deadness table: same
      // answers, no delta id on the driver
      val viaLadder = rows(II.serve(spark, work, qids.toDF("query_id"),
        ef = 16, k = 5, delta = Some(delta)))
      assert(viaLadder === viaSet,
        "past the cap the delta ladder must answer identically")
      val routedLadder = rows(II.serve(spark, work,
        qids.toDF("query_id"), ef = 16, k = 5, maxRoutes = 2,
        margin = 0.05, delta = Some(delta)))
      assert(routedLadder === routedSet,
        "past the cap the ROUTED delta ladder must answer identically")
    } finally spark.conf.unset("spark.graft.ann.deadSetCap")
    // serve-path session caches are SIZE-BOUNDED (r12 hygiene): the
    // census can never exceed the LRU caps however many batches and
    // work states a session crosses
    Seq(
      ("qvecCache", II.qvecCache.size, II.qvecCache.max),
      ("centroidCache", II.centroidCache.size, II.centroidCache.max),
      ("excludeStates", II.excludeStates.size, II.excludeStates.max),
      ("segMetas", II.segMetas.size, II.segMetas.max),
      ("idSidecars", II.idSidecars.size, II.idSidecars.max)
    ).foreach { case (name, n, mx) =>
      assert(n <= mx, s"$name census $n exceeds its LRU bound $mx")
    }
    assert(II.qvecCache.size > 0, "qvecCache census gauge reads empty")
  }

  test("serveWithDelta: the live (un-sealed) delta arm wins over every " +
      "segment and merges exactly") {
    import spark.implicits._
    val (work, _) = freshWork()
    val v0 = Search.embNormed(spark, sfDir)
      .filter(col("vec_id") === 0).select("embedding").head
      .getSeq[Float](0).toArray
    // live delta corrects id 5 to v0's direction — pre-seal
    val delta = Seq((5L, v0.map(_ * 0.25f))).toDF("vec_id", "embedding")
    val out = II.serve(spark, work, Seq(0L).toDF("query_id"),
      ef = 16, k = 5, delta = Some(delta)).collect()
    assert(out.count(_.getLong(2) == 5L) === 1,
      "a live-corrected id must rank once, by its delta row")
    val top = out.filter(_.getLong(1) == 1L).head
    assert(top.getLong(2) === 5L)
    assert(top.getDouble(3) === 1.0)
  }

}
