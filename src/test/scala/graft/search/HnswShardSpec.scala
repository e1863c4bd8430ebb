package graft
package search

import org.apache.spark.sql.functions._

import graft.operators.{Hnsw, Search}

/** The sharded (partitioned-index) HNSW serve
  * ([[Hnsw.serveShardedDistributed]]): per-segment images + an exact
  * k-bounded merge — the path the [[Hnsw.IndexImage]] gate promises
  * for a corpus whose image outgrows one serving node. Pins the four
  * load-bearing claims: the segment layout PARTITIONS the corpus, the
  * segment count is BUDGET-DERIVED (never pinned), the merge is the
  * exact global top-k of the segment answers (distributed ≡ a
  * driver-side reference merge, scores exact), and recall vs brute
  * force clears the family floor.
  */
class HnswShardSpec extends SparkSpec {

  private val bigDir = "/root/testdata/sf0.01"
  private val S = 4

  test("shard layout partitions the corpus: disjoint, covering, " +
      "residue-assigned") {
    import spark.implicits._
    val all = Search.embNormed(spark, bigDir)
      .select("vec_id").as[Long].collect().toSet
    val dirs = Hnsw.shardDirsFor(spark, bigDir, S)
    assert(dirs.size === S)
    val parts = dirs.zipWithIndex.map { case (d, i) =>
      val ids = spark.read.parquet(s"$d/embeddings.parquet")
        .select("vec_id").as[Long].collect().toSet
      assert(ids.forall(id => (id % S + S) % S == i),
        s"shard $i holds an id outside its residue class")
      ids
    }
    assert(parts.map(_.size).sum === all.size, "shards overlap or drop rows")
    assert(parts.reduce(_ ++ _) === all, "shard union must be the corpus")
  }

  test("shardCountFor: smallest S whose per-segment image fits the " +
      "budget — derived, minimal, monotone") {
    val bpv = Hnsw.imageBytesPerVec(64)
    // a budget that swallows the whole corpus ⇒ one segment
    assert(Hnsw.shardCountFor(1000L, 64, 1000L * bpv) === 1)
    val n = 999983L
    val budget = 1L << 22
    val s = Hnsw.shardCountFor(n, 64, budget)
    assert(s.toLong * budget >= n * bpv, "S segments must cover the image")
    assert((s - 1).toLong * budget < n * bpv, "S must be minimal")
    assert(Hnsw.shardCountFor(2 * n, 64, budget) >= s, "monotone in N")
    // the sf0.01 corpus under a deliberately tiny budget actually shards
    val nn = Search.embNormed(spark, bigDir).count()
    assert(Hnsw.shardCountFor(nn, 64, 16L << 10) >= 2,
      "the planted-budget story needs a corpus that genuinely shards")
  }

  test("sharded serve: distributed merge equals the driver-side " +
      "reference merge, and every reported score is the exact cosine") {
    val out = Hnsw.qHnswSharded(spark, bigDir).collect()
    assert(out.map(_.getLong(0)).toSet === (0L until 8L).toSet)
    out.groupBy(_.getLong(0)).values.foreach { rs =>
      assert(rs.length === 5)
      assert(rs.map(_.getLong(1)).sorted.toSeq === (1L to 5L))
    }
    // driver-side reference: serve each segment image locally, merge
    // under the engine's total (score desc, id asc) order
    val imgs = Hnsw.shardDirsFor(spark, bigDir, S)
      .map(d => Hnsw.imageFor(spark, d))
    val e = Search.embNormed(spark, bigDir)
    val qvs = e.filter(col("vec_id") < 8)
      .select("vec_id", "embedding", "nrm").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getDouble(2)))
    qvs.foreach { case (qid, qv, qn) =>
      val ref = imgs
        .flatMap(img => Hnsw.serveVec(img, qv, qn, selfId = qid,
          ef = 16, k = 5))
        .sortBy { case (id, sc) => (-sc, id) }.take(5)
      val got = out.filter(_.getLong(0) == qid).sortBy(_.getLong(1))
        .map(r => (r.getLong(2), r.getDouble(3))).toSeq
      assert(got === ref,
        s"query $qid: distributed sharded serve diverged from the " +
          "driver-side merge")
    }
    // score exactness: each reported cosine matches a direct rescore
    qvs.foreach { case (qid, qv, qn) =>
      out.filter(_.getLong(0) == qid).foreach { r =>
        val (v, nrm) = e.filter(col("vec_id") === r.getLong(2))
          .select("embedding", "nrm").collect().headOption
          .map(x => (x.getSeq[Float](0).toArray, x.getDouble(1)))
          .getOrElse(fail(s"reported id ${r.getLong(2)} not in corpus"))
        var s = 0.0
        var i = 0
        while (i < v.length) { s += v(i).toDouble * qv(i).toDouble; i += 1 }
        val exact = BigDecimal(s / (nrm * qn))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        assert(r.getDouble(3) === exact,
          s"query $qid id ${r.getLong(2)}: merged score is not the " +
            "exact rescored cosine")
      }
    }
  }

  test("bounded-batch scatter is blob-routed: a fresh layout serves " +
      "with ZERO driver-resident images in the session cache, and the " +
      "merge still equals the driver-side reference") {
    import spark.implicits._
    // an isolated corpus — no other test images these segment dirs,
    // so the census gauge is meaningful (r12 verdict item 2)
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_blobcensus").toString
    graft.Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") < 300)
      .write.parquet(s"$tmp/embeddings.parquet")
    val out = Hnsw.serveShardedDistributed(spark, tmp,
      Seq(0L, 1L, 2L).toDF("query_id"), shards = 3, ef = 16, k = 5)
      .collect()
    val dirs = Hnsw.shardDirsFor(spark, tmp, 3)
    assert(Hnsw.cachedImageCensus(dirs)._1 === 0,
      "the bounded-batch scatter materialized driver-resident images " +
        "(the blob discipline ships paths, not images)")
    // exactness: the blob-shipped serve equals the driver-side merge
    // (reference images via imageOf directly — deliberately NOT
    // imageFor, so the census stays clean)
    val imgs = dirs.map(d => Hnsw.imageOf(spark, d,
      Hnsw.indexFor(spark, d)))
    val e = Search.embNormed(spark, tmp)
    val qvs = e.filter(col("vec_id") < 3)
      .select("vec_id", "embedding", "nrm").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray,
        r.getDouble(2)))
    qvs.foreach { case (qid, qv, qn) =>
      val ref = imgs
        .flatMap(img => Hnsw.serveVec(img, qv, qn, selfId = qid,
          ef = 16, k = 5))
        .sortBy { case (id, sc) => (-sc, id) }.take(5)
      val got = out.filter(_.getLong(0) == qid).sortBy(_.getLong(1))
        .map(r => (r.getLong(2), r.getDouble(3))).toSeq
      assert(got === ref,
        s"query $qid: blob-routed scatter diverged from the reference")
    }
    assert(Hnsw.cachedImageCensus(dirs)._1 === 0,
      "census polluted — the reference path must bypass the cache")
  }

  test("tombstoned sharded serve: excluded ids navigate but are never " +
      "reported, live answers backfill to k, merge stays exact") {
    val out = Hnsw.qHnswSharded(spark, bigDir).collect()
    // tombstone, per query, its own top-1 — the id whose removal must
    // visibly change the answer if exclusion works at all
    val dead: Set[Long] = out.filter(_.getLong(1) == 1L)
      .map(_.getLong(2)).toSet
    val t = Hnsw.serveShardedDistributed(spark, bigDir,
      spark.range(8).toDF("query_id"), shards = S, ef = 16, k = 5,
      exclude = dead).collect()
    assert(t.forall(r => !dead.contains(r.getLong(2))),
      "a tombstoned id was reported")
    t.groupBy(_.getLong(0)).values.foreach(rs =>
      assert(rs.length === 5, "exclusion must backfill, not shrink k"))
    // exactness: ≡ the driver-side reference merge under the same rule
    val imgs = Hnsw.shardDirsFor(spark, bigDir, S)
      .map(d => Hnsw.imageFor(spark, d))
    val e = Search.embNormed(spark, bigDir)
    e.filter(col("vec_id") < 8)
      .select("vec_id", "embedding", "nrm").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getDouble(2)))
      .foreach { case (qid, qv, qn) =>
        val ref = imgs
          .flatMap(img => Hnsw.serveVec(img, qv, qn, selfId = qid,
            ef = 16, k = 5, exclude = dead))
          .sortBy { case (id, sc) => (-sc, id) }.take(5)
        val got = t.filter(_.getLong(0) == qid).sortBy(_.getLong(1))
          .map(r => (r.getLong(2), r.getDouble(3))).toSeq
        assert(got === ref,
          s"query $qid: tombstoned sharded serve diverged from the " +
            "driver-side merge")
      }
  }

  test("sealed+delta sharded serve: one k-bounded gather over both " +
      "arms equals the driver-side reference, delta winners never " +
      "displaced, tombstones honored on both arms") {
    import graft.operators.Ann
    val e = Search.embNormed(spark, bigDir)
    val cutoff = Ann.deltaCutoff(e).collect().head.getAs[Long]("cutoff")
    // queries from BOTH regimes: sealed ids and freshly-ingested
    // (unsealed) ids — a delta vector must be able to query the index
    val deltaIds = e.filter(col("vec_id") >= cutoff)
      .select("vec_id").orderBy("vec_id").limit(4)
      .collect().map(_.getLong(0))
    assert(deltaIds.length === 4, "corpus must have a delta tail")
    val qids = Seq(0L, 1L, 2L, 3L) ++ deltaIds
    val queries = spark.createDataFrame(
      qids.map(Tuple1(_))).toDF("query_id")
    val got = Hnsw.serveShardedDelta(spark, bigDir, queries,
      shards = S, ef = 16, k = 5).collect()
    assert(got.map(_.getLong(0)).toSet === qids.toSet)
    got.groupBy(_.getLong(0)).values.foreach(rs =>
      assert(rs.length === 5))
    // driver-side reference: per-sealed-segment beams + the EXACT
    // delta scan, merged under the engine's (score desc, id asc) order
    val sealedDir = Hnsw.sealedDirFor(spark, bigDir)
    val imgs = Hnsw.shardDirsFor(spark, sealedDir, S)
      .map(d => Hnsw.imageFor(spark, d))
    val deltaRows = e.filter(col("vec_id") >= cutoff)
      .select("vec_id", "embedding", "nrm").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getDouble(2)))
    val qvs = e.filter(col("vec_id").isin(qids: _*))
      .select("vec_id", "embedding", "nrm").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getDouble(2)))
    def cos(v: Array[Float], vn: Double, qv: Array[Float],
        qn: Double): Double = {
      var s = 0.0; var i = 0
      while (i < v.length) { s += v(i).toDouble * qv(i).toDouble; i += 1 }
      BigDecimal(s / (vn * qn))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    var deltaContributed = 0
    qvs.foreach { case (qid, qv, qn) =>
      val sealedRef = imgs.flatMap(img =>
        Hnsw.serveVec(img, qv, qn, selfId = qid, ef = 16, k = 5))
      val deltaRef = deltaRows.filter(_._1 != qid)
        .map { case (id, v, vn) => (id, cos(v, vn, qv, qn)) }
      val ref = (sealedRef ++ deltaRef)
        .sortBy { case (id, sc) => (-sc, id) }.take(5)
      val gotQ = got.filter(_.getLong(0) == qid).sortBy(_.getLong(1))
        .map(r => (r.getLong(2), r.getDouble(3))).toSeq
      assert(gotQ === ref,
        s"query $qid: sealed+delta sharded serve diverged from the " +
          "driver-side merge")
      deltaContributed += ref.count(_._1 >= cutoff)
    }
    assert(deltaContributed > 0,
      "test corpus never put a delta id in a top-5 — the delta arm " +
        "went unexercised; widen the query set")
    // tombstones: kill each query's top-1; both arms must honor it
    val dead = got.filter(_.getLong(1) == 1L).map(_.getLong(2)).toSet
    val t = Hnsw.serveShardedDelta(spark, bigDir, queries,
      shards = S, ef = 16, k = 5,
      tombstones = Some(spark.createDataFrame(
        dead.toSeq.map(Tuple1(_))).toDF("vec_id"))).collect()
    assert(t.forall(r => !dead.contains(r.getLong(2))),
      "a tombstoned id was reported by the sealed+delta serve")
    t.groupBy(_.getLong(0)).values.foreach(rs =>
      assert(rs.length === 5, "tombstoning must backfill, not shrink k"))
  }

  test("query-table sharded serve (one-pass segment-pinned fan-out) " +
      "is bit-equal to the bounded-batch scatter-gather") {
    val batch = Hnsw.qHnswSharded(spark, bigDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2))
    val table = Hnsw.serveShardedQueryTable(spark, bigDir,
      spark.range(8).toDF("query_id").repartition(3), shards = S,
      ef = 16, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2))
    assert(table === batch,
      "the streamed-query-table serve diverged from the bounded-batch " +
        "serve — the two partitioned regimes must be the same answer")
  }

  test("query-table serve retention: the driver session image cache " +
      "stays empty (blobs, not broadcasts) and the executor cache holds " +
      "≤ S images") {
    val qs = spark.range(8).toDF("query_id").repartition(3)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
      .sortBy(t => (t._1, t._2))
    val batch = rows(Hnsw.serveShardedDistributed(spark, bigDir, qs,
      shards = S, ef = 16, k = 5))
    Hnsw.ImageBlobCache.clear()
    val dirs = Hnsw.shardDirsFor(spark, bigDir, S)
    val before = Hnsw.cachedImageCensus(dirs)._1
    val onePass = rows(Hnsw.serveShardedQueryTable(spark,
      bigDir, qs, shards = S, ef = 16, k = 5))
    assert(onePass === batch,
      "the one-pass query-table serve diverged from the bounded-batch " +
        "serve")
    // retention gauges: the one-pass driver adds NO session images
    // (blobs ship by path), and the shared local-JVM executor cache
    // holds at most the S segment images it deserialized
    assert(Hnsw.cachedImageCensus(dirs)._1 === before,
      "the one-pass serve leaked segment images into the driver cache")
    val (execImgs, _) = Hnsw.ImageBlobCache.census
    assert(execImgs > 0 && execImgs <= S,
      s"executor blob cache holds $execImgs images, expected 1..$S")
    Hnsw.ImageBlobCache.clear()
    assert(Hnsw.ImageBlobCache.census._1 === 0)
  }

  test("one-pass filtered serve equals the sequential filtered serve " +
      "row for row — the predicate cell composed onto the one-pass " +
      "fan-out") {
    val qs = spark.range(8).toDF("query_id")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
      .sortBy(t => (t._1, t._2))
    val sequential = rows(Hnsw.serveShardedFiltered(spark, bigDir, qs,
      shards = S, labelCol = "label", labelVal = 3L, ef = 64, k = 5))
    Hnsw.ImageBlobCache.clear()
    val onePass = rows(Hnsw.serveShardedQueryTableFiltered(
      spark, bigDir, qs, shards = S, labelCol = "label", labelVal = 3L,
      ef = 64, k = 5))
    Hnsw.ImageBlobCache.clear()
    assert(onePass === sequential,
      "the one-pass filtered serve diverged from the sequential " +
        "filtered serve")
  }

  test("query-dimension sub-partitioning (qParts) never changes an " +
      "answer: P=1 (the old single-task-per-segment mode), P=4, and " +
      "the derived default are bit-equal — only task granularity " +
      "moves") {
    val qs = spark.range(8).toDF("query_id")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    val p1 = rows(Hnsw.serveShardedQueryTable(spark, bigDir,
      qs, shards = S, ef = 16, k = 5, qParts = 1))
    val p4 = rows(Hnsw.serveShardedQueryTable(spark, bigDir,
      qs, shards = S, ef = 16, k = 5, qParts = 4))
    val pd = rows(Hnsw.serveShardedQueryTable(spark, bigDir,
      qs, shards = S, ef = 16, k = 5))
    assert(p4 === p1,
      "query-dimension split at P=4 diverged from the single-task mode")
    assert(pd === p1,
      "the derived default qParts diverged from the single-task mode")
    val f1 = rows(Hnsw.serveShardedQueryTableFiltered(spark,
      bigDir, qs, shards = S, labelCol = "label", labelVal = 3L,
      ef = 64, k = 5, qParts = 1))
    val f4 = rows(Hnsw.serveShardedQueryTableFiltered(spark,
      bigDir, qs, shards = S, labelCol = "label", labelVal = 3L,
      ef = 64, k = 5, qParts = 4))
    assert(f4 === f1,
      "the filtered one-pass serve diverged under the query split")
    Hnsw.ImageBlobCache.clear()
  }

  test("filtered sharded serve: k label-matching rows per query " +
      "(fill), predicate pure, recall vs exact filtered top-k clears " +
      "the floor") {
    import spark.implicits._
    val out = Hnsw.qHnswShardedFiltered(spark, bigDir).collect()
    val e = Search.embNormed(spark, bigDir)
    val labeled = e.filter(col("label") === 3)
      .select("vec_id").as[Long].collect().toSet
    // fill: the selectivity-derived per-segment pool leaves k matches
    out.groupBy(_.getLong(0)).foreach { case (qid, rs) =>
      assert(rs.length === 5, s"query $qid underfilled: ${rs.length}")
      assert(rs.map(_.getLong(1)).sorted.toSeq === (1L to 5L))
    }
    // purity: every reported id satisfies the predicate
    out.foreach(r => assert(labeled.contains(r.getLong(2)),
      s"unlabeled id ${r.getLong(2)} reported by the filtered serve"))
    // recall floor vs the EXACT filtered top-5 (brute cosine over the
    // label slice), the family floor
    val qvs = e.filter(col("vec_id") < 8)
      .select("vec_id", "embedding", "nrm").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getDouble(2)))
    val corpus = e.filter(col("label") === 3)
      .select("vec_id", "embedding", "nrm").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getDouble(2)))
    val recalls = qvs.map { case (qid, qv, qn) =>
      val exact = corpus.filter(_._1 != qid).map { case (id, v, nrm) =>
        var s = 0.0
        var i = 0
        while (i < v.length) { s += v(i).toDouble * qv(i).toDouble; i += 1 }
        (id, s / (nrm * qn))
      }.sortBy { case (id, sc) => (-sc, id) }.take(5).map(_._1).toSet
      val got = out.filter(_.getLong(0) == qid).map(_.getLong(2)).toSet
      got.intersect(exact).size.toDouble / exact.size
    }
    val recall = recalls.sum / recalls.length
    assert(recall >= 0.8, s"filtered sharded recall@5 $recall < 0.8")
  }

  test("an empty segment (a residue class no sparse id landed in) " +
      "builds an empty index and serves no rows") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_hnsw_empty").toString
    Tables.embeddings(spark, bigDir).filter(lit(false))
      .write.parquet(s"$dir/embeddings.parquet")
    val img = Hnsw.imageFor(spark, dir)
    assert(img.vecs.isEmpty)
    val e = Search.embNormed(spark, bigDir)
      .select("embedding", "nrm").head
    val got = Hnsw.serveVec(img, e.getSeq[Float](0).toArray,
      e.getDouble(1), selfId = -1L, ef = 16, k = 5)
    assert(got.isEmpty,
      "an empty segment must serve no rows — never the -1 sentinel")
  }

  test("resealSharded: a grown corpus reseals into more segments, " +
      "every segment image within the budget, layout still a partition") {
    import spark.implicits._
    val e = Search.embNormed(spark, bigDir)
    val dim = e.select(size(col("embedding"))).head.getInt(0)
    val bpv = Hnsw.imageBytesPerVec(dim)
    val n0 = e.count()
    // budget sized so the base corpus reseals to ~2 segments
    val budget = math.max(1L, n0 * bpv / 2)
    val (s0, _) = Hnsw.resealSharded(spark, bigDir, budget)
    assert(s0 >= 2)
    // grow the corpus 3x (shifted ids) into its own dir and reseal:
    // S must grow with N under the SAME budget — the gate holds
    // across ingest, never by inflating the per-node image
    val grown = java.nio.file.Files
      .createTempDirectory("graft_hnsw_grow").toString
    val emb = Tables.embeddings(spark, bigDir)
    emb.union(emb.withColumn("vec_id", col("vec_id") + n0))
      .union(emb.withColumn("vec_id", col("vec_id") + 2 * n0))
      .write.parquet(s"$grown/embeddings.parquet")
    val (s1, dirs) = Hnsw.resealSharded(spark, grown, budget)
    assert(s1 > s0, s"3x corpus must reseal into more segments ($s0 -> $s1)")
    // each segment's image fits the budget (dense ids split residues
    // within one row of even, so per-segment counts carry no skew)
    val counts = dirs.map(d => spark.read
      .parquet(s"$d/embeddings.parquet").count())
    counts.foreach(c => assert(c * bpv <= budget + bpv,
      s"a resealed segment image ($c vecs) exceeds the node budget"))
    assert(counts.sum === 3 * n0, "reseal must not drop or duplicate rows")
    // the resealed layout serves: 4 queries, k rows each, exact scores
    val out = Hnsw.serveShardedDistributed(spark, grown,
      spark.range(4).toDF("query_id"), shards = s1, ef = 16, k = 5)
      .collect()
    assert(out.map(_.getLong(0)).toSet === (0L until 4L).toSet)
    out.groupBy(_.getLong(0)).values.foreach(rs => assert(rs.length === 5))
  }

  test("sharded serve recall@5 vs brute force clears the family floor") {
    val e = Search.embNormed(spark, bigDir)
    val qv = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("qid"),
        col("embedding").as("qv"), col("nrm").as("qn"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(desc("score"), col("vec_id"))
    val exact = e.crossJoin(broadcast(qv))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("score", round(
        graft.functions.VectorFunctions.cosinePrenormed(
          graft.functions.VectorFunctions.dot(
            col("embedding"), col("qv")), col("nrm"), col("qn")), 6))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select("qid", "vec_id").collect()
      .groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val got = Hnsw.qHnswSharded(spark, bigDir).collect()
      .groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
    val recalls = (0L until 8L).map(q =>
      got(q).count(exact(q).contains) / 5.0)
    val recall = recalls.sum / recalls.size
    info(f"sharded_recall5=$recall%.2f")
    assert(recall >= 0.8,
      s"sharded recall@5 $recall below the family floor")
  }
}
