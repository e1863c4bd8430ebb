package graft
package search

import org.apache.spark.sql.functions._

import graft.operators.{Hnsw, Search}

/** Centroid-ROUTED clustered sharding ([[Hnsw.serveShardedRouted]]):
  * segments are k-means cells instead of hash residues, so a query
  * routes to its top-R cells and skips the rest — per-query scatter
  * O(R), not O(S). Pins the five load-bearing claims: the clustered
  * layout PARTITIONS the corpus; routing AGREES with assignment (a
  * corpus vector's top-1 route is the cell that holds it); routes=S
  * degenerates to the exact full fan-out (driver-side reference
  * merge); a routed report only ever contains vectors from the
  * query's routed cells; and on planted clustered geometry R=1
  * routing loses nothing vs brute force.
  */
class HnswRouteSpec extends SparkSpec {

  private val bigDir = "/root/testdata/sf0.01"
  private val S = 4

  /** id → cell membership map from the layout's own dirs. */
  private def cellOf(dirs: Map[Long, Seq[String]]): Map[Long, Long] =
    dirs.toSeq.flatMap { case (c, ds) =>
      ds.flatMap(d => spark.read.parquet(s"$d/embeddings.parquet")
        .select("vec_id").collect().map(_.getLong(0) -> c))
    }.toMap

  test("clustered layout partitions the corpus: disjoint, covering, " +
      "one centroid per cell") {
    import spark.implicits._
    val (dirs, cents) = Hnsw.clusterLayoutFor(spark, bigDir, S)
    assert(dirs.keySet === (0L until S.toLong).toSet)
    assert(cents.map(_._1).toSeq === (0L until S.toLong))
    val all = Search.embNormed(spark, bigDir)
      .select("vec_id").as[Long].collect().toSet
    val parts = dirs.toSeq.flatMap(_._2).map(d => spark.read
      .parquet(s"$d/embeddings.parquet")
      .select("vec_id").as[Long].collect().toSet)
    assert(parts.map(_.size).sum === all.size, "cells overlap or drop rows")
    assert(parts.reduce(_ ++ _) === all, "cell union must be the corpus")
  }

  test("a hot cell past the node budget SPLITS into budget-true " +
      "sub-segments that share its routing identity — the gate never " +
      "trips and R=1 routing still reaches the exact top-k") {
    import spark.implicits._
    // planted skew: ~70% of the corpus in cluster 0, the rest split
    // across clusters 1-3; ids 0-3 are one seed per cluster so the
    // k-means bootstrap starts aligned
    val dim = 8
    def clusterOf(id: Int): Int =
      if (id < 4) id
      else if (id % 10 < 7) 0
      else (id % 10) - 6
    val rows = (0 until 500).map { id =>
      val c = clusterOf(id)
      val v = Array.tabulate(dim) { j =>
        val base = if (j == c * 2) 1.0f else 0.0f
        base + 0.05f * (((id * 31 + j * 7) % 7) - 3)
      }
      (id.toLong, v)
    }
    val dir = java.nio.file.Files
      .createTempDirectory("graft_route_skew").toString
    rows.toDF("vec_id", "embedding")
      .write.parquet(s"$dir/embeddings.parquet")
    // cap ~120 vectors per segment: the ~350-member hot cell must
    // split into 3 sub-segments; the cold cells stay whole
    val budget = 120L * Hnsw.imageBytesPerVec(dim)
    val (dirs, cents) = Hnsw.clusterLayoutFor(spark, dir, 4,
      budgetBytes = budget)
    val hot = dirs.maxBy(_._2.size)
    assert(hot._2.size >= 3, s"hot cell did not split: $dirs")
    // every sub-segment is budget-true — imageFor's gate must accept
    dirs.values.flatten.foreach { d =>
      val n = spark.read.parquet(s"$d/embeddings.parquet").count()
      assert(n * Hnsw.imageBytesPerVec(dim) <= budget,
        s"sub-segment $d exceeds the cap")
      Hnsw.imageFor(spark, d, budget)
    }
    // a split cell's sub-segments hold only that cell's members:
    // every id lands in the same CELL as its planted cluster's seed
    val member = cellOf(dirs)
    (0 until 500).foreach { id =>
      assert(member(id.toLong) === member(clusterOf(id).toLong),
        s"id $id landed outside its planted cluster's cell")
    }
    // R=1 routed serve across the split: exact top-5 on the planted
    // geometry, served through >1 sub-segment images (one hot-cell
    // query per sub-segment regime + the three cold seeds)
    val qids = Seq(0L, 1L, 2L, 3L, 17L, 28L)
    val out = Hnsw.serveShardedRouted(spark, dir,
      qids.toDF("query_id"), shards = 4, maxRoutes = 1, ef = 32, k = 5,
      budgetBytes = budget).collect()
    val e = rows.map { case (id, v) =>
      (id, v, math.sqrt(v.map(x => x.toDouble * x).sum))
    }
    qids.foreach { qid =>
      val (_, qv, qn) = e(qid.toInt)
      val exact = e.filter(_._1 != qid).map { case (id, v, nrm) =>
        var s = 0.0
        var i = 0
        while (i < dim) { s += v(i).toDouble * qv(i).toDouble; i += 1 }
        (id, BigDecimal(s / (nrm * qn))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }.sortBy { case (id, sc) => (-sc, id) }.take(5).map(_._1).toSet
      val got = out.filter(_.getLong(0) == qid).map(_.getLong(2)).toSet
      assert(got === exact,
        s"skew query $qid: routed answer $got != brute top-5 $exact")
    }
  }

  test("routing agrees with assignment: every corpus vector's top-1 " +
      "route is the cell the layout placed it in") {
    val (dirs, cents) = Hnsw.clusterLayoutFor(spark, bigDir, S)
    val member = cellOf(dirs)
    val sample = Search.embNormed(spark, bigDir)
      .select("vec_id", "embedding", "nrm")
      .filter(col("vec_id") % 17 === 0) // ~6% systematic sample
      .collect()
    assert(sample.nonEmpty)
    sample.foreach { r =>
      val qid = r.getLong(0)
      val route = Hnsw.routeCellsAdaptive(cents,
        r.getSeq[Float](1).toArray, r.getDouble(2), maxRoutes = 1,
        margin = 2.0).head
      assert(route === member(qid),
        s"vector $qid routes to cell $route but lives in ${member(qid)}")
    }
  }

  test("routes = S is the exact full fan-out: distributed routed serve " +
      "equals the driver-side all-cells reference merge") {
    val (dirs, _) = Hnsw.clusterLayoutFor(spark, bigDir, S)
    val out = Hnsw.serveShardedRouted(spark, bigDir,
      spark.range(8).toDF("query_id"), shards = S, maxRoutes = S,
      ef = 16, k = 5).collect()
    val imgs = dirs.toSeq.sortBy(_._1).flatMap(_._2)
      .map(d => Hnsw.imageFor(spark, d))
    val qvs = Search.embNormed(spark, bigDir)
      .filter(col("vec_id") < 8)
      .select("vec_id", "embedding", "nrm").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getDouble(2)))
    qvs.foreach { case (qid, qv, qn) =>
      val ref = imgs
        .flatMap(img => Hnsw.serveVec(img, qv, qn, selfId = qid,
          ef = 16, k = 5))
        .sortBy { case (id, sc) => (-sc, id) }.take(5)
      val got = out.filter(_.getLong(0) == qid).sortBy(_.getLong(1))
        .map(r => (r.getLong(2), r.getDouble(3))).toSeq
      assert(got === ref, s"query $qid diverged from the reference merge")
    }
  }

  test("report purity: a routed answer only contains vectors from the " +
      "query's own routed cells") {
    val (dirs, cents) = Hnsw.clusterLayoutFor(spark, bigDir, S)
    val member = cellOf(dirs)
    val out = Hnsw.qHnswRouted(spark, bigDir).collect()
    assert(out.map(_.getLong(0)).toSet === (0L until 8L).toSet)
    out.groupBy(_.getLong(0)).values.foreach(rs => assert(rs.length === 5))
    val qvs = Search.embNormed(spark, bigDir)
      .filter(col("vec_id") < 8)
      .select("vec_id", "embedding", "nrm").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getDouble(2)))
      .map { case (qid, qv, qn) =>
        qid -> Hnsw.routeCellsAdaptive(cents, qv, qn, maxRoutes = 2,
          margin = 2.0).toSet
      }.toMap
    out.foreach { r =>
      val (qid, vid) = (r.getLong(0), r.getLong(2))
      assert(qvs(qid).contains(member(vid)),
        s"query $qid reported $vid from unrouted cell ${member(vid)}")
    }
  }

  test("adaptive routing: margin envelope between top-1 and fixed " +
      "maxRoutes, confident queries stay narrow, ambiguous queries " +
      "widen themselves, and the wide-margin serve is bit-equal to " +
      "the fixed serve") {
    import spark.implicits._
    // planted 4 tight clusters + one deliberately AMBIGUOUS vector
    // (id 200: the midpoint direction of clusters 0 and 1)
    val dim = 8
    val rows = (0 until 200).map { id =>
      val c = id % 4
      val v = Array.tabulate(dim) { j =>
        val base = if (j == c * 2) 1.0f else 0.0f
        base + 0.05f * (((id * 31 + j * 7) % 7) - 3)
      }
      (id.toLong, v)
    } :+ (200L, Array.tabulate(dim)(j =>
      if (j == 0 || j == 2) 0.7071f else 0.0f))
    val dir = java.nio.file.Files
      .createTempDirectory("graft_route_adapt").toString
    rows.toDF("vec_id", "embedding")
      .write.parquet(s"$dir/embeddings.parquet")
    val (_, cents) = Hnsw.clusterLayoutFor(spark, dir, 4)
    val e = rows.map { case (id, v) =>
      (id, v, math.sqrt(v.map(x => x.toDouble * x).sum))
    }
    // degenerations: margin covering the cosine range = fixed R (the
    // top-R cells of the score ranking); margin 0 = top-1 (no exact
    // centroid ties in this geometry)
    def fixedR(qv: Array[Float], qn: Double, r: Int): Seq[Long] =
      Hnsw.cellScores(cents, qv, qn).take(r).map(_._1)
    e.foreach { case (id, qv, qn) =>
      assert(Hnsw.routeCellsAdaptive(cents, qv, qn, 3, 2.0) ===
        fixedR(qv, qn, 3))
      // margin-0 = top-1 plus exact ties; the midpoint is excluded
      // because its two cells may tie at the 6-decimal rounding
      if (id != 200L)
        assert(Hnsw.routeCellsAdaptive(cents, qv, qn, 4, 0.0) ===
          fixedR(qv, qn, 1))
      // envelope: ⊆ fixed maxRoutes, ⊇ top-1, rank-prefix order
      val a = Hnsw.routeCellsAdaptive(cents, qv, qn, 4, 0.3)
      val fixed = fixedR(qv, qn, 4)
      assert(a === fixed.take(a.size))
    }
    // cluster members are CONFIDENT (their centroid dominates); the
    // planted midpoint is AMBIGUOUS (clusters 0 and 1 within margin)
    val margin = 0.3
    (0 until 200 by 17).foreach { id =>
      val (_, qv, qn) = e(id)
      assert(Hnsw.routeCellsAdaptive(cents, qv, qn, 4, margin).size === 1,
        s"interior vector $id widened at margin $margin")
    }
    val (_, mv, mn) = e(200)
    assert(Hnsw.routeCellsAdaptive(cents, mv, mn, 4, margin).size === 2,
      "the planted midpoint must widen to its two near-equal cells")
    // serve-level: a wide-but-finite margin (every cell of this
    // geometry scores within 1.99 of the best) ≡ fixed full fan-out
    def keyed(rs: Array[org.apache.spark.sql.Row]) = rs
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).sortBy(t => (t._1, t._2)).toSeq
    val qs = Seq(0L, 1L, 200L).toDF("query_id")
    val wide = keyed(Hnsw.serveShardedRouted(spark, dir, qs,
      shards = 4, maxRoutes = 4, margin = 1.99, ef = 16, k = 5).collect())
    val fixed = keyed(Hnsw.serveShardedRouted(spark, dir, qs,
      shards = 4, maxRoutes = 4, ef = 16, k = 5).collect())
    assert(wide === fixed,
      "wide-margin adaptive serve diverged from the fixed full fan-out")
  }

  test("planted clustered geometry: R=1 routing reaches the exact " +
      "brute-force top-k — the cell that holds the query holds its " +
      "neighbors") {
    import spark.implicits._
    // 4 tight clusters around orthogonal axes of R^8, ids interleaved
    // so vec_id % 4 = cluster and the k-means bootstrap (vec_id < 4)
    // starts one seed per cluster; deterministic integer jitter
    val dim = 8
    val rows = (0 until 200).map { id =>
      val c = id % 4
      val v = Array.tabulate(dim) { j =>
        val base = if (j == c * 2) 1.0f else 0.0f
        base + 0.05f * (((id * 31 + j * 7) % 7) - 3)
      }
      (id.toLong, v)
    }
    val dir = java.nio.file.Files
      .createTempDirectory("graft_route_plant").toString
    rows.toDF("vec_id", "embedding")
      .write.parquet(s"$dir/embeddings.parquet")
    val (dirs, cents) = Hnsw.clusterLayoutFor(spark, dir, 4)
    val member = cellOf(dirs)
    // the layout must re-discover the planted clusters exactly
    (0 until 200).foreach { id =>
      assert(member(id.toLong) === member((id % 4).toLong),
        s"id $id landed outside its planted cluster's cell")
    }
    val out = Hnsw.serveShardedRouted(spark, dir,
      Seq(0L, 1L, 2L, 3L, 40L, 41L).toDF("query_id"),
      shards = 4, maxRoutes = 1, ef = 16, k = 5).collect()
    val e = rows.map { case (id, v) =>
      (id, v, math.sqrt(v.map(x => x.toDouble * x).sum))
    }
    Seq(0L, 1L, 2L, 3L, 40L, 41L).foreach { qid =>
      val (_, qv, qn) = e(qid.toInt)
      val exact = e.filter(_._1 != qid).map { case (id, v, nrm) =>
        var s = 0.0
        var i = 0
        while (i < dim) { s += v(i).toDouble * qv(i).toDouble; i += 1 }
        (id, BigDecimal(s / (nrm * qn))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }.sortBy { case (id, sc) => (-sc, id) }.take(5).map(_._1).toSet
      val got = out.filter(_.getLong(0) == qid).map(_.getLong(2)).toSet
      assert(got === exact,
        s"planted query $qid: routed answer $got != brute top-5 $exact")
    }
  }
}
