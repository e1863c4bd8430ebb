package graft
package search

import org.apache.spark.sql.functions._

import graft.operators.{Ann, Hnsw, Search}

/** The HNSW hierarchy ([[Hnsw]]): geometric level scaffolding, layered
  * build over the unchanged NN-Descent machinery, and the descent+beam
  * serve — the scale path for graph serving after the retired
  * `graph_serve` probe measured the flat single-layer beam collapsing
  * at 20× (recall@10 ≈ 0.03; SCALE.md).
  */
class HnswSpec extends SparkSpec {

  private val bigDir = "/root/testdata/sf0.01"

  test("levels: geometric occupancy, unique entry at the top layer") {
    val lv = Hnsw.qHnswLevels(spark, bigDir).collect()
    val n = lv.length
    val atLeast1 = lv.count(_.getLong(1) >= 1)
    // P(level >= 1) = 1/8; loose 3-sigma-ish band around n/8
    assert(atLeast1 > n / 24 && atLeast1 < n / 3,
      s"level>=1 occupancy $atLeast1 of $n is not geometric-ish")
    val entries = lv.filter(_.getBoolean(2))
    assert(entries.length === 1)
    val maxLevel = lv.map(_.getLong(1)).max
    assert(entries.head.getLong(1) === maxLevel)
    assert(entries.head.getLong(0) ===
      lv.filter(_.getLong(1) == maxLevel).map(_.getLong(0)).min)
  }

  test("build: layers nest, edges symmetric and intra-layer") {
    val idxPath = java.nio.file.Files
      .createTempDirectory("hnsw_idx").toString
    val idx = Hnsw.buildIndex(spark, bigDir, idxPath)
    assert(idx.maxLevel >= 1, "sf0.01 should occupy at least 2 layers")
    val lv = spark.read.parquet(s"$idxPath/levels.parquet")
    (1 to idx.maxLevel).foreach { l =>
      val members = lv.filter(col("level") >= l)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      val ed = spark.read.parquet(s"$idxPath/edges$l.parquet").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(ed.nonEmpty, s"layer $l has no edges")
      // every endpoint belongs to the layer; symmetric closure holds
      assert(ed.forall { case (u, v) =>
        members.contains(u) && members.contains(v) })
      val set = ed.toSet
      assert(ed.forall { case (u, v) => set.contains((v, u)) })
    }
  }

  test("serve: the gate-spilled path (no upper-layer driver cache, " +
      "per-hop point lookups) returns exactly the cached path's answer") {
    val idxPath = java.nio.file.Files
      .createTempDirectory("hnsw_idx0").toString
    val idx = Hnsw.buildIndex(spark, bigDir, idxPath)
    val cached = new Hnsw.Searcher(spark, bigDir, idx)
    val spilled = new Hnsw.Searcher(spark, bigDir, idx, cacheGate = 0L)
    try {
      Seq(7L, 42L, 301L).foreach { q =>
        assert(spilled.serve(q, ef = 16) === cached.serve(q, ef = 16),
          s"query $q diverged between cache and lookup paths")
      }
    } finally { cached.close(); spilled.close() }
  }

  test("serve: descent+beam recall@10 beats the flat fixed-entry beam " +
      "and clears the pinned floor") {
    val idxPath = java.nio.file.Files
      .createTempDirectory("hnsw_idx2").toString
    val idx = Hnsw.buildIndex(spark, bigDir, idxPath)
    val searcher = new Hnsw.Searcher(spark, bigDir, idx)
    try {
      val e = Search.embNormed(spark, bigDir)
      val n = e.count()
      val qids = (1 to 8).map(i => 2L + (i.toLong * 131L) % (n - 2))
      val qv = e.filter(col("vec_id").isin(qids: _*))
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
        .filter(col("rn") <= 10)
        .select("qid", "vec_id").collect()
        .groupBy(_.getLong(0))
        .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
      def recallOf(f: Long => Set[Long]): Double = {
        val rs = qids.map(q => f(q).count(exact(q).contains) / 10.0)
        rs.sum / rs.size
      }
      val hnswRecall = recallOf(q =>
        searcher.serve(q, ef = 32).map(_._1).toSet)
      // flat baseline: registry shape (fixed entry, 3 hops, beam 8)
      val g = Ann.qKnnGraph(spark, bigDir)
        .select(col("vec_id").as("u"), col("neighbor_id").as("v"))
      val edges = g.union(g.select(col("v").as("u"), col("u").as("v")))
        .distinct().persist()
      val flatRecall =
        try recallOf(q => Ann.beamServe(spark, bigDir, edges, q,
          Ann.GraphSearchEntry).map(_._1).toSet)
        finally { edges.unpersist(false); () }
      info(f"hnsw_recall10=$hnswRecall%.2f flat_recall10=$flatRecall%.2f")
      assert(hnswRecall >= flatRecall,
        s"hierarchy must not lose to the flat serve " +
          s"($hnswRecall vs $flatRecall)")
      assert(hnswRecall >= 0.9,
        s"descent+beam recall@10 $hnswRecall below the pinned floor")
    } finally searcher.close()
  }

  test("heuristic neighbor selection (Alg. 4): a diverse direction " +
      "beats a mutually-close sibling at equal degree; pruned edges " +
      "fill back in walk order") {
    // u along (1,0); candidates at +25°, +30°, −40°: c2 is c1's
    // near-clone (5° apart — closer to c1 than to u, prune), c3
    // approaches from the other side (65° from c1 but only 40° from
    // u — diverse, keep). Plain top-2 would pick (c1, c2); the
    // heuristic must pick (c1, c3).
    def at(deg: Double): (Double, Array[Float], Double) = {
      val r = math.toRadians(deg)
      ((math.cos(r) * 1e6).round / 1e6,
        Array(math.cos(r).toFloat, math.sin(r).toFloat), 1.0)
    }
    val (s1, v1, n1) = at(25)
    val (s2, v2, n2) = at(30)
    val (s3, v3, n3) = at(-40)
    val cands = Seq((s1, 11L, v1, n1), (s2, 12L, v2, n2),
      (s3, 13L, v3, n3))
    assert(Hnsw.selectDiverse(cands, 2) === Seq(11L, 13L),
      "the near-clone must be pruned in favor of the diverse direction")
    // keepPrunedConnections: at m=3 the pruned near-clone fills back
    assert(Hnsw.selectDiverse(cands, 3) === Seq(11L, 13L, 12L))
    // determinism under a score tie: walk order is (sim desc, id asc)
    val tied = Seq((0.5, 21L, v3, n3), (0.5, 20L, v3, n3))
    assert(Hnsw.selectDiverse(tied, 1) === Seq(20L))
  }

  test("delta serve: segments split at the cutoff, delta arm is exact " +
      "(true top-10 delta members can never be displaced), deterministic") {
    val out = Hnsw.qHnswDelta(spark, bigDir).collect()
    assert(out.length === 10)
    val scores = out.map(_.getDouble(2))
    assert(scores.sameElements(scores.sortBy(-_)), "not score-descending")
    val e = Search.embNormed(spark, bigDir)
    val cutoff = Ann.deltaCutoff(e).head.getLong(0)
    out.foreach { r =>
      val (id, seg) = (r.getLong(0), r.getString(1))
      if (seg == "delta") assert(id >= cutoff, s"delta row $id below cutoff")
      else assert(id < cutoff, s"indexed row $id at/above cutoff")
    }
    // exact ground truth for query 0 over the FULL corpus: any true
    // top-10 member living in the delta segment must appear in the
    // merged answer — every merged candidate carries its exact
    // rescored cosine, so only truly-better vectors can outrank it
    val q = e.filter(col("vec_id") === 0)
      .select(col("embedding").as("qv"), col("nrm").as("qn"))
    val exactTop = e.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .withColumn("score", round(
        graft.functions.VectorFunctions.cosinePrenormed(
          graft.functions.VectorFunctions.dot(
            col("embedding"), col("qv")), col("nrm"), col("qn")), 6))
      .orderBy(desc("score"), col("vec_id"))
      .limit(10).select("vec_id").collect().map(_.getLong(0))
    val served = out.map(_.getLong(0)).toSet
    exactTop.filter(_ >= cutoff).foreach(id =>
      assert(served.contains(id),
        s"true-top-10 delta vector $id missing from the merged serve"))
    // memoized sealed index ⇒ bit-identical repeat
    val again = Hnsw.qHnswDelta(spark, bigDir).collect()
    assert(out.map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .sameElements(again.map(r =>
        (r.getLong(0), r.getString(1), r.getDouble(2)))))
  }

  test("tombstone serve: planted deletes never reported, no underfill, " +
      "survivors keep their delta-arm ranks") {
    val out = Hnsw.qHnswTombstone(spark, bigDir).collect()
    assert(out.length === 10, "tombstone filtering underfilled the top-k")
    out.foreach(r => assert(r.getLong(0) % 5 != 1L,
      s"tombstoned vector ${r.getLong(0)} reported"))
    // deletes only REMOVE candidates: every reported vector must also
    // appear (same segment, same exact score) in the delete-free serve
    // OR be a backfill with a score no better than the vector it
    // replaced — i.e. the tombstoned result is dominated rank-by-rank
    val free = Hnsw.qHnswDelta(spark, bigDir).collect()
      .map(r => (r.getLong(0), r.getDouble(2)))
    out.map(_.getDouble(2)).zip(free.map(_._2)).foreach { case (t, f) =>
      assert(t <= f + 1e-9,
        s"tombstoned serve outscored the delete-free serve ($t > $f)")
    }
  }

  test("filtered serve: widened-ef pool fills k, predicate pure, " +
      "recall vs exact filtered top-10 clears the floor") {
    val out = Hnsw.qHnswFiltered(spark, bigDir).collect()
    assert(out.length === 10, "widened ef still underfilled the label slice")
    out.foreach(r => assert(r.getLong(1) === 3L,
      s"off-label vector ${r.getLong(0)} reported"))
    val e = Search.embNormed(spark, bigDir)
    val q = e.filter(col("vec_id") === 0)
      .select(col("embedding").as("qv"), col("nrm").as("qn"))
    val exact = e.filter(col("label") === 3 && col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .withColumn("score", round(
        graft.functions.VectorFunctions.cosinePrenormed(
          graft.functions.VectorFunctions.dot(
            col("embedding"), col("qv")), col("nrm"), col("qn")), 6))
      .orderBy(desc("score"), col("vec_id"))
      .limit(10).select("vec_id").collect().map(_.getLong(0)).toSet
    val recall = out.map(_.getLong(0)).count(exact.contains) / 10.0
    info(f"filtered_recall10=$recall%.2f")
    assert(recall >= 0.7,
      s"filtered recall $recall below floor — widen ef or deepen pool")
  }

  test("batch serve: one shared searcher answers each query exactly " +
      "as a fresh single-query serve would") {
    val batch = Hnsw.qHnswBatch(spark, bigDir).collect()
      .groupBy(_.getLong(0))
    assert(batch.keySet === (0L until 8L).toSet)
    batch.values.foreach(rs => assert(rs.length === 5))
    // the shared vector memo must not CHANGE any answer — query 3
    // served alone (fresh searcher) is rank-identical to its batch rows
    val idxPath = java.nio.file.Files
      .createTempDirectory("hnsw_idxb").toString
    val idx = Hnsw.buildIndex(spark, bigDir, idxPath)
    val solo = new Hnsw.Searcher(spark, bigDir, idx)
    val alone =
      try solo.serve(3L, ef = 16, k = 5)
      finally solo.close()
    val inBatch = batch(3L).sortBy(_.getLong(1))
      .map(r => (r.getLong(2), r.getDouble(3))).toSeq
    assert(inBatch === alone,
      s"batch rows for query 3 diverge from the solo serve")
  }

  test("compaction: tombstones physically absent from every layer, " +
      "delta folded into the graph, serve recall clears the floor") {
    val out = Hnsw.qHnswCompact(spark, bigDir).collect()
    assert(out.length === 10)
    out.foreach(r => assert(r.getLong(0) % 5 != 1L,
      s"tombstoned vector ${r.getLong(0)} survived compaction"))
    val (live, idx) = Hnsw.compactedFor(spark, bigDir)
    val e = Search.embNormed(spark, bigDir)
    val liveIds = e.filter(col("vec_id") % 5 =!= 1)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    // levels cover EXACTLY the live corpus — the delta segment's ids
    // (>= the old cutoff) are now graph members, the deletes are gone
    val lvIds = spark.read.parquet(s"${idx.path}/levels.parquet")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(lvIds === liveIds, "compacted levels != live corpus")
    val cutoff = Ann.deltaCutoff(e).head.getLong(0)
    assert(lvIds.exists(_ >= cutoff), "delta ids not folded into levels")
    // no edge list may reference a deleted vector
    (0 to idx.maxLevel).foreach { l =>
      val bad = spark.read.parquet(s"${idx.path}/edges$l.parquet")
        .filter(col("u") % 5 === 1 || col("v") % 5 === 1).count()
      assert(bad === 0L, s"layer $l carries $bad tombstoned endpoints")
    }
    // recall floor vs the exact top-10 over the live corpus
    val q = e.filter(col("vec_id") === 0)
      .select(col("embedding").as("qv"), col("nrm").as("qn"))
    val exact = Search.embNormed(spark, live)
      .filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .withColumn("score", round(
        graft.functions.VectorFunctions.cosinePrenormed(
          graft.functions.VectorFunctions.dot(
            col("embedding"), col("qv")), col("nrm"), col("qn")), 6))
      .orderBy(desc("score"), col("vec_id"))
      .limit(10).select("vec_id").collect().map(_.getLong(0)).toSet
    val recall = out.map(_.getLong(0)).count(exact.contains) / 10.0
    info(f"compact_recall10=$recall%.2f")
    assert(recall >= 0.8,
      s"post-compaction recall $recall below the floor")
  }
}
