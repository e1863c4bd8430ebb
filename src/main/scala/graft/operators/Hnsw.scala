package graft
package operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.embed.Embedder.hash60Col
import graft.functions.DotProduct
import graft.functions.VectorFunctions._

/** HIERARCHICAL navigable graph serving — the HNSW construction
  * (Malkov & Yashunin 2016) re-expressed Spark-first, and the measured
  * answer to the flat graph's scale failure: ScaleProbe's graph_serve
  * grid shows beam search over the single-layer k-NN graph collapses
  * to recall@10 ≈ 0.03 at 20× corpus (n≈10k) REGARDLESS of entry
  * strategy or budget (16 hops × beam 32 reaches 0.09) — a degree-2k
  * graph of short-range edges is not navigable, exactly the
  * small-world gap the HNSW hierarchy exists to close.
  *
  * Construction: every vector draws a geometric level from the
  * portable hash (P(level ≥ l) = 8^-l — branch factor 8, so the
  * hierarchy adds ≤ N/7 extra vectors of build work and the level cap
  * floor(log8 N) is corpus-derived, never pinned); layer l holds all
  * vectors with level ≥ l, and each layer gets its own NN-Descent
  * trained k-NN graph via the UNCHANGED [[Ann.refineKnnGraph]]
  * machinery at that layer's [[AnnGeometry.forCorpus]] geometry (the
  * builders are id-layout-free by design, so a sparse id subset needs
  * no re-indexing). Upper layers are geometrically sparser — their
  * edges are LONG-RANGE in the corpus metric, which is what greedy
  * descent needs to cross the corpus in O(log N) moves before the
  * layer-0 beam does local refinement.
  *
  * Serving: greedy descent from the top layer's entry node (corpus-
  * derived: min id at the max occupied level — the HNSW rule), one
  * greedy walk per layer, then the bounded beam ([[Ann.beamServe]],
  * efSearch-wide, fixpoint-stopped) on layer 0. Upper-layer adjacency
  * and vectors ride a SIZE-GATED driver cache (layers are ≤ N/8 from
  * level 1 up; the gate spills to per-hop point lookups when a layer
  * outgrows it — the union-find size-gate discipline), so serving one
  * query costs driver-local upper hops + one beam over the
  * id-partitioned layer-0 edge table.
  */
object Hnsw {

  /** Branch factor between layers: P(level ≥ l) = LevelBase^-l. */
  private[graft] val LevelBase = 8L

  /** Graph degree for INDEX layers — deliberately denser than the
    * registry's k=3 analysis graph: HNSW quality is degree-bound
    * (Malkov & Yashunin use M 16-48), and the spec's measured recall
    * at k=3 (0.49) vs k=8 documents why. Build cost stays k·N edges. */
  private[graft] val IndexDegree = 8

  /** Random long-range edges unioned into every layer (per node, before
    * symmetrization) — the small-world quota beside the kNN edges. */
  private[graft] val LongRangeEdges = 2

  /** Corpus-derived level cap: max l with 8^l ≤ n (integer loop — no
    * float log, so the DuckDB mirror can't round differently). */
  private[graft] def levelCap(n: Long): Int = {
    var l = 0
    var p = 1L
    while (p * LevelBase <= n) { p *= LevelBase; l += 1 }
    l
  }

  /** Geometric level assignment + entry flag, the deterministic
    * scaffolding of the hierarchy: level(v) = max l ≤ cap(N) with
    * hash60(v:lvl) ≡ 0 (mod 8^l); entry = min vec_id at the max
    * occupied level. Hash-exact DuckDB oracle — every piece (count,
    * cap, md5 hash, modulus, argmin) is engine-portable integer
    * arithmetic. The entry aggregate is `max(struct(level, -vec_id))`,
    * not a corpus-wide window. */
  def qHnswLevels(spark: SparkSession, dir: String): DataFrame = {
    val n = Tables.embeddings(spark, dir).count()
    val cap = levelCap(n)
    val h = hash60Col(concat(col("vec_id").cast("string"), lit(":lvl")))
    val lvl = (1 to cap).foldLeft(lit(0L)) { (acc, l) =>
      when(pmod(h, lit(math.pow(LevelBase.toDouble, l).toLong)) === 0,
        lit(l.toLong)).otherwise(acc)
    }
    val base = Tables.embeddings(spark, dir)
      .select(col("vec_id"), lvl.as("level"))
    val ent = base
      .agg(max(struct(col("level"), (-col("vec_id")).as("nid"))).as("m"))
      .select((-col("m.nid")).as("eid"))
    base.crossJoin(broadcast(ent))
      .select(col("vec_id"), col("level"),
        (col("vec_id") === col("eid")).as("is_entry"))
      .orderBy("vec_id")
  }

  /** A built hierarchy on disk: `levels.parquet`, `edges<l>.parquet`
    * per occupied layer (symmetric, score-carrying), plus the derived
    * entry/cap handle. */
  final case class HnswIndex(path: String, maxLevel: Int, entry: Long)

  /** Malkov & Yashunin 2016 Algorithm 4 — heuristic neighbor
    * selection, the pure per-node core: from candidates
    * `(simToU, id, embedding, nrm)` pick ≤ m edges preferring DIVERSE
    * directions over mutually-close ones. Walk candidates closest-
    * first ((sim desc, id asc) — deterministic under score ties); keep
    * a candidate iff it is closer to u than to every already-kept
    * neighbor (`sim(c,u) > sim(c,s)`), else prune it; then fill back
    * from the pruned list in walk order up to m (the paper's
    * keepPrunedConnections, so degree — and with it beam fan-out —
    * matches the plain top-k build). This is what makes the layer
    * graphs navigable on clustered/adversarial corpora: plain top-k
    * spends the whole degree budget on one tight cluster's siblings;
    * the heuristic spends it on distinct approach directions. */
  private[graft] def selectDiverse(
      cands: Seq[(Double, Long, Array[Float], Double)],
      m: Int): Seq[Long] = {
    val ordered = cands.sortBy { case (s, id, _, _) => (-s, id) }
    val selected =
      scala.collection.mutable.ArrayBuffer
        .empty[(Double, Long, Array[Float], Double)]
    val pruned = scala.collection.mutable.ArrayBuffer.empty[Long]
    ordered.foreach { c =>
      if (selected.size < m) {
        val closerToU = selected.forall { s =>
          val simCS = if (c._4 == 0 || s._4 == 0) -1.0
            else DotProduct.dot(c._3, s._3) / (c._4 * s._4)
          c._1 > simCS
        }
        if (closerToU) selected += c else pruned += c._2
      }
    }
    (selected.map(_._2) ++ pruned.take(m - selected.size)).toSeq
  }

  private val selectDiverseUdf = udf(
    (cs: Seq[org.apache.spark.sql.Row], m: Int) =>
      selectDiverse(cs.map(r => (r.getDouble(0), r.getLong(1),
        r.getSeq[Float](2).toArray, r.getDouble(3))), m))

  /** Heuristic-selected layer edges: widen each node's candidate pool
    * beyond its own top-k (the refined kNN edges ∪ their REVERSE ∪
    * the random seed sample — the reverse arm is what carries
    * cross-cluster links NN-Descent found from the other side), score
    * the pool exactly (bounded TopK, ≤ 3m per node), then run
    * [[selectDiverse]] per node. Per-node state is a ≤ 3m struct
    * array — a bounded map-side aggregate, no window, no corpus-scale
    * driver state; this is BUILD-time machinery (one-time artifact),
    * not the serve path. */
  private[graft] def heuristicEdges(spark: SparkSession, dir: String,
      refined: DataFrame, m: Int): DataFrame = {
    val fwd = refined.select(col("vec_id").as("qid"),
      col("neighbor_id").as("nid"))
    val rev = refined.select(col("neighbor_id").as("qid"),
      col("vec_id").as("nid"))
    val seeds = Ann.seedEdges(spark, dir, LongRangeEdges)
      .select(col("u").as("qid"), col("v").as("nid"))
    val cand = fwd.union(rev).union(seeds)
      .filter(col("qid") =!= col("nid")).distinct()
    val pool = Ann.rankGraphCandidates(spark, dir, cand, 3 * m)
    val e = Search.embNormed(spark, dir)
    pool
      .join(e.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("nv"), col("nrm").as("nn")), "neighbor_id")
      .groupBy("vec_id")
      .agg(collect_list(struct(col("score"), col("neighbor_id"),
        col("nv"), col("nn"))).as("cs"))
      .select(col("vec_id").as("u"),
        explode(selectDiverseUdf(col("cs"), lit(m))).as("v"))
  }

  /** Largest layer, in vectors, built in-process. Past it the Spark
    * arm builds the layer, whatever the AQE setting: the in-process arm
    * is single-threaded and holds the layer on the driver, and this is
    * the largest size at which both arms were measured ([[HnswBuildProbe]],
    * dim 64, 4-core host: 37 s against 280 s for one segment, 46 s
    * against 795 s for four concurrent ones). At 100k vectors the
    * in-process arm took 392 s for one segment, and four concurrent
    * ones overran a 4 GB driver heap. */
  private[graft] val LocalMaxRows = 20000L

  /** Whether `n` vectors of width `dim` are built in-process: at most
    * [[LocalMaxRows]] of them, fitting one AQE partition —
    * `n·4·dim ≤ spark.sql.adaptive.advisoryPartitionSizeInBytes` (an
    * empty layer counts as one element). Lowering that setting can
    * only move builds to the Spark arm. */
  private[graft] def fitsInProcess(spark: SparkSession, n: Long,
      dim: Int): Boolean =
    n <= LocalMaxRows && 4L * math.max(1L, n * dim) <= advisoryBytes(spark)

  private[graft] def advisoryBytes(spark: SparkSession): Long =
    org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes"))

  /** Build the layered index under `indexPath`: `levels.parquet`
    * ([[qHnswLevels]]) and `edges<l>.parquet` per occupied layer. Layer 0
    * trains over the full corpus; each upper layer over its vector subset
    * (≤ N/8^l rows) at its own corpus-derived geometry. Edges are stored
    * as the symmetric closure so serving needs one lookup per hop, not
    * two.
    *
    * Per-layer gate: a layer of at most [[LocalMaxRows]] vectors that
    * fit one AQE partition ([[fitsInProcess]]) is built in-process
    * ([[HnswLocal]], single-threaded on the calling thread) from one
    * collect of its `(vec_id, embedding)` rows — when layer 0 fits, the
    * levels too, and the whole build runs 5 + layers Spark jobs (schema
    * read, stats aggregate, collect, one write per file). Bigger
    * layers (layer 0 of a 100k-vector segment) keep the Spark build; their
    * sparse upper layers still go in-process. Both arms write the same
    * files bit for bit (HnswBuildSpec pins every edge set, the levels and
    * the entry); a corpus the in-process arm cannot reproduce exactly (a
    * zero or non-finite vector, mixed widths — [[HnswLocal.rowsOf]])
    * stays on the Spark arm. */
  def buildIndex(spark: SparkSession, dir: String, indexPath: String,
      k: Int = IndexDegree): HnswIndex = {
    import spark.implicits._
    // round 11: the layer graph is HEURISTIC-selected
    // ([[heuristicEdges]] — Algorithm 4 over the NN-Descent pool ∪
    // reverse ∪ seeds), not the plain top-k NN-Descent edges: at
    // equal degree, diverse approach directions beat mutually-
    // close siblings where cluster MASS is heterogeneous (the
    // hnsw_hetero probe A/Bs the two builds; the uniform-cluster
    // and sign-flip grids are selection-neutral by construction —
    // SCALE.md round 11). `spark.graft.hnsw.heuristicEdges=false`
    // opts a build back to plain top-k — the probe's A/B arm.
    val heuristic = spark.conf.getOption("spark.graft.hnsw.heuristicEdges")
      .forall(_.toBoolean)
    val emb = Tables.embeddings(spark, dir)
    val stats = emb.agg(count(lit(1)), max(size(col("embedding")))).head
    val n = stats.getLong(0)
    val dim = if (stats.isNullAt(1)) 0 else stats.getInt(1)
    def writeEdges(l: Int, edges: Seq[(Long, Long)]): Unit =
      edges.toDF("u", "v").coalesce(1)
        .write.mode("overwrite").parquet(s"$indexPath/edges$l.parquet")
    val local =
      if (fitsInProcess(spark, n, dim)) HnswLocal.rowsOf(emb) else None
    local match {
      case Some(rows) =>
        val lvl = HnswLocal.levels(rows.ids, levelCap(n))
        val top = if (n == 0) 0 else lvl.max
        val entry = if (n == 0) -1L else rows.ids(lvl.indexOf(top))
        rows.ids.indices.map(i =>
            (rows.ids(i), lvl(i).toLong, rows.ids(i) == entry))
          .toDF("vec_id", "level", "is_entry").coalesce(1)
          .write.mode("overwrite").parquet(s"$indexPath/levels.parquet")
        if (n == 0) writeEdges(0, Nil)
        else (0 to top).foreach(l => writeEdges(l,
          HnswLocal.layerEdges(rows.keep(lvl(_) >= l), k, heuristic)))
        HnswIndex(indexPath, top, entry)
      case None => buildDistributed(spark, dir, indexPath, k, heuristic,
        n, dim, writeEdges)
    }
  }

  /** [[buildIndex]]'s Spark arm: levels by [[qHnswLevels]], each layer
    * by the distributed NN-Descent and selection plans, except that the
    * first upper layer passing the gate is collected once and it and
    * every layer above it are built in-process. */
  private def buildDistributed(spark: SparkSession, dir: String,
      indexPath: String, k: Int, heuristic: Boolean, n: Long, dim: Int,
      writeEdges: (Int, Seq[(Long, Long)]) => Unit): HnswIndex = {
    val lv = qHnswLevels(spark, dir).persist()
    try {
      lv.write.mode("overwrite").parquet(s"$indexPath/levels.parquet")
      val topRow = lv.agg(max(col("level"))).head
      if (topRow.isNullAt(0)) {
        // an EMPTY corpus — e.g. a shard residue class that happens to
        // hold no ids under sparse hash-derived vec_ids — builds an
        // empty index: no layers, no entry; the serve guard answers
        // no rows rather than crashing the build or emitting noise
        writeEdges(0, Nil)
        return HnswIndex(indexPath, 0, -1L)
      }
      val top = topRow.getLong(0).toInt
      val cap = levelCap(n)
      var upper: Option[(HnswLocal.Rows, Array[Int])] = None
      (0 to top).foreach { l =>
        val members = lv.filter(col("level") >= l).select("vec_id")
        if (upper.isEmpty && l > 0 &&
            fitsInProcess(spark, members.count(), dim))
          upper = HnswLocal.rowsOf(
              Tables.embeddings(spark, dir).join(members, "vec_id"))
            .map(r => (r, HnswLocal.levels(r.ids, cap)))
        upper match {
          case Some((rows, lvl)) => writeEdges(l,
            HnswLocal.layerEdges(rows.keep(lvl(_) >= l), k, heuristic))
          case None => buildLayer(spark, dir, indexPath, l, members, k,
            heuristic)
        }
      }
      HnswIndex(indexPath, top, entryOf(lv))
    } finally lv.unpersist(false)
  }

  /** One layer of the Spark arm: the layer's vectors (`members` of the
    * corpus at `dir`; layer 0 is the corpus itself) trained and
    * selected by the distributed plans, written as `edges<l>`. */
  private def buildLayer(spark: SparkSession, dir: String,
      indexPath: String, l: Int, members: DataFrame, k: Int,
      heuristic: Boolean): Unit = {
    val ldir =
      if (l == 0) dir
      else {
        val sub = s"$indexPath/layer$l"
        Tables.embeddings(spark, dir).join(members, "vec_id")
          .write.mode("overwrite").parquet(s"$sub/embeddings.parquet")
        sub
      }
    val subN = Tables.embeddings(spark, ldir).count()
    val refined =
      Ann.refineKnnGraph(spark, ldir, AnnGeometry.forCorpus(subN), k)
    val g =
      if (heuristic) heuristicEdges(spark, ldir, refined, k)
      else refined.select(col("vec_id").as("u"), col("neighbor_id").as("v"))
    // navigability still needs the random quota beside the kNN half
    // ([[Ann.seedEdges]], the small-world arm): pure kNN layers go
    // cluster-closed on clustered corpora — every top-k edge is an
    // intra-cluster sibling, and with near-orthogonal clusters greedy
    // descent has no gradient between them (the graph_serve_clustered
    // probe measured recall capped at 0.40 before this union; the beam
    // absorbs the extra degree).
    val e = g.union(
      Ann.seedEdges(spark, ldir, LongRangeEdges).select(col("u"), col("v")))
    e.union(e.select(col("v").as("u"), col("u").as("v")))
      .distinct()
      .write.mode("overwrite").parquet(s"$indexPath/edges$l.parquet")
  }

  private def entryOf(lv: DataFrame): Long = lv
    .agg(max(struct(col("level"), (-col("vec_id")).as("nid"))).as("m"))
    .select((-col("m.nid")).as("eid")).head.getLong(0)

  /** Open a previously built index (derives cap + entry from the
    * stored levels table — no side metadata file to drift). */
  def openIndex(spark: SparkSession, indexPath: String): HnswIndex = {
    val lv = spark.read.parquet(s"$indexPath/levels.parquet")
    val topRow = lv.agg(max(col("level"))).head
    if (topRow.isNullAt(0)) HnswIndex(indexPath, 0, -1L)
    else HnswIndex(indexPath, topRow.getLong(0).toInt, entryOf(lv))
  }

  /** Serving handle over a built index: caches upper layers (edges +
    * vectors) driver-side when they fit `cacheGate` edges, spills to
    * per-hop point lookups when they don't. Construct once, serve many
    * queries; [[close]] releases the persisted layer-0 edge table. */
  final class Searcher(spark: SparkSession, dir: String, idx: HnswIndex,
      cacheGate: Long = 2000000L) {
    import spark.implicits._

    private val e = Search.embNormed(spark, dir)
    private val edges0 = spark.read.parquet(s"${idx.path}/edges0.parquet")
      .select("u", "v").persist()
    edges0.count()

    /** Per-layer driver adjacency for gated layers (level ≥ 1). */
    private val adjCache: Map[Int, Map[Long, Array[Long]]] =
      (1 to idx.maxLevel).flatMap { l =>
        val ed = spark.read.parquet(s"${idx.path}/edges$l.parquet")
          .select("u", "v")
        if (ed.count() <= cacheGate)
          Some(l -> ed.as[(Long, Long)].collect()
            .groupBy(_._1).map { case (u, vs) => u -> vs.map(_._2) })
        else None
      }.toMap

    /** Vectors of every node in a cached upper layer (bounded by the
      * same gate: node count ≤ edge count). Concurrent map: the handle
      * is construct-once-serve-many and the point-lookup spill path
      * mutates this cache, so concurrent serve() calls must not race
      * (TrieMap's getOrElseUpdate may doubly evaluate a lookup but
      * never corrupts — both evaluations return the same row). */
    private val vecCache: scala.collection.concurrent.TrieMap[Long, (Array[Float], Double)] = {
      val ids = adjCache.values.flatMap(m => m.keys).toSet
      val m = scala.collection.concurrent.TrieMap.empty[Long, (Array[Float], Double)]
      if (ids.nonEmpty) {
        val idDf = spark.createDataset(ids.toSeq).toDF("vec_id")
        e.join(idDf.hint("broadcast"), "vec_id")
          .select(col("vec_id"), col("embedding"), col("nrm"))
          .collect()
          .foreach(r => m(r.getLong(0)) =
            (r.getSeq[Float](1).toArray, r.getDouble(2)))
      }
      m
    }

    private def vecOf(id: Long): (Array[Float], Double) =
      vecCache.getOrElseUpdate(id,
        e.filter(col("vec_id") === id)
          .select(col("embedding"), col("nrm"))
          .collect().headOption
          .map(r => (r.getSeq[Float](0).toArray, r.getDouble(1)))
          .getOrElse((Array.empty[Float], 0.0)))

    /** BATCHED spill-path vector fetch: load every id not yet in
      * [[vecCache]] in ONE isin-pushdown job (round 11 — the spilled
      * descent previously paid one Spark job PER candidate via
      * [[vecOf]]; a width-4 frontier scoring ~width·degree candidates
      * per fixpoint step multiplied jobs by the candidate count). A
      * miss after the batch (an id with no corpus row) caches the
      * empty sentinel so it is never re-fetched. No-op when all ids
      * are cached — the gated fast path pays nothing. */
    private def prefetchVecs(ids: Iterable[Long]): Unit = {
      val missing = ids.toSeq.distinct.filterNot(vecCache.contains)
      if (missing.nonEmpty) {
        e.filter(col("vec_id").isin(missing: _*))
          .select(col("vec_id"), col("embedding"), col("nrm"))
          .collect()
          .foreach(r => vecCache(r.getLong(0)) =
            (r.getSeq[Float](1).toArray, r.getDouble(2)))
        missing.foreach(id =>
          vecCache.putIfAbsent(id, (Array.empty[Float], 0.0)))
      }
    }

    /** BATCHED spill-path adjacency: the whole frontier's neighbor
      * lists in ONE isin-pushdown probe of the layer's edge table per
      * fixpoint step (round 11; cached layers answer from the driver
      * map as before). One descent now costs O(hops) jobs with the
      * gate tripped, not O(hops × frontier × degree). */
    private def neighborsOfBatch(l: Int,
        ids: Seq[Long]): Map[Long, Array[Long]] =
      adjCache.get(l) match {
        case Some(m) =>
          ids.map(id => id -> m.getOrElse(id, Array.empty[Long])).toMap
        case None =>
          spark.read.parquet(s"${idx.path}/edges$l.parquet")
            .filter(col("u").isin(ids: _*))
            .select("u", "v").as[(Long, Long)].collect()
            .groupBy(_._1).map { case (u, vs) => u -> vs.map(_._2) }
      }

    /** Left-to-right double dot — same associativity as the engine's
      * codegen'd dot, so descent choices can't flip between runs. */
    private def scoreAgainst(q: (Array[Float], Double), id: Long): Double = {
      val (v, nrm) = vecOf(id)
      if (v.isEmpty || nrm == 0 || q._2 == 0) -1.0
      else DotProduct.score(v, nrm, q._1, q._2)
    }

    /** Every node of the top occupied layer (bounded: expected
      * N/8^maxLevel ≤ 8; hard-capped) — the descent's starting set. */
    private val topIds: Seq[Long] =
      spark.read.parquet(s"${idx.path}/levels.parquet")
        .filter(col("level") === idx.maxLevel.toLong)
        .orderBy("vec_id").limit(256)
        .select("vec_id").as[Long].collect().toSeq

    /** Top-k for one corpus query id: WIDTH-BOUNDED descent through
      * the upper layers (a frontier of up to `width` nodes per layer
      * instead of a single greedy walker — the multi-probe
      * generalization; width 1 is classic HNSW greedy. On corpora
      * whose cluster centers are near-orthogonal a single walker has
      * no inter-cluster gradient and strands in the wrong basin —
      * graph_serve_clustered measures the recall each width buys),
      * then the fixpoint-stopped beam on layer 0 seeded with the
      * whole frontier. */
    def serve(queryId: Long, ef: Int = 16, k: Int = 10,
        hopCap: Int = 32, width: Int = 4,
        exclude: Set[Long] = Set.empty): Seq[(Long, Double)] = {
      val q = vecOf(queryId)
      val memo = scala.collection.mutable.Map.empty[Long, Double]
      def sc(id: Long): Double =
        memo.getOrElseUpdate(id, scoreAgainst(q, id))
      def top(ids: Iterable[Long]): Seq[Long] = ids.toSeq.distinct
        .filter(_ != queryId)
        .sortBy(id => (-sc(id), id)).take(width)
      prefetchVecs(topIds)
      var frontier: Seq[Long] =
        top(if (topIds.nonEmpty) topIds else Seq(idx.entry))
      var l = idx.maxLevel
      while (l >= 1) {
        var moved = true
        while (moved) {
          // batched per fixpoint step: one adjacency probe for the
          // whole frontier, one vector fetch for every fresh
          // candidate — the spilled path runs O(hops) jobs per
          // descent, the cached path touches no Spark at all
          val nb = neighborsOfBatch(l, frontier)
          val out = frontier.flatMap(id =>
            nb.getOrElse(id, Array.empty[Long]))
          prefetchVecs(out)
          val expanded = top(frontier ++ out)
          moved = expanded != frontier
          frontier = expanded
        }
        l -= 1
      }
      Ann.beamServeFrom(spark, dir, edges0, queryId,
        entries = if (frontier.nonEmpty) frontier else Seq(idx.entry),
        hops = hopCap, beamW = ef, k = k, excludeIds = exclude)
    }

    def close(): Unit = edges0.unpersist(false)
  }

  /** One built index per (session, corpus) — the hierarchy is an
    * ARTIFACT: train once, serve many (the sealed-IVF discipline), so
    * repeated registry/bench invocations pay the build exactly once.
    * Keyed by corpus dir; the index lands in a temp directory. */
  private val builtIndexes =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** One materialized serving image per (session, corpus, BUDGET) —
    * the driver-held handle [[qHnswBatch]] serves from. Keyed like
    * [[shardLayouts]]/IndexPipeline.annIndexes on `dir#budget`: the
    * image CONTENT is budget-independent, but the over-budget gate in
    * [[imageOf]] is not — a dir-only key would let a second caller
    * with a SMALLER budget receive an image built (and gate-checked)
    * under the first caller's larger one, silently bypassing its own
    * gate. */
  private val images =
    new java.util.concurrent.ConcurrentHashMap[String, IndexImage]()

  private[graft] def imageFor(spark: SparkSession, dir: String,
      budgetBytes: Long = DefaultNodeBudget): IndexImage =
    images.computeIfAbsent(s"$dir#$budgetBytes",
      { _ => imageOf(spark, dir, indexFor(spark, dir), budgetBytes) })

  /** Census of the session image cache over `dirs`: (count, ≈bytes) —
    * the retention gauge of the blob-staged sharded serves, which must
    * leave it at zero (blobs ship by path; no segment image stays
    * driver-resident). Byte estimate is the [[imageBytesPerVec]] budget
    * formula over each cached image's actual vector count/width. */
  private[graft] def cachedImageCensus(dirs: Seq[String],
      budgetBytes: Long = DefaultNodeBudget): (Int, Long) = {
    val cached = dirs.flatMap(d => Option(images.get(s"$d#$budgetBytes")))
    val bytes = cached.map { img =>
      val dim = img.vecs.headOption.map(_._2._1.length).getOrElse(0)
      img.vecs.size.toLong * imageBytesPerVec(dim)
    }.sum
    (cached.size, bytes)
  }

  /** [[imageFor]] over an ALREADY-BUILT index (compaction output and
    * other artifacts that carry their index beside the corpus) — same
    * cache, no redundant rebuild. */
  private[graft] def imageFor(spark: SparkSession, dir: String,
      idx: HnswIndex): IndexImage =
    images.computeIfAbsent(s"$dir#$DefaultNodeBudget",
      { _ => imageOf(spark, dir, idx) })

  private[graft] def indexFor(spark: SparkSession, dir: String): HnswIndex = {
    val path = builtIndexes.computeIfAbsent(dir, { d =>
      val p = java.nio.file.Files
        .createTempDirectory("graft_hnsw").toString
      buildIndex(spark, d, p)
      p
    })
    openIndex(spark, path)
  }

  /** Register `dir` as serving from `srcDir`'s built hierarchy — the
    * caller GUARANTEES the two corpora are row-identical (the LSM
    * registry head reuses the sealed residue layout's segments
    * verbatim, same `vec_id mod S` split of the same sealed rows).
    * The index artifacts are content-derived and id-layout-free, so a
    * row-identical corpus under a different path serves bit-identically
    * from the same levels/edges tables; sharing collapses duplicate
    * NN-Descent builds over identical rows into one (the r12
    * bench-wall item: six overlapping HNSW-family cold builds). */
  private[graft] def shareIndex(spark: SparkSession, dir: String,
      srcDir: String): Unit = {
    indexFor(spark, srcDir) // ensure the source hierarchy is built
    builtIndexes.putIfAbsent(dir, builtIndexes.get(srcDir))
  }

  /** HNSW SERVING as a registry row: greedy descent + beam for the
    * pinned query (vec_id 0), top-10 — the hierarchy's answer to
    * `q_graph_search`'s flat serve. Not SQL-expressible (multi-layer
    * trained graphs + an adaptive descent), so like the tokenizer
    * trainers the oracle is the committed golden table; the serve's
    * SEMANTIC quality is pinned independently by HnswSpec (recall
    * vs brute force ≥ 0.8 where the flat serve reads 0.08). Serves
    * from the session-cached [[IndexImage]] ([[serveLocal]], pinned
    * bit-identical to the [[Searcher]] by HnswDistSpec) — the
    * Searcher's per-hop point-lookup jobs are the LATENCY path for a
    * cold single query; a registry/bench invocation is a warm
    * serving-tier call and rides the image like [[qHnswBatch]]. */
  def qHnswSearch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // ef = 32 is the measured knee of the recall curve on the real
    // corpus (ScaleProbe hnsw_ef_grid: 0.84 @ 16, 0.96 @ 32, 0.99 @
    // 64 — recall@10 over 20 queries); serve cost is a driver-local
    // beam either way, so the default sits at the knee, not below it
    serveLocal(imageFor(spark, dir), 0L, ef = 32)
      .toDF("vec_id", "score")
      .orderBy(desc("score"), col("vec_id"))
  }

  /** One sealed-segment corpus per (session, source dir): the ids
    * below [[Ann.deltaCutoff]]'s 90% boundary, written as their own
    * embeddings table so every id-layout-free builder (levels,
    * NN-Descent, seed edges) runs over it unchanged. */
  private val sealedDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private[graft] def sealedDirFor(spark: SparkSession, dir: String): String =
    sealedDirs.computeIfAbsent(dir, { d =>
      val p = java.nio.file.Files
        .createTempDirectory("graft_hnsw_sealed").toString
      val e = Tables.embeddings(spark, d)
      e.crossJoin(broadcast(Ann.deltaCutoff(e)))
        .filter(col("vec_id") < col("cutoff")).drop("cutoff")
        .write.mode("overwrite").parquet(s"$p/embeddings.parquet")
      p
    })

  /** Sealed+delta HNSW serving — the growing-segment lifecycle on the
    * GRAPH index ([[Ann.qAnnDelta]] is the IVF twin): the layered
    * graph covers only the vectors that existed at build time (ids
    * below the same 90% cutoff every segment lifecycle here uses);
    * vectors that arrived since form an unindexed delta that is
    * brute-force-scanned exactly and merged into one top-10. The
    * hierarchy build is the expensive artifact — rebuilding it per
    * ingest batch would dominate the pipeline, so freshness rides the
    * delta until a reseal re-trains the layers (HNSW has no cheap
    * incremental distributed insert: every insert mutates neighbor
    * lists across layers, which is why production graph stores segment
    * exactly like this).
    *
    * Scale shape: the sealed arm is the [[Searcher]]'s bounded
    * descent+beam (upper-layer driver cache + one id-partitioned
    * layer-0 edge probe); the delta arm scans ONLY the delta — bounded
    * by ingest rate between builds, not corpus size — and the merge is
    * a 20-row driver union. Delta members of the true global top-10
    * can never be displaced (every merged candidate carries its exact
    * rescored cosine), which HnswSpec pins.
    *
    * Oracle: committed golden table (the sealed arm rides trained
    * multi-layer graphs — not SQL-expressible; the [[GoldenChunks]]
    * regeneration discipline applies). */
  def qHnswDelta(spark: SparkSession, dir: String): DataFrame =
    hnswDeltaServe(spark, dir, tombstones = None)

  /** Tombstoned sealed+delta HNSW serve — the DELETE half of the graph
    * lifecycle ([[Ann.qAnnTombstone]] is the IVF twin). Deletes never
    * rewrite the layered graph: tombstoned nodes stay NAVIGABLE (the
    * beam routes through them — removing them would sever paths; the
    * Lucene live-docs rule) but are excluded from the reported top-k,
    * and the delta scan anti-joins the same id table. The serve-side
    * exclude set is the RECENT-deletes buffer, delete-rate-bounded
    * between compactions (a reseal folds old tombstones into the
    * rebuild), so collecting it driver-side is bounded the same way
    * the upper-layer cache is. The registry variant plants
    * `vec_id ≡ 1 mod 5` so the serve is golden-checkable. */
  def qHnswTombstone(spark: SparkSession, dir: String): DataFrame = {
    val tomb = Search.embNormed(spark, dir)
      .select("vec_id").filter(col("vec_id") % 5 === 1)
    hnswDeltaServe(spark, dir, tombstones = Some(tomb))
  }

  private def hnswDeltaServe(spark: SparkSession, dir: String,
      tombstones: Option[DataFrame]): DataFrame = {
    import spark.implicits._
    val e = Search.embNormed(spark, dir)
    val cut = Ann.deltaCutoff(e)
    val sealedDir = sealedDirFor(spark, dir)
    val exclude: Set[Long] = tombstones.fold(Set.empty[Long])(
      _.as[Long].collect().toSet)
    val sealedArm =
      serveLocal(imageFor(spark, sealedDir), 0L, ef = 16,
        exclude = exclude).toDF("vec_id", "score")
        .select(col("vec_id"), lit("indexed").as("segment"), col("score"))
    val q = e.filter(col("vec_id") === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("nrm").as("qn"))
    val deltaLive = tombstones.foldLeft(
      e.crossJoin(broadcast(cut)).filter(col("vec_id") >= col("cutoff")))(
      (d, t) => d.join(t, Seq("vec_id"), "left_anti"))
    val deltaArm = deltaCands(deltaLive, broadcast(q))
      .select(col("vec_id"), lit("delta").as("segment"), col("score"))
      .orderBy(desc("score"), col("vec_id"))
      .limit(10)
    sealedArm.unionByName(deltaArm)
      .orderBy(desc("score"), col("vec_id"))
      .limit(10)
  }

  /** Metadata-filtered HNSW serve — [[Ann.qAnnFiltered]]'s graph twin,
    * via the standard post-filter-with-widened-ef strategy: the beam
    * NAVIGATES the unfiltered graph (filtering during traversal
    * disconnects it — the predicate-correlated islands problem every
    * filtered-ANN paper starts from), with ef widened 16→64 so the
    * visited pool is deep enough that the label slice of it still
    * fills k; the predicate then applies to REPORTING only, on exact
    * rescored candidates. Underfill is the documented hazard of this
    * strategy (SearchSpec demonstrates it on the IVF twin); the spec
    * pins fill and predicate purity here. */
  def qHnswFiltered(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Search.embNormed(spark, dir)
    // pool depth is CORPUS-DERIVED from the predicate's measured
    // selectivity (k / sel × 2 safety), never pinned: a 64-deep pool
    // over a 1/8-selectivity label yields ~8 matches — underfill by
    // construction (measured before this derivation; the r8
    // fixed-constant discipline)
    val sel = e.agg(
      sum(when(col("label") === 3, 1L).otherwise(0L)).cast("double")
        / count(lit(1))).head.getDouble(0)
    val pool = math.max(64, math.ceil(10 / math.max(sel, 1e-6) * 2).toInt)
    // k = pool: return the whole widened visited-top so the filter
    // has a pool to cut from, not a pre-cut top-10
    val poolDf =
      serveLocal(imageFor(spark, dir), 0L, ef = 64, k = pool)
        .toDF("vec_id", "score")
    poolDf
      .join(Search.embNormed(spark, dir)
        .filter(col("label") === 3).select("vec_id", "label"), "vec_id")
      .select(col("vec_id"), col("label").cast("long").as("label"),
        col("score"))
      .orderBy(desc("score"), col("vec_id"))
      .limit(10)
  }

  /** Batched HNSW serving — [[Ann.qAnnIvfBatch]]'s graph twin:
    * construct the serving handle ONCE, then answer the whole query
    * batch against it, exactly the way a real serving tier holds one
    * index handle per node. The handle here is the materialized
    * [[IndexImage]] served driver-locally ([[serveLocal]] — pinned
    * bit-identical to the Spark-backed [[Searcher]] by HnswDistSpec),
    * so per-query cost is pure descent+beam with ZERO Spark
    * round-trips — the [[Searcher]]'s per-hop point-lookup jobs made
    * an 8-query batch cost ~10 s of job-scheduling overhead at the
    * sf0.1 bench before this (the latency path is fine for ONE query;
    * a batch should ride the image). Top-5 per query,
    * `(query_id, rank, vec_id, score)` — the batch-serve shape every
    * ANN family here shares; [[qHnswServeDist]] is the same serve
    * fanned out over executors when the batch is itself large. */
  def qHnswBatch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val img = imageFor(spark, dir)
    val rows = (0L until 8L).flatMap { qid =>
      serveLocal(img, qid, ef = 16, k = 5).zipWithIndex.map {
        case ((id, score), i) => (qid, (i + 1).toLong, id, score)
      }
    }
    rows.toDF("query_id", "rank", "vec_id", "score")
      .orderBy("query_id", "rank")
  }

  /** An immutable, broadcastable image of a built index: per-layer
    * adjacency, every corpus vector with its norm, and the descent
    * scaffolding (top-layer ids, entry). This is the REPLICATED-INDEX
    * serving model every production graph store uses — the index is
    * memory-resident on each serving node, queries fan out — expressed
    * Spark-natively as one broadcast: ~(2k+1)·8·N bytes of adjacency +
    * 4·d·N of vectors, so a 64-dim 10M-vector segment images at
    * ~4 GB — executor-RAM-sized by the same segmentation that already
    * bounds the sealed index (a corpus beyond the gate serves as
    * per-segment images + a k-bounded merge, the sealed+delta
    * discipline). */
  final case class IndexImage(
      maxLevel: Int,
      entry: Long,
      topIds: Array[Long],
      adj: Map[Int, Map[Long, Array[Long]]],
      vecs: Map[Long, (Array[Float], Double)])

  private[graft] def imageOf(spark: SparkSession, dir: String,
      idx: HnswIndex, budgetBytes: Long = DefaultNodeBudget): IndexImage = {
    import spark.implicits._
    // budget gate BEFORE the full-corpus collect: no call path may
    // image an over-budget corpus onto one JVM by accident — a corpus
    // past the gate must serve through the sharded regime
    // ([[shardCountFor]] / serveSharded*), whose segments are
    // budget-sized by construction
    val stats = Search.embNormed(spark, dir)
      .agg(count(lit(1)), first(size(col("embedding")))).head
    val n = stats.getLong(0)
    val d = if (stats.isNullAt(1)) 0 else stats.getInt(1)
    // the gate carries imbalance headroom: shardCountFor sizes the
    // AVERAGE segment to the budget, and a hash residue class
    // fluctuates around n/S (multiplicatively ~±25% at production
    // segment sizes, plus a small-n additive term that dominates on
    // tiny test corpora) — the gate exists to stop order-of-magnitude
    // accidents (imaging an unsharded 100 TB corpus), not to fail a
    // segment a few vectors over its average
    val gate = budgetBytes + budgetBytes / 4 + 64L * imageBytesPerVec(d)
    require(n * imageBytesPerVec(d) <= gate,
      s"imageOf: corpus at $dir images at ${n * imageBytesPerVec(d)} " +
        s"bytes > node budget $budgetBytes (+headroom $gate) — serve " +
        "it through the sharded regime (shardCountFor / " +
        "serveShardedDistributed)")
    val vecs = Search.embNormed(spark, dir)
      .select("vec_id", "embedding", "nrm").collect()
      .map(r => r.getLong(0) -> (r.getSeq[Float](1).toArray, r.getDouble(2)))
      .toMap
    val adj = (0 to idx.maxLevel).map { l =>
      l -> spark.read.parquet(s"${idx.path}/edges$l.parquet")
        .select("u", "v").as[(Long, Long)].collect()
        .groupBy(_._1).map { case (u, vs) => u -> vs.map(_._2) }
    }.toMap
    val topIds = spark.read.parquet(s"${idx.path}/levels.parquet")
      .filter(col("level") === idx.maxLevel.toLong)
      .orderBy("vec_id").limit(256).select("vec_id").as[Long].collect()
    IndexImage(idx.maxLevel, idx.entry, topIds, adj, vecs)
  }

  /** Pure-local serve over an [[IndexImage]] — [[Searcher.serve]]'s
    * executor-side twin, step-for-step: the same width-bounded descent
    * (frontier fixpoint per layer), the same layer-0 beam loop as
    * [[Ann.beamServeFrom]] (fresh-neighbor fixpoint, beam recomputed
    * from ALL visited), the same left-to-right double dot and HALF_UP
    * 6-decimal rounding — so HnswDistSpec can pin bit-equality between
    * the distributed and driver-side answers. No Spark calls inside:
    * safe on executors. */
  private[graft] def serveLocal(img: IndexImage, queryId: Long,
      ef: Int = 16, k: Int = 10, hopCap: Int = 32,
      width: Int = 4, exclude: Set[Long] = Set.empty): Seq[(Long, Double)] = {
    val q = img.vecs.getOrElse(queryId, (Array.empty[Float], 0.0))
    // a query id with no corpus vector serves empty (a skipped row in
    // a batch job), never a page of -1-scored noise
    if (q._1.isEmpty || q._2 == 0) return Seq.empty
    serveVec(img, q._1, q._2, queryId, ef, k, hopCap, width, exclude)
  }

  /** [[serveLocal]] for an EXTERNAL query vector (one not in the
    * corpus — a freshly embedded search string): same descent+beam,
    * `selfId` is the corpus id to exclude from results (-1 = none).
    * `exclude` follows [[Ann.beamServeFrom]]'s tombstone rule exactly:
    * excluded ids stay NAVIGABLE (beam membership untouched) and are
    * filtered from the REPORTED top-k only. */
  private[graft] def serveVec(img: IndexImage, qv: Array[Float],
      qn: Double, selfId: Long, ef: Int = 16, k: Int = 10,
      hopCap: Int = 32, width: Int = 4,
      exclude: Set[Long] = Set.empty): Seq[(Long, Double)] = {
    // an empty image (an unpopulated shard segment) serves no rows —
    // the -1 no-entry sentinel must never surface as a scored answer
    if (qv.isEmpty || qn == 0 || img.vecs.isEmpty) return Seq.empty
    val memo = scala.collection.mutable.Map.empty[Long, Double]
    def sc(id: Long): Double = memo.getOrElseUpdate(id, {
      val (v, nrm) = img.vecs.getOrElse(id, (Array.empty[Float], 0.0))
      if (v.isEmpty || nrm == 0) -1.0
      else DotProduct.score(v, nrm, qv, qn)
    })
    def top(ids: Iterable[Long]): Seq[Long] = ids.toSeq.distinct
      .filter(_ != selfId)
      .sortBy(id => (-sc(id), id)).take(width)
    def nbrs(l: Int, id: Long): Array[Long] =
      img.adj.getOrElse(l, Map.empty).getOrElse(id, Array.empty)
    var frontier: Seq[Long] =
      top(if (img.topIds.nonEmpty) img.topIds.toSeq else Seq(img.entry))
    var l = img.maxLevel
    while (l >= 1) {
      var moved = true
      while (moved) {
        val expanded = top(frontier ++ frontier.flatMap(nbrs(l, _)))
        moved = expanded != frontier
        frontier = expanded
      }
      l -= 1
    }
    val entries = if (frontier.nonEmpty) frontier else Seq(img.entry)
    beamSearch(entries, nbrs(0, _), sc, selfId, ef, hopCap, k, exclude)
  }

  /** The layer-0 beam of [[serveVec]] and of [[Ann.qGraphSearch]]'s
    * in-process arm, step for step [[Ann.beamServeFrom]]'s loop: score
    * the entries, expand the beam's neighbours hop by hop, score the
    * fresh ones, recompute the beam as the best `width` of ALL visited
    * (`selfId` excluded), stop at `hops` or when no fresh node appears
    * (a fixpoint), and report the top `k` visited by score desc, id asc,
    * without `selfId` and `exclude` (tombstones stay navigable). */
  private[graft] def beamSearch(entries: Seq[Long], nbrs: Long => Array[Long],
      sc: Long => Double, selfId: Long, width: Int, hops: Int, k: Int,
      exclude: Set[Long] = Set.empty): Seq[(Long, Double)] = {
    var visited: Map[Long, Double] =
      entries.distinct.map(id => id -> sc(id)).toMap
    var beam: Seq[Long] = entries.distinct
    var hop = 0
    var done = false
    while (hop < hops && !done) {
      val out = beam.flatMap(nbrs(_)).distinct
      val fresh = out.filterNot(visited.contains)
      if (fresh.isEmpty) done = true
      else visited = visited ++ fresh.map(id => id -> sc(id))
      beam = visited.toSeq.filter(_._1 != selfId)
        .sortBy { case (id, s) => (-s, id) }.take(width).map(_._1)
      hop += 1
    }
    visited.toSeq
      .filter { case (id, _) => id != selfId && !exclude.contains(id) }
      .sortBy { case (id, s) => (-s, id) }.take(k)
  }

  /** DISTRIBUTED batch serving: broadcast the index image once, then
    * `mapPartitions` over an arbitrarily large query table — each
    * executor serves its query partition against its local image with
    * zero per-query Spark round-trips. This is the 1000-executor
    * serving shape: the query axis (the 100 TB axis — billions of
    * lookups in a mining/dedup job) is embarrassingly parallel, the
    * index axis is bounded by the image gate documented on
    * [[IndexImage]]. The driver-side [[Searcher]] remains the
    * low-latency single-query path; this is the throughput path. */
  def serveDistributed(spark: SparkSession, dir: String, idx: HnswIndex,
      queries: DataFrame, ef: Int = 16, k: Int = 10): DataFrame = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(imageOf(spark, dir, idx))
    queries.select(col("query_id").cast("long")).as[Long]
      .mapPartitions { it =>
        it.flatMap { qid =>
          serveLocal(bc.value, qid, ef, k).zipWithIndex.map {
            case ((id, s), i) => (qid, (i + 1).toLong, id, s)
          }
        }
      }
      .toDF("query_id", "rank", "vec_id", "score")
  }

  /** [[serveDistributed]] for EXTERNAL query vectors — rows of
    * `(query_id, qv)` instead of corpus ids; the broadcast is
    * caller-held so a long-lived consumer (the streaming serve, a
    * multi-batch job) pays the image ship exactly once. A row may
    * carry an optional `self_id` column: the corpus id [[serveVec]]
    * excludes as the query's OWN row — self-exclusion affects the
    * beam's frontier/membership, not just reporting, so a caller
    * whose queries are corpus members (the sharded query-table serve)
    * threads the id through to navigate identically to the
    * corpus-id serves; absent column = -1 (a genuinely external
    * vector). */
  def serveVecsDistributed(spark: SparkSession,
      bc: org.apache.spark.broadcast.Broadcast[IndexImage],
      queries: DataFrame, ef: Int = 16, k: Int = 10): DataFrame = {
    import spark.implicits._
    val withSelf =
      if (queries.columns.contains("self_id")) queries
      else queries.withColumn("self_id", lit(-1L))
    withSelf.select(col("query_id").cast("long"),
        col("qv").cast("array<float>"), col("self_id").cast("long"))
      .as[(Long, Array[Float], Long)]
      .mapPartitions { it =>
        it.flatMap { case (qid, qv, selfId) =>
          var s = 0.0
          var i = 0
          while (i < qv.length) { s += qv(i).toDouble * qv(i).toDouble; i += 1 }
          serveVec(bc.value, qv, math.sqrt(s), selfId = selfId, ef, k)
            .zipWithIndex.map {
              case ((id, sc), r) => (qid, (r + 1).toLong, id, sc)
            }
        }
      }
      .toDF("query_id", "rank", "vec_id", "score")
  }

  /** The distributed serve as a registry row: 16 queries over 4
    * partitions, top-5 each — same output shape as [[qHnswBatch]]
    * (whose driver-side answers HnswDistSpec pins it against). Golden
    * oracle like every trained-graph serve. */
  def qHnswServeDist(spark: SparkSession, dir: String): DataFrame = {
    val qs = spark.range(16).toDF("query_id").repartition(4)
    serveDistributed(spark, dir, indexFor(spark, dir), qs, ef = 16, k = 5)
      .orderBy("query_id", "rank")
  }

  /** COMPACT (reseal) the layered index — the graph lifecycle's
    * terminal step and [[Ann.resealWithTombstones]]'s twin: rebuild
    * the hierarchy over the LIVE corpus, i.e. the full table (the
    * delta segment folded in — those vectors become navigable graph
    * members instead of a brute-force arm) anti-joined against the
    * tombstone table (deleted vectors become physically absent from
    * `levels` and every per-layer edge list, not merely excluded at
    * report time — the Lucene merge-drops-deletes rule). The rebuild
    * IS the cost model: HNSW has no cheap distributed in-place
    * delete/insert (every mutation touches neighbor lists across
    * layers), so production graph stores amortize exactly this way —
    * serve sealed+delta+tombstones between compactions, then one
    * distributed re-train (the unchanged id-layout-free builders)
    * swaps in a fresh artifact. The new index lands under its own
    * directory and the handle swap is atomic by construction
    * ([[graft.model.Artifacts]] publish discipline). */
  def compactIndex(spark: SparkSession, dir: String,
      tombstones: Option[DataFrame], outPath: String): HnswIndex = {
    val live = tombstones.foldLeft(Tables.embeddings(spark, dir))(
      (e, t) => e.join(t.select("vec_id"), Seq("vec_id"), "left_anti"))
    live.write.mode("overwrite").parquet(s"$outPath/embeddings.parquet")
    buildIndex(spark, outPath, s"$outPath/index")
  }

  /** One compacted corpus+index per (session, source dir), under the
    * registry's planted tombstone set (`vec_id ≡ 1 mod 5` — the same
    * deletes [[qHnswTombstone]] serves AROUND, so the two rows bracket
    * the lifecycle: before-compaction exclude-at-serve vs
    * after-compaction physical absence). */
  private val compactedDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private[graft] def compactedFor(spark: SparkSession,
      dir: String): (String, HnswIndex) = {
    val p = compactedDirs.computeIfAbsent(dir, { d =>
      val out = java.nio.file.Files
        .createTempDirectory("graft_hnsw_compact").toString
      val tomb = Tables.embeddings(spark, d)
        .select("vec_id").filter(col("vec_id") % 5 === 1)
      compactIndex(spark, d, Some(tomb), out)
      out
    })
    (p, openIndex(spark, s"$p/index"))
  }

  /** Post-compaction serve as a registry row: query 0's top-10 over
    * the compacted index — no delta arm (everything is indexed), no
    * exclude set (deletes are physically gone). Golden oracle like
    * every trained-graph serve; HnswSpec pins the physical-removal and
    * delta-fold invariants plus a recall floor vs the exact live
    * top-10. */
  def qHnswCompact(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (live, idx) = compactedFor(spark, dir)
    serveLocal(imageFor(spark, live, idx), 0L, ef = 32)
      .toDF("vec_id", "score")
      .orderBy(desc("score"), col("vec_id"))
  }

  /** Bytes of [[IndexImage]] per indexed vector at dimension `dim`:
    * (2k+1)·8 adjacency (k out-edges symmetrized, plus the id) +
    * 4·dim float payload — the budget formula the image Scaladoc
    * quotes, held in one place so the shard math can't drift from it. */
  private[graft] def imageBytesPerVec(dim: Int): Long =
    (2L * IndexDegree + 1L) * 8L + 4L * dim

  /** Default serving-node budget for one [[IndexImage]]: 4 GiB — an
    * executor-heap share on a commodity serving node (the SCALE.md
    * image math: a 64-dim 10M-vector segment images at ~4 GB). A
    * deployment overrides it per call; the point is that the REGIME
    * (replicate vs partition) is derived from this budget and the
    * corpus, never hardcoded by the caller. */
  val DefaultNodeBudget: Long = 4L << 30

  /** Corpus-derived segment count for a serving-node memory budget:
    * the smallest S with N·bytesPerVec ≤ S·budget. This is the gate
    * the [[IndexImage]] doc promises — a corpus whose image outgrows
    * one node serves as per-segment images, never a bigger single
    * image and never a pinned S. */
  private[graft] def shardCountFor(n: Long, dim: Int,
      budgetBytes: Long): Int = {
    val total = n * imageBytesPerVec(dim)
    math.max(1L, (total + budgetBytes - 1L) / budgetBytes).toInt
  }

  /** One sharded corpus layout per (session, source dir, S): shard i
    * holds `vec_id ≡ i (mod S)` as its own embeddings table, so every
    * id-layout-free builder (levels, NN-Descent, seed edges) runs over
    * each segment unchanged — the sealed-dir discipline, S ways. */
  private val shardLayouts =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[String]]()

  private[graft] def shardDirsFor(spark: SparkSession, dir: String,
      s: Int): Seq[String] =
    shardLayouts.computeIfAbsent(s"$dir#$s", { _ =>
      val base = java.nio.file.Files
        .createTempDirectory("graft_hnsw_shards").toString
      // ONE pass over the corpus: the partitioned write fans every
      // row to its residue-class directory inside the same scan —
      // never S filter-scans of the (100 TB) embeddings table. The
      // per-shard corpus dirs are then driver-side directory renames
      // of the partition dirs, zero data movement.
      Tables.embeddings(spark, dir)
        .withColumn("shard", pmod(col("vec_id"), lit(s.toLong)))
        .write.partitionBy("shard").mode("overwrite")
        .parquet(s"$base/all")
      (0 until s).map { i =>
        val p = s"$base/shard$i"
        java.nio.file.Files.createDirectories(
          java.nio.file.Paths.get(p))
        val part = java.nio.file.Paths.get(s"$base/all", s"shard=$i")
        if (java.nio.file.Files.exists(part))
          java.nio.file.Files.move(part,
            java.nio.file.Paths.get(p, "embeddings.parquet"))
        else // an empty residue class still needs a readable table
          Tables.embeddings(spark, dir).filter(lit(false))
            .write.parquet(s"$p/embeddings.parquet")
        p
      }
    })

  /** SCATTER-GATHER serving over a PARTITIONED index — the path the
    * [[IndexImage]] gate promises for a corpus whose image outgrows
    * one serving node. Each of S segments carries its own layered
    * index and image; a query fans out to ALL segments (per-segment
    * descent+beam over the segment's own graph), and the per-segment
    * answers — EXACT rescored cosines, the same HALF_UP 6-decimal
    * score every serve here reports — merge in a k-bounded aggregate.
    * The execution shape is the core's bounded-batch stage
    * ([[batchCands]]): one task per segment image, the bounded query
    * batch broadcast once, the gather [[shardedGather]]. */
  def serveShardedDistributed(spark: SparkSession, dir: String,
      queries: DataFrame, shards: Int, ef: Int = 16,
      k: Int = 10, exclude: Set[Long] = Set.empty,
      budgetBytes: Long = DefaultNodeBudget): DataFrame =
    shardedGather(spark, k,
      shardedCands(spark, dir, dir, queries, shards, ef, k, exclude,
        budgetBytes))

  // ─────────────────────── the scatter-gather core ───────────────────────
  //
  // Every sharded and LSM serve is composed from the same five stages:
  // blob staging, the query-vector lookup, one of the two candidate
  // stages (bounded batch or query table), and the exact delta arm —
  // all feeding the one k-bounded gather. Every candidate runs
  // [[serveVec]] with selfId = the query's own id, so the serves differ
  // only in which segments, queries and exclude sets they hand in.

  /** Blob staging: build every missing segment index CONCURRENTLY on a
    * core-sized [[graft.model.Pools]] pool (Spark-arm builds are
    * separate jobs a FAIR scheduler interleaves, in-process builds run
    * on the pool threads; sequential submission would serialize S
    * one-time builds, and a failed build cancels the queued ones), then
    * stage ONE image at a time ([[imageBlobFor]]: materialize →
    * serialize → drop) and return the blob PATHS in `dirs` order. While
    * segments build, each pool thread may hold one in-process layer on
    * the driver (at most [[LocalMaxRows]] vectors, [[fitsInProcess]]);
    * while they stage, peak driver residency is one budget-sized image
    * regardless of S. Each task deserializes its own segment via
    * [[ImageBlobCache]]. Warm
    * calls skip the build step: [[indexFor]] memoizes only the index
    * path, so re-invoking it per serve would still pay openIndex's
    * small jobs per segment. */
  private[graft] def stageBlobs(spark: SparkSession, dirs: Seq[String],
      budgetBytes: Long = DefaultNodeBudget): Seq[String] = {
    val toBuild = dirs.filterNot(hasImageBlob(_, budgetBytes))
    graft.model.Pools.mapConcurrent(toBuild,
      math.min(toBuild.size, Runtime.getRuntime.availableProcessors))(
      indexFor(spark, _))
    dirs.map(d => imageBlobFor(spark, d, budgetBytes))
  }

  /** Query-vector lookup: the rows of `dir` whose ids `queries` names,
    * as `(query_id, qv, qn)` — the prenormed query side of both
    * candidate stages and of the delta arm. */
  private[graft] def lookupQueryVecs(spark: SparkSession, dir: String,
      queries: DataFrame): DataFrame =
    Search.embNormed(spark, dir)
      .join(queries.select(col("query_id").cast("long").as("vec_id")),
        "vec_id")
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("nrm").as("qn"))

  private[graft] def collectQueryVecs(
      qv: DataFrame): Array[(Long, Array[Float], Double)] =
    qv.collect().map(r =>
      (r.getLong(0), r.getSeq[Float](1).toArray, r.getDouble(2)))

  /** One segment of a bounded-batch scatter: its staged blob, the
    * query ids routed to it (None = every query) and the ids its
    * report excludes. */
  private[graft] final case class SegTask(blob: String,
      want: Option[Set[Long]], exclude: Set[Long])

  /** Bounded-batch candidate stage: each segment image ships to
    * EXACTLY ONE task (`parallelize(segments)` — never a broadcast of
    * all S images, which would re-create the monolithic memory bill),
    * the bounded query batch broadcasts once, and each task serves its
    * routed queries. Exclusion follows the family tombstone rule
    * ([[serveVec]]'s `exclude`): navigable inside the beam, filtered
    * from the segment's REPORT, so each segment backfills its own
    * top-k and the gather merges only live candidates. Emits raw
    * `(query_id, vec_id, score)` rows for [[shardedGather]]. */
  private[graft] def batchCands(spark: SparkSession, segs: Seq[SegTask],
      qrows: Array[(Long, Array[Float], Double)], ef: Int,
      k: Int): DataFrame = {
    import spark.implicits._
    val qbc = spark.sparkContext.broadcast(qrows)
    spark.sparkContext.parallelize(segs, math.max(segs.size, 1))
      .flatMap { seg =>
        val img = ImageBlobCache.get(seg.blob)
        qbc.value.iterator
          .filter(q => seg.want.forall(_.contains(q._1)))
          .flatMap { case (qid, qv, qn) =>
            serveVec(img, qv, qn, selfId = qid, ef = ef, k = k,
              exclude = seg.exclude).map { case (id, sc) => (qid, id, sc) }
          }
      }.toDF("query_id", "vec_id", "score")
  }

  /** Executor-side routing for the query-table stage: the centroid
    * table (segment-count-sized, never an image), the adaptive rule's
    * cap and margin ([[routeCellsAdaptive]]), and each cell's segment
    * indexes (a budget-split cell serves all its sub-segments). */
  private[graft] final case class TableRoute(
      cents: Array[(Long, Array[Double], Double)], maxRoutes: Int,
      margin: Double, segsOf: Map[Long, Seq[Int]])

  /** The query-dimension sub-key: a mixed hash of the query id, NOT
    * `qid mod P` — sequential id ranges would land whole strides in
    * one sub-task. Deterministic (pure function of the id), so the
    * grouping never changes any answer — only task granularity. */
  private def qSub(qid: Long, p: Int): Int =
    (((qid * 0x9E3779B97F4A7C15L) >>> 33) % p).toInt

  /** Query-table candidate stage, for an UNBOUNDED query table: the
    * query rows fan out to their segments (all of them, or the routed
    * set computed ON THE EXECUTORS against the broadcast centroid
    * table), shuffle on `(segment, hash(query_id) mod P)`, and each
    * group serves against its segment's image loaded from the blob
    * (per-partition init via [[ImageBlobCache]], which de-duplicates
    * the image per executor — never a broadcast of all S). All S
    * segments serve CONCURRENTLY, and the query dimension splits
    * across P tasks per segment instead of serializing behind one (a
    * hot routed cell would otherwise be the straggler wall). P = 0
    * derives `defaultParallelism / S`, floored at 1. `exclude(i)` is
    * segment i's report exclusion (empty = none). Emits
    * `(__seg, query_id, vec_id, score)`, `__seg` the segment's index
    * in `blobs`; nothing query-scale ever lands on the driver. */
  private[graft] def tableCands(spark: SparkSession, blobs: Seq[String],
      qv: DataFrame, ef: Int, k: Int, qParts: Int,
      route: Option[TableRoute] = None,
      exclude: Seq[Set[Long]] = Seq.empty): DataFrame = {
    import spark.implicits._
    val n = blobs.size
    val p = math.max(1,
      if (qParts > 0) qParts
      else spark.sparkContext.defaultParallelism / math.max(n, 1))
    val routeBc = route.map(spark.sparkContext.broadcast(_))
    val blobsArr = blobs.toArray
    val excl = exclude.toArray
    qv.select(col("query_id").cast("long"), col("qv").cast("array<float>"),
        col("qn"))
      .as[(Long, Array[Float], Double)]
      .flatMap { case (qid, emb, qn) =>
        val sis: Iterator[Int] = routeBc.fold((0 until n).iterator) { bc =>
          val r = bc.value
          routeCellsAdaptive(r.cents, emb, qn, r.maxRoutes, r.margin)
            .iterator.flatMap(c => r.segsOf.getOrElse(c, Nil))
        }
        sis.map(si => (si, qid, emb, qn))
      }
      .groupByKey(t => (t._1, qSub(t._2, p)))
      .flatMapGroups { (key, it) =>
        val img = ImageBlobCache.get(blobsArr(key._1))
        val ex = if (excl.isEmpty) Set.empty[Long] else excl(key._1)
        it.flatMap { case (_, qid, emb, qn) =>
          serveVec(img, emb, qn, selfId = qid, ef = ef, k = k,
            exclude = ex).map { case (id, sc) => (key._1, qid, id, sc) }
        }
      }
      .toDF("__seg", "query_id", "vec_id", "score")
  }

  /** An ingest delta's `(vec_id, embedding)` rows, prenormed for
    * [[deltaCands]]. */
  private[graft] def normedRows(delta: DataFrame): DataFrame =
    delta.select(col("vec_id"),
        col("embedding").cast("array<float>").as("embedding"))
      .withColumn("nrm", l2norm(col("embedding")))

  /** Exact delta arm: every `(vec_id, embedding, nrm)` row scored
    * against every `(query_id, qv, qn)` query with the same rounded
    * prenormed cosine every serve reports, the query's own id
    * excluded. The delta is bounded by ingest rate between reseals,
    * never corpus size, so a delta member of the true top-k is found
    * exactly and can never be displaced in the gather. The caller
    * wraps the bounded side in `broadcast(...)` — the query batch on
    * the bounded serves, the ingest delta on the query-table serve —
    * so each plan keeps its build side. */
  private[graft] def deltaCands(rows: DataFrame,
      queries: DataFrame): DataFrame =
    rows.crossJoin(queries)
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("score",
        round(cosinePrenormed(dot(col("embedding"), col("qv")),
          col("nrm"), col("qn")), 6))
      .select("query_id", "vec_id", "score")

  /** The gather: one bounded TopK aggregate over candidate rows —
    * `groupBy(query_id)` + the bounded [[graft.functions.TopKAggregator]]
    * udaf, k·(arms) rows per query into the shuffle, never a
    * corpus-scale window. Merge order cannot affect the answer: the
    * bounded buffer keeps the global k-best under the total
    * (score desc, id asc) order, so arms union freely before it. */
  private[graft] def shardedGather(spark: SparkSession, k: Int,
      cands: DataFrame): DataFrame =
    cands.groupBy("query_id")
      .agg(graft.functions.TopKAggregator.topKUdaf(k)(
        col("vec_id"), col("score")).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
        col("col._1").as("vec_id"), col("col._2").as("score"))

  // ─────────────────────────── sharded serves ───────────────────────────

  /** Every segment's image in the session cache, built concurrently —
    * the driver-resident form [[graft.api.IndexPipeline]] serves from
    * (the serves below stage blobs instead, [[stageBlobs]]). Each build
    * reads only its own segment dir and the cache is keyed per dir, so
    * parallel submission cannot change any answer. */
  private[graft] def segmentImages(spark: SparkSession,
      dirs: Seq[String],
      budgetBytes: Long = DefaultNodeBudget): Seq[IndexImage] = {
    import scala.collection.parallel.CollectionConverters._
    dirs.par.map(d => imageFor(spark, d, budgetBytes)).seq
  }

  /** The residue layout's bounded-batch scatter: `corpusDir` is the
    * corpus the S segment indexes cover; `queryDir` is where the query
    * VECTORS live — they differ in the sealed+delta composition, where
    * a freshly-ingested (unsealed) vector still queries the sealed
    * segments. */
  private def shardedCands(spark: SparkSession, corpusDir: String,
      queryDir: String, queries: DataFrame, shards: Int, ef: Int,
      k: Int, exclude: Set[Long], budgetBytes: Long): DataFrame = {
    val blobs = stageBlobs(spark, shardDirsFor(spark, corpusDir, shards),
      budgetBytes)
    batchCands(spark, blobs.map(SegTask(_, None, exclude)),
      collectQueryVecs(lookupQueryVecs(spark, queryDir, queries)), ef, k)
  }

  /** The full lifecycle on the PARTITIONED regime — sealed+delta (and
    * tombstones) composed with the sharded serve, completing the
    * matrix whose monolithic row is [[qHnswDelta]]/[[qHnswTombstone]]:
    * the SEALED corpus (ids below [[Ann.deltaCutoff]]'s boundary)
    * serves through S budget-derived segment images; vectors that
    * arrived since form the unindexed delta, scanned by the exact
    * delta arm; both arms' candidates union into ONE k-bounded gather.
    * Tombstones apply the family rule on both arms: navigable in every
    * segment's beam, anti-joined from the delta scan, never reported. */
  def serveShardedDelta(spark: SparkSession, dir: String,
      queries: DataFrame, shards: Int, ef: Int = 16, k: Int = 10,
      tombstones: Option[DataFrame] = None,
      budgetBytes: Long = DefaultNodeBudget): DataFrame = {
    import spark.implicits._
    val e = Search.embNormed(spark, dir)
    val cut = Ann.deltaCutoff(e)
    val exclude: Set[Long] = tombstones.fold(Set.empty[Long])(
      _.as[Long].collect().toSet)
    val sealedCands = shardedCands(spark, sealedDirFor(spark, dir), dir,
      queries, shards, ef, k, exclude, budgetBytes)
    val deltaLive = tombstones.foldLeft(
      e.crossJoin(broadcast(cut)).filter(col("vec_id") >= col("cutoff")))(
      (d, t) => d.join(t, Seq("vec_id"), "left_anti"))
    shardedGather(spark, k, sealedCands.unionByName(
      deltaCands(deltaLive, broadcast(lookupQueryVecs(spark, dir, queries)))))
  }

  /** [[serveShardedDelta]] where the delta is an EXPLICIT ingest table
    * of `(vec_id, embedding)` rows rather than the id-cutoff
    * convention — the serve the STREAMING lifecycle composes with
    * ([[graft.streaming.StreamingShardedServe]]). Queries are corpus
    * ids of the SEALED side (the registry convention). */
  def serveShardedIngestDelta(spark: SparkSession, sealedDir: String,
      delta: DataFrame, queries: DataFrame, shards: Int, ef: Int = 16,
      k: Int = 10, budgetBytes: Long = DefaultNodeBudget): DataFrame = {
    // a vec_id present in BOTH the sealed corpus and the ingest delta
    // (a corrected/re-delivered vector) must rank ONCE, by its delta
    // row — the fresher truth; the bounded TopK gather has no per-id
    // dedup, so the sealed arm's candidate is dropped here (the delta
    // is ingest-bounded, so the anti-join broadcasts)
    val sealedCands = shardedCands(spark, sealedDir, sealedDir, queries,
      shards, ef, k, Set.empty, budgetBytes)
      .join(broadcast(delta.select("vec_id")), Seq("vec_id"),
        "left_anti")
    shardedGather(spark, k, sealedCands.unionByName(deltaCands(
      normedRows(delta),
      broadcast(lookupQueryVecs(spark, sealedDir, queries)))))
  }

  /** The sharded regime's RESEAL ([[resealIndex]]'s partitioned twin):
    * re-derive the segment count from the CURRENT corpus and (re)build
    * the layout + images at the new S. S is a FUNCTION of corpus size
    * and node budget — a corpus that grew since the last layout
    * reseals into MORE segments, never a bigger per-node image and
    * never a pinned S; this is the operation that keeps the
    * [[IndexImage]] budget gate true across ingest. Returns the
    * derived S and the segment dirs, ready to serve: indexes built and
    * blobs staged ([[stageBlobs]]), NOT S images resident in the
    * session cache. */
  def resealSharded(spark: SparkSession, dir: String,
      budgetBytes: Long = DefaultNodeBudget): (Int, Seq[String]) = {
    val stats = Search.embNormed(spark, dir)
      .agg(count(lit(1)), first(size(col("embedding")))).head
    val n = stats.getLong(0)
    val dim = if (stats.isNullAt(1)) 0 else stats.getInt(1)
    val s = shardCountFor(n, dim, budgetBytes)
    val dirs = shardDirsFor(spark, dir, s)
    stageBlobs(spark, dirs, budgetBytes)
    (s, dirs)
  }

  /** Session registry of SERIALIZED segment images on disk
    * (`dir#budget` → blob path): the artifact every sharded serve
    * ships to executors by PATH instead of broadcast. Written by the
    * driver ONE image at a time (materialize → serialize → drop;
    * nothing enters the session image cache), so peak driver memory
    * stays one budget-sized image regardless of S. */
  private val imageBlobs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private[graft] def imageBlobFor(spark: SparkSession, dir: String,
      budgetBytes: Long = DefaultNodeBudget): String =
    imageBlobs.computeIfAbsent(s"$dir#$budgetBytes", { _ =>
      val img = imageOf(spark, dir, indexFor(spark, dir), budgetBytes)
      val p = new org.apache.hadoop.fs.Path(s"$dir/image.blob")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val out = new java.io.ObjectOutputStream(
        new java.io.BufferedOutputStream(fs.create(p, true)))
      try out.writeObject(img) finally out.close()
      p.toString
    })

  /** Whether `dir`'s image blob is already staged — [[stageBlobs]]
    * skips the parallel pre-build step on warm calls. */
  private[graft] def hasImageBlob(dir: String,
      budgetBytes: Long = DefaultNodeBudget): Boolean =
    imageBlobs.containsKey(s"$dir#$budgetBytes")

  /** EXECUTOR-side image cache: each task deserializes ITS segment's
    * blob once per JVM (per-partition init — the
    * mapPartitions-with-heavy-setup pattern, not a broadcast of all S
    * images to every node). Residency per executor = the DISTINCT
    * segments that executor serves — with segment-pinned groups and
    * ≥S executors that is one image; a shared local-mode JVM holds up
    * to S (probes census and [[clear]] it). */
  private[graft] object ImageBlobCache {
    private val cache =
      new java.util.concurrent.ConcurrentHashMap[String, IndexImage]()
    def get(path: String): IndexImage =
      cache.computeIfAbsent(path, { p =>
        val hp = new org.apache.hadoop.fs.Path(p)
        val fs = hp.getFileSystem(
          new org.apache.hadoop.conf.Configuration())
        val in = new java.io.ObjectInputStream(
          new java.io.BufferedInputStream(fs.open(hp))) {
          override def resolveClass(
              d: java.io.ObjectStreamClass): Class[_] =
            try Class.forName(d.getName, false,
              Thread.currentThread.getContextClassLoader)
            catch { case _: ClassNotFoundException => super.resolveClass(d) }
        }
        try in.readObject().asInstanceOf[IndexImage] finally in.close()
      })
    def census: (Int, Long) = {
      import scala.jdk.CollectionConverters._
      val imgs = cache.values.asScala.toSeq
      (imgs.size, imgs.map { img =>
        val dim = img.vecs.headOption.map(_._2._1.length).getOrElse(0)
        img.vecs.size.toLong * imageBytesPerVec(dim)
      }.sum)
    }
    def clear(): Unit = cache.clear()
  }

  /** The remaining quadrant of the serving matrix: an UNBOUNDED query
    * table against a PARTITIONED index. [[serveShardedDistributed]]
    * broadcasts the bounded query batch; here the QUERY table is the
    * 100 TB axis, so the queries fan out ×S through the core's
    * query-table stage ([[tableCands]]) and all S segments serve
    * concurrently from their blobs. Shuffle cost: |Q|·S embedding
    * rows, paid once. Same per-candidate math and the same k-bounded
    * gather as the bounded-batch serve — HnswShardSpec pins the two
    * regimes bit-equal (ScaleProbe measured this fan-out 1.2–2.0×
    * faster than serving the S images one broadcast at a time, with
    * equal answers; SCALE.md round 11). */
  def serveShardedQueryTable(spark: SparkSession, dir: String,
      queries: DataFrame, shards: Int, ef: Int = 16, k: Int = 10,
      budgetBytes: Long = DefaultNodeBudget, qParts: Int = 0): DataFrame =
    shardedGather(spark, k, tableCands(spark,
      stageBlobs(spark, shardDirsFor(spark, dir, shards), budgetBytes),
      lookupQueryVecs(spark, dir, queries), ef, k, qParts))

  /** The filtered serves' shared post-filter step — the family's
    * post-filter-with-widened-pool rule: each segment's beam NAVIGATES
    * its unfiltered graph (filtering during traversal disconnects it)
    * and reports a selectivity-derived POOL (k/sel × 2, never a pinned
    * constant — each segment holds ~1/S of the label's members, so the
    * full-depth per-segment pool is conservative by construction);
    * `cands(pool)` is either candidate stage at that report depth, and
    * the predicate applies to the pooled EXACT rescored candidates
    * before the k-bounded gather. Zero selectivity (empty corpus, or a
    * label no row carries) serves empty instead of deriving an absurd
    * pool or NPE-ing on the null aggregate. */
  private def filteredServe(spark: SparkSession, dir: String,
      labelCol: String, labelVal: Long, ef: Int, k: Int)(
      cands: Int => DataFrame): DataFrame = {
    val e = Search.embNormed(spark, dir)
    val selRow = e.agg(
      sum(when(col(labelCol) === labelVal, 1L).otherwise(0L)).cast("double")
        / count(lit(1))).head
    val sel = if (selRow.isNullAt(0)) 0.0 else selRow.getDouble(0)
    if (sel == 0.0) {
      import spark.implicits._
      return shardedGather(spark, k,
        Seq.empty[(Long, Long, Double)]
          .toDF("query_id", "vec_id", "score"))
    }
    val pool = math.max(ef, math.ceil(k / sel * 2).toInt)
    shardedGather(spark, k, cands(pool).join(
      e.filter(col(labelCol) === labelVal).select("vec_id"), "vec_id"))
  }

  /** Metadata-FILTERED serving on the PARTITIONED regime — the last
    * cell of the serving matrix ([[qHnswFiltered]] × sharded): every
    * 100 TB retrieval job carries a predicate (the reference's search
    * always takes an optional filter, `adapters/types.ts:66-72`), and
    * a corpus too big for one node still has to honor it.
    * [[filteredServe]] over the bounded-batch stage. HnswShardSpec pins
    * fill (k live matches per query), predicate purity, and the recall
    * floor vs the exact filtered top-k. */
  def serveShardedFiltered(spark: SparkSession, dir: String,
      queries: DataFrame, shards: Int, labelCol: String, labelVal: Long,
      ef: Int = 64, k: Int = 10,
      budgetBytes: Long = DefaultNodeBudget): DataFrame =
    filteredServe(spark, dir, labelCol, labelVal, ef, k)(pool =>
      shardedCands(spark, dir, dir, queries, shards, ef, pool, Set.empty,
        budgetBytes))

  /** FILTERED serving × unbounded query table: [[filteredServe]] over
    * the query-table stage. Same answers as [[serveShardedFiltered]]
    * over the same queries — HnswShardSpec pins the equality. */
  def serveShardedQueryTableFiltered(spark: SparkSession,
      dir: String, queries: DataFrame, shards: Int, labelCol: String,
      labelVal: Long, ef: Int = 64, k: Int = 10,
      budgetBytes: Long = DefaultNodeBudget, qParts: Int = 0): DataFrame =
    filteredServe(spark, dir, labelCol, labelVal, ef, k)(pool =>
      tableCands(spark,
        stageBlobs(spark, shardDirsFor(spark, dir, shards), budgetBytes),
        lookupQueryVecs(spark, dir, queries), ef, pool, qParts))

  /** Filtered+sharded serving as a registry row: the planted
    * 4-segment layout, 8 queries, label ≡ 3 predicate, top-5 — the
    * [[qHnswFiltered]] contract on the partitioned regime. Golden
    * oracle like every trained-graph serve. */
  def qHnswShardedFiltered(spark: SparkSession, dir: String): DataFrame =
    serveShardedFiltered(spark, dir, spark.range(8).toDF("query_id"),
      shards = 4, labelCol = "label", labelVal = 3L, ef = 64, k = 5)
      .orderBy("query_id", "rank")

  // ───────────────── centroid-ROUTED clustered sharding ─────────────────

  /** One CLUSTERED corpus layout per (session, dir, S, iters): segment
    * i is coarse spherical-k-means CELL i ([[Ann.refineCodebook]] —
    * deterministic `vec_id < S` bootstrap, exact fixed-point means,
    * `iters` Lloyd rounds) instead of the `vec_id mod S` residue class
    * [[shardDirsFor]] lays out. A hash layout makes every segment an
    * interchangeable random sample of the corpus — ideal for load
    * balance, but it forces EVERY query to fan out to ALL S segments
    * because no segment is more likely than another to hold the
    * answer. A clustered layout gives each segment a geometric
    * identity (its centroid), so a query can be ROUTED to the R cells
    * most aligned with it and skip the rest — coarse quantization at
    * SEGMENT granularity (the IVF idea one level up, the design of the
    * published memory–disk hybrid ANN systems), and the difference
    * between per-query serve cost O(S) and O(R): at 100 TB under the
    * 4 GiB image budget S is in the THOUSANDS while R stays 2–8, so
    * full fan-out wastes >99% of the scatter.
    *
    * Layout cost: the codebook refinement's `iters` corpus scans, one
    * cell-count aggregate, and ONE partitioned write (the
    * [[shardDirsFor]] single-pass discipline — never S filter-scans);
    * the per-cell dirs are driver-side renames of the partition dirs.
    *
    * BALANCE: k-means cells have no size guarantee — real corpora have
    * hot regions, and a cell whose image exceeds the node budget would
    * trip [[imageOf]]'s gate as a hard failure. A cell past the
    * per-segment vector cap therefore SPLITS into round-robin
    * sub-segments that share the cell's centroid and geometric
    * identity: routing is unchanged (a routed cell serves ALL its
    * sub-segments — they are interchangeable samples of the same
    * region, the [[shardDirsFor]] argument one level down), and the
    * round-robin split is EXACTLY balanced (±1 row) independent of
    * the id distribution — a residue split is not (strided or
    * per-source id ranges correlate with geometry) — so every
    * sub-segment's image is budget-true by construction. Returns the
    * cell → sub-segment-dirs map (every cell present, possibly with
    * one empty dir — k-means keeps an empty cell's previous centroid)
    * and the collected centroid table (S·d doubles —
    * segment-count-sized, never corpus-sized). */
  private val clusterLayouts = new java.util.concurrent.ConcurrentHashMap[
    String,
    (Map[Long, Seq[String]], Array[(Long, Array[Double], Double)])]()

  private[graft] def clusterLayoutFor(spark: SparkSession, dir: String,
      s: Int, iters: Int = 4,
      budgetBytes: Long = DefaultNodeBudget)
      : (Map[Long, Seq[String]], Array[(Long, Array[Double], Double)]) =
    clusterLayouts.computeIfAbsent(s"$dir#$s#$iters#$budgetBytes", { _ =>
      import spark.implicits._
      val cents = Ann.refineCodebook(spark, dir, iters, cells = s)
      val e = Search.embNormed(spark, dir)
      // assignment feeds three consumers (parts, bucket prefixes, the
      // partitioned write) — one persisted computation, not three
      // corpus-scale re-scores
      val assign = Ann.cellAssign(e, cents).persist()
      val dimRow = e.select(size(col("embedding"))).head(1)
      val dim = dimRow.headOption.map(_.getInt(0)).getOrElse(0)
      val cap = math.max(1L, budgetBytes / imageBytesPerVec(dim))
      val parts: Map[Long, Int] = assign.groupBy("cell").count()
        .as[(Long, Long)].collect()
        .map { case (c, n) =>
          c -> math.max(1L, (n + cap - 1L) / cap).toInt
        }.toMap.withDefaultValue(1)
      val partsDf = parts.toSeq.toDF("cell", "parts")
      val base = java.nio.file.Files
        .createTempDirectory("graft_hnsw_cells").toString
      // sub-segment by EXACT round-robin, never by id residue or hash:
      // residues/hashes are distribution-independent only up to
      // binomial variance, and a skewed split could push one
      // sub-segment past the node cap and trip the image budget gate
      // as a hard failure (HnswRouteSpec plants a 120-cap hot cell
      // with 3-row slack). The round-robin is numbered TWO-LEVEL
      // (round 13 — the r12 single window partitioned by cell funneled
      // a hot cell's whole sort through one task at layout time):
      // rows hash into B coarse buckets, each (cell, bucket) numbers
      // its own rows in parallel, and the bucket's cumulative PREFIX
      // (a segment-count×B broadcast) offsets the rank — the composite
      // `prefix + rank − 1` is the row's exact position in the cell's
      // (bucket, vec_id) order, so `mod parts` is a true ±1-balanced
      // round-robin, deterministic (pure function of ids), with the
      // per-cell sort parallelized across B tasks.
      val bktB = 32
      val withBkt = assign
        .withColumn("bkt", pmod(hash(col("vec_id")), lit(bktB)))
      val wB = org.apache.spark.sql.expressions.Window
        .partitionBy("cell").orderBy("bkt")
      val prefixes = withBkt.groupBy("cell", "bkt")
        .agg(count(lit(1)).as("bn"))
        .withColumn("prefix", sum("bn").over(wB) - col("bn"))
        .select("cell", "bkt", "prefix")
      Tables.embeddings(spark, dir)
        .join(withBkt, "vec_id")
        .join(broadcast(partsDf), "cell")
        .join(broadcast(prefixes), Seq("cell", "bkt"))
        .withColumn("sub",
          pmod(col("prefix") + row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy("cell", "bkt").orderBy("vec_id")) - 1,
            col("parts")).cast("long"))
        .drop("parts", "bkt", "prefix")
        .write.partitionBy("cell", "sub").mode("overwrite")
        .parquet(s"$base/all")
      assign.unpersist(false)
      val dirs: Map[Long, Seq[String]] = (0 until s).map { i =>
        i.toLong -> (0 until parts(i.toLong)).map { j =>
          val p = s"$base/cell${i}_$j"
          java.nio.file.Files.createDirectories(
            java.nio.file.Paths.get(p))
          val part =
            java.nio.file.Paths.get(s"$base/all", s"cell=$i", s"sub=$j")
          if (java.nio.file.Files.exists(part))
            java.nio.file.Files.move(part,
              java.nio.file.Paths.get(p, "embeddings.parquet"))
          else // an empty (sub-)cell still needs a readable table
            Tables.embeddings(spark, dir).filter(lit(false))
              .write.parquet(s"$p/embeddings.parquet")
          p
        }
      }.toMap
      val centArr = cents.select("cell", "cv", "cn").collect()
        .map(r => (r.getLong(0),
          r.getSeq[Double](1).toArray, r.getDouble(2)))
        .sortBy(_._1)
      (dirs, centArr)
    })

  /** Cell scores for a query vector, best first: the same
    * left-to-right double dot, prenormed cosine, and HALF_UP 6-decimal
    * rounding [[Ann.cellAssign]] scores with, under the same
    * (csim desc, cell asc) order — so routing AGREES with assignment
    * by construction: a corpus vector's own cell is always its top-1
    * route, which is what makes R=1 routing well-defined. Driver- or
    * executor-side S·d work per query over the collected centroid
    * table. */
  private[graft] def cellScores(
      cents: Array[(Long, Array[Double], Double)], qv: Array[Float],
      qn: Double): Seq[(Long, Double)] =
    cents.map { case (cell, cv, cn) =>
      val csim =
        if (cn == 0 || qn == 0 || cv.isEmpty || qv.isEmpty) -1.0
        else {
          var s = 0.0
          var i = 0
          val n = math.min(cv.length, qv.length)
          while (i < n) { s += qv(i).toDouble * cv(i); i += 1 }
          BigDecimal(s / (qn * cn))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        }
      (cell, csim)
    }.sortBy { case (c, cs) => (-cs, c) }.toSeq

  /** ADAPTIVE routing — the one routing rule of the family: keep every
    * cell whose similarity is within `margin` of the best (at least
    * the top-1, at most `maxRoutes`). On clustered corpora the top-1
    * cell dominates and a confident query serves one cell; on
    * unstructured corpora the centroid scores bunch together and an
    * ambiguous query widens itself. Margin ≥ 2 (the cosine range)
    * degenerates to fixed-R routing at R = maxRoutes, margin = 0 to
    * confident-only top-1 (plus exact ties). HnswRouteSpec pins the
    * envelope and both degenerations. */
  private[graft] def routeCellsAdaptive(
      cents: Array[(Long, Array[Double], Double)], qv: Array[Float],
      qn: Double, maxRoutes: Int, margin: Double): Seq[Long] = {
    val ranked = cellScores(cents, qv, qn)
    if (ranked.isEmpty) return Seq.empty
    val best = ranked.head._2
    ranked.takeWhile(_._2 >= best - margin).take(maxRoutes).map(_._1)
  }

  /** ROUTED scatter-gather over the clustered layout — the bounded
    * query batch fans out to its routed cells ONLY, never all S:
    * [[serveShardedDistributed]]'s execution shape (the core's
    * bounded-batch stage, broadcast query batch, the exact k-bounded
    * gather) with the scatter trimmed to the union of the batch's
    * routes, so a bounded batch touches ≤ |Q|·maxRoutes segment images
    * no matter how large S grows — the serve an S-in-the-thousands
    * deployment actually runs. Routing is [[routeCellsAdaptive]]: the
    * default margin 2.0 is fixed-R routing at R = `maxRoutes`, a
    * smaller margin lets confident queries serve fewer cells. Images
    * stage ONLY for cells some query routed to (the batch's working
    * set), and a routed cell serves ALL its budget-split sub-segments.
    * `maxRoutes = S` degenerates to full fan-out over the clustered
    * layout (HnswRouteSpec pins the bit-equality). Tombstones follow
    * the family rule: navigable in every routed beam, filtered from
    * the report. */
  def serveShardedRouted(spark: SparkSession, dir: String,
      queries: DataFrame, shards: Int, maxRoutes: Int,
      margin: Double = 2.0, ef: Int = 16, k: Int = 10, iters: Int = 4,
      exclude: Set[Long] = Set.empty,
      budgetBytes: Long = DefaultNodeBudget): DataFrame = {
    val (dirs, cents) =
      clusterLayoutFor(spark, dir, shards, iters, budgetBytes)
    val qrows = collectQueryVecs(lookupQueryVecs(spark, dir, queries))
    val routed: Map[Long, Set[Long]] = qrows.toSeq
      .flatMap { case (qid, qv, qn) =>
        routeCellsAdaptive(cents, qv, qn, maxRoutes, margin).map(_ -> qid)
      }.groupBy(_._1).map { case (c, xs) => c -> xs.map(_._2).toSet }
    val served = routed.keys.toSeq.sorted
      .flatMap(c => dirs(c).map(d => (c, d)))
    val blobs = stageBlobs(spark, served.map(_._2), budgetBytes)
    shardedGather(spark, k, batchCands(spark,
      served.zip(blobs).map { case ((c, _), b) =>
        SegTask(b, Some(routed(c)), exclude) },
      qrows, ef, k))
  }

  /** ROUTED serving × UNBOUNDED query table — the routing win carried
    * onto the query-table stage: over the CLUSTERED layout each query
    * row routes itself ON THE EXECUTORS (the S·d centroid table is the
    * broadcast) and only then shuffles, so the fan-out is |Q|·R rows
    * instead of |Q|·S. Fixed-R routing (margin 2.0 of
    * [[routeCellsAdaptive]]); `maxRoutes = S` is full fan-out —
    * HnswRouteSpec pins it bit-equal to the bounded-batch routed serve
    * at every R it checks. */
  def serveShardedRoutedQueryTable(spark: SparkSession, dir: String,
      queries: DataFrame, shards: Int, maxRoutes: Int, ef: Int = 16,
      k: Int = 10, iters: Int = 4,
      budgetBytes: Long = DefaultNodeBudget, qParts: Int = 0): DataFrame = {
    val (dirs, cents) =
      clusterLayoutFor(spark, dir, shards, iters, budgetBytes)
    // flattened sub-segment list: a routed cell fans out to ALL its
    // budget-split sub-segments
    val flat: Seq[(Long, String)] =
      dirs.toSeq.sortBy(_._1).flatMap { case (c, ds) => ds.map(c -> _) }
    val segsOf: Map[Long, Seq[Int]] = flat.zipWithIndex
      .groupBy(_._1._1)
      .map { case (c, xs) => c -> xs.map(_._2) }
    shardedGather(spark, k, tableCands(spark,
      stageBlobs(spark, flat.map(_._2), budgetBytes),
      lookupQueryVecs(spark, dir, queries), ef, k, qParts,
      Some(TableRoute(cents, maxRoutes, 2.0, segsOf))))
  }

  /** Routed serving as a registry row: the planted 4-cell clustered
    * layout (trained by the deterministic codebook refinement), 8
    * queries routed to their top-2 cells, top-5 through the k-bounded
    * gather. Golden oracle like every trained-graph serve;
    * HnswRouteSpec pins layout completeness, routing/assignment
    * agreement, R=S ≡ full fan-out, report purity, and the planted
    * R=1 recall. */
  def qHnswRouted(spark: SparkSession, dir: String): DataFrame =
    serveShardedRouted(spark, dir, spark.range(8).toDF("query_id"),
      shards = 4, maxRoutes = 2, ef = 16, k = 5)
      .orderBy("query_id", "rank")

  /** ADAPTIVE routing as a registry row — the production answer to
    * the fixed-R tradeoff [[qHnswRouted]] pins: every query keeps the
    * cells within margin 0.05 of its best centroid (≥ top-1,
    * ≤ maxRoutes 3), so confident queries serve one cell and
    * ambiguous ones widen themselves. The margin default is the
    * measured knee of the recall-vs-cells-served grid the scale probe
    * commits to SCALE.md. Golden oracle like every trained-graph
    * serve; HnswRouteSpec pins the envelope and both degenerations. */
  def qHnswRoutedAdaptive(spark: SparkSession, dir: String): DataFrame =
    serveShardedRouted(spark, dir, spark.range(8).toDF("query_id"),
      shards = 4, maxRoutes = 3, margin = 0.05, ef = 16, k = 5)
      .orderBy("query_id", "rank")

  /** Sharded serving as a registry row: 8 queries over a PLANTED
    * 4-segment layout (S=4 stands in for a corpus whose image exceeds
    * one node — the planted-tombstone convention; production derives S
    * from [[shardCountFor]]'s budget math, which HnswShardSpec pins),
    * top-5 per query with the exact k-bounded merge. Golden oracle
    * like every trained-graph serve; the spec pins segment-partition
    * completeness, score exactness, and recall vs brute force. */
  def qHnswSharded(spark: SparkSession, dir: String): DataFrame =
    serveShardedDistributed(spark, dir,
      spark.range(8).toDF("query_id"), shards = 4, ef = 16, k = 5)
      .orderBy("query_id", "rank")

  /** The full lifecycle on the partitioned regime as a registry row:
    * planted tombstones (`vec_id ≡ 1 mod 5`, the family convention),
    * 8 queries over the planted 4-segment layout, top-5 through the
    * two-arm (sealed segments + exact delta) k-bounded gather. Golden
    * oracle like every trained-graph serve; HnswShardSpec pins the
    * composition against a driver-side reference merge. */
  def qHnswShardedDelta(spark: SparkSession, dir: String): DataFrame = {
    val tomb = Search.embNormed(spark, dir)
      .select("vec_id").filter(col("vec_id") % 5 === 1)
    serveShardedDelta(spark, dir, spark.range(8).toDF("query_id"),
      shards = 4, ef = 16, k = 5, tombstones = Some(tomb))
      .orderBy("query_id", "rank")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_hnsw_levels" -> (qHnswLevels _),
    "q_hnsw_search" -> (qHnswSearch _),
    "q_hnsw_delta" -> (qHnswDelta _),
    "q_hnsw_tombstone" -> (qHnswTombstone _),
    "q_hnsw_filtered" -> (qHnswFiltered _),
    "q_hnsw_batch" -> (qHnswBatch _),
    "q_hnsw_compact" -> (qHnswCompact _),
    "q_hnsw_dist" -> (qHnswServeDist _),
    "q_hnsw_sharded" -> (qHnswSharded _),
    "q_hnsw_sharded_delta" -> (qHnswShardedDelta _),
    "q_hnsw_sharded_filtered" -> (qHnswShardedFiltered _),
    "q_hnsw_routed" -> (qHnswRouted _),
    "q_hnsw_routed_adaptive" -> (qHnswRoutedAdaptive _)
  )

  val oracles: Map[String, String] = Map(
    "q_hnsw_search" ->
      s"""SELECT * FROM
         |read_parquet('$fixturesDir/hnsw_search_sf0.01.parquet/*.parquet')
         |ORDER BY score DESC, vec_id""".stripMargin,
    "q_hnsw_delta" ->
      s"""SELECT * FROM
         |read_parquet('$fixturesDir/hnsw_delta_sf0.01.parquet/*.parquet')
         |ORDER BY score DESC, vec_id""".stripMargin,
    "q_hnsw_tombstone" ->
      s"""SELECT * FROM
         |read_parquet('$fixturesDir/hnsw_tombstone_sf0.01.parquet/*.parquet')
         |ORDER BY score DESC, vec_id""".stripMargin,
    "q_hnsw_filtered" ->
      s"""SELECT * FROM
         |read_parquet('$fixturesDir/hnsw_filtered_sf0.01.parquet/*.parquet')
         |ORDER BY score DESC, vec_id""".stripMargin,
    "q_hnsw_batch" ->
      s"""SELECT * FROM
         |read_parquet('$fixturesDir/hnsw_batch_sf0.01.parquet/*.parquet')
         |ORDER BY query_id, rank""".stripMargin,
    "q_hnsw_compact" ->
      s"""SELECT * FROM
         |read_parquet('$fixturesDir/hnsw_compact_sf0.01.parquet/*.parquet')
         |ORDER BY score DESC, vec_id""".stripMargin,
    "q_hnsw_dist" ->
      s"""SELECT * FROM
         |read_parquet('$fixturesDir/hnsw_dist_sf0.01.parquet/*.parquet')
         |ORDER BY query_id, rank""".stripMargin,
    "q_hnsw_sharded" ->
      s"""SELECT * FROM
         |read_parquet('$fixturesDir/hnsw_sharded_sf0.01.parquet/*.parquet')
         |ORDER BY query_id, rank""".stripMargin,
    "q_hnsw_sharded_delta" ->
      s"""SELECT * FROM
         |read_parquet(
         |  '$fixturesDir/hnsw_sharded_delta_sf0.01.parquet/*.parquet')
         |ORDER BY query_id, rank""".stripMargin,
    "q_hnsw_sharded_filtered" ->
      s"""SELECT * FROM
         |read_parquet(
         |  '$fixturesDir/hnsw_sharded_filtered_sf0.01.parquet/*.parquet')
         |ORDER BY query_id, rank""".stripMargin,
    "q_hnsw_routed" ->
      s"""SELECT * FROM
         |read_parquet('$fixturesDir/hnsw_routed_sf0.01.parquet/*.parquet')
         |ORDER BY query_id, rank""".stripMargin,
    "q_hnsw_routed_adaptive" ->
      s"""SELECT * FROM
         |read_parquet(
         |  '$fixturesDir/hnsw_routed_adaptive_sf0.01.parquet/*.parquet')
         |ORDER BY query_id, rank""".stripMargin,
    "q_hnsw_levels" ->
      """WITH nn AS (SELECT count(*) AS n FROM embeddings),
        |cap AS (
        |  SELECT max(l) AS cap
        |  FROM (SELECT unnest(range(0, 21)) AS l) g
        |  WHERE CAST(pow(8, l) AS BIGINT) <= (SELECT n FROM nn)),
        |h AS (
        |  SELECT vec_id,
        |    ('0x'||substr(md5(vec_id::VARCHAR||':lvl'),1,15))::BIGINT AS h
        |  FROM embeddings),
        |lv AS (
        |  SELECT vec_id,
        |    coalesce((
        |      SELECT max(l)
        |      FROM (SELECT unnest(range(0, (SELECT cap FROM cap)+1)) AS l) g
        |      WHERE h % CAST(pow(8, l) AS BIGINT) = 0), 0)::BIGINT AS level
        |  FROM h),
        |e AS (
        |  SELECT min(vec_id) AS eid FROM lv
        |  WHERE level = (SELECT max(level) FROM lv))
        |SELECT vec_id, level, vec_id = (SELECT eid FROM e) AS is_entry
        |FROM lv ORDER BY vec_id""".stripMargin
  )
}
