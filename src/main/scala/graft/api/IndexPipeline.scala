package graft.api

import java.security.MessageDigest
import java.sql.Timestamp

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Dataset, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.chunk.{ChunkDispatch, FileTypes}
import graft.embed.{BatchEmbedding, Embedder, EmbeddingProvider}
import graft.functions.VectorFunctions.dot
import graft.model.{Boundary, Chunk, DocMeta, SourceRec}
import graft.store.ChunkStore

/** The end-to-end product loop of the engine — the Spark rendering of
  * the reference's `index → query` lifecycle (SURVEY.md §3.1-§3.2):
  *
  *   files (glob, S2/S3, extension gate S6)
  *     → chunk dispatch (C6: markdown C2 / code C3 / fixed C1, settings C5)
  *     → deterministic local embedding (E3)
  *     → parquet chunk+source store (S7, sources deduped once per source)
  *     → semantic / hybrid search (Q1/Q2 with F3 filter + X7 rerank)
  *     → section / original content expansion (Q3/Q4, distributed
  *       overlap-strip reassembly via mapGroups — never a driver loop)
  *
  * Everything is one narrow pipeline per file split until the store
  * write; search is a pruned scan (id, embedding[, filters]) + top-k.
  * Timestamps are injected by the caller (SURVEY.md §7.4 #6 — no
  * `now()` inside operators, so runs are reproducible).
  */
object IndexPipeline {

  case class IndexResult(sources: Long, chunks: Long, errors: Long = 0L)

  private def md5hex(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  /** S2/S3: glob-read files under `inputDir`, dispatch-chunk, embed,
    * and append to the store. Non-text files are gated out (S6). */
  def indexFiles(
      spark: SparkSession,
      inputDir: String,
      glob: String,
      storePath: String,
      createdAt: Timestamp,
      preserveBoundaries: Boolean = true,
      dim: Int = Embedder.DefaultDim,
      maxFileBytes: Long = 10L * 1024 * 1024,
      provider: Option[EmbeddingProvider] = None,
      embedBatchSize: Int = BatchEmbedding.DefaultBatchSize): IndexResult = {
    import spark.implicits._
    val prov = provider.getOrElse(Embedder.withDim(dim))
    val all = spark.read.format("text")
      .option("wholetext", "true")
      .option("pathGlobFilter", glob)
      .option("recursiveFileLookup", "true")
      .load(inputDir)
      .select(input_file_name().as("path"), col("value").as("content"))
      .as[(String, String)]
      .filter((r: (String, String)) => FileTypes.isTextFile(r._1))

    // error channel (reference indexer continues past per-file errors,
    // collecting them — indexer.ts errors[]; size cap = the security
    // module's file-size limit): oversize files are recorded, not fatal.
    val errors = all
      .filter((r: (String, String)) => r._2.length.toLong > maxFileBytes)
      .map { case (path, content) =>
        (path, s"file exceeds $maxFileBytes bytes (${content.length})")
      }
      .toDF("path", "error")
    // Result counts ride the write actions via Observation — ONE pass
    // per output. A naive `.count()` after the write would re-execute
    // the plan, which for chunks means calling the embedding provider
    // a second time (2× the API bill of the whole index run).
    val errObs = new Observation()
    ChunkStore.write(errors.observe(errObs, count(lit(1)).as("n")),
      s"$storePath/errors", mode = SaveMode.Append)
    val files = all
      .filter((r: (String, String)) => r._2.length.toLong <= maxFileBytes)

    val unembedded: Dataset[Chunk] = files.flatMap { case (path, text) =>
      val fileName = path.substring(path.lastIndexOf('/') + 1)
      val ext = FileTypes.extensionOf(fileName)
      val settings = FileTypes.optimalSettings(fileName)
      val sourceType = if (FileTypes.isCodeFile(ext)) "code"
        else if (FileTypes.isMarkdownFile(ext)) "docs" else "file"
      val pieces = ChunkDispatch.chunk(text, Some(fileName),
        settings.chunkSize, settings.chunkOverlap, preserveBoundaries)
      val sourceId = md5hex(path)
      val meta = DocMeta(sourceType = sourceType, title = Some(fileName),
        filePath = Some(fileName), path = Some(path))
      pieces.map { p =>
        Chunk(
          id = md5hex(s"$sourceId:${p.index}"),
          sourceId = sourceId,
          chunkIndex = p.index,
          totalChunks = pieces.length,
          content = p.content,
          embedding = Array.empty[Float],
          metadata = meta,
          boundary = p.boundary,
          createdAt = createdAt)
      }
    }
    // E2/E3: the distributed rendering of the reference's batch-of-100
    // contract (embedding.ts:88-123) — each partition's chunks go to
    // the provider in consecutive ≤embedBatchSize slices, ONE bulk
    // call per slice, results index-aligned. For a network provider
    // this amortizes round-trips per partition; for the local hashing
    // embedder it degrades to the same per-text math.
    val chunks: Dataset[Chunk] = unembedded.mapPartitions { it =>
      it.grouped(embedBatchSize).flatMap { batch =>
        val vecs = BatchEmbedding.embedAll(prov, batch.map(_.content),
          embedBatchSize)
        batch.iterator.zip(vecs.iterator).map { case (c, v) =>
          c.copy(embedding = v.map(_.toFloat))
        }
      }
    }

    val sources: Dataset[SourceRec] = files.map { case (path, text) =>
      val fileName = path.substring(path.lastIndexOf('/') + 1)
      val ext = FileTypes.extensionOf(fileName)
      val sourceType = if (FileTypes.isCodeFile(ext)) "code"
        else if (FileTypes.isMarkdownFile(ext)) "docs" else "file"
      SourceRec(md5hex(path), text, Some(fileName), None, sourceType, createdAt)
    }.dropDuplicates("sourceId")

    // partition chunks by a materialized sourceType column: F3 filters
    // prune whole directories; at 100 TB add .bucketBy(sourceId) for
    // co-located reassembly joins.
    val chunkObs = new Observation()
    val sourceObs = new Observation()
    ChunkStore.write(
      chunks.toDF().withColumn("sourceType", col("metadata.sourceType"))
        .observe(chunkObs, count(lit(1)).as("n")),
      s"$storePath/chunks", partitionCols = Seq("sourceType"),
      mode = SaveMode.Append)
    ChunkStore.write(
      sources.toDF().observe(sourceObs, count(lit(1)).as("n")),
      s"$storePath/sources", mode = SaveMode.Append)
    // advance the store snapshot (O(1) freshness for searchAnn et al.)
    ChunkStore.bumpSnapshot(spark, s"$storePath/chunks")
    IndexResult(
      sourceObs.get("n").asInstanceOf[Long],
      chunkObs.get("n").asInstanceOf[Long],
      errObs.get("n").asInstanceOf[Long])
  }

  /** S1/S11: index one raw text (stdin / --text path). */
  def indexText(spark: SparkSession, text: String, title: String,
      storePath: String, createdAt: Timestamp,
      chunkSize: Int = 1000, chunkOverlap: Int = 200,
      dim: Int = Embedder.DefaultDim,
      provider: Option[EmbeddingProvider] = None): IndexResult = {
    import spark.implicits._
    val prov = provider.getOrElse(Embedder.withDim(dim))
    val sourceId = md5hex(s"text:$title")
    val pieces = ChunkDispatch.chunk(text, None, chunkSize, chunkOverlap)
    val meta = DocMeta(sourceType = "text", title = Some(title))
    val vecs = BatchEmbedding.embedAll(prov, pieces.map(_.content))
    val chunks = pieces.zip(vecs).map { case (p, v) =>
      Chunk(md5hex(s"$sourceId:${p.index}"), sourceId, p.index, pieces.length,
        p.content, v.map(_.toFloat), meta, p.boundary, createdAt)
    }
    ChunkStore.write(
      spark.createDataset(chunks).toDF()
        .withColumn("sourceType", col("metadata.sourceType")),
      s"$storePath/chunks", partitionCols = Seq("sourceType"),
      mode = SaveMode.Append)
    ChunkStore.write(spark.createDataset(
      Seq(SourceRec(sourceId, text, Some(title), None, "text", createdAt))).toDF(),
      s"$storePath/sources", mode = SaveMode.Append)
    ChunkStore.bumpSnapshot(spark, s"$storePath/chunks")
    IndexResult(1L, chunks.length.toLong)
  }

  /** D4: candidate paths not yet indexed (anti-join on metadata.path). */
  def notYetIndexed(spark: SparkSession, storePath: String,
      candidates: DataFrame): DataFrame = {
    val indexed = ChunkStore.read(spark, s"$storePath/chunks")
      .filter(col("chunkIndex") === 0)
      .select(col("metadata.path").as("path")).distinct()
    candidates.join(indexed, Seq("path"), "left_anti")
  }

  /** Q1 semantic search: pruned scored scan → top-k → optional keyword
    * rerank (X7, boost 0.1/word). `sourceType` is the F3 filter. */
  def search(spark: SparkSession, storePath: String, query: String, k: Int = 5,
      sourceType: Option[String] = None, rerank: Boolean = true,
      dim: Int = Embedder.DefaultDim,
      provider: Option[EmbeddingProvider] = None): DataFrame = {
    val qv = lit(provider.getOrElse(Embedder.withDim(dim)).embed(query))
    val chunks = ChunkStore.read(spark, s"$storePath/chunks")
    // partition-column filter → directory pruning
    val filtered = sourceType.fold(chunks)(t =>
      chunks.filter(col("sourceType") === t))
    // two-phase: score over an (id, embedding)-only scan so the text
    // payload never rides through the top-k heap (F7); join content
    // back for just the k winners.
    val topIds = filtered
      .select(col("id"), round(dot(col("embedding"), qv), 6).as("score"))
      .orderBy(desc("score"), col("id"))
      .limit(k)
    val top = topIds
      .join(filtered.select("id", "sourceId", "chunkIndex", "content",
        "sourceType"), "id")
      .select("id", "sourceId", "chunkIndex", "content", "score", "sourceType")
      .orderBy(desc("score"), col("id"))
    if (!rerank) top
    else {
      val words = query.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
      top
        .withColumn("matches",
          graft.operators.Search.matchCount(lower(col("content")), words))
        .withColumn("score", round(col("score") + col("matches") * 0.1, 6))
        .drop("matches")
        .orderBy(desc("score"), col("id"))
    }
  }

  /** Q2 hybrid search: blend `score·(1−w) + keywordRatio·w`, w=0.3. */
  def hybridSearch(spark: SparkSession, storePath: String, query: String,
      k: Int = 5, dim: Int = Embedder.DefaultDim,
      provider: Option[EmbeddingProvider] = None): DataFrame = {
    val words = query.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
    search(spark, storePath, query, k * 3, rerank = false, dim = dim,
      provider = provider)
      .withColumn("matches",
        graft.operators.Search.matchCount(lower(col("content")), words))
      .withColumn("score",
        round(col("score") * 0.7 + (col("matches") / words.size.toDouble) * 0.3, 6))
      .drop("matches")
      .orderBy(desc("score"), col("id"))
      .limit(k)
  }

  /** One ANN artifact per (session, store, budget): chunk embeddings
    * bridged to the HNSW builders (`vec_id = hash60(chunk id)` —
    * sparse ids are fine, the builders are id-layout-free) plus the
    * id map back. The serving REGIME is budget-derived, never a
    * caller choice: [[graft.operators.Hnsw.shardCountFor]] over the
    * store's actual row count and embedding width decides — one
    * image while it fits the node budget (the replicated/latency
    * regime), S per-segment images past it (the partitioned regime,
    * merged under the engine's exact k-bounded order). */
  private[api] val annIndexes = new java.util.concurrent.ConcurrentHashMap[
    String, AnnArtifact]()

  /** A built ANN serving artifact plus the store state it was sealed
    * against: `fingerprint` is the chunks directory's file-listing
    * hash at build time and `sealedCount` the row count it indexed —
    * the two facts [[searchAnn]] needs to detect mutation and decide
    * between the delta arm and a reseal — and `dim` its embedding width
    * (0 for an empty store). */
  private[api] final case class AnnArtifact(work: String,
      imgs: Seq[graft.operators.Hnsw.IndexImage],
      fingerprint: String, sealedCount: Long, dim: Int)

  /** Content fingerprint of a store directory. Preferred path: the
    * store's monotonic snapshot manifest
    * ([[ChunkStore.snapshotOf]]) — ONE small-file read, the
    * table-format snapshot-id contract, O(1) in store size; every
    * store-API mutation bumps it (id + nonce), so even a same-length
    * in-place rewrite inside the filesystem's mtime granularity is
    * visible. Fallback for manifest-less stores: MD5 over the sorted
    * recursive file listing (path, length, mtime) — a driver-side
    * walk, O(files), with the documented 1 s-granularity blind spot. */
  private[api] def storeFingerprint(spark: SparkSession,
      path: String): String =
    ChunkStore.snapshotOf(spark, path) match {
      case Some(snap) => s"snap:$snap"
      case None =>
        val md = MessageDigest.getInstance("MD5")
        ChunkStore.fileListing(spark, path)
          .foreach(s => md.update(s.getBytes("UTF-8")))
        md.digest().map("%02x".format(_)).mkString
    }

  private def buildAnnArtifact(spark: SparkSession, storePath: String,
      nodeBudgetBytes: Long, fingerprint: String): AnnArtifact = {
      val work = java.nio.file.Files
        .createTempDirectory("graft_store_ann").toString
      val chunks = ChunkStore.read(spark, s"$storePath/chunks")
        .select(Embedder.hash60Col(col("id")).as("vec_id"),
          col("id"), col("embedding"), col("content"))
      chunks.select(col("vec_id"),
          col("embedding").cast("array<float>").as("embedding"))
        .write.mode("overwrite").parquet(s"$work/embeddings.parquet")
      // ids carry a CONTENT hash beside the chunk id: the chunk id is
      // md5(sourceId:index), NOT content-derived, so an S8 in-place
      // rewrite keeps the id while changing the embedding — the
      // mutation census must treat that as delta+tombstone, not as
      // unchanged (the id alone cannot see it)
      chunks.select(col("vec_id"), col("id"),
          Embedder.hash60Col(col("content")).as("ch"))
        .write.mode("overwrite").parquet(s"$work/ids.parquet")
      val stats = spark.read.parquet(s"$work/embeddings.parquet")
        .agg(count(lit(1)), first(size(col("embedding")))).head
      // an EMPTY store has no first row: dim 0 keeps shardCountFor at
      // S=1 and the monolithic build path already yields an empty
      // index that serves no rows
      val (n, dim) = (stats.getLong(0),
        if (stats.isNullAt(1)) 0 else stats.getInt(1))
      val s = graft.operators.Hnsw.shardCountFor(n, dim, nodeBudgetBytes)
      val imgs =
        if (s <= 1) {
          val idx = graft.operators.Hnsw
            .buildIndex(spark, work, s"$work/index")
          Seq(graft.operators.Hnsw.imageOf(spark, work, idx,
            nodeBudgetBytes))
        } else graft.operators.Hnsw.segmentImages(spark,
          graft.operators.Hnsw.shardDirsFor(spark, work, s),
          nodeBudgetBytes)
      AnnArtifact(work, imgs, fingerprint, n, dim)
  }

  /** The session's artifact for (store, budget) — built on first use,
    * RESEALED (rebuilt against the current corpus) when the store has
    * mutated past the point where the exact delta arm is cheaper than
    * a rebuild: |delta| + |deleted| > sealed/2, the amortization rule
    * every sealed+delta lifecycle here uses. Between reseals a
    * mutated store serves sealed+delta (see [[searchAnn]]); the
    * second element carries the PERSISTED mutation state (delta rows,
    * dead-id table, bounded exclusion filter) for that case — `None`
    * means the artifact is fresh. */
  private def annIndexFor(spark: SparkSession, storePath: String,
      nodeBudgetBytes: Long): (AnnArtifact, Option[MutationState]) = {
    val key = s"$storePath#$nodeBudgetBytes"
    val fp = storeFingerprint(spark, s"$storePath/chunks")
    val cached = annIndexes.computeIfAbsent(key,
      _ => buildAnnArtifact(spark, storePath, nodeBudgetBytes, fp))
    if (cached.fingerprint == fp) (cached, None)
    else {
      // mutated store: derive the unindexed tail + tombstones ONCE
      // PER STORE STATE and PERSIST THE ROWS, not just their counts —
      // the two corpus-scale anti-joins run when the fingerprint
      // changes, never per query (repeat serves between mutations read
      // the persisted delta/dead tables, whose size is the MUTATION,
      // not the corpus). One entry per (store, budget) — a superseded
      // fingerprint's state dir is deleted, never accumulated. The
      // derivation keys on (id, content hash), not id alone: an
      // in-place rewrite (S8) keeps the chunk id while changing the
      // embedding, and must count as delta + tombstone. Reseal when
      // the mutation outgrows half the sealed corpus, else keep
      // serving sealed+delta off the existing images.
      val st = mutationCensus.compute(key,
        { (_, prev) =>
          if (prev != null && prev.fp == fp) prev
          else {
            if (prev != null) rmTree(prev.dir)
            deriveMutationState(spark, storePath, cached, fp)
          }
        })
      if (2L * (st.deltaN + st.deadN) > math.max(cached.sealedCount, 1L)) {
        val fresh = buildAnnArtifact(spark, storePath, nodeBudgetBytes, fp)
        annIndexes.put(key, fresh)
        mutationCensus.remove(key)
        // best-effort removal of the superseded artifact's temp dir (a
        // full corpus copy per reseal otherwise accumulates on disk;
        // the mutation-state dir lives inside it); the single-session
        // serve discipline means no caller still holds the old work
        // path once the map entry is swapped
        rmTree(cached.work)
        (fresh, None)
      } else (cached, Some(st))
    }
  }

  private def rmTree(dir: String): Unit =
    try {
      def rm(p: java.nio.file.Path): Unit = {
        if (java.nio.file.Files.isDirectory(p))
          java.nio.file.Files.list(p).forEach(c => rm(c))
        java.nio.file.Files.deleteIfExists(p)
      }
      rm(java.nio.file.Paths.get(dir))
    } catch { case NonFatal(_) => () }

  /** Persisted per-store-state mutation artifacts: the delta rows
    * (vec_id, embedding, nrm — the exact brute arm's input), the
    * dead-id table (vec_id, SORTED so point verification prunes row
    * groups), and the bounded in-memory exclusion filter. Everything a
    * [[searchAnn]] call needs between mutations, derived once per
    * store fingerprint. */
  private[api] final case class MutationState(fp: String, dir: String,
      deltaN: Long, deadN: Long,
      exclusion: graft.model.IdFilters.IdFilter)

  /** Count of mutation-state derivations this session — the spec's
    * and probe's gauge that the corpus-scale anti-joins run once per
    * store state, not once per query. */
  private[graft] val mutationDerivations =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** Of those, the derivations that ran in-process ([[localMutation]]) —
    * the spec's gauge of which arm a derivation took. */
  private[graft] val localMutationDerivations =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** The once-per-store-state derivation: the two (id, content-hash)
    * anti-joins between the live store and the sealed ids table —
    * corpus-scale, paid HERE and only here — with their OUTPUTS
    * persisted under the artifact's work dir. */
  private[api] def deriveMutationState(spark: SparkSession, storePath: String,
      cached: AnnArtifact, fp: String): MutationState = {
    import spark.implicits._
    import graft.functions.VectorFunctions.l2norm
    mutationDerivations.incrementAndGet()
    val dir = s"${cached.work}/mut_${fp.take(16)}"
    val live = ChunkStore.read(spark, s"$storePath/chunks")
      .select(Embedder.hash60Col(col("id")).as("vec_id"), col("id"),
        col("embedding").cast("array<float>").as("embedding"),
        Embedder.hash60Col(col("content")).as("ch"))
    val sealed0 = spark.read.parquet(s"${cached.work}/ids.parquet")
      .select("vec_id", "id", "ch")
    val (deltaN, deadN, dead) =
      localMutation(spark, live, sealed0, cached, dir).getOrElse {
        live.join(sealed0.select("id", "ch"), Seq("id", "ch"), "left_anti")
          .select("vec_id", "embedding")
          .withColumn("nrm", l2norm(col("embedding")))
          .write.mode("overwrite").parquet(s"$dir/delta.parquet")
        // dead ids sorted: the Bloom path's flagged-candidate
        // verification is a point lookup, and sorted row groups make
        // the pushdown prune
        sealed0.join(live.select("id", "ch"), Seq("id", "ch"), "left_anti")
          .select("vec_id").orderBy("vec_id")
          .write.mode("overwrite").parquet(s"$dir/dead.parquet")
        (spark.read.parquet(s"$dir/delta.parquet").count(),
          spark.read.parquet(s"$dir/dead.parquet").count(),
          spark.read.parquet(s"$dir/dead.parquet"))
      }
    // bounded exclusion ([[graft.model.IdFilters]]): exact Set up to
    // the driver cap, past it the 8 MB-capped Bloom bitmap whose build
    // collects at most nbits/64 (word, mask) rows
    val exclusion = graft.model.IdFilters.build(spark, dead, "vec_id",
      deadN, graft.model.IdFilters.driverCap(spark))
    MutationState(fp, dir, deltaN, deadN, exclusion)
  }

  /** Whether [[deriveMutationState]] may run its anti-joins in-process:
    * the sealed rows, at the sealed width, pass the HNSW build's gate
    * ([[graft.operators.Hnsw.fitsInProcess]]). Decided from what the
    * artifact already records, before anything is collected; an empty
    * seal (width 0) keeps the Spark plan. */
  private[api] def mutationFitsInProcess(spark: SparkSession,
      cached: AnnArtifact): Boolean =
    cached.dim > 0 &&
      graft.operators.Hnsw.fitsInProcess(spark, cached.sealedCount, cached.dim)

  /** [[deriveMutationState]]'s two anti-joins in-process, for a store
    * that passes [[mutationFitsInProcess]]: one bounded collect per
    * side, the same `delta`/`dead` rows written, and the dead ids
    * handed back as a local table. None when the live store has grown
    * past the gate (found by collecting at most one row more than it
    * admits), or when a delta or dead row has a null id or vector
    * element (the Spark plan's null semantics then apply). */
  private def localMutation(spark: SparkSession, live: DataFrame,
      sealed0: DataFrame, cached: AnnArtifact,
      dir: String): Option[(Long, Long, DataFrame)] = {
    import spark.implicits._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    if (!mutationFitsInProcess(spark, cached)) return None
    val dim = cached.dim
    val limit = math.min(graft.operators.Hnsw.LocalMaxRows,
      graft.operators.Hnsw.advisoryBytes(spark) / (4L * dim)).toInt + 1
    val liveRows = live.limit(limit).collect()
    if (!graft.operators.Hnsw.fitsInProcess(spark, liveRows.length, dim))
      return None
    val sealedRows = sealed0.collect()
    // the join key (id, ch); a null part never matches
    def key(r: Row, ch: Int): Option[(String, Long)] =
      if (r.isNullAt(1) || r.isNullAt(ch)) None
      else Some((r.getString(1), r.getLong(ch)))
    val sealedKeys = sealedRows.flatMap(key(_, 2)).toSet
    val liveKeys = liveRows.flatMap(key(_, 3)).toSet
    val delta = liveRows.filter(key(_, 3).forall(k => !sealedKeys(k)))
    val dead = sealedRows.filter(key(_, 2).forall(k => !liveKeys(k)))
    val vecs: Array[Option[Array[Float]]] = delta.map(r =>
      if (r.isNullAt(0) || r.isNullAt(2)) None
      else {
        val xs = r.getSeq[java.lang.Float](2)
        if (xs.contains(null)) None else Some(xs.map(_.floatValue).toArray)
      })
    if (vecs.contains(None) || dead.exists(_.isNullAt(0))) return None
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("nrm", DoubleType)))
    val rows = delta.indices.map { i =>
      val v = vecs(i).get
      Row(delta(i).getLong(0), v.toSeq,
        math.sqrt(graft.functions.DotProduct.dot(v, v)))
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/delta.parquet")
    val deadIds = dead.map(_.getLong(0)).sorted.toSeq.toDF("vec_id")
    deadIds.coalesce(1).write.mode("overwrite").parquet(s"$dir/dead.parquet")
    localMutationDerivations.incrementAndGet()
    Some((delta.length.toLong, dead.length.toLong, deadIds))
  }

  /** Per-(store, budget) mutation state — ONE entry, replaced (and its
    * dir deleted) when the store fingerprint moves again. */
  private val mutationCensus = new java.util.concurrent.ConcurrentHashMap[
    String, MutationState]()

  /** Q1 at index speed: ANN-backed semantic search over the chunk
    * store — the analogue of the reference's HNSW index option on its
    * DuckDB adapter (`duckdb-adapter.ts:358-412`, `CREATE INDEX …
    * USING HNSW`), which the brute-force [[search]] deliberately
    * skips. Build once per store (session-cached artifact: the
    * layered graph over the embedding column + the id bridge), then
    * serve each query through the broadcast-ready index image —
    * descent+beam instead of the full scored scan. Same result shape
    * as [[search]]; scores are exact rescored cosines of the visited
    * pool, so ranking agrees with the scan on everything the beam
    * reaches (PipelineSpec pins top-1 agreement and recall). At 100 TB
    * the store-side analogue of [[graft.operators.Hnsw.serveDistributed]]
    * applies unchanged — this entry point is the per-query latency
    * path. The serving regime is BUDGET-DERIVED, not a caller choice:
    * a store whose image outgrows `nodeBudgetBytes` automatically
    * serves through S per-segment images with the exact k-bounded
    * merge (PipelineSpec pins the same score contract under a planted
    * tiny budget). FRESHNESS: the artifact remembers the store's
    * file-listing fingerprint at seal time; a store mutated since
    * (S7/S8/S9) serves sealed+delta — exact brute arm over the
    * unindexed tail, tombstones for deleted chunks — and reseals when
    * the mutation outgrows half the sealed corpus, so this path and
    * the brute [[search]] never diverge after mutation (PipelineSpec
    * pins index→serve→mutate→serve parity). SCALE: the delta rows and
    * dead-id table are derived (two anti-joins) and PERSISTED once per
    * store fingerprint — repeat serves against an unchanged mutated
    * store scan only those tables, sized by the mutation, never the
    * corpus — and the tombstone exclusion is bounded on the driver:
    * an exact Set up to [[graft.model.IdFilters.driverCap]], past
    * that a Bloom bitmap with
    * flagged-candidate verification against the persisted dead table
    * (PipelineSpec pins parity on both branches and counts the
    * derivations). */
  def searchAnn(spark: SparkSession, storePath: String, query: String,
      k: Int = 5, dim: Int = Embedder.DefaultDim,
      provider: Option[EmbeddingProvider] = None,
      nodeBudgetBytes: Long =
        graft.operators.Hnsw.DefaultNodeBudget): DataFrame = {
    import spark.implicits._
    import graft.functions.VectorFunctions.cosinePrenormed
    val prov = provider.getOrElse(Embedder.withDim(dim))
    val (art, mut) = annIndexFor(spark, storePath, nodeBudgetBytes)
    val qd = prov.embed(query)
    val qv = qd.map(_.toFloat)
    var s = 0.0
    var i = 0
    while (i < qv.length) { s += qv(i).toDouble * qv(i).toDouble; i += 1 }
    val qn = math.sqrt(s)
    val live = ChunkStore.read(spark, s"$storePath/chunks")
    // a store mutated since the seal serves sealed+delta — the
    // adapter-equivalence rule (the reference DB maintains its HNSW
    // index on insert, base-adapter.test.ts): chunks indexed after
    // the seal form an EXACT brute-force arm, chunks deleted since
    // become tombstones (navigable in the beam, never reported), and
    // both arms merge under the engine's (score desc, id asc) order —
    // so mutate-then-search agrees with the brute [[search]] path.
    // Both arms read the PERSISTED per-fingerprint mutation state
    // (annIndexFor): per-query work scans the delta/dead tables —
    // sized by the mutation, not the corpus — never the anti-joins
    // that derived them.
    val deltaHits: Seq[(Long, Double)] = mut match {
      case Some(st) if st.deltaN > 0 =>
        spark.read.parquet(s"${st.dir}/delta.parquet")
          .withColumn("score", round(cosinePrenormed(
            dot(col("embedding"), lit(qv)), col("nrm"), lit(qn)), 6))
          .orderBy(desc("score"), col("vec_id"))
          .limit(k)
          .select("vec_id", "score").as[(Long, Double)].collect().toSeq
      case _ => Seq.empty
    }
    // one beam per image; for the single-image regime this IS the old
    // serve, for the partitioned regime the driver merges k·S exact
    // rescored candidates under the engine's (score desc, id asc)
    // total order — the HnswShardSpec merge rule on a 1-query batch
    val sealedHits: Seq[(Long, Double)] = mut.map(_.exclusion) match {
      case None =>
        art.imgs.flatMap(img => graft.operators.Hnsw.serveVec(img, qv,
          qn, selfId = -1L, ef = math.max(32, 4 * k), k = k))
      case Some(graft.model.IdFilters.IdSet(ids)) =>
        art.imgs.flatMap(img => graft.operators.Hnsw.serveVec(img, qv,
          qn, selfId = -1L, ef = math.max(32, 4 * k), k = k,
          exclude = ids))
      case Some(bloom: graft.model.IdFilters.IdBloom) =>
        // tombstone set past the driver cap: serve UNEXCLUDED beams,
        // clear candidates through the Bloom (no false negatives ⇒
        // cleared = live), verify only the flagged few against the
        // sorted dead table (pushdown point lookup), and widen the
        // per-image pool until every image reports k live or exhausts
        // — exact, with the driver never holding the dead set. Each
        // widening round re-serves ONLY the still-unsatisfied images
        // and verifies only NEVER-SEEN flagged ids (one verdict map
        // across rounds), so an image that already reported k live —
        // the common case, tombstones being a minority of any corpus
        // the reseal rule admits — pays exactly one beam, and the
        // dead-table point lookup runs at most once per distinct
        // flagged id per query.
        val deadPath = s"${mut.get.dir}/dead.parquet"
        val verdicts = scala.collection.mutable.Map.empty[Long, Boolean]
        def verify(ids: Seq[Long]): Unit = {
          val unseen = ids.filterNot(verdicts.contains)
          if (unseen.nonEmpty) {
            val dead = spark.read.parquet(deadPath)
              .filter(col("vec_id").isin(unseen: _*))
              .as[Long].collect().toSet
            unseen.foreach(id => verdicts(id) = dead(id))
          }
        }
        def isDead(id: Long): Boolean =
          bloom.mayContain(id) && verdicts(id)
        val done = Array.fill(art.imgs.size)(
          Seq.empty[(Long, Double)])
        var pending: Seq[Int] = art.imgs.indices.toSeq
        var kk = k
        while (pending.nonEmpty) {
          val served = pending.map(i => i ->
            graft.operators.Hnsw.serveVec(art.imgs(i), qv, qn,
              selfId = -1L, ef = math.max(32, 4 * kk), k = kk))
          verify(served.flatMap(_._2.map(_._1))
            .distinct.filter(bloom.mayContain))
          pending = served.flatMap { case (i, cands) =>
            val live = cands.filterNot(c => isDead(c._1))
            if (live.size >= k || cands.size < kk || kk >= (1 << 20)) {
              done(i) = live.take(k)
              None
            } else Some(i)
          }
          kk *= 2
        }
        done.toSeq.flatten
    }
    val hits = (sealedHits ++ deltaHits)
      .sortBy { case (id, sc) => (-sc, id) }.take(k)
    val hitDf = hits.toDF("vec_id", "score")
    // id bridge via the LIVE store (not the sealed ids table), so a
    // delta hit resolves and a tombstoned id cannot resurface
    hitDf.join(live.select(Embedder.hash60Col(col("id")).as("vec_id"),
        col("id"), col("sourceId"), col("chunkIndex"), col("content"),
        col("sourceType")), "vec_id")
      .select("id", "sourceId", "chunkIndex", "content", "score",
        "sourceType")
      .orderBy(desc("score"), col("id"))
  }

  /** Largest prefix of `next` that is a suffix of `prev` (bounded by
    * `window`) — the reference's overlap heuristic (search.ts:203,290),
    * generalized to the actual window instead of a fixed 200. */
  private[api] def stripOverlap(prev: String, next: String, window: Int): String = {
    var k = math.min(window, math.min(prev.length, next.length))
    while (k > 0 && !prev.endsWith(next.substring(0, k))) k -= 1
    next.substring(k)
  }

  /** Q3: full original content — sources fast path (stored once per
    * source, not reassembled). */
  def originalContent(spark: SparkSession, storePath: String,
      sourceId: String): DataFrame =
    ChunkStore.read(spark, s"$storePath/sources")
      .filter(col("sourceId") === sourceId)
      .select("sourceId", "originalContent")

  /** Q4: section content — nested boundary filter (F1) + distributed
    * overlap-strip reassembly per source (mapGroups; no driver loop). */
  def sectionContent(spark: SparkSession, storePath: String,
      boundaryType: String, title: Option[String] = None,
      overlapWindow: Int = 200): DataFrame = {
    import spark.implicits._
    val chunks = ChunkStore.read(spark, s"$storePath/chunks")
      .filter(col("boundary.boundaryType") === boundaryType)
    val matched = title.fold(chunks)(t => chunks.filter(col("boundary.title") === t))
    matched
      .select(col("sourceId"), col("chunkIndex"), col("content"))
      .as[(String, Int, String)]
      .groupByKey(_._1)
      .mapGroups { (sid, it) =>
        val sorted = it.toSeq.sortBy(_._2).map(_._3)
        val content = sorted.reduceLeftOption((acc, nxt) =>
          acc + "\n" + stripOverlap(acc, nxt, overlapWindow)).getOrElse("")
        (sid, content)
      }
      .toDF("sourceId", "content")
  }
}
