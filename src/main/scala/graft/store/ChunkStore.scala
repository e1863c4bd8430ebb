package graft.store

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Parquet-backed chunk/source store — the engine's analogue of the
  * reference's VectorDBAdapter surface (S7-S10,
  * `src/core/vector-db/adapters/sqlite-storage-operations.ts:60-177`),
  * re-expressed as batch-columnar operations:
  *
  *  - insert/insertBatch → partitioned parquet append (the reference
  *    loops row-by-row per insert, common-operations.ts:4-31 — an
  *    anti-pattern documented in SURVEY.md §4)
  *  - delete/deleteBatch → anti-join rewrite (S9)
  *  - update/upsert      → union + keep-latest window (S8)
  *  - get                → predicate-pushdown point lookup (S10)
  *
  * Scale notes: data is partitioned by a low-cardinality column
  * (sourceType/lang) so partition pruning applies; rewrites are staged
  * to a fresh directory (never in-place) — at 100 TB you'd swap the
  * staged output in atomically via a table format (Delta/Iceberg), but
  * the dataflow is identical.
  */
object ChunkStore {

  /** Default format is parquet (columnar, statistics, pushdown); json/
    * csv supported for interchange — same layout, same operations. */
  def write(df: DataFrame, path: String,
      partitionCols: Seq[String] = Seq.empty,
      mode: SaveMode = SaveMode.Overwrite,
      format: String = "parquet"): Unit = {
    val w = df.write.mode(mode).format(format)
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .save(path)
  }

  def read(spark: SparkSession, path: String,
      format: String = "parquet"): DataFrame =
    spark.read.format(format).load(path)

  /** Point lookup — pushdown-friendly (S10). */
  def get(spark: SparkSession, path: String, idCol: String, id: Any): DataFrame =
    read(spark, path).filter(col(idCol) === lit(id))

  /** Bucketed table write — the co-located-join layout for keys the
    * store is joined/aggregated on repeatedly (doc_id, source_id).
    * `bucketBy(n, key) + sortBy(key)` records the hash partitioning in
    * catalog metadata, so ANY later equi-join or aggregation on the
    * key between same-bucketed tables plans with ZERO Exchange — at
    * 100 TB that converts every recurring join from a two-sided
    * shuffle of the full store into a per-bucket local merge. Parquet
    * path reads can't carry bucket info (it lives in table metadata,
    * not files), hence `saveAsTable`; production would keep this in a
    * shared metastore / table format. Bucket count is a layout
    * constant: pick it once per store (≈ store size / target task
    * size) — co-location needs both sides bucketed the SAME way. */
  def writeBucketed(df: DataFrame, table: String, buckets: Int,
      key: String, mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).format("parquet")
      .bucketBy(buckets, key).sortBy(key)
      .saveAsTable(table)

  /** The partition columns of a store, read from its own directory
    * layout: the `name=value` directory chain under `path` (hidden
    * `_`/`.` entries skipped). A rewrite that drops them would leave
    * the store's rows at the root, where the next partitioned append
    * hides them from every read. */
  private[graft] def partitionColsOf(spark: SparkSession,
      path: String): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def walk(p: org.apache.hadoop.fs.Path): List[String] = {
      val part = fs.listStatus(p).iterator.filter(_.isDirectory)
        .map(_.getPath.getName)
        .find(n => n.contains("=") && !n.startsWith("_") &&
          !n.startsWith("."))
      part.fold(List.empty[String])(n => n.takeWhile(_ != '=') ::
        walk(new org.apache.hadoop.fs.Path(p, n)))
    }
    if (fs.getFileStatus(root).isDirectory) walk(root) else Nil
  }

  /** S9 delete-batch as an anti-join rewrite, staged to `dst` with the
    * source store's partition layout. */
  def deleteInto(spark: SparkSession, src: String, dst: String,
      ids: DataFrame, idCol: String): Unit = {
    val keep = read(spark, src)
      .join(broadcast(ids.select(col(idCol))), Seq(idCol), "left_anti")
    write(keep, dst, partitionColsOf(spark, src))
  }

  /** S9 delete, published: stage the anti-join rewrite beside the
    * store and [[commitSwap]] it in — the one-call form of the
    * staged-rewrite + snapshot-bump contract, so a caller cannot
    * mutate the store while forgetting the freshness clock. */
  def deleteAndCommit(spark: SparkSession, path: String, ids: DataFrame,
      idCol: String): Unit = {
    val staged = s"$path.__staged_${java.util.UUID.randomUUID}"
    deleteInto(spark, path, staged, ids, idCol)
    commitSwap(spark, staged, path)
  }

  /** S8 upsert, published: [[upsertInto]] staged beside the store,
    * then [[commitSwap]]. Same one-call contract as
    * [[deleteAndCommit]]. */
  def upsertAndCommit(spark: SparkSession, path: String,
      updates: DataFrame, idCol: String, versionCol: String): Unit = {
    val staged = s"$path.__staged_${java.util.UUID.randomUUID}"
    upsertInto(spark, path, staged, updates, idCol, versionCol)
    commitSwap(spark, staged, path)
  }

  /** Compaction: rewrite a store into `files` evenly-sized parquet
    * files (repartition, not coalesce — coalesce skews when upstream
    * partitioning is uneven). Streaming appends (foreachBatch) create
    * one file per micro-batch per partition; at 100 TB periodic
    * compaction is what keeps scan task counts sane. */
  def compactInto(spark: SparkSession, src: String, dst: String,
      files: Int): Unit =
    write(read(spark, src).repartition(files), dst)

  /** Z-ORDERED store write — the generic two-dimension Morton layout
    * behind [[graft.operators.Events.zorderWrite]] (whose query-side
    * twin `q_zorder_stats` pins the cell extents), exposed as a store
    * option: both dims scaled to 16-bit integer buckets over their
    * table min/max, bit-interleaved, range-partitioned and sorted by
    * the Morton key, helper columns dropped before write. The written
    * files' parquet footers then bound BOTH dimensions (each file
    * spans a quadtree-ish cell), so a point/range predicate on EITHER
    * dim prunes most files at scan time — where a single-dim sort
    * gives perfect pruning on one dim and ZERO on the other
    * (StoreSpec asserts the contrast from the written footers, the
    * ZorderSpec mechanism). At 100 TB this is the layout knob for
    * tables queried on two orthogonal keys. */
  def writeZordered(df: DataFrame, path: String, dimA: String,
      dimB: String, files: Int = 16): Unit = {
    val bounds = df.agg(
      min(col(dimA)).cast("long").as("__a0"),
      max(col(dimA)).cast("long").as("__a1"),
      min(col(dimB)).cast("long").as("__b0"),
      max(col(dimB)).cast("long").as("__b1"))
    // scale each dim to the FULL 16-bit bucket domain (a partial
    // domain would zero the high interleave bits and degenerate the
    // Morton key toward a single-dim sort) — in DECIMAL, so a
    // dimension whose range exceeds ~2^47 (e.g. nanosecond epochs)
    // cannot overflow the long multiply; IntegralDivide lands back
    // on BIGINT
    df.crossJoin(broadcast(bounds))
      .withColumn("__ab", expr(s"(cast($dimA as decimal(38,0)) - __a0)" +
        " * 65535 div greatest(__a1 - __a0, 1)"))
      .withColumn("__bb", expr(s"(cast($dimB as decimal(38,0)) - __b0)" +
        " * 65535 div greatest(__b1 - __b0, 1)"))
      .withColumn("__zkey", expr(
        """aggregate(sequence(0, 15), 0L, (acc, b) ->
          |  acc + shiftleft(shiftright(__ab, b) & 1, 2*b + 1)
          |      + shiftleft(shiftright(__bb, b) & 1, 2*b))""".stripMargin))
      .repartitionByRange(files, col("__zkey"))
      .sortWithinPartitions("__zkey")
      .drop("__a0", "__a1", "__b0", "__b1", "__ab", "__bb", "__zkey")
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** The Bloom-indexed store's shard directory column. */
  private[graft] val BloomDirCol = "__shard"

  /** BLOOM-INDEXED store write: rows land in
    * `data/__shard=<hash(key) mod shards>/` directories and an 8 KB
    * `_bloom` sidecar (the per-shard set-bit table of
    * [[graft.operators.Curation.qBloomIndex]]'s filter) is published
    * alongside. A point lookup ([[getViaBloom]]) consults the sidecar
    * FIRST: only shards whose filter contains all k probe positions
    * are read — directory-level pruning on top of parquet's own
    * footers, the LSM/SST skip-index pattern. The sidecar is published
    * atomically ([[graft.model.Artifacts]] swap) so a reader never
    * sees data without its index. */
  def writeBloomIndexed(df: DataFrame, path: String,
      keyCol: String): Unit = {
    import graft.embed.Embedder.hash60Col
    val sharded = df.withColumn(BloomDirCol,
      pmod(hash60Col(col(keyCol).cast("string")),
        lit(graft.operators.Curation.BloomShards)))
    write(sharded, s"$path/data", partitionCols = Seq(BloomDirCol))
    val keys = sharded
      .select(col(BloomDirCol).as("shard"),
        hash60Col(col(keyCol).cast("string")).as("h"))
      .distinct()
    graft.model.Artifacts.publish(
      graft.operators.Curation.bloomPositions(keys)
        .select("shard", "p").distinct(),
      s"$path/_bloom")
  }

  /** Session cache of collected `_bloom` sidecars, keyed by store path
    * AND the sidecar directory's file listing (name:len:mtime) — so
    * the point-lookup fast path pays the sidecar's Spark job + driver
    * collect ONCE per store state (the HNSW image-cache discipline),
    * and a republished sidecar (Artifacts swap) is picked up on the
    * next probe instead of serving stale membership. The sidecar is
    * 8 KB-scale by construction (shards × set bit positions). */
  /** One sidecar entry per STORE (not per state): a republished
    * sidecar REPLACES the superseded listing's bitmap instead of
    * stranding it, so the cache is bounded by the number of distinct
    * stores a session touches. */
  private val bloomSidecars = new java.util.concurrent.ConcurrentHashMap[
    String, (String, Map[Long, Set[Long]])]()

  /** MONOTONIC SNAPSHOT MANIFEST — the O(1) freshness primitive the
    * fingerprint caches key on (the table-format snapshot-id contract,
    * filesystem edition): a single `_snapshot/manifest` file inside
    * the data directory (underscore-prefixed, so Spark's reader never
    * sees it as data) holding `v<id>:<nonce>`. Every mutation routed
    * through the store API ([[bumpSnapshot]] after a write,
    * [[commitSwap]] for staged rewrites) increments the id and rolls
    * the nonce, so:
    *  - freshness is ONE small-file read, not a recursive listing
    *    walk — at 10⁸ files the walk is the cost of a LIST of the
    *    whole store per query;
    *  - a same-length in-place rewrite landing within the
    *    filesystem's mtime granularity (1 s on many local/object
    *    stores) is still visible — the nonce moves even when
    *    (path, length, mtime) does not, closing the listing
    *    fingerprint's blind spot.
    * Contract: SINGLE WRITER (the manifest swap is
    * delete-then-rename, not CAS) and all writers go through the
    * store API — an external writer that bypasses [[bumpSnapshot]]
    * is invisible once a manifest exists, exactly as a table
    * format's side-written files are. Stores with no manifest fall
    * back to the listing walk. */
  def snapshotOf(spark: SparkSession, dir: String): Option[String] = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/_snapshot/manifest")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(), "UTF-8").trim)
      finally in.close()
    }
  }

  private def writeManifest(spark: SparkSession, dir: String,
      content: String): Unit = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(s"$dir/_snapshot/.manifest.tmp")
    val dst = new org.apache.hadoop.fs.Path(s"$dir/_snapshot/manifest")
    val out = fs.create(tmp, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
    fs.delete(dst, false)
    fs.rename(tmp, dst)
  }

  private def snapshotId(snap: Option[String]): Long =
    snap.flatMap(s => s.stripPrefix("v").split(":").headOption)
      .flatMap(_.toLongOption).getOrElse(0L)

  /** Advance the snapshot after an in-place mutation (append write).
    * Returns the new manifest content. */
  def bumpSnapshot(spark: SparkSession, dir: String): String = {
    val next = s"v${snapshotId(snapshotOf(spark, dir)) + 1}:" +
      java.util.UUID.randomUUID.toString.take(8)
    writeManifest(spark, dir, next)
    next
  }

  /** Staged-rewrite commit: swap `staged` into `live` and advance the
    * snapshot in one call — the pointer-flip every S8/S9 rewrite here
    * stages through ([[deleteInto]]/[[upsertInto]] write to `staged`;
    * this publishes it). The id survives the swap (read before the
    * old directory is dropped), so a rewrite can never rewind the
    * snapshot clock. */
  def commitSwap(spark: SparkSession, staged: String,
      live: String): Unit = {
    val cur = snapshotId(snapshotOf(spark, live))
    val fs = new org.apache.hadoop.fs.Path(live)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(live), true)
    fs.rename(new org.apache.hadoop.fs.Path(staged),
      new org.apache.hadoop.fs.Path(live))
    writeManifest(spark, live, s"v${cur + 1}:" +
      java.util.UUID.randomUUID.toString.take(8))
  }

  /** Recursive (path, length, mtime) listing of a store directory —
    * the FALLBACK freshness primitive behind
    * [[graft.api.IndexPipeline.storeFingerprint]] for stores with no
    * snapshot manifest: any append / delete / rewrite under the path
    * changes it. Driver-side walk, no Spark job. Blind spot
    * (documented, closed by the manifest): a same-length in-place
    * rewrite within the filesystem's mtime granularity (1 s on many
    * local/object stores) leaves the listing unchanged. */
  private[graft] def fileListing(spark: SparkSession,
      dir: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return Seq("absent")
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      val st = it.next()
      parts += s"${st.getPath}:${st.getLen}:${st.getModificationTime}"
    }
    parts.sorted.toSeq
  }

  /** Point lookup through the Bloom sidecar: compute the probe key's k
    * bit positions driver-side (same portable hash as the writer),
    * keep only shards whose filter has ALL of them set (zero false
    * negatives by construction), and scan just those `__shard=`
    * directories. An absent key typically resolves to zero candidate
    * shards — the store answers without touching data files at all. */
  def getViaBloom(spark: SparkSession, path: String, keyCol: String,
      value: String): DataFrame = {
    import graft.embed.Embedder.hash60
    val h = hash60(value)
    val positions = (0 until graft.operators.Curation.BloomK)
      .map(i => hash60(s"$h:$i") % graft.operators.Curation.BloomBits)
      .toSet
    val listing = fileListing(spark, s"$path/_bloom").mkString(",")
    val bitmap = bloomSidecars.compute(path, { (_, prev) =>
      if (prev != null && prev._1 == listing) prev
      else (listing, read(spark, s"$path/_bloom").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).map { case (s, ps) => s -> ps.map(_._2).toSet })
    })._2
    val cands = bitmap.collect {
      case (s, ps) if positions.subsetOf(ps) => s
    }.toSeq
    val data = read(spark, s"$path/data")
    if (cands.isEmpty) data.filter(lit(false))
    else data
      .filter(col(BloomDirCol).isin(cands: _*) && col(keyCol) === value)
  }

  /** Store write with an ANALYZE-style `_stats` sidecar
    * ([[graft.operators.Relational.tableStatsOf]]): per column, row /
    * null counts, total string length, exact ndv and the KMV sketch
    * estimate — the table a cost-based planner (broadcast thresholds,
    * salt decisions) reads instead of re-scanning the store. */
  def writeWithStats(df: DataFrame, path: String,
      statsCols: Seq[String],
      partitionCols: Seq[String] = Seq.empty): Unit = {
    write(df, s"$path/data", partitionCols)
    graft.model.Artifacts.publish(
      graft.operators.Relational.tableStatsOf(df, statsCols),
      s"$path/_stats")
  }

  def readStats(spark: SparkSession, path: String): DataFrame =
    read(spark, s"$path/_stats")

  /** S8 upsert as union + keep-latest per key (ordered by `versionCol`
    * desc), staged to `dst` with the source store's partition layout. */
  def upsertInto(spark: SparkSession, src: String, dst: String,
      updates: DataFrame, idCol: String, versionCol: String): Unit = {
    val w = Window.partitionBy(idCol).orderBy(desc(versionCol))
    val merged = read(spark, src).unionByName(updates)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
    write(merged, dst, partitionColsOf(spark, src))
  }
}
