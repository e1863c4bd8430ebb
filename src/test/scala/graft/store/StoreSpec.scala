package graft
package store

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** ChunkStore adapter-surface tests (S7-S10): partitioned write/read
  * round trip, anti-join delete, keep-latest upsert, point get. */
class StoreSpec extends SparkSpec {

  private lazy val tmp = Files.createTempDirectory("graft_store").toString

  private def docs = {
    val spark2 = spark
    import spark2.implicits._
    Seq(
      (1L, "alpha", "en", 1L),
      (2L, "beta", "en", 1L),
      (3L, "gamma", "de", 1L),
      (4L, "delta", "de", 1L)
    ).toDF("doc_id", "text", "lang", "version")
  }

  test("z-ordered store write: file footers bound both dims where a " +
      "single-dim sort leaves the other unbounded") {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"),
        unix_millis(col("ts")).as("ms"))
    ChunkStore.writeZordered(ev, s"$tmp/z", "user_id", "ms")
    ev.repartitionByRange(16, col("ms")).sortWithinPartitions("ms")
      .write.mode("overwrite").parquet(s"$tmp/zt")
    def extents(p: String): Seq[Long] =
      spark.read.parquet(p)
        .groupBy(input_file_name())
        .agg((max("user_id") - min("user_id")).as("ue"))
        .collect().map(_.getLong(1)).toSeq
    def med(xs: Seq[Long]): Long = xs.sorted.apply(xs.length / 2)
    val (zu, tu) = (med(extents(s"$tmp/z")), med(extents(s"$tmp/zt")))
    // the z layout's typical file spans a bounded user range; the
    // time-sorted layout's files span essentially the whole user dim
    assert(zu < tu, s"z=$zu time-sorted=$tu")
    // round trip: no helper columns leak into the stored schema
    assert(spark.read.parquet(s"$tmp/z").columns.sorted.toSeq ===
      Seq("event_id", "ms", "user_id"))
  }

  test("z-ordered write survives a dimension with a > 2^47 range " +
      "(nanosecond-epoch scale) — the multiply is decimal, not long") {
    val spark2 = spark
    import spark2.implicits._
    // nanosecond-ish epochs: range ~1.5e18; the old long multiply
    // ((dim-min)*65535) overflows at range > ~2^47 — ANSI mode fails
    // the write, non-ANSI silently mis-buckets
    val ns = (0 until 64).map(i =>
      (i.toLong, 1_500_000_000_000_000_000L + i.toLong * 23_000_000_000_000_000L / 64))
      .toDF("id", "ts_ns")
    ChunkStore.writeZordered(ns, s"$tmp/zns", "id", "ts_ns", files = 4)
    val back = spark.read.parquet(s"$tmp/zns")
    assert(back.count() === 64)
    assert(back.columns.sorted.toSeq === Seq("id", "ts_ns"))
  }

  test("bloom-indexed store: lookup reads only bloom-positive shards, " +
      "absent keys touch no data files") {
    ChunkStore.writeBloomIndexed(docs, s"$tmp/b", "text")
    // present key: exactly its row, via a pruned shard scan
    val hit = ChunkStore.getViaBloom(spark, s"$tmp/b", "text", "gamma")
    assert(hit.collect().map(_.getLong(0)).toSeq === Seq(3L))
    // the scan is restricted to candidate shard directories
    val plan = hit.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(plan.contains("PartitionFilters") || plan.contains("__shard"),
      plan)
    // absent key: zero candidate shards — no data read at all
    val miss = ChunkStore.getViaBloom(spark, s"$tmp/b", "text", "omega")
    assert(miss.count() === 0)
    assert(miss.queryExecution.optimizedPlan.toString
      .contains("LocalRelation") ||
      miss.queryExecution.sparkPlan.toString.contains("LocalTableScan"),
      "absent-key lookup should collapse to an empty local relation")
  }

  test("stats-sidecar store write: the published profile matches an " +
      "independent recompute") {
    ChunkStore.writeWithStats(docs, s"$tmp/s",
      statsCols = Seq("doc_id", "text", "lang"))
    val stats = ChunkStore.readStats(spark, s"$tmp/s").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(4)))
      .toMap
    assert(stats("doc_id") === ((4L, 0L, 4L))) // 4 rows, 0 null, ndv 4
    assert(stats("lang") === ((4L, 0L, 2L)))
    assert(stats("text")._3 === 4L)
    // and the data itself round-trips
    assert(ChunkStore.read(spark, s"$tmp/s/data").count() === 4)
  }

  test("partitioned write/read round trip with partition pruning") {
    val p = s"$tmp/t1"
    ChunkStore.write(docs, p, partitionCols = Seq("lang"))
    val back = ChunkStore.read(spark, p)
    assert(back.count() === 4)
    // partition pruning: only the de directory feeds this scan
    val de = back.filter(col("lang") === "de")
    assert(de.count() === 2)
    assert(new java.io.File(s"$p/lang=de").exists())
  }

  test("delete rewrites via anti-join") {
    val spark2 = spark
    import spark2.implicits._
    val p = s"$tmp/t2"
    ChunkStore.write(docs, p)
    ChunkStore.deleteInto(spark, p, s"$tmp/t2_v2",
      Seq(2L, 3L).toDF("doc_id"), "doc_id")
    val after = ChunkStore.read(spark, s"$tmp/t2_v2")
    assert(after.select("doc_id").as[Long].collect().sorted.toSeq === Seq(1L, 4L))
  }

  test("upsert keeps latest version per key") {
    val spark2 = spark
    import spark2.implicits._
    val p = s"$tmp/t3"
    ChunkStore.write(docs, p)
    val updates = Seq(
      (2L, "beta-v2", "en", 2L),
      (5L, "epsilon", "fr", 1L)
    ).toDF("doc_id", "text", "lang", "version")
    ChunkStore.upsertInto(spark, p, s"$tmp/t3_v2", updates, "doc_id", "version")
    val after = ChunkStore.read(spark, s"$tmp/t3_v2")
    assert(after.count() === 5)
    assert(after.filter(col("doc_id") === 2L).select("text").head.getString(0)
      === "beta-v2")
  }

  test("deleteAndCommit / upsertAndCommit publish the staged rewrite " +
      "in place and advance the snapshot — the one-call S8/S9 form") {
    val spark2 = spark
    import spark2.implicits._
    val p = s"$tmp/t_commit"
    ChunkStore.write(docs, p)
    ChunkStore.deleteAndCommit(spark, p, Seq(3L).toDF("doc_id"),
      "doc_id")
    assert(ChunkStore.read(spark, p).select("doc_id").as[Long]
      .collect().sorted.toSeq === Seq(1L, 2L, 4L))
    val s1 = ChunkStore.snapshotOf(spark, p)
    assert(s1.exists(_.startsWith("v1:")),
      s"delete must publish snapshot v1, got $s1")
    ChunkStore.upsertAndCommit(spark, p,
      Seq((2L, "beta-v2", "en", 2L))
        .toDF("doc_id", "text", "lang", "version"),
      "doc_id", "version")
    assert(ChunkStore.read(spark, p).filter(col("doc_id") === 2L)
      .select("text").head.getString(0) === "beta-v2")
    val s2 = ChunkStore.snapshotOf(spark, p)
    assert(s2.exists(_.startsWith("v2:")) && s2 != s1,
      s"upsert must advance the snapshot, got $s2 after $s1")
    // no staged debris left beside the store
    assert(!new java.io.File(s"$tmp").listFiles()
      .exists(_.getName.contains("__staged_")),
      "a committed staged rewrite must not leave its directory behind")
  }

  test("compaction rewrites many small files into the target count") {
    val p = s"$tmp/t6"
    // 4 appends → ≥4 files
    (1 to 4).foreach(_ => ChunkStore.write(docs, p,
      mode = org.apache.spark.sql.SaveMode.Append))
    val before = new java.io.File(p).listFiles().count(_.getName.endsWith(".parquet"))
    assert(before >= 4)
    ChunkStore.compactInto(spark, p, s"$tmp/t6_c", files = 2)
    val after = new java.io.File(s"$tmp/t6_c").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(after === 2)
    assert(ChunkStore.read(spark, s"$tmp/t6_c").count() === 16)
  }

  test("json interchange round trip preserves rows") {
    val p = s"$tmp/t5"
    ChunkStore.write(docs, p, format = "json")
    val back = ChunkStore.read(spark, p, format = "json")
    assert(back.count() === 4)
    assert(back.columns.toSet === docs.columns.toSet)
  }

  test("bucketed layout: join and aggregation on the bucket key plan " +
      "with ZERO Exchange") {
    ChunkStore.writeBucketed(docs, "buck_a", buckets = 4, key = "doc_id")
    ChunkStore.writeBucketed(docs.withColumnRenamed("text", "text_b"),
      "buck_b", buckets = 4, key = "doc_id")
    // force the join path (broadcast would hide the co-location proof)
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try {
      val j = spark.table("buck_a").join(spark.table("buck_b"), "doc_id")
      val jPlan = j.queryExecution.executedPlan.toString
      assert(!jPlan.contains("Exchange"), jPlan)
      assert(j.count() === 4)
      val agg = spark.table("buck_a").groupBy("doc_id")
        .agg(count(lit(1)).as("n"))
      val aPlan = agg.queryExecution.executedPlan.toString
      assert(!aPlan.contains("Exchange"), aPlan)
      assert(agg.count() === 4)
    } finally spark.conf.set(key, prev)
  }

  test("snapshot manifest: every API mutation bumps the monotonic id " +
      "and rolls the nonce; commitSwap survives the directory swap; " +
      "a fresh store has no manifest (listing fallback)") {
    val dir = s"$tmp/snap/data"
    assert(ChunkStore.snapshotOf(spark, dir).isEmpty,
      "a never-written store must have no manifest")
    ChunkStore.write(docs, dir)
    val s1 = ChunkStore.bumpSnapshot(spark, dir)
    assert(s1.startsWith("v1:"), s"first bump must be v1: got $s1")
    val s2 = ChunkStore.bumpSnapshot(spark, dir)
    assert(s2.startsWith("v2:") && s2 != s1,
      "a second mutation must advance the id and roll the nonce")
    assert(ChunkStore.snapshotOf(spark, dir) === Some(s2))
    // staged rewrite: content identical (same lengths, possibly the
    // same mtime second — the listing fingerprint's blind spot), yet
    // the swap MUST be visible: id advances past the old manifest
    // even though the staged dir carried none
    val staged = s"$tmp/snap/staged"
    ChunkStore.write(ChunkStore.read(spark, dir), staged)
    ChunkStore.commitSwap(spark, staged, dir)
    val s3 = ChunkStore.snapshotOf(spark, dir).get
    assert(s3.startsWith("v3:") && s3 != s2,
      "commitSwap must advance the pre-swap id, never rewind it")
    assert(ChunkStore.read(spark, dir).count() === 4,
      "the swapped data must read back (manifest invisible to Spark)")
  }

  test("point get pushes the predicate down") {
    val p = s"$tmp/t4"
    ChunkStore.write(docs, p)
    val one = ChunkStore.get(spark, p, "doc_id", 3L)
    assert(one.count() === 1)
    val plan = one.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      (plan.contains("IsNotNull(doc_id)") || plan.contains("EqualTo(doc_id")))
  }

  test("deleteAndCommit / upsertAndCommit keep an IndexPipeline store's " +
      "sourceType partitioning: a later append still reads every row") {
    import graft.api.IndexPipeline
    val t0 = java.sql.Timestamp.valueOf("2026-01-02 03:04:05")
    // 8 one-chunk files into a fresh sourceType-partitioned store
    def indexed(name: String): String = {
      val in = Files.createTempDirectory(s"graft_store_in_$name")
      (0 until 8).foreach(i => Files.writeString(in.resolve(s"f$i.txt"),
        s"file $i body " * 5))
      val store = s"$tmp/$name"
      IndexPipeline.indexFiles(spark, in.toString, "*", store, t0)
      assert(spark.read.parquet(s"$store/chunks").count() === 8)
      store
    }
    val del = indexed("partitioned_delete")
    val chunks = s"$del/chunks"
    val victim = spark.read.parquet(chunks).select("id").head.getString(0)
    val spark2 = spark
    import spark2.implicits._
    ChunkStore.deleteAndCommit(spark, chunks, Seq(victim).toDF("id"), "id")
    IndexPipeline.indexText(spark, "appended text body " * 5, "appended",
      del, t0)
    assert(spark.read.parquet(chunks).count() === 8,
      "a delete rewrite lost the store's partitioning: the append hid " +
        "the rewritten rows")
    val ups = indexed("partitioned_upsert")
    val upChunks = s"$ups/chunks"
    val update = spark.read.parquet(upChunks).limit(1)
      .withColumn("content", lit("rewritten"))
      .withColumn("createdAt",
        lit(java.sql.Timestamp.valueOf("2026-01-03 00:00:00")))
    ChunkStore.upsertAndCommit(spark, upChunks, update, "id", "createdAt")
    IndexPipeline.indexText(spark, "appended text body " * 5, "appended",
      ups, t0)
    val after = spark.read.parquet(upChunks)
    assert(after.count() === 9,
      "an upsert rewrite lost the store's partitioning: the append hid " +
        "the rewritten rows")
    assert(after.filter(col("content") === "rewritten").count() === 1)
  }
}
