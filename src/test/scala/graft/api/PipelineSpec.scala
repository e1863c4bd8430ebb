package graft
package api

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import org.apache.spark.sql.functions._

/** End-to-end product-loop test (SURVEY.md §3.1-§3.2): index a real
  * file tree → chunk dispatch by extension → embed → store → search →
  * expand. Mirrors the reference's integration suite
  * (tests/integration/indexing-flow / search-flow). */
class PipelineSpec extends SparkSpec {

  private val t0 = Timestamp.valueOf("2026-01-02 03:04:05")
  private lazy val root = Files.createTempDirectory("graft_pipe")
  private lazy val store = s"$root/store"

  private lazy val indexed: IndexPipeline.IndexResult = {
    val in = Files.createDirectory(root.resolve("in"))
    Files.writeString(in.resolve("guide.md"),
      s"""# Guide
         |
         |${"the quick brown fox jumps over the lazy dog " * 8}
         |
         |## Setup
         |
         |install the gizmo bundle with flurb package manager now
         |
         |## Usage
         |
         |${"run the gizmo pipeline with sensible defaults " * 6}""".stripMargin)
    Files.writeString(in.resolve("engine.ts"),
      s"""import { scan } from 'core'
         |import { plan } from 'optimizer'
         |
         |function scanTable() {
         |  return "${"columnar batch reader with predicate pushdown " * 4}"
         |}
         |
         |class QueryEngine {
         |  run() { return "${"vectorized execution over parquet row groups " * 4}" }
         |}""".stripMargin)
    Files.writeString(in.resolve("notes.txt"),
      "zanzibar telescope aardvark " * 40)
    Files.writeString(in.resolve("blob.bin"), "binary payload ignored")
    IndexPipeline.indexFiles(spark, s"$root/in", "*", store, t0)
  }

  test("indexes text files only, chunks with per-extension settings") {
    assert(indexed.sources === 3) // .bin gated out (S6)
    assert(indexed.chunks > 3)
    val chunks = spark.read.parquet(s"$store/chunks")
    assert(chunks.count() === indexed.chunks)
    // dispatch: markdown got boundaries, code got named boundaries
    val mdTypes = chunks.filter(col("sourceType") === "docs")
      .select("boundary.boundaryType").distinct().collect().map(_.getString(0)).toSet
    assert(mdTypes.contains("heading"))
    val codeNames = chunks.filter(col("sourceType") === "code")
      .select("boundary.name").na.drop().collect().map(_.getString(0)).toSet
    assert(codeNames.contains("scanTable") && codeNames.contains("QueryEngine"))
    // partition layout: one directory per sourceType
    assert(new java.io.File(s"$store/chunks/sourceType=code").exists())
    // reproducible timestamps (injected clock)
    assert(chunks.select("createdAt").distinct().count() === 1)
  }

  test("semantic search finds the right file; F3 filter prunes by type") {
    indexed
    val hits = IndexPipeline.search(spark, store, "zanzibar telescope aardvark", k = 3)
    assert(hits.count() > 0)
    val top = hits.head
    assert(top.getAs[String]("sourceType") === "file") // notes.txt
    // filter to code only: the txt content can no longer appear.
    // Documented divergence (SURVEY.md §7.4 #4): the reference's
    // DuckDB adapter IGNORES the metadata filter during search
    // (duckdb-adapter.ts:195-235); this engine applies filters
    // uniformly pre-kNN, matching the SQLite adapter's semantics.
    val codeOnly = IndexPipeline.search(spark, store,
      "zanzibar telescope aardvark", k = 3, sourceType = Some("code"))
    assert(codeOnly.select("sourceType").distinct().collect()
      .map(_.getString(0)).toSet === Set("code"))
  }

  test("ANN-indexed search agrees with the brute-force scan on this " +
      "store and is deterministic") {
    indexed
    val q = "zanzibar telescope aardvark"
    val ann = IndexPipeline.searchAnn(spark, store, q, k = 3).collect()
    assert(ann.length === 3)
    // the templated store contains chunks with IDENTICAL embeddings
    // (equal scores), and the two paths break those ties on different
    // keys (chunk id vs hash60(vec_id)) — so agreement is pinned on
    // SCORES: every ANN hit must score at least the brute-force 3rd
    // hit (i.e. belong to a valid top-3 under ties)
    val brute = IndexPipeline.search(spark, store, q, k = 10,
      rerank = false).collect()
      .map(r => r.getAs[String]("id") -> r.getAs[Double]("score"))
    val third = brute(2)._2
    val bruteScore = brute.toMap
    ann.foreach { r =>
      val id = r.getAs[String]("id")
      assert(bruteScore.contains(id), s"ANN returned $id not in brute top-10")
      assert(bruteScore(id) >= third - 1e-6,
        s"ANN hit $id scores ${bruteScore(id)} below the brute 3rd $third")
    }
    assert(bruteScore(ann.head.getAs[String]("id")) >= brute.head._2 - 1e-6,
      "ANN top-1 is not a valid brute-force top-1 under ties")
    // session-cached artifact ⇒ bit-identical repeat
    val again = IndexPipeline.searchAnn(spark, store, q, k = 3).collect()
    assert(ann.map(r => (r.getAs[String]("id"), r.getAs[Double]("score")))
      .sameElements(again.map(r =>
        (r.getAs[String]("id"), r.getAs[Double]("score")))))
  }

  test("searchAnn derives the serving regime from the node budget: a " +
      "store whose image outgrows it serves partitioned, same contract") {
    indexed
    val q = "zanzibar telescope aardvark"
    // a budget the store's image provably exceeds ⇒ the partitioned
    // regime: a third of the store's own image size, so S lands at
    // ~3 regardless of how many chunks the fixture indexes
    val n = spark.read.parquet(s"$store/chunks").count()
    val tiny = math.max(1L,
      n * graft.operators.Hnsw.imageBytesPerVec(
        graft.embed.Embedder.DefaultDim) / 3)
    assert(graft.operators.Hnsw.shardCountFor(
        n, graft.embed.Embedder.DefaultDim, tiny) >= 2,
      "planted budget failed to force the partitioned regime")
    val ann = IndexPipeline.searchAnn(spark, store, q, k = 3,
      nodeBudgetBytes = tiny).collect()
    assert(ann.length === 3)
    // same score-level contract as the monolithic regime: every hit
    // belongs to a valid brute-force top-3 under ties
    val brute = IndexPipeline.search(spark, store, q, k = 10,
      rerank = false).collect()
      .map(r => r.getAs[String]("id") -> r.getAs[Double]("score"))
    val third = brute(2)._2
    val bruteScore = brute.toMap
    ann.foreach { r =>
      val id = r.getAs[String]("id")
      assert(bruteScore.contains(id), s"ANN returned $id not in brute top-10")
      assert(bruteScore(id) >= third - 1e-6,
        s"partitioned ANN hit $id scores ${bruteScore(id)} below the " +
          s"brute 3rd $third")
    }
  }

  test("hybrid search blends keyword ratio into the score") {
    indexed
    val hits = IndexPipeline.hybridSearch(spark, store,
      "predicate pushdown", k = 3)
    assert(hits.count() > 0)
    assert(hits.head.getAs[String]("sourceType") === "code")
  }

  test("Q3 original content fast path returns the stored source") {
    indexed
    val chunks = spark.read.parquet(s"$store/chunks")
    val sid = chunks.filter(col("sourceType") === "file")
      .select("sourceId").head.getString(0)
    val oc = IndexPipeline.originalContent(spark, store, sid)
    assert(oc.count() === 1)
    assert(oc.head.getString(1).contains("zanzibar telescope aardvark"))
  }

  test("Q4 section content: nested boundary filter + reassembly") {
    indexed
    val sec = IndexPipeline.sectionContent(spark, store, "heading",
      title = Some("Setup"))
    assert(sec.count() === 1)
    assert(sec.head.getString(1).contains("gizmo bundle"))
  }

  test("D4 anti-join: only unseen paths remain to index") {
    indexed
    val spark2 = spark
    import spark2.implicits._
    val chunks = spark.read.parquet(s"$store/chunks")
    val knownPath = chunks.select(col("metadata.path")).head.getString(0)
    val cand = Seq(knownPath, "file:/somewhere/new.md").toDF("path")
    val missing = IndexPipeline.notYetIndexed(spark, store, cand)
    assert(missing.collect().map(_.getString(0)).toSeq === Seq("file:/somewhere/new.md"))
  }

  test("error channel: oversize files recorded, not fatal") {
    val in2 = Files.createDirectory(root.resolve("in2"))
    Files.writeString(in2.resolve("ok.txt"), "small fry " * 20)
    Files.writeString(in2.resolve("big.txt"), "x " * 600)
    val store2 = s"$root/store2"
    val r = IndexPipeline.indexFiles(spark, in2.toString, "*", store2, t0,
      maxFileBytes = 500)
    assert(r.errors === 1 && r.sources === 1)
    val errs = spark.read.parquet(s"$store2/errors")
    assert(errs.count() === 1)
    assert(errs.head.getString(0).endsWith("big.txt"))
  }

  test("agent modes truncate content to the mode budget") {
    indexed
    val sum = AgentQuery.query(spark, store, "zanzibar telescope",
      mode = "summary")
    val full = AgentQuery.query(spark, store, "zanzibar telescope",
      mode = "full")
    assert(sum.hits.forall(_.content.length <= 200))
    assert(full.hits.map(_.content.length).max >
      sum.hits.map(_.content.length).max)
    assert(sum.analysis.estTokens > 0)
    assert(sum.analysis.estTokens < full.analysis.estTokens)
  }

  test("searchAnn freshness: mutate-then-search agrees with the brute " +
      "path (delta arm, sealed-member tombstone, reseal)") {
    val store3 = s"$root/store_mut"
    val vocab = Seq("ember", "quartz", "falcon", "meadow", "cobalt",
      "tundra", "violet", "saffron", "beacon", "harbor")
    vocab.zipWithIndex.foreach { case (w, i) =>
      IndexPipeline.indexText(spark, s"$w document body " * 30, s"d$i",
        store3, t0)
    }
    def annIds(q: String, k: Int): Seq[String] =
      IndexPipeline.searchAnn(spark, store3, q, k = k).collect()
        .map(_.getAs[String]("id")).toSeq
    // the adapter-equivalence contract (the reference's
    // base-adapter.test.ts at the ANN path): every ANN hit belongs to
    // a valid brute-force top-k under ties, whatever the store's
    // mutation state
    def checkParity(q: String, k: Int): Unit = {
      val ann = annIds(q, k)
      val brute = IndexPipeline.search(spark, store3, q, k = 50,
        rerank = false).collect()
        .map(r => r.getAs[String]("id") -> r.getAs[Double]("score"))
      val bruteScore = brute.toMap
      val kth = brute(math.min(k, brute.length) - 1)._2
      assert(ann.length === math.min(k, brute.length))
      ann.foreach { id =>
        assert(bruteScore.contains(id), s"ANN hit $id unknown to brute")
        assert(bruteScore(id) >= kth - 1e-6,
          s"ANN hit $id scores ${bruteScore(id)} below brute ${k}th $kth")
      }
    }
    val q = "glacier obsidian lantern"
    checkParity(q, 3) // seals the artifact against the 10-doc store
    // S7 mutation: a post-seal document that BEATS the sealed corpus
    // on q — a stale image cannot see it, the delta arm must
    IndexPipeline.indexText(spark, s"$q " * 30, "winner", store3, t0)
    val bruteTop = IndexPipeline.search(spark, store3, q, k = 1,
      rerank = false).head.getAs[String]("id")
    assert(annIds(q, 3).contains(bruteTop),
      "searchAnn misses the post-seal best match — stale index served")
    checkParity(q, 3)
    // S9 mutation: delete a SEALED member that tops its own query —
    // a stale serve keeps reporting it, the tombstone rule must not
    val q2 = "ember document body"
    val doomed = IndexPipeline.search(spark, store3, q2, k = 1,
      rerank = false).head.getAs[String]("id")
    val chunks = spark.read.parquet(s"$store3/chunks")
    val doomedSrc = chunks.filter(col("id") === doomed)
      .select("sourceId").head.getString(0)
    val staged = s"$root/store_mut_staged"
    graft.store.ChunkStore.write(
      chunks.filter(col("sourceId") =!= doomedSrc), staged,
      partitionCols = Seq("sourceType"))
    // publish staged → live through the snapshot-bumping commit
    // (the table-format pointer flip; keeps O(1) freshness honest)
    graft.store.ChunkStore.commitSwap(spark, staged, s"$store3/chunks")
    assert(!annIds(q2, 3).contains(doomed),
      "deleted sealed chunk resurfaced from the stale ANN image")
    checkParity(q2, 3)
    // grow past the reseal threshold (delta > sealed/2) — the
    // artifact rebuilds against the current corpus, parity holds
    (0 until 12).foreach(i => IndexPipeline.indexText(spark,
      s"${vocab(i % vocab.size)} extra corpus growth " * 25,
      s"g$i", store3, t0))
    checkParity(q, 3)
    assert(annIds(q, 3).contains(bruteTop),
      "post-reseal serve lost the delta member it should have sealed in")
    // S8 mutation: rewrite a chunk IN PLACE (same chunk id — the id is
    // md5(sourceId:index), not content-derived, so only a census keyed
    // on content can see this): the OLD embedding must tombstone out
    // of the sealed image and the NEW one must serve via the delta arm
    val qNew = "zephyr quill obsidian marble"
    val victim = IndexPipeline.search(spark, store3,
      "quartz document body", k = 1, rerank = false)
      .head.getAs[String]("id")
    val chunks2 = spark.read.parquet(s"$store3/chunks")
    val newVec = graft.embed.Embedder
      .withDim(graft.embed.Embedder.DefaultDim)
      .embed(s"$qNew " * 30).map(_.toFloat)
    val updates = chunks2.filter(col("id") === victim)
      .withColumn("content", lit(s"$qNew " * 30))
      .withColumn("embedding", lit(newVec))
      .withColumn("createdAt",
        lit(Timestamp.valueOf("2026-01-03 00:00:00")))
    val staged2 = s"$root/store_mut_staged2"
    graft.store.ChunkStore.upsertInto(spark, s"$store3/chunks", staged2,
      updates, "id", "createdAt")
    graft.store.ChunkStore.commitSwap(spark, staged2, s"$store3/chunks")
    assert(annIds(qNew, 1) === Seq(victim),
      "searchAnn missed an in-place content rewrite — the census " +
        "cannot key on chunk id alone")
    checkParity(qNew, 3)
    checkParity("quartz document body", 3)
  }

  /** Adapter-equivalence check shared by the mutation-economics pins:
    * every ANN hit belongs to a valid brute-force top-k under ties. */
  private def checkAnnParity(storeP: String, q: String, k: Int): Unit = {
    val ann = IndexPipeline.searchAnn(spark, storeP, q, k = k).collect()
      .map(_.getAs[String]("id")).toSeq
    val brute = IndexPipeline.search(spark, storeP, q, k = 50,
      rerank = false).collect()
      .map(r => r.getAs[String]("id") -> r.getAs[Double]("score"))
    val bruteScore = brute.toMap
    val kth = brute(math.min(k, brute.length) - 1)._2
    assert(ann.length === math.min(k, brute.length))
    ann.foreach { id =>
      assert(bruteScore.contains(id), s"ANN hit $id unknown to brute")
      assert(bruteScore(id) >= kth - 1e-6,
        s"ANN hit $id scores ${bruteScore(id)} below brute ${k}th $kth")
    }
  }

  test("searchAnn derives the mutation state ONCE per store " +
      "fingerprint — repeat serves between mutations re-read the " +
      "persisted delta/dead tables, never the corpus anti-joins") {
    val storeM = s"$root/store_memo"
    val vocab = Seq("walnut", "ginger", "maple", "cedar", "basil",
      "fennel", "clover", "aspen")
    vocab.zipWithIndex.foreach { case (w, i) =>
      IndexPipeline.indexText(spark, s"$w memo body " * 30, s"m$i",
        storeM, t0)
    }
    val q = "cedar memo body"
    checkAnnParity(storeM, q, 3) // seals the artifact
    val d0 = IndexPipeline.mutationDerivations.get()
    // S7 mutation → exactly ONE derivation across three serves
    IndexPipeline.indexText(spark, s"$q fresh " * 30, "mw", storeM, t0)
    checkAnnParity(storeM, q, 3)
    checkAnnParity(storeM, "ginger memo body", 3)
    checkAnnParity(storeM, q, 5)
    assert(IndexPipeline.mutationDerivations.get() === d0 + 1,
      "repeat serves on an unchanged mutated store re-derived the " +
        "delta/dead state (the corpus-scale anti-joins ran per query)")
    // a SECOND mutation moves the fingerprint → exactly one more
    IndexPipeline.indexText(spark, s"maple grove extra " * 25, "mx",
      storeM, t0)
    checkAnnParity(storeM, q, 3)
    checkAnnParity(storeM, "maple grove extra", 3)
    assert(IndexPipeline.mutationDerivations.get() === d0 + 2,
      "a new store state must re-derive exactly once")
  }

  test("past the driver cap the tombstone exclusion rides the Bloom + " +
      "verified-candidate path: deleted members never resurface, " +
      "parity holds, the dead set is never collected") {
    spark.conf.set("spark.graft.ann.deadSetCap", "1")
    try {
      val storeB = s"$root/store_bloom"
      val vocab = Seq("onyx", "jade", "topaz", "beryl", "agate",
        "coral", "amber", "pearl", "opal", "flint")
      vocab.zipWithIndex.foreach { case (w, i) =>
        IndexPipeline.indexText(spark, s"$w gem body " * 30, s"b$i",
          storeB, t0)
      }
      val q = "jade gem body"
      checkAnnParity(storeB, q, 3) // seals
      // S9: delete THREE sealed sources (> cap=1 → Bloom branch),
      // among them the top hit for q — it must not resurface
      val doomedTop = IndexPipeline.search(spark, storeB, q, k = 1,
        rerank = false).head.getAs[String]("id")
      val chunks = spark.read.parquet(s"$storeB/chunks")
      val doomedSrcs = chunks
        .filter(col("id") === doomedTop).select("sourceId")
        .unionByName(chunks.filter(
          col("metadata.title").isin("b7", "b8")).select("sourceId"))
        .distinct().collect().map(_.getString(0)).toSeq
      val staged = s"$root/store_bloom_staged"
      graft.store.ChunkStore.write(
        chunks.filter(!col("sourceId").isin(doomedSrcs: _*)), staged,
        partitionCols = Seq("sourceType"))
      graft.store.ChunkStore.commitSwap(spark, staged,
        s"$storeB/chunks")
      val ann = IndexPipeline.searchAnn(spark, storeB, q, k = 3)
        .collect().map(_.getAs[String]("id")).toSeq
      assert(!ann.contains(doomedTop),
        "deleted sealed chunk resurfaced through the Bloom branch")
      checkAnnParity(storeB, q, 3)
      checkAnnParity(storeB, "onyx gem body", 3)
    } finally spark.conf.unset("spark.graft.ann.deadSetCap")
  }

  private val Adv = "spark.sql.adaptive.advisoryPartitionSizeInBytes"

  private def withConf[T](key: String, value: String)(f: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try f
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** The sealed artifact of `storeP` at the default node budget. */
  private def artifactOf(storeP: String): IndexPipeline.AnnArtifact =
    IndexPipeline.annIndexes.get(
      s"$storeP#${graft.operators.Hnsw.DefaultNodeBudget}")

  /** One mutation state derived by both arms: in-process at the
    * session's settings, then by the Spark plan with the gate closed
    * (advisory partition size 1 byte). Both must write the same
    * `delta` (vec_id, embedding, nrm) and `dead` (sorted vec_id) rows
    * and report the same counts. Returns whether the first derivation
    * ran in-process. */
  private def bothArmsAgree(storeP: String, tag: String): Boolean = {
    val art = artifactOf(storeP)
    val l0 = IndexPipeline.localMutationDerivations.get()
    val local = IndexPipeline.deriveMutationState(spark, storeP, art,
      s"local-$tag")
    val ranLocal = IndexPipeline.localMutationDerivations.get() == l0 + 1
    val dist = withConf(Adv, "1b") {
      assert(!IndexPipeline.mutationFitsInProcess(spark, art))
      IndexPipeline.deriveMutationState(spark, storeP, art, s"spark-$tag")
    }
    assert(IndexPipeline.localMutationDerivations.get() ===
      (if (ranLocal) l0 + 1 else l0), "the closed gate ran in-process")
    assert(local.deltaN === dist.deltaN)
    assert(local.deadN === dist.deadN)
    def delta(d: String) = {
      val df = spark.read.parquet(s"$d/delta.parquet")
      (df.schema, df.collect().map(r => (Option(r.get(0)),
        Option(r.getSeq[Float](1)), Option(r.get(2))))
        .sortBy(_._1.map(_.toString)).toSeq)
    }
    def dead(d: String) = {
      val df = spark.read.parquet(s"$d/dead.parquet")
      (df.schema, df.collect().map(_.getLong(0)).toSeq)
    }
    assert(delta(local.dir) === delta(dist.dir))
    assert(dead(local.dir) === dead(dist.dir))
    assert(dead(local.dir)._2 === dead(local.dir)._2.sorted)
    ranLocal
  }

  test("mutation state: the in-process derivation writes the Spark " +
      "plan's delta and dead rows (append, in-place rewrite, delete, " +
      "null content); a null chunk id keeps the Spark plan") {
    val storeP = s"$root/store_mutarms"
    val vocab = Seq("lilac", "umber", "sienna", "indigo", "russet",
      "ochre")
    vocab.zipWithIndex.foreach { case (w, i) =>
      IndexPipeline.indexText(spark, s"$w arm body " * 30, s"a$i",
        storeP, t0)
    }
    checkAnnParity(storeP, "lilac arm body", 3) // seals
    assert(IndexPipeline.mutationFitsInProcess(spark, artifactOf(storeP)))
    IndexPipeline.indexText(spark, "cerulean arm fresh " * 30, "a_new",
      storeP, t0)
    val chunks = spark.read.parquet(s"$storeP/chunks")
    def of(title: String) = chunks.filter(col("metadata.title") === title)
    val newVec = graft.embed.Embedder
      .withDim(graft.embed.Embedder.DefaultDim)
      .embed("zephyr quill " * 30).map(_.toFloat)
    // a1 rewritten in place (same chunk id, new content and
    // embedding), a2 deleted, a4's content nulled (a null key part)
    val mutated = chunks
      .filter(!col("metadata.title").isin("a1", "a2", "a4"))
      .unionByName(of("a1").withColumn("content", lit("zephyr quill " * 30))
        .withColumn("embedding", lit(newVec)))
      .unionByName(of("a4").withColumn("content", lit(null).cast("string")))
    val staged = s"$root/store_mutarms_staged"
    graft.store.ChunkStore.write(mutated, staged,
      partitionCols = Seq("sourceType"))
    graft.store.ChunkStore.commitSwap(spark, staged, s"$storeP/chunks")
    assert(bothArmsAgree(storeP, "a"),
      "a store inside the gate did not derive in-process")
    // a row with a null chunk id: the Spark plan's null semantics
    val cur = spark.read.parquet(s"$storeP/chunks")
    val withNullId = cur.unionByName(cur
      .filter(col("metadata.title") === "a3")
      .withColumn("id", lit(null).cast("string")))
    val staged2 = s"$root/store_mutarms_staged2"
    graft.store.ChunkStore.write(withNullId, staged2,
      partitionCols = Seq("sourceType"))
    graft.store.ChunkStore.commitSwap(spark, staged2, s"$storeP/chunks")
    assert(!bothArmsAgree(storeP, "b"),
      "a null chunk id derived in-process")
  }

  test("a store sealed empty derives its first mutation with the Spark " +
      "plan: nothing is collected against a zero sealed width") {
    val storeE = s"$root/store_empty_seal"
    IndexPipeline.indexText(spark, "seed slate text " * 30, "e0", storeE,
      t0)
    val rows = spark.read.parquet(s"$storeE/chunks")
    val full = s"$root/store_empty_full"
    graft.store.ChunkStore.write(rows, full)
    val empty = s"$root/store_empty_none"
    graft.store.ChunkStore.write(rows.limit(0), empty)
    graft.store.ChunkStore.commitSwap(spark, empty, s"$storeE/chunks")
    assert(IndexPipeline.searchAnn(spark, storeE, "seed slate text", k = 3)
      .count() === 0) // seals the empty store
    val art = artifactOf(storeE)
    assert(art.sealedCount === 0 && art.dim === 0)
    assert(!IndexPipeline.mutationFitsInProcess(spark, art))
    graft.store.ChunkStore.commitSwap(spark, full, s"$storeE/chunks")
    val d0 = IndexPipeline.mutationDerivations.get()
    val l0 = IndexPipeline.localMutationDerivations.get()
    checkAnnParity(storeE, "seed slate text", 1)
    assert(IndexPipeline.mutationDerivations.get() === d0 + 1)
    assert(IndexPipeline.localMutationDerivations.get() === l0,
      "the first mutation of an empty seal ran in-process")
  }

  test("S1 raw-text indexing round trips through the same store") {
    indexed
    val r = IndexPipeline.indexText(spark, "plutonium widget factory " * 50,
      "raw-note", store, t0)
    assert(r.chunks >= 1)
    val hits = IndexPipeline.search(spark, store, "plutonium widget", k = 2,
      sourceType = Some("text"))
    assert(hits.count() > 0)
  }
}
