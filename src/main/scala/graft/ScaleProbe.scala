package graft

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.api.{CurationPipeline, IndexPipeline}
import graft.operators.{Ann, Hnsw, IncrementalIndex => II, Search}

/** The probe harness: a table of named entries, each one a claim an
  * open ROADMAP item still needs a number for, run against corpora
  * derived ×`mult` from the tables at `sfDir` and timed by the bench's
  * one timer ([[Bench.timedOrSentinel]]). Prints ONE JSON line,
  * `{"probe":"scale","sf":…,"mult":…,"<entry>":{"sec":…,"result":{…}}}`;
  * a failed entry records the sentinel `sec` and its `error` instead,
  * and the run exits non-zero. Settled probes were retired with their
  * code; SCALE.md's retired-probe index names the commit that still
  * holds each one.
  *
  * Usage: runMain graft.ScaleProbe [sfDir] [mult] [workDir] [only]
  *
  * `only` is a comma-separated list of entry names and registry row
  * names: row names restrict the `sf1` sweep to those rows (and select
  * it), so `sf1` at mult 1 times named rows in one warm session. An
  * unknown name fails before any corpus is built.
  */
object ScaleProbe {

  /** An ordered JSON object; [[json]] renders it. */
  private[graft] final case class Obj(fields: (String, Any)*)

  /** The probe table, in run order. */
  private val Entries: Seq[(String, Ctx => Any)] = Seq(
    "pipeline_full" -> (pipelineFull _),
    "pipeline_stages" -> (pipelineStages _),
    "sf1" -> (sf1 _),
    "searchann_mutated" -> (searchAnnMutated _),
    "hnsw_sharded" -> (hnswSharded _),
    "qv_prune" -> (qvPrune _),
    "hnsw_spill" -> (hnswSpill _),
    "hnsw_build" -> ((c: Ctx) => hnswArms(c, graph = false)),
    "hnsw_graph" -> ((c: Ctx) => hnswArms(c, graph = true)))

  /** The entries `only` selects (all when empty) and the registry rows
    * of the `sf1` sweep (all when `only` names none). Any other name
    * throws, naming the known entries. */
  private[graft] def select(only: Set[String]): (Seq[String], Seq[String]) = {
    val registry = SparkEntry.queries.keySet
    val unknown = only -- Entries.map(_._1) -- registry
    if (unknown.nonEmpty)
      throw new IllegalArgumentException(
        s"unknown probe ${unknown.toSeq.sorted.mkString(", ")}; known " +
          s"entries: ${Entries.map(_._1).mkString(", ")}, or any " +
          "registry row name (selects sf1)")
    val rows = only.intersect(registry).toSeq.sorted
    val names = Entries.map(_._1).filter(n => only.isEmpty ||
      only.contains(n) || (n == "sf1" && rows.nonEmpty))
    (names, if (rows.isEmpty) registry.toSeq.sorted else rows)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val mult = args.lift(1).map(_.toInt).getOrElse(20)
    val work = args.lift(2).getOrElse(
      java.nio.file.Files.createTempDirectory("graft_scale").toString)
    val only: Set[String] =
      args.lift(3).map(_.split(",").toSet).getOrElse(Set.empty)
    select(only)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    GraftSession.setLogLevel(spark, "WARN")
    val (line, failed) =
      try run(spark, sfDir, mult, work, only) finally spark.stop()
    println(line)
    if (failed.nonEmpty) sys.exit(1)
  }

  /** Run the selected entries; returns the JSON line and the names of
    * the entries that failed. Each entry runs as its own job: session
    * caches are dropped first, so its time covers the operator's whole
    * lineage. */
  private[graft] def run(spark: SparkSession, sfDir: String, mult: Int,
      work: String, only: Set[String]): (String, Seq[String]) = {
    val (names, rows) = select(only)
    val c = new Ctx(spark, sfDir, mult, work, rows)
    val results = names.map { name =>
      Cache.clear(spark)
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.setJobDescription(s"probe:$name")
      val (sec, r) = try Bench.timedOrSentinel(Entries.toMap.apply(name)(c))
        finally spark.sparkContext.setJobDescription(null)
      r.failed.foreach(e => System.err.println(s"[probe] $name failed: $e"))
      (name, sec, r)
    }
    (json(Obj(Seq("probe" -> "scale", "sf" -> sfDir, "mult" -> mult) ++
      results.map { case (name, sec, r) =>
        name -> Obj("sec" -> sec, r.fold(
          e => "error" -> String.valueOf(e.getMessage), "result" -> _))
      }: _*)),
      results.collect { case (name, _, r) if r.isFailure => name })
  }

  /** Compact JSON: [[Obj]] → object, Seq → array, doubles to 3
    * decimals (non-finite → null). */
  private[graft] def json(v: Any): String = v match {
    case Obj(fs @ _*) =>
      fs.map { case (k, x) => json(k) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Seq[_] => xs.map(json).mkString("[", ",", "]")
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null"
      else BigDecimal(d).setScale(3, BigDecimal.RoundingMode.HALF_UP)
        .underlying.stripTrailingZeros.toPlainString
    case s: String => s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
      case ch => ch.toString
    }.mkString("\"", "", "\"")
    case x => x.toString
  }

  /** `body`'s wall in seconds and its result, on the bench's timer;
    * a failure propagates to the entry. */
  private def wall[A](body: => A): (Double, A) = {
    val (t, r) = Bench.timedOrSentinel(body)
    (t, r.get)
  }

  /** One run's settings and its derived corpora, each built at most
    * once per run and only when an entry reads it. */
  private final class Ctx(val spark: SparkSession, val sfDir: String,
      val mult: Int, val work: String, val rows: Seq[String]) {

    /** `mult` copies of `df`: replica r moves each column of `shifts`
      * by r × its unit, so keys stay distinct across replicas and
      * joined within one; `derive` then sets columns from the replica
      * number `rep` before it is dropped. */
    def replicate(df: DataFrame, shifts: Seq[(String, Long)],
        derive: (String, Column)*): DataFrame = {
      val rep = df.crossJoin(spark.range(mult).withColumnRenamed("id", "rep"))
      val shifted = shifts.foldLeft(rep) { case (d, (c, unit)) =>
        d.withColumn(c, col(c) + col("rep") * unit)
      }
      derive.foldLeft(shifted) { case (d, (c, e)) => d.withColumn(c, e) }
        .drop("rep")
    }

    private def write(df: DataFrame, dir: String, table: String): Unit =
      df.write.mode("overwrite").parquet(s"$dir/$table.parquet")

    /** The documents, `mult` exact copies with shifted ids. */
    private def docs = replicate(Tables.documents(spark, sfDir),
      Seq("doc_id" -> 10000000L))

    lazy val docsDir: String = {
      val d = s"$work/docs"
      write(docs, d, "documents")
      d
    }

    /** Every fact table replicated, with per-replica id shifts that
      * keep join keys consistent within a replica; the dimension
      * tables pass through (their cardinality is scale-invariant). */
    lazy val sf1Dir: String = {
      val d = s"$work/sf1"
      write(docs, d, "documents")
      write(replicate(Tables.events(spark, sfDir),
        Seq("user_id" -> 10000000L, "event_id" -> 1000000000L)), d, "events")
      // lineitem and orders shift the SAME order-key unit so every
      // replica keeps its fact-fact join intact
      write(replicate(Tables.lineitem(spark, sfDir),
        Seq("l_orderkey" -> 100000000L)), d, "lineitem")
      write(replicate(Tables.orders(spark, sfDir),
        Seq("o_orderkey" -> 100000000L)), d, "orders")
      write(replicate(Tables.embeddings(spark, sfDir),
        Seq("vec_id" -> 10000000L)), d, "embeddings")
      Seq("region", "nation", "customer", "supplier", "part").foreach(t =>
        write(Tables.t(spark, sfDir, t), d, t))
      d
    }

    /** Sign-flip replicated embeddings with labels: distinct vectors
      * (replica r > 0 flips a hash-chosen half of the coordinates),
      * the corpus the serving entries share. */
    lazy val hnswProbeDir: String = {
      val emb = Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
      val d = s"$work/hm"
      write(replicate(emb, Seq("vec_id" -> emb.count()),
        "embedding" -> expr(
          "transform(embedding, (x, i) -> CASE WHEN rep = 0 THEN x " +
            "WHEN pmod(hash(rep, i), 2) = 0 THEN x ELSE -x END)"))
        .withColumn("label", pmod(col("vec_id"), lit(8L))), d, "embeddings")
      d
    }

    /** Exact brute-force top-10 for queries `vec_id < 40` of `dir`,
      * the query itself excluded — the recall denominator. */
    def bruteTop10(dir: String): Map[Long, Set[Long]] = {
      import graft.functions.VectorFunctions.{cosinePrenormed, dot}
      val e = Search.embNormed(spark, dir)
      val qv = e.filter(col("vec_id") < 40)
        .select(col("vec_id").as("qid"),
          col("embedding").as("qv"), col("nrm").as("qn"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("qid").orderBy(desc("score"), col("vec_id"))
      e.crossJoin(broadcast(qv))
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("score", round(
          cosinePrenormed(dot(col("embedding"), col("qv")),
            col("nrm"), col("qn")), 6))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 10)
        .select("qid", "vec_id").collect()
        .groupBy(_.getLong(0))
        .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    }

    /** The HNSW arm entries' corpora: 10·mult and 100·mult vectors of
      * width 64 in 64 clusters (a fixed centroid per cluster plus
      * seeded noise). */
    lazy val armCorpora: Seq[(Long, String)] =
      Seq(10L, 100L).map(_ * mult).map { n =>
        val d = s"$work/arms_$n"
        write(spark.range(n).select(col("id").as("vec_id"),
          array((0 until 64).map(j =>
            (sin((col("id") % 64) * 7.0 + j) + randn(j) * 0.3)
              .cast("float")): _*).as("embedding")), d, "embeddings")
        n -> d
      }
  }

  /** The composed curation lineage at ×mult exact replication. The
    * replicas collapse in the dedup layers, so the manifest from
    * quality onward must equal the base run's (computed inside the
    * timed span; cheap at base size). ROADMAP item 2's number. */
  private def pipelineFull(c: Ctx): Any = {
    def manifest(dir: String) =
      CurationPipeline.full(c.spark, dir).collect()
        .map(r => r.getString(1) -> (r.getLong(2), r.getLong(4))).toMap
    val base = manifest(c.sfDir)
    val m = manifest(c.docsDir)
    Obj("input" -> m("input")._1, "quality" -> m("after_quality")._1,
      "exact" -> m("after_exact")._1, "decon" -> m("after_decon")._1,
      "neardup" -> m("after_neardup")._1, "sample" -> m("after_sample")._1,
      "batches" -> m("packed")._2, "shards" -> m("sharded")._2,
      "collapses_to_base" -> Seq("after_quality", "after_exact",
        "after_decon", "after_neardup", "after_sample", "packed", "sharded")
        .forall(k => m(k) == base(k)))
  }

  /** Per-stage walls of `q_pipeline_full`, built from its own stage
    * builders (CurationPipeline.stage*) with a timer at each stage's
    * first materialization, so each number is that stage's incremental
    * cost; the second iteration is what a warm re-run pays. */
  private def pipelineStages(c: Ctx): Any = {
    import CurationPipeline._
    val (spark, dir) = (c.spark, c.docsDir)
    (1 to 2).map { _ =>
      val out = Seq.newBuilder[(String, Any)]
      def t[A](label: String)(f: => A): A = {
        val (s, r) = wall(f)
        out += label -> s
        r
      }
      val docs = stageDocs(spark, dir)
      val s2 = stageQuality(spark, dir, docs)
      t("s2_quality_s")(s2.count())
      val s3 = stageExact(s2)
      t("s3_exact_s")(s3.count())
      val s4 = stageDecon(spark, dir, s3)
      t("s4_decon_s")(s4.count())
      val labels = t("s5_components_s")(neardupLabels(spark, dir, s4))
      val s5 = stageNeardup(s4, labels)
      t("s5_neardup_s")(s5.count())
      val s6 = stageSample(s5)
      t("s6_sample_s")(s6.count())
      t("s7_pack_s")(stagePacked(spark, dir, s6).count())
      t("accounting_s")(graft.model.Pools.mapConcurrent(
        Seq(docs, s2, s3, s4, s5, s6), 6)(stageAcct))
      Seq(s2, s4, s5, s6).foreach(_.unpersist(false))
      Obj(out.result(): _*)
    }
  }

  /** The registry at ×mult — every fact table replicated — each row
    * fully materialized (the `noop` sink) once cold and [[Bench.Iters]]
    * times warm. A failed row records the sentinel and is named in
    * `failed`. */
  private def sf1(c: Ctx): Any = {
    val dir = c.sf1Dir
    val noop: DataFrame => Unit =
      _.write.format("noop").mode("overwrite").save()
    val timed = c.rows.map { name =>
      val cold = Bench.timeRow(c.spark, dir, name, "cold")(noop)
      (name, cold, Bench.timeIters(c.spark, dir, name)(noop))
    }
    Obj(
      "total_median" ->
        timed.map(t => Bench.median(t._3)).filter(_ >= 0).sum,
      "stall_iters" -> timed.map(t => Bench.stallCount(t._3)).sum,
      "failed" -> timed.collect {
        case (name, cold, ts) if (cold +: ts).exists(_ < 0) => name },
      "queries" -> Obj(timed.map { case (name, cold, ts) =>
        name -> Obj("cold" -> cold, "median" -> Bench.median(ts))
      }: _*))
  }

  /** Repeat `searchAnn` serves against an unchanged mutated store: the
    * delta/dead derivation must run once per store state, so 6 mutated
    * serves derive exactly once. ROADMAP item 3's number (first
    * mutated vs repeat wall). */
  private def searchAnnMutated(c: Ctx): Any = {
    import c.spark
    val sp = s"${c.work}/annstore"
    val docs = Tables.documents(spark, c.sfDir).select("doc_id", "text")
    val emb = Tables.embeddings(spark, c.sfDir).select("vec_id", "embedding")
    val base = docs.join(emb, col("doc_id") === col("vec_id"))
    val nBase = base.count()
    def chunks(df: DataFrame, prefix: String, content: Column) =
      df.select(concat(lit(s"c$prefix"), col("doc_id")).as("id"),
        concat(lit(s"s$prefix"), col("doc_id")).as("sourceId"),
        lit(0).as("chunkIndex"), content.as("content"),
        col("embedding").cast("array<float>").as("embedding"),
        lit("docs").as("sourceType"))
    chunks(c.replicate(base, Seq("doc_id" -> nBase * 10L)), "", col("text"))
      .write.mode("overwrite").parquet(s"$sp/chunks")
    val q = "quartz telescope meridian"
    def serveOnce(): Double =
      wall(IndexPipeline.searchAnn(spark, sp, q, k = 5).collect())._1
    val tSeal = serveOnce() // builds + seals the artifact
    // mutate: append a ~0.1% delta of NEW texts (no API manifest — the
    // listing-fallback fingerprint is exercised too)
    val nDelta = math.max(1, (nBase / 1000).toInt)
    chunks(docs.limit(nDelta).join(emb, col("doc_id") === col("vec_id")),
      "x", concat(col("text"), lit(" zephyr-delta")))
      .write.mode("append").parquet(s"$sp/chunks")
    val d0 = IndexPipeline.mutationDerivations.get()
    val tFirst = serveOnce() // pays the one-time derivation
    val reps = (1 to 5).map(_ => serveOnce())
    Obj("chunks" -> nBase * c.mult, "delta" -> nDelta,
      "seal_serve_s" -> tSeal, "first_mutated_s" -> tFirst,
      "repeat_min_s" -> reps.min, "repeat_median_s" -> Bench.median(reps),
      "derivations" -> (IndexPipeline.mutationDerivations.get() - d0))
  }

  /** The partitioned-index serve at ×mult, its segment count derived
    * from a 1 MiB serving-node budget: recall@10 of the sharded serve
    * and of one monolithic image against brute force, and the
    * sealed + exact-delta + tombstone composition, whose delta arm must
    * report every live delta id of the exact top-10s. ROADMAP item
    * 4(c)'s sharded-regime recall. */
  private def hnswSharded(c: Ctx): Any = {
    import c.spark
    val gdir = c.hnswProbeDir
    val n = Tables.embeddings(spark, gdir).count()
    val s = Hnsw.shardCountFor(n, 64, 1L << 20)
    val qids = 0L until 40L
    val exact = c.bruteTop10(gdir)
    def recall(ans: Map[Long, Set[Long]]) = qids.map(q =>
      ans.getOrElse(q, Set.empty[Long]).count(exact(q).contains) / 10.0)
      .sum / qids.size
    def byQuery(rs: Array[org.apache.spark.sql.Row]) = rs.groupBy(_.getLong(0))
      .map { case (q, xs) => q -> xs.map(_.getLong(2)).toSet }
    val (tShard, shardAns) = wall(Hnsw.serveShardedDistributed(spark, gdir,
      spark.range(40).toDF("query_id"), shards = s, ef = 16, k = 10).collect())
    val (tMono, monoAns) = wall {
      val mono = Hnsw.imageFor(spark, gdir)
      qids.map(q => q -> Hnsw.serveLocal(mono, q, ef = 16, k = 10)
        .map(_._1).toSet).toMap
    }
    // the lifecycle composition: sealed segments + exactly-scanned
    // delta + tombstones, one k-bounded gather (its wall includes the
    // sealed corpus's own segment builds)
    val cutoff = Ann.deltaCutoff(Search.embNormed(spark, gdir))
      .collect().head.getAs[Long]("cutoff")
    val dead = (0L until n).filter(_ % 97 == 13).toSet
    val (tDelta, deltaAns) = wall(Hnsw.serveShardedDelta(spark, gdir,
      spark.range(40).toDF("query_id"), shards = s, ef = 16, k = 10,
      tombstones = Some(spark.createDataFrame(dead.toSeq.map(Tuple1(_)))
        .toDF("vec_id"))).collect())
    val byQd = byQuery(deltaAns)
    val deltaWanted = qids.flatMap(q => exact(q)
      .filter(id => id >= cutoff && !dead.contains(id)).map(q -> _))
    Obj("n" -> n, "budget_bytes" -> (1L << 20), "shards" -> s,
      "shard_recall10" -> recall(byQuery(shardAns)),
      "mono_recall10" -> recall(monoAns),
      "shard_wall_s" -> tShard, "mono_wall_s" -> tMono,
      "delta_wall_s" -> tDelta,
      "delta_hits" -> deltaWanted.count { case (q, id) =>
        byQd.getOrElse(q, Set.empty).contains(id) },
      "delta_wanted" -> deltaWanted.size,
      "tombstones_clean" -> deltaAns.forall(r => !dead.contains(r.getLong(2))))
  }

  /** The qid-Bloom path prune on the bounded-batch query-vector
    * resolution over a 64-way segment layout: segments and files kept,
    * both arms timed, answers asserted equal (no false negatives). The
    * deferred mtime-keyed Bloom memo's number. */
  private def qvPrune(c: Ctx): Any = {
    import c.spark
    import spark.implicits._
    val gdir = c.hnswProbeDir
    val e = Search.embNormed(spark, gdir)
    val n = e.count()
    val dim = e.select(size(col("embedding"))).head.getInt(0)
    val pw = s"${c.work}/qv_prune"
    II.initSegments(spark, gdir, pw,
      math.max(1L, n * Hnsw.imageBytesPerVec(dim) / 64))
    val ss = II.segs(spark, pw)
    val qids = 0L until 8L
    def arm(): (Double, Seq[(Long, Seq[Float], Double)]) = {
      val (t, r) = wall(II.queryVecs(spark, ss, qids.toDF("query_id")))
      (t, r.sortBy(_._1).map(x => (x._1, x._2.toSeq, x._3)).toSeq)
    }
    // one try/finally around the whole conf-mutation span, and `kept`
    // computed while the prune is force-enabled so the gauge can never
    // read no-prune on a small-S layout
    val key = "spark.graft.ann.qvPruneMinSegs"
    val ((wFull, oFull), (wPruned, oPruned), kept) =
      try {
        spark.conf.set(key, (ss.size + 1).toString)
        val full = arm()
        spark.conf.set(key, "1")
        (full, arm(), II.pruneSegsByIdBloom(spark, ss, qids.toArray))
      } finally spark.conf.unset(key)
    assert(oPruned == oFull,
      "qv_prune: pruned resolution diverged from the full scan")
    // the load-bearing gauge is SCANNED FILES: at probe scale file-open
    // cost is noise, so walls read ~flat
    def partFiles(segs: Seq[II.Seg]): Int = segs.map { s0 =>
      val p = new org.apache.hadoop.fs.Path(s"${s0.dir}/embeddings.parquet")
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .listStatus(p).count(_.getPath.getName.endsWith(".parquet"))
    }.sum
    Obj("segments" -> ss.size, "queries" -> qids.size, "kept" -> kept.size,
      "files_full" -> partFiles(ss), "files_pruned" -> partFiles(kept),
      "equal" -> true, "wall_full_s" -> wFull, "wall_pruned_s" -> wPruned)
  }

  /** The Searcher's size-gate spill path, tripped (cacheGate = 0: no
    * upper-layer driver cache) against the cached default: answers
    * equal, per-query serve wall on both paths. The deferred image-blob
    * spill's number. */
  private def hnswSpill(c: Ctx): Any = {
    import c.spark
    val gdir = c.hnswProbeDir
    val n = Tables.embeddings(spark, gdir).count()
    val idx = Hnsw.indexFor(spark, gdir)
    val qids = (1 to 20).map(i => 2L + (i.toLong * 131L) % (n - 2))
    val cached = new Hnsw.Searcher(spark, gdir, idx)
    val spilled = new Hnsw.Searcher(spark, gdir, idx, cacheGate = 0L)
    try {
      val (tCached, a) = wall(qids.map(q => cached.serve(q, ef = 32)))
      val (tSpill, b) = wall(qids.map(q => spilled.serve(q, ef = 32)))
      Obj("n" -> n, "levels" -> idx.maxLevel, "queries" -> qids.size,
        "equal" -> (a == b), "cached_wall_s" -> tCached,
        "spilled_wall_s" -> tSpill,
        "spilled_per_query_s" -> tSpill / qids.size)
    } finally { cached.close(); spilled.close() }
  }

  /** Both arms of the in-process gate ([[Hnsw.fitsInProcess]]) at each
    * of [[Ctx.armCorpora]]: the HNSW build ([[Hnsw.buildIndex]]), or
    * with `graph` the registry graph search ([[Ann.qGraphSearch]]).
    * Per (size, arm): the wall, the Spark jobs, and the driver's peak
    * heap above its post-GC baseline (sampled every 10 ms). The Spark
    * arm is forced with `spark.sql.adaptive.advisoryPartitionSizeInBytes`
    * = 1 byte; a size past the gate runs on the Spark arm under both
    * names (the job count tells which arm ran). ROADMAP item 4's
    * number. */
  private def hnswArms(c: Ctx, graph: Boolean): Any = {
    import c.spark
    val key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val default = spark.conf.get(key)
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val heap = ManagementFactory.getMemoryMXBean
    // the post-GC heap once it stops falling, GCs 500 ms apart: what a
    // Spark arm leaves is released asynchronously after its jobs end,
    // so one GC right after the arm still counted it (measured: 286–319
    // MB, against 111–127 MB half a second later)
    def settledHeap(): Long = {
      def gc() = { System.gc(); heap.getHeapMemoryUsage.getUsed }
      var (prev, cur) = (Long.MaxValue, gc())
      for (_ <- 1 to 10 if cur < prev - (1L << 20)) {
        Thread.sleep(500)
        prev = cur
        cur = gc()
      }
      cur
    }
    val corpora = c.armCorpora
    spark.sparkContext.addSparkListener(listener)
    try for ((n, dir) <- corpora; arm <- Seq("local", "spark")) yield {
      spark.conf.set(key, if (arm == "spark") "1b" else default)
      // blocking: Cache.clear unpersists without waiting, and blocks a
      // previous arm still holds would read as this arm's baseline
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      Cache.clear(spark)
      val base = settledHeap()
      val peak = new AtomicLong(base)
      @volatile var sampling = true
      val sampler = new Thread(() =>
        while (sampling) {
          peak.accumulateAndGet(heap.getHeapMemoryUsage.getUsed, math.max)
          Thread.sleep(10)
        })
      sampler.setDaemon(true)
      sampler.start()
      val j0 = jobs.get
      val (t, _) =
        try wall(if (graph) Ann.qGraphSearch(spark, dir).collect()
          else Hnsw.buildIndex(spark, dir, s"${c.work}/index_${arm}_$n"))
        finally { sampling = false; sampler.join() }
      Obj("arm" -> arm, "n" -> n, "dim" -> 64, "wall_s" -> t,
        "jobs" -> (jobs.get - j0),
        "peak_heap_mb" -> (peak.get - base) / 1048576.0,
        "base_heap_mb" -> base / 1048576.0)
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.conf.set(key, default)
    }
  }
}
