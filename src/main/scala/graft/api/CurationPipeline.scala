package graft
package api

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Curation, Dedup, Quality}

/** The end-to-end corpus-curation job: raw documents → quality gate →
  * near-dup curation → curated corpus + attrition manifest. This is
  * the composition a 100 TB training-data run executes once per
  * snapshot; every stage is one of the engine's audited operators, so
  * the pipeline inherits their oracle-checked semantics and their
  * scale shapes (no new shuffles are introduced here — only doc-keyed
  * joins against the cached stat artifacts).
  *
  * Stages:
  *  1. quality gate — [[Quality.qFilterChain]]'s composite keep
  *     (Gopher rules ∧ repetition rules ∧ substring-span dedup);
  *  2. near-dup curation — drop every member of a MinHash component
  *     except [[Dedup.qSemdedup]]'s kept representative;
  *  3. write the survivors partitioned by `lang` (partition pruning
  *     for downstream per-language sampling).
  */
object CurationPipeline {

  /** Run the pipeline; returns the attrition manifest (stage → doc and
    * char counts — the report every curation run ships with). Writes
    * the curated corpus to `outPath` when non-empty. */
  def curate(spark: SparkSession, dir: String,
      outPath: String = ""): DataFrame = {
    val docs = Tables.documents(spark, dir)

    val kept = Quality.qFilterChain(spark, dir)
      .filter(col("keep")).select(col("doc_id"), lit(true).as("__q"))

    // non-representative members of every near-dup component
    val losers = Dedup.componentLabels(spark, dir)
      .join(Dedup.qSemdedup(spark, dir)
          .select(col("group_id").as("grp"), col("kept_doc")), "grp")
      .filter(col("doc_id") =!= col("kept_doc"))
      .select(col("doc_id"), lit(true).as("__l"))

    // ONE pass over docs: stage membership becomes two boolean flags
    // (left joins against the small stage verdict tables), and all
    // three stage aggregates are conditional sums over that single
    // scan — the manifest no longer re-reads the corpus per stage.
    val flagged = docs
      .join(kept, Seq("doc_id"), "left")
      .join(losers, Seq("doc_id"), "left")
      .withColumn("__q", coalesce(col("__q"), lit(false)))
      .withColumn("__curated", col("__q") && col("__l").isNull)

    if (outPath.nonEmpty)
      graft.store.ChunkStore.write(
        flagged.filter(col("__curated")).drop("__q", "__l", "__curated"),
        outPath, Seq("lang"))

    flagged
      .agg(
        count(lit(1)).as("n1"),
        coalesce(sum("n_chars"), lit(0L)).cast("long").as("c1"),
        count(when(col("__q"), 1)).as("n2"),
        coalesce(sum(when(col("__q"), col("n_chars"))), lit(0L))
          .cast("long").as("c2"),
        count(when(col("__curated"), 1)).as("n3"),
        coalesce(sum(when(col("__curated"), col("n_chars"))), lit(0L))
          .cast("long").as("c3"))
      .select(expr(
        """stack(3,
          |  1L, 'input',         n1, c1,
          |  2L, 'after_quality', n2, c2,
          |  3L, 'after_neardup', n3, c3)
          |  AS (stage, name, n_docs, n_chars)""".stripMargin))
      .orderBy("stage")
  }

  /** The FULL manifest-driven curation job — every stage a 100 TB
    * training-data snapshot runs, SEQUENTIALLY composed (each stage
    * filters the previous stage's survivors) with ONE lineage and one
    * attrition manifest:
    *
    *  1. input
    *  2. quality gate ([[Quality.qFilterChain]]'s composite keep)
    *  3. exact dedup (content-hash groupBy, keep-min id)
    *  4. decontamination (drop the held-out docs and every doc with
    *     ≥ half its shingles in the held-out set —
    *     [[Dedup.contaminatedMajority]]; verdicts are pairwise vs the
    *     FIXED test set, so restricting them to survivors is exact)
    *  5. near-dup curation — MinHash candidate pairs restricted to
    *     survivors (band signatures are row-local, so filtering the
    *     cached full-corpus pairs is exact), connected components
    *     RECOMPUTED on the survivor subgraph
    *     ([[Dedup.componentsOf]] — a dropped bridge doc can split a
    *     component, so full-corpus labels must not be reused), keep
    *     each component's longest member;
    *  6. weighted sampling (per-language [[Curation.SampleK]]
    *     chars-proportional reservoir over survivors);
    *  7. packing — survivors' whitespace token counts through the
    *     two-pass packer ([[Curation.packFrom]]); `n_units` = packed
    *     batch count;
    *  8. shard plan — `n_units` = ceil(n_docs / ShardDocs), exactly
    *     the distinct-shard count of the rank-cut assignment (the
    *     rank is a dense permutation, so the count is closed-form).
    *
    * Every stage reuses its operator's audited semantics, so the
    * manifest reconciles row-for-row with the per-family queries
    * (PipelineFullSpec) and the whole chain is one hash-exact DuckDB
    * oracle (`q_pipeline_full`). No new shuffle shapes: doc-keyed
    * joins against cached artifacts + each operator's own plan. */
  def full(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = stageDocs(spark, dir)
    val s2 = stageQuality(spark, dir, docs)
    val s3 = stageExact(s2)
    val s4 = stageDecon(spark, dir, s3)
    val s5 = stageNeardup(s4, neardupLabels(spark, dir, s4))
    val s6 = stageSample(s5)
    val packed = stagePacked(spark, dir, s6)

    // the seven accounting actions are independent reads of persisted
    // stage lineages — overlap them (guide §2.6) instead of paying
    // seven sequential job latencies; answers are per-job and
    // order-free
    val rs = graft.model.Pools.mapConcurrent(
      (() => (packed.count(), 0L)) +:
        Seq(docs, s2, s3, s4, s5, s6).map(df => () => stageAcct(df)),
      7)(_())
    val nBatches = rs.head._1
    val Seq((n1, c1), (n2, c2), (n3, c3), (n4, c4), (n5, c5),
      (n6, c6)) = rs.tail
    val nShards = (n6 + Curation.ShardDocs - 1) / Curation.ShardDocs
    Seq(s2, s4, s5, s6).foreach(_.unpersist(false))

    Seq(
      (1L, "input", n1, c1, 0L),
      (2L, "after_quality", n2, c2, 0L),
      (3L, "after_exact", n3, c3, 0L),
      (4L, "after_decon", n4, c4, 0L),
      (5L, "after_neardup", n5, c5, 0L),
      (6L, "after_sample", n6, c6, 0L),
      (7L, "packed", n6, c6, nBatches),
      (8L, "sharded", n6, c6, nShards))
      .toDF("stage", "name", "n_docs", "n_chars", "n_units")
      .orderBy("stage")
  }

  // ---- stage lineage builders, the single source of truth ----------
  // Shared with the `pipeline_stages` entry of [[graft.ScaleProbe]]
  // (round-14 review: the probe hand-copied ~60 lines of the stages
  // verbatim, so any change to full() — this round's pack-stage
  // rewrite had to be mirrored by hand — would silently make the
  // committed stage profile measure a pipeline that no longer exists). The persists live HERE so the
  // two consumers cannot diverge on caching either; full() and the
  // probe only differ in WHEN they materialize (the probe times each
  // stage's first action).

  private[graft] def stageDocs(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select("doc_id", "lang", "source", "n_chars", "text")

  private[graft] def stageQuality(spark: SparkSession, dir: String,
      docs: DataFrame): DataFrame =
    docs.join(
      Quality.qFilterChain(spark, dir).filter(col("keep")).select("doc_id"),
      "doc_id").persist()

  private[graft] def stageExact(s2: DataFrame): DataFrame = {
    val exactWinners = s2
      .select(col("doc_id"), md5(lower(col("text"))).as("fp"))
      .groupBy("fp").agg(min("doc_id").as("doc_id"))
      .select("doc_id")
    s2.join(exactWinners, "doc_id")
  }

  private[graft] def stageDecon(spark: SparkSession, dir: String,
      s3: DataFrame): DataFrame =
    s3.filter(col("doc_id") >= 20)
      .join(Dedup.contaminatedMajority(spark, dir),
        Seq("doc_id"), "left_anti").persist()

  /** Connected components over the survivor-restricted near-dup pair
    * subgraph — the one EAGER stage step (componentsOf iterates with
    * actions), factored apart so the probe can time it separately. */
  private[graft] def neardupLabels(spark: SparkSession, dir: String,
      s4: DataFrame): DataFrame = {
    val ids4 = s4.select("doc_id")
    val pairs = Dedup.nearDupPairs(spark, dir)
      .filter(col("jaccard") >= 0.5)
      .join(ids4.withColumnRenamed("doc_id", "doc_a"), "doc_a")
      .join(ids4.withColumnRenamed("doc_id", "doc_b"), "doc_b")
      .select("doc_a", "doc_b")
    Dedup.componentsOf(spark, pairs)
  }

  private[graft] def stageNeardup(s4: DataFrame,
      labels: DataFrame): DataFrame = {
    val ndLosers = labels.join(s4.select("doc_id", "n_chars"), "doc_id")
      .groupBy("grp")
      .agg(max(struct(col("n_chars"), (-col("doc_id")).as("nid"))).as("b"))
      .select(col("grp"), (-col("b.nid")).as("kept_doc"))
      .join(labels, "grp")
      .filter(col("doc_id") =!= col("kept_doc"))
      .select("doc_id")
    s4.join(ndLosers, Seq("doc_id"), "left_anti").persist()
  }

  private[graft] def stageSample(s5: DataFrame): DataFrame =
    s5.join(
      Curation.weightedSampleFrom(
        s5.select("lang", "doc_id", "n_chars")).select("doc_id"),
      "doc_id").persist()

  /** Survivors' token counts come from the SHARED per-doc artifact
    * ([[Curation.docTokCounts]] — the same cached lineage
    * q_pack_batches packs from) instead of re-tokenizing s6's text
    * per run: identical values (toks is deterministic per text,
    * doc_id unique), one tokenization pass per session (round 14,
    * stage profile: the pack stage was the heaviest warm stage). */
  private[graft] def stagePacked(spark: SparkSession, dir: String,
      s6: DataFrame): DataFrame =
    Curation.packFrom(
      s6.select("doc_id")
        .join(Curation.docTokCounts(spark, dir), "doc_id")
        .select("doc_id", "source", "tok"))

  private[graft] def stageAcct(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)),
      coalesce(sum("n_chars"), lit(0L)).cast("long")).head
    (r.getLong(0), r.getLong(1))
  }
}
