package graft
package operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.embed.Embedder.hash60Col
import graft.operators.TextAnalysis.toks

/** Corpus-curation operators — the steps a training-data pipeline runs
  * between dedup ([[Dedup]]) and batching: deterministic train/val/test
  * splitting, repetition-based quality filtering (the Gopher/C4 rule
  * family), and sequence packing into fixed token budgets.
  *
  * Scale design: everything is a narrow per-row expression or a
  * (doc_id, gram)-keyed shuffle; the split is a pure hash of the row
  * key (no global state, re-runnable on any partitioning); packing
  * windows are partitioned by `source` so state never crosses a shard
  * boundary — at 100 TB each shard packs independently.
  */
object Curation {

  /** Deterministic corpus split: md5-hash each doc_id into 100 buckets
    * (80/10/10), then per-split × language counts and char totals. The
    * hash is the portable `hash60` (same literal arithmetic both
    * engines), so membership is reproducible forever — the property a
    * training pipeline needs so later runs never leak val/test docs
    * into train. */
  def qDataSplit(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("bucket",
        pmod(hash60Col(concat(lit("split:"), col("doc_id").cast("string"))),
          lit(100)))
      .withColumn("split",
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "val")
          .otherwise("test"))
      .groupBy("split", "lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        round(sum(col("n_chars")).cast("double") / count(lit(1)), 6)
          .as("avg_chars"))
      .orderBy("split", "lang")

  /** Gopher-style repetition quality filters: fraction of bigram mass
    * held by the most frequent bigram, and fraction of trigrams that
    * are repeats. Both are quotients of exact integer counts. The
    * `keep` flag applies the standard thresholds (drop if the top
    * bigram exceeds 18% of the text or >30% of trigrams repeat).
    * Shape: explode → (doc_id, gram) count → per-doc aggregate — two
    * hash shuffles keyed by doc_id, linear in corpus size. */
  def qQualityRepetition(spark: SparkSession, dir: String): DataFrame =
    qualityRepStats(spark, dir).orderBy("doc_id")

  /** Cached per-doc repetition table — read by [[qQualityRepetition]]
    * and Quality's filter chain. */
  private[operators] def qualityRepStats(
      spark: SparkSession, dir: String): DataFrame =
    Cache.getOrBuild(spark, "qualityRepStats", dir) {
      val docs = Tables.documents(spark, dir)
        .withColumn("t", toks(col("text")))
        .filter(size(col("t")) >= 3)
      def grams(n: Int) = docs.select(col("doc_id"),
        explode(transform(sequence(lit(1), size(col("t")) - (n - 1)),
          i => concat_ws(" ", (0 until n).map(j => element_at(col("t"), i + j)): _*)))
          .as("g"))
      val bi = grams(2)
        .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(sum(col("c")).as("n_bigrams"), max(col("c")).as("max_bigram"))
      val tri = grams(3)
        .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(sum(col("c")).as("n_trigrams"), count(lit(1)).as("n_tri_distinct"))
      bi.join(tri, "doc_id")
        .withColumn("top_bigram_frac",
          round(col("max_bigram").cast("double") / col("n_bigrams"), 6))
        .withColumn("dup_trigram_frac",
          round((col("n_trigrams") - col("n_tri_distinct")).cast("double") /
            col("n_trigrams"), 6))
        .withColumn("keep",
          col("top_bigram_frac") <= 0.18 && col("dup_trigram_frac") <= 0.3)
        .select("doc_id", "n_bigrams", "max_bigram", "top_bigram_frac",
          "dup_trigram_frac", "keep")
    }

  /** Tokens per packing bin. */
  private[graft] val PackCapacity = 512

  /** doc_ids per packing segment — the bound on any single packing
    * task's sort (segment width, not shard width). */
  private[graft] val PackSegmentDocs = 4096L

  /** Sequence packing (concatenate-then-chunk): docs are laid out in
    * doc_id order within each source shard; a doc starts the bin its
    * running start-offset falls in (`floor(start / capacity)`). Emits
    * per-bin document counts and token totals. Bins never cross
    * shards, so 1000 executors pack 1000 shards with zero coordination.
    *
    * Scale shape: the per-shard running sum is intrinsically
    * sequential, but a single window over `source` would make a giant
    * shard ONE task. Two-pass instead: docs are cut into segments of
    * [[PackSegmentDocs]] doc_ids (`doc_id div 4096` is monotone in
    * doc_id, so segment order IS doc order); pass 1 aggregates
    * per-(source, segment) token totals — a table 4096× smaller than
    * docs — and an exclusive prefix sum over THAT table yields each
    * segment's carry-in offset; pass 2 joins the carry-in back and
    * runs the cumulative sum inside (source, segment) partitions,
    * each ≤ 4096 rows however big the shard is. Identical output to
    * the one-window formulation (the oracle keeps it). */
  /** The single-window formulation qPackBatches replaced — kept as the
    * equivalence twin for specs (it IS the oracle's SQL shape).
    * Unshippable at scale: one task per source shard. */
  private[graft] def packBatchesWindowTwin(
      spark: SparkSession, dir: String): DataFrame =
    packWindowTwinFrom(Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        size(toks(col("text"))).cast("long").as("tok")))

  private[graft] def packWindowTwinFrom(tokens: DataFrame): DataFrame = {
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tokens
      .withColumn("cum", sum(col("tok")).over(w))
      .withColumn("bin", floor((col("cum") - col("tok")) / PackCapacity))
      .groupBy("source", "bin")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("tok")).as("bin_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .orderBy("source", "bin")
  }

  /** Two-pass segment packing over any (doc_id, source, tok) table —
    * the token source is a parameter so the whitespace estimate
    * ([[qPackBatches]]) and the trained-tokenizer exact counts
    * ([[qPackBpe]]) ride the identical packing plan. */
  private[graft] def packFrom(tokens: DataFrame): DataFrame = {
    val docs = tokens
      .withColumn("seg", floor(col("doc_id") / PackSegmentDocs))
    val wCarry = Window.partitionBy("source").orderBy("seg")
      .rowsBetween(Window.unboundedPreceding, -1)
    val carry = docs.groupBy("source", "seg")
      .agg(sum(col("tok")).as("seg_tok"))
      .withColumn("carry",
        coalesce(sum(col("seg_tok")).over(wCarry), lit(0L)))
      .select("source", "seg", "carry")
    val wLocal = Window.partitionBy("source", "seg").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.join(carry, Seq("source", "seg"))
      .withColumn("cum", col("carry") + sum(col("tok")).over(wLocal))
      .withColumn("bin", floor((col("cum") - col("tok")) / PackCapacity))
      .groupBy("source", "bin")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("tok")).as("bin_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .orderBy("source", "bin")
  }

  /** Per-doc whitespace token counts — the session artifact behind
    * the packing family (round 14): [[qPackBatches]] and the
    * pipeline's pack stage ([[graft.api.CurationPipeline.full]]) both
    * consumed `size(toks(text))` inline, re-tokenizing the corpus per
    * run; one cached (doc_id, source, tok) lineage is 3 narrow
    * columns, built once per session like [[TextAnalysis.termFreqs]]. */
  private[graft] def docTokCounts(spark: SparkSession,
      dir: String): DataFrame =
    Cache.getOrBuild(spark, "docTokCounts", dir) {
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"),
          size(toks(col("text"))).cast("long").as("tok"))
    }

  def qPackBatches(spark: SparkSession, dir: String): DataFrame =
    packFrom(docTokCounts(spark, dir))

  /** Packing under the REAL tokenizer: [[bpeEncode]]'s exact per-doc
    * token counts feed the same two-pass packer — the step a pipeline
    * takes once a tokenizer artifact is committed, when the whitespace
    * estimate's bin plan stops being good enough. Oracle replays the
    * packing SQL over the committed encode artifact. */
  def qPackBpe(spark: SparkSession, dir: String): DataFrame =
    packFrom(Tables.documents(spark, dir).select("doc_id", "source")
      .join(bpeEncode(spark, dir, bpeTrain(spark, dir, BpeMerges))
        .select(col("doc_id"), col("n_tokens").as("tok")), "doc_id"))

  /** Corpus-shared phrase mass (CCNet-style boilerplate removal,
    * adapted from line granularity to trigram granularity — this corpus
    * has no line structure): a trigram is "shared" when it occurs in
    * ≥ 2 distinct documents; each doc reports the fraction of its
    * trigram occurrences that are shared, and is flagged for drop when
    * that fraction exceeds 0.5 (near-duplicate / templated text — the
    * planted near-dup pairs in the synthetic corpus light up here).
    *
    * Scale shape: one explode → (gram) global doc-frequency agg → one
    * shuffle join back on the gram key → per-doc agg. This shape is
    * already hot-key-safe: the df aggregate collapses map-side
    * (partial agg) and the join back is one stats row per gram, which
    * AQE skew-join splits at runtime. The window-based gram stages
    * (substring dedup) instead go through [[Salted.autoOwnerStats]],
    * whose sampled probe swaps the window for a salted aggregate when
    * a gram exceeds the hot share. Nothing is collected to the
    * driver. */
  def qBoilerplate(spark: SparkSession, dir: String): DataFrame = {
    // shared upstream of BOTH sides: per-doc gram occurrence counts —
    // session-cached like the dedup family's shingle table, so the one
    // trigram explode + (doc, gram) shuffle is paid once per session
    val grams = Cache.getOrBuild(spark, "boilerGrams", dir) {
      Tables.documents(spark, dir)
        .withColumn("t", toks(col("text")))
        .filter(size(col("t")) >= 3)
        .select(col("doc_id"),
          explode(transform(sequence(lit(1), size(col("t")) - 2),
            i => concat_ws(" ", element_at(col("t"), i),
              element_at(col("t"), i + 1), element_at(col("t"), i + 2))))
            .as("g"))
        .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
    }
    val df = grams.groupBy("g").agg(count(lit(1)).as("df"))
    grams.join(df, "g")
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n_trigrams"),
        sum(when(col("df") >= 2, col("c")).otherwise(0L)).as("shared_trigrams"))
      .withColumn("shared_frac",
        round(col("shared_trigrams").cast("double") / col("n_trigrams"), 6))
      .withColumn("keep", col("shared_frac") <= 0.5)
      .select("doc_id", "n_trigrams", "shared_trigrams", "shared_frac", "keep")
      .orderBy("doc_id")
  }

  /** Deterministic domain mixing: rebalance the corpus so every
    * language stratum is (approximately) the size of the smallest one,
    * by hash-thinning each stratum at rate c_min/c_lang. Membership is
    * a pure integer comparison on the portable hash60 — reproducible on
    * any partitioning, no RNG state — and the rate test
    * `h·c_lang < c_min·10⁶` stays in exact integer arithmetic.
    * Stratum stats are tiny (one row per language), so they broadcast;
    * the corpus pass is a narrow filter. */
  def qDataMix(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val counts = docs.groupBy("lang").agg(count(lit(1)).as("c_lang"))
    val cmin = counts.agg(min(col("c_lang")).as("c_min"))
    docs.join(broadcast(counts), "lang")
      .crossJoin(broadcast(cmin))
      .withColumn("h",
        pmod(hash60Col(concat(lit("mix:"), col("doc_id").cast("string"))),
          lit(1000000L)))
      .withColumn("kept", col("h") * col("c_lang") < col("c_min") * 1000000L)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("kept_docs"),
        round(first(col("c_min")).cast("double") / first(col("c_lang")), 6)
          .as("target_rate"))
      .withColumn("achieved_rate",
        round(col("kept_docs").cast("double") / col("n_docs"), 6))
      .select("lang", "n_docs", "kept_docs", "target_rate", "achieved_rate")
      .orderBy("lang")
  }

  /** Integer-exact rarity scoring — the deterministic analogue of
    * CCNet's LM-perplexity quality filter: score each document by the
    * corpus frequency of its tokens (common tokens → high avg_freq →
    * "fluent" under the corpus's own unigram model; rare-token-heavy
    * docs rank low). avg_freq is a quotient of two exact integers, so
    * it is bit-stable across engines and partitionings. The unigram
    * table is vocabulary-sized → broadcast join; the corpus side stays
    * a narrow explode + per-doc agg. */
  def qRarity(spark: SparkSession, dir: String): DataFrame = {
    val words = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(toks(col("text"))).as("w"))
    val freq = words.groupBy("w").agg(count(lit(1)).as("f"))
    words.join(broadcast(freq), "w")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_toks"),
        sum(col("f")).as("sum_freq"),
        min(col("f")).as("min_freq"))
      .withColumn("avg_freq",
        round(col("sum_freq").cast("double") / col("n_toks"), 6))
      .select("doc_id", "n_toks", "sum_freq", "min_freq", "avg_freq")
      .orderBy("doc_id")
  }

  /** Docs kept per language stratum by the fixed-size sampler. */
  private[graft] val SampleK = 50

  /** Fixed-SIZE deterministic stratified sample — the complement of
    * [[qDataMix]]'s fixed-RATE thinning: exactly min(k, stratum size)
    * docs per language, chosen as the k smallest portable hashes.
    * Ordering by a keyed hash is the standard 100 TB trick for "pick k
    * uniformly at random, reproducibly, on any partitioning": no RNG
    * state, no global sort.
    *
    * Scale shape: the k winners per stratum come from
    * [[graft.functions.MinKPairAggregator]] — a bounded map-side
    * partial aggregate, so each upstream partition ships AT MOST k
    * `(hash, doc_id)` pairs per language into the shuffle. The
    * window/row_number formulation (still the oracle) shuffles the
    * ENTIRE dominant-language stratum into one task and sorts it; at
    * 100 TB that task is half the corpus. The winner table
    * (langs × k rows) broadcast-joins back to the scan for payload
    * columns. Hash ties are impossible (hash60 of distinct doc_ids),
    * doc_id tie-break pinned anyway; the ordering is exact-integer, so
    * the two plans agree row-for-row (TopKSpec proves it). */
  def qSampleStrat(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val winners = Tables.documents(spark, dir)
      .select(col("lang"),
        hash60Col(concat(lit("samp:"), col("doc_id").cast("string"))).as("h"),
        col("doc_id"))
      .groupBy("lang")
      .agg(graft.functions.MinKPairAggregator.minKUdaf(SampleK)(
        col("h"), col("doc_id")).as("top"))
      .select(col("lang"), posexplode(col("top")).as(Seq("pos", "p")))
      .select(col("lang"), (col("pos") + 1).cast("long").as("rk"),
        col("p._2").as("doc_id"))
    Tables.documents(spark, dir)
      .select("doc_id", "n_chars")
      .join(broadcast(winners), "doc_id")
      .select("lang", "rk", "doc_id", "n_chars")
      .orderBy("lang", "rk")
  }

  /** Weighted sampling WITHOUT replacement (Efraimidis & Spirtakis
    * 2006): per language, keep the [[SampleK]] docs winning the
    * exponential race — smallest key `-ln(u)/w`, with `u`
    * deterministic from the doc id (the md5-derived hash60, exactly
    * [[qSampleStrat]]'s coin) and weight `w = n_chars`, so longer
    * documents are proportionally likelier without ever being
    * guaranteed. The distributed-sampling workhorse for
    * quality-weighted corpus draws.
    *
    * Determinism: the race key is rounded to integer micros at its
    * one computation site (the NB discipline — both engines compute
    * one double expression in the same association order, then every
    * comparison is integer + doc_id tie-break). Scale shape: identical
    * to [[qSampleStrat]] — bounded MinK map-side buffers per stratum,
    * never a rank window over the corpus. */
  def qWeightedSample(spark: SparkSession, dir: String): DataFrame = {
    val winners = weightedSampleFrom(
      Tables.documents(spark, dir).select("lang", "doc_id", "n_chars"))
    Tables.documents(spark, dir)
      .select("doc_id", "n_chars")
      .join(broadcast(winners), "doc_id")
      .select("lang", "rk", "doc_id", "n_chars", "key_micro")
      .orderBy("lang", "rk")
  }

  /** The weighted-reservoir core over an explicit `(lang, doc_id,
    * n_chars)` frame — isolated so the curation pipeline can sample
    * its SURVIVOR set with the registry query's exact semantics. */
  private[graft] def weightedSampleFrom(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs
      .select(col("lang"), col("doc_id"), col("n_chars"),
        round(-log(
          (hash60Col(concat(lit("wsamp:"), col("doc_id").cast("string")))
            + 1).cast("double") /
            lit(1152921504606846976L).cast("double")) * 1e6 /
          col("n_chars")).cast("long").as("key_micro"))
      .select(col("lang"), col("key_micro"), col("doc_id"))
      .groupBy("lang")
      .agg(graft.functions.MinKPairAggregator.minKUdaf(SampleK)(
        col("key_micro"), col("doc_id")).as("top"))
      .select(col("lang"), posexplode(col("top")).as(Seq("pos", "p")))
      .select(col("lang"), (col("pos") + 1).cast("long").as("rk"),
        col("p._1").as("key_micro"), col("p._2").as("doc_id"))
  }

  /** Max docs kept per source domain. */
  private[graft] val DomainCap = 30

  /** Per-domain cap — the anti-domination rule every web-scale corpus
    * applies (no single domain may contribute more than N documents):
    * rank each source's docs by length desc (the quality proxy here;
    * any score column slots in), keep the top [[DomainCap]], report
    * per-source kept/total rows and chars.
    *
    * Scale shape: the kept set comes from
    * [[graft.functions.TopKAggregator]] — a bounded map-side buffer
    * shipping at most [[DomainCap]] rows per source per partition —
    * NOT a row_number window over the source key: a window partition
    * cannot split, so at web scale the hottest domain would pin its
    * millions of rows on one task (the same hazard class the 100k-doc
    * probe caught in the bigram counts). Totals ride a plain groupBy
    * (partial agg). The window formulation stays the oracle. */
  def qDomainCap(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"), col("n_chars"))
    val totals = docs.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"))
    val kept = docs
      .groupBy("source")
      .agg(graft.functions.TopKAggregator.topKUdaf(DomainCap)(
        col("doc_id"), col("n_chars").cast("double")).as("top"))
      .select(col("source"),
        size(col("top")).cast("long").as("kept_docs"),
        expr("aggregate(top, 0L, (acc, x) -> acc + CAST(x._2 AS BIGINT))")
          .as("kept_chars"))
    totals.join(kept, "source")
      .select("source", "n_docs", "kept_docs", "total_chars", "kept_chars")
      .orderBy("source")
  }

  /** Temperature-balanced language mixing weights — the multilingual
    * up/down-sampling rule (mC4 / XLM-R style `p^α`), at α = 1/2:
    * `temp_weight ∝ sqrt(n_lang)`, reported relative to the largest
    * stratum, plus `boost` = the up-sampling factor vs proportional
    * sampling (= sqrt(n_max/n), >1 for low-resource languages). α=1/2
    * is chosen deliberately: IEEE-754 `sqrt` is exactly rounded, so
    * the weights are bit-identical on any engine — `pow(p, 0.3)` is
    * not. One tiny groupBy; the per-lang table is broadcast-scale. */
  def qTempSampling(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.documents(spark, dir)
      .groupBy("lang").agg(count(lit(1)).as("n_docs"))
    val tot = counts.agg(max("n_docs").as("n_max"),
      sum("n_docs").cast("long").as("n_total"))
    counts.crossJoin(broadcast(tot))
      .select(col("lang"), col("n_docs"),
        round(col("n_docs").cast("double") / col("n_total"), 6).as("share"),
        round(sqrt(col("n_docs").cast("double")) /
          sqrt(col("n_max").cast("double")), 6).as("temp_weight"),
        round((sqrt(col("n_docs").cast("double")) /
          sqrt(col("n_max").cast("double"))) /
          (col("n_docs").cast("double") / col("n_max")), 6).as("boost"))
      .orderBy("lang")
  }

  /** Token budget for the epoch plan: 3.5× the corpus — between 3×
    * (nothing caps on this corpus) and 4× (budget = Σcaps exactly, so
    * EVERYTHING caps), i.e. the regime where low-resource strata hit
    * the repetition cap and the surplus genuinely redistributes. */
  private[graft] val MaxEpochMilli = 4000L // ≤4 epochs per stratum

  /** Epoch/repetition budget plan — the data-constrained-scaling
    * allocation (Muennighoff et al. 2023: repeating data beyond ~4
    * epochs stops paying): given a token budget (3.5× corpus here) and
    * temperature weights (√n, the [[qTempSampling]] rule), allocate
    * tokens per language, cap each stratum at 4 epochs, and hand the
    * capped surplus to the uncapped strata in ONE exact-integer
    * redistribution round (production iterates this driver-side to a
    * fixpoint; one round is the oracle-checkable core). Everything
    * after the √-weights is exact integer arithmetic with the
    * products computed in DECIMAL(38,0) (budget·w ≈ corpus_tokens ×
    * √corpus_tokens × 3.5e6 exceeds 2⁶³ already at ~10¹³ corpus
    * tokens; decimal keeps the plan bit-identical on any engine to
    * ~10³³ — the oracle mirrors with HUGEINT). Operating range:
    * per-stratum n_tokens < ~10²⁵ (w stays a BIGINT).
    *
    * Scale shape: per-lang token totals are one groupBy; the plan
    * itself is arithmetic on a languages-sized table — broadcast
    * scale, no second corpus pass. */
  def qEpochPlan(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .groupBy("lang")
      .agg(sum(size(TextAnalysis.toks(col("text")))).cast("long").as("n_tokens"))
      .withColumn("w", expr("CAST(round(sqrt(n_tokens) * 1000000, 0) AS BIGINT)"))
    val tot = toks.agg(sum("n_tokens").cast("long").as("n_corpus"),
      sum("w").cast("long").as("w_sum"))
    val r1 = toks.crossJoin(broadcast(tot))
      .withColumn("budget", expr("(n_corpus * 7) div 2"))
      .withColumn("alloc1",
        expr("(CAST(budget AS DECIMAL(38,0)) * w) div w_sum"))
      .withColumn("cap",
        expr(s"(CAST(n_tokens AS DECIMAL(38,0)) * $MaxEpochMilli) div 1000"))
      .withColumn("capped", col("alloc1") > col("cap"))
      .withColumn("take1", least(col("alloc1"), col("cap")))
    val leftovers = r1.agg(
      (first(col("budget")) - sum("take1")).cast("long").as("leftover"),
      sum(when(!col("capped"), col("w")).otherwise(0L)).cast("long")
        .as("w_open"))
    r1.crossJoin(broadcast(leftovers))
      .withColumn("alloc2",
        when(col("capped") || col("w_open") === 0, col("take1"))
          .otherwise(least(col("cap"),
            col("take1") +
              expr("(CAST(leftover AS DECIMAL(38,0)) * w) div w_open"))))
      .withColumn("epochs_milli",
        expr("(CAST(alloc2 AS DECIMAL(38,0)) * 1000) div n_tokens"))
      .select(col("lang"), col("n_tokens"), col("w").as("weight_micro"),
        col("alloc2").as("tokens_allocated"), col("epochs_milli"))
      .orderBy("lang")
  }

  /** One BPE merge-step pair count (Sennrich et al. 2016 §3.2) — the
    * tokenizer-training primitive: count adjacent character pairs
    * inside every word, weighted by corpus word frequency, and report
    * the top-20 merge candidates (the pair a BPE trainer would merge
    * next, plus its runners-up, each with its distinct-word-form
    * support). Training iterates this to a vocabulary; one step is the
    * oracle-checkable core, same framing as `q_kmeans_step` (driver
    * loop over a distributed step).
    *
    * Scale shape: the ONLY corpus-sized pass is the word-frequency
    * groupBy (uniform hash keys, map-side partials). Pair generation
    * and counting run over the DISTINCT-WORD table — vocabulary-sized,
    * sublinear in corpus size (Heaps' law) — which is exactly the
    * published BPE trick of training on (word, freq) instead of the
    * running text: at 100 TB the corpus pass is a count, and every
    * subsequent merge iteration touches only the vocabulary. The
    * global top-20 lowers to TakeOrderedAndProject. */
  def qBpePairs(spark: SparkSession, dir: String): DataFrame = {
    val words = Tables.documents(spark, dir)
      .select(explode(TextAnalysis.toks(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
    words
      .filter(length(col("word")) >= 2)
      .select(col("word"), col("freq"),
        explode(expr(
          "transform(sequence(1, length(word) - 1)," +
            " i -> substring(word, i, 2))")).as("pair"))
      .groupBy("pair")
      .agg(sum("freq").cast("long").as("pair_count"),
        countDistinct("word").as("n_words"))
      .orderBy(desc("pair_count"), col("pair"))
      .limit(20)
  }

  /** Left-to-right non-overlapping merge of one adjacent symbol pair —
    * the BPE apply step (Sennrich et al. 2016, Algorithm 1). */
  private[graft] def mergePair(syms: Seq[String], a: String,
      b: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
        out += (a + b); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toSeq
  }

  /** Full BPE TRAINING loop — [[qBpePairs]] (one pair-count step)
    * iterated to a merge budget, producing the ranked merge table
    * that IS a BPE tokenizer's vocabulary artifact. Each round counts
    * adjacent SYMBOL pairs over the (word, freq) vocabulary table
    * (every adjacent position, weighted by word frequency — the
    * published counting), takes the argmax (pair_count desc, then
    * lexicographic — deterministic on any engine), and applies the
    * merge left-to-right non-overlapping to every word's symbol
    * sequence.
    *
    * Scale shape: the ONLY corpus-sized pass is the initial word
    * count; all `merges` rounds run on the vocabulary table (Heaps'
    * law sublinear), each one explode+groupBy with map-side partials.
    * The per-round 1-row argmax collect is the LEARNED MODEL
    * PARAMETER itself (a merge rule), not data — the same bounded
    * driver-side result as [[Ann.refineCodebook]]'s K·d centroid
    * table. BpeTrainSpec pins the loop against an independent
    * reference implementation and the round-0 agreement with
    * [[qBpePairs]]. */
  /** The corpus (word, freq) vocabulary table, shared via the session
    * [[Cache]] so the trainer, encoder and fertility audit pay the
    * corpus scan once per session, not once per query. */
  private[operators] def wordCounts(spark: SparkSession,
      dir: String): DataFrame =
    Cache.getOrBuild(spark, "bpe_words", dir) {
      Tables.documents(spark, dir)
        .select(explode(TextAnalysis.toks(col("text"))).as("word"))
        .groupBy("word").agg(count(lit(1)).as("freq"))
    }

  /** The training loop is deterministic in (corpus, budget), so the
    * learned table is cached per session like the word counts — the
    * trainer, encoder and fertility audit each ride ONE training run
    * per session instead of re-learning the same merges. */
  def bpeTrain(spark: SparkSession, dir: String, merges: Int): DataFrame =
    Cache.getOrBuild(spark, s"bpe_merges@$merges", dir) {
      bpeTrainFromWords(spark, wordCounts(spark, dir), merges)
    }

  /** [[bpeTrain]] from an explicit (word, freq) vocabulary. */
  def bpeTrainFromWords(spark: SparkSession, words: DataFrame,
      merges: Int): DataFrame = {
    import spark.implicits._
    var vocab = words
      .select(expr("transform(sequence(1, length(word))," +
        " i -> substring(word, i, 1))").as("syms"),
        col("freq").cast("long").as("freq"))
      .as[(Seq[String], Long)]
      .persist()
    vocab.count()
    val learned = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, String, Long)]
    var round = 0
    var exhausted = false
    while (round < merges && !exhausted) {
      val top = vocab.toDF("syms", "freq")
        .filter(size(col("syms")) >= 2)
        .select(col("freq"), explode(expr(
          "transform(sequence(0, size(syms) - 2)," +
            " i -> struct(syms[i] AS l, syms[i + 1] AS r))")).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum("freq").as("c"))
        .orderBy(desc("c"), col("l"), col("r"))
        .limit(1)
        .collect()
      if (top.isEmpty) exhausted = true
      else {
        val (a, b, c) =
          (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        learned += ((round.toLong + 1, a, b, c))
        val next = vocab.map { case (syms, freq) =>
          (mergePair(syms, a, b), freq)
        }.persist()
        next.count()
        vocab.unpersist(false)
        vocab = next
        round += 1
      }
    }
    vocab.unpersist(false)
    learned.toSeq.toDF("rank", "left", "right", "pair_count")
  }

  /** Merge budget for the registered BPE train/encode queries — small
    * enough that the iterated trainer stays cheap per bench run, large
    * enough to exercise multi-round merge chains (merges of merges). */
  private[graft] val BpeMerges = 8

  /** BPE ENCODE one word: apply the learned merges IN RANK ORDER, each
    * left-to-right non-overlapping ([[mergePair]]) — by construction
    * the trainer's own final symbol state for in-corpus words. The
    * production "merge the lowest-rank adjacent pair first" apply is
    * equivalent, because a rank-k merge's operands are built only by
    * merges of rank < k; BpeEncodeSpec pins that equivalence against
    * an independent priority-order reference. */
  private[graft] def encodeWord(word: String,
      merges: Seq[(String, String)]): Seq[String] =
    merges.foldLeft(word.map(_.toString): Seq[String]) {
      case (syms, (a, b)) =>
        if (syms.length < 2) syms else mergePair(syms, a, b)
    }

  /** Corpus-wide BPE ENCODE under a trained merge table — the serving
    * half of the tokenizer lifecycle ([[bpeTrain]] is the training
    * half). Emits exact per-document token accounting under the REAL
    * tokenizer: the numbers [[qSeqLenHist]] / [[qUnimaxAlloc]] /
    * [[qPackBatches]] consume as whitespace estimates today become
    * exact once a tokenizer artifact is committed.
    *
    * Scale shape: the merge table is the MODEL ARTIFACT (bounded by
    * the merge budget), collected and broadcast like
    * [[Ann.probeIvfIndexWith]]'s codebook. Encoding runs once per
    * DISTINCT word (the vocabulary table — Heaps-law sublinear in
    * corpus size), never per occurrence; the corpus-sized pass is
    * explode → broadcast hash join on word → map-side-partial sum, no
    * window, no shuffle of text. Past ~10M word types drop the
    * broadcast hint and let AQE's skew join absorb the Zipf head —
    * the registry scale keeps it. */
  def bpeEncode(spark: SparkSession, dir: String,
      merges: DataFrame): DataFrame = {
    import spark.implicits._
    val ranked = merges.orderBy("rank").select("left", "right")
      .as[(String, String)].collect().toSeq
    val bc = spark.sparkContext.broadcast(ranked)
    val docs = Tables.documents(spark, dir)
    val encoded = wordCounts(spark, dir)
      .select("word")
      .as[String]
      .map(w => (w, encodeWord(w, bc.value).length.toLong))
      .toDF("word", "word_tokens")
    docs
      .select(col("doc_id"),
        explode(TextAnalysis.toks(col("text"))).as("word"))
      .join(broadcast(encoded), Seq("word"))
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_words"),
        sum("word_tokens").cast("long").as("n_tokens"),
        sum(length(col("word"))).cast("long").as("n_chars"))
      .orderBy("doc_id")
  }

  /** Per-language tokenizer FERTILITY audit under the trained BPE —
    * tokens-per-word and chars-per-token by language, the standard
    * multilingual tokenizer-equity number (a language with high
    * fertility pays more context budget per word; NLLB Team 2022 §6.2,
    * Rust et al. 2021). Integer-milli arithmetic over [[bpeEncode]]'s
    * exact per-doc accounting; the oracle replays the committed encode
    * golden table joined against `documents.lang` — a real relational
    * oracle over the golden artifact, not a second copy of it. */
  def qTokFertility(spark: SparkSession, dir: String): DataFrame = {
    val enc = bpeEncode(spark, dir, bpeTrain(spark, dir, BpeMerges))
    enc.join(Tables.documents(spark, dir).select("doc_id", "lang"),
        "doc_id")
      .groupBy("lang")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum("n_words").cast("long").as("n_words"),
        sum("n_tokens").cast("long").as("n_tokens"),
        sum("n_chars").cast("long").as("n_chars"))
      .withColumn("fertility_milli",
        expr("n_tokens * 1000 div n_words"))
      .withColumn("chars_per_token_milli",
        expr("n_chars * 1000 div n_tokens"))
      .orderBy("lang")
  }

  /** Registered trainer: [[bpeTrain]] at the [[BpeMerges]] budget.
    * Golden oracle ([[graft.GoldenChunks]]) — the iterated argmax has
    * no SQL analogue; the loop itself is pinned by BpeTrainSpec. */
  def qBpeTrain(spark: SparkSession, dir: String): DataFrame =
    bpeTrain(spark, dir, BpeMerges).orderBy("rank")

  /** Registered train-then-encode round trip on the same corpus. */
  def qBpeEncode(spark: SparkSession, dir: String): DataFrame =
    bpeEncode(spark, dir, bpeTrain(spark, dir, BpeMerges))

  // ---- UNIGRAM-LM tokenizer (Kudo 2018) --------------------------------

  /** Longest candidate piece the segmenter considers. */
  private[graft] val UnigramMaxPiece = 6
  /** Multi-char substrings admitted to the seed vocabulary. */
  private[graft] val UnigramSeedMultis = 64
  /** Final vocabulary budget (all corpus chars always retained). */
  private[graft] val UnigramVocab = 48
  /** Hard-EM re-estimation rounds. */
  private[graft] val UnigramRounds = 2

  /** VITERBI segmentation of one word under a unigram piece model —
    * the best-path DP of Kudo 2018 §3 (maximize Σ log p(piece) over
    * segmentations), with character coverage as a LEXICOGRAPHIC
    * FALLBACK TIER: any single char is always a legal edge that costs
    * one fallback use, and paths compare by (fallback uses asc, score
    * desc). Keeping zero-probability chars OUT of the model total —
    * instead of flooring their counts to 1 — is what makes hard-EM
    * exactly scale-invariant: every model count then scales uniformly
    * under corpus replication, so `c/total` is the same rational (and
    * the same IEEE double) at any scale, and no Viterbi near-tie can
    * flip between a base corpus and its replica. A floor of 1 is NOT
    * invariant (the floored unit doesn't scale, perturbing log(total)
    * and with it every comparison between segmentations of different
    * length — observed flipping 'ta'/'at' picks at ×20 before this
    * design). The DP is order-fixed (start asc: fallback edge first,
    * then pieces by end asc; strict improvement), so ties resolve
    * deterministically; coverage also extends to chars never seen in
    * training. */
  private[graft] def unigramSegment(word: String,
      counts: scala.collection.Map[String, Long],
      total: Long): Seq[String] = {
    val n = word.length
    val fb = Array.fill(n + 1)(Int.MaxValue)
    val score = Array.fill(n + 1)(0.0)
    val prev = Array.fill(n + 1)(0)
    fb(0) = 0
    var i = 0
    while (i < n) {
      if (fb(i) != Int.MaxValue) {
        // coverage tier: one char, one fallback use, no score
        if (fb(i) + 1 < fb(i + 1) ||
            (fb(i) + 1 == fb(i + 1) && score(i) > score(i + 1))) {
          fb(i + 1) = fb(i) + 1; score(i + 1) = score(i); prev(i + 1) = i
        }
        var j = i + 1
        val jMax = math.min(n, i + UnigramMaxPiece)
        while (j <= jMax) {
          counts.get(word.substring(i, j)) match {
            case Some(c) =>
              val s = score(i) + math.log(c.toDouble / total)
              if (fb(i) < fb(j) || (fb(i) == fb(j) && s > score(j))) {
                fb(j) = fb(i); score(j) = s; prev(j) = i
              }
            case None =>
          }
          j += 1
        }
      }
      i += 1
    }
    var p = n
    var acc: List[String] = Nil
    while (p > 0) { val q = prev(p); acc = word.substring(q, p) :: acc; p = q }
    acc
  }

  /** UNIGRAM-LM tokenizer TRAINING (Kudo 2018 — SentencePiece's second
    * model family, completing the lifecycle beside [[bpeTrain]]):
    * seed the vocabulary with the corpus's frequency-weighted
    * substrings, then hard-EM rounds — each round Viterbi-segments
    * every DISTINCT word under the current model (E-step, integer use
    * counts weighted by word frequency), re-estimates piece counts and
    * prunes to the budget keeping every single char in the vocabulary
    * (M-step; unused chars carry count 0 and serve only as the
    * segmenter's coverage fallback). Hard EM (Viterbi counts, not forward-backward
    * expectations) keeps every cross-partition aggregate an exact
    * integer sum — the engine's determinism discipline; the
    * full-lattice posterior refinement is a model-quality nuance, not
    * a pipeline-shape change, and UnigramSpec pins this loop against
    * an independent in-memory reference instead.
    *
    * Scale shape identical to BPE: the only corpus-sized pass is the
    * cached [[wordCounts]] build; seeding and every EM round run on
    * the vocabulary table (Heaps-law sublinear), and the model that
    * crosses rounds is a collected bounded artifact (≤ vocab + chars
    * entries), broadcast back — never a corpus-wide shuffle. */
  def unigramTrain(spark: SparkSession, dir: String,
      vocabSize: Int = UnigramVocab,
      rounds: Int = UnigramRounds): DataFrame =
    Cache.getOrBuild(spark, s"unigram@$vocabSize:$rounds", dir) {
      unigramTrainFromWords(spark, wordCounts(spark, dir), vocabSize, rounds)
    }

  /** [[unigramTrain]] from an explicit (word, freq) vocabulary. */
  def unigramTrainFromWords(spark: SparkSession, words: DataFrame,
      vocabSize: Int, rounds: Int): DataFrame = {
    import spark.implicits._
    val seed = words
      .select(col("freq").cast("long").as("freq"), explode(expr(
        s"flatten(transform(sequence(1, length(word)), i -> " +
          s"transform(sequence(1, least($UnigramMaxPiece, " +
          s"length(word) - i + 1)), L -> substring(word, i, L))))"))
        .as("piece"))
      .groupBy("piece").agg(sum("freq").as("c"))
      .as[(String, Long)].collect()
    val chars = seed.filter(_._1.length == 1).toMap
    val multis0 = seed.filter(_._1.length > 1)
      .sortBy { case (p, c) => (-c, p) }
      .take(UnigramSeedMultis)
    var model: Map[String, Long] = chars ++ multis0
    var r = 0
    while (r < rounds) {
      // zero-count chars stay in the VOCAB (coverage) but out of the
      // scored model and its total — see [[unigramSegment]] on why
      // this exclusion is what makes the loop scale-invariant.
      val pos = model.filter(_._2 > 0)
      val bc = spark.sparkContext.broadcast((pos, pos.values.sum))
      val counted = words
        .select(col("word"), col("freq").cast("long").as("freq"))
        .as[(String, Long)]
        .flatMap { case (w, f) =>
          unigramSegment(w, bc.value._1, bc.value._2).map(p => (p, f)) }
        .toDF("piece", "freq")
        .groupBy("piece").agg(sum("freq").as("c"))
        .as[(String, Long)].collect().toMap
      val withChars = chars.keys
        .map(ch => ch -> counted.getOrElse(ch, 0L)).toMap
      val kept = counted.filter(_._1.length > 1).toSeq
        .sortBy { case (p, c) => (-c, p) }
        .take(math.max(0, vocabSize - withChars.size))
      model = withChars ++ kept
      r += 1
    }
    val total = model.values.sum
    model.toSeq.sortBy { case (p, c) => (-c, p) }.zipWithIndex
      .map { case ((p, c), i) =>
        (i + 1L, p, c, c * 1000000L / total) }
      .toDF("rank", "piece", "n_uses", "prob_micro")
  }

  /** Corpus-wide UNIGRAM ENCODE under a trained model — the serving
    * twin of [[bpeEncode]] (same plan: bounded model artifact
    * broadcast, Viterbi once per DISTINCT word, per-doc accounting via
    * a broadcast word join + map-side-partial sums). */
  def unigramEncode(spark: SparkSession, dir: String,
      model: DataFrame): DataFrame = {
    import spark.implicits._
    val counts = model.select("piece", "n_uses")
      .as[(String, Long)].collect().toMap
      .filter(_._2 > 0) // zero-count chars ride the fallback tier
    val bc = spark.sparkContext.broadcast((counts, counts.values.sum))
    val encoded = wordCounts(spark, dir)
      .select("word")
      .as[String]
      .map(w => (w, unigramSegment(w, bc.value._1, bc.value._2)
        .length.toLong))
      .toDF("word", "word_tokens")
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        explode(TextAnalysis.toks(col("text"))).as("word"))
      .join(broadcast(encoded), Seq("word"))
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_words"),
        sum("word_tokens").cast("long").as("n_tokens"),
        sum(length(col("word"))).cast("long").as("n_chars"))
      .orderBy("doc_id")
  }

  /** Viterbi score of one word under the model: (n_tokens, n_fallback,
    * logprob_micro). Real pieces contribute log(count/total); each
    * coverage-fallback char contributes −log(total) (the
    * count-1-equivalent penalty — on the training corpus itself
    * n_fallback is always 0, because a char has count 0 exactly when
    * no best segmentation needed it; the penalty path exists for
    * serving on NEW text with unseen chars). One double sum per word,
    * rounded to micro at the end — per-word local, deterministic. */
  private[graft] def unigramWordScore(word: String,
      counts: scala.collection.Map[String, Long],
      total: Long): (Long, Long, Long) = {
    val pieces = unigramSegment(word, counts, total)
    var score = 0.0
    var nFallback = 0L
    pieces.foreach { p =>
      counts.get(p) match {
        case Some(c) => score += math.log(c.toDouble / total)
        case None    => nFallback += 1; score -= math.log(total.toDouble)
      }
    }
    (pieces.length.toLong, nFallback, math.round(score * 1000000))
  }

  /** Word-level LM score table under the trained unigram model —
    * `(word, freq, n_tokens, n_fallback, logprob_micro)` per DISTINCT
    * word. THE reusable scoring artifact: committed as a golden
    * fixture, it lets the per-doc perplexity oracle ([[qUnigramPpl]])
    * be a REAL relational replay (DuckDB explodes the corpus and joins
    * this table — the [[qTokFertility]] pattern), and at 100 TB it is
    * the broadcast side of every scoring pass (vocabulary-sized,
    * Heaps-law sublinear). */
  def qUnigramWords(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val model = unigramTrain(spark, dir)
    val counts = model.select("piece", "n_uses")
      .as[(String, Long)].collect().toMap.filter(_._2 > 0)
    val bc = spark.sparkContext.broadcast((counts, counts.values.sum))
    wordCounts(spark, dir)
      .select(col("word"), col("freq").cast("long").as("freq"))
      .as[(String, Long)]
      .map { case (w, f) =>
        val (nt, nf, lp) = unigramWordScore(w, bc.value._1, bc.value._2)
        (w, f, nt, nf, lp)
      }
      .toDF("word", "freq", "n_tokens", "n_fallback", "logprob_micro")
      .orderBy("word")
  }

  /** Per-document LM quality under the TRAINED unigram model — the
    * trained-model upgrade of the [[Quality]] heuristics
    * (q_bigram_lm / q_ppl_bucket score with corpus n-gram statistics;
    * this scores with an actual fitted tokenizer LM, the CCNet
    * wikipedia-LM idea with the engine's own model): per doc, token
    * count and total log-prob (exact integer micro sum of per-word
    * scores × occurrences), bucketed by mean token log-prob. Bucket
    * compare multiplies the threshold through by n_tokens — integer
    * compare, no negative-division floor-vs-truncate hazard (the
    * engine-divergence q_emb_outliers documents). Corpus pass =
    * explode → broadcast word join → map-side-partial sums; the word
    * table is the committed artifact, so the oracle replays the whole
    * query relationally. */
  def qUnigramPpl(spark: SparkSession, dir: String): DataFrame = {
    val words = qUnigramWords(spark, dir)
      .select(col("word"), col("n_tokens").as("wt"),
        col("logprob_micro").as("wlp"))
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        explode(TextAnalysis.toks(col("text"))).as("word"))
      .join(broadcast(words), Seq("word"))
      .groupBy("doc_id")
      .agg(sum("wt").cast("long").as("n_tokens"),
        sum("wlp").cast("long").as("logprob_micro"))
      .withColumn("ppl_bucket",
        when(col("logprob_micro") >= lit(-3450000L) * col("n_tokens"), 0L)
          .when(col("logprob_micro") >= lit(-3480000L) * col("n_tokens"), 1L)
          .when(col("logprob_micro") >= lit(-3510000L) * col("n_tokens"), 2L)
          .when(col("logprob_micro") >= lit(-3600000L) * col("n_tokens"), 3L)
          .otherwise(4L))
      .orderBy("doc_id")
  }

  /** Registered unigram trainer — golden oracle ([[graft.GoldenChunks]]),
    * like [[qBpeTrain]]: the EM loop has no SQL analogue; UnigramSpec
    * pins the algorithm against an independent reference. */
  def qUnigramTrain(spark: SparkSession, dir: String): DataFrame =
    unigramTrain(spark, dir).orderBy("rank")

  /** Registered unigram train-then-encode round trip. */
  def qUnigramEncode(spark: SparkSession, dir: String): DataFrame =
    unigramEncode(spark, dir, unigramTrain(spark, dir))

  /** Dataset RELEASE DIFF — the "what changed between corpus v1 and
    * v2" report a training-data pipeline publishes with every snapshot
    * (the dataset-card / release-notes table): per (lang, change) doc
    * counts and exact token deltas, change ∈ added | removed | changed
    * | unchanged, detected by doc_id full-outer join + md5 content
    * fingerprint compare.
    *
    * Scale shape: fingerprints and token counts are computed AT the
    * two scans (narrow projections — the join carries 4 small columns,
    * never text); one shuffle join on the unique high-cardinality
    * doc_id (no skew, no broadcast possible for full-outer on two
    * corpus-sized sides — the sort-merge IS the right plan); the
    * report aggregate is map-side partial over a languages×4-row
    * output. */
  def corpusDiff(a: DataFrame, b: DataFrame): DataFrame = {
    def prep(df: DataFrame, side: String) =
      df.select(col("doc_id"), col("lang").as(s"lang_$side"),
        md5(col("text")).as(s"fp_$side"),
        size(TextAnalysis.toks(col("text"))).cast("long")
          .as(s"tok_$side"))
    prep(a, "a").join(prep(b, "b"), Seq("doc_id"), "full_outer")
      .withColumn("change",
        when(col("fp_a").isNull, lit("added"))
          .when(col("fp_b").isNull, lit("removed"))
          .when(col("fp_a") =!= col("fp_b"), lit("changed"))
          .otherwise(lit("unchanged")))
      .withColumn("lang", coalesce(col("lang_b"), col("lang_a")))
      .groupBy("lang", "change")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(coalesce(col("tok_b"), lit(0L)) -
          coalesce(col("tok_a"), lit(0L))).cast("long")
          .as("token_delta"),
        sum(coalesce(col("tok_b"), lit(0L))).cast("long")
          .as("tokens_v2"))
      .orderBy("lang", "change")
  }

  /** Registered diff against a deterministic simulated next release of
    * the same corpus (drop every 7th doc, revise every 11th, re-ingest
    * every 13th under a fresh id) — the mutation is replayed verbatim
    * by the DuckDB oracle, so the diff logic itself is what the
    * hash-compare checks. */
  /** The deterministic simulated next release both diff operators run
    * against (and the DuckDB oracles replay verbatim): every 7th doc
    * dropped, every 11th revised, every 13th re-added under a new id. */
  private[graft] def simulatedRelease(v1: DataFrame): DataFrame =
    v1.filter(col("doc_id") % 7 =!= 0)
      .withColumn("text",
        when(col("doc_id") % 11 === 0, concat(col("text"), lit(" revised")))
          .otherwise(col("text")))
      .unionByName(v1.filter(col("doc_id") % 13 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000000L))

  def qCorpusDiff(spark: SparkSession, dir: String): DataFrame = {
    val v1 = Tables.documents(spark, dir)
    corpusDiff(v1, simulatedRelease(v1))
  }

  /** Stable-shard count for [[qShardChurn]] (hash-bucket sharding —
    * shard = top bits of the doc's hash60, NOT a rank cut). */
  private[graft] val StableShards = 64L

  /** Stable shard of a doc id — pure hash bucket (top 6 bits of the
    * 60-bit hash, an exact shift: never double division, which loses
    * bits past 2⁵³), no rank, no coordination; identical in batch
    * ([[qShardChurn]]) and streaming
    * ([[graft.streaming.StreamingShards]]) so a router needs no state
    * to place a document. */
  private[graft] def stableShardCol(docId: Column): Column =
    shiftright(hash60Col(concat(lit("shard:"), docId.cast("string"))),
      60 - java.lang.Long.numberOfTrailingZeros(StableShards)).cast("long")

  /** Release-to-release shard churn under STABLE hash sharding —
    * why a 100 TB layout shards by content hash bucket rather than
    * rank: `q_shard_plan`'s rank-cut shards shift on ANY insertion
    * (every later rank moves), forcing a full rewrite; hash-bucket
    * shards (`shard = h div 2⁶⁰/64` — no rank, no coordination)
    * localize an update to exactly the shards holding changed docs.
    * This report quantifies it for the simulated release: per shard,
    * docs added / removed / revised and the untouched verdict — the
    * incremental-publish planner (only `dirty` shards re-ship).
    *
    * Scale shape: two narrow fingerprint scans, one full-outer join on
    * doc_id, one shard groupBy — linear, no windows anywhere (the
    * stable assignment needs no rank at all). */
  def qShardChurn(spark: SparkSession, dir: String): DataFrame = {
    val v1 = Tables.documents(spark, dir)
    def fp(df: DataFrame, side: String) = df.select(col("doc_id"),
      hash60Col(col("text")).as(s"fp_$side"))
    fp(v1, "a").join(fp(simulatedRelease(v1), "b"), Seq("doc_id"),
        "full_outer")
      .withColumn("shard_id", stableShardCol(col("doc_id")))
      .groupBy("shard_id")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("fp_a").isNull, 1L).otherwise(0L)).as("added"),
        sum(when(col("fp_b").isNull, 1L).otherwise(0L)).as("removed"),
        sum(when(col("fp_a").isNotNull && col("fp_b").isNotNull &&
          col("fp_a") =!= col("fp_b"), 1L).otherwise(0L)).as("revised"))
      .withColumn("dirty",
        col("added") + col("removed") + col("revised") > 0)
      .select("shard_id", "n_docs", "added", "removed", "revised", "dirty")
      .orderBy("shard_id")
  }

  /** Sequence packing WITHIN the stable shard layout — the
    * composition that makes the shard story end-to-end: docs routed by
    * [[stableShardCol]] (the layout [[qShardChurn]] argues for and
    * [[graft.streaming.StreamingShards]] ingests into) are packed
    * per-shard by the SAME two-pass segment packer as
    * [[qPackBatches]] — bins never cross shards, so 1000 executors
    * pack 1000 shards with zero coordination and a trainer reads each
    * shard's bins independently. */
  def qPackShards(spark: SparkSession, dir: String): DataFrame =
    packFrom(Tables.documents(spark, dir)
      .select(col("doc_id"), stableShardCol(col("doc_id")).as("source"),
        size(toks(col("text"))).cast("long").as("tok")))
      .withColumnRenamed("source", "shard_id")

  /** Language-mix drift between releases — the monitoring number a
    * pipeline alarms on before a release ships: per language, token
    * mass and corpus share (exact integer micros) in v1 and v2, and
    * the share drift. Total-variation distance is Σ|drift|/2 over the
    * rows; everything is exact integer arithmetic (the micro-share
    * `tokens·10⁶ div total` in DECIMAL so a 10¹³-token corpus cannot
    * overflow), so the report is engine-portable bit-for-bit — no
    * log-based divergence whose float parity is fragile.
    *
    * Scale shape: two narrow (lang, token-count) aggregate scans and
    * a languages-sized full-outer join — linear, no window, the 1-row
    * totals broadcast. */
  def qDistDrift(spark: SparkSession, dir: String): DataFrame = {
    val v1 = Tables.documents(spark, dir)
    def langTokens(df: DataFrame, as: String) = df
      .select(col("lang"),
        size(toks(col("text"))).cast("long").as("t"))
      .groupBy("lang").agg(sum("t").as(as))
    val j = langTokens(v1, "v1_tokens")
      .join(langTokens(simulatedRelease(v1), "v2_tokens"),
        Seq("lang"), "full_outer")
      .withColumn("v1_tokens", coalesce(col("v1_tokens"), lit(0L)))
      .withColumn("v2_tokens", coalesce(col("v2_tokens"), lit(0L)))
    val tot = j.agg(sum("v1_tokens").as("t1"), sum("v2_tokens").as("t2"))
    j.crossJoin(broadcast(tot))
      .withColumn("v1_share_micro",
        expr("CAST(CAST(v1_tokens AS DECIMAL(38,0)) * 1000000 AS DECIMAL(38,0)) div t1"))
      .withColumn("v2_share_micro",
        expr("CAST(CAST(v2_tokens AS DECIMAL(38,0)) * 1000000 AS DECIMAL(38,0)) div t2"))
      .withColumn("drift_micro",
        col("v2_share_micro") - col("v1_share_micro"))
      .select("lang", "v1_tokens", "v2_tokens", "v1_share_micro",
        "v2_share_micro", "drift_micro")
      .orderBy("lang")
  }

  /** Candidate training context lengths for the truncation forecast. */
  private[graft] val CtxLens = Seq(128L, 256L, 512L, 1024L)

  /** Context-length truncation forecast: for each candidate training
    * context length, how many documents would truncate and what
    * fraction of corpus tokens survives — the number that decides the
    * packing context ([[qPackBatches]]'s bin size) before committing
    * to a full packing run.
    *
    * Scale shape: one corpus pass reduces documents to a BOUNDED
    * (n_tokens, count) histogram — at most max-doc-length rows, the
    * same bounded-histogram move as q_percentile/q_ppl_bucket — and
    * the per-length sweep is arithmetic over histogram × 4 broadcast
    * lengths. Exact integer token accounting throughout. */
  def qSeqLenHist(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val hist = Tables.documents(spark, dir)
      .select(size(TextAnalysis.toks(col("text"))).cast("long")
        .as("n_tokens"))
      .groupBy("n_tokens").agg(count(lit(1)).as("n_docs"))
    hist.crossJoin(broadcast(CtxLens.toDF("ctx_len")))
      .groupBy("ctx_len")
      .agg(sum("n_docs").cast("long").as("n_docs"),
        sum(when(col("n_tokens") > col("ctx_len"), col("n_docs"))
          .otherwise(0L)).cast("long").as("docs_truncated"),
        sum(col("n_tokens") * col("n_docs")).cast("long")
          .as("total_tokens"),
        sum(least(col("n_tokens"), col("ctx_len")) * col("n_docs"))
          .cast("long").as("tokens_kept"))
      .withColumn("kept_frac_micro",
        expr("(tokens_kept * 1000000) div total_tokens"))
      .orderBy("ctx_len")
  }

  private[graft] val UniMaxEpochCap = 4L

  /** UniMax language allocation (Chung et al. 2023 §3): spread the
    * token budget as UNIFORMLY as possible across languages subject to
    * a per-language repetition cap of [[UniMaxEpochCap]] epochs — the
    * uniform-first counterpart of [[qEpochPlan]]'s temperature
    * weighting. Closed-form waterfill: with languages sorted by cap
    * ascending, language k caps iff its cap sits below the uniform
    * share of what remains after paying out all smaller caps
    * (`cap_k · (n−k+1) ≤ budget − prefix_{k−1}`); cappedness is then a
    * prefix of the sorted order, so one prefix-sum pass plus one
    * aggregate finds the water level, and every uncapped language gets
    * the same integer floor share. Budget = 3.5× corpus tokens — the
    * same surplus-genuinely-moves regime as the epoch plan, and since
    * 3.5 < 4 the budget can never cover every cap, so the uncapped
    * divisor is provably nonzero. All-integer arithmetic; the only
    * products are cap·n_langs and alloc·1000 (safe to ~10¹⁶ tokens per
    * language, ~10³× past a 100 TB corpus).
    *
    * Scale shape: one corpus groupBy for per-lang token totals; the
    * waterfill — including its row_number/prefix-sum window — runs on
    * the LANGUAGES-sized table (broadcast scale, one partition by
    * construction), never over documents. */
  def qUnimaxAlloc(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .groupBy("lang")
      .agg(sum(size(TextAnalysis.toks(col("text")))).cast("long")
        .as("n_tokens"))
      .withColumn("cap", col("n_tokens") * UniMaxEpochCap)
    val tot = toks.agg(sum("n_tokens").cast("long").as("n_corpus"),
      count(lit(1)).cast("long").as("n_langs"))
    // languages-sized waterfill table: deliberate single partition —
    // the prefix sum runs ACROSS languages, so no real partition key
    // exists; boundedness (rows = language count) is pinned in
    // PlanAuditSpec and the audited WindowExec warning filtered in
    // GraftSession (a literal key would be constant-folded anyway)
    val w = Window.orderBy("cap", "lang")
    val r = toks.crossJoin(broadcast(tot))
      .withColumn("budget", expr("(n_corpus * 7) div 2"))
      .withColumn("k", row_number().over(w).cast("long"))
      .withColumn("pfx", sum("cap").over(w))
      .withColumn("capped",
        col("cap") * (col("n_langs") - col("k") + 1L) <=
          col("budget") - (col("pfx") - col("cap")))
    val paid = r.agg(
      sum(when(col("capped"), col("cap")).otherwise(0L)).cast("long")
        .as("paid"),
      sum(when(col("capped"), 1L).otherwise(0L)).cast("long")
        .as("n_capped"))
    r.crossJoin(broadcast(paid))
      .withColumn("alloc",
        when(col("capped"), col("cap"))
          .otherwise(expr("(budget - paid) div (n_langs - n_capped)")))
      .withColumn("epochs_milli", expr("(alloc * 1000) div n_tokens"))
      .select(col("lang"), col("n_tokens"), col("cap").as("cap_tokens"),
        col("capped"), col("alloc").as("tokens_allocated"),
        col("epochs_milli"))
      .orderBy("lang")
  }

  /** Documents per training shard. */
  private[graft] val ShardDocs = 64L

  /** Rank segments for the shard plan: the 12 top bits of the 60-bit
    * shuffle hash — 4096 hash-uniform segments, so segment order IS
    * hash order and no segment is ever a hot task. */
  private[graft] val ShardSegDiv = 281474976710656L // 2^48

  /** Training-shard plan — the write manifest a pipeline materializes
    * right before the trainer reads the corpus: a deterministic seeded
    * global shuffle (order by `hash60("shard:"||doc_id)` — the same
    * md5-derived coin every sampling operator uses, so the order is
    * reproducible forever and uncorrelated with doc_id, source, or
    * time-of-crawl), cut into fixed-[[ShardDocs]] shards, each
    * reported with its doc count, byte total, and an order-invariant
    * content checksum (sum of per-doc text hash60s mod 2⁶⁰ — verifiable
    * shard-by-shard after any re-partitioning or transport).
    *
    * Scale shape — a global rank with NO global window: docs land in
    * 4096 hash-range segments ([[ShardSegDiv]] — monotone in the
    * shuffle hash, so segment order is global order); pass 1 counts
    * per segment and prefix-sums THAT 4096-row table for each
    * segment's carry-in rank; pass 2 ranks inside (segment)
    * partitions — hash-uniform, ~N/4096 rows each — and adds the
    * carry. Same two-pass construction as [[packFrom]], on the hash
    * domain instead of doc_id. At 100 TB this is a range-partitioned
    * sort (exactly how Spark's own sortBy writes sorted output) plus
    * two linear passes; the alternative single `row_number() OVER
    * (ORDER BY h)` window is one task holding the corpus. */
  /** Per-doc shard assignment — (doc_id, n_chars, ch, shard_id) — the
    * shared core of the plan report, the writer, and the read-back
    * audit. */
  private[graft] def shardAssignments(spark: SparkSession,
      dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars"),
        hash60Col(concat(lit("shard:"), col("doc_id").cast("string")))
          .as("h"),
        hash60Col(col("text")).as("ch"))
      .withColumn("seg", expr(s"h div $ShardSegDiv"))
    // seg table is bounded by 2^60/ShardSegDiv = 4096 rows:
    // deliberate single partition (cross-segment carry — no real
    // key exists; bound pinned in PlanAuditSpec, warning filtered
    // in GraftSession)
    val wCarry = Window.orderBy("seg")
      .rowsBetween(Window.unboundedPreceding, -1)
    val carry = docs.groupBy("seg").agg(count(lit(1)).as("seg_n"))
      .withColumn("carry", coalesce(sum(col("seg_n")).over(wCarry), lit(0L)))
      .select("seg", "carry")
    val wLocal = Window.partitionBy("seg").orderBy("h", "doc_id")
    docs.join(carry, "seg")
      .withColumn("rk", col("carry") + row_number().over(wLocal))
      .withColumn("shard_id", expr(s"(rk - 1) div $ShardDocs"))
      .select("doc_id", "n_chars", "ch", "shard_id")
  }

  /** THE per-shard manifest aggregation — count, byte total,
    * order-invariant checksum over `(shard_id, n_chars, ch)` rows.
    * One body shared by the rank-cut plan, the writer, the read-back
    * audit, and the streaming router, so the batch/streamed/audit
    * equality contracts cannot drift. */
  private[graft] def shardManifestAgg(rows: DataFrame): DataFrame =
    rows.groupBy("shard_id")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("n_bytes"),
        expr("CAST(sum(CAST(ch AS DECIMAL(38,0))) % 1152921504606846976 AS BIGINT)")
          .as("checksum"))

  private def shardManifestOf(assign: DataFrame): DataFrame =
    shardManifestAgg(assign)
      .select("shard_id", "n_docs", "n_bytes", "checksum")
      .orderBy("shard_id")

  def qShardPlan(spark: SparkSession, dir: String): DataFrame =
    shardManifestOf(shardAssignments(spark, dir))

  /** Materialize the shards: full document rows written
    * shard-partitioned (each `shard_id=` directory is one trainer
    * input file set), plus the manifest alongside. At 100 TB this is
    * ONE hash-range shuffle and a partitioned write — the layout
    * trainers stream without further shuffles. */
  def writeShards(spark: SparkSession, dir: String, outPath: String): Unit = {
    val assign = shardAssignments(spark, dir)
    graft.store.ChunkStore.write(
      Tables.documents(spark, dir).join(assign.select("doc_id", "shard_id"),
        "doc_id"),
      s"$outPath/shards", partitionCols = Seq("shard_id"))
    graft.store.ChunkStore.write(shardManifestOf(assign),
      s"$outPath/manifest")
  }

  /** Read-back audit of a [[writeShards]] artifact: recompute each
    * shard's doc count, byte total, and content checksum FROM THE
    * WRITTEN FILES and compare against the stored manifest — the
    * post-transport integrity check (bitrot, partial copy, truncated
    * shard) that order-invariant checksums make possible on any
    * partitioning. Emits one row per shard with an `ok` verdict. */
  def verifyShards(spark: SparkSession, outPath: String): DataFrame = {
    val got = shardManifestAgg(
      graft.store.ChunkStore.read(spark, s"$outPath/shards")
        .select(col("shard_id"), col("n_chars"),
          hash60Col(col("text")).as("ch")))
      .select(col("shard_id"), col("n_docs").as("got_docs"),
        col("n_bytes").as("got_bytes"), col("checksum").as("got_checksum"))
    // null-SAFE compares: a shard present in only one side (truncated
    // copy, lost directory — exactly the audit's target failure) must
    // read ok=false, never NULL
    graft.store.ChunkStore.read(spark, s"$outPath/manifest")
      .join(got, Seq("shard_id"), "full_outer")
      .withColumn("ok",
        col("n_docs") <=> col("got_docs") &&
        col("n_bytes") <=> col("got_bytes") &&
        col("checksum") <=> col("got_checksum"))
      .select("shard_id", "n_docs", "got_docs", "checksum", "got_checksum",
        "ok")
      .orderBy("shard_id")
  }

  /** Bloom geometry for [[qBloomIndex]]: m bits per shard, k probes.
    * 16 shards × 4096 bits = an 8 KB index for the whole corpus —
    * broadcastable at any scale because the SIZE is per-shard
    * constant. */
  private[graft] val BloomBits = 4096L
  private[graft] val BloomK = 4
  private[graft] val BloomShards = 16L

  /** Bit positions of one key: `hash60(h:i) mod m` for i < k — the
    * k-hash construction with the engine's portable hash, so the
    * bitmap is deterministic and the oracle recomputes it
    * bit-for-bit. */
  private[graft] def bloomPositions(df: DataFrame,
      bits: Long = BloomBits): DataFrame =
    df.select(col("shard"), col("h"),
      explode(sequence(lit(0), lit(BloomK - 1))).as("i"))
      .select(col("shard"), col("h"),
        pmod(hash60Col(concat(col("h").cast("string"), lit(":"),
          col("i").cast("string"))), lit(bits)).as("p"))

  /** Per-shard key sets for the Bloom index: the document fingerprint
    * hash, sharded by doc_id (the demo layout; production points this
    * at [[qShardPlan]]'s stable-hash shards). */
  private def bloomKeys(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(pmod(col("doc_id"), lit(BloomShards)).as("shard"),
        hash60Col(col("text")).as("h"))
      .distinct()

  /** Per-shard BLOOM MEMBERSHIP INDEX with its exact-integer accuracy
    * audit (Bloom 1970; the per-file/SST-level skip index every LSM
    * store and parquet itself carry): each shard's document
    * fingerprints hash into a [[BloomBits]]-bit, [[BloomK]]-probe
    * filter, and the report carries the set-bit count plus the
    * resulting false-positive rate as an EXACT integer
    * `micro(fpp) = (bits_set⁴·10⁶) div m⁴` — no float pow, so the
    * oracle row is hash-stable. A point lookup consults the 8 KB
    * index and touches only bloom-positive shards
    * ([[bloomShardCandidates]]; BloomIndexSpec proves zero false
    * negatives and measures the skip fraction on planted probes).
    *
    * Scale shape: one narrow fingerprint scan → (shard, position)
    * distinct — at most m rows per shard however many keys stream in
    * (the bitmap IS the bound); the audit is a shards-sized
    * aggregate. */
  def qBloomIndex(spark: SparkSession, dir: String): DataFrame =
    bloomIndexG(spark, dir, BloomBits)

  /** [[qBloomIndex]] at an arbitrary filter width — the geometry the
    * saturation probe scales. */
  private[graft] def bloomIndexG(spark: SparkSession, dir: String,
      bits: Long): DataFrame = {
    val keys = bloomKeys(spark, dir)
    val nk = keys.groupBy("shard").agg(count(lit(1)).as("n_keys"))
    val set = bloomPositions(keys, bits)
      .select("shard", "p").distinct()
      .groupBy("shard").agg(count(lit(1)).as("n_bits_set"))
    nk.join(set, "shard")
      .withColumn("fpp_micro", expr(
        s"""CAST(CAST(n_bits_set AS DECIMAL(38,0)) * n_bits_set * n_bits_set
           |  * n_bits_set * 1000000 div
           |  (CAST($bits AS DECIMAL(38,0)) * $bits * $bits
           |   * $bits) AS BIGINT)""".stripMargin))
      .select("shard", "n_keys", "n_bits_set", "fpp_micro")
      .orderBy("shard")
  }

  /** The serve path: for each probe fingerprint, the shards whose
    * filter contains ALL k of its bit positions — the candidate set a
    * point lookup actually reads. Probes join the (shard, position)
    * bitmap (≤ shards·m rows, broadcastable) and a shard survives
    * only with all [[BloomK]] distinct positions present. */
  def bloomShardCandidates(spark: SparkSession, dir: String,
      probes: DataFrame): DataFrame = {
    val bitmap = bloomPositions(bloomKeys(spark, dir))
      .select("shard", "p").distinct()
    val pp = bloomPositions(
        probes.select(lit(-1L).as("shard"), col("h")))
      .select(col("h"), col("p")).distinct()
    pp.join(broadcast(bitmap), "p")
      .groupBy("h", "shard")
      .agg(count(lit(1)).as("hits"))
      .join(pp.groupBy("h").agg(count(lit(1)).as("need")), "h")
      .filter(col("hits") === col("need"))
      .select(col("h"), col("shard"))
  }

  /** Target rows per training shard for [[qTrainOrder]] — the knob
    * that makes per-shard windows BOUNDED by construction (shards =
    * n/target, so each shard holds ~target rows however large the
    * corpus). */
  private[graft] val TrainOrderTarget = 64L

  /** Seed baked into the shuffle key: reshuffling an epoch = a new
    * seed, nothing else changes. */
  private[graft] val TrainOrderSeed = 42L

  /** TRAINING ORDER — the deterministic seeded global shuffle that
    * sits between curation and the shard writer: every document gets
    * a portable-hash shuffle key (`hash60(doc_id:ord<seed>)`), a
    * shard (`key mod S`), and a position within its shard; the
    * training stream is `(shard, pos)` lexicographic. Properties a
    * training pipeline needs, by construction:
    *
    *   - REPRODUCIBLE and partitioning-independent: the key is a pure
    *     function of (doc_id, seed) — any cluster, any input layout,
    *     any retry produces the same order (CurationSpec pins
    *     invariance under arbitrary repartition).
    *   - INTERLEAVED: hashing mixes sources/domains uniformly into
    *     every stretch of the stream, which is what per-domain
    *     gradient balance actually requires — no explicit stratified
    *     merge needed (the spec bounds each shard's source mix
    *     against the corpus mix).
    *   - SCALE-SAFE: S = n / [[TrainOrderTarget]] grows with the
    *     corpus, so the per-shard `row_number` window is bounded at
    *     ~target rows per shard regardless of corpus size — the
    *     global-order window a naive ORDER BY + row_number would need
    *     never exists. Writing shard files in `(shard, pos)` order IS
    *     the shard writer's layout ([[qPackShards]]); a trainer reads
    *     shards round-robin and gets the interleave for free.
    */
  def qTrainOrder(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select("doc_id", "source")
    val n = docs.count()
    val shards = math.max(8L, n / TrainOrderTarget)
    val w = Window.partitionBy("shard").orderBy("shuffle_key", "doc_id")
    docs
      .withColumn("shuffle_key", hash60Col(
        concat(col("doc_id").cast("string"), lit(s":ord$TrainOrderSeed"))))
      .withColumn("shard", pmod(col("shuffle_key"), lit(shards)))
      .withColumn("pos", row_number().over(w).cast("long"))
      .select("doc_id", "source", "shuffle_key", "shard", "pos")
      .orderBy("shard", "pos")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_train_order"   -> (qTrainOrder _),
    "q_bloom_index"   -> (qBloomIndex _),
    "q_shard_plan"    -> (qShardPlan _),
    "q_dist_drift"    -> (qDistDrift _),
    "q_shard_churn"   -> (qShardChurn _),
    "q_pack_shards"   -> (qPackShards _),
    "q_bpe_pairs"     -> (qBpePairs _),
    "q_bpe_train"     -> (qBpeTrain _),
    "q_bpe_encode"    -> (qBpeEncode _),
    "q_unigram_train" -> (qUnigramTrain _),
    "q_unigram_encode" -> (qUnigramEncode _),
    "q_unigram_words" -> (qUnigramWords _),
    "q_unigram_ppl"   -> (qUnigramPpl _),
    "q_tok_fertility" -> (qTokFertility _),
    "q_corpus_diff"   -> (qCorpusDiff _),
    "q_pack_bpe"      -> (qPackBpe _),
    "q_unimax_alloc"  -> (qUnimaxAlloc _),
    "q_seq_len_hist"  -> (qSeqLenHist _),
    "q_epoch_plan"    -> (qEpochPlan _),
    "q_temp_sampling" -> (qTempSampling _),
    "q_sample_strat" -> (qSampleStrat _),
    "q_weighted_sample" -> (qWeightedSample _),
    "q_domain_cap"   -> (qDomainCap _),
    "q_data_split"   -> (qDataSplit _),
    "q_quality_rep"  -> (qQualityRepetition _),
    "q_pack_batches" -> (qPackBatches _),
    "q_boilerplate"  -> (qBoilerplate _),
    "q_data_mix"     -> (qDataMix _),
    "q_rarity"       -> (qRarity _),
  )

  private val toksSql =
    "list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '')"

  val oracles: Map[String, String] = Map(
    "q_train_order" ->
      s"""WITH nn AS (SELECT count(*) AS n FROM documents),
         |s AS (SELECT greatest(8, (SELECT n FROM nn) // $TrainOrderTarget) AS s),
         |k AS (
         |  SELECT doc_id, source,
         |    ('0x'||substr(md5(doc_id::VARCHAR||':ord$TrainOrderSeed'),1,15))::BIGINT
         |      AS shuffle_key
         |  FROM documents)
         |SELECT doc_id, source, shuffle_key,
         |  shuffle_key % (SELECT s FROM s) AS shard,
         |  row_number() OVER (
         |    PARTITION BY shuffle_key % (SELECT s FROM s)
         |    ORDER BY shuffle_key, doc_id)::BIGINT AS pos
         |FROM k ORDER BY shard, pos""".stripMargin,
    "q_bloom_index" ->
      s"""WITH keys AS (
        |  SELECT DISTINCT doc_id % $BloomShards AS shard,
        |    ('0x'||substr(md5(text),1,15))::BIGINT AS h
        |  FROM documents),
        |nk AS (SELECT shard, count(*) AS n_keys FROM keys GROUP BY 1),
        |pos AS (
        |  SELECT DISTINCT shard,
        |    ('0x'||substr(md5(h::VARCHAR||':'||i::VARCHAR),1,15))::BIGINT
        |      % $BloomBits AS p
        |  FROM keys, LATERAL (SELECT unnest(range($BloomK)) AS i) g),
        |b AS (SELECT shard, count(*) AS n_bits_set FROM pos GROUP BY 1)
        |SELECT nk.shard, nk.n_keys, b.n_bits_set,
        |  ((b.n_bits_set::HUGEINT * b.n_bits_set * b.n_bits_set
        |    * b.n_bits_set * 1000000) //
        |   ($BloomBits::HUGEINT * $BloomBits * $BloomBits * $BloomBits)
        |  )::BIGINT AS fpp_micro
        |FROM nk JOIN b USING (shard)
        |ORDER BY shard""".stripMargin,
    "q_pack_shards" ->
      s"""WITH d AS (
         |  SELECT doc_id,
         |    ('0x'||substr(md5('shard:'||doc_id::VARCHAR),1,15))::BIGINT
         |      // ${1L << 54} AS shard_id,
         |    len($toksSql)::BIGINT AS tok
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, shard_id, tok,
         |    sum(tok) OVER (PARTITION BY shard_id ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM d),
         |b AS (
         |  SELECT shard_id, CAST(floor((cum - tok) / $PackCapacity) AS BIGINT) AS bin,
         |    doc_id, tok
         |  FROM c)
         |SELECT shard_id, bin, count(*) AS n_docs, sum(tok)::BIGINT AS bin_tokens,
         |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
         |FROM b GROUP BY shard_id, bin ORDER BY shard_id, bin""".stripMargin,
    "q_shard_churn" ->
      s"""WITH v1 AS (
         |  SELECT doc_id, lang, text FROM documents),
         |v2 AS (
         |  SELECT doc_id, lang,
         |    CASE WHEN doc_id % 11 = 0 THEN text || ' revised'
         |         ELSE text END AS text
         |  FROM v1 WHERE doc_id % 7 <> 0
         |  UNION ALL
         |  SELECT doc_id + 1000000000, lang, text
         |  FROM v1 WHERE doc_id % 13 = 0),
         |pa AS (SELECT doc_id,
         |  ('0x'||substr(md5(text),1,15))::BIGINT AS fp_a FROM v1),
         |pb AS (SELECT doc_id,
         |  ('0x'||substr(md5(text),1,15))::BIGINT AS fp_b FROM v2),
         |j AS (
         |  SELECT coalesce(pa.doc_id, pb.doc_id) AS doc_id, fp_a, fp_b
         |  FROM pa FULL OUTER JOIN pb ON pa.doc_id = pb.doc_id),
         |s AS (
         |  SELECT ('0x'||substr(md5('shard:'||doc_id::VARCHAR),1,15))::BIGINT
         |      // ${(1L << 60) / StableShards} AS shard_id,
         |    fp_a, fp_b
         |  FROM j)
         |SELECT shard_id, count(*) AS n_docs,
         |  sum(CASE WHEN fp_a IS NULL THEN 1 ELSE 0 END)::BIGINT AS added,
         |  sum(CASE WHEN fp_b IS NULL THEN 1 ELSE 0 END)::BIGINT AS removed,
         |  sum(CASE WHEN fp_a IS NOT NULL AND fp_b IS NOT NULL
         |      AND fp_a <> fp_b THEN 1 ELSE 0 END)::BIGINT AS revised,
         |  (sum(CASE WHEN fp_a IS NULL THEN 1 ELSE 0 END)
         |   + sum(CASE WHEN fp_b IS NULL THEN 1 ELSE 0 END)
         |   + sum(CASE WHEN fp_a IS NOT NULL AND fp_b IS NOT NULL
         |       AND fp_a <> fp_b THEN 1 ELSE 0 END)) > 0 AS dirty
         |FROM s GROUP BY shard_id ORDER BY shard_id""".stripMargin,
    "q_dist_drift" ->
      s"""WITH v1 AS (
         |  SELECT doc_id, lang, text FROM documents),
         |v2 AS (
         |  SELECT doc_id, lang,
         |    CASE WHEN doc_id % 11 = 0 THEN text || ' revised'
         |         ELSE text END AS text
         |  FROM v1 WHERE doc_id % 7 <> 0
         |  UNION ALL
         |  SELECT doc_id + 1000000000, lang, text
         |  FROM v1 WHERE doc_id % 13 = 0),
         |a AS (SELECT lang, sum(len($toksSql))::BIGINT AS v1_tokens
         |      FROM v1 GROUP BY 1),
         |b AS (SELECT lang, sum(len($toksSql))::BIGINT AS v2_tokens
         |      FROM v2 GROUP BY 1),
         |j AS (
         |  SELECT coalesce(a.lang, b.lang) AS lang,
         |    coalesce(v1_tokens, 0) AS v1_tokens,
         |    coalesce(v2_tokens, 0) AS v2_tokens
         |  FROM a FULL OUTER JOIN b ON a.lang = b.lang),
         |t AS (SELECT sum(v1_tokens)::HUGEINT AS t1,
         |             sum(v2_tokens)::HUGEINT AS t2 FROM j)
         |SELECT lang, v1_tokens, v2_tokens,
         |  (v1_tokens::HUGEINT * 1000000 // t1)::BIGINT AS v1_share_micro,
         |  (v2_tokens::HUGEINT * 1000000 // t2)::BIGINT AS v2_share_micro,
         |  (v2_tokens::HUGEINT * 1000000 // t2
         |    - v1_tokens::HUGEINT * 1000000 // t1)::BIGINT AS drift_micro
         |FROM j, t ORDER BY lang""".stripMargin,
    "q_shard_plan" ->
      s"""WITH h AS (
         |  SELECT doc_id, n_chars,
         |    ('0x'||substr(md5('shard:'||doc_id::VARCHAR),1,15))::BIGINT AS h,
         |    ('0x'||substr(md5(text),1,15))::BIGINT AS ch
         |  FROM documents),
         |r AS (
         |  SELECT doc_id, n_chars, ch,
         |    row_number() OVER (ORDER BY h, doc_id)::BIGINT AS rk
         |  FROM h)
         |SELECT CAST(floor((rk - 1) / $ShardDocs) AS BIGINT) AS shard_id,
         |  count(*) AS n_docs, sum(n_chars)::BIGINT AS n_bytes,
         |  CAST(sum(ch::DECIMAL(38,0)) % 1152921504606846976 AS BIGINT)
         |    AS checksum
         |FROM r GROUP BY shard_id ORDER BY shard_id""".stripMargin,
    // The iterated trainer and its encode round-trip have no SQL
    // analogue (driver-side argmax loop), so like the boundary
    // chunkers their oracle is the committed golden table
    // ([[graft.GoldenChunks]]); the algorithms are pinned by
    // BpeTrainSpec/BpeEncodeSpec against independent references.
    "q_bpe_train" ->
      s"""SELECT * FROM
         |read_parquet('$fixturesDir/bpe_train_sf0.01.parquet/*.parquet')
         |ORDER BY rank""".stripMargin,
    "q_bpe_encode" ->
      s"""SELECT * FROM
         |read_parquet('$fixturesDir/bpe_encode_sf0.01.parquet/*.parquet')
         |ORDER BY doc_id""".stripMargin,
    "q_unigram_train" ->
      s"""SELECT * FROM
         |read_parquet('$fixturesDir/unigram_train_sf0.01.parquet/*.parquet')
         |ORDER BY rank""".stripMargin,
    "q_unigram_encode" ->
      s"""SELECT * FROM
         |read_parquet('$fixturesDir/unigram_encode_sf0.01.parquet/*.parquet')
         |ORDER BY doc_id""".stripMargin,
    "q_unigram_words" ->
      s"""SELECT * FROM
         |read_parquet('$fixturesDir/unigram_words_sf0.01.parquet/*.parquet')
         |ORDER BY word""".stripMargin,
    // a REAL relational oracle over the committed word-score artifact:
    // DuckDB independently explodes the corpus, joins and aggregates
    "q_unigram_ppl" ->
      s"""WITH w AS (
         |  SELECT doc_id, unnest(${TextAnalysis.toksSql}) AS word
         |  FROM documents),
         |agg AS (
         |  SELECT doc_id, sum(u.n_tokens)::BIGINT AS n_tokens,
         |    sum(u.logprob_micro)::BIGINT AS logprob_micro
         |  FROM w JOIN
         |  read_parquet('$fixturesDir/unigram_words_sf0.01.parquet/*.parquet') u
         |  USING (word)
         |  GROUP BY doc_id)
         |SELECT doc_id, n_tokens, logprob_micro,
         |  CASE WHEN logprob_micro >= -3450000 * n_tokens THEN 0
         |       WHEN logprob_micro >= -3480000 * n_tokens THEN 1
         |       WHEN logprob_micro >= -3510000 * n_tokens THEN 2
         |       WHEN logprob_micro >= -3600000 * n_tokens THEN 3
         |       ELSE 4 END::BIGINT AS ppl_bucket
         |FROM agg ORDER BY doc_id""".stripMargin,
    // a REAL relational oracle over the committed encode artifact —
    // DuckDB independently joins and aggregates it against documents
    "q_tok_fertility" ->
      s"""SELECT lang, count(*)::BIGINT AS n_docs,
         |  sum(e.n_words)::BIGINT AS n_words,
         |  sum(e.n_tokens)::BIGINT AS n_tokens,
         |  sum(e.n_chars)::BIGINT AS n_chars,
         |  sum(e.n_tokens)::BIGINT * 1000 // sum(e.n_words)::BIGINT
         |    AS fertility_milli,
         |  sum(e.n_chars)::BIGINT * 1000 // sum(e.n_tokens)::BIGINT
         |    AS chars_per_token_milli
         |FROM
         |read_parquet('$fixturesDir/bpe_encode_sf0.01.parquet/*.parquet') e
         |JOIN documents d ON d.doc_id = e.doc_id
         |GROUP BY lang ORDER BY lang""".stripMargin,
    "q_corpus_diff" ->
      s"""WITH v1 AS (
         |  SELECT doc_id, lang, text FROM documents),
         |v2 AS (
         |  SELECT doc_id, lang,
         |    CASE WHEN doc_id % 11 = 0 THEN text || ' revised'
         |         ELSE text END AS text
         |  FROM v1 WHERE doc_id % 7 <> 0
         |  UNION ALL
         |  SELECT doc_id + 1000000000, lang, text
         |  FROM v1 WHERE doc_id % 13 = 0),
         |pa AS (SELECT doc_id, lang AS lang_a, md5(text) AS fp_a,
         |  len($toksSql)::BIGINT AS tok_a FROM v1),
         |pb AS (SELECT doc_id, lang AS lang_b, md5(text) AS fp_b,
         |  len($toksSql)::BIGINT AS tok_b FROM v2),
         |j AS (
         |  SELECT coalesce(pb.lang_b, pa.lang_a) AS lang,
         |    CASE WHEN pa.fp_a IS NULL THEN 'added'
         |         WHEN pb.fp_b IS NULL THEN 'removed'
         |         WHEN pa.fp_a <> pb.fp_b THEN 'changed'
         |         ELSE 'unchanged' END AS change,
         |    coalesce(pb.tok_b, 0) - coalesce(pa.tok_a, 0) AS delta,
         |    coalesce(pb.tok_b, 0) AS tok2
         |  FROM pa FULL OUTER JOIN pb ON pa.doc_id = pb.doc_id)
         |SELECT lang, change, count(*)::BIGINT AS n_docs,
         |  sum(delta)::BIGINT AS token_delta,
         |  sum(tok2)::BIGINT AS tokens_v2
         |FROM j GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_bpe_pairs" ->
      s"""WITH w AS (
         |  SELECT x.w AS word, count(*) AS freq
         |  FROM documents, LATERAL (SELECT unnest($toksSql) AS w) x
         |  GROUP BY 1),
         |p AS (
         |  SELECT word, freq, substring(word, i, 2) AS pair
         |  FROM w, LATERAL (SELECT unnest(range(1, length(word))) AS i) g
         |  WHERE length(word) >= 2)
         |SELECT pair, sum(freq)::BIGINT AS pair_count,
         |  count(DISTINCT word)::BIGINT AS n_words
         |FROM p GROUP BY pair
         |ORDER BY pair_count DESC, pair LIMIT 20""".stripMargin,
    "q_seq_len_hist" ->
      s"""WITH h AS (
         |  SELECT len($toksSql)::BIGINT AS n_tokens, count(*) AS n_docs
         |  FROM documents GROUP BY 1),
         |l AS (SELECT CAST(unnest([${CtxLens.mkString(", ")}]) AS BIGINT)
         |  AS ctx_len)
         |SELECT ctx_len,
         |  sum(n_docs)::BIGINT AS n_docs,
         |  sum(CASE WHEN n_tokens > ctx_len THEN n_docs ELSE 0 END)::BIGINT
         |    AS docs_truncated,
         |  sum(n_tokens * n_docs)::BIGINT AS total_tokens,
         |  sum(least(n_tokens, ctx_len) * n_docs)::BIGINT AS tokens_kept,
         |  (sum(least(n_tokens, ctx_len) * n_docs)::BIGINT * 1000000)
         |    // sum(n_tokens * n_docs)::BIGINT AS kept_frac_micro
         |FROM h, l GROUP BY ctx_len ORDER BY ctx_len""".stripMargin,
    "q_unimax_alloc" ->
      s"""WITH t AS (
         |  SELECT lang, sum(len($toksSql))::BIGINT AS n_tokens
         |  FROM documents GROUP BY lang),
         |c AS (SELECT lang, n_tokens, n_tokens * $UniMaxEpochCap AS cap
         |  FROM t),
         |tot AS (
         |  SELECT sum(n_tokens)::BIGINT AS n_corpus,
         |    count(*)::BIGINT AS n_langs
         |  FROM c),
         |r AS (
         |  SELECT lang, n_tokens, cap, n_langs,
         |    (n_corpus * 7) // 2 AS budget,
         |    row_number() OVER (ORDER BY cap, lang) AS k,
         |    sum(cap) OVER (ORDER BY cap, lang) AS pfx
         |  FROM c, tot),
         |f AS (
         |  SELECT *,
         |    cap * (n_langs - k + 1) <= budget - (pfx - cap) AS capped
         |  FROM r),
         |paid AS (
         |  SELECT sum(CASE WHEN capped THEN cap ELSE 0 END)::BIGINT AS paid,
         |    sum(CASE WHEN capped THEN 1 ELSE 0 END)::BIGINT AS n_capped
         |  FROM f),
         |a AS (
         |  SELECT lang, n_tokens, cap, capped,
         |    CASE WHEN capped THEN cap
         |         ELSE (budget - paid) // (n_langs - n_capped) END AS alloc
         |  FROM f, paid)
         |SELECT lang, n_tokens, cap AS cap_tokens, capped,
         |  alloc AS tokens_allocated,
         |  (alloc * 1000) // n_tokens AS epochs_milli
         |FROM a ORDER BY lang""".stripMargin,
    "q_epoch_plan" ->
      s"""WITH t AS (
         |  SELECT lang, sum(len($toksSql))::BIGINT AS n_tokens
         |  FROM documents GROUP BY lang),
         |w AS (
         |  SELECT lang, n_tokens,
         |    CAST(round(sqrt(n_tokens) * 1000000, 0) AS BIGINT) AS w
         |  FROM t),
         |tot AS (
         |  SELECT sum(n_tokens)::BIGINT AS n_corpus, sum(w)::BIGINT AS w_sum
         |  FROM w),
         |r1 AS (
         |  SELECT lang, n_tokens, w, (n_corpus * 7) // 2 AS budget,
         |    ((((n_corpus * 7) // 2))::HUGEINT * w) // w_sum AS alloc1,
         |    (n_tokens::HUGEINT * 4000) // 1000 AS cap
         |  FROM w, tot),
         |r2 AS (
         |  SELECT *, alloc1 > cap AS capped, least(alloc1, cap) AS take1
         |  FROM r1),
         |lo AS (
         |  SELECT any_value(budget) - sum(take1) AS leftover,
         |    sum(CASE WHEN NOT capped THEN w ELSE 0 END)::BIGINT AS w_open
         |  FROM r2),
         |alloc AS (
         |  SELECT lang, n_tokens, w,
         |    CASE WHEN capped OR w_open = 0 THEN take1
         |         ELSE least(cap, take1 + (leftover::HUGEINT * w) // w_open)
         |    END AS alloc2
         |  FROM r2, lo)
         |SELECT lang, n_tokens, w AS weight_micro,
         |  alloc2::BIGINT AS tokens_allocated,
         |  ((alloc2::HUGEINT * 1000) // n_tokens)::BIGINT AS epochs_milli
         |FROM alloc ORDER BY lang""".stripMargin,
    "q_temp_sampling" ->
      """WITH c AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
        |t AS (SELECT max(n_docs) AS n_max, sum(n_docs)::BIGINT AS n_total FROM c)
        |SELECT lang, n_docs,
        |  round(n_docs::DOUBLE / n_total, 6) AS share,
        |  round(sqrt(n_docs::DOUBLE) / sqrt(n_max::DOUBLE), 6) AS temp_weight,
        |  round((sqrt(n_docs::DOUBLE) / sqrt(n_max::DOUBLE)) /
        |    (n_docs::DOUBLE / n_max), 6) AS boost
        |FROM c CROSS JOIN t ORDER BY lang""".stripMargin,
    "q_sample_strat" ->
      s"""WITH h AS (
         |  SELECT lang, doc_id, n_chars,
         |    ('0x'||substr(md5('samp:'||doc_id::VARCHAR),1,15))::BIGINT AS h
         |  FROM documents),
         |r AS (
         |  SELECT lang, doc_id, n_chars,
         |    row_number() OVER (PARTITION BY lang ORDER BY h, doc_id)::BIGINT AS rk
         |  FROM h)
         |SELECT lang, rk, doc_id, n_chars FROM r
         |WHERE rk <= $SampleK ORDER BY lang, rk""".stripMargin,
    "q_weighted_sample" ->
      s"""WITH h AS (
         |  SELECT lang, doc_id, n_chars,
         |    ('0x'||substr(md5('wsamp:'||doc_id::VARCHAR),1,15))::BIGINT AS h
         |  FROM documents),
         |k AS (
         |  SELECT lang, doc_id, n_chars,
         |    CAST(round(-ln((h + 1)::DOUBLE / 1152921504606846976.0)
         |      * 1000000 / n_chars) AS BIGINT) AS key_micro
         |  FROM h),
         |r AS (
         |  SELECT lang, doc_id, n_chars, key_micro,
         |    row_number() OVER (PARTITION BY lang
         |      ORDER BY key_micro, doc_id)::BIGINT AS rk
         |  FROM k)
         |SELECT lang, rk, doc_id, n_chars, key_micro FROM r
         |WHERE rk <= $SampleK ORDER BY lang, rk""".stripMargin,
    "q_domain_cap" ->
      s"""WITH r AS (
         |  SELECT source, doc_id, n_chars,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY n_chars DESC, doc_id) AS rk
         |  FROM documents)
         |SELECT source, count(*) AS n_docs,
         |  sum(CASE WHEN rk <= $DomainCap THEN 1 ELSE 0 END)::BIGINT AS kept_docs,
         |  sum(n_chars)::BIGINT AS total_chars,
         |  sum(CASE WHEN rk <= $DomainCap THEN n_chars ELSE 0 END)::BIGINT
         |    AS kept_chars
         |FROM r GROUP BY source ORDER BY source""".stripMargin,
    "q_data_split" ->
      """WITH b AS (
        |  SELECT lang, n_chars,
        |    ('0x'||substr(md5('split:'||doc_id::VARCHAR),1,15))::BIGINT % 100 AS bucket
        |  FROM documents),
        |s AS (
        |  SELECT CASE WHEN bucket < 80 THEN 'train'
        |              WHEN bucket < 90 THEN 'val'
        |              ELSE 'test' END AS split, lang, n_chars
        |  FROM b)
        |SELECT split, lang, count(*) AS n_docs,
        |  sum(n_chars)::BIGINT AS total_chars,
        |  round(sum(n_chars)::DOUBLE / count(*), 6) AS avg_chars
        |FROM s GROUP BY split, lang ORDER BY split, lang""".stripMargin,
    "q_quality_rep" ->
      s"""WITH t AS (
         |  SELECT doc_id, $toksSql AS tk FROM documents),
         |f AS (SELECT doc_id, tk FROM t WHERE len(tk) >= 3),
         |bi AS (
         |  SELECT doc_id, tk[i] || ' ' || tk[i+1] AS g
         |  FROM f, LATERAL (SELECT unnest(range(1, len(tk))) AS i) u),
         |bic AS (SELECT doc_id, g, count(*) AS c FROM bi GROUP BY 1, 2),
         |bia AS (
         |  SELECT doc_id, sum(c)::BIGINT AS n_bigrams, max(c) AS max_bigram
         |  FROM bic GROUP BY doc_id),
         |tri AS (
         |  SELECT doc_id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS g
         |  FROM f, LATERAL (SELECT unnest(range(1, len(tk)-1)) AS i) u),
         |tric AS (SELECT doc_id, g, count(*) AS c FROM tri GROUP BY 1, 2),
         |tria AS (
         |  SELECT doc_id, sum(c)::BIGINT AS n_trigrams,
         |    count(*) AS n_tri_distinct
         |  FROM tric GROUP BY doc_id)
         |SELECT doc_id, n_bigrams, max_bigram,
         |  round(max_bigram::DOUBLE / n_bigrams, 6) AS top_bigram_frac,
         |  round((n_trigrams - n_tri_distinct)::DOUBLE / n_trigrams, 6)
         |    AS dup_trigram_frac,
         |  (round(max_bigram::DOUBLE / n_bigrams, 6) <= 0.18 AND
         |   round((n_trigrams - n_tri_distinct)::DOUBLE / n_trigrams, 6) <= 0.3)
         |    AS keep
         |FROM bia JOIN tria USING (doc_id) ORDER BY doc_id""".stripMargin,
    "q_pack_batches" ->
      s"""WITH d AS (
         |  SELECT doc_id, source, len($toksSql)::BIGINT AS tok
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, source, tok,
         |    sum(tok) OVER (PARTITION BY source ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM d),
         |b AS (
         |  SELECT source, CAST(floor((cum - tok) / $PackCapacity) AS BIGINT) AS bin,
         |    doc_id, tok
         |  FROM c)
         |SELECT source, bin, count(*) AS n_docs, sum(tok)::BIGINT AS bin_tokens,
         |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
         |FROM b GROUP BY source, bin ORDER BY source, bin""".stripMargin,
    "q_pack_bpe" ->
      s"""WITH d AS (
         |  SELECT e.doc_id, doc.source, e.n_tokens AS tok
         |  FROM
         |  read_parquet('$fixturesDir/bpe_encode_sf0.01.parquet/*.parquet') e
         |  JOIN documents doc ON doc.doc_id = e.doc_id),
         |c AS (
         |  SELECT doc_id, source, tok,
         |    sum(tok) OVER (PARTITION BY source ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM d),
         |b AS (
         |  SELECT source, CAST(floor((cum - tok) / $PackCapacity) AS BIGINT) AS bin,
         |    doc_id, tok
         |  FROM c)
         |SELECT source, bin, count(*) AS n_docs, sum(tok)::BIGINT AS bin_tokens,
         |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
         |FROM b GROUP BY source, bin ORDER BY source, bin""".stripMargin,
    "q_boilerplate" ->
      s"""WITH t AS (
         |  SELECT doc_id, $toksSql AS tk FROM documents),
         |f AS (SELECT doc_id, tk FROM t WHERE len(tk) >= 3),
         |tri AS (
         |  SELECT doc_id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS g
         |  FROM f, LATERAL (SELECT unnest(range(1, len(tk)-1)) AS i) u),
         |df AS (
         |  SELECT g, count(*) AS df
         |  FROM (SELECT DISTINCT doc_id, g FROM tri) GROUP BY g),
         |j AS (SELECT tri.doc_id, df.df FROM tri JOIN df USING (g)),
         |a AS (
         |  SELECT doc_id, count(*)::BIGINT AS n_trigrams,
         |    sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END)::BIGINT AS shared_trigrams
         |  FROM j GROUP BY doc_id)
         |SELECT doc_id, n_trigrams, shared_trigrams,
         |  round(shared_trigrams::DOUBLE / n_trigrams, 6) AS shared_frac,
         |  round(shared_trigrams::DOUBLE / n_trigrams, 6) <= 0.5 AS keep
         |FROM a ORDER BY doc_id""".stripMargin,
    "q_data_mix" ->
      """WITH c AS (
        |  SELECT lang, count(*)::BIGINT AS c_lang FROM documents GROUP BY lang),
        |m AS (SELECT min(c_lang)::BIGINT AS c_min FROM c),
        |k AS (
        |  SELECT d.lang, c.c_lang, m.c_min,
        |    (('0x'||substr(md5('mix:'||d.doc_id::VARCHAR),1,15))::BIGINT % 1000000)
        |      * c.c_lang < m.c_min * 1000000 AS kept
        |  FROM documents d JOIN c USING (lang) CROSS JOIN m)
        |SELECT lang, count(*)::BIGINT AS n_docs,
        |  sum(CASE WHEN kept THEN 1 ELSE 0 END)::BIGINT AS kept_docs,
        |  round(min(c_min)::DOUBLE / min(c_lang), 6) AS target_rate,
        |  round(sum(CASE WHEN kept THEN 1 ELSE 0 END)::DOUBLE / count(*), 6)
        |    AS achieved_rate
        |FROM k GROUP BY lang ORDER BY lang""".stripMargin,
    "q_rarity" ->
      s"""WITH wd AS (
         |  SELECT doc_id, unnest($toksSql) AS w FROM documents),
         |fr AS (SELECT w, count(*)::BIGINT AS f FROM wd GROUP BY w)
         |SELECT doc_id, count(*)::BIGINT AS n_toks,
         |  sum(f)::BIGINT AS sum_freq, min(f)::BIGINT AS min_freq,
         |  round(sum(f)::DOUBLE / count(*), 6) AS avg_freq
         |FROM wd JOIN fr USING (w)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
  )
}
