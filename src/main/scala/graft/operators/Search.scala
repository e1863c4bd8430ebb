package graft
package operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.embed.Embedder
import graft.functions.VectorFunctions._

/** The retrieval core (SURVEY.md §2.10-§2.11): embedding, kNN scoring
  * (J4/W1), keyword rerank (X7) and hybrid blend (X8), composed exactly
  * like the reference pipelines Q1/Q2 (`src/core/search/search.ts`).
  *
  * Scale design: the query side of every kNN is tiny (one vector or a
  * small batch) and is broadcast; the corpus side is scanned once with
  * only (id, embedding) columns read — column pruning keeps the 100 TB
  * text payload out of the scan. Top-k lowers to TakeOrderedAndProject
  * (no global sort). Scores are rounded to 6 dp and tie-broken on id so
  * ranking is deterministic across partitionings and engines.
  *
  * Corpus-level intermediates (sparse doc vectors, normed embeddings)
  * are built once per session via [[graft.Cache]] and shared by every
  * query — the multi-query session pattern the reference lacks.
  */
object Search {

  val QueryText = "table scan fast"

  /** Sparse hashing-TF vectors of the documents corpus — cached: built
    * once, read by embed/semantic/hybrid/chain/coverage queries. */
  def docVectors(spark: SparkSession, dir: String): DataFrame =
    Cache.getOrBuild(spark, "docSparse", dir) {
      Embedder.sparseVectors(Tables.documents(spark, dir), "doc_id", "text")
    }

  /** Dense corpus with precomputed L2 norms — cached (kNN family). */
  def embNormed(spark: SparkSession, dir: String): DataFrame =
    Cache.getOrBuild(spark, "embNorm", dir) {
      Tables.embeddings(spark, dir)
        .withColumn("nrm", l2norm(col("embedding")))
    }

  /** E2/E3: hashing-TF sparse embeddings of the documents corpus. */
  def qEmbedHash(spark: SparkSession, dir: String): DataFrame =
    docVectors(spark, dir)
      .select(col("doc_id"), col("bucket"), round(col("weight"), 6).as("weight"))
      .orderBy("doc_id", "bucket")

  /** J4/W1: single-query kNN over the stored dense vectors (query =
    * vec_id 0, k = 10, self excluded). */
  def qKnn(spark: SparkSession, dir: String): DataFrame = {
    val e = embNormed(spark, dir)
    val q = e.filter(col("vec_id") === 0)
      .select(col("embedding").as("qv"), col("nrm").as("qn"))
    e.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .withColumn("score",
        round(cosinePrenormed(dot(col("embedding"), col("qv")), col("nrm"), col("qn")), 6))
      .select(col("vec_id"), col("score"))
      .orderBy(desc("score"), col("vec_id"))
      .limit(10)
  }

  /** J4 batch variant: 8 query vectors × corpus, per-query top-5 via a
    * rank window — the "many queries at once" shape (reference runs a
    * sequential loop; this is one job). */
  def qKnnBatch(spark: SparkSession, dir: String): DataFrame = {
    val e = embNormed(spark, dir)
    val q = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("nrm").as("qn"))
    val w = Window.partitionBy("query_id").orderBy(desc("score"), col("vec_id"))
    e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("score",
        round(cosinePrenormed(dot(col("embedding"), col("qv")), col("nrm"), col("qn")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("vec_id"), col("score"))
      .orderBy("query_id", "rank")
  }

  /** Query-string sparse vector via the same DF pipeline as the corpus
    * (so the arithmetic is engine-portable end to end). */
  def querySparse(spark: SparkSession, text: String): DataFrame = {
    import spark.implicits._
    val qdf = Seq((0L, text)).toDF("qid", "text")
    Embedder.sparseVectors(qdf, "qid", "text")
      .select(col("bucket"), col("weight").as("qweight"))
  }

  /** Scored corpus: sparse dot product via bucket join (cosine — both
    * sides unit-normalized). */
  def scoredDocs(spark: SparkSession, dir: String,
      text: String = QueryText): DataFrame =
    docVectors(spark, dir)
      .join(broadcast(querySparse(spark, text)), "bucket")
      .groupBy("doc_id")
      .agg(round(sum(col("weight") * col("qweight")), 6).as("score"))

  def matchCount(text: Column, words: Seq[String]): Column =
    words.map(w => when(text.contains(w), 1).otherwise(0))
      .reduce(_ + _).cast("long")

  private val queryWords = QueryText.split(" ").toSeq

  /** Q1 semantic search: embed query → kNN top-10 → keyword-boost rerank
    * (boost 0.1/word, reference search.ts:21-49,58-92). */
  def qSearchSemantic(spark: SparkSession, dir: String): DataFrame = {
    val top = scoredDocs(spark, dir)
      .orderBy(desc("score"), col("doc_id")).limit(10)
    top.join(Tables.documents(spark, dir), "doc_id")
      .withColumn("matches", matchCount(col("text"), queryWords))
      .withColumn("final", round(col("score") + col("matches") * 0.1, 6))
      .select(col("doc_id"), col("score"), col("matches"), col("final"))
      .orderBy(desc("final"), col("doc_id"))
  }

  /** Q2 hybrid search: semantic top-20 candidates, blended
    * `score·(1−w) + keywordRatio·w`, w = 0.3 (search.ts:98-136). */
  def qSearchHybrid(spark: SparkSession, dir: String): DataFrame = {
    val top = scoredDocs(spark, dir)
      .orderBy(desc("score"), col("doc_id")).limit(20)
    top.join(Tables.documents(spark, dir), "doc_id")
      .withColumn("matches", matchCount(col("text"), queryWords))
      .withColumn("hybrid",
        round(col("score") * 0.7 + (col("matches") / 3.0) * 0.3, 6))
      .select(col("doc_id"), col("score"), col("matches"), col("hybrid"))
      .orderBy(desc("hybrid"), col("doc_id"))
      .limit(10)
  }

  /** A6 search stats over the batch-kNN result: count / avg / max / min
    * score per query (reference calculateSearchStats, search.ts:320-348,
    * done as one grouped pass instead of four filtered counts). */
  def qSearchStats(spark: SparkSession, dir: String): DataFrame =
    qKnnBatch(spark, dir)
      .groupBy("query_id")
      .agg(count(lit(1)).as("n"),
        round(avg(col("score")), 6).as("avg_score"),
        max(col("score")).as("max_score"),
        min(col("score")).as("min_score"))
      .orderBy("query_id")

  /** The 8-query text fan-out corpus. */
  val FanoutQueries: Seq[(Long, String)] = Seq(
    0L -> "table scan fast",
    1L -> "join merge stream",
    2L -> "window batch sort",
    3L -> "hash group key",
    4L -> "vector column data",
    5L -> "filter row value",
    6L -> "query part order",
    7L -> "spark line agg")

  /** D5-at-scale: a BATCH of text queries scored against the corpus in
    * ONE job — sparse query vectors join the shared doc vectors on
    * bucket, one grouped pass, per-query top-3 via window. The
    * reference runs ≤30 sequential searches for this
    * (`doc-service.ts:231-236`), re-scanning the store each time;
    * here corpus work is a single scan regardless of query count. */
  def qSearchFanout(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val qdf = FanoutQueries.toDF("qid", "text")
    val qv = graft.embed.Embedder.sparseVectors(qdf, "qid", "text")
      .select(col("qid"), col("bucket"), col("weight").as("qweight"))
    val scores = docVectors(spark, dir)
      .join(broadcast(qv), "bucket")
      .groupBy("qid", "doc_id")
      .agg(round(sum(col("weight") * col("qweight")), 6).as("score"))
    val w = Window.partitionBy("qid").orderBy(desc("score"), col("doc_id"))
    scores.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("qid"), col("rank").cast("long").as("rank"),
        col("doc_id"), col("score"))
      .orderBy("qid", "rank")
  }

  /** Retrieval-quality evaluation over the fan-out query set — the
    * search-eval job a RAG pipeline runs on every index build: per
    * query, recall@10, precision@10, and MRR of the semantic ranking
    * against a DETERMINISTIC lexical ground truth (a doc is relevant
    * iff it contains EVERY query token — reproducible forever, no
    * human labels). Complements [[qAnnRecall]] (which scores the ANN
    * approximations against exact brute force): this scores the
    * retrieval MODEL itself against term ground truth.
    *
    * Metrics are exact integer micros (`hits·10⁶ div n_relevant`,
    * `10⁶ div first_relevant_rank`) — no float drift between engines.
    * Scale shape: ONE corpus scan for the batch scoring (the
    * q_search_fanout plan), one distinct-token semi-join against the
    * broadcast query terms for ground truth, tiny per-query joins. */
  def qSearchEval(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val qdf = FanoutQueries.toDF("qid", "text")
    val qv = graft.embed.Embedder.sparseVectors(qdf, "qid", "text")
      .select(col("qid"), col("bucket"), col("weight").as("qweight"))
    val scores = docVectors(spark, dir)
      .join(broadcast(qv), "bucket")
      .groupBy("qid", "doc_id")
      .agg(round(sum(col("weight") * col("qweight")), 6).as("score"))
    val w = Window.partitionBy("qid").orderBy(desc("score"), col("doc_id"))
    val top10 = scores.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 10)

    val qtok = FanoutQueries
      .flatMap { case (id, t) => t.split(" ").distinct.map(id -> _) }
      .toDF("qid", "tok")
    val nTerms = qtok.groupBy("qid").agg(count(lit(1)).as("n_terms"))
    val rel = Tables.documents(spark, dir)
      .select(col("doc_id"),
        explode(array_distinct(TextAnalysis.toks(col("text")))).as("tok"))
      .join(broadcast(qtok), "tok")
      .groupBy("qid", "doc_id").agg(count(lit(1)).as("n_hit"))
      .join(broadcast(nTerms), "qid")
      .filter(col("n_hit") === col("n_terms"))
      .select("qid", "doc_id")
    val nRel = rel.groupBy("qid").agg(count(lit(1)).as("n_relevant"))
    val perQ = top10.join(rel, Seq("qid", "doc_id"))
      .groupBy("qid")
      .agg(count(lit(1)).as("hits10"), min("rank").as("first_rel_rank"))
    qdf.select("qid")
      .join(nRel, Seq("qid"), "left")
      .join(perQ, Seq("qid"), "left")
      .withColumn("n_relevant", coalesce(col("n_relevant"), lit(0L)))
      .withColumn("hits10", coalesce(col("hits10"), lit(0L)))
      .withColumn("recall10_micro", when(col("n_relevant") === 0, 0L)
        .otherwise(expr("hits10 * 1000000 div n_relevant")))
      .withColumn("precision10_micro", expr("hits10 * 1000000 div 10"))
      .withColumn("mrr_micro", when(col("first_rel_rank").isNull, 0L)
        .otherwise(expr("1000000 div first_rel_rank")))
      .select("qid", "n_relevant", "hits10", "recall10_micro",
        "precision10_micro", "mrr_micro")
      .orderBy("qid")
  }

  /** BM25 ranking (k1 = 1.2, b = 0.75) — the lexical-scoring upgrade
    * over the reference's contains-count rerank (X7): one corpus scan
    * builds term frequencies for the query words; document frequencies
    * and corpus stats are single-row/handful-row aggregates broadcast
    * back. Determinism: idf and the tf normalization are computed from
    * exact integer aggregates with an identical operation tree in both
    * engines, each per-term score is fixed-pointed to 1e-6 before the
    * final sum, so the total is order-independent. */
  def qSearchBm25(spark: SparkSession, dir: String): DataFrame =
    bm25TermScores(spark, dir)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms"),
        round(sum(col("term_fp")).cast("double") / 1000000.0, 6).as("score"))
      .orderBy(desc("score"), col("doc_id"))
      .limit(10)

  /** The ONE place the BM25 term formula lives on the Spark side:
    * expects `cnt, df, dl, n_docs, sum_dl` columns, appends
    * `term_fp` (exact micro fixed-point per-term contribution). */
  private def withTermFp(df: DataFrame): DataFrame = df
    .withColumn("idf",
      log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
    .withColumn("ratio",
      (col("dl") * col("n_docs")).cast("double") / col("sum_dl"))
    .withColumn("term_fp",
      round((col("idf") * (col("cnt") * 2.2) /
        (col("cnt") + lit(1.2) * (lit(0.25) + lit(0.75) * col("ratio")))) * 1000000, 0)
        .cast("long"))

  /** Session-cached per-(doc, query-term) exact BM25 contributions —
    * the corpus-side scoring table both the exhaustive ranking
    * ([[qSearchBm25]]) and the impact-pruned serve ([[qImpactTopkG]])
    * read, built once per session: document lengths, corpus totals and
    * per-term document frequencies are INDEX METADATA, not a per-query
    * corpus pass. */
  private[operators] def bm25TermScores(spark: SparkSession,
      dir: String): DataFrame =
    Cache.getOrBuild(spark, "bm25TermScores", dir) {
      val docsT = Tables.documents(spark, dir)
        .select(col("doc_id"), TextAnalysis.toks(col("text")).as("t"))
      val dls = docsT.select(col("doc_id"), size(col("t")).cast("long").as("dl"))
      val stats = dls.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
      val tf = docsT
        .select(col("doc_id"), explode(col("t")).as("tok"))
        .filter(col("tok").isin(queryWords: _*))
        .groupBy("doc_id", "tok")
        .agg(count(lit(1)).as("cnt"))
      val dfs = tf.groupBy("tok").agg(count(lit(1)).as("df"))
      withTermFp(tf
        .join(broadcast(dfs), "tok")
        .join(dls, "doc_id")
        .crossJoin(broadcast(stats)))
        .select("doc_id", "tok", "term_fp")
    }

  /** Per-term top-[[ImpactM]] posting entries by EXACT BM25
    * contribution — the impact-ordered index (Anh & Moffat 2006), the
    * sparse-retrieval twin of the ANN shortlist artifacts: where the
    * exhaustive scorer reads df(term) postings per query term, a serve
    * against this artifact reads AT MOST m, making query cost
    * independent of how common its terms are. Built over the FULL
    * vocabulary in one corpus scan + a bounded per-term TopK (never a
    * term-keyed window — df of a stop-word-class term is corpus-sized,
    * the inverted-index lesson); at 100 TB it persists term-bucketed
    * like the IVF cells. */
  private[operators] def impactIndex(spark: SparkSession,
      dir: String): DataFrame =
    impactIndexG(spark, dir, ImpactM)

  /** [[impactIndex]] at an explicit list length — the geometry knob
    * (same contract as AnnGeometry: the registry pins [[ImpactM]] for
    * oracle hash-exactness; scale jobs derive m from corpus size ÷
    * expected distinct-doc ratio, because a list length that ignores
    * duplication truncates to replicas of the few highest-impact
    * documents — the retired `impact_serve` probe measured overlap
    * collapsing to 0 at ×20 duplication under the pinned m and
    * restored under the scaled one; SCALE.md). */
  private[graft] def impactIndexG(spark: SparkSession,
      dir: String, m: Int): DataFrame =
    Cache.getOrBuild(spark, s"impactIndex@$m", dir) {
      import spark.implicits._
      val docsT = Tables.documents(spark, dir)
        .select(col("doc_id"), TextAnalysis.toks(col("text")).as("t"))
      val dls = docsT.select(col("doc_id"), size(col("t")).cast("long").as("dl"))
      val stats = dls.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
      val tf = docsT
        .select(col("doc_id"), explode(col("t")).as("tok"))
        .groupBy("doc_id", "tok")
        .agg(count(lit(1)).as("cnt"))
      val dfs = tf.groupBy("tok").agg(count(lit(1)).as("df"))
      withTermFp(tf.join(broadcast(dfs), "tok")
        .join(dls, "doc_id")
        .crossJoin(broadcast(stats)))
        .select(col("tok"), col("doc_id"),
          col("term_fp").as("impact_micro"))
        .groupBy(col("tok").as("term"))
        .agg(graft.functions.TopKAggregator.topKUdaf(m)(
          col("doc_id"), col("impact_micro").cast("double")).as("top"))
        .select(col("term"), posexplode(col("top")).as(Seq("pos", "p")))
        .select(col("term"), (col("pos") + 1).cast("long").as("rank"),
          col("p._1").as("doc_id"), col("p._2").cast("long").as("impact_micro"))
    }

  private[graft] val ImpactM = 64

  /** The index artifact as a registry row (full vocabulary, ordered). */
  def qImpactIndex(spark: SparkSession, dir: String): DataFrame =
    impactIndex(spark, dir).orderBy("term", "rank")

  /** IMPACT-ORDERED top-k serving — candidates are the UNION of the
    * query terms' top-[[ImpactM]] impact postings (≤ m·|q| docs read,
    * independent of term frequency), then an exact full BM25 rescore
    * of just those candidates, top-10. The lexical mirror of every
    * shortlist-then-rescore serve in the ANN family (ADC-50, binary
    * Hamming-50): the artifact bounds the read, the rescore restores
    * exactness over the candidate set, and the only semantic deviation
    * from the exhaustive [[qSearchBm25]] is a candidate that ranks
    * top-10 overall while sitting below rank m in EVERY query term's
    * impact list — SearchSpec measures that overlap directly. */
  def qImpactTopk(spark: SparkSession, dir: String): DataFrame =
    qImpactTopkG(spark, dir, ImpactM)

  private[graft] def qImpactTopkG(spark: SparkSession, dir: String,
      m: Int): DataFrame = {
    val cand = impactIndexG(spark, dir, m)
      .filter(col("term").isin(queryWords: _*))
      .select("doc_id").distinct()
    // rescore = a candidate semi-join into the session-cached scoring
    // table ([[bm25TermScores]]); document lengths, corpus totals and
    // dfs are index metadata paid once per session, never per query.
    // The candidate set is ≤ m·|q| ids BY CONSTRUCTION — broadcast it
    // so the rescore never sorts the scoring table (PlanSpec pins the
    // fused serve free of inner sort-merge joins).
    bm25TermScores(spark, dir)
      .join(broadcast(cand), "doc_id")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms"),
        round(sum(col("term_fp")).cast("double") / 1000000.0, 6).as("score"))
      .orderBy(desc("score"), col("doc_id"))
      .limit(10)
  }

  /** Reciprocal-Rank-Fusion hybrid (Cormack, Clarke & Buettcher,
    * SIGIR 2009) — the rank-based alternative to the reference's
    * score-blend hybrid (Q2, search.ts:98-136): fuse the semantic
    * top-20 and the BM25 top-10 by Σ 1/(60+rank), in exact integer
    * micros (`1000000 div (60+rank)`) so the fusion is
    * engine-portable with no float drift and indifferent to the two
    * scorers' incomparable score scales — the property that makes RRF
    * the default fusion in production hybrid search. The rank windows
    * run over already-LIMITed candidate lists (≤20 rows), never the
    * corpus; both candidate builds remain the single-scan plans of
    * their source queries. */
  def qSearchRrf(spark: SparkSession, dir: String): DataFrame = {
    // both fusion arms are bounded top-N lists (limit(20) / the BM25
    // top-k), so the global rank window is deliberate — PlanAuditSpec
    // allowlists + pins the bound (a lit partition key would be
    // constant-folded away, the r10 window-honesty rule)
    val w = Window.orderBy(desc("score"), col("doc_id"))
    val sem = scoredDocs(spark, dir)
      .orderBy(desc("score"), col("doc_id")).limit(20)
      .withColumn("sem_rank", row_number().over(w).cast("long"))
      .select("doc_id", "sem_rank")
    val bm = qSearchBm25(spark, dir)
      .withColumn("bm25_rank", row_number().over(w).cast("long"))
      .select("doc_id", "bm25_rank")
    sem.join(bm, Seq("doc_id"), "full_outer")
      .withColumn("rrf_micro",
        coalesce(expr("1000000 div (60 + sem_rank)"), lit(0L)) +
          coalesce(expr("1000000 div (60 + bm25_rank)"), lit(0L)))
      .withColumn("sem_rank", coalesce(col("sem_rank"), lit(0L)))
      .withColumn("bm25_rank", coalesce(col("bm25_rank"), lit(0L)))
      .select("doc_id", "sem_rank", "bm25_rank", "rrf_micro")
      .orderBy(desc("rrf_micro"), col("doc_id"))
      .limit(10)
  }

  /** [[qSearchRrf]] with the lexical arm served FROM THE IMPACT INDEX
    * ([[qImpactTopk]]) instead of the exhaustive BM25 ranking — the
    * production fusion plan: the semantic arm is already a bounded
    * bucket-join candidate build, and this moves the lexical arm onto
    * the same footing (≤ m·|q| posting reads + a candidate-semi-join
    * rescore against the session-cached scoring table, no corpus text
    * scan at query time). Rescore exactness means the two arms'
    * rankings agree wherever their candidate sets agree, so fusion
    * output equals [[qSearchRrf]]'s whenever the impact shortlist
    * recovers the exhaustive top-10 (SearchSpec pins both the
    * conditional equality and the measured agreement on this corpus;
    * the residual divergence case is exactly [[qImpactTopk]]'s
    * documented below-rank-m-everywhere candidate). */
  def qSearchRrfIdx(spark: SparkSession, dir: String): DataFrame = {
    // bounded arms, deliberate global rank window — see qSearchRrf
    val w = Window.orderBy(desc("score"), col("doc_id"))
    val sem = scoredDocs(spark, dir)
      .orderBy(desc("score"), col("doc_id")).limit(20)
      .withColumn("sem_rank", row_number().over(w).cast("long"))
      .select("doc_id", "sem_rank")
    val bm = qImpactTopk(spark, dir)
      .withColumn("bm25_rank", row_number().over(w).cast("long"))
      .select("doc_id", "bm25_rank")
    sem.join(bm, Seq("doc_id"), "full_outer")
      .withColumn("rrf_micro",
        coalesce(expr("1000000 div (60 + sem_rank)"), lit(0L)) +
          coalesce(expr("1000000 div (60 + bm25_rank)"), lit(0L)))
      .withColumn("sem_rank", coalesce(col("sem_rank"), lit(0L)))
      .withColumn("bm25_rank", coalesce(col("bm25_rank"), lit(0L)))
      .select("doc_id", "sem_rank", "bm25_rank", "rrf_micro")
      .orderBy(desc("rrf_micro"), col("doc_id"))
      .limit(10)
  }

  /** Best-passage (MaxSim) document retrieval — late-interaction
    * ranking collapsed to one vector per passage (the retrieval-side
    * analogue of ColBERT's per-token maxsim, Khattab & Zaharia 2020):
    * chunk every document with the C1 fixed chunker, embed each chunk
    * through the SAME hashing-TF pipeline as the corpus, score ALL
    * chunks against the query in one bucket-join pass, and rank
    * documents by their BEST chunk — "which doc contains the best
    * passage", the granularity the reference serves after the fact
    * via section expansion (Q3/Q4, doc-service.ts). One corpus scan;
    * the per-doc winner is an argmax AGGREGATE (max over a
    * (score, -chunk_index) struct — no corpus-keyed window), and the
    * winning chunk index rides along for snippet serving. n_chunks
    * counts the doc's SCORED chunks (≥1 shared bucket with the
    * query). */
  def qDocMaxsim(spark: SparkSession, dir: String): DataFrame = {
    val chunks = Ingest.qChunkFixed(spark, dir)
      .select((col("doc_id") * 10000 + col("chunk_index")).as("ck"),
        col("content"))
    val scored = graft.embed.Embedder.sparseVectors(chunks, "ck", "content")
      .join(broadcast(querySparse(spark, QueryText)), "bucket")
      .groupBy("ck")
      .agg(round(sum(col("weight") * col("qweight")), 6).as("score"))
      .select(expr("ck div 10000").as("doc_id"),
        expr("ck % 10000").as("chunk_index"), col("score"))
    scored.groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        max(struct(col("score"), (-col("chunk_index")).as("nci"))).as("m"))
      .select(col("doc_id"), col("n_chunks"),
        col("m.score").as("best_score"),
        (-col("m.nci")).cast("long").as("best_chunk"))
      .orderBy(desc("best_score"), col("doc_id"))
      .limit(10)
  }

  /** A7 detailed score metrics per query over the batch-kNN result:
    * mean/variance from exact 1e-6 fixed-point sums (scores are
    * already rounded to 6 dp, so the scaled values are integers and
    * the sums order-independent), plus exact ceil-rank percentiles
    * (the reference's method, score-analysis.ts:42-93). */
  def qScoreMetrics(spark: SparkSession, dir: String): DataFrame = {
    val base = qKnnBatch(spark, dir)
      .withColumn("si", round(col("score") * 1000000, 0).cast("long"))
    val w = Window.partitionBy("query_id").orderBy(col("score"), col("vec_id"))
    val ranked = base
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("query_id")))
    val pcts = Seq(25, 50, 75, 90).map { p =>
      max(when(col("rn") === greatest(ceil(col("n") * p / 100.0), lit(1)),
        col("score"))).as(s"p$p")
    }
    val aggs = Seq(
      count(lit(1)).as("n_results"),
      round(sum(col("si")).cast("double") / count(lit(1)) / 1000000.0, 6)
        .as("mean_score"),
      round((sum(col("si") * col("si")).cast("double") / count(lit(1)) -
        (sum(col("si")).cast("double") / count(lit(1))) *
        (sum(col("si")).cast("double") / count(lit(1)))) / 1.0e12, 6)
        .as("var_score")) ++ pcts
    ranked.groupBy("query_id")
      .agg(aggs.head, aggs.tail: _*)
      .orderBy("query_id")
  }

  /** A8 score distribution: high/medium/low bands + decile histogram
    * over all batch-kNN scores (score-analysis.ts:98-143, one pass). */
  def qScoreBands(spark: SparkSession, dir: String): DataFrame =
    qKnnBatch(spark, dir)
      .withColumn("band",
        when(col("score") >= 0.8, "high")
          .when(col("score") >= 0.5, "medium")
          .otherwise("low"))
      .withColumn("decile",
        least(greatest(floor(col("score") * 10), lit(-10L)), lit(9L)))
      .groupBy("band", "decile")
      .agg(count(lit(1)).as("n"))
      .orderBy("band", "decile")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_search_fanout"   -> (qSearchFanout _),
    "q_search_eval"     -> (qSearchEval _),
    "q_score_metrics"   -> (qScoreMetrics _),
    "q_score_bands"     -> (qScoreBands _),
    "q_embed_hash"      -> (qEmbedHash _),
    "q_knn"             -> (qKnn _),
    "q_knn_batch"       -> (qKnnBatch _),
    "q_search_semantic" -> (qSearchSemantic _),
    "q_search_hybrid"   -> (qSearchHybrid _),
    "q_search_bm25"     -> (qSearchBm25 _),
    "q_impact_index"    -> (qImpactIndex _),
    "q_impact_topk"     -> (qImpactTopk _),
    "q_search_rrf"      -> (qSearchRrf _),
    "q_search_rrf_idx"  -> (qSearchRrfIdx _),
    "q_doc_maxsim"      -> (qDocMaxsim _),
    "q_search_stats"    -> (qSearchStats _),
  )

  // ------------------------------------------------------------------
  // DuckDB oracle SQL builders (shared with ResultAnalytics).
  // ------------------------------------------------------------------

  /** Shared oracle CTE: hashing-TF sparse vectors of `documents` (the
    * md5-hash/bucket/normalize pipeline, mirroring Embedder). */
  val docVecCte: String =
    """tok AS (
      |  SELECT doc_id, t AS tok
      |  FROM documents, LATERAL (SELECT unnest(regexp_split_to_array(lower(text), '\s+')) AS t) u
      |  WHERE t <> ''),
      |cnts AS (
      |  SELECT doc_id, ('0x'||substr(md5(tok),1,15))::BIGINT % 64 AS bucket,
      |         count(*) AS cnt
      |  FROM tok GROUP BY 1, 2),
      |dv AS (
      |  SELECT doc_id, bucket,
      |         cnt / sqrt(sum(cnt*cnt) OVER (PARTITION BY doc_id)) AS weight
      |  FROM cnts)""".stripMargin

  /** Query-vector + scored-corpus CTEs for one query string; all CTE
    * names carry `prefix` so several queries can coexist in one WITH.
    * Emits `<p>sc(doc_id, score)`. */
  /** Query-vector CTEs alone (`<p>qv(bucket, qweight)`) — for oracles
    * that score something other than `dv` (e.g. chunk vectors). */
  def queryVecCtes(prefix: String, text: String): String =
    s"""${prefix}qtok AS (
       |  SELECT t AS tok
       |  FROM (SELECT unnest(regexp_split_to_array(lower('$text'), '\\s+')) AS t)
       |  WHERE t <> ''),
       |${prefix}qcnts AS (
       |  SELECT ('0x'||substr(md5(tok),1,15))::BIGINT % 64 AS bucket, count(*) AS cnt
       |  FROM ${prefix}qtok GROUP BY 1),
       |${prefix}qv AS (
       |  SELECT bucket, cnt / sqrt((SELECT sum(cnt*cnt) FROM ${prefix}qcnts)) AS qweight
       |  FROM ${prefix}qcnts)""".stripMargin

  def queryScoreCte(prefix: String, text: String): String =
    s"""${queryVecCtes(prefix, text)},
       |${prefix}sc AS (
       |  SELECT dv.doc_id, round(sum(dv.weight * qv.qweight), 6) AS score
       |  FROM dv JOIN ${prefix}qv qv USING (bucket) GROUP BY 1)""".stripMargin

  private val queryVecCte = queryScoreCte("", QueryText)

  /** BM25 scoring CTE chain ending in `bmscore(doc_id, n_terms,
    * score)` — shared by the BM25 ranking and the RRF fusion. */
  /** Impact-index oracle CTEs: full-vocabulary BM25 contributions,
    * per-term top-[[ImpactM]] → `idx(term, rank, doc_id,
    * impact_micro)`. */
  private lazy val impactCtes =
    s"""t2 AS (
       |  SELECT doc_id,
       |    list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') AS tk
       |  FROM documents),
       |dls2 AS (SELECT doc_id, len(tk)::BIGINT AS dl FROM t2),
       |stats2 AS (
       |  SELECT count(*)::BIGINT AS n_docs, sum(dl)::BIGINT AS sum_dl FROM dls2),
       |tf2 AS (
       |  SELECT doc_id, tok, count(*)::BIGINT AS cnt
       |  FROM t2, LATERAL (SELECT unnest(tk) AS tok) u
       |  GROUP BY doc_id, tok),
       |dfs2 AS (SELECT tok, count(*)::BIGINT AS df FROM tf2 GROUP BY tok),
       |imp AS (
       |  SELECT tf2.tok AS term, tf2.doc_id,
       |    CAST(round((ln((s.n_docs - dfs2.df + 0.5) / (dfs2.df + 0.5) + 1.0) *
       |      (tf2.cnt * 2.2) /
       |      (tf2.cnt + 1.2 * (0.25 + 0.75 * ((dls2.dl * s.n_docs)::DOUBLE / s.sum_dl))))
       |      * 1000000, 0) AS BIGINT) AS impact_micro
       |  FROM tf2 JOIN dfs2 USING (tok) JOIN dls2 ON dls2.doc_id = tf2.doc_id,
       |    stats2 s),
       |idx AS (
       |  SELECT term, rank, doc_id, impact_micro FROM (
       |    SELECT term, doc_id, impact_micro, row_number() OVER (
       |        PARTITION BY term ORDER BY impact_micro DESC, doc_id) AS rank
       |    FROM imp) r WHERE rank <= $ImpactM)""".stripMargin

  private lazy val bm25Ctes = {
    val words = queryWords.map(w => s"('$w')").mkString(", ")
    s"""qw(tok) AS (VALUES $words),
       |t AS (
       |  SELECT doc_id,
       |    list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') AS tk
       |  FROM documents),
       |dls AS (SELECT doc_id, len(tk)::BIGINT AS dl FROM t),
       |stats AS (
       |  SELECT count(*)::BIGINT AS n_docs, sum(dl)::BIGINT AS sum_dl FROM dls),
       |tf AS (
       |  SELECT doc_id, tok, count(*)::BIGINT AS cnt
       |  FROM t, LATERAL (SELECT unnest(tk) AS tok) u
       |  WHERE tok IN (SELECT tok FROM qw)
       |  GROUP BY doc_id, tok),
       |dfs AS (SELECT tok, count(*)::BIGINT AS df FROM tf GROUP BY tok),
       |term AS (
       |  SELECT tf.doc_id,
       |    CAST(round((ln((s.n_docs - dfs.df + 0.5) / (dfs.df + 0.5) + 1.0) *
       |      (tf.cnt * 2.2) /
       |      (tf.cnt + 1.2 * (0.25 + 0.75 * ((dls.dl * s.n_docs)::DOUBLE / s.sum_dl))))
       |      * 1000000, 0) AS BIGINT) AS term_fp
       |  FROM tf JOIN dfs USING (tok) JOIN dls ON dls.doc_id = tf.doc_id, stats s),
       |bmscore AS (
       |  SELECT doc_id, count(*) AS n_terms,
       |    round(sum(term_fp)::DOUBLE / 1000000.0, 6) AS score
       |  FROM term GROUP BY doc_id)""".stripMargin
  }

  def matchesSql(words: Seq[String], alias: String = "d"): String =
    words.map(w => s"CASE WHEN contains($alias.text, '$w') THEN 1 ELSE 0 END")
      .mkString("(", " +\n ", ")")

  private val matches3 = matchesSql(queryWords)

  private val knnBatchCtes =
    """e AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS v,
      |         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      |  FROM embeddings),
      |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM e WHERE vec_id < 8),
      |scored AS (
      |  SELECT q.query_id, e.vec_id,
      |         round(list_dot_product(e.v, q.qv) / (e.nrm * q.qn), 6) AS score
      |  FROM e, q WHERE e.vec_id <> q.query_id),
      |ranked AS (
      |  SELECT query_id, vec_id, score,
      |         row_number() OVER (PARTITION BY query_id
      |           ORDER BY score DESC, vec_id) AS rank
      |  FROM scored),
      |topq AS (
      |  SELECT query_id, rank, vec_id, score FROM ranked WHERE rank <= 5)""".stripMargin

  private lazy val fanoutValues = FanoutQueries
    .map { case (i, t) => s"($i, '$t')" }.mkString(", ")

  val oracles: Map[String, String] = Map(
    "q_search_eval" ->
      s"""WITH $docVecCte,
         |fqtext(qid, text) AS (VALUES $fanoutValues),
         |fqtok AS (
         |  SELECT DISTINCT qid, t AS tok
         |  FROM fqtext, LATERAL (SELECT unnest(regexp_split_to_array(lower(text), '\\s+')) AS t) u
         |  WHERE t <> ''),
         |fqcnts AS (
         |  SELECT qid, ('0x'||substr(md5(tok),1,15))::BIGINT % 64 AS bucket,
         |         count(*) AS cnt
         |  FROM (SELECT qid, t AS tok
         |        FROM fqtext, LATERAL (SELECT unnest(regexp_split_to_array(lower(text), '\\s+')) AS t) u
         |        WHERE t <> '') q GROUP BY 1, 2),
         |fqnorm AS (
         |  SELECT qid, sqrt(sum(cnt*cnt)) AS nrm FROM fqcnts GROUP BY qid),
         |fqv AS (
         |  SELECT qid, bucket, cnt / nrm AS qweight
         |  FROM fqcnts JOIN fqnorm USING (qid)),
         |fsc AS (
         |  SELECT qid, dv.doc_id, round(sum(dv.weight * fqv.qweight), 6) AS score
         |  FROM dv JOIN fqv USING (bucket) GROUP BY 1, 2),
         |franked AS (
         |  SELECT qid, doc_id,
         |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id)::BIGINT AS rank
         |  FROM fsc),
         |top10 AS (SELECT qid, doc_id, rank FROM franked WHERE rank <= 10),
         |qn AS (SELECT qid, count(*)::BIGINT AS n_terms FROM fqtok GROUP BY 1),
         |dtok AS (
         |  SELECT DISTINCT doc_id, t AS tok
         |  FROM documents, LATERAL (SELECT unnest(regexp_split_to_array(lower(text), '\\s+')) AS t) u
         |  WHERE t <> ''),
         |relc AS (
         |  SELECT f.qid, d.doc_id, count(*)::BIGINT AS n_hit
         |  FROM fqtok f JOIN dtok d USING (tok) GROUP BY 1, 2),
         |rel AS (
         |  SELECT relc.qid, doc_id FROM relc JOIN qn USING (qid)
         |  WHERE n_hit = n_terms),
         |nrel AS (SELECT qid, count(*)::BIGINT AS n_relevant FROM rel GROUP BY 1),
         |perq AS (
         |  SELECT t.qid, count(*)::BIGINT AS hits10,
         |    min(t.rank)::BIGINT AS first_rel_rank
         |  FROM top10 t JOIN rel USING (qid, doc_id) GROUP BY 1)
         |SELECT q.qid, coalesce(n_relevant, 0) AS n_relevant,
         |  coalesce(hits10, 0) AS hits10,
         |  CASE WHEN coalesce(n_relevant, 0) = 0 THEN 0
         |    ELSE coalesce(hits10, 0) * 1000000 // n_relevant END AS recall10_micro,
         |  coalesce(hits10, 0) * 1000000 // 10 AS precision10_micro,
         |  CASE WHEN first_rel_rank IS NULL THEN 0
         |    ELSE 1000000 // first_rel_rank END AS mrr_micro
         |FROM fqtext q LEFT JOIN nrel USING (qid) LEFT JOIN perq USING (qid)
         |ORDER BY q.qid""".stripMargin,
    "q_search_fanout" ->
      s"""WITH $docVecCte,
         |fqtext(qid, text) AS (VALUES $fanoutValues),
         |fqtok AS (
         |  SELECT qid, t AS tok
         |  FROM fqtext, LATERAL (SELECT unnest(regexp_split_to_array(lower(text), '\\s+')) AS t) u
         |  WHERE t <> ''),
         |fqcnts AS (
         |  SELECT qid, ('0x'||substr(md5(tok),1,15))::BIGINT % 64 AS bucket,
         |         count(*) AS cnt
         |  FROM fqtok GROUP BY 1, 2),
         |fqnorm AS (
         |  SELECT qid, sqrt(sum(cnt*cnt)) AS nrm FROM fqcnts GROUP BY qid),
         |fqv AS (
         |  SELECT qid, bucket, cnt / nrm AS qweight
         |  FROM fqcnts JOIN fqnorm USING (qid)),
         |fsc AS (
         |  SELECT qid, dv.doc_id, round(sum(dv.weight * fqv.qweight), 6) AS score
         |  FROM dv JOIN fqv USING (bucket) GROUP BY 1, 2),
         |franked AS (
         |  SELECT qid, doc_id, score,
         |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS rank
         |  FROM fsc)
         |SELECT qid, rank, doc_id, score FROM franked WHERE rank <= 3
         |ORDER BY qid, rank""".stripMargin,
    "q_score_metrics" ->
      s"""WITH $knnBatchCtes,
         |si AS (
         |  SELECT query_id, vec_id, score,
         |    CAST(round(score * 1000000, 0) AS BIGINT) AS si,
         |    row_number() OVER (PARTITION BY query_id ORDER BY score, vec_id) AS rn,
         |    count(*) OVER (PARTITION BY query_id) AS n
         |  FROM topq)
         |SELECT query_id, count(*) AS n_results,
         |  round(sum(si)::DOUBLE / count(*) / 1000000.0, 6) AS mean_score,
         |  round((sum(si*si)::DOUBLE / count(*) -
         |         (sum(si)::DOUBLE / count(*)) * (sum(si)::DOUBLE / count(*)))
         |        / 1.0e12, 6) AS var_score,
         |  max(CASE WHEN rn = greatest(CAST(ceil(n*25/100.0) AS BIGINT),1) THEN score END) AS p25,
         |  max(CASE WHEN rn = greatest(CAST(ceil(n*50/100.0) AS BIGINT),1) THEN score END) AS p50,
         |  max(CASE WHEN rn = greatest(CAST(ceil(n*75/100.0) AS BIGINT),1) THEN score END) AS p75,
         |  max(CASE WHEN rn = greatest(CAST(ceil(n*90/100.0) AS BIGINT),1) THEN score END) AS p90
         |FROM si GROUP BY query_id ORDER BY query_id""".stripMargin,
    "q_score_bands" ->
      s"""WITH $knnBatchCtes
         |SELECT CASE WHEN score >= 0.8 THEN 'high'
         |            WHEN score >= 0.5 THEN 'medium' ELSE 'low' END AS band,
         |  least(greatest(CAST(floor(score * 10) AS BIGINT), -10), 9) AS decile,
         |  count(*) AS n
         |FROM topq GROUP BY 1, 2 ORDER BY band, decile""".stripMargin,
    "q_embed_hash" ->
      s"""WITH $docVecCte
         |SELECT doc_id, bucket, round(weight, 6) AS weight
         |FROM dv ORDER BY doc_id, bucket""".stripMargin,
    "q_knn" ->
      """WITH q AS (
        |  SELECT embedding::DOUBLE[] AS qv,
        |         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS qn
        |  FROM embeddings WHERE vec_id = 0)
        |SELECT e.vec_id,
        |  round(list_dot_product(e.embedding::DOUBLE[], q.qv) /
        |        (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) * q.qn),
        |        6) AS score
        |FROM embeddings e, q WHERE e.vec_id <> 0
        |ORDER BY score DESC, vec_id LIMIT 10""".stripMargin,
    "q_knn_batch" ->
      s"""WITH $knnBatchCtes
         |SELECT query_id, rank, vec_id, score FROM topq
         |ORDER BY query_id, rank""".stripMargin,
    "q_search_semantic" ->
      s"""WITH $docVecCte,
         |$queryVecCte,
         |topk AS (SELECT doc_id, score FROM sc ORDER BY score DESC, doc_id LIMIT 10)
         |SELECT t.doc_id, t.score, $matches3 AS matches,
         |  round(t.score + $matches3 * 0.1, 6) AS final
         |FROM topk t JOIN documents d USING (doc_id)
         |ORDER BY final DESC, doc_id""".stripMargin,
    "q_search_hybrid" ->
      s"""WITH $docVecCte,
         |$queryVecCte,
         |topk AS (SELECT doc_id, score FROM sc ORDER BY score DESC, doc_id LIMIT 20)
         |SELECT t.doc_id, t.score, $matches3 AS matches,
         |  round(t.score * 0.7 + ($matches3 / 3.0) * 0.3, 6) AS hybrid
         |FROM topk t JOIN documents d USING (doc_id)
         |ORDER BY hybrid DESC, doc_id LIMIT 10""".stripMargin,
    "q_search_bm25" ->
      s"""WITH $bm25Ctes
         |SELECT doc_id, n_terms, score FROM bmscore
         |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
    "q_impact_index" ->
      s"""WITH $impactCtes
         |SELECT term, rank, doc_id, impact_micro FROM idx
         |ORDER BY term, rank""".stripMargin,
    "q_impact_topk" ->
      s"""WITH $impactCtes,
         |$bm25Ctes,
         |cand AS (
         |  SELECT DISTINCT idx.doc_id FROM idx JOIN qw ON idx.term = qw.tok),
         |cterm AS (
         |  SELECT term.doc_id, term.term_fp
         |  FROM term JOIN cand ON cand.doc_id = term.doc_id)
         |SELECT doc_id, count(*) AS n_terms,
         |  round(sum(term_fp)::DOUBLE / 1000000.0, 6) AS score
         |FROM cterm GROUP BY doc_id
         |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
    "q_search_rrf" ->
      s"""WITH $docVecCte,
         |$queryVecCte,
         |semr AS (
         |  SELECT doc_id, row_number() OVER (
         |    ORDER BY score DESC, doc_id)::BIGINT AS sr
         |  FROM sc),
         |sem AS (SELECT doc_id, sr FROM semr WHERE sr <= 20),
         |$bm25Ctes,
         |bmr AS (
         |  SELECT doc_id, row_number() OVER (
         |    ORDER BY score DESC, doc_id)::BIGINT AS br
         |  FROM bmscore),
         |bm AS (SELECT doc_id, br FROM bmr WHERE br <= 10),
         |fused AS (SELECT doc_id, sr, br FROM sem FULL OUTER JOIN bm USING (doc_id))
         |SELECT doc_id, coalesce(sr, 0) AS sem_rank, coalesce(br, 0) AS bm25_rank,
         |  coalesce(1000000 // (60 + sr), 0) +
         |    coalesce(1000000 // (60 + br), 0) AS rrf_micro
         |FROM fused ORDER BY rrf_micro DESC, doc_id LIMIT 10""".stripMargin,
    "q_search_rrf_idx" ->
      s"""WITH $docVecCte,
         |$queryVecCte,
         |semr AS (
         |  SELECT doc_id, row_number() OVER (
         |    ORDER BY score DESC, doc_id)::BIGINT AS sr
         |  FROM sc),
         |sem AS (SELECT doc_id, sr FROM semr WHERE sr <= 20),
         |$impactCtes,
         |$bm25Ctes,
         |cand AS (
         |  SELECT DISTINCT idx.doc_id FROM idx JOIN qw ON idx.term = qw.tok),
         |cterm AS (
         |  SELECT term.doc_id, term.term_fp
         |  FROM term JOIN cand ON cand.doc_id = term.doc_id),
         |iscore AS (
         |  SELECT doc_id, round(sum(term_fp)::DOUBLE / 1000000.0, 6) AS score
         |  FROM cterm GROUP BY doc_id),
         |bmr AS (
         |  SELECT doc_id, row_number() OVER (
         |    ORDER BY score DESC, doc_id)::BIGINT AS br
         |  FROM iscore),
         |bm AS (SELECT doc_id, br FROM bmr WHERE br <= 10),
         |fused AS (SELECT doc_id, sr, br FROM sem FULL OUTER JOIN bm USING (doc_id))
         |SELECT doc_id, coalesce(sr, 0) AS sem_rank, coalesce(br, 0) AS bm25_rank,
         |  coalesce(1000000 // (60 + sr), 0) +
         |    coalesce(1000000 // (60 + br), 0) AS rrf_micro
         |FROM fused ORDER BY rrf_micro DESC, doc_id LIMIT 10""".stripMargin,
    "q_doc_maxsim" ->
      s"""WITH ${Ingest.chunkFixedCtes},
         |ch AS (SELECT doc_id * 10000 + chunk_index AS ck, content FROM chunks),
         |ctok AS (
         |  SELECT ck, t AS tok
         |  FROM ch, LATERAL (SELECT unnest(regexp_split_to_array(lower(content), '\\s+')) AS t) u
         |  WHERE t <> ''),
         |ccnt AS (
         |  SELECT ck, ('0x'||substr(md5(tok),1,15))::BIGINT % 64 AS bucket,
         |         count(*) AS cnt
         |  FROM ctok GROUP BY 1, 2),
         |cv AS (
         |  SELECT ck, bucket,
         |         cnt / sqrt(sum(cnt*cnt) OVER (PARTITION BY ck)) AS weight
         |  FROM ccnt),
         |${queryVecCtes("mx", QueryText)},
         |csc AS (
         |  SELECT ck, round(sum(cv.weight * q.qweight), 6) AS score
         |  FROM cv JOIN mxqv q USING (bucket) GROUP BY 1),
         |dsc AS (SELECT ck // 10000 AS doc_id, ck % 10000 AS chunk_index, score
         |        FROM csc),
         |best AS (
         |  SELECT doc_id, chunk_index, score,
         |    count(*) OVER (PARTITION BY doc_id) AS n_chunks,
         |    row_number() OVER (PARTITION BY doc_id
         |      ORDER BY score DESC, chunk_index) AS rn
         |  FROM dsc)
         |SELECT doc_id, n_chunks::BIGINT AS n_chunks, score AS best_score,
         |  chunk_index::BIGINT AS best_chunk
         |FROM best WHERE rn = 1
         |ORDER BY best_score DESC, doc_id LIMIT 10""".stripMargin,
    "q_search_stats" ->
      s"""WITH $knnBatchCtes
         |SELECT query_id, count(*) AS n, round(avg(score), 6) AS avg_score,
         |  max(score) AS max_score, min(score) AS min_score
         |FROM topq GROUP BY query_id ORDER BY query_id""".stripMargin,
  )
}
