package graft
package operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.embed.Embedder.hash60Col
import graft.functions.VectorFunctions._
import graft.operators.TextAnalysis.toks

/** Deduplication operators for a training-data pipeline — the family a
  * 100 TB corpus needs before training: exact (hash-groupBy), n-gram
  * Jaccard, MinHash + LSH banding, SimHash, and embedding-cosine
  * near-dup. The reference dedupes only at result level
  * (`src/mcp/utils/query-chain.ts:51-74`); these lift that to corpus
  * scale.
  *
  * Scale design:
  *  - exact / simhash / minhash are linear scans + hash-key shuffles —
  *    no pairwise blowup; the only self-join (candidate verification)
  *    runs AFTER LSH banding has cut the candidate set.
  *  - `q_dedup_ngram` / `q_dedup_embed` are the brute-force oracles for
  *    the LSH paths, deliberately bounded to a doc/vector sample — at
  *    scale you run the banded variants.
  *  - all hashes are md5-derived (`hash60`) so signatures are
  *    bit-identical across Spark, DuckDB and plain Scala; Jaccard is a
  *    single division of exact integer counts.
  */
object Dedup {

  /** 3-token shingles, distinct per doc (standard near-dup unit).
    * The all-docs variant is cached — shingling is the shared upstream
    * of both the signature matrix and candidate verification. */
  private[operators] def shingled(spark: SparkSession, dir: String,
      maxDoc: Long = Long.MaxValue): DataFrame =
    if (maxDoc == Long.MaxValue)
      Cache.getOrBuild(spark, "shingles", dir)(shingleAll(spark, dir))
    else shingleAll(spark, dir, maxDoc)

  private def shingleAll(spark: SparkSession, dir: String,
      maxDoc: Long = Long.MaxValue): DataFrame = {
    val d0 = Tables.documents(spark, dir)
    val d = if (maxDoc == Long.MaxValue) d0 else d0.filter(col("doc_id") < maxDoc)
    d.withColumn("t", toks(col("text")))
      .filter(size(col("t")) >= 3)
      .select(col("doc_id"), explode(transform(sequence(lit(1), size(col("t")) - 2),
        i => concat_ws(" ", element_at(col("t"), i),
          element_at(col("t"), i + 1), element_at(col("t"), i + 2))))
        .as("shingle"))
      .distinct()
  }

  private[operators] def shinglesCte(where: String = ""): String =
    s"""sh AS (
       |  SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS shingle
       |  FROM (SELECT doc_id,
       |          list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> '') AS toks
       |        FROM documents $where) t,
       |       LATERAL (SELECT unnest(range(1, len(toks)-1)) AS i) g
       |  WHERE len(toks) >= 3)""".stripMargin

  /** Exact dedup: content-hash groupBy, keep-min canonical id. One
    * shuffle on the 128-bit fingerprint — the 100 TB shape. */
  def qDedupExact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), md5(lower(col("text"))).as("fp"))
      .groupBy("fp")
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("canonical_id"))
      .orderBy("fp")

  /** Normalization-robust exact dedup: fingerprint of the CANONICAL
    * text (lowercase, punctuation stripped, whitespace collapsed,
    * trimmed) — catches trivially-reformatted duplicates that byte
    * hashing misses; the first normalization stage of every training
    * dedup pipeline. */
  def qDedupNorm(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("canon",
        trim(regexp_replace(
          regexp_replace(lower(col("text")), "[^a-z0-9\\s]", ""),
          "\\s+", " ")))
      .select(col("doc_id"), md5(col("canon")).as("fp"))
      .groupBy("fp")
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("canonical_id"))
      .orderBy("fp")

  /** Brute-force n-gram Jaccard: top-20 most-similar doc pairs on a
    * bounded sample (doc_id < 100) — the exactness oracle for the
    * MinHash path below. Pairs join only through shared shingles. */
  def qDedupNgram(spark: SparkSession, dir: String): DataFrame = {
    val sh = shingled(spark, dir, maxDoc = 100)
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val common = sh.select(col("doc_id").as("doc_a"), col("shingle"))
      .join(sh.select(col("doc_id").as("doc_b"), col("shingle")), "shingle")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("common"))
    common
      .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("sza")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("szb")), "doc_b")
      .withColumn("jaccard",
        round(col("common").cast("double") /
          (col("sza") + col("szb") - col("common")), 6))
      .select("doc_a", "doc_b", "common", "jaccard")
      .orderBy(desc("jaccard"), col("doc_a"), col("doc_b"))
      .limit(20)
  }

  /** MinHash signatures: 16 md5-seeded min-hashes per doc over its
    * shingle set. Linear in corpus size; the signature matrix is 16
    * rows/doc regardless of doc length. */
  /** Universal-hash family for MinHash: h_i(x) = (a_i·x + b_i) mod p
    * over the 31-bit fold of the md5 shingle hash. One md5 per shingle
    * (not 16), the rest integer arithmetic — 16× cheaper and exactly
    * portable. p = 2^31−1 (prime); a_i,b_i are md5-seeded constants so
    * every engine derives the same family. */
  val MinhashP = 2147483647L
  lazy val minhashCoeffs: Seq[(Int, Long, Long)] =
    (0 until 16).map { i =>
      val a = graft.embed.Embedder.hash60(s"a:$i") % (MinhashP - 1) + 1
      val b = graft.embed.Embedder.hash60(s"b:$i") % MinhashP
      (i, a, b)
    }

  /** Wide signature matrix: all 16 min-hashes as constant column
    * expressions folded in ONE groupBy — no 16× row blowup, a single
    * shuffle on doc_id. This is the shape that survives 1000×: the
    * signature stage is a plain map + partial-aggregating groupBy. */
  def minhashSigsWide(spark: SparkSession, dir: String): DataFrame =
    Cache.getOrBuild(spark, "minhashWide", dir) {
      val hv = shingled(spark, dir)
        .withColumn("hv", pmod(hash60Col(col("shingle")), lit(MinhashP)))
      val aggs = minhashCoeffs.map { case (i, a, b) =>
        min(pmod(col("hv") * a + b, lit(MinhashP))).as(s"m$i")
      }
      hv.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
    }

  /** Sketch quality: estimated Jaccard (fraction of agreeing hash
    * minima) vs the exact verified Jaccard for every near-dup pair —
    * the self-check that the 16-hash signature is honest before you
    * trust it as the sole filter at scale. */
  def qMinhashEst(spark: SparkSession, dir: String): DataFrame = {
    val wide = minhashSigsWide(spark, dir)
    def sigFor(alias: String) =
      wide.select(col("doc_id").as(alias) +:
        (0 until 16).map(i => col(s"m$i").as(s"${alias}_m$i")): _*)
    val agree = (0 until 16).map(i =>
      when(col(s"doc_a_m$i") === col(s"doc_b_m$i"), 1).otherwise(0))
      .reduce(_ + _).cast("long")
    nearDupPairs(spark, dir)
      .join(sigFor("doc_a"), "doc_a")
      .join(sigFor("doc_b"), "doc_b")
      .withColumn("n_agree", agree)
      .withColumn("est_jaccard", round(col("n_agree").cast("double") / 16, 6))
      .select("doc_a", "doc_b", "jaccard", "n_agree", "est_jaccard")
      .orderBy("doc_a", "doc_b")
  }

  def qMinhashSig(spark: SparkSession, dir: String): DataFrame = {
    val stackArgs = (0 until 16)
      .map(i => s"${i}L, m$i").mkString("stack(16, ", ", ", ") as (h, minhash)")
    minhashSigsWide(spark, dir)
      .selectExpr("doc_id", stackArgs)
      .orderBy("doc_id", "h")
  }

  /** MinHash + LSH banding: 4 bands × 4 rows; docs sharing any band
    * signature become candidate pairs, verified with exact shingle
    * Jaccard. The candidate join runs on band buckets — never all
    * pairs — which is what survives a 1000× scale-up. */
  /** Verified near-dup pairs — cached: read by q_dedup_minhash,
    * q_dedup_pipeline and q_dedup_groups. */
  def nearDupPairs(spark: SparkSession, dir: String): DataFrame =
    Cache.getOrBuild(spark, "nearDupPairs", dir)(computeNearDupPairs(spark, dir))

  def qDedupMinhash(spark: SparkSession, dir: String): DataFrame =
    nearDupPairs(spark, dir).orderBy("doc_a", "doc_b")

  private def computeNearDupPairs(spark: SparkSession, dir: String): DataFrame = {
    // bands derived row-wise from the wide signature — no extra shuffle
    val bandCols = (0 until 4).map { b =>
      struct(lit(b.toLong).as("band"),
        md5(concat_ws(",", (0 until 4).map(j => col(s"m${4 * b + j}")): _*))
          .as("band_sig"))
    }
    val bands = minhashSigsWide(spark, dir)
      .select(col("doc_id"), explode(array(bandCols: _*)).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"),
        col("bs.band_sig").as("band_sig"))
    val cand = bands.select(col("doc_id").as("doc_a"), col("band"), col("band_sig"))
      .join(bands.select(col("doc_id").as("doc_b"), col("band"), col("band_sig")),
        Seq("band", "band_sig"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .distinct()
    val sh = shingled(spark, dir)
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    cand
      .join(sh.select(col("doc_id").as("doc_a"), col("shingle")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("shingle")), Seq("doc_b", "shingle"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("common"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("sza")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("szb")), "doc_b")
      .withColumn("jaccard",
        round(col("common").cast("double") /
          (col("sza") + col("szb") - col("common")), 6))
      .select("doc_a", "doc_b", "jaccard")
  }

  /** 16-bit SimHash signature table: per-token md5 hash bits, weighted
    * by term count; sign of each bit-column sum becomes the fingerprint
    * bit. Integer sums → order-independent, engine-exact. Cached — the
    * shared upstream of [[qDedupSimhash]] and [[qSimhashNear]]. */
  private[graft] def simhashSigs(spark: SparkSession, dir: String): DataFrame =
    Cache.getOrBuild(spark, "simhashSigs", dir) {
      simhashOf(Tables.documents(spark, dir).select("doc_id", "text"))
    }

  /** 16-bit SimHash of an arbitrary `(doc_id, text)` frame — the body
    * of [[simhashSigs]], factored so [[qSimhashRep]] can sign only the
    * DISTINCT texts instead of the full corpus. */
  private def simhashOf(docs: DataFrame): DataFrame = {
    // 16 bit-sums as constant column expressions in one groupBy (no
    // 16× row blowup): s_b = Σ cnt·(2·bit_b−1); then fold the sign
    // bits row-wise.
    val cnts = docs
      .select(col("doc_id"), explode(toks(col("text"))).as("tok"))
      .groupBy("doc_id", "tok")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("hv", hash60Col(col("tok")))
    val bitSums = (0 until 16).map { b =>
      sum(col("cnt") *
        (expr(s"pmod(shiftright(hv, $b), 2)") * 2 - 1)).as(s"s$b")
    }
    cnts.groupBy("doc_id")
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"),
        (0 until 16).map(b =>
          when(col(s"s$b") >= 0, lit(1L << b)).otherwise(0L))
          .reduce(_ + _).as("simhash"))
  }

  def qDedupSimhash(spark: SparkSession, dir: String): DataFrame =
    simhashSigs(spark, dir).orderBy("doc_id")

  /** SimHash near-dup JOIN at scale — the crawl-dedup classic: band
    * the fingerprint into 4 nibbles; two docs are candidates iff they
    * collide on ANY band (a doc within Hamming distance 3 of another
    * differs in ≤ 3 bits, which can touch at most 3 of the 4 bands —
    * so every true near-dup pair shares an intact band and is found;
    * the pigeonhole guarantee behind Manku et al.'s web dedup).
    * Candidates then pass an exact `bit_count(xor)` Hamming filter.
    *
    * Scale shape: the band value is a plain shuffle key (co-located
    * equi-join, no cross join); candidate volume per band is N²/2^w
    * for band width w — production uses 64-bit signatures with 16-bit
    * bands (N²/65536); the 16-bit/4-bit setup here is the
    * oracle-friendly miniature of the same plan. */
  def qSimhashNear(spark: SparkSession, dir: String): DataFrame = {
    val bands = simhashSigs(spark, dir)
      .select(col("doc_id"), col("simhash"),
        explode(sequence(lit(0), lit(3))).as("band"))
      .withColumn("bv", expr("shiftright(simhash, cast(band * 4 as int)) & 15"))
    val a = bands.select(col("doc_id").as("doc_a"),
      col("simhash").as("sig_a"), col("band"), col("bv"))
    val b = bands.select(col("doc_id").as("doc_b"),
      col("simhash").as("sig_b"), col("band"), col("bv"))
    a.join(b, Seq("band", "bv"))
      .filter(col("doc_a") < col("doc_b"))
      // Hamming BEFORE the pair dedup: hamming is a function of the
      // pair, so filtering first is result-identical while the
      // distinct shuffles only surviving (doc_a, doc_b, hamming)
      // triples — far fewer, far narrower rows than the raw band
      // collisions with both signatures aboard
      .withColumn("hamming", expr("bit_count(sig_a ^ sig_b)").cast("long"))
      .filter(col("hamming") <= 3)
      .select("doc_a", "doc_b", "hamming")
      .distinct() // a pair may collide in several bands — count it once
      .orderBy("doc_a", "doc_b")
  }

  /** Per-doc-capped SERVING twin of [[qSimhashNear]] (r7 verdict
    * item 2): each doc's ≤5 nearest Hamming-≤3 neighbors (hamming asc,
    * neighbor id asc). The all-pairs report is intrinsically
    * output-bound — a templated corpus HAS quadratically many near
    * pairs (222M measured at 10× sf0.1) — so the serving path bounds
    * output per doc; since round 11 it ALSO bounds candidate volume:
    * the banded join runs at REPRESENTATIVE level ([[qSimhashRep]]'s
    * exact-first collapse — byte-identical texts carry one signature),
    * so the pairwise stage is sized by the DEDUPLICATED corpus at any
    * replication level, where the previous formulation fed
    * all-replica-pairs into the aggregate (119.5 s vs the audit
    * twin's 64.5 s at the 10× sweep — "capped" output, uncapped
    * input).
    *
    * Per-doc answers reconstruct EXACTLY (DedupSpec reconciles against
    * the direct per-doc formulation):
    *  - a doc's candidates are the members of every group whose rep is
    *    Hamming-≤3 from its own rep — same-group members arrive via an
    *    explicit (rep, rep, 0) self-arm, equal-signature DISTINCT
    *    texts via the band join (identical nibbles collide);
    *  - ranking is (hamming asc, id asc), and per-doc exclusion
    *    removes at most ONE candidate (the doc itself), so each
    *    neighbor group contributes at most its k+1 smallest member
    *    ids, and each rep keeps only its k+1 best candidates — both
    *    bounded aggregates ([[graft.functions.TopKAggregator]], no
    *    window, no corpus-sized sort);
    *  - the k+1-per-rep shortlist then fans out to members through
    *    two linear equi-joins (membership is a hash-key shuffle),
    *    each doc drops itself and keeps 5.
    *
    * 100 TB shape: one md5 groupBy collapses replicas map-side, the
    * quadratic-risk stage sees distinct texts only, and everything
    * per-doc is a bounded array op — output AND candidate volume
    * linear in corpus size. The audit twin stays for exhaustive
    * reports. */
  def qSimhashTopk(spark: SparkSession, dir: String): DataFrame = {
    val k = 5
    val topKUdaf = graft.functions.TopKAggregator.topKUdaf _
    // doc → representative (min doc_id per byte-identical text group);
    // cached like the rep signature table it composes with
    val membership = Cache.getOrBuild(spark, "simhashMembership", dir) {
      val docFp = Tables.documents(spark, dir)
        .select(col("doc_id"), md5(col("text")).as("fp"))
      docFp.join(
        docFp.groupBy("fp").agg(min("doc_id").as("rep_id")), "fp")
        .select("doc_id", "rep_id")
    }
    // rep-level signatures — the SAME cached table qSimhashRep serves
    // from (one signature per distinct text)
    val sigs = repSigs(spark, dir)
    val bands = sigs
      .select(col("rep_id"), col("simhash"),
        explode(sequence(lit(0), lit(3))).as("band"))
      .withColumn("bv",
        expr("shiftright(simhash, cast(band * 4 as int)) & 15"))
    val a = bands.select(col("rep_id").as("rep_a"),
      col("simhash").as("sig_a"), col("band"), col("bv"))
    val b = bands.select(col("rep_id").as("rep_b"),
      col("simhash").as("sig_b"), col("band"), col("bv"))
    // BOTH directions (per-doc reports are asymmetric), plus the
    // self-arm: same-group members are Hamming-0 neighbors of each
    // other whenever the group has ≥ 2 docs
    val cross = a.join(b, Seq("band", "bv"))
      .filter(col("rep_a") =!= col("rep_b"))
      .withColumn("hamming",
        expr("bit_count(sig_a ^ sig_b)").cast("long"))
      .filter(col("hamming") <= 3)
      .select("rep_a", "rep_b", "hamming")
      .distinct() // a pair may collide in several bands — once
    val self = sigs.filter(col("n_docs") >= 2)
      .select(col("rep_id").as("rep_a"), col("rep_id").as("rep_b"),
        lit(0L).as("hamming"))
    // each group's k+1 smallest member ids (score := -id ⇒ id asc;
    // monotone under long→double rounding, ties broken item-asc)
    val bottom = membership.groupBy("rep_id")
      .agg(topKUdaf(k + 1)(col("doc_id"),
        -col("doc_id").cast("double")).as("bot"))
      .select(col("rep_id").as("rep_b"), col("bot"))
    val cands = cross.unionByName(self)
      .join(bottom, "rep_b")
      .select(col("rep_a"), col("hamming"),
        explode(col("bot")).as("m"))
      .select(col("rep_a"), col("m._1").as("neighbor_id"),
        col("hamming"))
    // per rep: the k+1 best candidates under (hamming asc, id asc) —
    // enough for any member doc after excluding itself
    val perRep = cands.groupBy("rep_a")
      .agg(topKUdaf(k + 1)(col("neighbor_id"),
        -col("hamming").cast("double")).as("top"))
    membership.join(perRep, col("rep_id") === col("rep_a"))
      .select(col("doc_id"),
        slice(filter(col("top"),
          x => x.getField("_1") =!= col("doc_id")), 1, k).as("t"))
      .filter(size(col("t")) > 0)
      .select(col("doc_id"), posexplode(col("t")).as(Seq("pos", "p")))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("rank"),
        col("p._1").as("neighbor_id"),
        (-col("p._2")).cast("long").as("hamming"))
      .orderBy("doc_id", "rank")
  }

  /** Exact-dedup-FIRST near-dup — SCALE.md finding #2 lifted into an
    * operator: collapse byte-identical texts to one representative
    * BEFORE the pairwise stage, run the banded SimHash join of
    * [[qSimhashNear]] at representative level, and report each
    * near-dup cluster pair with its underlying doc-pair multiplicity
    * (`doc_pairs = n_a·n_b`). The all-pairs audit twin is
    * intrinsically output-bound on templated corpora (222M pairs at
    * 10× sf0.1 — every replica pair is a row); here the pairwise
    * stage sees only DISTINCT texts, so candidate volume, output AND
    * shuffle are bounded by the deduplicated corpus at any
    * replication level, while the multiplicity column keeps the
    * report lossless: Σ doc_pairs plus the within-group C(n,2)
    * exact-dup pairs recovers the audit twin's total row count.
    *
    * 100 TB shape: ONE fingerprint groupBy carries each distinct text
    * once — map-side partial aggregation (`first(text)` over a group
    * whose members are byte-identical) collapses replicas within each
    * input partition before the shuffle, so a 100×-templated corpus
    * shuffles ~1% of its text bytes; everything downstream (signature
    * scan, band join) runs at distinct-text scale. */
  /** Representative-level signature table `(rep_id, simhash, n_docs)`
    * — one signature per DISTINCT text, rep = min doc_id of its
    * byte-identical group. Session-cached: the shared upstream of
    * [[qSimhashRep]] AND the rep-first serving twin [[qSimhashTopk]]. */
  private def repSigs(spark: SparkSession, dir: String): DataFrame =
    Cache.getOrBuild(spark, "simhashRepSigs", dir) {
      val groups = Tables.documents(spark, dir)
        .select(col("doc_id"), col("text"), md5(col("text")).as("fp"))
        .groupBy("fp")
        .agg(min("doc_id").as("rep_id"), count(lit(1)).as("n_docs"),
          first("text").as("text"))
      simhashOf(groups.select(col("rep_id").as("doc_id"), col("text")))
        .select(col("doc_id").as("rep_id"), col("simhash"))
        .join(groups.select("rep_id", "n_docs"), "rep_id")
    }

  def qSimhashRep(spark: SparkSession, dir: String): DataFrame = {
    val sigs = repSigs(spark, dir)
    val bands = sigs
      .select(col("rep_id"), col("simhash"), col("n_docs"),
        explode(sequence(lit(0), lit(3))).as("band"))
      .withColumn("bv", expr("shiftright(simhash, cast(band * 4 as int)) & 15"))
    val a = bands.select(col("rep_id").as("rep_a"), col("simhash").as("sig_a"),
      col("n_docs").as("na"), col("band"), col("bv"))
    val b = bands.select(col("rep_id").as("rep_b"), col("simhash").as("sig_b"),
      col("n_docs").as("nb"), col("band"), col("bv"))
    a.join(b, Seq("band", "bv"))
      .filter(col("rep_a") < col("rep_b"))
      // filter-then-dedup as in the audit twin: the distinct shuffles
      // only surviving narrow rows
      .withColumn("hamming", expr("bit_count(sig_a ^ sig_b)").cast("long"))
      .filter(col("hamming") <= 3)
      .select(col("rep_a"), col("rep_b"), col("hamming"),
        (col("na") * col("nb")).as("doc_pairs"))
      .distinct()
      .orderBy("rep_a", "rep_b")
  }

  /** Embedding-cosine near-dup: top-20 most-similar vector pairs on a
    * bounded sample (vec_id < 1000) — brute force as the oracle for the
    * LSH-bucketed path in [[Ann]]. */
  def qDedupEmbed(spark: SparkSession, dir: String): DataFrame = {
    val e = Search.embNormed(spark, dir).filter(col("vec_id") < 1000)
    val a = e.select(col("vec_id").as("vec_a"), col("embedding").as("va"),
      col("nrm").as("na"))
    val b = e.select(col("vec_id").as("vec_b"), col("embedding").as("vb"),
      col("nrm").as("nb"))
    a.join(b, col("vec_a") < col("vec_b"))
      .withColumn("score",
        round(cosinePrenormed(dot(col("va"), col("vb")), col("na"), col("nb")), 6))
      .select("vec_a", "vec_b", "score")
      .orderBy(desc("score"), col("vec_a"), col("vec_b"))
      .limit(20)
  }

  /** Embedding near-dup at scale: candidate pairs come from shared LSH
    * buckets (candidates ≈ Σ n_b² instead of the full N² brute force
    * of [[qDedupEmbed]]), then exact cosine on candidates only,
    * top-20. The bucket is a plain hash shuffle key, so at 100 TB the
    * self-join co-locates by bucket and never materializes
    * cross-bucket pairs. Same output shape as the brute-force twin, so
    * the two are directly comparable. Registry runs the pinned
    * geometry; scale jobs pass [[AnnGeometry.forCorpus]] like the rest
    * of the knn-join family. */
  def qDedupEmbedLsh(spark: SparkSession, dir: String): DataFrame =
    qDedupEmbedLshG(spark, dir)

  def qDedupEmbedLshG(spark: SparkSession, dir: String,
      geo: AnnGeometry = AnnGeometry.Pinned): DataFrame = {
    val bt = Ann.lshTables(spark, dir, geo)
    val a = bt.select(col("vec_id").as("vec_a"), col("table").as("a_table"),
      col("bucket").as("a_bucket"))
    val b = bt.select(col("vec_id").as("vec_b"), col("table").as("b_table"),
      col("bucket").as("b_bucket"))
    val pairs = a.join(b,
        col("a_table") === col("b_table") &&
          col("a_bucket") === col("b_bucket") && col("vec_a") < col("vec_b"))
      .select("vec_a", "vec_b")
    val uniq = if (geo.tables == 1) pairs else pairs.distinct()
    val e = Search.embNormed(spark, dir)
    uniq
      .join(e.select(col("vec_id").as("vec_a"), col("embedding").as("va"),
        col("nrm").as("na")), "vec_a")
      .join(e.select(col("vec_id").as("vec_b"), col("embedding").as("vb"),
        col("nrm").as("nb")), "vec_b")
      .withColumn("score",
        round(cosinePrenormed(dot(col("va"), col("vb")), col("na"), col("nb")), 6))
      .select("vec_a", "vec_b", "score")
      .orderBy(desc("score"), col("vec_a"), col("vec_b"))
      .limit(20)
  }

  /** The composed production pipeline (SCALE.md finding #2): exact
    * dedup first (collapse identical docs to canonicals), then MinHash
    * near-dup on the canonicals, dropping the higher doc_id of any
    * pair with Jaccard ≥ 0.5. Emits stage-by-stage survivor counts. */
  def qDedupPipeline(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val canon = qDedupExact(spark, dir).select(col("canonical_id").as("doc_id"))
    val nearRemoved = nearDupPairs(spark, dir)
      .filter(col("jaccard") >= 0.5)
      .join(canon.select(col("doc_id").as("doc_a")), "doc_a") // pairs among canonicals
      .select(col("doc_b").as("doc_id")).distinct()
    val survivors = canon.join(nearRemoved, Seq("doc_id"), "left_anti")
    docs.agg(count(lit(1)).as("n_input"))
      .crossJoin(canon.agg(count(lit(1)).as("n_after_exact")))
      .crossJoin(survivors.agg(count(lit(1)).as("n_after_near")))
  }

  /** Decontamination: flag corpus docs sharing any shingle with a
    * held-out evaluation set (doc_id < 20 stands in for the test set)
    * — the train/test-overlap scrub every training pipeline runs.
    * Shape: shingle equi-join, test side broadcast; corpus side is one
    * scan regardless of test-set size. (Production uses longer n-grams
    * — 3-token here so the synthetic corpus yields matches.) */
  def qDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val sh = shingled(spark, dir)
    val test = sh.filter(col("doc_id") < 20)
      .select(col("doc_id").as("test_doc"), col("shingle"))
    sh.filter(col("doc_id") >= 20)
      .join(broadcast(test), "shingle")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared"),
        min(col("test_doc")).as("first_test_doc"))
      .orderBy("doc_id")
  }

  /** MAJORITY-containment decontamination verdicts — the DROP rule the
    * curation pipeline applies on top of [[qDecontaminate]]'s overlap
    * report: a doc is contaminated when ≥ half of its own distinct
    * shingles appear in the held-out set (substantial containment),
    * not when it shares ANY shingle (on a natural-language corpus
    * every doc shares some common 3-gram with a 20-doc test set — the
    * any-overlap rule measured 172 → 9 survivors at sf0.01, i.e. it
    * deletes the corpus). Same one broadcast join + doc-keyed
    * aggregate shape as the report itself. */
  private[graft] def contaminatedMajority(spark: SparkSession,
      dir: String): DataFrame =
    // session artifact (round 14, pipeline stage profile): the
    // verdicts are pairwise vs the FIXED test set, so the id list is
    // a per-corpus constant — without the cache every pipeline run
    // re-paid two shingle-table aggregations plus the join (~0.7 s
    // warm at sf0.1 inside q_pipeline_full's s4)
    Cache.getOrBuild(spark, "contamMajority", dir) {
      val sh = shingled(spark, dir)
      val testSh = sh.filter(col("doc_id") < 20)
        .select("shingle").distinct()
      val shared = sh.filter(col("doc_id") >= 20)
        .join(broadcast(testSh), "shingle")
        .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
      val sizes = sh.filter(col("doc_id") >= 20)
        .groupBy("doc_id").agg(count(lit(1)).as("sz"))
      shared.join(sizes, "doc_id")
        .filter(col("n_shared") * 2 >= col("sz"))
        .select("doc_id")
    }

  /** SEMANTIC decontamination — the embedding-level member of the
    * decontamination family (exact n-gram = [[qDecontaminate]], Bloom
    * -prefiltered = [[qBloomDecon]], semantic = here): paraphrased or
    * lightly-reworded eval leakage shares no 5-gram but sits next to
    * the eval vector in embedding space (the Phi/llm-decontaminator
    * observation — Yang et al. 2023). For each train vector that
    * shares an LSH bucket with an eval vector (vec_id < 20, the same
    * planted eval set as the n-gram twin), exact-cosine the candidate
    * pair and report the top-20 most contaminated train vectors with
    * the responsible eval vector — argmax per train vec, no
    * threshold to tune.
    *
    * Scale shape: candidates are bucket-mates of the ~eval-sized
    * bucket list (a broadcastable table), never all train × eval; the
    * per-train argmax is a map-side max-of-struct aggregate; top-20
    * lowers to TakeOrderedAndProject. Rides the session-cached
    * lshBuckets/embNormed, so the marginal cost after any ANN query
    * is one bucket equi-join. */
  def qSemDecon(spark: SparkSession, dir: String): DataFrame = {
    val buckets = Ann.lshBuckets(spark, dir)
    val e = Search.embNormed(spark, dir)
    val evalB = buckets.filter(col("vec_id") < 20)
      .select(col("vec_id").as("eval_vec"), col("bucket"))
    val ee = e.select(col("vec_id").as("eval_vec"),
      col("embedding").as("ev"), col("nrm").as("en"))
    buckets.filter(col("vec_id") >= 20)
      .join(broadcast(evalB), "bucket")
      .join(e, "vec_id")
      .join(broadcast(ee), "eval_vec")
      .withColumn("score",
        round(cosinePrenormed(dot(col("embedding"), col("ev")),
          col("nrm"), col("en")), 6))
      .groupBy("vec_id")
      .agg(max(struct(col("score"), (-col("eval_vec")).as("neg"))).as("best"))
      .select(col("vec_id"), (-col("best.neg")).as("eval_vec"),
        col("best.score").as("score"))
      .orderBy(desc("score"), col("vec_id"))
      .limit(20)
  }

  /** Past this many near-dup edges the component computation stays
    * distributed; below it, one collect + driver union-find resolves
    * the graph in a single action. LSH candidate edges are a tiny
    * fraction of the corpus (SCALE.md), so the gate bounds driver
    * memory at ~a few MB while skipping 5+ tiny-data shuffle rounds. */
  private[graft] val DriverCcMaxEdges = 1000000L

  /** Component-minimum labels of the near-dup pair graph (jaccard ≥
    * 0.5) — cached; read by q_dedup_groups. Two equivalent paths
    * proven identical in DedupGroupsSpec:
    *  - small graphs (≤ [[DriverCcMaxEdges]], the common case): ONE
    *    collect + union-find with min-label roots on the driver;
    *  - large graphs: iterative distributed min-label propagation
    *    (one join + one groupBy per round, ≤ diameter rounds — the
    *    standard Spark connected-components loop for 100 TB inputs).
    * Both converge to the same iteration-order-free fixpoint (every
    * node labeled with its component's minimum doc_id). */
  def componentLabels(spark: SparkSession, dir: String): DataFrame =
    Cache.getOrBuild(spark, "dupComponents", dir) {
      componentsOf(spark,
        nearDupPairs(spark, dir).filter(col("jaccard") >= 0.5)
          .select(col("doc_a"), col("doc_b")))
    }

  /** Connected components over an EXPLICIT pair table — the size-gated
    * dispatch [[componentLabels]] caches for the full corpus, exposed
    * so sequential compositions (the curation pipeline's near-dup
    * stage runs on the SURVIVOR subgraph, where dropping a bridge doc
    * can split a component — filtering full-corpus labels would be
    * wrong) recompute labels on their own edge set. */
  private[graft] def componentsOf(spark: SparkSession,
      pairs: DataFrame): DataFrame =
    if (pairs.count() <= DriverCcMaxEdges) {
      import spark.implicits._
      val edges = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
      unionFindMinLabels(edges).toSeq.toDF("doc_id", "grp")
    } else propagateMinLabels(pairs)

  /** Driver union-find, min-label roots (path-halving). */
  private[graft] def unionFindMinLabels(
      edges: Array[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  /** Distributed min-label propagation to the same fixpoint; Σgrp
    * strictly decreases per round until converged, so one cheap agg is
    * the convergence check. */
  private[graft] def propagateMinLabels(pairs: DataFrame): DataFrame = {
    val edges = pairs.select(col("doc_a").as("u"), col("doc_b").as("v"))
      .union(pairs.select(col("doc_b").as("u"), col("doc_a").as("v")))
      .persist()
    var labels = edges.select(col("u").as("doc_id"))
      .distinct()
      .withColumn("grp", col("doc_id"))
      .persist()
    def sumGrp(df: DataFrame): Long =
      df.agg(coalesce(sum(col("grp")), lit(0L))).head.getLong(0)
    var converged = false
    var prevSum = sumGrp(labels)
    while (!converged) {
      val propagated = labels
        .join(edges, labels("doc_id") === edges("u"))
        .select(col("v").as("doc_id"), col("grp"))
        .union(labels)
        .groupBy("doc_id")
        .agg(min(col("grp")).as("grp"))
        .persist()
      val s2 = sumGrp(propagated)
      converged = s2 == prevSum
      prevSum = s2
      labels.unpersist(false)
      labels = propagated
    }
    edges.unpersist(false)
    labels
  }

  /** Duplicate GROUPS via connected components over the near-dup pair
    * graph — [[componentLabels]] (size-gated driver union-find /
    * distributed propagation) grouped into member lists. */
  def qDedupGroups(spark: SparkSession, dir: String): DataFrame =
    componentLabels(spark, dir).groupBy("grp")
      .agg(count(lit(1)).as("group_size"),
        array_join(transform(array_sort(collect_set(col("doc_id"))),
          x => x.cast("string")), ",").as("members"))
      .select(col("grp").as("group_id"), col("group_size"), col("members"))
      .orderBy("group_id")

  /** LSH band-configuration sweep: for (bands × rows) ∈ {8×2, 4×4,
    * 2×8} over the same 16 minima, the candidate-pair count and the
    * fraction whose signature-estimated Jaccard clears 0.5 — the
    * precision/recall tuning table you consult BEFORE committing a
    * banding to a 100 TB run (more rows per band → fewer, more precise
    * candidates; the S-curve threshold is (1/b)^(1/r)). Everything
    * derives from the cached wide signature matrix: per config one
    * bucket self-join (never all pairs) + one broadcast-signature
    * agreement count; no shingle re-scan. */
  def qLshTune(spark: SparkSession, dir: String): DataFrame = {
    val wide = minhashSigsWide(spark, dir)
    val agree = (0 until 16).map(i =>
      when(col(s"a_m$i") === col(s"b_m$i"), 1).otherwise(0))
      .reduce(_ + _).cast("long")
    val aSig = wide.select(col("doc_id").as("doc_a") +:
      (0 until 16).map(i => col(s"m$i").as(s"a_m$i")): _*)
    val bSig = wide.select(col("doc_id").as("doc_b") +:
      (0 until 16).map(i => col(s"m$i").as(s"b_m$i")): _*)
    val per = Seq(2, 4, 8).map { r =>
      val b = 16 / r
      val sigs = wide.select(col("doc_id"),
        posexplode(array((0 until b).map(j =>
          md5(concat_ws(",",
            (0 until r).map(k => col(s"m${j * r + k}")): _*))): _*))
          .as(Seq("band", "sig")))
      val cand = sigs.as("a")
        .join(sigs.as("b"),
          col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
      cand.join(aSig, "doc_a").join(bSig, "doc_b")
        .withColumn("n_agree", agree)
        .agg(count(lit(1)).as("n_candidates"),
          sum(when(col("n_agree") >= 8, 1L).otherwise(0L)).as("n_est_half"))
        .select(lit(b.toLong).as("bands"), lit(r.toLong).as("rows_per_band"),
          col("n_candidates"), col("n_est_half"))
    }
    per.reduce(_.unionByName(_))
      .withColumn("precision_est",
        round(col("n_est_half").cast("double") / col("n_candidates"), 6))
      .orderBy("rows_per_band")
  }

  /** SemDeDup-style cluster curation (Abbas et al. 2023, composed from
    * the engine's own primitives): within every near-dup component
    * (cached [[componentLabels]]), keep exactly one representative —
    * the longest document, doc_id tie-break — and account for what was
    * dropped.
    *
    * Scale shape: keep-best is an ARGMAX, so it rides a plain
    * `max(struct(n_chars, -doc_id))` hash aggregate — map-side partial
    * aggregation reduces every upstream partition to one row per
    * component before the shuffle, so a pathological million-member
    * duplicate cluster ships |partitions| rows, not |cluster|. (The
    * row_number-window formulation this replaced put the whole
    * cluster in one task; see the retired semdedup_giant_cluster probe
    * in SCALE.md.) */
  def qSemdedup(spark: SparkSession, dir: String): DataFrame =
    keepBest(componentLabels(spark, dir),
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("n_chars").cast("long").as("n_chars")))

  /** The keep-best core of [[qSemdedup]] over an explicit (doc_id, grp)
    * labels table — isolated so the giant-cluster probe can drive it
    * with a planted 10k-member component. */
  private[graft] def keepBest(labels: DataFrame, docs: DataFrame): DataFrame =
    labels.join(docs, "doc_id")
      .groupBy(col("grp").as("group_id"))
      .agg(count(lit(1)).as("group_size"),
        max(struct(col("n_chars"), (-col("doc_id")).as("neg_id"))).as("best"))
      .select(col("group_id"), col("group_size"),
        (-col("best.neg_id")).as("kept_doc"),
        col("best.n_chars").as("kept_chars"),
        (col("group_size") - 1).as("n_dropped"))
      .orderBy("group_id")

  /** Non-overlapping segment length (tokens) for line-level dedup. */
  private[graft] val SegLen = 10

  /** C4-style segment-level exact dedup with reassembly (Raffel et al.
    * 2020 dropped duplicate three-sentence spans corpus-wide; the
    * delimiter-free analogue here is consecutive non-overlapping
    * [[SegLen]]-token segments): a segment survives only at its
    * globally first occurrence — minimal (doc_id, position) — and every
    * document is re-emitted with its surviving segments in order plus
    * the attrition accounting. Unlike [[Quality.qSubstrDedup]] (doc
    * keep/drop by overlapping-span coverage) this TRANSFORMS documents,
    * the way C4's line dedup rewrites pages.
    *
    * Scale shape: segments shuffle as 8-byte hash60 keys (not strings);
    * first-owner is a groupBy-min + join-back — map-side partial agg,
    * AQE-skew-safe, same reasoning as [[Curation.qBoilerplate]]'s gram
    * join — then one doc-keyed agg rebuilds the text. Linear, two
    * shuffles, no windows over corpus-wide keys. */
  def qLineDedup(spark: SparkSession, dir: String): DataFrame = {
    val segs = Tables.documents(spark, dir)
      .withColumn("t", toks(col("text")))
      .filter(size(col("t")) > 0)
      .select(col("doc_id"),
        posexplode(transform(
          sequence(lit(0), ((size(col("t")) - 1) / SegLen).cast("int")),
          i => concat_ws(" ", slice(col("t"), i * SegLen + 1, lit(SegLen)))))
          .as(Seq("pos", "seg")))
      .withColumn("g", hash60Col(col("seg")))
    val owners = segs.groupBy("g")
      .agg(min(struct(col("doc_id"), col("pos"))).as("o"))
    segs.join(owners, "g")
      .withColumn("keep",
        col("o.doc_id") === col("doc_id") && col("o.pos") === col("pos"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_segs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(when(col("keep"),
            struct(col("pos"), col("seg"))))),
          x => x.getField("seg"))).as("dedup_text"))
      .withColumn("kept_frac",
        round(col("n_kept").cast("double") / col("n_segs"), 6))
      .select("doc_id", "n_segs", "n_kept", "kept_frac", "dedup_text")
      .orderBy("doc_id")
  }

  /** Decontamination, Bloom-prefilter formulation — the 100 TB shape of
    * [[qDecontaminate]] for when the held-out set is too big to
    * broadcast as a join table: the test shingles collapse to a Bloom
    * bitset (~10 bits/key vs a 16+-byte hash-join row, an order of
    * magnitude smaller broadcast), the corpus scan keeps only
    * bloom-positive shingles, and the exact join then runs on that
    * sliver. No false negatives by construction, and the join removes
    * the false positives, so the answer is IDENTICAL to the broadcast
    * twin — same oracle row. The UDF probe is a narrow per-row filter
    * ahead of the shuffle; everything emitted downstream is exact. */
  def qBloomDecon(spark: SparkSession, dir: String): DataFrame = {
    val sh = shingled(spark, dir)
    val test = sh.filter(col("doc_id") < 20)
      .select(col("doc_id").as("test_doc"), col("shingle"))
    val bloom = test.stat.bloomFilter("shingle",
      math.max(test.count(), 1000L), 0.01)
    val bc = spark.sparkContext.broadcast(bloom)
    val mightContain = udf((s: String) => bc.value.mightContainString(s))
    sh.filter(col("doc_id") >= 20)
      .filter(mightContain(col("shingle")))
      .join(test, "shingle")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared"),
        min(col("test_doc")).as("first_test_doc"))
      .orderBy("doc_id")
  }

  /** Incremental (batch-vs-corpus) near-dup — the daily-crawl path: the
    * newest 10% of doc_ids stand in for today's batch, everything
    * before them is the already-deduped corpus. Each new doc gets a
    * verdict: `dup_of_corpus` (near-dup of an existing doc — corpus
    * matches take priority), `dup_in_batch` (near-dup of an
    * earlier-id doc in the same batch: first-occurrence-wins inside
    * the increment), or `unique`, with the best partner and its
    * Jaccard. Best = corpus-class first, Jaccard desc, partner asc —
    * fully deterministic.
    *
    * Scale shape: rides the CACHED banded signature index
    * ([[nearDupPairs]] — the "Spark builds the index, the daily job
    * probes it" split the ANN family also uses); the verdict layer
    * filters pairs to new-doc right sides and runs one window over
    * doc_id — keys uniform (a few matches per new doc), never the
    * corpus. The batch boundary is a 1-row broadcast, not a driver
    * scalar. */
  def qIncrDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val cut = docs.agg(expr("((max(doc_id)+1)*9) div 10").as("cut"))
    val m = nearDupPairs(spark, dir)
      .filter(col("jaccard") >= 0.5)
      .crossJoin(broadcast(cut))
      .filter(col("doc_b") >= col("cut"))
      .select(col("doc_b").as("doc_id"),
        col("doc_a").as("partner"), col("jaccard"),
        when(col("doc_a") < col("cut"), lit("dup_of_corpus"))
          .otherwise(lit("dup_in_batch")).as("cls"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("doc_id").orderBy(
          (col("cls") === "dup_of_corpus").desc, col("jaccard").desc,
          col("partner"))))
      .filter(col("rn") === 1)
    docs.select("doc_id").crossJoin(broadcast(cut))
      .filter(col("doc_id") >= col("cut"))
      .join(m, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cls"), lit("unique")).as("verdict"),
        col("partner"), col("jaccard"))
      .orderBy("doc_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_incr_dedup"     -> (qIncrDedup _),
    "q_line_dedup"     -> (qLineDedup _),
    "q_bloom_decon"    -> (qBloomDecon _),
    "q_lsh_tune"       -> (qLshTune _),
    "q_semdedup"       -> (qSemdedup _),
    "q_dedup_groups"   -> (qDedupGroups _),
    "q_decontaminate"  -> (qDecontaminate _),
    "q_sem_decon"      -> (qSemDecon _),
    "q_dedup_pipeline" -> (qDedupPipeline _),
    "q_dedup_exact"   -> (qDedupExact _),
    "q_dedup_norm"    -> (qDedupNorm _),
    "q_dedup_ngram"   -> (qDedupNgram _),
    "q_minhash_sig"   -> (qMinhashSig _),
    "q_minhash_est"   -> (qMinhashEst _),
    "q_dedup_minhash" -> (qDedupMinhash _),
    "q_dedup_simhash" -> (qDedupSimhash _),
    "q_simhash_near"  -> (qSimhashNear _),
    "q_simhash_topk"  -> (qSimhashTopk _),
    "q_simhash_rep"   -> (qSimhashRep _),
    "q_dedup_embed"   -> (qDedupEmbed _),
    "q_dedup_embed_lsh" -> (qDedupEmbedLsh _),
  )

  private[operators] lazy val coeffValues =
    minhashCoeffs.map { case (h, a, b) => s"($h, ${a}::BIGINT, ${b}::BIGINT)" }
      .mkString(", ")

  private lazy val sigSql =
    s"""${shinglesCte()},
       |hv AS (
       |  SELECT doc_id,
       |    ('0x'||substr(md5(shingle),1,15))::BIGINT % $MinhashP AS hv
       |  FROM sh),
       |sig AS (
       |  SELECT doc_id, h, min((a * hv + b) % $MinhashP) AS minhash
       |  FROM hv, (VALUES $coeffValues) c(h, a, b)
       |  GROUP BY doc_id, h)""".stripMargin

  /** SimHash signature CTE shared by the simhash oracle pair. */
  /** The simhash-signature CTE chain over an arbitrary (doc_id, text)
    * relation — `simhashSql` is the full-corpus instance; the rep
    * variant signs only the distinct-text representatives. */
  private def simhashSqlFrom(src: String) =
    s"""cnts AS (
       |  SELECT doc_id, tok, count(*) AS cnt,
       |    ('0x'||substr(md5(tok),1,15))::BIGINT AS hv
       |  FROM $src,
       |    LATERAL (SELECT unnest(regexp_split_to_array(lower(text), '\\s+')) AS tok) u
       |  WHERE tok <> ''
       |  GROUP BY doc_id, tok),
       |bitsums AS (
       |  SELECT doc_id, b, sum(cnt * (((hv >> b) & 1) * 2 - 1)) AS s
       |  FROM cnts, (SELECT unnest(range(16)) AS b) bs
       |  GROUP BY doc_id, b),
       |simsig AS (
       |  SELECT doc_id,
       |    sum((CASE WHEN s >= 0 THEN 1 ELSE 0 END) * CAST(pow(2, b) AS BIGINT))::BIGINT AS simhash
       |  FROM bitsums GROUP BY doc_id)""".stripMargin

  private lazy val simhashSql = simhashSqlFrom("documents")

  /** CTE chain ending in `labels(doc_id, grp)` — the near-dup
    * connected-components oracle (band candidates → exact-Jaccard
    * pairs → recursive min-label closure), shared by q_dedup_groups
    * and q_semdedup. Requires `WITH RECURSIVE`. */
  private[operators] lazy val ccSql =
    s"""$sigSql,
       |bands AS (
       |  SELECT doc_id, h // 4 AS band,
       |    md5(string_agg(minhash::VARCHAR, ',' ORDER BY h)) AS band_sig
       |  FROM sig GROUP BY doc_id, band),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b USING (band, band_sig)
       |  WHERE a.doc_id < b.doc_id),
       |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
       |pairs AS (
       |  SELECT c.doc_a, c.doc_b
       |  FROM cand c
       |  JOIN sh a ON a.doc_id = c.doc_a
       |  JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
       |  JOIN sizes sa ON sa.doc_id = c.doc_a
       |  JOIN sizes sb ON sb.doc_id = c.doc_b
       |  GROUP BY c.doc_a, c.doc_b, sa.sz, sb.sz
       |  HAVING round(count(*)::DOUBLE / (sa.sz + sb.sz - count(*)), 6) >= 0.5),
       |edges AS (
       |  SELECT doc_a AS u, doc_b AS v FROM pairs
       |  UNION ALL SELECT doc_b, doc_a FROM pairs),
       |reach(u, root) AS (
       |  SELECT u, u FROM (SELECT DISTINCT u FROM edges) n
       |  UNION
       |  SELECT e.v, r.root FROM reach r JOIN edges e ON e.u = r.u),
       |labels AS (SELECT u AS doc_id, min(root) AS grp FROM reach GROUP BY u)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_incr_dedup" ->
      s"""WITH $sigSql,
         |bands AS (
         |  SELECT doc_id, h // 4 AS band,
         |    md5(string_agg(minhash::VARCHAR, ',' ORDER BY h)) AS band_sig
         |  FROM sig GROUP BY doc_id, band),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b USING (band, band_sig)
         |  WHERE a.doc_id < b.doc_id),
         |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
         |pairs AS (
         |  SELECT c.doc_a, c.doc_b,
         |    round(count(*)::DOUBLE / (sa.sz + sb.sz - count(*)), 6) AS jaccard
         |  FROM cand c
         |  JOIN sh a ON a.doc_id = c.doc_a
         |  JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
         |  JOIN sizes sa ON sa.doc_id = c.doc_a
         |  JOIN sizes sb ON sb.doc_id = c.doc_b
         |  GROUP BY c.doc_a, c.doc_b, sa.sz, sb.sz),
         |cut AS (SELECT ((max(doc_id)+1)*9)//10 AS cut FROM documents),
         |nd AS (SELECT d.doc_id FROM documents d, cut c
         |       WHERE d.doc_id >= c.cut),
         |m AS (
         |  SELECT p.doc_b AS doc_id, p.doc_a AS partner, p.jaccard,
         |    CASE WHEN p.doc_a < c.cut THEN 'dup_of_corpus'
         |         ELSE 'dup_in_batch' END AS cls
         |  FROM pairs p, cut c
         |  WHERE p.doc_b >= c.cut AND p.jaccard >= 0.5),
         |r AS (
         |  SELECT doc_id, partner, jaccard, cls, row_number() OVER (
         |      PARTITION BY doc_id
         |      ORDER BY (cls = 'dup_of_corpus') DESC, jaccard DESC, partner)
         |    AS rn
         |  FROM m)
         |SELECT n.doc_id, coalesce(r.cls, 'unique') AS verdict,
         |  r.partner, r.jaccard
         |FROM nd n LEFT JOIN r ON r.doc_id = n.doc_id AND r.rn = 1
         |ORDER BY n.doc_id""".stripMargin,
    "q_line_dedup" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |    list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') AS toks
         |  FROM documents),
         |seg AS (
         |  SELECT doc_id, i AS pos,
         |    array_to_string(toks[i*$SegLen+1 : i*$SegLen+$SegLen], ' ') AS seg
         |  FROM t, LATERAL (
         |    SELECT unnest(range(0, (len(toks)-1)//$SegLen + 1)) AS i) g
         |  WHERE len(toks) > 0),
         |k AS (
         |  SELECT doc_id, pos, seg, row_number() OVER (
         |      PARTITION BY ('0x'||substr(md5(seg),1,15))::BIGINT
         |      ORDER BY doc_id, pos) AS rn
         |  FROM seg)
         |SELECT doc_id, count(*) AS n_segs,
         |  sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END)::BIGINT AS n_kept,
         |  round(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END)::DOUBLE / count(*), 6)
         |    AS kept_frac,
         |  coalesce(string_agg(seg, ' ' ORDER BY pos) FILTER (WHERE rn = 1), '')
         |    AS dedup_text
         |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_bloom_decon" ->
      s"""WITH ${shinglesCte()}
         |SELECT c.doc_id, count(*) AS n_shared,
         |  min(t.doc_id) AS first_test_doc
         |FROM sh c JOIN sh t ON t.shingle = c.shingle AND t.doc_id < 20
         |WHERE c.doc_id >= 20
         |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin,
    "q_semdedup" ->
      s"""WITH RECURSIVE $ccSql,
         |j AS (
         |  SELECT l.doc_id, l.grp, d.n_chars
         |  FROM labels l JOIN documents d USING (doc_id)),
         |r AS (
         |  SELECT doc_id, grp, n_chars,
         |    row_number() OVER (PARTITION BY grp
         |      ORDER BY n_chars DESC, doc_id) AS rk
         |  FROM j)
         |SELECT grp AS group_id, count(*) AS group_size,
         |  sum(CASE WHEN rk = 1 THEN doc_id END)::BIGINT AS kept_doc,
         |  sum(CASE WHEN rk = 1 THEN n_chars END)::BIGINT AS kept_chars,
         |  (count(*) - 1)::BIGINT AS n_dropped
         |FROM r GROUP BY grp ORDER BY group_id""".stripMargin,
    "q_lsh_tune" ->
      s"""WITH $sigSql,
         |bands AS (
         |  SELECT doc_id, r, h // r AS band,
         |    md5(string_agg(minhash::VARCHAR, ',' ORDER BY h)) AS bsig
         |  FROM sig, (VALUES (2), (4), (8)) rc(r)
         |  GROUP BY doc_id, r, band),
         |cand AS (
         |  SELECT DISTINCT r, a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b USING (r, band, bsig)
         |  WHERE a.doc_id < b.doc_id),
         |agr AS (
         |  SELECT c.r, c.doc_a, c.doc_b,
         |    sum(CASE WHEN sa.minhash = sb.minhash THEN 1 ELSE 0 END) AS n_agree
         |  FROM cand c
         |  JOIN sig sa ON sa.doc_id = c.doc_a
         |  JOIN sig sb ON sb.doc_id = c.doc_b AND sb.h = sa.h
         |  GROUP BY 1, 2, 3),
         |res AS (
         |  SELECT r, count(*) AS n_candidates,
         |    sum(CASE WHEN n_agree >= 8 THEN 1 ELSE 0 END)::BIGINT AS n_est_half
         |  FROM agr GROUP BY r)
         |SELECT (16 // rc.r)::BIGINT AS bands, rc.r::BIGINT AS rows_per_band,
         |  coalesce(res.n_candidates, 0) AS n_candidates, res.n_est_half,
         |  round(res.n_est_half::DOUBLE / res.n_candidates, 6) AS precision_est
         |FROM (VALUES (2), (4), (8)) rc(r)
         |LEFT JOIN res ON res.r = rc.r
         |ORDER BY rows_per_band""".stripMargin,
    "q_dedup_groups" ->
      s"""WITH RECURSIVE $ccSql
         |SELECT grp AS group_id, count(*) AS group_size,
         |  string_agg(doc_id::VARCHAR, ',' ORDER BY doc_id) AS members
         |FROM labels GROUP BY grp ORDER BY group_id""".stripMargin,
    "q_decontaminate" ->
      s"""WITH ${shinglesCte()}
         |SELECT c.doc_id, count(*) AS n_shared,
         |  min(t.doc_id) AS first_test_doc
         |FROM sh c JOIN sh t ON t.shingle = c.shingle AND t.doc_id < 20
         |WHERE c.doc_id >= 20
         |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin,
    "q_dedup_pipeline" ->
      s"""WITH $sigSql,
         |bands AS (
         |  SELECT doc_id, h // 4 AS band,
         |    md5(string_agg(minhash::VARCHAR, ',' ORDER BY h)) AS band_sig
         |  FROM sig GROUP BY doc_id, band),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b USING (band, band_sig)
         |  WHERE a.doc_id < b.doc_id),
         |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
         |pairs AS (
         |  SELECT c.doc_a, c.doc_b,
         |    round(count(*)::DOUBLE / (sa.sz + sb.sz - count(*)), 6) AS jaccard
         |  FROM cand c
         |  JOIN sh a ON a.doc_id = c.doc_a
         |  JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
         |  JOIN sizes sa ON sa.doc_id = c.doc_a
         |  JOIN sizes sb ON sb.doc_id = c.doc_b
         |  GROUP BY c.doc_a, c.doc_b, sa.sz, sb.sz),
         |canon AS (
         |  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(lower(text))),
         |removed AS (
         |  SELECT DISTINCT p.doc_b AS doc_id FROM pairs p
         |  JOIN canon ca ON ca.doc_id = p.doc_a
         |  WHERE p.jaccard >= 0.5),
         |surv AS (
         |  SELECT doc_id FROM canon
         |  WHERE doc_id NOT IN (SELECT doc_id FROM removed))
         |SELECT (SELECT count(*) FROM documents) AS n_input,
         |  (SELECT count(*) FROM canon) AS n_after_exact,
         |  (SELECT count(*) FROM surv) AS n_after_near""".stripMargin,
    "q_dedup_exact" ->
      """SELECT md5(lower(text)) AS fp, count(*) AS n_docs,
        |  min(doc_id) AS canonical_id
        |FROM documents GROUP BY 1 ORDER BY fp""".stripMargin,
    "q_dedup_norm" ->
      """SELECT md5(trim(regexp_replace(
        |    regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g'),
        |    '\s+', ' ', 'g'))) AS fp,
        |  count(*) AS n_docs, min(doc_id) AS canonical_id
        |FROM documents GROUP BY 1 ORDER BY fp""".stripMargin,
    "q_dedup_ngram" ->
      s"""WITH ${shinglesCte("WHERE doc_id < 100")},
         |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
         |common AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
         |  FROM sh a JOIN sh b USING (shingle)
         |  WHERE a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b, common,
         |  round(common::DOUBLE / (sa.sz + sb.sz - common), 6) AS jaccard
         |FROM common
         |JOIN sizes sa ON sa.doc_id = doc_a
         |JOIN sizes sb ON sb.doc_id = doc_b
         |ORDER BY jaccard DESC, doc_a, doc_b LIMIT 20""".stripMargin,
    "q_minhash_sig" ->
      s"""WITH $sigSql
         |SELECT doc_id, h, minhash FROM sig ORDER BY doc_id, h""".stripMargin,
    "q_minhash_est" ->
      s"""WITH $sigSql,
         |bands AS (
         |  SELECT doc_id, h // 4 AS band,
         |    md5(string_agg(minhash::VARCHAR, ',' ORDER BY h)) AS band_sig
         |  FROM sig GROUP BY doc_id, band),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b USING (band, band_sig)
         |  WHERE a.doc_id < b.doc_id),
         |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
         |pairs AS (
         |  SELECT c.doc_a, c.doc_b,
         |    round(count(*)::DOUBLE / (sa.sz + sb.sz - count(*)), 6) AS jaccard
         |  FROM cand c
         |  JOIN sh a ON a.doc_id = c.doc_a
         |  JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
         |  JOIN sizes sa ON sa.doc_id = c.doc_a
         |  JOIN sizes sb ON sb.doc_id = c.doc_b
         |  GROUP BY c.doc_a, c.doc_b, sa.sz, sb.sz),
         |est AS (
         |  SELECT p.doc_a, p.doc_b, p.jaccard,
         |    sum(CASE WHEN sa.minhash = sb.minhash THEN 1 ELSE 0 END)::BIGINT
         |      AS n_agree
         |  FROM pairs p
         |  JOIN sig sa ON sa.doc_id = p.doc_a
         |  JOIN sig sb ON sb.doc_id = p.doc_b AND sb.h = sa.h
         |  GROUP BY 1, 2, 3)
         |SELECT doc_a, doc_b, jaccard, n_agree,
         |  round(n_agree::DOUBLE / 16, 6) AS est_jaccard
         |FROM est ORDER BY doc_a, doc_b""".stripMargin,
    "q_dedup_minhash" ->
      s"""WITH $sigSql,
         |bands AS (
         |  SELECT doc_id, h // 4 AS band,
         |    md5(string_agg(minhash::VARCHAR, ',' ORDER BY h)) AS band_sig
         |  FROM sig GROUP BY doc_id, band),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b USING (band, band_sig)
         |  WHERE a.doc_id < b.doc_id),
         |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
         |common AS (
         |  SELECT c.doc_a, c.doc_b, count(*) AS common
         |  FROM cand c
         |  JOIN sh a ON a.doc_id = c.doc_a
         |  JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b,
         |  round(common::DOUBLE / (sa.sz + sb.sz - common), 6) AS jaccard
         |FROM common
         |JOIN sizes sa ON sa.doc_id = doc_a
         |JOIN sizes sb ON sb.doc_id = doc_b
         |ORDER BY doc_a, doc_b""".stripMargin,
    "q_dedup_simhash" ->
      s"""WITH $simhashSql
         |SELECT doc_id, simhash FROM simsig ORDER BY doc_id""".stripMargin,
    "q_simhash_near" ->
      s"""WITH $simhashSql,
         |bands AS (
         |  SELECT doc_id, simhash, b AS band, (simhash >> (b * 4)) & 15 AS bv
         |  FROM simsig, (SELECT unnest(range(4)) AS b) bb),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, a.simhash AS sig_a,
         |                  b.doc_id AS doc_b, b.simhash AS sig_b
         |  FROM bands a
         |  JOIN bands b ON a.band = b.band AND a.bv = b.bv
         |             AND a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b, bit_count(xor(sig_a, sig_b))::BIGINT AS hamming
         |FROM cand
         |WHERE bit_count(xor(sig_a, sig_b)) <= 3
         |ORDER BY doc_a, doc_b""".stripMargin,
    "q_simhash_topk" ->
      s"""WITH $simhashSql,
         |bands AS (
         |  SELECT doc_id, simhash, b AS band, (simhash >> (b * 4)) & 15 AS bv
         |  FROM simsig, (SELECT unnest(range(4)) AS b) bb),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_id, b.doc_id AS neighbor_id,
         |    bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming
         |  FROM bands a
         |  JOIN bands b ON a.band = b.band AND a.bv = b.bv
         |             AND a.doc_id <> b.doc_id
         |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
         |r AS (
         |  SELECT doc_id, neighbor_id, hamming, row_number() OVER (
         |      PARTITION BY doc_id ORDER BY hamming, neighbor_id) AS rank
         |  FROM cand)
         |SELECT doc_id, rank::BIGINT AS rank, neighbor_id, hamming
         |FROM r WHERE rank <= 5 ORDER BY doc_id, rank""".stripMargin,
    "q_simhash_rep" ->
      s"""WITH groups AS (
         |  SELECT min(doc_id) AS doc_id, count(*) AS n_docs, min(text) AS text
         |  FROM documents GROUP BY md5(text)),
         |${simhashSqlFrom("groups")},
         |sig AS (
         |  SELECT s.doc_id AS rep_id, s.simhash, g.n_docs
         |  FROM simsig s JOIN groups g ON s.doc_id = g.doc_id),
         |bands AS (
         |  SELECT rep_id, simhash, n_docs, b AS band,
         |    (simhash >> (b * 4)) & 15 AS bv
         |  FROM sig, (SELECT unnest(range(4)) AS b) bb)
         |SELECT DISTINCT a.rep_id AS rep_a, b.rep_id AS rep_b,
         |  bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming,
         |  (a.n_docs * b.n_docs)::BIGINT AS doc_pairs
         |FROM bands a
         |JOIN bands b ON a.band = b.band AND a.bv = b.bv
         |           AND a.rep_id < b.rep_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
         |ORDER BY rep_a, rep_b""".stripMargin,
    "q_dedup_embed" ->
      """WITH e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v,
        |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
        |  FROM embeddings WHERE vec_id < 1000)
        |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |  round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS score
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |ORDER BY score DESC, vec_a, vec_b LIMIT 20""".stripMargin,
    "q_sem_decon" ->
      s"""WITH ${Ann.bucketsSql},
         |evb AS (SELECT vec_id AS eval_vec, bucket FROM buckets WHERE vec_id < 20),
         |cand AS (
         |  SELECT t.vec_id, v.eval_vec,
         |    round(list_dot_product(et.v, ee.v) / (et.nrm * ee.nrm), 6) AS score
         |  FROM buckets t JOIN evb v USING (bucket)
         |  JOIN e et ON et.vec_id = t.vec_id
         |  JOIN e ee ON ee.vec_id = v.eval_vec
         |  WHERE t.vec_id >= 20),
         |best AS (
         |  SELECT vec_id, eval_vec, score, row_number() OVER (
         |      PARTITION BY vec_id ORDER BY score DESC, eval_vec) AS rk
         |  FROM cand)
         |SELECT vec_id, eval_vec, score FROM best WHERE rk = 1
         |ORDER BY score DESC, vec_id LIMIT 20""".stripMargin,
    "q_dedup_embed_lsh" ->
      s"""WITH ${Ann.bucketsSql}
         |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |  round(list_dot_product(ea.v, eb.v) / (ea.nrm * eb.nrm), 6) AS score
         |FROM buckets a
         |JOIN buckets b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |JOIN e ea ON ea.vec_id = a.vec_id
         |JOIN e eb ON eb.vec_id = b.vec_id
         |ORDER BY score DESC, vec_a, vec_b LIMIT 20""".stripMargin,
  )
}
