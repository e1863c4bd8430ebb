package graft
package search

import org.apache.spark.SparkThrowable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.functions.VectorFunctions._
import graft.operators.{Ann, Search}

/** NN-Descent round + binary-quantization serving: the refinement must
  * strictly improve graph recall against brute force (the reason the
  * round exists), and the Hamming shortlist must be the true Hamming
  * top-50 with exact rescoring. The registry graph rows' in-process arm
  * is pinned to their Spark arm, which runs when
  * `spark.sql.adaptive.advisoryPartitionSizeInBytes` is 1 byte. */
class KnnGraphSpec extends SparkSpec {

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

  /** A fresh table directory holding `f` of the embeddings at `src`:
    * the engine's caches are keyed by directory, so every run gets its
    * own. */
  private def corpus(src: String)(f: DataFrame => DataFrame): String = {
    val d = java.nio.file.Files.createTempDirectory("knn_graph").toString
    f(Tables.embeddings(spark, src)).write.parquet(s"$d/embeddings.parquet")
    d
  }

  private final case class Out(rows: Seq[Row], schema: StructType,
      localBuilds: Long, jobs: Int)

  /** `query` fully collected over `dir`, with the in-process builds and
    * the Spark jobs it ran. */
  private def run(dir: String)(query: (SparkSession, String) => DataFrame): Out = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val b0 = Ann.localGraphBuilds.get()
    spark.sparkContext.addSparkListener(l)
    try {
      val df = query(spark, dir)
      val rows = df.collect().toSeq
      // listener events arrive asynchronously
      Thread.sleep(500)
      Out(rows, df.schema, Ann.localGraphBuilds.get() - b0, jobs.get)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  /** Both arms of `query` on fresh copies of `f` of `src`: default
    * settings first, then the Spark arm. */
  private def arms(src: String, f: DataFrame => DataFrame = identity)(
      query: (SparkSession, String) => DataFrame): (Out, Out) = {
    val local = run(corpus(src)(f))(query)
    val dist = withConf(Adv, "1")(run(corpus(src)(f))(query))
    assert(dist.localBuilds === 0, "the 1-byte setting must force the Spark arm")
    assert(local.rows === dist.rows)
    assert(local.schema === dist.schema)
    (local, dist)
  }

  private val graphRows: Seq[(String, (SparkSession, String) => DataFrame)] =
    Seq("q_knn_graph" -> (Ann.qKnnGraph _), "q_graph_search" -> (Ann.qGraphSearch _))

  /** Brute-force top-3 graph edges (vec_id, neighbor_id) — the ground
    * truth both operators approximate. */
  private def bruteTop3: DataFrame = {
    val e = Search.embNormed(spark, sfDir)
    val a = e.select(col("vec_id").as("qid"), col("embedding").as("qv"),
      col("nrm").as("qn"))
    val b = e.select(col("vec_id").as("nid"), col("embedding").as("nv"),
      col("nrm").as("nn"))
    a.join(b, col("qid") =!= col("nid"))
      .withColumn("score",
        round(cosinePrenormed(dot(col("qv"), col("nv")),
          col("qn"), col("nn")), 6))
      .withColumn("rn", row_number().over(Window.partitionBy("qid")
        .orderBy(desc("score"), col("nid"))))
      .filter(col("rn") <= 3)
      .select(col("qid").as("vec_id"), col("nid").as("neighbor_id"))
  }

  test("knn graph: one NN-Descent round strictly improves recall " +
      "over the LSH-seeded base graph") {
    val brute = bruteTop3.cache()
    val nEdges = brute.count().toDouble
    val base = Ann.qKnnJoin(spark, sfDir)
      .select("vec_id", "neighbor_id").cache()
    val refined = Ann.qKnnGraph(spark, sfDir).cache()

    // well-formed: dense ranks 1..n per vector, scores non-increasing
    val badRank = refined.groupBy("vec_id")
      .agg(count(lit(1)).as("n"), max("rank").as("mx"), min("rank").as("mn"))
      .filter(col("mx") =!= col("n") || col("mn") =!= 1)
    assert(badRank.count() === 0)

    // every reported score is the exact rounded cosine of its pair
    val e = Search.embNormed(spark, sfDir)
    val wrong = refined
      .join(e.select(col("vec_id"), col("embedding").as("qv"),
        col("nrm").as("qn")), "vec_id")
      .join(e.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("nv"), col("nrm").as("nn")), "neighbor_id")
      .filter(col("score") =!=
        round(cosinePrenormed(dot(col("qv"), col("nv")),
          col("qn"), col("nn")), 6))
    assert(wrong.count() === 0)

    val baseRecall =
      base.join(brute, Seq("vec_id", "neighbor_id")).count() / nEdges
    val refRecall = refined.select("vec_id", "neighbor_id")
      .join(brute, Seq("vec_id", "neighbor_id")).count() / nEdges
    assert(refRecall > baseRecall,
      s"refined recall $refRecall must beat base $baseRecall")
    brute.unpersist(); base.unpersist(); refined.unpersist()
  }

  test("iterated NN-Descent: score mass non-decreasing and recall " +
      "at least the single round's") {
    def micro(g: DataFrame): Long = g
      .agg(coalesce(sum((col("score") * 1000000).cast("long")), lit(0L)))
      .head.getLong(0)
    val one = Ann.qKnnGraph(spark, sfDir).cache()
    val conv = Ann.refineKnnGraph(spark, sfDir).cache()
    assert(micro(conv) >= micro(one))
    val brute = bruteTop3.cache()
    val n = brute.count().toDouble
    val rOne = one.select("vec_id", "neighbor_id")
      .join(brute, Seq("vec_id", "neighbor_id")).count() / n
    val rConv = conv.select("vec_id", "neighbor_id")
      .join(brute, Seq("vec_id", "neighbor_id")).count() / n
    assert(rConv >= rOne, s"converged recall $rConv < one-round $rOne")
    // well-formed output
    val badRank = conv.groupBy("vec_id")
      .agg(count(lit(1)).as("n"), max("rank").as("mx"), min("rank").as("mn"))
      .filter(col("mx") =!= col("n") || col("mn") =!= 1)
    assert(badRank.count() === 0)
    one.unpersist(); conv.unpersist(); brute.unpersist()
  }

  test("graph search: equals an independent in-memory beam-search " +
      "replay over the same graph") {
    val out = Ann.qGraphSearch(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(out.length === 10)
    // collect the graph + exact scores, replay the beam loop in plain
    // Scala with the same constants and tie-breaks
    val kg = Ann.qKnnGraph(spark, sfDir)
      .select("vec_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val adj = (kg ++ kg.map(_.swap)).distinct
      .groupBy(_._1).map { case (u, vs) => u -> vs.map(_._2).toSet }
    val e = Search.embNormed(spark, sfDir)
    val q = e.filter(col("vec_id") === 0)
      .select(col("embedding").as("qv"), col("nrm").as("qn"))
    val scores = e.crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(cosinePrenormed(dot(col("embedding"), col("qv")),
          col("nrm"), col("qn")), 6).as("s"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    var visited = Set(Ann.GraphSearchEntry)
    var beam = Seq(Ann.GraphSearchEntry)
    for (_ <- 1 to Ann.GraphSearchHops) {
      val nbrs = beam.flatMap(u => adj.getOrElse(u, Set.empty)).toSet
      visited = visited ++ nbrs
      beam = visited.toSeq.filter(_ != 0L)
        .sortBy(id => (-scores(id), id)).take(Ann.GraphSearchBeam)
    }
    val expect = visited.toSeq.filter(_ != 0L)
      .sortBy(id => (-scores(id), id)).take(10)
      .map(id => (id, scores(id)))
    assert(out === expect)
    // ordered by score desc, id tie-break; all reachable nodes
    assert(out.map(_._2).sliding(2).forall(w => w.length < 2 ||
      w(0) >= w(1)))
  }

  test("ann binary: shortlist is the true Hamming top-50, rescore exact") {
    val out = Ann.qAnnBinary(spark, sfDir).collect()
    assert(out.length === 10)
    // signatures really are the per-dimension sign bits
    val sigs = Ann.binarySigs(spark, sfDir)
    val recomputed = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("d", "x")))
      .groupBy("vec_id")
      .agg(
        sum(when(col("x") >= 0 && col("d") < 32,
          expr("CAST(pow(2, d) AS BIGINT)")).otherwise(0L)).as("rlo"),
        sum(when(col("x") >= 0 && col("d") >= 32,
          expr("CAST(pow(2, d - 32) AS BIGINT)")).otherwise(0L)).as("rhi"))
    assert(sigs.join(recomputed, "vec_id")
      .filter(col("sig_lo") =!= col("rlo") || col("sig_hi") =!= col("rhi"))
      .count() === 0)
    // the true Hamming top-50 (independent ranking) contains every
    // returned candidate, with the reported hamming value
    val qs = sigs.filter(col("vec_id") === 0)
      .select(col("sig_lo").as("qlo"), col("sig_hi").as("qhi"))
    val ham = sigs.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(qs))
      .withColumn("h",
        expr("bit_count(sig_lo ^ qlo) + bit_count(sig_hi ^ qhi)")
          .cast("long"))
      .withColumn("rn",
        row_number().over(Window.orderBy(col("h"), col("vec_id"))))
      .filter(col("rn") <= 50)
      .select(col("vec_id"), col("h")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.forall(r => ham.get(r.getLong(0)).contains(r.getLong(1))))
    // final list ordered by exact score desc, vec_id tie-break
    val scores = out.map(r => (r.getDouble(2), r.getLong(0)))
    assert(scores.sliding(2).forall(w => w.length < 2 ||
      (w(0)._1 > w(1)._1 || (w(0)._1 == w(1)._1 && w(0)._2 < w(1)._2))))
  }

  test("registry graph rows: the in-process arm equals the Spark arm " +
      "at 500 and 2000 vectors, in one collect") {
    val sf01 = s"${new java.io.File(sfDir).getParent}/sf0.1"
    for (src <- Seq(sfDir, sf01); (name, q) <- graphRows) {
      val (local, dist) = arms(src)(q)
      assert(local.localBuilds === 1, s"$name at $src ran on the Spark arm")
      assert(local.rows.nonEmpty)
      // schema read, the two-stage count/width aggregate, one collect,
      // and for q_knn_graph the session cache's fill
      info(s"$name at $src: ${local.jobs} jobs in-process, ${dist.jobs} on Spark")
      assert(local.jobs <= 5, s"$name at $src: ${local.jobs} jobs")
      assert(dist.jobs > local.jobs)
    }
  }

  test("registry graph rows: a corpus without the entry, without the " +
      "query, or of one row — both arms agree") {
    val cases: Seq[DataFrame => DataFrame] = Seq(
      _.filter(col("vec_id") =!= Ann.GraphSearchEntry),
      _.filter(col("vec_id") =!= 0L),
      _.orderBy("vec_id").limit(1))
    for (f <- cases; (name, q) <- graphRows) {
      val (local, _) = arms(sfDir, f)(q)
      // the graph itself stays in-process; the beam needs both ids
      assert(local.localBuilds === 1, name)
    }
    // the beam over a graph without its entry finds nothing
    assert(arms(sfDir, cases(0))(Ann.qGraphSearch)._1.rows.isEmpty)
  }

  test("registry graph rows: a planted zero vector sends both settings " +
      "to the Spark arm, which fails with DIVIDE_BY_ZERO") {
    // AQE may wrap concurrent stage failures in one multi-failure error
    def conditions(t: Throwable): Seq[String] =
      (t match {
        case s: SparkThrowable => Seq(s.getCondition)
        case _ => Nil
      }) ++ Option(t.getCause).toSeq.flatMap(conditions) ++
        t.getSuppressed.toSeq.flatMap(conditions)
    val zero: DataFrame => DataFrame = _.withColumn("embedding",
      when(col("vec_id") === 3L, expr("array_repeat(cast(0.0 as float), 64)"))
        .otherwise(col("embedding")))
    for ((name, q) <- graphRows; adv <- Seq(None, Some("1"))) {
      val b0 = Ann.localGraphBuilds.get()
      val d = corpus(sfDir)(zero)
      val err = intercept[Exception](adv.fold(q(spark, d).collect())(
        a => withConf(Adv, a)(q(spark, d).collect())))
      assert(conditions(err).contains("DIVIDE_BY_ZERO"), s"$name $adv: $err")
      assert(Ann.localGraphBuilds.get() === b0, s"$name $adv")
    }
  }
}
