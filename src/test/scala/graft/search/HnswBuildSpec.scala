package graft
package search

import org.apache.spark.SparkThrowable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import graft.operators.Hnsw

/** [[Hnsw.buildIndex]]'s in-process arm pinned to its Spark arm: for
  * every corpus shape the two write equal `levels.parquet` (rows and
  * schema), the same entry and top level, and the same edge set in
  * every `edges<l>.parquet`. The Spark arm is forced by setting
  * `spark.sql.adaptive.advisoryPartitionSizeInBytes` to 1 byte, so no
  * layer passes the per-layer gate; a mid-sized setting sends layer 0 to
  * Spark and the upper layers in-process. */
class HnswBuildSpec extends SparkSpec {

  private val Adv = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
  private val Heuristic = "spark.graft.hnsw.heuristicEdges"

  /** A sibling scale factor of the suite's test data. */
  private def sf(scale: String): String =
    s"${new java.io.File(sfDir).getParent}/sf$scale"

  private def withConf[T](key: String, value: String)(f: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try f
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Spark jobs started while `f` runs. */
  private def jobsOf[T](f: => T): (T, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val out = f
      // listener events arrive asynchronously
      Thread.sleep(500)
      (out, jobs.get)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  private final case class Built(idx: Hnsw.HnswIndex, jobs: Int,
      levels: Seq[String], levelSchema: String,
      edges: Map[Int, Set[(Long, Long)]], edgeSchema: String)

  private def build(dir: String): Built = {
    val p = java.nio.file.Files.createTempDirectory("hnsw_build").toString
    val (idx, jobs) = jobsOf(Hnsw.buildIndex(spark, dir, p))
    val lv = spark.read.parquet(s"$p/levels.parquet")
    val layers = new java.io.File(p).list().toSeq
      .filter(_.startsWith("edges")).map(_.stripPrefix("edges")
        .stripSuffix(".parquet").toInt)
    val edges = layers.map { l =>
      l -> spark.read.parquet(s"$p/edges$l.parquet").select("u", "v")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }.toMap
    Built(idx.copy(path = ""), jobs,
      lv.orderBy("vec_id").collect().map(_.toString).toSeq,
      lv.schema.treeString,
      edges, spark.read.parquet(s"$p/edges0.parquet").schema.treeString)
  }

  private def assertSame(a: Built, b: Built): Unit = {
    assert(a.idx === b.idx, "entry / top level")
    assert(a.levels === b.levels, "levels rows")
    assert(a.levelSchema === b.levelSchema)
    assert(a.edgeSchema === b.edgeSchema)
    assert(a.edges.keySet === b.edges.keySet, "occupied layers")
    a.edges.keys.foreach { l =>
      assert(a.edges(l) === b.edges(l), s"edges$l")
    }
  }

  /** Build `dir` in-process and on the Spark arm; the in-process build
    * runs at most 5 + layers jobs (the parquet schema read, the two-stage
    * stats aggregate, one collect, one write per file). */
  private def pinned(dir: String): Built = {
    val local = build(dir)
    val dist = withConf(Adv, "1")(build(dir))
    assertSame(local, dist)
    val layers = local.edges.size
    assert(local.jobs <= 5 + layers,
      s"in-process build ran ${local.jobs} jobs for $layers layers")
    assert(dist.jobs > local.jobs)
    local
  }

  private def corpus(name: String)(
      f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): String = {
    val d = java.nio.file.Files.createTempDirectory(s"hnsw_$name").toString
    f(Tables.embeddings(spark, sfDir))
      .write.parquet(s"$d/embeddings.parquet")
    d
  }

  test("sf0.01 (500 vectors): in-process build equals the Spark build") {
    val b = pinned(sf("0.01"))
    assert(b.levels.size === 500)
    assert(b.idx.maxLevel >= 1)
  }

  test("sf0.1 (2000 vectors, four layers): equal in-process, Spark and " +
      "mixed (layer 0 on Spark, upper layers in-process)") {
    val dir = sf("0.1")
    val local = pinned(dir)
    assert(local.levels.size === 2000)
    assert(local.idx.maxLevel === 3)
    // 2000·4·64 bytes misses a 100000-byte partition; the ≤ 2000/8
    // vectors from layer 1 up fit it
    val mixed = withConf(Adv, "100000")(build(dir))
    assertSame(local, mixed)
  }

  test("a shardDirsFor residue segment") {
    pinned(Hnsw.shardDirsFor(spark, sf("0.01"), 4).head)
  }

  test("an empty corpus") {
    val b = pinned(corpus("empty")(_.filter(lit(false))))
    assert(b.idx === Hnsw.HnswIndex("", 0, -1L))
    assert(b.levels.isEmpty && b.edges === Map(0 -> Set.empty))
  }

  test("a one-row corpus") {
    val b = pinned(corpus("one")(_.orderBy("vec_id").limit(1)))
    assert(b.levels.size === 1 && b.edges === Map(0 -> Set.empty))
  }

  test("a corpus holding a zero vector stays on the Spark arm and fails " +
      "the same way under both settings") {
    val d = corpus("zero")(_.withColumn("embedding",
      when(col("vec_id") === 3L, expr("array_repeat(cast(0.0 as float), 64)"))
        .otherwise(col("embedding"))))
    // AQE may wrap concurrent stage failures in one multi-failure error
    def conditions(t: Throwable): Seq[String] =
      (t match {
        case s: SparkThrowable => Seq(s.getCondition)
        case _ => Nil
      }) ++ Option(t.getCause).toSeq.flatMap(conditions) ++
        t.getSuppressed.toSeq.flatMap(conditions)
    assert(conditions(intercept[Exception](build(d))).contains("DIVIDE_BY_ZERO"))
    assert(conditions(intercept[Exception](withConf(Adv, "1")(build(d))))
      .contains("DIVIDE_BY_ZERO"))
  }

  test("heuristicEdges off: plain top-k layers equal too, and differ " +
      "from the heuristic build") {
    val dir = sf("0.01")
    val plain = withConf(Heuristic, "false")(pinned(dir))
    val heur = build(dir)
    assert(plain.levels === heur.levels)
    assert(plain.edges(0) !== heur.edges(0))
  }
}
