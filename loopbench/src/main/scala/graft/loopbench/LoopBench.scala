package graft.loopbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.sql.Timestamp

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.api.IndexPipeline
import graft.store.ChunkStore

/** The product-loop benchmark's engine side. `run.py` generates the
  * inputs, starts this main, checks what it wrote and prints the
  * result line. One client thread drives the engine's public APIs;
  * nothing else runs while an operation is timed.
  *
  * {{{
  * LoopBench --workload loop|curate --seconds S
  *   --trace 0|1 --data DIR --work DIR --out FILE
  * }}}
  *
  * The result file holds every timed operation's wall, the outputs the
  * checker needs, and with `--trace 1` the per-layer figures; spans go
  * to `<work>/spans.json`. */
object LoopBench {

  final case class Args(workload: String, seconds: Double, trace: Boolean,
      data: String, work: String, out: String)

  /** Fixed creation time: stored rows do not depend on the clock. */
  val CreatedAt = new Timestamp(1700000000000L)
  val K = 10
  /** Every DeleteEvery-th loop round deletes, the others append; the
    * timed phase runs whole cycles of DeleteEvery rounds, so every run
    * times the same mix. */
  val DeleteEvery = 3
  /** Untimed rounds after the first ANN search and before timing. */
  val WarmupRounds = 1
  val CurateRows = Seq("q_pipeline_full", "q_graph_search", "q_search_eval",
    "q_topic_clusters")

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }
      .toMap
    Args(m("workload"), m("seconds").toDouble, m.getOrElse("trace", "0") == "1",
      m("data"), m("work"), m("out"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val cores = Runtime.getRuntime.availableProcessors
    val spark = graft.GraftSession.builder(s"local[$cores]", cores.toString)
      .config("spark.local.dir", s"${a.work}/spark-local")
      .getOrCreate()
    graft.GraftSession.setLogLevel(spark, "ERROR")
    try {
      val ctx = new Ctx(spark, a)
      val workload: Workload = a.workload match {
        case "loop" => new Loop(ctx)
        case "curate" => new Curate(ctx)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      workload.setup()
      val timedStart = System.currentTimeMillis()
      val before = ctx.census.map { c => Census.settle(spark.sparkContext); c.snap() }
      val gc0 = Census.gcSeconds()
      val t0 = System.nanoTime()
      workload.timed()
      val timedS = (System.nanoTime() - t0) / 1e9
      val gcS = Census.gcSeconds() - gc0
      ctx.census.foreach { c =>
        Census.settle(spark.sparkContext)
        val d = c.snap() - before.get
        ctx.layer("spark.jobs", d.jobs.toDouble)
        ctx.layer("spark.tasks", d.tasks.toDouble)
        ctx.layer("spark.task_run_s", d.runS)
        ctx.layer("spark.task_cpu_s", d.cpuS)
        ctx.layer("spark.shuffle_bytes", d.shuffleBytes.toDouble)
        ctx.layer("spark.spill_bytes", d.spillBytes.toDouble)
        ctx.layer("jvm.gc_s", gcS)
      }
      if (a.trace) new Layers(ctx, workload).probe()
      val result = mutable.LinkedHashMap[String, Any](
        "workload" -> a.workload,
        "timed_start_ms" -> timedStart,
        "timed_s" -> timedS,
        "attempted" -> ctx.attempted,
        "failed" -> ctx.failed,
        "ops" -> ctx.walls.map { case (k, v) => k -> v.toSeq },
        "kinds" -> workload.kinds,
        "info" -> ctx.info,
        "check" -> workload.checkData,
        "layers" -> ctx.layers,
        "span_times" -> ctx.tracer.summary)
      write(a.out, result)
      if (a.trace) write(s"${a.work}/spans.json", ctx.tracer.spans)
    } finally spark.stop()
  }

  private val json = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def write(path: String, v: Any): Unit = json.writeValue(new File(path), v)

  def rmTree(path: String): Unit = {
    val f = new File(path)
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(c => rmTree(c.getPath)))
    f.delete()
  }

  /** Bytes and file count of the parquet files under a directory. */
  def parquetFiles(path: String): (Long, Int) = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    val fs = walk(new File(path))
    (fs.map(_.length).sum, fs.size)
  }
}

/** State shared by a workload and the layer probes. */
final class Ctx(val spark: SparkSession, val a: LoopBench.Args) {
  val tracer = new Tracer(a.trace)
  val census: Option[Census] =
    if (a.trace) Some(Census.install(spark.sparkContext)) else None
  val plan: Plan = Plan.load(s"${a.data}/plan")
  val tree = s"${a.data}/tree"
  val walls = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val info = mutable.LinkedHashMap.empty[String, Any]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  var attempted = 0L
  var failed = 0L
  private var opSeq = 0L

  def layer(name: String, v: Double): Unit = layers(name) = v

  def record(kind: String, ms: Double): Unit =
    walls.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += ms

  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  /** Spark work of `body`, when tracing (the listener is off otherwise). */
  def jobsOf[A](body: => A): (A, Option[Census.Snap]) = census match {
    case None => (body, None)
    case Some(c) =>
      Census.settle(spark.sparkContext)
      val s0 = c.snap()
      val r = body
      Census.settle(spark.sparkContext)
      (r, Some(c.snap() - s0))
  }

  /** One counted operation of the timed phase. A failure is counted and
    * the run goes on; its wall is not recorded. */
  def op[A](name: String)(body: => A): Option[A] = {
    attempted += 1
    opSeq += 1
    try Some(tracer.operation(opSeq)(tracer.span(name)(body)))
    catch {
      case NonFatal(e) =>
        failed += 1
        System.err.println(s"[loopbench] $name failed: $e")
        None
    }
  }

  /** `(id, score)` of a search result, in result order. */
  def hits(rows: Array[Row]): Seq[(String, Double)] =
    rows.map(r => (r.getAs[String]("id"), r.getAs[Double]("score"))).toSeq

  def deadline(): Long = System.nanoTime() + (a.seconds * 1e9).toLong
}

/** The seeded plan `gen.py` wrote, one item per line. */
final case class Plan(queries: IndexedSeq[String], appends: IndexedSeq[String],
    deletePicks: IndexedSeq[Double], files: IndexedSeq[String])

object Plan {
  def load(dir: String): Plan = {
    def lines(name: String) = {
      import scala.jdk.CollectionConverters._
      Files.readAllLines(Paths.get(s"$dir/$name.txt")).asScala.toIndexedSeq
    }
    Plan(lines("queries"), lines("appends"), lines("delete_picks").map(_.toDouble),
      lines("files"))
  }
}

/** A workload: untimed set-up (including its warm-up), then the timed
  * closed loop, which runs whole rounds until `--seconds` have passed.
  * The API calls are split into the call that returns the DataFrame
  * (prelude) and the collect (exec). */
abstract class Workload(val ctx: Ctx) {
  import ctx.{spark, tracer}

  def setup(): Unit
  def timed(): Unit
  def checkData: Map[String, Any]
  /** The operation kinds whose median walls make `op_geomean_ms`. */
  def kinds: Seq[String]
  /** The store the layer probes read (built on demand if the workload
    * has none). */
  def store: String

  def call(kind: String, store: String, q: String): DataFrame = kind match {
    case "search" => IndexPipeline.search(spark, store, q, k = LoopBench.K)
    case "search_exact" =>
      IndexPipeline.search(spark, store, q, k = LoopBench.K, rerank = false)
    case "hybrid" => IndexPipeline.hybridSearch(spark, store, q, k = LoopBench.K)
    case "ann" => IndexPipeline.searchAnn(spark, store, q, k = LoopBench.K)
  }

  /** Run one search; record prelude / exec walls (and, when tracing,
    * its jobs and tasks) under `label`. */
  def query(kind: String, store: String, q: String, label: String = ""): Array[Row] = {
    val as = if (label.isEmpty) kind else label
    val ((rows, pre, exe), snap) = ctx.jobsOf {
      val t0 = System.nanoTime()
      val df = tracer.span(s"api.$kind.prelude")(call(kind, store, q))
      val pre = ctx.ms(t0)
      val t1 = System.nanoTime()
      val rows = tracer.span(s"api.$kind.exec")(df.collect())
      (rows, pre, ctx.ms(t1))
    }
    ctx.record(s"$as.prelude", pre)
    ctx.record(s"$as.exec", exe)
    snap.foreach { s =>
      ctx.record(s"$as.jobs", s.jobs.toDouble)
      ctx.record(s"$as.tasks", s.tasks.toDouble)
    }
    rows
  }

  def indexTree(store: String): IndexPipeline.IndexResult =
    tracer.span("api.indexFiles")(IndexPipeline.indexFiles(spark, ctx.tree, "*",
      store, LoopBench.CreatedAt))
}

/** The product loop over one store. Set-up indexes the file tree and
  * makes the first ANN search, which builds the HNSW artifact. Each
  * timed round then serves one query three ways (search with rerank,
  * hybrid, ANN), writes (an `indexText` append, or every
  * [[LoopBench.DeleteEvery]]-th round a delete) and reads the write
  * back through ANN twice: the fresh read, which pays for the mutation
  * census, and the repeat read. */
final class Loop(ctx: Ctx) extends Workload(ctx) {
  import ctx.{a, spark, tracer}
  val store = s"${a.work}/loop/store"
  /** A copy of the store as indexed, before any write: the checker
    * reads the ingest result from it. */
  val indexed = s"${a.work}/loop/indexed"
  private val chunks = s"$store/chunks"
  private var originals = IndexedSeq.empty[(String, String)]
  private var round = 0
  private var initial = 0L
  private val rounds = mutable.ArrayBuffer.empty[Map[String, Any]]
  private var firstAnn: Map[String, Any] = Map.empty

  private def count(): Long = spark.read.parquet(chunks).count()

  /** Delete one chunk by rewriting the store with its `sourceType`
    * partitioning kept, staged beside it and swapped in. */
  private def deleteChunk(id: String): Unit = {
    val staged = s"$store/chunks.__staged_$round"
    ChunkStore.read(spark, chunks).filter(col("id") =!= lit(id))
      .write.partitionBy("sourceType").parquet(staged)
    ChunkStore.commitSwap(spark, staged, chunks)
  }

  /** One timed (or warm-up) operation: its wall is recorded under
    * `kind` when timed. */
  private def step[A](kind: String, timed: Boolean)(body: => A): Option[(A, Double)] = {
    val run = () => { val t0 = System.nanoTime(); val r = body; (r, ctx.ms(t0)) }
    val res = if (timed) ctx.op(kind)(run()) else Some(run())
    if (timed) res.foreach(r => ctx.record(kind, r._2))
    res
  }

  private def oneRound(timed: Boolean): Unit = {
    val q = ctx.plan.queries(round % ctx.plan.queries.size)
    val reads = Seq("search", "hybrid", "ann").map { kind =>
      kind -> step(kind, timed)(query(kind, store, q))
    }
    val isDelete = round % LoopBench.DeleteEvery == LoopBench.DeleteEvery - 1
    val (kind, target, text) =
      if (isDelete) {
        val pick = (ctx.plan.deletePicks(round) * originals.size).toInt
        val (id, content) = originals(pick)
        originals = originals.patch(pick, Nil, 1)
        ("delete", id, content)
      } else ("append", s"append-$round", ctx.plan.appends(round))
    val d0 = IndexPipeline.mutationDerivations.get
    val write = step("write", timed)(tracer.span(s"write.$kind") {
      if (isDelete) deleteChunk(target)
      else IndexPipeline.indexText(spark, text, target, store, LoopBench.CreatedAt)
    })
    val fresh = step("fresh_read", timed)(query("ann", store, text, "fresh"))
    ctx.record("derivations", (IndexPipeline.mutationDerivations.get - d0).toDouble)
    val repeat = step("repeat_read", timed)(query("ann", store, text, "repeat"))
    val walls = (reads.map(_._2) ++ Seq(write, fresh, repeat)).map(_.map(_._2))
    if (timed && walls.forall(_.isDefined)) ctx.record("round", walls.flatten.sum)
    // a failed read has no answer to check: null
    def hitsOf(r: Option[(Array[Row], Double)]) = r.map(x => ctx.hits(x._1)).orNull
    rounds += Map("round" -> round, "timed" -> timed, "query" -> q,
      "search" -> hitsOf(reads(0)._2), "hybrid" -> hitsOf(reads(1)._2),
      "ann" -> hitsOf(reads(2)._2), "kind" -> kind, "target" -> target,
      "text" -> text, "written" -> write.isDefined, "fresh" -> hitsOf(fresh),
      "repeat" -> hitsOf(repeat), "count" -> count())
    round += 1
  }

  def setup(): Unit = {
    val t0 = System.nanoTime()
    indexTree(store)
    ctx.info("index_s") = ctx.ms(t0) / 1e3
    copyTree(new File(store), new File(indexed))
    originals = spark.read.parquet(chunks).select("id", "content").collect()
      .map(r => (r.getString(0), r.getString(1))).sortBy(_._1).toIndexedSeq
    initial = count()
    val q = ctx.plan.queries.last
    val t1 = System.nanoTime()
    val rows = tracer.span("api.ann.first")(call("ann", store, q).collect())
    ctx.info("ann_build_s") = ctx.ms(t1) / 1e3
    firstAnn = Map("query" -> q, "hits" -> ctx.hits(rows))
    (0 until LoopBench.WarmupRounds).foreach(_ => oneRound(false))
    ctx.walls.clear()
    ctx.info("warmup_rounds") = round
  }

  private def copyTree(src: File, dst: File): Unit =
    if (src.isDirectory) {
      dst.mkdirs()
      Option(src.listFiles).toSeq.flatten.foreach(c => copyTree(c, new File(dst, c.getName)))
    } else Files.copy(src.toPath, dst.toPath)

  def timed(): Unit = {
    val end = ctx.deadline()
    do (0 until LoopBench.DeleteEvery).foreach(_ => oneRound(true))
    while (System.nanoTime() < end)
  }

  def kinds: Seq[String] =
    Seq("search", "hybrid", "ann", "write", "fresh_read", "repeat_read")

  /** The checker's inputs. `exact` holds rerank-off searches over the
    * final store, compared there with an exact top-k of its own. */
  def checkData: Map[String, Any] = {
    val exact = ctx.plan.queries.take(6).map { q =>
      Map("query" -> q, "hits" -> ctx.hits(call("search_exact", store, q).collect()))
    }
    Map("store" -> store, "indexed" -> indexed, "initial" -> initial,
      "first_ann" -> firstAnn, "rounds" -> rounds.toSeq, "exact" -> exact)
  }
}

/** Curation and analytics: cold passes over the four heaviest registry
  * rows, each on a fresh copy of the tables (the engine's artifact
  * caches are keyed by directory). The first pass is the first work of
  * the process. Each row's output is fully materialized by writing it
  * as parquet, which the checker compares with the DuckDB oracle. */
final class Curate(ctx: Ctx) extends Workload(ctx) {
  import ctx.{a, spark, tracer}
  private var pass = 0
  private var probeStore = ""

  /** The traced run's API and HNSW probes need a store. */
  def store: String = {
    if (probeStore.isEmpty) {
      probeStore = s"${a.work}/curate/store"
      indexTree(probeStore)
    }
    probeStore
  }

  /** A copy of the generated tables at `dir`. */
  def freshTablesAt(dir: String): String = {
    Files.createDirectories(Paths.get(dir))
    Seq("documents", "embeddings").foreach { t =>
      Files.copy(Paths.get(s"${a.data}/tables/$t.parquet"),
        Paths.get(s"$dir/$t.parquet"), StandardCopyOption.REPLACE_EXISTING)
    }
    dir
  }

  private def freshTables(): String = {
    if (pass > 0) LoopBench.rmTree(s"${a.work}/curate/pass${pass - 1}")
    pass += 1
    freshTablesAt(s"${a.work}/curate/pass${pass - 1}")
  }

  /** One row: (prelude ms, exec ms). */
  def runRow(name: String, dir: String, sink: DataFrame => Unit): (Double, Double) = {
    val ((pre, exe), snap) = ctx.jobsOf {
      val t0 = System.nanoTime()
      val df = tracer.span(s"registry.$name.prelude")(graft.SparkEntry.queries(name)(spark, dir))
      val pre = ctx.ms(t0)
      val t1 = System.nanoTime()
      tracer.span(s"registry.$name.exec")(sink(df))
      (pre, ctx.ms(t1))
    }
    ctx.record(s"$name.prelude", pre)
    ctx.record(s"$name.exec", exe)
    snap.foreach { s =>
      ctx.record(s"$name.jobs", s.jobs.toDouble)
      ctx.record(s"$name.task_s", s.runS)
    }
    (pre, exe)
  }

  private def out(p: Int) = s"${a.work}/curate/out/p$p"

  def setup(): Unit = ctx.info("warmup_passes") = 0

  def timed(): Unit = {
    val end = ctx.deadline()
    do {
      val dir = freshTables()
      val walls = LoopBench.CurateRows.map { n =>
        ctx.op(n)(runRow(n, dir, _.write.mode("overwrite").parquet(s"${out(pass)}/$n")))
          .map { case (p, e) =>
            ctx.record(n, p + e)
            p + e
          }
      }
      if (walls.forall(_.isDefined)) ctx.record("round", walls.flatten.sum)
    } while (System.nanoTime() < end)
  }

  def kinds: Seq[String] = LoopBench.CurateRows

  def checkData: Map[String, Any] = Map(
    "tables" -> s"${a.data}/tables",
    "out" -> (1 to pass).map(out),
    "oracles" -> LoopBench.CurateRows.map(n => n -> graft.SparkEntry.oracleSql(n)).toMap)
}
