package graft
import scala.util.Try
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main — one JSON line per run (driver contract).
  *
  * A cold pass runs every query once at the target scale factor
  * before timing: it pays JIT/codegen/classloading once, the way a
  * long-lived cluster session would, so the timed numbers measure the
  * operators rather than JVM startup. Queries are timed in sorted name
  * order for run-to-run comparability.
  *
  * Host-stall hardening: a shared host can freeze the JVM for seconds
  * mid-iteration (the BENCH_r06 artifact: alphabetically-contiguous
  * blocks of inflated timings from stall windows sweeping the run
  * order). Each query therefore runs [[Iters]] times; the reported
  * per-query number and the headline total are MEDIANS — one stalled
  * iteration out of three cannot move them — and the line also
  * carries the min-total plus `stall_iters`, the count of iterations
  * that diverged >5× (and >1 s) from their query's median, so a
  * contaminated run is self-identifying instead of silently inflated.
  *
  * Wall-clock hardening (round 13 — BENCH_r12 timed out at rc=124
  * with nothing parseable): the cold pass runs CONCURRENTLY (a
  * bounded pool of [[ColdPar]] queries). It exists to pay one-time
  * artifact builds (index trains, layouts, session caches) up front;
  * each build is a chain of small Spark jobs whose wall is scheduler
  * latency, not CPU, so running a few queries' builds concurrently
  * overlaps that latency exactly the way a FAIR-scheduled cluster
  * would — and every artifact cache is a ConcurrentHashMap keyed per
  * path, so concurrent first-builds of a SHARED artifact serialize on
  * the cache entry and nothing builds twice or diverges. The TIMED
  * pass is unchanged: sequential, per-query, median of N consecutive
  * iterations — the protocol r11/r12 numbers were measured under.
  * The per-query `cold` numbers in bench_full.json are each row's
  * wall inside the concurrent pass (cold_par records the pool width).
  *
  * Crash-tail hardening (same artifact): the compact JSON line is
  * RE-EMITTED after every timed query with the results so far, so a
  * driver-side timeout mid-run leaves a parseable (partial,
  * honestly-smaller) line in the stdout tail instead of rc=124 /
  * parsed=null. The driver machine-parses the LAST line in its tail
  * window; the final, complete line is printed after spark.stop().
  */
object Bench {
  /** Even-length inputs average the two middle values; shared with
    * [[ScaleProbe]]'s `sf1` sweep so the two reports agree on what
    * "median" means. */
  private[graft] def median(ts: Seq[Double]): Double = {
    require(ts.nonEmpty, "median of empty sequence")
    val s = ts.sorted
    if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** A throwing query records this sentinel, NOT its elapsed wall —
    * timing a failure path would bench a broken query as a fast row
    * (r13 verdict item 3). Negative so it can never be mistaken for a
    * duration, and loud in the line: a failed query drags its median
    * (and the total) below any honest value instead of hiding. The
    * oracle gate is what catches the breakage itself; this keeps the
    * BENCH from laundering it. */
  private[graft] val FailureSentinel = -1.0

  /** Time `body`, returning its wall in seconds with its result;
    * [[FailureSentinel]] with the failure if it throws a NonFatal
    * (fatal errors propagate). The one timer of the bench and of every
    * [[ScaleProbe]] entry, factored out so the sentinel contract is
    * unit-testable without a SparkSession (BenchSpec pins it with a
    * forced failure). */
  private[graft] def timedOrSentinel[A](body: => A): (Double, Try[A]) = {
    val t0 = System.nanoTime()
    val r = Try(body)
    (if (r.isSuccess) (System.nanoTime() - t0) / 1e9 else FailureSentinel, r)
  }

  /** Timed iterations per registry row; the row's number is their
    * median. */
  private[graft] val Iters = 3

  /** Width of the concurrent cold pass. 8, not wider: the cold pass's
    * PEAK memory scales with the slot count, and storage-evicting the
    * persisted lineages the timed pass reuses trades a smaller cold
    * wall for inflated medians (measured: 12 slots moved
    * q_pipeline_full 6.3 → 13.4 s median). Wider than any
    * artifact-sharing family, so a family's threads parked on one
    * shared build cannot fill the pool. */
  private val ColdPar = 8

  /** One `action` over registry row `name` at `dir`, timed by
    * [[timedOrSentinel]]; its jobs are labelled `bench:phase:name` so
    * the UI / event log maps stages back to registry rows (guide §1.5;
    * the description is thread-local, so concurrent passes label
    * correctly per pool thread). The one per-row timer of [[Bench]]
    * (`.count()`) and of [[ScaleProbe]]'s `sf1` sweep (the `noop`
    * sink). */
  private[graft] def timeRow(spark: SparkSession, dir: String,
      name: String, phase: String)(action: DataFrame => Unit): Double = {
    spark.sparkContext.setJobDescription(s"bench:$phase:$name")
    try timedOrSentinel(action(SparkEntry.queries(name)(spark, dir)))._1
    finally spark.sparkContext.setJobDescription(null)
  }

  /** [[Iters]] consecutive timed [[timeRow]]s of `name`. */
  private[graft] def timeIters(spark: SparkSession, dir: String,
      name: String)(action: DataFrame => Unit): Seq[Double] =
    (1 to Iters).map(_ => timeRow(spark, dir, name, "timed")(action))

  /** Truncation order for the parseable line's per-query map: FAILED
    * rows (sentinel) first — a failed query must never be truncated
    * out of the driver-visible map (sorting by raw slowness put the
    * negative sentinel LAST, i.e. a broken query silently vanished
    * from the slowest-40 exactly when the line needed to show it) —
    * then slowest-first, ties broken by name. */
  private[graft] def lineOrder(results: Seq[(String, Double)])
      : Seq[(String, Double)] =
    results.sortBy { case (k, v) =>
      (if (v < 0) Double.NegativeInfinity else -v, k)
    }

  /** The truncated per-query map's rows, in [[lineOrder]]: at most 10
    * failed rows (the line's `failed` list names every one), then the
    * slowest timed rows, 40 in all — a mass failure cannot push every
    * timing out of the line. */
  private[graft] def lineRows(results: Seq[(String, Double)])
      : Seq[(String, Double)] = {
    val (failed, timed) = lineOrder(results).partition(_._2 < 0)
    val shown = failed.take(10)
    shown ++ timed.take(40 - shown.size)
  }

  /** Per-row host-stall count. A row with ANY sentinel iteration is a
    * FAILED row, not a stalled one: with the sentinel as the median,
    * the `t > 5*m` test reads every SUCCESSFUL iteration of a flaky
    * query as a stall (4.2 > 5 × −1.0), mislabelling breakage as host
    * noise — failed rows are reported via the line's `failed` list
    * instead and count zero stalls. */
  private[graft] def stallCount(ts: Seq[Double]): Int =
    if (ts.exists(_ < 0)) 0
    else {
      val m = median(ts)
      ts.count(t => t > 5 * m && t - m > 1.0)
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // FAIR job scheduling for the CONCURRENT artifact passes: under
    // the default FIFO a long build stage from one pool thread queues
    // every other thread's small stages behind it, inflating each
    // query's wall by its neighbors'. Scheduling-only — no plan or
    // answer changes; the timed pass is sequential either way.
    val spark = GraftSession.builder(s"local[$cpus]", cpus)
      .config("spark.scheduler.mode", "FAIR")
      .getOrCreate()
    GraftSession.setLogLevel(spark, "WARN")

    val names = SparkEntry.queries.keys.toSeq.sorted
    // Artifact-pass submission order + pool width are convoy defenses:
    // artifact-SHARING families (the four q_hnsw_incr* rows behind one
    // work-dir build; the sharded/filtered pair behind one layout)
    // park all-but-one of their threads on the shared cache entry — a
    // small pool filled by ALPHABETICALLY-ADJACENT family members
    // degrades to ~1 effective runner for that build's duration (the
    // r13 first-cut convoy). Blocked threads cost nothing, so the pool
    // is wider than a family ([[ColdPar]]), and submission order is a
    // deterministic name-hash spread so family members don't claim
    // contiguous slots. The TIMED pass stays alphabetical and
    // sequential — unchanged protocol, run-to-run comparability.
    val spread = names.sortBy(scala.util.hashing.MurmurHash3.stringHash)

    // No separate small-sf warmup pass (dropped round 13): its JIT/
    // codegen/classloading role is subsumed by the recorded cold pass
    // at the TARGET sf below — which always runs before anything is
    // timed — while its sf0.001 artifacts and persisted lineages
    // squatted in storage memory for the whole run (evicting the
    // sf0.1 lineages the timed pass reuses) and cost ~275 s of wall
    // at the 194-query registry.

    // steady-state latency: one recorded COLD pass over the WHOLE
    // registry at the target sf first (pays every session-cache /
    // artifact build up front — deterministic lineage cost, not host
    // noise; and the memory pressure the timed passes run under is
    // then the same for the first query as the last, instead of
    // ramping as artifacts accumulate mid-timing — r9 verdict item 3),
    // THEN the median over N warm iterations per query (the engine's
    // session cache is part of the design — a long-lived cluster
    // context serves many queries, not one). With the cold pass
    // outside the timed set, stall_iters counts ONLY genuine mid-run
    // divergence (r7 verdict item 5).
    val count: DataFrame => Unit = _.count()
    val t0Cold = System.nanoTime()
    // the untimed artifact pass runs on a bounded pool, input order
    // preserved
    val colds = graft.model.Pools.mapConcurrent(spread, ColdPar) { name =>
      name -> timeRow(spark, sfDir, name, "cold")(count)
    }.toMap
    val tColdWall = (System.nanoTime() - t0Cold) / 1e9
    // phase marker (pre-timed, so it can never pollute the parseable
    // tail): lets a wall regression be attributed without rerunning
    println(f"[bench] cold_wall=$tColdWall%.0fs")
    System.out.flush()
    // settle before timing: re-materialize the session cache (the
    // cold pass's concurrent execution pressure evicts persisted
    // intermediates — measured as q_pipeline_full's warm median
    // jumping 6.3 → 12-30 s when its upstream caches lost blocks),
    // then drop the pass's GC debt (observed as monotonically-
    // decreasing iters on mid-pass queries)
    Cache.rewarm(spark)
    System.gc()
    Thread.sleep(2000)

    // The driver machine-parses ONE JSON line from the tail of stdout
    // (last ~2000 chars), so the line must be short: 2-decimal seconds
    // with trailing zeros stripped, numeric sf. Full precision goes to
    // bench_full.json for humans.
    def fmt(v: Double): String =
      BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP)
        .underlying.stripTrailingZeros.toPlainString
    val sfNum = "sf([0-9.]+)".r.findFirstMatchIn(sfDir)
      .map(_.group(1)).getOrElse("0")
    def lineOf(results: Seq[(String, Double)], minTotal: Double,
        stallIters: Int): String = {
      // failed queries surface as a TOP-LEVEL list (empty → omitted,
      // the steady-state line is unchanged): the sentinel alone is not
      // enough once the per-query map truncates, and the headline
      // total's sentinel drag is visible but not attributable
      val failed = results.collect { case (k, v) if v < 0 => k }
      val failedField =
        if (failed.isEmpty) ""
        else failed.sorted.map("\"" + _ + "\"")
          .mkString("\"failed\":[", ",", "],")
      def mk(queries: String) = {
        val total = results.map(_._2).sum
        s"""{"metric":"total","value":${fmt(total)},"unit":"sec","min_total":${
          fmt(minTotal)},"stall_iters":$stallIters,$failedField"queries":$queries,"sf":$sfNum}"""
      }
      val qs = results.map { case (k, v) => s"\"" + k + "\":" + fmt(v) }
        .mkString("{", ",", "}")
      val all = mk(qs)
      // Headroom guard: the registry grows every round; if the
      // per-query map ever pushes the line past the driver's ~2000-char
      // tail window, keep only the most informative queries rather than
      // risk an unparseable line. Membership is DETERMINISTIC
      // ([[lineRows]]: up to 10 failed rows first, then the slowest
      // up to 40 in all, ties broken by name, so equal-timed rows can't
      // swap in and out run-to-run), and the headline total/min_total/
      // stall_iters always cover ALL queries — only the per-query map
      // truncates. The full map lands in bench_full.json.
      if (all.length <= 1800) all
      else mk(lineRows(results)
        .map { case (k, v) => s"\"" + k + "\":" + fmt(v) }
        .mkString("{", ",", "}"))
    }

    val raw = scala.collection.mutable.ArrayBuffer
      .empty[(String, Double, Seq[Double])]
    names.foreach { name =>
      raw += ((name, colds(name), timeIters(spark, sfDir, name)(count)))
      // refresh the parseable tail after EVERY query: a timeout leaves
      // the last refresh — a correct line over the prefix timed so far
      val sofar = raw.toSeq
      val res = sofar.map { case (k, _, ts) => k -> median(ts) }
      val minT = sofar.map(_._3.min).sum
      val stalls = sofar.map { case (_, _, ts) => stallCount(ts) }.sum
      println(lineOf(res, minT, stalls))
      System.out.flush()
    }
    val results = raw.toSeq.map { case (name, _, ts) => name -> median(ts) }
    val minTotal = raw.map(_._3.min).sum
    val stallIters = raw.map { case (_, _, ts) => stallCount(ts) }.sum
    val line = lineOf(results, minTotal, stallIters)
    val full = raw.map { case (k, cold, ts) =>
      s"\"" + k + "\":{\"median\":" + median(ts) + ",\"min\":" + ts.min +
        ",\"cold\":" + cold + ",\"iters\":" + ts.mkString("[", ",", "]") + "}"
    }.mkString("{", ",", "}")
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("bench_full.json"),
      s"""{"metric":"total","value":${results.map(_._2).sum},"unit":"sec","min_total":$minTotal,"stall_iters":$stallIters,"cold_par":$ColdPar,"cold_wall":${f"$tColdWall%.1f"},"queries":$full,"sf":"$sfDir"}""".getBytes("UTF-8"))
    catch { case NonFatal(_) => () }
    spark.stop()
    println(line)
  }
}
