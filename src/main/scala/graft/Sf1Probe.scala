package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** sf1-equivalent steady-state sweep: replicate the sf0.1 corpus 10× —
  * every fact table, with per-replica id shifts that keep join keys
  * consistent within a replica — and time the WHOLE query registry
  * against it (median of 3 steady-state iterations after a cold pass,
  * host-stall detection as in [[Bench]]). Answers "does the flat
  * profile hold another 10×, query by query" without registering a new
  * scale factor in the driver contract. Dimension tables pass through
  * unreplicated (their cardinality is scale-invariant — that IS the
  * dim-table contract). Results land in SCALE.md + sf1_full.json.
  *
  * Usage: runMain graft.Sf1Probe [srcDir] [mult] [workDir] [only]
  * (`only` = comma-separated query names for a targeted run)
  */
object Sf1Probe {
  def main(args: Array[String]): Unit = {
    val srcDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val mult = args.lift(1).map(_.toInt).getOrElse(10)
    val work = args.lift(2).getOrElse(
      java.nio.file.Files.createTempDirectory("graft_sf1").toString)
    val only: Set[String] =
      args.lift(3).map(_.split(",").toSet).getOrElse(Set.empty)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    GraftSession.setLogLevel(spark, "WARN")

    def replicate(df: org.apache.spark.sql.DataFrame,
        shifts: (String, Long)*): org.apache.spark.sql.DataFrame = {
      val rep = df.crossJoin(
        spark.range(mult).withColumnRenamed("id", "rep"))
      shifts.foldLeft(rep) { case (d, (c, unit)) =>
        d.withColumn(c, col(c) + col("rep") * unit)
      }.drop("rep")
    }
    replicate(Tables.documents(spark, srcDir), "doc_id" -> 10000000L)
      .write.mode("overwrite").parquet(s"$work/documents.parquet")
    replicate(Tables.events(spark, srcDir),
        "user_id" -> 10000000L, "event_id" -> 1000000000L)
      .write.mode("overwrite").parquet(s"$work/events.parquet")
    // lineitem and orders shift the SAME order-key unit so every
    // replica keeps its fact-fact join intact
    replicate(Tables.lineitem(spark, srcDir), "l_orderkey" -> 100000000L)
      .write.mode("overwrite").parquet(s"$work/lineitem.parquet")
    replicate(Tables.orders(spark, srcDir), "o_orderkey" -> 100000000L)
      .write.mode("overwrite").parquet(s"$work/orders.parquet")
    replicate(Tables.embeddings(spark, srcDir), "vec_id" -> 10000000L)
      .write.mode("overwrite").parquet(s"$work/embeddings.parquet")
    Seq("region", "nation", "customer", "supplier", "part").foreach { t =>
      spark.read.parquet(s"$srcDir/$t.parquet")
        .write.mode("overwrite").parquet(s"$work/$t.parquet")
    }

    def median(ts: Seq[Double]): Double = Bench.median(ts)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.isEmpty || only.contains(n))
    val rows = scala.collection.mutable.LinkedHashMap
      .empty[String, (Double, Double, Seq[Double])]
    var stalls = 0
    names.foreach { name =>
      val q = SparkEntry.queries(name)
      def once(): Double = {
        val t0 = System.nanoTime()
        q(spark, work).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      try {
        val cold = once()
        val ts = (1 to 3).map(_ => once())
        val m = median(ts)
        stalls += ts.count(t => t > 5 * m && t - m > 1.0)
        rows(name) = (cold, m, ts)
      } catch {
        case NonFatal(e) =>
          rows(name) = (-1.0, -1.0, Nil)
          System.err.println(s"[sf1] $name failed: ${e.getMessage}")
      }
    }
    val totalMedian = rows.values.map(_._2).filter(_ >= 0).sum
    val line = s"""{"probe":"sf1","src":"$srcDir","mult":$mult,""" +
      s""""total_median":${f"$totalMedian%.2f"},"stall_iters":$stalls,""" +
      rows.map { case (k, (c, m, _)) =>
        s""""$k":{"cold":${f"$c%.2f"},"median":${f"$m%.2f"}}"""
      }.mkString("\"queries\":{", ",", "}}")
    // only a FULL-registry run may update the committed artifact — a
    // targeted `only` run writing it would silently replace the
    // 170-query sweep with a handful of rows (this happened once; the
    // full sweep was recovered from the run log). A run containing -1
    // failure sentinels may not be recorded either: the r9 mid-round
    // sweep whose Spark context died mid-run recorded "177/177" with
    // 28 silent -1s — a partial record reads as a complete one, so the
    // writer refuses it outright.
    val failed = rows.collect { case (k, (_, m, _)) if m < 0 => k }
    if (failed.nonEmpty)
      System.err.println(s"[sf1] NOT writing sf1_full.json: " +
        s"${failed.size} queries failed (${failed.take(5).mkString(",")}…)")
    if (only.isEmpty && failed.isEmpty) {
      try java.nio.file.Files.write(
        java.nio.file.Paths.get("sf1_full.json"),
        (line + "\n").getBytes("UTF-8"))
      catch { case NonFatal(_) => () }
    }
    println(line)
    spark.stop()
  }
}
