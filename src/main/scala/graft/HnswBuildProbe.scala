package graft

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import graft.operators.{Ann, Hnsw}

/** Arm probe for the in-process gate ([[Hnsw.fitsInProcess]]): for
  * each size, runs `segs` synthetic clustered corpora of `n` vectors at
  * width `dim` concurrently (the sharded serves' segment builds run on
  * a pool the same way, [[Hnsw.stageBlobs]]), once per arm, and prints
  * one line per (arm, size): the wall, the Spark jobs and the driver's
  * peak heap above its post-GC baseline (sampled every 10 ms;
  * uncollected garbage included). The `build` target builds the HNSW
  * index ([[Hnsw.buildIndex]]); the `graph` target collects the
  * registry graph search ([[Ann.qGraphSearch]], the kNN graph and its
  * beam) on an emptied session cache. The Spark arm is forced with
  * `spark.sql.adaptive.advisoryPartitionSizeInBytes` = 1 byte; the
  * `local` arm runs at the session's setting, so a size past the gate
  * runs on the Spark arm under both names (the job count tells which
  * arm ran).
  *
  * Usage: runMain graft.HnswBuildProbe <workDir> <n[,n…]> [dim=64]
  * [segs=1] [arms=local,spark] [target=build|graph]
  */
object HnswBuildProbe {
  def main(args: Array[String]): Unit = {
    val work = args(0)
    val sizes = args(1).split(",").map(_.toLong).toSeq
    val dim = args.lift(2).map(_.toInt).getOrElse(64)
    val segs = args.lift(3).map(_.toInt).getOrElse(1)
    val arms = args.lift(4).map(_.split(",").toSeq)
      .getOrElse(Seq("local", "spark"))
    val target = args.lift(5).getOrElse("build")
    require(Set("build", "graph")(target), s"unknown target $target")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    GraftSession.setLogLevel(spark, "WARN")
    val jobs = new AtomicInteger()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    })
    val key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val default = spark.conf.get(key)
    def dirOf(n: Long, s: Int) = s"$work/corpus_${n}_${dim}_$s"
    // 64 clusters: a fixed centroid per cluster plus seeded noise
    for (n <- sizes; s <- 0 until segs)
      spark.range(n).select(col("id").as("vec_id"),
          array((0 until dim).map(d =>
            (sin((col("id") % 64) * 7.0 + d) +
              randn(1000L * s + d) * 0.3).cast("float")): _*)
            .as("embedding"))
        .write.mode("overwrite").parquet(s"${dirOf(n, s)}/embeddings.parquet")
    val heap = ManagementFactory.getMemoryMXBean
    for (n <- sizes; arm <- arms) {
      spark.conf.set(key, if (arm == "spark") "1b" else default)
      Cache.clear(spark)
      System.gc()
      val base = heap.getHeapMemoryUsage.getUsed
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
      val t0 = System.nanoTime
      graft.model.Pools.mapConcurrent(0 until segs, segs)(s =>
        if (target == "graph") Ann.qGraphSearch(spark, dirOf(n, s)).collect()
        else Hnsw.buildIndex(spark, dirOf(n, s), s"$work/index_${arm}_${n}_$s"))
      val wall = (System.nanoTime - t0) / 1e9
      sampling = false
      sampler.join()
      println(f"hnsw_$target arm=$arm n=$n dim=$dim segs=$segs " +
        f"wall_s=$wall%.2f jobs=${jobs.get - j0} " +
        f"peak_heap_mb=${(peak.get - base) / 1048576.0}%.0f " +
        f"base_heap_mb=${base / 1048576.0}%.0f")
    }
    spark.conf.set(key, default)
    spark.stop()
  }
}
