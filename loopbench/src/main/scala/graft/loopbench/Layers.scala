package graft.loopbench

import java.io.File
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.chunk.{ChunkDispatch, FileTypes}
import graft.embed.{BatchEmbedding, Embedder}
import graft.model.{Chunk, DocMeta}
import graft.operators.Hnsw
import graft.store.ChunkStore

/** The traced run's per-layer figures. Layers the workload's own loop
  * reached are read from what the loop recorded; the rest are timed
  * alone here, on the workload's own inputs and store, after the timed
  * phase, so none of this work is inside an end-to-end figure. */
final class Layers(ctx: Ctx, w: Workload) {
  import ctx.{spark, tracer}

  private val Reps = 5

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  private def timesMs(n: Int)(body: => Unit): Seq[Double] =
    (0 until n).map { _ => val t0 = System.nanoTime(); body; ctx.ms(t0) }

  private def walls(k: String): Seq[Double] =
    ctx.walls.get(k).map(_.toSeq).getOrElse(Nil)

  def probe(): Unit = {
    val store = tracer.span("probe.store")(w.store)
    chunkEmbedStore(store)
    hnsw(store)
    api(store)
    mutation()
    registry()
  }

  private def chunkEmbedStore(store: String): Unit = {
    val files = ctx.plan.files.map { f =>
      val p = s"${ctx.tree}/$f"
      (p, new String(Files.readAllBytes(Paths.get(p)), "UTF-8"))
    }
    val bytes = files.map(f => new File(f._1).length).sum.toDouble
    def chunkAll() = files.flatMap { case (p, text) =>
      val name = p.substring(p.lastIndexOf('/') + 1)
      val st = FileTypes.optimalSettings(name)
      val pieces = ChunkDispatch.chunk(text, Some(name), st.chunkSize,
        st.chunkOverlap, preserveBoundaries = true)
      pieces.map(pc => (p, name, pc))
    }
    var pieces = chunkAll()
    val chunkMs = tracer.span("layer.chunk")(timesMs(Reps) { pieces = chunkAll() })
    ctx.layer("chunk.ms_per_mb", median(chunkMs) / (bytes / 1e6))
    ctx.layer("chunk.chunks", pieces.size.toDouble)

    val texts = pieces.map(_._3.content)
    var vecs = BatchEmbedding.embedAll(Embedder, texts)
    val embedMs = tracer.span("layer.embed")(timesMs(Reps) {
      vecs = BatchEmbedding.embedAll(Embedder, texts) })
    ctx.layer("embed.us_per_chunk", median(embedMs) * 1000 / texts.size)

    import spark.implicits._
    val rows = pieces.zip(vecs).map { case ((p, name, pc), v) =>
      val ext = FileTypes.extensionOf(name)
      val sourceType = if (FileTypes.isCodeFile(ext)) "code"
        else if (FileTypes.isMarkdownFile(ext)) "docs" else "file"
      Chunk(Embedder.md5hex(s"$p:${pc.index}"), Embedder.md5hex(p), pc.index,
        0, pc.content, v.map(_.toFloat),
        DocMeta(sourceType = sourceType, title = Some(name), filePath = Some(name),
          path = Some(p)),
        pc.boundary, LoopBench.CreatedAt)
    }
    val df = spark.createDataset(rows).toDF()
      .withColumn("sourceType", col("metadata.sourceType")).cache()
    df.count()
    val out = s"${ctx.a.work}/probe/chunks"
    val writeMs = tracer.span("layer.store.write")(timesMs(3)(
      ChunkStore.write(df, out, partitionCols = Seq("sourceType"))))
    df.unpersist()
    ctx.layer("store.write_s", median(writeMs) / 1e3)
    ctx.layer("store.bytes_per_input_byte", LoopBench.parquetFiles(out)._1 / bytes)
    val scanMs = tracer.span("layer.store.scan")(timesMs(Reps)(
      ChunkStore.read(spark, s"$store/chunks").select("id", "embedding").collect()))
    ctx.layer("store.scan_ms", median(scanMs))
    ctx.layer("store.files", LoopBench.parquetFiles(s"$store/chunks")._2.toDouble)
  }

  private def hnsw(store: String): Unit = {
    val dir = s"${ctx.a.work}/probe/hnsw"
    ChunkStore.read(spark, s"$store/chunks")
      .select(Embedder.hash60Col(col("id")).as("vec_id"),
        col("embedding").cast("array<float>").as("embedding"))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val t0 = System.nanoTime()
    val (idx, snap) = ctx.jobsOf(tracer.span("layer.hnsw.build")(
      Hnsw.buildIndex(spark, dir, s"$dir/index")))
    ctx.layer("hnsw.build_s", ctx.ms(t0) / 1e3)
    snap.foreach { s =>
      ctx.layer("hnsw.build_jobs", s.jobs.toDouble)
      ctx.layer("hnsw.build_task_s", s.runS)
      ctx.layer("hnsw.build_cpu_s", s.cpuS)
    }
    val t1 = System.nanoTime()
    val img = tracer.span("layer.hnsw.image")(Hnsw.imageOf(spark, dir, idx))
    ctx.layer("hnsw.image_s", ctx.ms(t1) / 1e3)
    val qs = ctx.plan.queries.map { q =>
      val v = Embedder.embed(q).map(_.toFloat)
      (v, math.sqrt(v.map(x => x.toDouble * x).sum))
    }
    val k = LoopBench.K
    val beamMs = tracer.span("layer.hnsw.serve")(timesMs(Reps)(qs.foreach { case (v, n) =>
      Hnsw.serveVec(img, v, n, selfId = -1L, ef = math.max(32, 4 * k), k = k)
    }))
    ctx.layer("hnsw.beam_us", median(beamMs) * 1000 / qs.size)
  }

  private def api(store: String): Unit = {
    val kinds = Seq("search", "hybrid", "ann")
    if (!kinds.forall(k => walls(s"$k.prelude").nonEmpty)) {
      tracer.span("probe.api") {
        (0 until Reps).foreach { i =>
          kinds.foreach(k => w.query(k, store, ctx.plan.queries(i)))
        }
      }
    }
    kinds.foreach { k =>
      ctx.layer(s"$k.prelude_ms", median(walls(s"$k.prelude")))
      ctx.layer(s"$k.exec_ms", median(walls(s"$k.exec")))
      ctx.layer(s"$k.jobs", median(walls(s"$k.jobs")))
      ctx.layer(s"$k.tasks", median(walls(s"$k.tasks")))
    }
  }

  /** Zero where the workload never writes: the store does not mutate. */
  private def mutation(): Unit = {
    val writes = walls("write").size
    ctx.layer("mutation.derivations_per_write",
      if (writes == 0) 0.0 else walls("derivations").sum / writes)
    ctx.layer("mutation.jobs_per_fresh_read", median(walls("fresh.jobs")))
  }

  private def registry(): Unit = {
    val rows = LoopBench.CurateRows
    if (!rows.forall(n => walls(s"$n.prelude").nonEmpty)) {
      val c = new Curate(ctx)
      tracer.span("probe.registry") {
        val dir = c.freshTablesAt(s"${ctx.a.work}/probe/tables")
        rows.foreach(n => c.runRow(n, dir,
          _.write.mode("overwrite").parquet(s"${ctx.a.work}/probe/out/$n")))
      }
    }
    rows.foreach { n =>
      ctx.layer(s"$n.prelude_s", median(walls(s"$n.prelude")) / 1e3)
      ctx.layer(s"$n.exec_s", median(walls(s"$n.exec")) / 1e3)
      ctx.layer(s"$n.jobs", median(walls(s"$n.jobs")))
      ctx.layer(s"$n.task_s", median(walls(s"$n.task_s")))
    }
  }
}
