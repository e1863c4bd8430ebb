package graft.loopbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}

/** Spark-side totals of one process, fed by a listener: jobs, tasks,
  * executor run and CPU time, shuffle bytes and spill. Read a
  * [[Census.Snap]] before and after a call and subtract to get the
  * call's share; [[Census.settle]] first, because listener events are
  * delivered asynchronously. */
final class Census extends SparkListener {
  private val jobs = new AtomicLong
  private val tasks = new AtomicLong
  private val runNs = new AtomicLong
  private val cpuNs = new AtomicLong
  private val shuffle = new AtomicLong
  private val spill = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      runNs.addAndGet(m.executorRunTime * 1000000L)
      cpuNs.addAndGet(m.executorCpuTime)
      shuffle.addAndGet(m.shuffleReadMetrics.totalBytesRead +
        m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  def snap(): Census.Snap = Census.Snap(jobs.get, tasks.get,
    runNs.get / 1e9, cpuNs.get / 1e9, shuffle.get, spill.get)
}

object Census {
  final case class Snap(jobs: Long, tasks: Long, runS: Double, cpuS: Double,
      shuffleBytes: Long, spillBytes: Long) {
    def -(o: Snap): Snap = Snap(jobs - o.jobs, tasks - o.tasks, runS - o.runS,
      cpuS - o.cpuS, shuffleBytes - o.shuffleBytes, spillBytes - o.spillBytes)
  }

  def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3
  }

  def install(sc: SparkContext): Census = {
    val c = new Census
    sc.addSparkListener(c)
    c
  }

  /** Wait until every event posted so far reached the listeners. */
  def settle(sc: SparkContext): Unit =
    org.apache.spark.loopbench.Bus.drain(sc)
}

/** In-memory span recorder. A span has a name, start and end (µs since
  * the tracer was made), its parent span and the operation it belongs
  * to. Disabled, [[span]] runs its body and records nothing. */
final class Tracer(val enabled: Boolean) {
  import Tracer.Span

  private val t0 = System.nanoTime()
  private val recorded = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var op = -1L

  def operation[A](id: Long)(body: => A): A = {
    val prev = op
    op = id
    try body finally op = prev
  }

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val s = Span(recorded.size, name, (System.nanoTime() - t0) / 1000, -1L,
        stack.headOption.getOrElse(-1), op)
      recorded += s
      stack = s.id :: stack
      try body
      finally {
        s.endUs = (System.nanoTime() - t0) / 1000
        stack = stack.tail
      }
    }

  /** Per span name: count, total and self time (total minus the time
    * of direct children), in seconds. */
  def summary: Map[String, Map[String, Double]] = {
    val child = new Array[Long](recorded.size)
    recorded.foreach(s => if (s.parent >= 0) child(s.parent) += s.endUs - s.startUs)
    recorded.groupBy(_.name).map { case (n, ss) =>
      n -> Map("count" -> ss.size.toDouble,
        "total_s" -> ss.map(s => s.endUs - s.startUs).sum / 1e6,
        "self_s" -> ss.map(s => s.endUs - s.startUs - child(s.id)).sum / 1e6)
    }
  }

  def spans: Seq[Map[String, Any]] = recorded.toSeq.map { s =>
    Map("id" -> s.id, "name" -> s.name, "start_us" -> s.startUs, "end_us" -> s.endUs,
      "parent" -> s.parent, "op" -> s.op)
  }
}

object Tracer {
  final case class Span(id: Int, name: String, startUs: Long, var endUs: Long,
      parent: Int, op: Long)
}
