package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.operators.{Ann, AnnGeometry}

/** [[Cache]] and the ANN salt memo key their entries by the session
  * object, so a session can never read another's entries — in
  * particular a new session never reads a stopped one's, whatever
  * identity hash it happens to get. The test stops the shared session
  * and leaves a fresh one (`GraftSession.local`) as the default for the
  * suites after it. */
class CacheSessionSpec extends SparkSpec {

  private def jobsOf(s: org.apache.spark.sql.SparkSession)(f: => Any): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    s.sparkContext.addSparkListener(l)
    try { f; Thread.sleep(500); jobs.get }
    finally s.sparkContext.removeSparkListener(l)
  }

  test("sessions sharing one context keep separate entries") {
    val a = spark.newSession()
    val b = spark.newSession()
    val da = Cache.getOrBuild(a, "probe", sfDir)(a.range(3).toDF())
    assert(Cache.getOrBuild(a, "probe", sfDir)(fail("rebuilt")) eq da)
    var built = false
    Cache.getOrBuild(b, "probe", sfDir) { built = true; b.range(4).toDF() }
    assert(built, "a second session read the first one's entry")
    Cache.clear(a)
    Cache.clear(b)
  }

  test("a second session does not see a stopped session's entries") {
    val geo = AnnGeometry.forCorpus(1000)
    val first = spark
    Cache.getOrBuild(first, "probe", sfDir)(first.range(3).toDF())
    Ann.saltFor(first, sfDir, geo)
    assert(jobsOf(first)(Ann.saltFor(first, sfDir, geo)) === 0,
      "the salt memo should answer a repeat without a job")
    first.stop()
    val second = GraftSession.local(4)
    assert(second ne first)
    var built = false
    val df = Cache.getOrBuild(second, "probe", sfDir) {
      built = true
      second.range(5).toDF()
    }
    assert(built && df.count() === 5)
    assert(jobsOf(second)(Ann.saltFor(second, sfDir, geo)) > 0,
      "the new session reused the stopped session's salt")
    Cache.clear(second)
  }
}
