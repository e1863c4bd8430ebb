package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench harness's pure contracts — no SparkSession needed.
  * Pins the r13-verdict item-3 fix: a throwing query records the
  * failure SENTINEL, never its elapsed wall (timing the failure path
  * benched a broken query as a fast row). */
class BenchSpec extends AnyFunSuite {

  test("timedOrSentinel times a successful body") {
    val (dt, r) = Bench.timedOrSentinel { Thread.sleep(10); 42 }
    assert(dt >= 0.005, s"elapsed $dt too small for a 10 ms body")
    assert(dt < 5.0, s"elapsed $dt absurd for a 10 ms body")
    assert(r.get === 42, "the body's result must come back with its time")
  }

  test("a throwing body records the sentinel, not its elapsed wall") {
    val (dt, r) = Bench.timedOrSentinel {
      Thread.sleep(10)
      throw new RuntimeException("forced query failure")
    }
    assert(dt === Bench.FailureSentinel,
      "a failing query must bench as the sentinel, never as a duration")
    assert(dt < 0, "the sentinel must be impossible to read as a time")
    assert(r.failed.get.getMessage === "forced query failure")
  }

  test("fatal errors propagate — the sentinel swallows only NonFatal") {
    intercept[OutOfMemoryError] {
      Bench.timedOrSentinel { throw new OutOfMemoryError("forced") }
    }
  }

  test("median: odd takes the middle, even averages the two middles") {
    assert(Bench.median(Seq(3.0, 1.0, 2.0)) === 2.0)
    assert(Bench.median(Seq(4.0, 1.0, 2.0, 3.0)) === 2.5)
    assert(Bench.median(Seq(7.0)) === 7.0)
  }

  test("lineOrder: failed rows first (never truncated out), then " +
      "slowest, ties by name") {
    val rows = Seq("fast" -> 0.1, "slow" -> 9.0, "tieB" -> 1.0,
      "broken" -> Bench.FailureSentinel, "tieA" -> 1.0)
    assert(Bench.lineOrder(rows).map(_._1) ===
      Seq("broken", "slow", "tieA", "tieB", "fast"),
      "a sentinel row sorted by raw slowness lands LAST and vanishes " +
        "from a truncated map exactly when the line must show it")
  }

  test("lineRows: at most 10 failed rows, the slowest timings stay " +
      "visible") {
    val failed = (1 to 50).map(i => f"bad$i%02d" -> Bench.FailureSentinel)
    val timed = (1 to 10).map(i => s"t$i" -> i.toDouble)
    val rows = Bench.lineRows(failed ++ timed)
    assert(rows.map(_._1) ===
      (1 to 10).map(i => f"bad$i%02d") ++ (10 to 1 by -1).map(i => s"t$i"))
    // with few failures the map still fills to 40, slowest first
    val many = (1 to 60).map(i => f"q$i%02d" -> i.toDouble)
    val some = Bench.lineRows(Seq("broken" -> Bench.FailureSentinel) ++ many)
    assert(some.size === 40)
    assert(some.map(_._1) === "broken" +: (60 to 22 by -1).map(i => f"q$i%02d"))
  }

  test("stallCount: a row with any sentinel iteration counts ZERO " +
      "stalls — breakage is not host noise") {
    // with the sentinel as median (-1.0), the 5×-median test read the
    // flaky query's SUCCESSFUL 4.2 s iteration as a stall
    assert(Bench.stallCount(Seq(-1.0, -1.0, 4.2)) === 0)
    assert(Bench.stallCount(Seq(4.2, -1.0, 4.3)) === 0)
    // genuine stall still counts on a healthy row
    assert(Bench.stallCount(Seq(0.1, 0.1, 10.0)) === 1)
    assert(Bench.stallCount(Seq(0.1, 0.1, 0.12)) === 0)
  }
}
