package graftbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {

  private def close(a: Double, b: Double) = math.abs(a - b) < 1e-9

  test("union length merges overlaps and clips to the window") {
    assert(TraceMath.unionLen(Seq((10L, 30L), (20L, 50L), (90L, 120L)), 0L, 100L) == 50L)
    assert(TraceMath.unionLen(Seq((0L, 10L), (10L, 20L)), 0L, 100L) == 20L)
    assert(TraceMath.unionLen(Nil, 0L, 100L) == 0L)
    assert(TraceMath.unionLen(Seq((200L, 300L)), 0L, 100L) == 0L)
  }

  test("self time is duration minus the part children cover") {
    val s = Seq(
      TSpan("t", 1, 0, "run", 0, 100),
      TSpan("t", 2, 1, "pass", 10, 30),
      TSpan("t", 3, 1, "pass", 20, 50),
      TSpan("t", 4, 1, "check", 90, 120),
      TSpan("t", 5, 2, "job", 12, 18))
    val self = TraceMath.selfTimes(s)
    assert(self == Map(1L -> 50L, 2L -> 14L, 3L -> 30L, 4L -> 30L, 5L -> 6L))
    val byName = TraceMath.byName(s).map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(byName("pass") == ((2, 50L, 44L)))
  }

  test("stage coverage, driver time and per-class busy time on a canned event sequence") {
    val ms = 1000000L
    // one pass from t=1000 ms to t=2000 ms; stage 3 runs after it
    val passes = Seq((1000 * ms, 2000 * ms))
    val stages = Seq(
      StageRec(1, 1100, 1400), // scan + extract
      StageRec(2, 1300, 1600), // stitch: reads shuffle output
      StageRec(3, 2500, 2600))
    def task(stage: Int, runMs: Long, shuffleRead: Long) =
      TaskRec(stage, runMs, gcMs = runMs / 10, shuffleWriteB = 1000000, shuffleReadRecords = shuffleRead,
        fetchWaitMs = 0, spillB = 0)
    val tasks = Seq(task(1, 100, 0), task(1, 300, 0), task(1, 200, 0), task(2, 50, 7), task(2, 50, 7),
      task(3, 999, 0))
    val m = StageStats.summarize(passes, stages, tasks)
    assert(close(m("stage.cover_frac"), 0.5)) // union [1100, 1600] of a 1000 ms pass
    assert(close(m("stage.driver_s"), 0.5))
    assert(close(m("stage.scan_extract.busy_s"), 0.6))
    assert(close(m("stage.scan_extract.skew"), 1.5)) // max 300 / median 200
    assert(close(m("stage.stitch.busy_s"), 0.1))
    assert(close(m("stage.stitch.skew"), 1.0))
    assert(close(m("stage.exchange.write_mb"), 5.0)) // stage 3's task is outside the pass
    assert(close(m("stage.gc_frac"), 0.1))
  }
}
