package graft

import org.scalatest.funsuite.AnyFunSuite

/** Laws of the bench quietness gate — pure-function checks on the
  * predicates the load-gated retry protocol rests on (the r16 verdict's
  * I/O blind spot lived exactly here, so the gate itself now has specs).
  */
class BenchGateSpec extends AnyFunSuite {
  import BenchGate._

  private def st(sec: Double, other: Double, mbps: Double,
      busy: Double, prevMbps: Double = 0.0): RunStamp =
    RunStamp(sec, 0.5, 0.5, 1000L, other, mbps, busy, prevMbps)

  test("CPU term: ceiling and the absolute sub-core-second floor") {
    val ceil = 4.0
    assert(cpuQuiet(st(10.0, 3.9, 0, 0), ceil))
    assert(!cpuQuiet(st(10.0, 4.1, 0, 0), ceil))
    // tiny runs: jiffy-granularity noise can't inflate anything —
    // 8 foreign cores for 0.05 s is 0.4 core-seconds, under the floor
    assert(cpuQuiet(st(0.05, 8.0, 0, 0), ceil))
    assert(!cpuQuiet(st(1.0, 8.0, 0, 0), ceil))
  }

  test("I/O term: unquiet needs high rate AND volume AND a busy device") {
    // the r16 failure shape: dd co-load — hundreds of MB/s, saturated
    // disk, multi-second run → unquiet
    assert(!ioQuiet(st(5.0, 0.1, 320.0, 0.95)))
    // delayed writeback of our own checkpoint files: moderate rate,
    // device not saturated → quiet (no false retries)
    assert(ioQuiet(st(5.0, 0.1, 40.0, 0.3)))
    // high rate against an unsaturated device doesn't delay us
    assert(ioQuiet(st(5.0, 0.1, 320.0, 0.4)))
    // small absolute volume can't inflate a run (100 MB/s for 1 s)
    assert(ioQuiet(st(1.0, 0.1, 100.0, 0.9)))
    // unmeasurable I/O never gates
    assert(ioQuiet(st(5.0, 0.1, -1.0, -1.0)))
  }

  test("I/O term: trailing foreign memory closes the writeback window") {
    // the r17 verdict item-5 shape (dev/ioloadprobe_r17.jsonl line 5): a
    // sustained dd co-load whose bytes landed in the PREVIOUS bracket —
    // this window reads foreignMbps 0.0 at devBusy 0.69 and used to stamp
    // quiet. With the trailing memory it must not.
    assert(!ioQuiet(st(5.0, 0.1, 0.0, 0.69, prevMbps = 320.0)))
    // quiet box: busy device from our OWN reads, no trailing foreign →
    // quiet, unchanged
    assert(ioQuiet(st(5.0, 0.1, 0.0, 0.69)))
    // trailing foreign against an idle device can't have delayed us
    assert(ioQuiet(st(5.0, 0.1, 0.0, 0.2, prevMbps = 320.0)))
    // light trailing traffic (our own drained writeback) never gates
    assert(ioQuiet(st(5.0, 0.1, 0.0, 0.9, prevMbps = 40.0)))
  }

  test("overall verdict composes both axes; unmeasurable CPU never blocks") {
    val ceil = 4.0
    if (cpuMeasurable) {
      assert(isQuiet(st(5.0, 1.0, 0.0, 0.0), ceil))
      assert(!isQuiet(st(5.0, 9.0, 0.0, 0.0), ceil)) // CPU axis
      assert(!isQuiet(st(5.0, 1.0, 320.0, 0.95), ceil)) // I/O axis
      assert(!isQuiet(st(5.0, -1.0, 0.0, 0.0), ceil)) // failed read mid-run
    }
    // a real stamped run on this machine: measurable or skipped, never
    // a permanently-false verdict (the r16 ADVICE failure mode)
    val r = stampRun { Thread.sleep(20) }
    assert(r.sec >= 0.02)
    if (!cpuMeasurable) assert(isQuiet(r, ceil))
  }

  test("a thrown query carries no timing: out of every total, listed as failed") {
    // stampRun rethrows, so a run that throws has no stamp at all
    val dies: Outcome = "dies" -> scala.util.Try(Seq(stampRun(
      throw new IllegalStateException("boom")))).toEither
    assert(dies._2.isLeft)
    val rs: Seq[Outcome] = Seq(
      "ok" -> Right(Seq(st(1.5, 0, 0, 0), st(1.0, 0, 0, 0))),
      dies,
      "ok2" -> Right(Seq(st(0.5, 0, 0, 0))))
    val (timed, failed) = splitFailed(rs)
    assert(timed.map(_._1) == Seq("ok", "ok2"))
    assert(failed == Seq("dies"))
    assert(minTotal(timed) == 1.5)
  }

  test("Bench exits non-zero when a headline or sf1 query failed") {
    assert(exitCode(Nil, Nil) == 0)
    assert(exitCode(Seq("q10_tpch_q1"), Nil) == 1)
    assert(exitCode(Nil, Seq("c36b_kn5_bucketed_merge")) == 1)
    assert(exitCode(Seq("a"), Seq("b")) == 1)
  }

  test("stamp array: compile counters append after the code-cache MB") {
    val r = RunStamp(1.0, 0.5, 0.75, 1000L, 0.1, 2.0, 0.3, 0.0,
      topStageSec = 0.4, stages = 7, codeCacheMb = 64L, janinoCompiles = 12L,
      janinoMs = 345L, jitMs = 678L)
    val a = stampJson(r).stripPrefix("[").stripSuffix("]").split(",").toSeq
    // positions 0-8 predate the compile counters and must not move
    assert(a == Seq("0.5", "0.75", "1000", "0.1", "2.0", "0.3", "0.4", "7",
      "64", "12", "345", "678"))
  }

  test("fmt2 is locale-independent and JSON-safe") {
    // Double.toString-based rendering: always '.' decimal separator
    assert(fmt2(3.14159) == "3.14")
    assert(fmt2(-0.005) == "-0.01" || fmt2(-0.005) == "0.0") // round half
    assert(fmt2(Double.NaN) == "-1")
    assert(fmt2(Double.PositiveInfinity) == "-1")
    assert(!fmt2(1234.5).contains(","))
  }
}
