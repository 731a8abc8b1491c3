package graft
import java.nio.file.{Files, Paths}

/** Machine-quietness measurement shared by [[Bench]] and `tools/Profile`.
  * A bench number is only evidence when the machine was quiet while it
  * ran; this object measures that fact per run instead of leaving it to
  * forensic loadavg reads.
  *
  * Two independent interference axes, both as deltas bracketing a run:
  *
  *  - FOREIGN CPU (r15 verdict): (system busy jiffies Δ) − (this JVM's
  *    jiffies Δ), in average cores. Loadavg is the wrong signal — it decays
  *    over a minute (a heavy query of OURS keeps it high through the next
  *    three queries) and counts our own executor threads. busy excludes
  *    guest/guest_nice: Linux folds guest time into user, so summing them
  *    double-counts VM guests (r16 ADVICE). Jiffy rate from getconf CLK_TCK
  *    (fallback 100) instead of a hardcoded USER_HZ.
  *
  *  - FOREIGN I/O (r16 verdict item 1): the CPU-only gate stamped
  *    c20_dsir_select at 33 s `quiet: true` in the r16 driver artifact
  *    while the same commit ran 1.4 s on a quiet box — foreign DISK
  *    traffic inflates the localCheckpoint-heavy query family 4–36× while
  *    contributing zero foreign CPU, so the CPU gate never retried.
  *    Signals: system device bytes from /proc/diskstats (sectors
  *    read+written × 512, whole physical devices only — partitions would
  *    double-count their parent, dm-/loop/zram virtual devices the
  *    underlying disk), device busy time (io_ticks ms, max over devices),
  *    and this JVM's own bytes from /proc/self/io (storage-layer
  *    accounting, so page-cache hits — the warm-run common case —
  *    correctly count zero). foreign = max(0, system Δ − self Δ).
  *    Attribution is imperfect — our own writeback can flush AFTER the run
  *    that dirtied the pages and land as "foreign" in a later window — so
  *    the unquiet-by-I/O verdict requires BOTH a high sustained foreign
  *    rate AND a saturated device (delayed writeback of a few hundred MB
  *    spread over the flusher's ~30 s horizon stays under the rate
  *    ceiling; a dd co-load is hundreds of MB/s at ~100% busy, trips both;
  *    validated against a dd co-load, dev/ioloadprobe_r17.jsonl).
  *
  *    Completion-time accounting can land a co-load's bytes in the
  *    bracket BEFORE the one it delays (r17 verdict item 5: a dd window
  *    stamped foreignMbps 0.0 at devBusy 0.69 and read quiet), so each
  *    stamp also carries the foreign rate observed over the PREVIOUS
  *    window and the inter-run gap; a busy device plus heavy trailing
  *    foreign traffic is unquiet even when this window's own foreign
  *    bytes read zero.
  */
object BenchGate {
  final case class RunStamp(sec: Double, loadBefore: Double, loadAfter: Double,
      rssAfterMb: Long, otherCores: Double, foreignMbps: Double,
      devBusy: Double, prevForeignMbps: Double = 0.0,
      topStageSec: Double = -1.0, stages: Int = -1,
      codeCacheMb: Long = -1L, janinoCompiles: Long = -1L,
      janinoMs: Long = -1L, jitMs: Long = -1L)

  /** JIT code-cache occupancy (MB) across the CodeHeap pools. Every
    * generated class the JVM loads adds JIT-compiled code; when the
    * reserved code cache (JDK 17 default 240 MB) fills, the JIT flushes
    * hot methods or stops compiling and generated code runs INTERPRETED —
    * a silent 10-100x CPU inflation on expression-heavy queries that no
    * /proc interference stamp can see. Occupancy stays bounded only while
    * each class compiles once per JVM: a session not built by GraftSession
    * keeps Spark's 100-entry codegen LRU, which one headline pass
    * overflows, and a class loader per cloned session, so it re-generates
    * its classes on every run (the r18 s17 probe measured 66/240 MB from a
    * single query's 5 runs). Stamped per run, beside the run's compile
    * counts, so the artifact shows whether late-series queries ran against
    * a saturated cache. */
  def codeCacheMb(): Long =
    try {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getName.startsWith("CodeHeap"))
        .map(_.getUsage.getUsed).sum / 1048576
    } catch { case _: Throwable => -1L }

  /** Janino compiles so far in this JVM: codegen-cache misses, one per
    * generated class Spark had to compile. */
  def janinoCompiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Milliseconds spent in Janino so far in this JVM, or -1 before any
    * session exists: the first touch of `CodeGenerator` sizes Spark's
    * codegen cache from the session conf, so touching it earlier would fix
    * the cache at Spark's default of 100 entries for the JVM's life. */
  def janinoMs(): Long =
    if (org.apache.spark.sql.SparkSession.getDefaultSession.isEmpty) -1L
    else org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
      .compileTime / 1000000L

  /** Milliseconds the JIT compiler threads have spent so far in this JVM
    * (CPU on the compiler threads, not wall time on the query thread). */
  def jitMs(): Long =
    try java.lang.management.ManagementFactory.getCompilationMXBean
      .getTotalCompilationTime
    catch { case _: Throwable => -1L }

  /** Per-run stage-wall window (r18 VERDICT item 7): once
    * [[installStageWindow]] has added its SparkListener, [[stampRun]]
    * resets the window before each run and reads it after, so every stamp
    * carries the slowest completed stage's wall plus the stage count. That
    * lets the next adjudication separate scheduler/box noise (run slower,
    * top stage flat, many stages) from a real plan change (top-stage wall
    * moves with the run). Listener events are posted asynchronously, so
    * the read can miss a stage that completes within the last few ms —
    * diagnostic precision, not a gate input. Guarded by `stageLock`. */
  private val stageLock = new Object
  private var stageWindow: Option[(Long, Int)] = None // (slowest ms, stages)

  def installStageWindow(sc: org.apache.spark.SparkContext): Unit = {
    stageLock.synchronized { stageWindow = Some((0L, 0)) }
    sc.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        for (s <- i.submissionTime; c <- i.completionTime) stageLock.synchronized {
          stageWindow = stageWindow.map { case (top, n) => (math.max(top, c - s), n + 1) }
        }
      }
    })
  }

  val clkTck: Double =
    try {
      val p = new ProcessBuilder("getconf", "CLK_TCK").start()
      val out = new String(p.getInputStream.readAllBytes()).trim
      p.waitFor()
      val v = out.toDouble
      if (v > 0) v else 100.0
    } catch { case _: Throwable => 100.0 }

  def loadAvg(): Double =
    try Files.readString(Paths.get("/proc/loadavg")).split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }

  def rssMb(): Long =
    try {
      val s = Files.readAllLines(Paths.get("/proc/self/status"))
      import scala.jdk.CollectionConverters._
      s.asScala.find(_.startsWith("VmRSS:"))
        .map(_.split("\\s+")(1).toLong / 1024).getOrElse(-1L)
    } catch { case _: Throwable => -1L }

  /** (system busy jiffies, this JVM's utime+stime jiffies); (-1,-1) when
    * /proc is unreadable. */
  def cpuTicks(): (Long, Long) =
    try {
      val cpu = Files.readAllLines(Paths.get("/proc/stat")).get(0)
        .trim.split("\\s+").drop(1).map(_.toLong)
      // user nice system idle iowait irq softirq steal [guest guest_nice]
      val busy = cpu(0) + cpu(1) + cpu(2) +
        (if (cpu.length > 5) cpu(5) else 0L) +
        (if (cpu.length > 6) cpu(6) else 0L) +
        (if (cpu.length > 7) cpu(7) else 0L)
      val st = Files.readString(Paths.get("/proc/self/stat"))
      val f = st.substring(st.lastIndexOf(')') + 2).split(" ")
      (busy, f(11).toLong + f(12).toLong) // utime + stime
    } catch { case _: Throwable => (-1L, -1L) }

  /** (system device bytes, this JVM's storage bytes, io_ticks ms PER
    * DEVICE); (-1, -1, empty) when unreadable. Ticks are returned keyed by
    * device name so busy fraction is computed as the max over PER-DEVICE
    * deltas — on a multi-disk host the device with the largest cumulative
    * since-boot io_ticks is not necessarily the one saturated during the
    * run, so a delta of per-sample maxima could read the wrong disk and
    * understate busy (r17 ADVICE). */
  def ioBytes(): (Long, Long, Map[String, Long]) =
    try {
      import scala.jdk.CollectionConverters._
      var sys = 0L
      var ticks = Map.empty[String, Long]
      Files.readAllLines(Paths.get("/proc/diskstats")).asScala.foreach { l =>
        val f = l.trim.split("\\s+")
        if (f.length >= 13) {
          val name = f(2)
          // whole physical devices only: sdX/vdX/xvdX/hdX with no trailing
          // partition digit; nvme namespaces and mmcblk devices carry a 'p'
          // separator before partition numbers so the bare-device regexes
          // below exclude partitions too
          val whole =
            (name.matches("(sd|vd|xvd|hd)[a-z]+") ||
             name.matches("nvme\\d+n\\d+") ||
             name.matches("mmcblk\\d+"))
          if (whole) {
            sys += (f(5).toLong + f(9).toLong) * 512L
            ticks += name -> f(12).toLong
          }
        }
      }
      val self = Files.readAllLines(Paths.get("/proc/self/io")).asScala
        .filter(l => l.startsWith("read_bytes:") || l.startsWith("write_bytes:"))
        .map(_.split("\\s+")(1).toLong).sum
      (sys, self, ticks)
    } catch { case _: Throwable => (-1L, -1L, Map.empty[String, Long]) }

  /** Quietness is unmeasurable (non-Linux /proc, hardened container) →
    * callers skip the retry machinery entirely and emit quiet fields as
    * null rather than burning the retry cap on every query and degrading
    * quiet_total to 0 (r16 ADVICE). Re-probed on every call — a one-shot
    * lazy val latched a single transient /proc read failure into
    * permanently-disabled gating for the whole bench run (r17 ADVICE). */
  def cpuMeasurable: Boolean = cpuTicks() != ((-1L, -1L))

  // end-of-last-window I/O sample + its foreign rate: the trailing memory
  // the writeback-attribution fix reads (r17 verdict item 5). Benches run
  // queries sequentially; volatile is enough.
  @volatile private var lastIoEnd: (Long, Long, Long) = (-1L, -1L, 0L)
  @volatile private var lastForeignMbps: Double = 0.0

  /** Run `f`, bracketing it with every interference signal. An exception
    * from `f` propagates: a run that throws has no stamp. */
  def stampRun(f: => Unit): RunStamp = {
    stageLock.synchronized { stageWindow = stageWindow.map(_ => (0L, 0)) }
    val lb = loadAvg(); val (b0, s0) = cpuTicks()
    val (io0, self0, tk0) = ioBytes()
    val t = System.nanoTime()
    // foreign rate over the gap since the previous window's end sample —
    // completion-time accounting can drop a co-load's bytes between
    // brackets, so the gap is evidence too
    val gapMbps = {
      val (gSys, gSelf, gAt) = lastIoEnd
      val gs = (t - gAt) / 1e9
      if (gSys < 0 || io0 < 0 || gs <= 0.05) 0.0
      else math.max(0.0,
        ((io0 - gSys) - (self0 - gSelf)).toDouble / (gs * 1048576.0))
    }
    val prevMbps = math.max(lastForeignMbps, gapMbps)
    val (jc0, jm0, jit0) = (janinoCompiles(), janinoMs(), jitMs())
    f
    val sec = (System.nanoTime() - t) / 1e9
    val (b1, s1) = cpuTicks()
    val (io1, self1, tk1) = ioBytes()
    val other =
      if (b0 < 0 || b1 < 0 || sec <= 0) -1.0
      else math.max(0.0, ((b1 - b0) - (s1 - s0)).toDouble / (sec * clkTck))
    val fMbps =
      if (io0 < 0 || io1 < 0 || sec <= 0) -1.0
      else math.max(0.0, ((io1 - io0) - (self1 - self0)).toDouble / (sec * 1048576.0))
    val busy =
      if (io0 < 0 || io1 < 0 || sec <= 0) -1.0
      else if (tk0.isEmpty || tk1.isEmpty) 0.0
      else math.min(1.0, tk1.map { case (d, v) =>
        v - tk0.getOrElse(d, v) }.max.toDouble / (sec * 1000.0))
    lastIoEnd = (io1, self1, System.nanoTime())
    lastForeignMbps = math.max(0.0, fMbps)
    val (topStage, nStages) = stageLock.synchronized {
      stageWindow.fold((-1.0, -1)) { case (top, n) => (top / 1000.0, n) }
    }
    val (jm1, jit1) = (janinoMs(), jitMs())
    RunStamp(sec, lb, loadAvg(), rssMb(), other, fMbps, busy, prevMbps,
      topStage, nStages, codeCacheMb(), janinoCompiles() - jc0,
      if (jm0 < 0 || jm1 < 0) -1L else jm1 - jm0,
      if (jit0 < 0 || jit1 < 0) -1L else jit1 - jit0)
  }

  /** One query's outcome: its run stamps, or the error that ended it. */
  type Outcome = (String, Either[Throwable, Seq[RunStamp]])

  /** Splits outcomes into the timed queries and the names of the failed
    * ones, both in input order. A failed query carries no timing at all:
    * a query that dies early would otherwise read as fast and count in
    * every total. */
  def splitFailed(rs: Seq[Outcome]): (Seq[(String, Seq[RunStamp])], Seq[String]) =
    (rs.collect { case (k, Right(v)) => k -> v }, rs.collect { case (k, Left(_)) => k })

  /** Bench's process exit code: 1 when any headline (`failed`) or sf1
    * (`sf1_failed`) query threw, else 0. The JSON lines are printed first
    * and stay the same; the exit code makes the failure loud to a caller
    * that reads only the status. */
  def exitCode(failed: Seq[String], sf1Failed: Seq[String]): Int =
    if (failed.isEmpty && sf1Failed.isEmpty) 0 else 1

  /** Sum over queries of each query's fastest run. */
  def minTotal(rs: Seq[(String, Seq[RunStamp])]): Double =
    rs.map(_._2.map(_.sec).min).sum

  /** CPU term: other processes averaged under `quietCeil` cores during the
    * run, OR under half a core-second absolute (sub-0.1 s runs see
    * jiffy-granularity noise; that little foreign work can't inflate
    * anything). */
  def cpuQuiet(r: RunStamp, quietCeil: Double): Boolean =
    r.otherCores <= quietCeil || r.otherCores * r.sec <= 0.5

  /** I/O term: foreign sustained rate under 64 MB/s (a co-located dd or
    * backup job runs hundreds), or under 256 MB absolute (small transfers
    * can't inflate a multi-second run), or the busiest device under 50%
    * busy (foreign bytes against an unsaturated disk don't delay us — and
    * our own delayed writeback rarely saturates). Regardless of those
    * escapes, a busy device combined with heavy TRAILING foreign traffic
    * (previous window or inter-run gap over the rate ceiling) is unquiet:
    * completion-time accounting let a sustained dd co-load stamp
    * foreignMbps 0.0 at devBusy 0.69 and alias into a quiet window
    * (r17 verdict item 5, dev/ioloadprobe_r17.jsonl line 5). */
  def ioQuiet(r: RunStamp): Boolean =
    r.foreignMbps < 0 || // unmeasurable → don't gate on it
      ((r.foreignMbps <= 64.0 ||
        r.foreignMbps * r.sec <= 256.0 ||
        r.devBusy <= 0.5) &&
       !(r.devBusy > 0.5 && r.prevForeignMbps > 64.0))

  def isQuiet(r: RunStamp, quietCeil: Double): Boolean =
    !cpuMeasurable || (r.otherCores >= 0 && cpuQuiet(r, quietCeil) && ioQuiet(r))

  /** A stamp as the bench artifact's positional array: [load before, load
    * after, RSS MB, foreign cores, foreign MB/s, device busy, slowest stage
    * s, stages, code cache MB, Janino compiles, Janino ms, JIT ms]. The
    * last three are deltas over the run: a warm run that compiled
    * anything shows it here. */
  def stampJson(r: RunStamp): String =
    s"[${r.loadBefore},${r.loadAfter},${r.rssAfterMb},${fmt2(r.otherCores)}," +
      s"${fmt2(r.foreignMbps)},${fmt2(r.devBusy)}," +
      s"${fmt2(r.topStageSec)},${r.stages},${r.codeCacheMb}," +
      s"${r.janinoCompiles},${r.janinoMs},${r.jitMs}]"

  /** Locale-independent 2-decimal formatting (r16 ADVICE: f"%.2f" uses the
    * default locale; a comma-decimal locale would emit invalid JSON). */
  def fmt2(x: Double): String =
    if (x.isNaN || x.isInfinite) "-1"
    else (math.round(x * 100.0) / 100.0).toString
}
