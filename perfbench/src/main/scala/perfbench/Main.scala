package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.engine.GraftSession
import graft.functions.{ghash, gvec}
import graft.queries.Dedup

/** Benchmark JVM. `perfbench/run.py` builds the classpath, starts this
  * JVM with the repository's run flags, and turns the raw artifact it
  * writes (`--out`) into the reported metrics.
  *
  * One run: set up (session, staged inputs, warm page cache), one cold
  * pass, one unreported warm-up pass, then warm passes until `--seconds`
  * have been measured (at least `--min-passes`). With `--trace 1` the
  * measured passes mix untraced and traced ones, so the trace can report
  * its own overhead. Finally the set-up is repeated twice in the same JVM,
  * so the reported set-up time is a median.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      data: String, tmp: Path, launchMs: Long, expected: Option[Path], out: Path,
      minPasses: Int, cores: Int, dump: Option[Path])

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def req(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(req("workload"), req("seed").toLong, req("seconds").toDouble, req("trace") == "1",
      req("data"), Paths.get(req("tmp")), req("launch-ms").toLong,
      m.get("expected").map(Paths.get(_)), Paths.get(req("out")),
      m.getOrElse("min-passes", "2").toInt,
      m.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors()),
      m.get("dump").map(Paths.get(_)))
  }

  def readExpected(p: Path): Map[String, (Long, Long)] =
    Files.readAllLines(p).asScala.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\t")).map(f => f(0) -> (f(1).toLong, f(2).toLong)).toMap

  def session(a: Args): SparkSession =
    GraftSession.build(appName = "perfbench", cores = a.cores)

  def main(argv: Array[String]): Unit = {
    val mainMs = System.currentTimeMillis()
    val a = parse(argv)
    a.dump match {
      case Some(dir) => dump(a, dir)
      case None => run(a, mainMs)
    }
  }

  def run(a: Args, mainMs: Long): Unit = {
    val expected = a.expected.map(readExpected).getOrElse(Map.empty)
    val workload = Workload(a.workload, a.data, a.seed, expected)
    val t0 = System.nanoTime()
    var spark = session(a)
    val sessionS = (System.nanoTime() - t0) / 1e9
    workload.stage(spark, a.tmp.resolve("work").resolve("stage0"))
    val readyMs = System.currentTimeMillis()
    val stageS = (System.nanoTime() - t0) / 1e9 - sessionS

    val trace = if (a.trace) Some(new Trace(spark, a.cores)) else None
    val passes = mutable.ArrayBuffer[Map[String, Any]]()

    def onePass(kind: String, traced: Boolean): Unit = {
      val spans = new Spans(traced)
      if (traced) trace.foreach(_.attach())
      val (gc0, jit0) = (Sys.gc(), Sys.jitSeconds())
      val t = System.nanoTime()
      val ops = workload.pass(spark, passes.size, spans)
      val wall = (System.nanoTime() - t) / 1e9
      val layers = if (!traced) Map.empty[String, Any] else {
        val (gc1, jit1) = (Sys.gc(), Sys.jitSeconds())
        val jvm = Map("jvm.gc_s" -> (gc1._1 - gc0._1), "jvm.gc_count" -> (gc1._2 - gc0._2).toDouble,
          "jvm.jit_s" -> (jit1 - jit0), "jvm.code_cache_mb" -> Sys.codeCacheMb(),
          "jvm.heap_committed_mb" -> Sys.heapCommittedMb(),
          "jvm.rss_anon_mb" -> Sys.statusMb("RssAnon"), "jvm.rss_file_mb" -> Sys.statusMb("RssFile"))
        val s = trace.get.summarize(spans.take(), workload.passExtra() ++ jvm)
        trace.foreach(_.detach())
        s
      }
      passes += Map("kind" -> kind, "traced" -> traced, "wall_s" -> wall,
        "timed_s" -> ops.map(_.seconds).sum,
        "loadavg" -> Sys.loadavg(),
        "ops" -> ops.map(o => Map("name" -> o.name, "seconds" -> o.seconds, "ok" -> o.ok,
          "error" -> o.error))) ++ layers
      ops.filterNot(_.ok).foreach(o => System.err.println(s"[perfbench] ${o.name} failed: ${o.error.get}"))
    }

    onePass("cold", traced = false)
    // the first warm pass still runs partly interpreted; it is not reported
    onePass("warmup", traced = false)
    val io0 = Sys.io()
    val m0 = System.nanoTime()
    var n = 0
    while (n < a.minPasses * (if (a.trace) 2 else 1) || (System.nanoTime() - m0) / 1e9 < a.seconds) {
      // untraced, traced, traced, untraced, ...: both kinds see the same
      // share of the JIT warm-up that is left
      onePass("warm", traced = a.trace && (n % 4 == 1 || n % 4 == 2))
      n += 1
    }
    val measuredS = (System.nanoTime() - m0) / 1e9
    val io1 = Sys.io()
    val window = Map("seconds" -> measuredS) ++
      Seq("rchar", "wchar", "read_bytes", "write_bytes").map(k =>
        k -> (io1.getOrElse(k, 0L) - io0.getOrElse(k, 0L)))
    val afterRun = Sys.provenance()
    val functions = if (a.trace) functionProbes(spark, a.data) else Map.empty[String, Double]
    val tmpBytes = Sys.dirBytes(a.tmp)

    // set-up again, twice, after a full teardown: launch-to-main is paid
    // once per JVM, so each repeat is charged the first one's share
    val launchS = (mainMs - a.launchMs) / 1e3
    val repeats = (1 to 2).map { i =>
      spark.stop()
      val r0 = System.nanoTime()
      spark = session(a)
      workload.stage(spark, a.tmp.resolve("work").resolve(s"stage$i"))
      launchS + (System.nanoTime() - r0) / 1e9
    }
    spark.stop()

    val artifact = Map(
      "workload" -> a.workload, "seed" -> a.seed, "cores" -> a.cores,
      "seconds" -> a.seconds, "trace" -> a.trace,
      "setup" -> Map("setup_s" -> ((readyMs - a.launchMs) / 1e3 +: repeats),
        "launch_to_main_s" -> launchS, "session_s" -> sessionS, "stage_s" -> stageS),
      "passes" -> passes.toSeq, "window" -> window, "functions" -> functions,
      "tmp_bytes_at_end" -> tmpBytes, "jvm" -> afterRun)
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    Files.writeString(a.out, json.writeValueAsString(artifact))
  }

  /** Fixed calls into `graft.functions` over the sf0.1 documents (ten
    * copies) and embeddings (against 64 query vectors), each into a noop
    * sink; the median of five calls each.
    */
  def functionProbes(spark: SparkSession, data: String): Map[String, Double] = {
    import org.apache.spark.sql.functions.{broadcast, explode, lit, sequence, split}
    val copies = explode(sequence(lit(1), lit(10)))
    val docs = spark.read.parquet(s"$data/documents.parquet").select(col("text"), copies)
      .localCheckpoint(true)
    val emb = spark.read.parquet(s"$data/embeddings.parquet")
    val shingled = docs.select(Dedup.shingleHashes(col("text")).as("sh")).localCheckpoint(true)
    val queries = broadcast(emb.filter(col("vec_id") < 64).select(col("embedding").as("q")))
    def median5(df: org.apache.spark.sql.DataFrame): Double = {
      val xs = (1 to 5).map { _ =>
        val t = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t) / 1e9
      }.sorted
      xs(2)
    }
    Map(
      "functions.minhash_sig_s" -> median5(shingled.select(ghash.minhashSig(col("sh"), 32))),
      "functions.fnv1a64_s" -> median5(docs.select(ghash.fnv1a64(col("text")),
        ghash.fnv1a64(split(col("text"), " ").getItem(0)))),
      "functions.cosine_sim_s" -> median5(emb.crossJoin(queries)
        .select(gvec.cosineSim(col("embedding"), col("q")))),
    )
  }

  /** Writes each query's output, digest and oracle SQL under `dir`, for
    * `perfbench/oracle.py` to cross-check against DuckDB.
    */
  def dump(a: Args, dir: Path): Unit = {
    val spark = session(a)
    Files.createDirectories(dir)
    val lines = (Workload.headline ++ Workload.barriers).map { name =>
      val spec = graft.Registry.byName(name)
      val df = spec.run(spark, a.data)
      df.coalesce(1).write.mode("overwrite").parquet(dir.resolve(name).toString)
      spec.oracle.foreach(sql => Files.writeString(dir.resolve(s"$name.sql"), sql))
      val (rows, dig) = Workload.digest(df)
      s"$name\t$rows\t$dig"
    }
    Files.write(dir.resolve("digests.tsv"), lines.asJava)
    spark.stop()
  }
}
