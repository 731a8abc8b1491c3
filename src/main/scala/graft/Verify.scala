package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: comma-separated name prefixes — dev-only filter
    // for gating a single query without the full ~190-query run. The driver
    // passes two args, so its gate always covers everything.
    val only: String => Boolean = args.lift(2) match {
      case Some(p) => val ps = p.split(","); name => ps.exists(name.startsWith)
      case None    => _ => true
    }
    // default to every core (the driver runs local[32]); env overrides
    val cpus = sys.env.get("SPARK_GRAFT_CPUS")
      .flatMap(c => scala.util.Try(c.trim.toInt).toOption)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    val spark = graft.engine.GraftSession.build("graft-verify", cpus)
    new java.io.File(outDir).mkdirs()
    // queries are independent; 4 concurrent Spark jobs keep the scheduler
    // busy through the many small-output queries (fair scheduling within
    // one session) and cut the gate's wall time roughly in half
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    // Per-query outcome, recorded for the completion manifest below. A
    // write failure is still only logged (the gate should report EVERY
    // query's verdict, not die on the first), but it is no longer silent:
    // the manifest distinguishes "engine never produced output" from "the
    // driver's harvest lost the artifact" — twice now (r03, r08) the
    // round's CORRECTNESS_r*.json arrived as `{}` with a fully green
    // engine, and nothing in the output could prove which side failed.
    val outcomes = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val selected = SparkEntry.queries.toSeq.filter(t => only(t._1))
    val futures = selected.map { case (name, fn) =>
      scala.concurrent.Future {
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          outcomes.put(name, "")
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          outcomes.put(name, Option(e.getMessage).getOrElse(e.getClass.getName))
        }
      }
    }
    scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(futures),
      scala.concurrent.duration.Duration.Inf)
    pool.shutdown()
    writeOracleSql(s"$outDir/oracle_sql.json")
    // Completion manifest: the machine-checkable record that Verify ran to
    // completion and what it produced. dev/check.py refuses to emit a
    // correctness artifact that covers fewer queries than `written` claims,
    // so an empty or truncated driver artifact is provably a harvest
    // failure, never a silently-zeroed engine.
    locally {
      import scala.jdk.CollectionConverters._
      val written = outcomes.asScala.toSeq.collect { case (n, "") => n }.sorted
      val failed = outcomes.asScala.toSeq.collect {
        case (n, msg) if msg.nonEmpty => n -> msg
      }.sortBy(_._1)
      val manifest =
        s"""{"queries_total": ${selected.size}, """ +
          s""""written": ${written.map(jsonString).mkString("[", ",", "]")}, """ +
          s""""failed": ${failed.map { case (n, m) =>
              s"${jsonString(n)}: ${jsonString(m.take(300))}" }
              .mkString("{", ",", "}")}}"""
      Files.writeString(Paths.get(s"$outDir/_manifest.json"), manifest)
      if (failed.nonEmpty) {
        System.err.println(s"[verify] ${failed.size}/${selected.size} queries FAILED: " +
          failed.map(_._1).mkString(", "))
      }
      System.err.println(
        s"[verify] manifest: ${written.size} written, ${failed.size} failed, " +
          s"${selected.size} total")
      // Provenance stamp: size + md5 of every JSON this run produced, on
      // BOTH stdout and stderr. If the round's harvested correctness
      // artifact arrives empty again (r03/r08/r09), one glance at this
      // line vs the committed fallback proves which side dropped it.
      def md5(p: String): String = {
        val d = java.security.MessageDigest.getInstance("MD5")
        d.digest(Files.readAllBytes(Paths.get(p))).map("%02x".format(_)).mkString
      }
      for (f <- Seq(s"$outDir/oracle_sql.json", s"$outDir/_manifest.json")) {
        val stamp = s"[verify] provenance: $f bytes=${Files.size(Paths.get(f))} md5=${md5(f)}"
        println(stamp); System.err.println(stamp)
      }
    }
    spark.stop()
  }

  /** JSON string literal. Escapes backslash, quote, and ALL control chars
    * (<0x20) — a tab or CR in hand-written oracle SQL would otherwise make
    * the DuckDB compare's json.load fail and silently zero the run's
    * correctness artifact. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Writes SparkEntry.oracleSql to `path` as the `oracle_sql.json` object
    * the DuckDB compare reads; returns the entry count. */
  def writeOracleSql(path: String): Int = {
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(path), json)
    SparkEntry.oracleSql.size
  }
}
