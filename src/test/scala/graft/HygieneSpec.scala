package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source-level hygiene gates — properties of the CODE, not of query
  * results, enforced by grepping `src/main` (the r15 VERDICT item 7
  * pattern: a rule that a ScanAudit sweep silently depends on should be
  * a loud compile-adjacent gate, not a convention).
  */
class HygieneSpec extends AnyFunSuite {

  private def mainSources: Seq[(Path, String)] = {
    val root = Paths.get("src/main/scala")
    Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .map(p => p -> Files.readString(p))
      .toSeq
  }

  test("GraftSession.tune is called only from entry points and tools") {
    // Query engines mutating global session conf made every conf-pinning
    // caller order-dependent (it blinded ScanAudit for five rounds —
    // EventsOps.ev() flipped AQE back on mid-sweep). Session tuning is an
    // entry-point responsibility; query paths are conf-read-only.
    val allowed = Set(
      "src/main/scala/graft/SparkEntry.scala",
      "src/main/scala/graft/engine/GraftSession.scala", // the definition
      "src/main/scala/graft/streaming/Streams.scala",   // streaming entry points
    )
    val offenders = mainSources.collect {
      case (p, text)
          if text.contains("GraftSession.tune(") &&
            !allowed.contains(p.toString) &&
            !p.toString.startsWith("src/main/scala/graft/tools/") =>
        p.toString
    }
    assert(offenders.isEmpty,
      s"query paths must not mutate session conf; tune() called from: $offenders")
  }

  test("one session factory: only GraftSession builds a SparkSession") {
    // The codegen-cache size and the shared class loader are static confs:
    // they reach a JVM only through the builder of its first session. A
    // hand-rolled builder drops them and every warm pass re-compiles its
    // classes. tools/Smoke imitates a bare external session on purpose.
    val allowed = Set(
      "src/main/scala/graft/engine/GraftSession.scala",
      "src/main/scala/graft/tools/Smoke.scala",
    )
    val builder = "SparkSession\\s*\\.\\s*builder\\b".r
    val offenders = Files.walk(Paths.get("src")).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && !allowed.contains(p.toString))
      .filter(p => builder.findFirstIn(Files.readString(p)).isDefined)
      .map(_.toString).toSeq
    assert(offenders.isEmpty,
      s"sessions must be built by GraftSession.build; builder found in: $offenders")
  }

  test("no per-round tools: no round-suffixed file under tools/") {
    // One profiling tool (tools/Profile) replaced a new probe file every
    // round; a name like ProbeR20.scala or JoinProbe.scala means one is
    // growing back.
    val offenders = mainSources.map(_._1.toString).filter(p =>
      p.startsWith("src/main/scala/graft/tools/") &&
        (p.matches(".*R\\d+\\.scala") || p.matches(".*/[^/]*Probe[^/]*\\.scala")))
    assert(offenders.isEmpty,
      s"per-round tool files (use tools/Profile instead): $offenders")
  }

  test("one list of graft SQL functions: only GraftExtensions registers them") {
    // A second registration list drifts from the first (mix64 was once
    // only in one, cosine_sim only in the other); sessions that need the
    // functions replay GraftExtensions (GraftExtensions.install).
    val offenders = mainSources.collect {
      case (p, text)
          if (text.contains("createOrReplaceTempFunction") ||
            text.contains("injectFunction")) &&
            p.toString != "src/main/scala/graft/engine/GraftExtensions.scala" =>
        p.toString
    }
    assert(offenders.isEmpty,
      s"SQL functions registered outside GraftExtensions: $offenders")
  }

  test("query engines do not set session conf") {
    // Same rule, wider net: `.conf.set(` inside graft.queries would make
    // results depend on which query ran first in a shared session.
    val offenders = mainSources.collect {
      case (p, text)
          if p.toString.startsWith("src/main/scala/graft/queries/") &&
            text.contains(".conf.set(") =>
        p.toString
    }
    assert(offenders.isEmpty,
      s"graft.queries must be conf-read-only; .conf.set found in: $offenders")
  }
}
