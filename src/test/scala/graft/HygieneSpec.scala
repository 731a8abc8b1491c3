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

  test("query objects declare their specs lazily") {
    // A strict `val specs` builds every oracle string while its object
    // initializes, so a constant declared below it reads 0 or null inside
    // the oracle text while the Scala side reads the right value.
    val decl = "(?m)^\\s*((?:lazy\\s+)?val|def)\\s+specs\\b".r
    val found = mainSources
      .filter(_._1.toString.startsWith("src/main/scala/graft/queries/"))
      .flatMap { case (p, text) =>
        decl.findAllMatchIn(text).map(m => p.getFileName.toString -> m.group(1))
      }
    val registered = "queries\\.[A-Za-z0-9]+\\.specs".r
      .findAllIn(Files.readString(Paths.get("src/main/scala/graft/Registry.scala")))
      .size
    assert(found.size == registered,
      s"$registered objects in Registry, specs declarations found: $found")
    val strict = found.filterNot(_._2.matches("lazy\\s+val"))
    assert(strict.isEmpty, s"specs must be a lazy val in: $strict")
  }

  test("each shared curation stage's oracle SQL is spelled once") {
    // A stage whose oracle text is copied into every row that uses it is
    // as many anchors as copies, free to drift apart; each row reads the
    // one builder instead. A fragment found twice is a copy growing back.
    val stages = Seq(
      "t13 score (TextOps.t13ScoreCtesFrom)" -> "/ 9.223372036854775808e18 AS VARCHAR",
      "Gopher signals (TextOps.Gopher.signalSqlCtes)" -> "list_contains([$stopsSql], x)",
      "Gopher keep rule (TextOps.Gopher.okSql)" -> "n_stopwords >= ",
      "calibration sweep (TextOps.sweepOracleSql)" -> "CASE WHEN label THEN 1 ELSE 0 END",
      "line-dedup clean (LineDedup.cleanSqlCtes)" ->
        "COALESCE(string_agg(CASE WHEN keep THEN line END",
      "line-dedup clean, Spark (LineDedup.cleaned)" -> "keptTextAgg.as(\"text\")",
      "connected components (Dedup.componentSqlCtes)" ->
        "UNION ALL SELECT b_id, a_id FROM pairs",
      "mutual kNN edges (Similarity.mutualComponentSqlCtes)" ->
        "SELECT LEAST(q_id, neighbor_id) AS a_id",
      "KN gram struct (Corpus.knGramStruct)" -> "'g$j': ts[i+",
    )
    def occurrences(text: String, frag: String): Int =
      Iterator.iterate(text.indexOf(frag))(i => text.indexOf(frag, i + 1))
        .takeWhile(_ >= 0).size
    val texts = mainSources.map(_._2)
    val counts = stages.map { case (stage, frag) =>
      stage -> texts.map(occurrences(_, frag)).sum
    }
    val wrong = counts.filter(_._2 != 1)
    assert(wrong.isEmpty, s"stages not spelled exactly once under src/main: $wrong")
  }

  /** Every defaulted parameter of a `def` in graft.queries and
    * graft.streaming, as "File.def.param". Scaladoc is blanked first; each
    * parameter list is read by bracket depth, and a parameter is defaulted
    * when it holds a top-level `=` that is not part of `=>`, `==`, `<=`,
    * `>=` or `!=`.
    */
  private def defaultedParams: Set[String] = {
    val dirs = Seq("src/main/scala/graft/queries", "src/main/scala/graft/streaming")
    val defRe = "\\bdef\\s+([A-Za-z_][A-Za-z0-9_]*)".r
    def closing(s: String, from: Int): Int = {
      var depth = 0
      var j = from
      while ({
        val c = s.charAt(j)
        if ("([{".indexOf(c) >= 0) depth += 1
        else if (")]}".indexOf(c) >= 0) depth -= 1
        depth != 0
      }) j += 1
      j
    }
    def topLevel(p: String): Seq[(Char, Int, Int)] = { // (char, index, depth)
      var depth = 0
      p.zipWithIndex.map { case (c, i) =>
        if ("([{".indexOf(c) >= 0) depth += 1
        else if (")]}".indexOf(c) >= 0) depth -= 1
        (c, i, depth)
      }
    }
    dirs.flatMap(d => Files.list(Paths.get(d)).iterator().asScala)
      .filter(_.toString.endsWith(".scala")).flatMap { path =>
        val file = path.getFileName.toString.stripSuffix(".scala")
        val src = "(?s)/\\*.*?\\*/".r
          .replaceAllIn(Files.readString(path), m => " " * m.matched.length)
        defRe.findAllMatchIn(src).flatMap { m =>
          val lists = scala.collection.mutable.Buffer.empty[String]
          var i = m.end
          var more = true
          while (more) {
            while (i < src.length && " \t\n".indexOf(src.charAt(i)) >= 0) i += 1
            if (i < src.length && (src.charAt(i) == '(' || src.charAt(i) == '[')) {
              val j = closing(src, i)
              if (src.charAt(i) == '(') lists += src.substring(i + 1, j)
              i = j + 1
            } else more = false
          }
          lists.flatMap { raw =>
            val p = "//[^\n]*".r.replaceAllIn(raw, "")
            val cuts = topLevel(p).collect { case (',', i, 0) => i }
            (-1 +: cuts).zip(cuts :+ p.length).map { case (a, b) => p.substring(a + 1, b) }
              .filter { q =>
                topLevel(q).exists { case (c, k, dep) =>
                  c == '=' && dep == 0 &&
                    !(k + 1 < q.length && "=>".indexOf(q.charAt(k + 1)) >= 0) &&
                    !(k > 0 && "=<>!".indexOf(q.charAt(k - 1)) >= 0)
                }
              }
              .map(q => s"$file.${m.group(1)}." + q.split(":")(0).trim.split("\\s+").last)
          }
        }
      }.toSet
  }

  test("defaulted query-layer parameters are an allow-list, each with its second caller") {
    // A parameter whose every production caller passes one value is a
    // constant, read by the row and its oracle (Similarity.IvfK, Dedup
    // .MinHashK, Corpus.BudgetMult …). A default survives only where a
    // spec exercises a law at another value or a second caller passes
    // another value; the reason names that caller.
    val allowed = Map(
      "Corpus.unigramLmScore.broadcastVocabMax" -> "CorpusSpec shuffle path (0)",
      "Corpus.bigramLmScore.broadcastVocabMax" -> "CorpusSpec shuffle path (0)",
      "Corpus.dsirSelect.broadcastVocabMax" -> "CorpusSpec shuffle path (0)",
      "Corpus.knNgramScore.broadcastTypesMax" -> "CorpusSpec shuffle path (0)",
      "Corpus.knNgramScoreOpenVocab.broadcastTypesMax" -> "CorpusSpec shuffle path (0)",
      "TextOps.hostPriorFilter.broadcastHostsMax" -> "EdgeSpec shuffle path (0)",
      "Corpus.knNgramScore.minCount" -> "c35b and c32b rows (minCount = 2)",
      "Corpus.knNgramModel.minCount" -> "CorpusSpec order-3 fixture; knScoreFromCounts passes it",
      "Corpus.knNgramScoreCtes.minCount" -> "c35b oracle (minCount = 2)",
      "Corpus.knNgramScoreCtes.where" -> "c38 oracle (retracted docs)",
      "Corpus.knNgramScoreIncremental.cutOverride" -> "CorpusSpec c36 edge cutoffs",
      "Dedup.lshOracleSql.newPred" -> "d10/d20 incremental oracles",
      "Dedup.lshOracleSql.corpusSql" -> "sf1-slice and d20 oracles",
      "Dedup.lshOracleSql.finalSql" -> "d20 oracle tail",
      "Dedup.ngramJaccardPairs.bucketed" -> "DedupSpec blocked-vs-unblocked law",
      "Dedup.connectedComponents.maxRounds" -> "DedupSpec round-cap law (1)",
      "Dedup.connectedComponents.localThreshold" -> "DedupSpec/EdgeSpec distributed path",
      "Dedup.lineKeep.width" -> "PropertySpec width property",
      "Dedup.bloomGuardedNewRows.expectedItems" -> "PropertySpec expectedItems sweep",
      "Pipeline.zoneOracleSql.where" -> "p17 oracle (taken-down rows)",
      "Similarity.ivfCentroids.iters" -> "SimilaritySpec s04 Lloyd objective (1 round)",
      "Similarity.ivfPqServe.nprobe" -> "SimilaritySpec s18 composition law (IvfK)",
      "Similarity.ivfPqAnn.trainPred" -> "s18b row (sampled training)",
      "Similarity.ivfPqResidualAnn.trainPred" -> "s19b row (sampled training)",
      "Similarity.ivfPqIndexAppend.deletes" -> "s20b row (tombstones)",
      "Similarity.lshAnn.cap" -> "SimilaritySpec s02 bucket guard (50)",
      "Similarity.crossCorpusEmbeddingNearDup.benchProbes" -> "d23 row (2); SimilaritySpec probe sweep",
      "Similarity.mutualComponents.nBits" -> "semanticSurvivors (scaledBits)",
      "Similarity.semanticSurvivors.nBits" -> "s17b row (scaledBits)",
      "Similarity.sq8Quantize.dim" -> "SimilaritySpec sq8 dim = 3 fixture",
      "Similarity.pqOracleSubCtes.src" -> "s19 oracle (residuals)",
      "Similarity.pqOracleSubCtes.tsrc" -> "s18b/s19b oracles (training sample)",
      "TextOps.t20Features.extra" -> "t20b (in_sample)",
      "TextOps.t20Margins.extra" -> "t20b (in_sample)",
    )
    val found = defaultedParams
    val unlisted = found -- allowed.keySet
    assert(unlisted.isEmpty,
      s"defaulted parameters without an allow-list entry (make them constants, " +
        s"or name the caller that passes another value): ${unlisted.toSeq.sorted}")
    val stale = allowed.keySet -- found
    assert(stale.isEmpty, s"allow-list entries with no defaulted parameter: ${stale.toSeq.sorted}")
  }
}
