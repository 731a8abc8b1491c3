package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.QuerySpec
import graft.engine.Tables
import graft.functions.ghash

/** Text-analysis operators over the `documents` table — the reference has no
  * string processing at all (SURVEY.md §2.3: the expression surface is 6
  * variants with zero string functions), so this whole module is the
  * training-data-pipeline extension surface.
  *
  * All ops are narrow (per-row map, no shuffle) except the final ORDER BY —
  * at 100 TB they run at scan speed with full column pruning (only `doc_id`
  * and `text` are read; .explain shows ReadSchema with 2 columns).
  */
object TextOps {

  private def docs(s: SparkSession, d: String): DataFrame = Tables(s, d, "documents")

  /** Whitespace tokens. The testdata is single-space separated; a real corpus
    * would use the regex variant below (kept identical to the oracle).
    */
  private def tokens(c: Column): Column = split(c, " ")

  // Language marker stopwords — tiny, high-precision function-word lists.
  // The n-gram-free heuristic: count marker hits per language, argmax with a
  // fixed priority order for ties.
  private val markers: Seq[(String, Seq[String], Int)] = Seq(
    ("en", Seq("the", "and", "of", "to", "is", "in", "that", "it", "with", "for"), 5),
    ("de", Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "den"), 4),
    ("fr", Seq("le", "la", "les", "et", "est", "une", "dans", "que", "pour", "des"), 3),
    ("es", Seq("el", "los", "las", "es", "una", "en", "que", "por", "para", "con"), 2),
    ("zh", Seq("的", "是", "在", "了", "和", "有", "我", "不", "这", "也"), 1),
  )

  private def markerCount(toks: Column, words: Seq[String]): Column =
    size(filter(toks, x => array_contains(array(words.map(lit): _*), x)))

  /** Deterministic argmax over (score, priority, lang) structs. */
  def langIdExpr(text: Column): Column = {
    val toks = tokens(text)
    val scored = markers.map { case (lang, words, prio) =>
      struct(
        markerCount(toks, words).as("score"),
        lit(prio).as("prio"),
        lit(lang).as("lang"))
    }
    array_max(array(scored: _*)).getField("lang")
  }

  private val enStop = markers.head._2

  /** t17's char-n-gram language classifier — the upgrade path from t03's
    * marker-word argmax: language profiles are DISTINCT CHAR TRIGRAMS of
    * the (space-padded) marker vocabularies, and a doc's per-language
    * score is its trigram hit COUNT against each profile (argmax with the
    * t03 prio tie-break). Trigram membership is how fastText-style
    * lang-id actually discriminates — robust to unseen words sharing
    * morphology — while staying a pure map-side scan op: the profiles are
    * literal arrays folded into the plan (a real model would broadcast
    * them, c13 pattern), and the SAME Scala data generates the DuckDB
    * oracle's literals, so both engines share one source of truth.
    * Restricted to the 4 ASCII vocabularies: CJK trigrams would ride on
    * char-vs-byte substring semantics across engines, which is a
    * different contract than the classifier under test.
    */
  private[graft] object LangClassifier {
    val langs: Seq[(String, Seq[String], Int)] = markers.take(4)
    val Words = 20 // planted doc length; 3j mod 10 covers every vocab index

    def profile(words: Seq[String]): Seq[String] =
      words.flatMap { w =>
        val s = " " + w + " "
        (0 to s.length - 3).map(i => s.substring(i, i + 3))
      }.distinct

    /** Planted multilingual corpus: doc_id % 4 selects the language; word
      * j is vocab[(doc_id·7 + j·3) mod 10] — gcd(3,10)=1, so every doc
      * cycles through its whole vocabulary (full profile coverage).
      */
    def plant(docs: DataFrame): DataFrame = {
      val arrs = langs.map { case (_, ws, _) => array(ws.map(lit): _*) }
      def gen(l: Int): Column = concat_ws(" ",
        transform(sequence(lit(0), lit(Words - 1)),
          j => element_at(arrs(l),
            (pmod(col("doc_id") * 7 + j * 3, lit(10)) + 1).cast("int"))))
      def pick(f: Int => Column): Column =
        (0 until 3).foldLeft(when(lit(false), lit(null))) { (acc, l) =>
          acc.when(pmod(col("doc_id"), lit(4)) === l, f(l))
        }.otherwise(f(3))
      docs.select(col("doc_id"),
        pick(l => lit(langs(l)._1)).as("lang_label"),
        pick(gen).as("text"))
    }

    /** Per-language DISTINCT-trigram hit counts + argmax over
      * k = hits·10 + prio (prio < 10 and prios are distinct, so k values
      * never collide and k div 10 recovers the winner's hit count).
      * Scoring is SET intersection (|distinct doc grams ∩ profile|), not
      * per-occurrence scanning: `array_intersect` hash-builds one side
      * per row — O(|grams| + |profile|) per language — where the original
      * per-gram `array_contains` fold was O(|grams| · |profile|); the
      * 200k-doc probe measured the set form ~45× cheaper with identical
      * discrimination (a language's profile covers a doc's distinct grams
      * exactly as it covers its occurrences).
      */
    def classify(planted: DataFrame): DataFrame = {
      val padded = concat(lit(" "), col("text"), lit(" "))
      val grams = transform(sequence(lit(1), length(padded) - 2),
        i => substring(padded, i, lit(3)))
      val withG = planted.select(col("doc_id"), col("lang_label"),
        array_distinct(grams).as("grams"))
      val ks = langs.map { case (lang, ws, prio) =>
        (size(array_intersect(col("grams"),
          array(profile(ws).map(lit): _*)))
          .cast(LongType) * 10 + prio).as(s"k_$lang")
      }
      val kCols = langs.map { case (lang, _, _) => col(s"k_$lang") }
      val best = greatest(kCols: _*)
      val pred = langs.init.foldLeft(when(lit(false), lit(null))) {
        case (acc, (lang, _, _)) => acc.when(best === col(s"k_$lang"), lang)
      }.otherwise(langs.last._1)
      withG
        .withColumn("n_grams", size(col("grams")).cast(LongType))
        .select(Seq(col("doc_id"), col("lang_label"), col("n_grams")) ++ ks: _*)
        .select(col("doc_id"), col("lang_label"), pred.as("lang_pred"),
          (expr("greatest(" + langs.map(l => s"k_${l._1}").mkString(",") +
            ") div 10").cast(DoubleType) /
            col("n_grams").cast(DoubleType)).as("confidence"))
        .orderBy("doc_id")
    }

    def oracleSql: String = {
      def lits(ss: Seq[String]) = ss.map(s => s"'$s'").mkString(", ")
      val vocabCases = langs.zipWithIndex.map { case ((_, ws, _), l) =>
        s"WHEN ${l} THEN list_extract([${lits(ws)}], CAST((doc_id*7 + j*3) % 10 + 1 AS BIGINT))"
      }.mkString("\n           ")
      val kDefs = langs.map { case (lang, ws, prio) =>
        s"""CAST(len(list_intersect(grams, [${lits(profile(ws))}]))
           |      AS BIGINT) * 10 + $prio AS k_$lang""".stripMargin
      }.mkString(",\n    ")
      val kNames = langs.map(l => s"k_${l._1}").mkString(", ")
      val predCases = langs.init.map { case (lang, _, _) =>
        s"WHEN k_$lang THEN '$lang'"
      }.mkString(" ")
      s"""WITH corpus AS (
         |  SELECT doc_id,
         |    CASE doc_id % 4 ${langs.zipWithIndex.map { case ((lang, _, _), l) =>
               s"WHEN $l THEN '$lang'" }.mkString(" ")} END AS lang_label,
         |    array_to_string(list_transform(range(0, $Words), j ->
         |      CASE doc_id % 4
         |           $vocabCases
         |      END), ' ') AS text
         |  FROM documents),
         |p AS (
         |  SELECT doc_id, lang_label, ' ' || text || ' ' AS pt FROM corpus),
         |g AS (
         |  SELECT doc_id, lang_label,
         |    list_distinct(list_transform(range(1, length(pt) - 1),
         |      i -> substr(pt, CAST(i AS BIGINT), 3))) AS grams
         |  FROM p),
         |sc AS (
         |  SELECT doc_id, lang_label,
         |    CAST(len(grams) AS BIGINT) AS n_grams,
         |    $kDefs
         |  FROM g)
         |SELECT doc_id, lang_label,
         |  CASE greatest($kNames) $predCases ELSE '${langs.last._1}' END
         |    AS lang_pred,
         |  CAST(greatest($kNames) // 10 AS DOUBLE) / CAST(n_grams AS DOUBLE)
         |    AS confidence
         |FROM sc ORDER BY doc_id""".stripMargin
    }
  }

  /** Gopher rule battery — ONE definition shared by the t09 gate and the
    * p01 publish pipeline. The stage-coupling rot p01 exists to catch
    * would otherwise start right here: duplicated thresholds/stop lists
    * drifting until the pipeline publishes under different rules than the
    * gate verifies.
    */
  private[graft] object Gopher {
    val stops: Seq[String] = enStop :+ "a"
    val stopsSql: String = stops.map(w => s"'$w'").mkString(", ")
    val MinWords = 20
    val MaxWords = 10000
    val MwlLo = 2.5
    val MwlHi = 8.0
    val MinStops = 2
    val RepMax = 0.2

    /** The four signals over a raw text column, in contract order:
      * n_words (long), mean_word_len (double), n_stopwords (long),
      * rep_ratio (double). Pure per-row column math.
      */
    def signals(text: Column): Seq[Column] = {
      val t = split(text, " ")
      val grams = transform(
        sequence(lit(1), greatest(size(t) - 2, lit(1))),
        i => concat_ws(" ", slice(t, i, lit(3))))
      Seq(
        size(t).cast(LongType),
        length(translate(text, " ", "")).cast(DoubleType) /
          size(t).cast(DoubleType),
        size(filter(t, x => array_contains(array(stops.map(lit): _*), x)))
          .cast(LongType),
        (size(grams) - size(array_distinct(grams))).cast(DoubleType) /
          size(grams).cast(DoubleType))
    }

    def keep(nWords: Column, mwl: Column, nStop: Column, rep: Column): Column =
      nWords.between(MinWords, MaxWords) &&
        mwl.between(MwlLo, MwlHi) && nStop >= MinStops && rep < RepMax

    /** [[signals]] as DuckDB CTEs over relation `src` (doc_id, text, …):
      * `gt` → `gg` → `sig(doc_id, carry…, n_words, mean_word_len,
      * n_stopwords, rep_ratio)` — the ONE oracle-side definition read by
      * t09, t23, the ensemble rows and the p01/p05/p18 publish gates.
      */
    def signalSqlCtes(src: String, carry: Seq[String]): String =
      s"""gt AS (
         |  SELECT *, string_split(text, ' ') AS toks
         |  FROM $src),
         |gg AS (
         |  SELECT *,
         |    list_transform(
         |      range(1, CASE WHEN len(toks) - 2 > 1
         |                    THEN len(toks) - 2 ELSE 1 END + 1),
         |      i -> array_to_string(toks[i:i+2], ' ')) AS grams
         |  FROM gt),
         |sig AS (
         |  SELECT ${("doc_id" +: carry).mkString(", ")},
         |    CAST(len(toks) AS BIGINT) AS n_words,
         |    CAST(length(replace(text, ' ', '')) AS DOUBLE)
         |      / CAST(len(toks) AS DOUBLE) AS mean_word_len,
         |    CAST(len(list_filter(toks, x -> list_contains([$stopsSql], x)))
         |      AS BIGINT) AS n_stopwords,
         |    CAST(len(grams) - len(list_distinct(grams)) AS DOUBLE)
         |      / CAST(len(grams) AS DOUBLE) AS rep_ratio
         |  FROM gg)""".stripMargin

    /** t09's per-rule predicates over the `sig` columns, by output name. */
    val okSql: Seq[(String, String)] = Seq(
      "ok_len" -> s"n_words BETWEEN $MinWords AND $MaxWords",
      "ok_mwl" -> s"mean_word_len BETWEEN $MwlLo AND $MwlHi",
      "ok_stop" -> s"n_stopwords >= $MinStops",
      "ok_rep" -> s"rep_ratio < $RepMax")

    /** [[keep]] as DuckDB text over the `sig` columns. */
    val keepSql: String = okSql.map { case (_, p) => s"($p)" }.mkString(" AND ")
  }

  /** t12's readability pieces — shared by the contract query (over its
    * planted sentence structure) and the real-prose ReadabilitySpec gate.
    * Sentence count is the period count; the syllable proxy is the
    * vowel-group count via the marked-minus-stripped length diff.
    */
  private[graft] def sentCount(t: Column): Column =
    (length(t) - length(regexp_replace(t, "\\.", ""))).cast(LongType)

  private[graft] def syllCount(t: Column): Column =
    (length(regexp_replace(t, "[aeiouy]+", "V")) -
      length(regexp_replace(t, "[aeiouy]+", ""))).cast(LongType)

  /** Flesch Reading Ease, left-associated exactly as the oracle writes it. */
  private[graft] def freExpr(nWords: Column, nSents: Column,
      nSylls: Column): Column =
    lit(206.835) -
      lit(1.015) * (nWords.cast(DoubleType) / nSents.cast(DoubleType)) -
      lit(84.6) * (nSylls.cast(DoubleType) / nWords.cast(DoubleType))

  /** t13's hashed-feature set: unigrams ++ adjacent bigrams (c03's zip). */
  private def classifierFeats(text: Column): Column = {
    val t = tokens(text)
    val bi = zip_with(
      slice(t, lit(1), size(t) - 1), slice(t, lit(2), size(t) - 1),
      (a, b) => concat(a, lit(" "), b))
    concat(t, bi)
  }

  private[graft] def classifierNFeats(text: Column): Column =
    size(classifierFeats(text)).cast(LongType)

  /** t13's score chain as DuckDB CTEs ending in
    * `sc(doc_id, n_feats, score)` — ONE oracle-side definition shared by
    * t13 and every oracle that consumes the classifier score (t22, t23,
    * t24, and through [[ensembleOracleCtesFrom]] t25, t25b, t26 and p16).
    */
  private def t13ScoreCtes: String = t13ScoreCtesFrom("documents")

  private def t13ScoreCtesFrom(src: String): String = {
    import graft.engine.DuckHash
    s"""tk AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks FROM $src),
       |ft AS (
       |  SELECT doc_id, list_concat(toks,
       |    list_transform(range(1, len(toks)),
       |      i -> toks[i] || ' ' || toks[i+1])) AS feats
       |  FROM tk),
       |ws AS (
       |  SELECT doc_id, CAST(len(feats) AS BIGINT) AS n_feats,
       |    list_transform(${DuckHash.mixChain("feats")},
       |      v -> CAST(CAST(CAST(${DuckHash.signed("v")} AS DOUBLE)
       |                     / 9.223372036854775808e18 AS VARCHAR)
       |                AS DECIMAL(38,10))) AS wd
       |  FROM ft),
       |sc AS (
       |  SELECT doc_id, n_feats,
       |    CAST(CAST(list_reduce(list_prepend(0::DECIMAL(38,10), wd),
       |           (a, b) -> a + b) AS VARCHAR) AS DOUBLE)
       |      / CAST(n_feats AS DOUBLE) AS score
       |  FROM ws)""".stripMargin
  }

  /** t13's linear score — ONE definition shared by the contract query and
    * the PropertySpec partitioning-invariance gate.
    *
    * Accumulator precisions chosen so no decimal op hits the p=38 cap:
    * Spark's Add((38,10),(38,10)) overflows to (38,9) under the
    * precision-loss rule and silently drops the 10th decimal digit
    * (caught by the oracle gate when this fold first used (38,10)).
    * |w| ≤ 1 fits (11,10); acc (27,10) + w (11,10) → (28,10), exact,
    * cast back to (27,10) is lossless for any realistic doc length.
    */
  private[graft] def classifierScore(text: Column): Column = {
    import org.apache.spark.sql.types.DecimalType
    val accT = DecimalType(27, 10)
    val wT = DecimalType(11, 10)
    val feats = classifierFeats(text)
    val ws = transform(feats,
      f => ghash.mix64(ghash.fnv1a64(f)).cast(DoubleType) /
        lit(9.223372036854775808e18))
    val sumDec = aggregate(ws, lit(0).cast(accT),
      (acc, w) => (acc + w.cast(wT)).cast(accT))
    sumDec.cast(DoubleType) / size(feats).cast(DoubleType)
  }

  /** t23's threshold grid — string decimal literals shared verbatim by
    * the Spark side (parsed) and the oracle text (spliced): the hoisted-
    * constant house rule, and both engines bind each literal to the same
    * nearest double.
    */
  private[graft] val T23Grid: Seq[String] =
    // BigDecimal rendering, not f"%.2f": the f-interpolator formats with
    // the JVM default locale, and a comma-decimal locale would produce
    // literals that neither .toDouble nor DuckDB's UNNEST parse (r16
    // ADVICE — same fix as T26Grid).
    (-5 to 5).map(i => BigDecimal(i).bigDecimal.movePointLeft(2).toPlainString)

  /** t23's engine — classifier threshold calibration: keep-rate,
    * precision and recall of the t13 score against the Gopher rule-based
    * labels at each grid threshold — the tuning table a pipeline produces
    * before picking its quality cutoff (FineWeb-Edu's "choose τ by
    * inspecting the keep-rate/precision trade-off" step).
    *
    * Scale shape: ONE corpus pass extracts (score, label) — both
    * map-side expressions — into a checkpointed narrow frame; the grid
    * cross join is a broadcast of 11 rows absorbed by partial
    * aggregation (11 keys of state). 100 TB cost = one scan.
    */
  def thresholdSweep(in: DataFrame): DataFrame = {
    val Seq(nw, mwl, nst, rep) = Gopher.signals(col("text"))
    val base = in.select(col("doc_id"),
        classifierScore(col("text")).as("score"),
        Gopher.keep(nw, mwl, nst, rep).as("label"))
      .localCheckpoint(true)
    sweepTable(base, T23Grid)
  }

  /** The calibration-sweep tail shared by t23 (t13 scores) and t26 (the
    * t25 ensemble): keep-rate / precision / recall per grid threshold
    * over a checkpointed (doc_id, score, label) frame — 11 broadcast
    * rows absorbed by partial aggregation, one pass.
    */
  private def sweepTable(base: DataFrame, gridLits: Seq[String]): DataFrame = {
    val s = base.sparkSession
    import s.implicits._
    val grid = broadcast(gridLits.map(_.toDouble).toDF("threshold"))
    base.crossJoin(grid)
      .groupBy("threshold")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("score") > col("threshold"), 1L).otherwise(0L))
          .as("n_keep"),
        sum(when(col("score") > col("threshold") && col("label"), 1L)
          .otherwise(0L)).as("tp"),
        sum(when(col("label"), 1L).otherwise(0L)).as("n_pos"))
      .select(col("threshold"), col("n_keep"),
        (col("n_keep").cast(DoubleType) / col("n_docs").cast(DoubleType))
          .as("keep_rate"),
        when(col("n_keep") > 0,
          col("tp").cast(DoubleType) / col("n_keep").cast(DoubleType))
          .as("prec"),
        when(col("n_pos") > 0,
          col("tp").cast(DoubleType) / col("n_pos").cast(DoubleType))
          .as("recall"))
      .orderBy("threshold")
  }

  /** [[sweepTable]] as the DuckDB tail of a WITH over an in-scope
    * `base(doc_id, score, label)` CTE — shared by the t23 and t26 oracles.
    */
  private def sweepOracleSql(gridLits: Seq[String]): String =
    s"""grid AS (SELECT CAST(UNNEST([${gridLits.mkString(", ")}]) AS DOUBLE)
       |  AS threshold),
       |agg AS (
       |  SELECT threshold, COUNT(*) AS n_docs,
       |    CAST(SUM(CASE WHEN score > threshold THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_keep,
       |    CAST(SUM(CASE WHEN score > threshold AND label THEN 1 ELSE 0 END)
       |      AS BIGINT) AS tp,
       |    CAST(SUM(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT) AS n_pos
       |  FROM base, grid GROUP BY threshold)
       |SELECT threshold, n_keep,
       |  CAST(n_keep AS DOUBLE) / CAST(n_docs AS DOUBLE) AS keep_rate,
       |  CASE WHEN n_keep > 0
       |    THEN CAST(tp AS DOUBLE) / CAST(n_keep AS DOUBLE) END AS prec,
       |  CASE WHEN n_pos > 0
       |    THEN CAST(tp AS DOUBLE) / CAST(n_pos AS DOUBLE) END AS recall
       |FROM agg ORDER BY threshold""".stripMargin

  /** t24's engine — quality-score distribution drift between two corpus
    * snapshots: the monitoring table a pipeline checks at every refresh
    * (did the new crawl's quality profile move?). Scores are t13's (the
    * ONE shared scorer), snapshots are the even/odd doc_id halves (the
    * d14 old/new convention), bins are the T23 grid edges reused as
    * cut points (12 bins: below the grid, one per edge step, above).
    * Output per bin: counts + shares per snapshot and the L1 term
    * |share_a − share_b|; Σ l1_term over the 12-row table is total
    * variation distance ×2 — the drift statistic, kept as per-bin terms
    * so the report shows WHERE the distribution moved. All arithmetic
    * is comparisons, integer counts, and single divisions — no
    * transcendentals (the PSI/KL form needs ln and is libm-unsafe; L1
    * carries the same signal exactly).
    *
    * Scale shape: ONE corpus pass (map-side score + fold-count bin
    * assignment), a ≤24-group aggregation, broadcast totals. 100 TB
    * cost = one scan.
    */
  def scoreDrift(in: DataFrame): DataFrame = {
    val bin = T23Grid.foldLeft(lit(0L)) { (acc, t) =>
      acc + when(col("score") >= lit(t.toDouble), 1L).otherwise(0L)
    }
    val scored = in
      .select(col("doc_id"), classifierScore(col("text")).as("score"))
      .select(
        when(pmod(col("doc_id"), lit(2L)) === 0, "a").otherwise("b")
          .as("snap"),
        bin.as("bin"))
    val byBin = scored.groupBy("bin").agg(
      sum(when(col("snap") === "a", 1L).otherwise(0L)).as("n_a"),
      sum(when(col("snap") === "b", 1L).otherwise(0L)).as("n_b"))
    val tot = byBin.agg(sum(col("n_a")).as("ta"), sum(col("n_b")).as("tb"))
    byBin.crossJoin(broadcast(tot))
      .select(col("bin"), col("n_a"), col("n_b"),
        (col("n_a").cast(DoubleType) / col("ta").cast(DoubleType))
          .as("share_a"),
        (col("n_b").cast(DoubleType) / col("tb").cast(DoubleType))
          .as("share_b"))
      .withColumn("l1_term", abs(col("share_a") - col("share_b")))
      .orderBy("bin")
  }

  /** t25's oracle chain ending in
    * `ensemble(doc_id, cls, lm_nll, rep_ratio, stop_frac, label, ens)` —
    * shared by t25 and t26. Composes [[t13ScoreCtes]] (→ sc), the t09
    * Gopher signal CTEs, c13's unigram-LM chain (u-prefixed names), the
    * joined feature frame, decimal-exact mean/MAD normalization stats
    * (two 1-row CTEs), and the fixed-order vote combination.
    */
  /** c13's full-model LM chain ending in `usc(doc_id, lm_nll)` — t25's
    * LM vote.
    */
  private def fullLmOracleCtes: String = {
    import graft.engine.Exact
    s"""utoks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
       |  FROM documents),
       |ucounts AS (SELECT tok, COUNT(*) AS c FROM utoks GROUP BY tok),
       |ustats AS (SELECT SUM(c) AS n_total, COUNT(*) AS v FROM ucounts),
       |ulm AS (
       |  SELECT tok,
       |    ln(CAST(c + 1 AS DOUBLE) / CAST(n_total + v AS DOUBLE)) AS logp
       |  FROM ucounts, ustats),
       |usc AS (
       |  SELECT doc_id,
       |    (0.0 - ${Exact.sqlSum("logp")}) / CAST(COUNT(*) AS DOUBLE)
       |      AS lm_nll
       |  FROM utoks JOIN ulm USING (tok) GROUP BY doc_id)""".stripMargin
  }

  /** The truncated (top-[[T25bTopN]] + OOV) LM chain ending in
    * `usc(doc_id, lm_nll)` — t25b's serve-model vote, mirroring
    * [[graft.queries.Corpus.unigramLmScoreTruncated]] term for term.
    */
  private def truncLmOracleCtes: String = truncLmOracleCtesFrom("documents")

  private[graft] def truncLmOracleCtesFrom(src: String): String = {
    import graft.engine.Exact
    s"""utoks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
       |  FROM $src),
       |ucounts AS (SELECT tok, COUNT(*) AS c FROM utoks GROUP BY tok),
       |ufull AS (SELECT CAST(SUM(c) AS BIGINT) AS n_total,
       |  COUNT(*) AS v_full FROM ucounts),
       |utop AS (SELECT tok, c FROM ucounts ORDER BY c DESC, tok
       |  LIMIT $T25bTopN),
       |utops AS (SELECT CAST(SUM(c) AS BIGINT) AS n_top,
       |  COUNT(*) AS n_types FROM utop),
       |ulm AS (
       |  SELECT tok,
       |    ln(CAST(c + 1 AS DOUBLE)
       |       / CAST(n_total + n_types + 1 AS DOUBLE)) AS logp
       |  FROM utop, ufull, utops),
       |uoov AS (
       |  SELECT ln((CAST(n_total - n_top AS DOUBLE)
       |      / CAST(CASE WHEN v_full - n_types > 1
       |              THEN v_full - n_types ELSE 1 END AS DOUBLE) + 1.0)
       |    / CAST(n_total + n_types + 1 AS DOUBLE)) AS logp
       |  FROM ufull, utops),
       |usc AS (
       |  SELECT doc_id,
       |    (0.0 - ${Exact.sqlSum("COALESCE(l.logp, o.logp)")})
       |      / CAST(COUNT(*) AS DOUBLE) AS lm_nll
       |  FROM utoks t LEFT JOIN ulm l USING (tok), uoov o
       |  GROUP BY doc_id)""".stripMargin
  }

  private def ensembleOracleCtes: String = ensembleOracleCtesWith(fullLmOracleCtes)

  private def ensembleOracleCtesWith(lmCtes: String): String =
    ensembleOracleCtesFrom(lmCtes, "documents")

  /** [[ensembleOracleCtesWith]] with the scored relation parameterized —
    * p16 runs the whole ensemble chain on the line-deduped `withsrc`
    * CTE instead of raw `documents`. */
  private[graft] def ensembleOracleCtesFrom(lmCtes: String,
      src: String): String = {
    import graft.engine.Exact
    s"""${t13ScoreCtesFrom(src)},
       |${Gopher.signalSqlCtes(src, Nil)},
       |$lmCtes,
       |feats AS (
       |  SELECT s.doc_id, s.score AS cls, u.lm_nll, g.rep_ratio,
       |    CAST(g.n_stopwords AS DOUBLE) / CAST(g.n_words AS DOUBLE)
       |      AS stop_frac,
       |    ${Gopher.keepSql} AS label
       |  FROM sc s JOIN usc u USING (doc_id) JOIN sig g USING (doc_id)),
       |st1 AS (
       |  SELECT
       |    ${Exact.sqlSum("cls")} / CAST(COUNT(*) AS DOUBLE) AS mu_c,
       |    ${Exact.sqlSum("lm_nll")} / CAST(COUNT(*) AS DOUBLE) AS mu_l,
       |    ${Exact.sqlSum("rep_ratio")} / CAST(COUNT(*) AS DOUBLE) AS mu_r,
       |    ${Exact.sqlSum("stop_frac")} / CAST(COUNT(*) AS DOUBLE) AS mu_s
       |  FROM feats),
       |st2 AS (
       |  SELECT
       |    ${Exact.sqlSum("abs(cls - mu_c)")} / CAST(COUNT(*) AS DOUBLE)
       |      AS mad_c,
       |    ${Exact.sqlSum("abs(lm_nll - mu_l)")} / CAST(COUNT(*) AS DOUBLE)
       |      AS mad_l,
       |    ${Exact.sqlSum("abs(rep_ratio - mu_r)")} / CAST(COUNT(*) AS DOUBLE)
       |      AS mad_r,
       |    ${Exact.sqlSum("abs(stop_frac - mu_s)")} / CAST(COUNT(*) AS DOUBLE)
       |      AS mad_s
       |  FROM feats, st1),
       |norm AS (
       |  SELECT doc_id, cls, lm_nll, rep_ratio, stop_frac, label,
       |    CASE WHEN mad_r = 0.0 THEN 0.0
       |         ELSE (rep_ratio - mu_r) / mad_r END AS zr,
       |    CASE WHEN mad_s = 0.0 THEN 0.0
       |         ELSE (stop_frac - mu_s) / mad_s END AS zs,
       |    CASE WHEN mad_l = 0.0 THEN 0.0
       |         ELSE (lm_nll - mu_l) / mad_l END AS zl,
       |    CASE WHEN mad_c = 0.0 THEN 0.0
       |         ELSE (cls - mu_c) / mad_c END AS zc
       |  FROM feats, st1, st2),
       |ensemble AS (
       |  SELECT doc_id, cls, lm_nll, rep_ratio, stop_frac, label,
       |    ((0.0 - zr) + zs + (0.0 - zl) + zc) / 4.0 AS ens
       |  FROM norm)""".stripMargin
  }

  /** t26's threshold grid — the T23 convention at the ensemble's
    * z-score scale (the ensemble averages MAD-normalized votes, so its
    * spread is ~unit, not t13's ~0.01): −2.5 … 2.5 step 0.5.
    */
  private[graft] val T26Grid: Seq[String] =
    // locale-independent rendering — see T23Grid (r16 ADVICE)
    (-5 to 5).map(i => BigDecimal(i * 5).bigDecimal.movePointLeft(1).toPlainString)

  /** t25's signal + ensemble frame — ONE definition shared by the t25
    * contract query, the t26 sweep, and EdgeSpec:
    * (doc_id, cls, lm_nll, rep_ratio, stop_frac, label, ens).
    *
    * The ensemble is the DECISION layer over the pipeline's independent
    * quality signals (r15 VERDICT item 6): the served classifier score
    * (t13), the LM perplexity (c13's avg_nll), and the two continuous
    * Gopher signals (3-gram repetition, stopword fraction) — each
    * failure mode has a blind signal (an LM LOVES repeated boilerplate;
    * a repetition rule passes unique-keyword stuffing) and the vote
    * combination is what covers them (EdgeSpec proves it beats every
    * single signal on planted failure classes). Calibration here is
    * SCALE calibration: each signal is centered and normalized by its
    * corpus mean absolute deviation — exactly computable cross-engine
    * (abs/sub are exact, sums decimal-exact, divisions IEEE; a σ-based
    * z-score would need sqrt of an fp variance and is the less robust
    * statistic anyway), with directions fixed by the signal's semantics
    * (low perplexity, low repetition, high stopword mass, high
    * classifier score vote "keep"). The Gopher boolean is kept as the
    * reference LABEL (t23's convention), not a vote — the sweep
    * calibrates the ensemble against the rule battery. t22's host
    * prior composes DOWNSTREAM of this score (it propagates any
    * per-doc score to the host grain), so it stays a separate layer.
    *
    * Scale shape: one text scan extracts (cls, rep, stop, label) —
    * all map-side; the LM adds c13's token-keyed model shuffle + the
    * size-gated scoring join; normalization is two 1-row aggregates
    * over the checkpointed narrow feature frame, broadcast back. At
    * 100 TB: two corpus passes + a dictionary shuffle, and the
    * decision itself is map-side.
    */
  private[graft] def ensembleFrame(in: DataFrame): DataFrame = {
    val feats = ensembleSignals(in,
      graft.queries.Corpus.unigramLmScore(in)
        .select(col("doc_id"), col("avg_nll").as("lm_nll")))
    val (mu, mad) = ensembleStats(feats)
    ensembleCombine(feats, mu, mad)
  }

  /** The per-doc signal frame (doc_id, cls, lm_nll, rep_ratio,
    * stop_frac, label), checkpointed — the LM scorer is pluggable so
    * t25 (full c13 model) and t25b (truncated serve model) share one
    * definition.
    */
  private def ensembleSignals(in: DataFrame, lm: DataFrame): DataFrame = {
    val Seq(nw, mwl, nst, rep) = Gopher.signals(col("text"))
    val base = in.select(col("doc_id"),
        classifierScore(col("text")).as("cls"),
        rep.as("rep_ratio"),
        (nst.cast(DoubleType) / nw.cast(DoubleType)).as("stop_frac"),
        Gopher.keep(nw, mwl, nst, rep).as("label"))
      .localCheckpoint(true)
    base.join(lm, "doc_id").localCheckpoint(true)
  }

  /** The two 1-row normalization frames (means, MADs) over a signal
    * frame — decimal-exact throughout.
    */
  private def ensembleStats(feats: DataFrame): (DataFrame, DataFrame) = {
    import graft.engine.Exact
    def mean(c: Column): Column =
      Exact.dsum(c) / count(lit(1)).cast(DoubleType)
    val mu = feats.agg(
      mean(col("cls")).as("mu_c"), mean(col("lm_nll")).as("mu_l"),
      mean(col("rep_ratio")).as("mu_r"), mean(col("stop_frac")).as("mu_s"))
    val mad = feats.crossJoin(broadcast(mu)).agg(
      mean(abs(col("cls") - col("mu_c"))).as("mad_c"),
      mean(abs(col("lm_nll") - col("mu_l"))).as("mad_l"),
      mean(abs(col("rep_ratio") - col("mu_r"))).as("mad_r"),
      mean(abs(col("stop_frac") - col("mu_s"))).as("mad_s"))
    (mu, mad)
  }

  private def ensembleCombine(feats: DataFrame, mu: DataFrame,
      mad: DataFrame): DataFrame = {
    def z(x: Column, m: Column, d: Column): Column =
      when(d === 0.0, lit(0.0)).otherwise((x - m) / d)
    feats.crossJoin(broadcast(mu.crossJoin(mad)))
      .select(col("doc_id"), col("cls"), col("lm_nll"), col("rep_ratio"),
        col("stop_frac"), col("label"),
        z(col("rep_ratio"), col("mu_r"), col("mad_r")).as("zr"),
        z(col("stop_frac"), col("mu_s"), col("mad_s")).as("zs"),
        z(col("lm_nll"), col("mu_l"), col("mad_l")).as("zl"),
        z(col("cls"), col("mu_c"), col("mad_c")).as("zc"))
      .select(col("doc_id"), col("cls"), col("lm_nll"), col("rep_ratio"),
        col("stop_frac"), col("label"),
        (((lit(0.0) - col("zr")) + col("zs") + (lit(0.0) - col("zl")) +
          col("zc")) / lit(4.0)).as("ens"))
  }

  /** t25b's LM-side vocabulary bound (shared with its oracle text and
    * the streaming gate's collected model).
    */
  private[graft] val T25bTopN = 64

  /** t25b's engine — the ensemble at SERVE configuration: the LM vote
    * comes from the BOUNDED truncated unigram model (top-[[T25bTopN]]
    * types + one OOV entry — the c13-truncated scale path), which is
    * the model a streaming gate can hold in memory. Everything else is
    * t25's chain unchanged.
    */
  def qualityEnsembleServe(in: DataFrame): DataFrame = {
    val feats = ensembleSignals(in,
      graft.queries.Corpus.unigramLmScoreTruncated(in, T25bTopN)
        .select(col("doc_id"), col("avg_nll").as("lm_nll")))
    val (mu, mad) = ensembleStats(feats)
    ensembleCombine(feats, mu, mad)
      .withColumn("keep", col("ens") > 0.0)
      .orderBy("doc_id")
  }

  /** The frozen serve-side model of the t25b ensemble: the bounded
    * token→logp table, the OOV log-probability, and the normalization
    * stats — what a streaming quality gate broadcasts (the KenLM-in-
    * memory shape). Driver collects are bounded by construction:
    * topN + 1 logps and 8 stat doubles.
    */
  case class EnsembleModel(logp: Map[String, Double], oovLogp: Double,
      muC: Double, madC: Double, muL: Double, madL: Double,
      muR: Double, madR: Double, muS: Double, madS: Double)

  private[graft] def ensembleModel(ref: DataFrame): EnsembleModel = {
    import graft.engine.Exact
    val toks = ref.select(explode(split(col("text"), " ")).as("tok"))
    val counts = toks.groupBy("tok").agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val top = counts.orderBy(col("c").desc, col("tok")).limit(T25bTopN)
      .localCheckpoint(true)
    val consts = counts.agg(sum(col("c")).as("n_total"),
        count(lit(1)).as("v_full"))
      .crossJoin(top.agg(sum(col("c")).as("n_top"),
        count(lit(1)).as("n_types"))).head
    val (nTotal, vFull, nTop, nTypes) = (consts.getLong(0),
      consts.getLong(1), consts.getLong(2), consts.getLong(3))
    val denom = (nTotal + nTypes + 1).toDouble
    val logp = top.collect()
      .map(r => r.getString(0) -> math.log((r.getLong(1) + 1).toDouble / denom))
      .toMap
    val oovTypes = math.max(vFull - nTypes, 1L)
    val oovLogp = math.log(
      ((nTotal - nTop).toDouble / oovTypes.toDouble + 1.0) / denom)
    val feats = ensembleSignals(ref,
      graft.queries.Corpus.unigramLmScoreTruncated(ref, T25bTopN)
        .select(col("doc_id"), col("avg_nll").as("lm_nll")))
    val (muDf, madDf) = ensembleStats(feats)
    val mu = muDf.head; val mad = madDf.head
    EnsembleModel(logp, oovLogp,
      mu.getDouble(0), mad.getDouble(0), mu.getDouble(1), mad.getDouble(1),
      mu.getDouble(2), mad.getDouble(2), mu.getDouble(3), mad.getDouble(3))
  }

  /** Map-side serve of the frozen ensemble model over a (doc_id, text)
    * frame — batch or STREAMING alike (no joins, no aggregations: the
    * LM is a broadcast map literal folded in decimal exactly like
    * Exact.dsum, so the scores are bit-equal to the batch t25b chain).
    */
  private[graft] def ensembleServe(docs: DataFrame,
      m: EnsembleModel): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    // the classifierScore precision discipline: Add((38,10),(38,10))
    // silently drops the 10th decimal digit under Spark's precision-
    // loss rule; |logp| < 100 fits (12,10), acc (27,10) + (12,10) →
    // (28,10) exact, cast back lossless. Scale-10 quantization is
    // width-independent, so each term equals the batch chain's
    // DECIMAL(38,10) quantization and the decimal sum is associative —
    // bit-equal to Exact.dsum over the joined form.
    val accT = DecimalType(27, 10)
    val wT = DecimalType(12, 10)
    val Seq(nw, mwl, nst, rep) = Gopher.signals(col("text"))
    val mapLit = typedLit(m.logp)
    val toks = split(col("text"), " ")
    val lmNll = (lit(0.0) -
      aggregate(toks, lit(0).cast(accT), (acc, t) =>
        (acc + coalesce(element_at(mapLit, t), lit(m.oovLogp)).cast(wT))
          .cast(accT))
        .cast(DoubleType)) / size(toks).cast(DoubleType)
    def z(x: Column, mu: Double, mad: Double): Column =
      if (mad == 0.0) lit(0.0) else (x - lit(mu)) / lit(mad)
    docs
      .select(col("doc_id"),
        classifierScore(col("text")).as("cls"),
        lmNll.as("lm_nll"),
        rep.as("rep_ratio"),
        (nst.cast(DoubleType) / nw.cast(DoubleType)).as("stop_frac"),
        Gopher.keep(nw, mwl, nst, rep).as("label"))
      .select(col("doc_id"), col("cls"), col("lm_nll"), col("rep_ratio"),
        col("stop_frac"), col("label"),
        (((lit(0.0) - z(col("rep_ratio"), m.muR, m.madR)) +
          z(col("stop_frac"), m.muS, m.madS) +
          (lit(0.0) - z(col("lm_nll"), m.muL, m.madL)) +
          z(col("cls"), m.muC, m.madC)) / lit(4.0)).as("ens"))
      .withColumn("keep", col("ens") > 0.0)
  }

  /** t25's contract output — the per-doc ensemble decision artifact. */
  def qualityEnsemble(in: DataFrame): DataFrame =
    ensembleFrame(in)
      .withColumn("keep", col("ens") > 0.0)
      .orderBy("doc_id")

  /** t26's engine — t23's calibration sweep generalized to the ensemble
    * score: keep-rate / precision / recall against the Gopher reference
    * labels over the z-scale grid.
    */
  def ensembleSweep(in: DataFrame): DataFrame =
    sweepTable(
      ensembleFrame(in)
        .select(col("doc_id"), col("ens").as("score"), col("label"))
        .localCheckpoint(true),
      T26Grid)

  lazy val specs: Vector[QuerySpec] = Vector(
    // Token counting: whitespace tokens + distinct tokens + char length.
    QuerySpec(
      "t01_token_stats",
      (s, d) =>
        docs(s, d)
          .select(
            col("doc_id"),
            size(tokens(col("text"))).cast(LongType).as("n_tokens"),
            size(array_distinct(tokens(col("text")))).cast(LongType).as("n_uniq_tokens"),
            length(col("text")).cast(LongType).as("n_chars_calc"),
          )
          .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  len(string_split(text, ' ')) AS n_tokens,
             |  len(list_distinct(string_split(text, ' '))) AS n_uniq_tokens,
             |  CAST(length(text) AS BIGINT) AS n_chars_calc
             |FROM documents ORDER BY doc_id""".stripMargin),
    ),
    // Quality scoring: length/stopword/token-shape ratios combined into one
    // deterministic double score (identical expression order in the oracle).
    QuerySpec(
      "t02_quality_score",
      (s, d) => {
        val toks = tokens(col("text"))
        val nTok = size(toks).cast(DoubleType)
        val nStop = markerCount(toks, enStop).cast(DoubleType)
        val avgTokLen =
          (length(col("text")).cast(DoubleType) - (size(toks).cast(DoubleType) - 1.0)) / nTok
        val stopRatio = nStop / nTok
        val lenScore = least(lit(1.0), nTok / 100.0)
        val shapeScore =
          when(avgTokLen >= 3.0 && avgTokLen <= 8.0, 0.3).otherwise(0.0)
        docs(s, d)
          .select(
            col("doc_id"),
            nTok.cast(LongType).as("n_tokens"),
            stopRatio.as("stop_ratio"),
            avgTokLen.as("avg_token_len"),
            ((lenScore * 0.4) + (stopRatio * 0.3) + shapeScore).as("quality"),
          )
          .orderBy("doc_id")
      },
      Some("""WITH q AS (
             |  SELECT doc_id,
             |    CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tok,
             |    CAST(len(list_filter(string_split(text, ' '),
             |      x -> list_contains(['the','and','of','to','is','in','that','it','with','for'], x))) AS DOUBLE) AS n_stop,
             |    CAST(length(text) AS DOUBLE) AS n_ch
             |  FROM documents)
             |SELECT doc_id,
             |  CAST(n_tok AS BIGINT) AS n_tokens,
             |  n_stop / n_tok AS stop_ratio,
             |  (n_ch - (n_tok - 1.0)) / n_tok AS avg_token_len,
             |  ((CASE WHEN n_tok / 100.0 < 1.0 THEN n_tok / 100.0 ELSE 1.0 END) * 0.4)
             |    + ((n_stop / n_tok) * 0.3)
             |    + (CASE WHEN (n_ch - (n_tok - 1.0)) / n_tok >= 3.0
             |            AND  (n_ch - (n_tok - 1.0)) / n_tok <= 8.0 THEN 0.3 ELSE 0.0 END)
             |    AS quality
             |FROM q ORDER BY doc_id""".stripMargin),
      headline = true,
    ),
    // Language ID: marker-word argmax. The struct argmax compares (score,
    // prio, lang) lexicographically; since every prio is a distinct value in
    // 1..5, `score*10 + prio` induces exactly the same total order, which
    // makes the heuristic expressible as plain SQL — so it gets a full DuckDB
    // oracle (the SQL text is generated from the same `markers` list).
    // LangIdSpec additionally asserts label accuracy on real multilingual
    // sentences (the synthetic corpus text is language-independent).
    QuerySpec(
      "t03_lang_id",
      (s, d) =>
        docs(s, d)
          .select(
            col("doc_id"),
            col("lang").as("lang_label"),
            langIdExpr(col("text")).as("lang_pred"),
          )
          .orderBy("doc_id"),
      Some {
        val keys = markers.map { case (lang, words, prio) =>
          val list = words.map(w => s"'$w'").mkString(", ")
          s"""len(list_filter(string_split(text, ' '),
             |      x -> list_contains([$list], x))) * 10 + $prio AS k_$lang""".stripMargin
        }.mkString(",\n    ")
        val ks = markers.map { case (lang, _, _) => s"k_$lang" }.mkString(", ")
        val cases = markers.init.map { case (lang, _, _) =>
          s"WHEN k_$lang THEN '$lang'"
        }.mkString(" ")
        s"""WITH sc AS (
           |  SELECT doc_id, lang AS lang_label,
           |    $keys
           |  FROM documents)
           |SELECT doc_id, lang_label,
           |  CASE greatest($ks) $cases ELSE '${markers.last._1}' END AS lang_pred
           |FROM sc ORDER BY doc_id""".stripMargin
      },
    ),
    // Document fingerprinting: full-content FNV-1a 64 (exact-dup key, custom
    // codegen'd expression), SimHash over tokens (near-dup key), and the
    // first minhash component (content sketch). The custom hash expressions
    // are replicated bit-exactly in pure DuckDB SQL (engine/DuckHash:
    // HUGEINT mod-2^64 arithmetic) → full hash oracle; HashingSpec
    // additionally pins published test vectors.
    QuerySpec(
      "t04_fingerprint",
      (s, d) =>
        docs(s, d)
          .select(
            col("doc_id"),
            ghash.fnv1a64(col("text")).as("fp_fnv"),
            ghash.simhash64(tokens(col("text"))).as("fp_simhash"),
            element_at(ghash.minhashSig(tokens(col("text")), 4), 1).as("fp_minhash0"),
          )
          .orderBy("doc_id"),
      // token hashes dedupe across docs (the d04 oracle pattern): hash
      // each DISTINCT token once, vote simhash bits per (doc, bit) over
      // rows, take minhash0 as a row MIN — bit-identical, and the
      // HUGEINT chain runs |vocab| times instead of |corpus tokens|
      Some {
        import graft.engine.DuckHash
        s"""WITH t0 AS (
           |  SELECT doc_id, unnest(string_split(text, ' ')) AS s
           |  FROM documents),
           |tf AS (
           |  SELECT s, ${DuckHash.fnv("s")} AS f
           |  FROM (SELECT DISTINCT s FROM t0)),
           |th AS MATERIALIZED (
           |  SELECT s, ${DuckHash.mix64("f")} AS h FROM tf),
           |tb AS (
           |  SELECT t0.doc_id, bb.b,
           |    SUM(CASE WHEN (th.h // (1::HUGEINT << bb.b)) % 2 = 1
           |             THEN 1 ELSE -1 END) AS net
           |  FROM t0 JOIN th USING (s),
           |       (SELECT unnest(range(0, 64)) AS b) bb
           |  GROUP BY t0.doc_id, bb.b),
           |sim AS (
           |  SELECT doc_id,
           |    CAST(SUM(CASE WHEN net > 0 THEN 1::HUGEINT << b
           |                  ELSE 0::HUGEINT END) AS HUGEINT) AS usk
           |  FROM tb GROUP BY doc_id),
           |mh AS (
           |  SELECT t0.doc_id, MIN(${DuckHash.signed("th.h")}) AS fp_minhash0
           |  FROM t0 JOIN th USING (s) GROUP BY t0.doc_id),
           |f AS (
           |  SELECT doc_id, ${DuckHash.fnv("text")} AS fnv_u FROM documents)
           |SELECT f.doc_id,
           |  ${DuckHash.signed("fnv_u")} AS fp_fnv,
           |  ${DuckHash.signed("sim.usk")} AS fp_simhash,
           |  mh.fp_minhash0
           |FROM f JOIN sim USING (doc_id) JOIN mh USING (doc_id)
           |ORDER BY doc_id""".stripMargin
      },
    ),
    // Stopword removal + normalization — the standard text-cleaning pass
    // before tokenizer training. Emits the content-token count, the
    // content ratio, and an md5 of the normalized text (proves the full
    // normalized string matches without shipping it through the gate).
    QuerySpec(
      "t05_stopword_norm",
      (s, d) => {
        val stop = enStop.map(lit)
        val toks = tokens(col("text"))
        val content = filter(toks, t => !array_contains(array(stop: _*), t))
        docs(s, d)
          .select(
            col("doc_id"),
            size(content).cast(LongType).as("n_content"),
            (size(content).cast(DoubleType) / size(toks).cast(DoubleType))
              .as("content_ratio"),
            md5(concat_ws(" ", content)).as("norm_digest"),
          )
          .orderBy("doc_id")
      },
      Some {
        val list = enStop.map(w => s"'$w'").mkString(", ")
        s"""WITH t AS (
           |  SELECT doc_id,
           |    string_split(text, ' ') AS toks,
           |    list_filter(string_split(text, ' '),
           |      x -> NOT list_contains([$list], x)) AS content
           |  FROM documents)
           |SELECT doc_id,
           |  CAST(len(content) AS BIGINT) AS n_content,
           |  CAST(len(content) AS DOUBLE) / CAST(len(toks) AS DOUBLE)
           |    AS content_ratio,
           |  md5(array_to_string(content, ' ')) AS norm_digest
           |FROM t ORDER BY doc_id""".stripMargin
      },
    ),
    // Repetition ratio: fraction of repeated word 3-grams per doc — the
    // Gopher/C4-style quality signal that flags boilerplate and template
    // spam (a doc whose 3-grams mostly repeat is machine-generated filler).
    // Same n-gram construction as Dedup.shingles but WITHOUT the distinct,
    // so total vs distinct counts measure repetition. Pure per-row column
    // math — scan speed at any scale.
    QuerySpec(
      "t06_repetition",
      (s, d) => {
        val t = tokens(col("text"))
        val grams = transform(
          sequence(lit(1), greatest(size(t) - 2, lit(1))),
          i => concat_ws(" ", slice(t, i, lit(3))))
        docs(s, d).select(
          col("doc_id"),
          size(grams).cast(LongType).as("n_grams"),
          size(array_distinct(grams)).cast(LongType).as("n_distinct"),
          ((size(grams) - size(array_distinct(grams))).cast(DoubleType) /
            size(grams).cast(DoubleType)).as("rep_ratio"))
          .withColumn("repetitive", col("rep_ratio") >= 0.2)
          .orderBy("doc_id")
      },
      Some("""WITH g AS (
             |  SELECT doc_id,
             |    list_transform(
             |      range(1, CASE WHEN len(string_split(text,' ')) - 2 > 1
             |                    THEN len(string_split(text,' ')) - 2
             |                    ELSE 1 END + 1),
             |      i -> array_to_string((string_split(text,' '))[i:i+2], ' '))
             |      AS grams
             |  FROM documents)
             |SELECT doc_id,
             |  CAST(len(grams) AS BIGINT) AS n_grams,
             |  CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct,
             |  CAST(len(grams) - len(list_distinct(grams)) AS DOUBLE)
             |    / CAST(len(grams) AS DOUBLE) AS rep_ratio,
             |  (CAST(len(grams) - len(list_distinct(grams)) AS DOUBLE)
             |    / CAST(len(grams) AS DOUBLE)) >= 0.2 AS repetitive
             |FROM g ORDER BY doc_id""".stripMargin),
    ),
    // PII scrubbing — the redaction pass every training-data pipeline runs
    // before anything else sees the text. The synthetic corpus carries no
    // PII, so the spec PLANTS it deterministically (an email + URL appended
    // to every 20th doc) and scrubs with regexes in the Java∩RE2 dialect
    // (no backrefs/lookaround — portable across engines AND across the
    // regex libraries a cluster might link). Counts via regexp_extract_all
    // so the match sets, not just the replacements, are verified; the
    // scrubbed text itself is md5-pinned. Pure per-row column ops —
    // codegen'd, zero shuffle until the presentation sort.
    QuerySpec(
      "t07_pii_scrub",
      (s, d) => {
        val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
        val urlRe = "https?://[^ ]+"
        Tables(s, d, "documents")
          .select(col("doc_id"),
            when(col("doc_id") % 20 === 0,
              concat(col("text"), lit(" mail user"), col("doc_id"),
                lit("@example.com or https://ex"), col("doc_id"),
                lit(".test/page now")))
              .otherwise(col("text")).as("text"))
          .select(
            col("doc_id"),
            size(regexp_extract_all(col("text"), lit(emailRe), lit(0)))
              .cast("long").as("n_emails"),
            size(regexp_extract_all(col("text"), lit(urlRe), lit(0)))
              .cast("long").as("n_urls"),
            md5(regexp_replace(regexp_replace(col("text"), emailRe, "<EMAIL>"),
              urlRe, "<URL>")).as("scrubbed_md5"))
          .orderBy("doc_id")
      },
      Some("""WITH planted AS (
             |  SELECT doc_id,
             |    CASE WHEN doc_id % 20 = 0
             |         THEN text || ' mail user' || CAST(doc_id AS VARCHAR)
             |           || '@example.com or https://ex' || CAST(doc_id AS VARCHAR)
             |           || '.test/page now'
             |         ELSE text END AS text
             |  FROM documents)
             |SELECT doc_id,
             |  CAST(len(regexp_extract_all(text,
             |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
             |    AS n_emails,
             |  CAST(len(regexp_extract_all(text, 'https?://[^ ]+')) AS BIGINT)
             |    AS n_urls,
             |  md5(regexp_replace(regexp_replace(text,
             |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             |    'https?://[^ ]+', '<URL>', 'g')) AS scrubbed_md5
             |FROM planted ORDER BY doc_id""".stripMargin),
    ),
    // Character-entropy quality score: Shannon entropy (nats) of the
    // per-doc character distribution — the cheap information-density
    // signal (low = repeated-character boilerplate, binary-ish junk, or
    // padding; compresses poorly ⇔ scores high). Shape: the char explode
    // is absorbed by the partial (doc, char) count — only ≤ |alphabet|
    // narrow rows per doc reach the exchange; the entropy fold is a
    // second tiny per-doc aggregation. Each p·ln p term is a double
    // computed identically in both engines, and the per-doc sum runs
    // through the decimal-exact accumulator (fp-sum order independence).
    QuerySpec(
      "t08_char_entropy",
      (s, d) => {
        import graft.engine.Exact
        val freq = Tables(s, d, "documents")
          .select(col("doc_id"), length(col("text")).as("n"),
            explode(split(col("text"), "")).as("c"))
          .groupBy("doc_id", "n", "c")
          .agg(count(lit(1)).as("k"))
        val p = col("k").cast(DoubleType) / col("n").cast(DoubleType)
        freq
          .select(col("doc_id"), col("n"), (p * log(p)).as("term"))
          .groupBy("doc_id")
          .agg(first(col("n")).cast("long").as("n_chars"),
            (lit(0.0) - Exact.dsum(col("term"))).as("entropy"))
          .orderBy("doc_id")
      },
      Some {
        import graft.engine.Exact
        s"""WITH ch AS (
           |  SELECT doc_id, length(text) AS n,
           |    unnest(string_split(text, '')) AS c
           |  FROM documents),
           |f AS (SELECT doc_id, n, c, COUNT(*) AS k FROM ch GROUP BY 1, 2, 3)
           |SELECT doc_id, CAST(n AS BIGINT) AS n_chars,
           |  0.0 - ${Exact.sqlSum(
              "(CAST(k AS DOUBLE)/CAST(n AS DOUBLE)) * " +
                "ln(CAST(k AS DOUBLE)/CAST(n AS DOUBLE))")} AS entropy
           |FROM f GROUP BY doc_id, n ORDER BY doc_id""".stripMargin
      },
    ),
    // Gopher-style composite document filter — the rule battery every
    // pretraining pipeline runs (Gopher §A1.1 / RefinedWeb): word-count
    // bounds, mean-word-length bounds, a minimum stopword count (flags
    // word-salad and non-prose), and a repetition cap (t06's 3-gram dup
    // ratio). Emits the per-rule booleans, not just the verdict, because
    // real pipelines track WHY docs are dropped. Pure per-row column math —
    // scan speed, zero shuffle before the presentation sort.
    QuerySpec(
      "t09_gopher_filter",
      (s, d) => {
        val Seq(nw, mwl, nst, rep) = Gopher.signals(col("text"))
        docs(s, d)
          .select(col("doc_id"), nw.as("n_words"), mwl.as("mean_word_len"),
            nst.as("n_stopwords"), rep.as("rep_ratio"))
          .withColumn("ok_len",
            col("n_words").between(Gopher.MinWords, Gopher.MaxWords))
          .withColumn("ok_mwl",
            col("mean_word_len").between(Gopher.MwlLo, Gopher.MwlHi))
          .withColumn("ok_stop", col("n_stopwords") >= Gopher.MinStops)
          .withColumn("ok_rep", col("rep_ratio") < Gopher.RepMax)
          .withColumn("keep",
            col("ok_len") && col("ok_mwl") && col("ok_stop") && col("ok_rep"))
          .orderBy("doc_id")
      },
      Some {
        import Gopher._
        val oks = okSql.map { case (name, p) => s"$p AS $name" }
        s"""WITH ${signalSqlCtes("documents", Nil)}
           |SELECT doc_id, n_words, mean_word_len, n_stopwords, rep_ratio,
           |  ${oks.mkString(",\n  ")},
           |  $keepSql AS keep
           |FROM sig ORDER BY doc_id""".stripMargin
      },
    ),
    // Classifier threshold calibration — see [[thresholdSweep]]: the
    // keep-rate / precision / recall table against the Gopher reference
    // labels over a fixed threshold grid — the tuning table every
    // pipeline produces before picking its quality cutoff.
    QuerySpec(
      "t23_threshold_sweep",
      (s, d) => thresholdSweep(docs(s, d)),
      Some(s"""WITH $t13ScoreCtes,
              |${Gopher.signalSqlCtes("documents", Nil)},
              |base AS (
              |  SELECT s.doc_id, s.score, ${Gopher.keepSql} AS label
              |  FROM sc s JOIN sig USING (doc_id)),
              |${sweepOracleSql(T23Grid)}""".stripMargin),
    ),
    // Quality-score distribution drift — see [[scoreDrift]]: t13 scores,
    // even/odd snapshot halves, T23-grid bin edges, per-bin L1 terms
    // (exact — the PSI/KL form needs ln and is libm-unsafe cross-engine).
    QuerySpec(
      "t24_score_drift",
      (s, d) => scoreDrift(docs(s, d)),
      Some {
        val binExpr = T23Grid
          .map(t => s"CASE WHEN score >= $t THEN 1 ELSE 0 END")
          .mkString("\n|      + ")
        s"""WITH $t13ScoreCtes,
           |b AS (
           |  SELECT CASE WHEN doc_id % 2 = 0 THEN 'a' ELSE 'b' END AS snap,
           |    CAST($binExpr AS BIGINT) AS bin
           |  FROM sc),
           |bb AS (
           |  SELECT bin,
           |    CAST(SUM(CASE WHEN snap = 'a' THEN 1 ELSE 0 END) AS BIGINT)
           |      AS n_a,
           |    CAST(SUM(CASE WHEN snap = 'b' THEN 1 ELSE 0 END) AS BIGINT)
           |      AS n_b
           |  FROM b GROUP BY bin),
           |t AS (
           |  SELECT CAST(SUM(n_a) AS BIGINT) AS ta,
           |    CAST(SUM(n_b) AS BIGINT) AS tb
           |  FROM bb)
           |SELECT bin, n_a, n_b,
           |  CAST(n_a AS DOUBLE) / CAST(ta AS DOUBLE) AS share_a,
           |  CAST(n_b AS DOUBLE) / CAST(tb AS DOUBLE) AS share_b,
           |  abs(CAST(n_a AS DOUBLE) / CAST(ta AS DOUBLE)
           |    - CAST(n_b AS DOUBLE) / CAST(tb AS DOUBLE)) AS l1_term
           |FROM bb, t ORDER BY bin""".stripMargin
      },
    ),
    // Context-window chunking — how documents become model inputs: split
    // each doc into 64-token windows with stride 48 (16-token overlap so
    // no boundary context is lost), emitting one row per chunk with its
    // token count and md5-pinned text. chunk count = max(⌈(n−16)/48⌉, 1);
    // the explode is map-side (posexplode of a per-row array) and at
    // 100 TB runs at scan speed — chunking never shuffles; downstream
    // packing/tokenization consumes the chunk rows directly.
    QuerySpec(
      "t10_chunking",
      (s, d) => {
        val t = tokens(col("text"))
        val nChunks = greatest(
          ceil((size(t) - lit(16)).cast(DoubleType) / 48.0).cast("int"), lit(1))
        val chunks = transform(sequence(lit(0), nChunks - 1),
          i => slice(t, i * 48 + 1, lit(64)))
        docs(s, d)
          .select(col("doc_id"), posexplode(chunks).as(Seq("chunk_id", "c")))
          .select(col("doc_id"), col("chunk_id"),
            size(col("c")).cast(LongType).as("n_tokens"),
            md5(concat_ws(" ", col("c"))).as("chunk_md5"))
          .orderBy("doc_id", "chunk_id")
      },
      Some("""WITH t AS (
             |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |c AS (
             |  SELECT doc_id,
             |    list_transform(
             |      range(0, greatest(
             |        CAST(ceil(CAST(len(toks) - 16 AS DOUBLE) / 48.0) AS BIGINT),
             |        1)),
             |      i -> {'chunk_id': i,
             |            'c': toks[CAST(i*48+1 AS INT) : CAST(i*48+64 AS INT)]})
             |      AS cs
             |  FROM t),
             |u AS (SELECT doc_id, unnest(cs, recursive := true) FROM c)
             |SELECT doc_id, chunk_id,
             |  CAST(len(c) AS BIGINT) AS n_tokens,
             |  md5(array_to_string(c, ' ')) AS chunk_md5
             |FROM u ORDER BY doc_id, chunk_id""".stripMargin),
    ),
    // Encoding-anomaly detection — the ftfy-shaped pass of a crawl
    // pipeline: count U+FFFD replacement chars (a decoder already gave
    // up), C1 control chars U+0080–U+009F (never legitimate in text;
    // the classic cp1252-read-as-latin1 tell), and UTF-8-read-as-latin1
    // mojibake pairs ('Ã' followed by a continuation-range char — what
    // 'é' becomes when its two UTF-8 bytes are decoded separately).
    // The corpus is synthetic-clean, so anomalies are PLANTED (every 8th
    // doc, variant by doc_id % 3 - 8 and 3 are coprime, so all three
    // variants occur) the d12-banner way: identical
    // deterministic expressions on both engines, which keeps the
    // discrimination real — ~89% of docs must come back clean, the rest
    // flagged by exactly the planted signal. All three counters are
    // length-diff-after-replace forms (the pair counter halves the
    // diff); entirely map-side, one scan, no shuffle before the
    // presentation sort — at 100 TB this runs at scan speed.
    QuerySpec(
      "t11_encoding_anomalies",
      (s, d) => {
        // the anomaly code points, constructed so the source stays ASCII
        // (mirroring the oracle's chr() calls): 0xC3+0xA9 is 'e-acute'
        // whose UTF-8 bytes were decoded as latin-1; 0xFFFD replacement;
        // 0x85 NEL
        val cA = 0xC3.toChar.toString
        val moji = " caf" + cA + 0xA9.toChar + "t"
        val repl = " x" + 0xFFFD.toChar.toString * 2
        val nel = " y" + 0x85.toChar + "z"
        val planted = when(col("doc_id") % 8 === 0,
          concat(col("text"), element_at(array(
            lit(moji), lit(repl), lit(nel)),
            (col("doc_id") % 3).cast("int") + 1)))
          .otherwise(col("text"))
        val nRepl = length(col("t")) -
          length(regexp_replace(col("t"), 0xFFFD.toChar.toString, ""))
        val nC1 = length(col("t")) -
          length(regexp_replace(col("t"),
            "[" + 0x80.toChar + "-" + 0x9F.toChar + "]", ""))
        val nMoji = (length(col("t")) -
          length(regexp_replace(col("t"),
            cA + "[" + 0x80.toChar + "-" + 0xBF.toChar + "]", ""))) / 2
        docs(s, d)
          .select(col("doc_id"), planted.as("t"))
          .select(col("doc_id"),
            nRepl.cast(LongType).as("n_repl"),
            nC1.cast(LongType).as("n_c1"),
            nMoji.cast(LongType).as("n_moji"))
          .withColumn("clean",
            col("n_repl") === 0 && col("n_c1") === 0 && col("n_moji") === 0)
          .orderBy("doc_id")
      },
      Some("""WITH planted AS (
             |  SELECT doc_id,
             |    CASE WHEN doc_id % 8 = 0 THEN text ||
             |      ([' caf' || chr(195) || chr(169) || 't',
             |        ' x' || chr(65533) || chr(65533),
             |        ' y' || chr(133) || 'z'])[CAST(doc_id % 3 AS INT) + 1]
             |    ELSE text END AS t
             |  FROM documents),
             |m AS (
             |  SELECT doc_id,
             |    length(t) - length(replace(t, chr(65533), '')) AS n_repl,
             |    length(t) - length(regexp_replace(t,
             |      '[\x{0080}-\x{009F}]', '', 'g')) AS n_c1,
             |    (length(t) - length(regexp_replace(t,
             |      chr(195) || '[\x{0080}-\x{00BF}]', '', 'g'))) // 2 AS n_moji
             |  FROM planted)
             |SELECT doc_id, n_repl, n_c1, n_moji,
             |  n_repl = 0 AND n_c1 = 0 AND n_moji = 0 AS clean
             |FROM m ORDER BY doc_id""".stripMargin),
    ),
    // Readability scoring — the Flesch-reading-ease-shaped pass of a
    // curation pipeline (pretraining mixes are routinely bucketed by
    // readability; FRE = 206.835 − 1.015·words/sentence − 84.6·
    // syllables/word). The synthetic corpus has no punctuation, so
    // sentence boundaries are PLANTED the t11 way: the token stream is
    // re-joined into sentences of k = 7 + doc_id%6 tokens ('. '
    // separators, trailing '.') by identical expressions on both
    // engines; the query then counts the periods back out of the text.
    // The syllable proxy is the standard vowel-group count, computed as
    // a marked-minus-stripped length diff (each [aeiouy]+ run collapses
    // to one marker char) — no '#'-in-text assumption. Entirely per-row
    // regexp/arithmetic — scan speed, no shuffle before the
    // presentation sort; the FRE arithmetic is written in the same
    // left-associated order on both engines so the doubles hash-match.
    QuerySpec(
      "t12_readability",
      (s, d) => {
        val t = tokens(col("text"))
        val k = (lit(7) + col("doc_id") % 6).cast("int")
        val nSent = ceil(size(t).cast(DoubleType) / k.cast(DoubleType)).cast("int")
        val sents = transform(sequence(lit(0), nSent - 1),
          i => concat_ws(" ", slice(t, i * k + 1, k)))
        val planted = concat(concat_ws(". ", sents), lit("."))
        docs(s, d)
          .select(col("doc_id"), size(t).cast(LongType).as("n_words"),
            planted.as("t"))
          .select(col("doc_id"), col("n_words"),
            sentCount(col("t")).as("n_sents"),
            syllCount(col("t")).as("n_syllables"))
          .withColumn("fre",
            freExpr(col("n_words"), col("n_sents"), col("n_syllables")))
          .withColumn("grade",
            when(col("fre") >= 70.0, "easy")
              .when(col("fre") >= 50.0, "medium")
              .otherwise("hard"))
          .orderBy("doc_id")
      },
      Some("""WITH tk AS (
             |  SELECT doc_id, string_split(text, ' ') AS toks,
             |    CAST(7 + doc_id % 6 AS INT) AS k
             |  FROM documents),
             |pl AS (
             |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_words,
             |    array_to_string(list_transform(
             |      range(0, CAST(ceil(CAST(len(toks) AS DOUBLE)
             |                         / CAST(k AS DOUBLE)) AS BIGINT)),
             |      i -> array_to_string(
             |        toks[CAST(i*k+1 AS INT) : CAST(i*k+k AS INT)], ' ')),
             |      '. ') || '.' AS t
             |  FROM tk),
             |m AS (
             |  SELECT doc_id, n_words,
             |    length(t) - length(replace(t, '.', '')) AS n_sents,
             |    length(regexp_replace(t, '[aeiouy]+', 'V', 'g')) -
             |      length(regexp_replace(t, '[aeiouy]+', '', 'g'))
             |      AS n_syllables
             |  FROM pl)
             |SELECT doc_id, n_words, n_sents, n_syllables,
             |  206.835 - 1.015 * (CAST(n_words AS DOUBLE)
             |                     / CAST(n_sents AS DOUBLE))
             |          - 84.6 * (CAST(n_syllables AS DOUBLE)
             |                    / CAST(n_words AS DOUBLE)) AS fre,
             |  CASE WHEN 206.835 - 1.015 * (CAST(n_words AS DOUBLE)
             |                     / CAST(n_sents AS DOUBLE))
             |          - 84.6 * (CAST(n_syllables AS DOUBLE)
             |                    / CAST(n_words AS DOUBLE)) >= 70.0
             |       THEN 'easy'
             |       WHEN 206.835 - 1.015 * (CAST(n_words AS DOUBLE)
             |                     / CAST(n_sents AS DOUBLE))
             |          - 84.6 * (CAST(n_syllables AS DOUBLE)
             |                    / CAST(n_words AS DOUBLE)) >= 50.0
             |       THEN 'medium' ELSE 'hard' END AS grade
             |FROM m ORDER BY doc_id""".stripMargin),
    ),
    // Whitespace/control normalization — the cleanup pass that runs before
    // ANY hashing/dedup stage (tabs, space runs, trailing whitespace, and
    // stray control chars all break exact-dedup keys and token counts).
    // Anomalies are PLANTED (every 6th doc; variant (doc_id div 6) % 4 so
    // all four variants occur — doc_id % 4 would alias with the % 6 plant):
    // tab-after-space runs, doubled spaces, trailing spaces, C0 controls.
    // The chain is tab→space, strip remaining C0/DEL, collapse space runs,
    // trim — built so every planted corruption normalizes back to the
    // ORIGINAL text byte-for-byte (md5-pinned by the spec), which is the
    // idempotence property a real pipeline needs (normalize ∘ corrupt =
    // identity on the clean corpus). Map-side regexp work only — scan
    // speed at 100 TB, no shuffle before the presentation sort.
    QuerySpec(
      "t14_normalize",
      (s, d) => {
        val v = expr("(doc_id div 6) % 4")
        // control-char plants built the t11 way, so the source stays ASCII
        val bell = 0x07.toChar.toString
        val vt = 0x0B.toChar.toString
        val planted = when(col("doc_id") % 6 =!= 0, col("text"))
          .when(v === 0, regexp_replace(col("text"), " ", " \t"))
          .when(v === 1, regexp_replace(col("text"), " ", "  "))
          .when(v === 2, concat(col("text"), lit("   ")))
          .otherwise(concat(lit(bell + bell), col("text"), lit(vt)))
        val cleaned = trim(
          regexp_replace(
            regexp_replace(
              regexp_replace(col("t"), "\\t", " "),
              "[\\x00-\\x08\\x0B-\\x1F\\x7F]", ""),
            " {2,}", " "))
        docs(s, d)
          .select(col("doc_id"), planted.as("t"))
          .select(col("doc_id"),
            length(col("t")).cast(LongType).as("n_before"),
            cleaned.as("c"))
          .select(col("doc_id"), col("n_before"),
            length(col("c")).cast(LongType).as("n_after"),
            (col("n_before") =!= length(col("c"))).as("changed"),
            md5(col("c")).as("cleaned_md5"))
          .orderBy("doc_id")
      },
      Some("""WITH planted AS (
             |  SELECT doc_id,
             |    CASE WHEN doc_id % 6 <> 0 THEN text
             |         WHEN (doc_id // 6) % 4 = 0
             |           THEN replace(text, ' ', ' ' || chr(9))
             |         WHEN (doc_id // 6) % 4 = 1 THEN replace(text, ' ', '  ')
             |         WHEN (doc_id // 6) % 4 = 2 THEN text || '   '
             |         ELSE chr(7) || chr(7) || text || chr(11)
             |    END AS t
             |  FROM documents),
             |c AS (
             |  SELECT doc_id, length(t) AS n_before,
             |    trim(regexp_replace(
             |      regexp_replace(
             |        regexp_replace(t, '\t', ' ', 'g'),
             |        '[\x00-\x08\x0B-\x1F\x7F]', '', 'g'),
             |      ' {2,}', ' ', 'g')) AS c
             |  FROM planted)
             |SELECT doc_id, n_before, CAST(length(c) AS BIGINT) AS n_after,
             |  n_before <> length(c) AS changed, md5(c) AS cleaned_md5
             |FROM c ORDER BY doc_id""".stripMargin),
    ),
    // Corpus-wide n-gram novelty — the duplication DIAGNOSTIC next to the
    // dedup family: for every doc, what fraction of its distinct word
    // 8-grams appears in at least one OTHER doc (document frequency ≥ 2)?
    // High shared-gram mass marks template/boilerplate-heavy docs that
    // line-level and near-dup passes may individually miss, and the
    // corpus-wide histogram of this is the standard memorization-risk
    // report. Boilerplate is PLANTED (a fixed 10-token notice prepended
    // to every 9th doc — its 3 interior 8-grams repeat corpus-wide while
    // the banner/doc boundary grams stay unique) — but NOTE the corpus
    // also carries genuine natural repetition (~1k df=2 grams at
    // sf0.001), so the 2% flag threshold is a corpus-tuned knob and the
    // spec gates planted recall + the aggregate shift, not a clean-side
    // zero the data contradicts. Scale shape: d09's
    // fused ShingleHash gram machinery — one shuffle keyed by 8-byte
    // gram hashes for the document-frequency count, one join back, one
    // per-doc rollup; no gram string is ever allocated (the string-keyed
    // oracle verifies the hash bijection holds corpus-wide).
    QuerySpec(
      "t15_gram_novelty",
      (s, d) => {
        val banner = "this content is provided under the standard terms of use"
        val planted = when(col("doc_id") % 9 === 0,
          concat(lit(banner + " "), col("text"))).otherwise(col("text"))
        val base = docs(s, d).select(col("doc_id"), planted.as("t"))
        val grams = base.select(col("doc_id"),
          explode(ghash.shingleHash(split(col("t"), " "), 8)).as("gh"))
        val df = grams.groupBy("gh").agg(count(lit(1)).as("df"))
        grams.join(df, "gh")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_grams"),
            sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_shared"))
          .withColumn("dup_frac",
            col("n_shared").cast(DoubleType) / col("n_grams").cast(DoubleType))
          .withColumn("boilerplate_heavy", col("dup_frac") > 0.02)
          .orderBy("doc_id")
      },
      Some("""WITH planted AS (
             |  SELECT doc_id,
             |    CASE WHEN doc_id % 9 = 0
             |      THEN 'this content is provided under the standard terms of use '
             |           || text
             |      ELSE text END AS t
             |  FROM documents),
             |g AS (
             |  SELECT doc_id,
             |    list_distinct(list_transform(
             |      range(1, CASE WHEN len(string_split(t,' ')) - 7 > 1
             |                    THEN len(string_split(t,' ')) - 7
             |                    ELSE 1 END + 1),
             |      i -> array_to_string((string_split(t,' '))[i:i+7], ' ')))
             |      AS grams
             |  FROM planted),
             |e AS (SELECT doc_id, unnest(grams) AS gram FROM g),
             |c AS (SELECT gram, COUNT(*) AS df FROM e GROUP BY gram)
             |SELECT doc_id, COUNT(*) AS n_grams,
             |  CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_shared,
             |  CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
             |    / CAST(COUNT(*) AS DOUBLE) AS dup_frac,
             |  CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
             |    / CAST(COUNT(*) AS DOUBLE) > 0.02 AS boilerplate_heavy
             |FROM e JOIN c USING (gram)
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    ),
    // Model-based quality classification — the fastText-shaped linear
    // classifier every modern curation pipeline runs (FineWeb-Edu, DCLM:
    // score docs with a cheap linear model over hashed n-gram features,
    // keep above threshold). The model here is weight-hashed rather than
    // trained — w(feat) = mix64(fnv1a64(feat)) / 2^63 ∈ [−1, 1) — which
    // keeps the contract deterministic while exercising the EXACT serving
    // shape: per-doc feature extraction (unigrams + bigrams, the c03 zip
    // trick), per-feature weight lookup folded into the scan (the hash IS
    // the lookup — a real model would broadcast its weight table, the
    // c13/c22 pattern), and a decimal-exact mean so the score is
    // partitioning-invariant and oracle-reproducible. Entirely map-side:
    // at 100 TB this is a scan-speed filter, the same plan fastText
    // inference has. Division by 2^63 (exactly representable) and the
    // final decimal→double→divide are correctly rounded on both engines.
    QuerySpec(
      "t13_classifier_score",
      (s, d) =>
        docs(s, d)
          .select(col("doc_id"),
            classifierNFeats(col("text")).as("n_feats"),
            classifierScore(col("text")).as("score"))
          .withColumn("keep", col("score") > 0.0)
          .orderBy("doc_id"),
      Some(s"""WITH $t13ScoreCtes
              |SELECT doc_id, n_feats, score, score > 0.0 AS keep
              |FROM sc ORDER BY doc_id""".stripMargin),
    ),
    // Code-vs-prose routing — the pretraining split every mixed crawl
    // needs before tokenization (code gets its own tokenizer budget,
    // dedup keys, and quality rules). Corpus: every 7th doc is REPLACED
    // by a code rendering of its tokens (a function body, one `tok();`
    // statement per line inside braces) so the detector faces real
    // structural signal, not an id test. Detection is blind to doc_id:
    // count the code markers (`();` occurrences + braces) per line —
    // prose has ~none, the rendered code ~1 per line. Everything is
    // integer counts computed map-side in the scan stage (substring
    // counting by length difference — no regex); the one double is the
    // per-line score. At 100 TB this is a pure scan-stage classifier,
    // zero shuffle before the ordered output.
    QuerySpec(
      "t16_code_detect",
      (s, d) => CodeRouting.signals(CodeRouting.plant(
        Tables(s, d, "documents").select(col("doc_id"), col("text"))))
        .orderBy("doc_id"),
      Some("""WITH corpus AS (
             |  SELECT doc_id,
             |    CASE WHEN doc_id % 7 = 0
             |      THEN 'def main() {' || chr(10) ||
             |        array_to_string(list_transform(string_split(text, ' '),
             |          t -> '  ' || t || '();'), chr(10)) || chr(10) || '}'
             |      ELSE text END AS text
             |  FROM documents),
             |m AS (
             |  SELECT doc_id,
             |    CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines,
             |    CAST((length(text) - length(replace(text, '();', ''))) // 3
             |      + (length(text) - length(replace(text, '{', '')))
             |      + (length(text) - length(replace(text, '}', '')))
             |      AS BIGINT) AS marker_cnt
             |  FROM corpus)
             |SELECT doc_id, n_lines, marker_cnt,
             |  CAST(marker_cnt AS DOUBLE) / CAST(n_lines AS DOUBLE)
             |    AS code_score,
             |  CAST(marker_cnt AS DOUBLE) / CAST(n_lines AS DOUBLE) >= 0.8
             |    AS is_code
             |FROM m ORDER BY doc_id""".stripMargin),
    ),
    // Char-n-gram language classifier (see LangClassifier): planted
    // 4-language corpus (doc_id % 4 picks the vocabulary, word sequence
    // deterministic), trigram-profile hit counts per language, prio-
    // tie-broken argmax, confidence = winner hits / doc grams. Unlike
    // t03's marker-word argmax this discriminates on sub-word morphology
    // — LangIdSpec shows it separates real multilingual prose the word
    // heuristic misses. Entirely map-side (profile literals in the plan;
    // a production model broadcasts its profile table): a scan-speed
    // classifier at 100 TB, zero shuffle before the ordered output.
    QuerySpec(
      "t17_lang_classifier",
      (s, d) => LangClassifier.classify(LangClassifier.plant(
        Tables(s, d, "documents").select(col("doc_id")))),
      Some(LangClassifier.oracleSql),
    ),
    // Markup/boilerplate extraction — the jusText/trafilatura-style step
    // every web-corpus pipeline runs FIRST (the corpus here is
    // pre-extracted plain text, so the query plants a deterministic HTML
    // page around each doc): head/title line, a pure-link nav list, two
    // prose paragraphs (one carrying an inline anchor), an every-7th-doc
    // link-heavy promo block, and a link-farm footer. Extraction: strip
    // the <head>, split into block-level lines, drop blocks that are
    // empty after tag-strip or whose LINK DENSITY (anchor-text chars /
    // visible chars) reaches 1/2, tag-strip the survivors, reassemble.
    // The density threshold compares via integer cross-multiply
    // (2*linkChars < visibleChars) so it is exact in both engines; inline
    // anchors inside prose are KEPT (their text survives) — jusText's
    // distinction between navigation and citation. Pure per-row column
    // ops (regex + array HOFs, codegen'd): scan speed at 100 TB, zero
    // shuffle before the presentation sort.
    QuerySpec(
      "t18_markup_extract",
      (s, d) => markupExtract(docs(s, d)),
      Some("""WITH planted AS (
             |  SELECT doc_id,
             |    concat_ws(chr(10),
             |      '<html>',
             |      '<head><title>doc ' || CAST(doc_id AS VARCHAR) || '</title></head>',
             |      '<body>',
             |      '<ul><li><a href="/home">home</a></li><li><a href="/about">about</a></li><li><a href="/contact">contact</a></li></ul>',
             |      '<p>' || text || '</p>',
             |      '<p>more about ' || lang || ' topics see <a href="/rel/'
             |        || CAST(doc_id AS VARCHAR) || '">related '
             |        || CAST(doc_id AS VARCHAR) || '</a> here</p>',
             |      CASE WHEN doc_id % 7 = 0
             |           THEN '<p><a href="/buy">buy</a> <a href="/now">now</a> <a href="/deal">deal</a> wow</p>'
             |           END,
             |      '<div><a href="/terms">terms</a> <a href="/privacy">privacy</a> <a href="/cookies">cookies</a></div>',
             |      '</body></html>') AS html
             |  FROM documents),
             |blocks AS (
             |  SELECT doc_id,
             |    list_filter(
             |      string_split(regexp_replace(html, '<head>.*?</head>', ''), chr(10)),
             |      l -> length(regexp_replace(l, '<[^>]*>', '', 'g')) > 0) AS nonempty
             |  FROM planted),
             |kept AS (
             |  SELECT doc_id, nonempty,
             |    list_filter(nonempty,
             |      l -> 2 * coalesce(list_sum(list_transform(
             |               regexp_extract_all(l, '<a [^>]*>([^<]*)</a>', 1),
             |               x -> length(x))), 0)
             |           < length(regexp_replace(l, '<[^>]*>', '', 'g'))) AS keep
             |  FROM blocks)
             |SELECT doc_id,
             |  CAST(len(keep) AS BIGINT) AS n_kept,
             |  CAST(len(nonempty) - len(keep) AS BIGINT) AS n_dropped,
             |  md5(array_to_string(list_transform(keep,
             |    l -> regexp_replace(l, '<[^>]*>', '', 'g')), ' ')) AS extracted_md5
             |FROM kept ORDER BY doc_id""".stripMargin),
    ),
    // Intra-document repeated-span REMOVAL — the apply step of t06's
    // repetition measure (Gopher/Rae-style: machine-generated filler
    // repeats spans inside one document; t06 flags it, this strips it).
    // Span = consecutive non-overlapping 3-word chunk; a chunk is dropped
    // when an identical chunk occurred EARLIER in the same doc
    // (first-occurrence-wins, the deterministic variant of the published
    // rule). The plant appends a 3-word marker pattern repeated 3x to
    // every 5th doc — whatever the doc's length mod 3, at least one of
    // the appended chunks duplicates another, so the strip provably
    // fires (TextOpsSpec pins plant recall + the clean-doc identity).
    // Pure per-row array HOFs over the tokens — O(chunks log chunks) per
    // doc since the r14 sort-based rewrite (the r13 array_position form
    // was quadratic and would cliff on 1k-word web docs — see
    // [[repeatedSpanStrip]]), scan speed at 100 TB, zero shuffle before
    // the sort. The oracle keeps the quadratic list_position spelling:
    // same output, and DuckDB only runs it at oracle scales.
    QuerySpec(
      "t19_repeated_span_strip",
      (s, d) => repeatedSpanStrip(docs(s, d)),
      Some("""WITH planted AS (
             |  SELECT doc_id,
             |    CASE WHEN doc_id % 5 = 0
             |         THEN text || ' zq1 zq2 zq3 zq1 zq2 zq3 zq1 zq2 zq3'
             |         ELSE text END AS text
             |  FROM documents),
             |t AS (
             |  SELECT doc_id, string_split(text, ' ') AS toks FROM planted),
             |ch AS (
             |  SELECT doc_id,
             |    list_transform(
             |      range(0, CAST((len(toks) + 2) // 3 AS INT)),
             |      j -> array_to_string(list_slice(toks, j*3 + 1, j*3 + 3), ' '))
             |      AS chunks
             |  FROM t),
             |k AS (
             |  SELECT doc_id, chunks,
             |    list_filter(chunks, (x, i) -> list_position(chunks, x) = i)
             |      AS kept
             |  FROM ch)
             |SELECT doc_id,
             |  CAST(len(chunks) AS BIGINT) AS n_chunks,
             |  CAST(len(chunks) - len(kept) AS BIGINT) AS n_dupes,
             |  md5(array_to_string(kept, ' ')) AS cleaned_md5
             |FROM k ORDER BY doc_id""".stripMargin),
    ),
    // PII breadth beyond t07's email/URL: phone numbers (3 formats: dashed,
    // parenthesized area code, +1-international), IPv4 addresses (3
    // private-range shapes), and SSN-shaped IDs (3 digit plants). One
    // deterministic PII blob appended per doc, cycling over the 9 variants
    // by doc_id % 10 (the 10th residue gets NO plant, so the clean path is
    // exercised too). Regexes stay in the Java∩RE2 dialect (no
    // backrefs/lookaround; \b is ASCII word-boundary in both). Counts via
    // regexp_extract_all verify the MATCH SETS, not just replacements; the
    // scrub order is phone → IP → ID (the shapes are disjoint — phone has
    // a 3-3-4 digit grouping, ID 3-2-4, IP dots — so order is for
    // determinism, not correctness). Map-side only, scan speed at 100 TB.
    QuerySpec(
      "t07b_pii_breadth",
      (s, d) => piiBreadth(docs(s, d)),
      Some("""WITH planted AS (
             |  SELECT doc_id, text ||
             |    CASE doc_id % 10
             |      WHEN 0 THEN ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
             |        || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
             |      WHEN 1 THEN ' tel (555) ' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
             |        || ' ' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
             |      WHEN 2 THEN ' intl +1 555 ' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
             |        || ' ' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
             |      WHEN 3 THEN ' host 10.0.' || CAST(doc_id % 256 AS VARCHAR)
             |        || '.' || CAST(doc_id % 100 AS VARCHAR)
             |      WHEN 4 THEN ' gw 192.168.1.' || CAST(doc_id % 200 AS VARCHAR)
             |      WHEN 5 THEN ' srv 172.16.' || CAST(doc_id % 50 AS VARCHAR)
             |        || '.' || CAST(doc_id % 250 AS VARCHAR)
             |      WHEN 6 THEN ' ssn 123-45-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
             |      WHEN 7 THEN ' id 987-65-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
             |      WHEN 8 THEN ' ref 456-78-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
             |      ELSE '' END AS text
             |  FROM documents)
             |SELECT doc_id,
             |  CAST(len(regexp_extract_all(text,
             |    '(\+1 )?(\(\d{3}\) |\d{3}[- ])\d{3}[- ]\d{4}')) AS BIGINT)
             |    AS n_phones,
             |  CAST(len(regexp_extract_all(text,
             |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ips,
             |  CAST(len(regexp_extract_all(text,
             |    '\b\d{3}-\d{2}-\d{4}\b')) AS BIGINT) AS n_ids,
             |  md5(regexp_replace(regexp_replace(regexp_replace(text,
             |    '(\+1 )?(\(\d{3}\) |\d{3}[- ])\d{3}[- ]\d{4}', '<PHONE>', 'g'),
             |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
             |    '\b\d{3}-\d{2}-\d{4}\b', '<ID>', 'g')) AS scrubbed_md5
             |FROM planted ORDER BY doc_id""".stripMargin),
    ),
    // URL/domain blocklist filter — see [[blocklistFilter]] for the full
    // design narrative (label-suffix match, one broadcast array row,
    // per-row array_intersect, zero corpus shuffle; PlanSpec-gated).
    // `rule` reports the lexicographically smallest matching suffix
    // (deterministic), NULL on kept docs — keep-on-no-match is the
    // `NOT blocked` predicate downstream filters apply.
    QuerySpec(
      "t21_blocklist_filter",
      (s, d) => blocklistFilter(docs(s, d), Seq(
        "site7.example", "site13.example",
        "ads.site3.example", "media.site6.example")),
      Some(s"WITH ${graft.queries.Dedup.duckUrlCanonCtes},\n" +
        """h AS (SELECT doc_id,
          |  regexp_extract(canonical_url, '^https://([^/]+)', 1) AS bh
          |  FROM canon),
          |hosts AS (SELECT doc_id,
          |  CASE CAST(doc_id % 4 AS INT)
          |    WHEN 1 THEN 'ads.' || bh
          |    WHEN 2 THEN 'cdn.media.' || bh
          |    ELSE bh END AS host
          |  FROM h),
          |sfx AS (SELECT doc_id, host, string_split(host, '.') AS labels
          |  FROM hosts),
          |sx2 AS (SELECT doc_id, host,
          |  list_transform(range(1, len(labels) + 1),
          |    i -> array_to_string(labels[i:], '.')) AS suffixes
          |  FROM sfx),
          |mt AS (SELECT doc_id, host,
          |  list_intersect(suffixes, ['ads.site3.example',
          |    'media.site6.example', 'site13.example', 'site7.example'])
          |    AS matched
          |  FROM sx2)
          |SELECT doc_id, host, len(matched) > 0 AS blocked,
          |  list_min(matched) AS rule
          |FROM mt ORDER BY doc_id""".stripMargin),
    ),
    // Host-prior quality filtering — see [[hostPriorFilter]]: blend each
    // doc's classifier score with its host's mean score, so borderline
    // docs on consistently-good hosts are rescued and polished docs on
    // spam hosts are sunk (the domain-level quality propagation step of
    // web-curation pipelines). Oracle reuses t13's proven score chain +
    // the d13 URL canonicalization CTEs.
    QuerySpec(
      "t22_host_prior_filter",
      (s, d) => hostPriorFilter(docs(s, d)),
      Some {
        import graft.engine.Exact
        s"WITH ${graft.queries.Dedup.duckUrlCanonCtes},\n" +
          s"""$t13ScoreCtes,
             |based AS (
             |  SELECT s.doc_id,
             |    regexp_extract(c.canonical_url, '^https://([^/]+)', 1) AS host,
             |    s.score
             |  FROM sc s JOIN canon c USING (doc_id)),
             |prior AS (
             |  SELECT host,
             |    ${Exact.sqlSum("score")} / CAST(COUNT(*) AS DOUBLE)
             |      AS host_prior
             |  FROM based GROUP BY host)
             |SELECT b.doc_id, b.host, b.score, p.host_prior,
             |  0.5 * b.score + 0.5 * p.host_prior AS combined,
             |  (0.5 * b.score + 0.5 * p.host_prior) > 0.0 AS keep,
             |  ((0.5 * b.score + 0.5 * p.host_prior) > 0.0) <> (b.score > 0.0)
             |    AS flipped
             |FROM based b JOIN prior p USING (host)
             |ORDER BY doc_id""".stripMargin
      },
    ),
    // Distributed quality-classifier TRAINING — see [[classifierTrain]]
    // for the full design narrative (hashed features, algebraic sigmoid,
    // decimal-exact full-batch rounds, broadcast model serve). The oracle
    // unrolls the T20Rounds fixed gradient rounds in chained CTEs — the
    // s04-Lloyd pattern applied to model fitting. EdgeSpec asserts the
    // trained weights SEPARATE the planted classes (every positive
    // margin above every negative), i.e. the training actually learns,
    // not just reproduces.
    QuerySpec(
      "t20_classifier_train",
      (s, d) => classifierTrain(docs(s, d)),
      Some(t20OracleSql),
    ),
    // t20's DEPLOYABLE twin — train on the deterministic md5 sample,
    // serve corpus-wide (the FineWeb-Edu/DCLM deployment shape; the c27
    // exact/approx pairing applied to model fitting). See
    // [[classifierTrainSampled]]. EdgeSpec pins corpus-wide class
    // separation AND per-doc prediction agreement with full-batch t20.
    QuerySpec(
      "t20b_classifier_sampled",
      (s, d) => classifierTrainSampled(docs(s, d)),
      Some(t20bOracleSql),
    ),
    // Quality-ensemble keep decision — see [[ensembleFrame]]: the
    // MAD-calibrated vote combination of t13 / c13 / the continuous
    // Gopher signals, keep ⇔ ens > 0. EdgeSpec proves the coverage
    // claim (each planted failure class blinds one signal; the ensemble
    // separates all of them).
    QuerySpec(
      "t25_quality_ensemble",
      (s, d) => qualityEnsemble(docs(s, d)),
      Some {
        s"""WITH $ensembleOracleCtes
           |SELECT doc_id, cls, lm_nll, rep_ratio, stop_frac, label, ens,
           |  ens > 0.0 AS keep
           |FROM ensemble ORDER BY doc_id""".stripMargin
      },
    ),
    // t23's calibration sweep generalized to the ensemble — see
    // [[ensembleSweep]].
    QuerySpec(
      "t26_ensemble_sweep",
      (s, d) => ensembleSweep(docs(s, d)),
      Some(s"""WITH $ensembleOracleCtes,
              |base AS (SELECT doc_id, ens AS score, label FROM ensemble),
              |${sweepOracleSql(T26Grid)}""".stripMargin),
    ),
    // The ensemble at SERVE configuration — see [[qualityEnsembleServe]]:
    // the LM vote from the bounded truncated model (the gate a stream
    // can hold in memory; Streams.ensembleGate broadcasts exactly this
    // model and StreamingSpec pins bit-parity).
    QuerySpec(
      "t25b_ensemble_serve",
      (s, d) => qualityEnsembleServe(docs(s, d)),
      Some {
        s"""WITH ${ensembleOracleCtesWith(truncLmOracleCtes)}
           |SELECT doc_id, cls, lm_nll, rep_ratio, stop_frac, label, ens,
           |  ens > 0.0 AS keep
           |FROM ensemble ORDER BY doc_id""".stripMargin
      },
    ),
  )

  /** t18's engine. Input: (doc_id, text, lang). See the t18
    * QuerySpec comment for the full design narrative.
    */
  def markupExtract(in: DataFrame): DataFrame = {
    val strip = (l: Column) => regexp_replace(l, "<[^>]*>", "")
    val linkChars = (l: Column) => aggregate(
      transform(regexp_extract_all(l, lit("<a [^>]*>([^<]*)</a>"), lit(1)),
        x => length(x)),
      lit(0), (a, x) => a + x)
    val id = col("doc_id").cast("string")
    val html = concat_ws("\n",
      lit("<html>"),
      concat(lit("<head><title>doc "), id, lit("</title></head>")),
      lit("<body>"),
      lit("<ul><li><a href=\"/home\">home</a></li>" +
        "<li><a href=\"/about\">about</a></li>" +
        "<li><a href=\"/contact\">contact</a></li></ul>"),
      concat(lit("<p>"), col("text"), lit("</p>")),
      concat(lit("<p>more about "), col("lang"),
        lit(" topics see <a href=\"/rel/"), id,
        lit("\">related "), id, lit("</a> here</p>")),
      when(col("doc_id") % 7 === 0,
        lit("<p><a href=\"/buy\">buy</a> <a href=\"/now\">now</a> " +
          "<a href=\"/deal\">deal</a> wow</p>")),
      lit("<div><a href=\"/terms\">terms</a> " +
        "<a href=\"/privacy\">privacy</a> " +
        "<a href=\"/cookies\">cookies</a></div>"),
      lit("</body></html>"))
    val lines = split(regexp_replace(html, "<head>.*?</head>", ""), "\n")
    val nonempty = filter(lines, l => length(strip(l)) > lit(0))
    val kept = filter(nonempty, l => linkChars(l) * lit(2) < length(strip(l)))
    in.select(
      col("doc_id"),
      size(kept).cast(LongType).as("n_kept"),
      (size(nonempty) - size(kept)).cast(LongType).as("n_dropped"),
      md5(concat_ws(" ", transform(kept, strip))).as("extracted_md5"))
      .orderBy("doc_id")
  }

  /** t19's engine — input (doc_id, text). See the t19 QuerySpec comment. */
  def repeatedSpanStrip(in: DataFrame): DataFrame = {
    val planted = when(col("doc_id") % 5 === 0,
      concat(col("text"),
        lit(" zq1 zq2 zq3 zq1 zq2 zq3 zq1 zq2 zq3")))
      .otherwise(col("text"))
    // `toks` is materialized as a column BEFORE the chunk lambda slices
    // it: `slice(split(...), ...)` inside the transform re-evaluates the
    // split per CHUNK — O(words²) on 1k-word docs (the r14 long-doc probe
    // found it: 81 s → 6 s at 20k×1k-word docs once hoisted).
    val nChunks = floor((size(col("toks")) + lit(2)) / lit(3)).cast("int")
    val chunks = transform(sequence(lit(0), nChunks - 1),
      j => concat_ws(" ", slice(col("toks"), j * 3 + 1, lit(3))))
    // First-occurrence filter in O(chunks log chunks), not O(chunks²):
    // sort (chunk, idx) pairs, keep each sorted run's head (the minimal
    // index per distinct chunk — exactly array_position(chunks, c) ==
    // j+1 semantics), then re-sort the kept indices to rebuild original
    // order. The r13 shape probed one array_position scan PER chunk —
    // fine at this corpus's ~40-word docs but quadratic on real 1k-word
    // web docs (~350 chunks ≈ 6·10⁴ string-compare probes/doc; the
    // `t19long` line of dev/scaleprobe_r14.jsonl). Each intermediate
    // array is materialized as a column BEFORE a lambda self-references
    // it (the r13 t19 lesson: referencing an unmaterialized transform
    // inside a lambda re-builds the whole array per probe).
    in.select(col("doc_id"), split(planted, " ").as("toks"))
      .select(col("doc_id"), chunks.as("chunks"))
      .select(col("doc_id"), col("chunks"),
        array_sort(transform(col("chunks"),
          (c, j) => struct(c.as("c"), j.as("j")))).as("sorted"))
      .select(col("doc_id"), col("chunks"),
        // Structural guard, not short-circuit: element_at is 1-based and
        // index 0 is a runtime error, so the i==0 case takes its own
        // branch and the comparison arm clamps with greatest(i, 1) —
        // correctness no longer depends on Or short-circuit evaluation
        // order in interpreted HOF lambdas.
        array_sort(filter(transform(col("sorted"), (x, i) =>
          when(i === 0, x.getField("j"))
            .otherwise(when(
              x.getField("c") =!=
                element_at(col("sorted"), greatest(i, lit(1))).getField("c"),
              x.getField("j")).otherwise(lit(-1)))),
          v => v =!= -1)).as("kept_idx"))
      .select(
        col("doc_id"),
        size(col("chunks")).cast(LongType).as("n_chunks"),
        (size(col("chunks")) - size(col("kept_idx"))).cast(LongType)
          .as("n_dupes"),
        md5(concat_ws(" ", transform(col("kept_idx"),
          j => element_at(col("chunks"), j + 1)))).as("cleaned_md5"))
      .orderBy("doc_id")
  }

  /** t07b's engine — input (doc_id, text). See the t07b QuerySpec comment. */
  def piiBreadth(in: DataFrame): DataFrame = {
    val phoneRe = "(\\+1 )?(\\(\\d{3}\\) |\\d{3}[- ])\\d{3}[- ]\\d{4}"
    val ipRe = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
    val idRe = "\\b\\d{3}-\\d{2}-\\d{4}\\b"
    val p3 = lpad(col("doc_id") % 1000 cast "string", 3, "0")
    val p4 = lpad(col("doc_id") % 10000 cast "string", 4, "0")
    val blob = col("doc_id") % 10
    val planted = concat(col("text"),
      when(blob === 0, concat(lit(" call 555-"), p3, lit("-"), p4))
        .when(blob === 1, concat(lit(" tel (555) "), p3, lit(" "), p4))
        .when(blob === 2, concat(lit(" intl +1 555 "), p3, lit(" "), p4))
        .when(blob === 3, concat(lit(" host 10.0."),
          (col("doc_id") % 256).cast("string"), lit("."),
          (col("doc_id") % 100).cast("string")))
        .when(blob === 4, concat(lit(" gw 192.168.1."),
          (col("doc_id") % 200).cast("string")))
        .when(blob === 5, concat(lit(" srv 172.16."),
          (col("doc_id") % 50).cast("string"), lit("."),
          (col("doc_id") % 250).cast("string")))
        .when(blob === 6, concat(lit(" ssn 123-45-"), p4))
        .when(blob === 7, concat(lit(" id 987-65-"), p4))
        .when(blob === 8, concat(lit(" ref 456-78-"), p4))
        .otherwise(lit("")))
    in.select(col("doc_id"), planted.as("text"))
      .select(
        col("doc_id"),
        size(regexp_extract_all(col("text"), lit(phoneRe), lit(0)))
          .cast(LongType).as("n_phones"),
        size(regexp_extract_all(col("text"), lit(ipRe), lit(0)))
          .cast(LongType).as("n_ips"),
        size(regexp_extract_all(col("text"), lit(idRe), lit(0)))
          .cast(LongType).as("n_ids"),
        md5(regexp_replace(regexp_replace(regexp_replace(col("text"),
          phoneRe, "<PHONE>"), ipRe, "<IP>"), idRe, "<ID>"))
          .as("scrubbed_md5"))
      .orderBy("doc_id")
  }

  /** t20's oracle: the [[T20Rounds]] gradient rounds UNROLLED in chained CTEs
    * (seed residual → g1/w1 → m2/r2/g2/w2 → … → final margins), mirroring
    * the fixed round count in the contract query. Every sum goes through
    * [[graft.engine.Exact.sqlSumNarrow]]'s VARCHAR-hopped decimal path
    * (terms here are bounded by the max |margin| ≈ 4, far under the 10^8
    * width bound — and the narrow form is what keeps 13 corpus passes
    * under the sf1 oracle cap) and the sigmoid is the same algebraic
    * expression tree as the Spark side, so the whole training trajectory
    * is bit-identical.
    */
  private[graft] def t20OracleSql: String = {
    import graft.engine.{DuckHash, Exact}
    val head =
      s"""WITH docs2 AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 9 = 0 THEN text || ' $t20Markers'
         |         ELSE text END AS text,
         |    CAST(CASE WHEN doc_id % 9 = 0 THEN 1 ELSE 0 END AS DOUBLE) AS y
         |  FROM documents),
         |tk AS (SELECT doc_id, y, string_split(text, ' ') AS toks FROM docs2),
         |fc0 AS MATERIALIZED (
         |  SELECT doc_id, y,
         |    CAST(${DuckHash.fnv("feat")} % $T20Buckets AS BIGINT) AS fid,
         |    COUNT(*) AS c
         |  FROM (
         |    SELECT doc_id, y, unnest(list_concat(toks,
         |      list_transform(range(1, len(toks)),
         |        i -> toks[i] || ' ' || toks[i+1]))) AS feat
         |    FROM tk)
         |  GROUP BY doc_id, y, fid),
         |nfeats AS (SELECT doc_id, CAST(SUM(c) AS DOUBLE) AS nf
         |  FROM fc0 GROUP BY doc_id),
         |fc AS MATERIALIZED (
         |  SELECT f.doc_id, y, fid, CAST(c AS DOUBLE) / nf AS x
         |  FROM (SELECT * FROM fc0 UNION ALL
         |        SELECT doc_id, y, -1 AS fid, 1 AS c FROM docs2) f
         |  JOIN nfeats USING (doc_id)),
         |nd AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nn FROM documents),
         |r1 AS (SELECT doc_id, 0.5 - y AS r FROM docs2)""".stripMargin
    val body = t20RoundCtes("fc")
    val tail =
      s""",
         |mf AS (SELECT doc_id, y, ${Exact.sqlSumNarrow("w * x")} AS m
         |  FROM fc JOIN w$T20Rounds USING (fid) GROUP BY doc_id, y),
         |thr AS (SELECT (
         |    ${Exact.sqlSumNarrow("CASE WHEN y = 1.0 THEN m END")}
         |      / SUM(CASE WHEN y = 1.0 THEN 1.0 ELSE 0.0 END)
         |    + ${Exact.sqlSumNarrow("CASE WHEN y = 0.0 THEN m END")}
         |      / SUM(CASE WHEN y = 0.0 THEN 1.0 ELSE 0.0 END)
         |  ) / 2.0 AS t FROM mf)
         |SELECT doc_id, CAST(y AS BIGINT) AS label, m AS margin,
         |  m > t AS pred
         |FROM mf CROSS JOIN thr ORDER BY doc_id""".stripMargin
    head + body + tail
  }

  /** The [[T20Rounds]] unrolled gradient rounds over the `train` feature
    * CTE (t20: `fc`, t20b: its in-sample slice `fcs`): per round the
    * gradient `g{k}`, the weights `w{k}` and, before the last, the next
    * margins `m{k+1}` and residuals `r{k+1}`.
    */
  private def t20RoundCtes(train: String): String = {
    import graft.engine.Exact
    (1 to T20Rounds).map { k =>
      val g =
        s"""g$k AS (SELECT fid, s / nn AS g FROM (
           |  SELECT fid, ${Exact.sqlSumNarrow("r * x")} AS s
           |  FROM $train JOIN r$k USING (doc_id) GROUP BY fid)
           |  CROSS JOIN nd)""".stripMargin
      val w = if (k == 1)
        s"w1 AS (SELECT fid, 0.0 - $T20Lr * g AS w FROM g1)"
      else
        s"w$k AS (SELECT fid, w - $T20Lr * g AS w FROM w${k - 1} JOIN g$k USING (fid))"
      val next = if (k < T20Rounds)
        s""",
           |m${k + 1} AS (SELECT doc_id, y, ${Exact.sqlSumNarrow("w * x")} AS m
           |  FROM $train JOIN w$k USING (fid) GROUP BY doc_id, y),
           |r${k + 1} AS (SELECT doc_id,
           |  0.5 + m / (2.0 * (1.0 + abs(m))) - y AS r FROM m${k + 1})""".stripMargin
      else ""
      s",\n$g,\n$w$next"
    }.mkString
  }

  /** t20b's oracle — [[t20OracleSql]] with the training CTEs restricted
    * to the deterministic md5 sample (fcs/nd/r1 filter on in_sample) and
    * the serve/threshold split: margins over ALL docs under the
    * sample-trained weights, threshold from the sample's class means.
    * Same decimal-exact trajectory, so still bit-identical to Spark.
    */
  private[graft] def t20bOracleSql: String = {
    import graft.engine.{DuckHash, Exact}
    val head =
      s"""WITH docs0 AS (
         |  SELECT doc_id, text,
         |    substring(md5(text), 1, 1) IN ('0','1','2','3') AS in_sample
         |  FROM documents),
         |docs2 AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 9 = 0 THEN text || ' $t20Markers'
         |         ELSE text END AS text,
         |    CAST(CASE WHEN doc_id % 9 = 0 THEN 1 ELSE 0 END AS DOUBLE) AS y,
         |    in_sample
         |  FROM docs0),
         |tk AS (SELECT doc_id, y, in_sample, string_split(text, ' ') AS toks
         |  FROM docs2),
         |fc0 AS MATERIALIZED (
         |  SELECT doc_id, y, in_sample,
         |    CAST(${DuckHash.fnv("feat")} % $T20Buckets AS BIGINT) AS fid,
         |    COUNT(*) AS c
         |  FROM (
         |    SELECT doc_id, y, in_sample, unnest(list_concat(toks,
         |      list_transform(range(1, len(toks)),
         |        i -> toks[i] || ' ' || toks[i+1]))) AS feat
         |    FROM tk)
         |  GROUP BY doc_id, y, in_sample, fid),
         |nfeats AS (SELECT doc_id, CAST(SUM(c) AS DOUBLE) AS nf
         |  FROM fc0 GROUP BY doc_id),
         |fc AS MATERIALIZED (
         |  SELECT f.doc_id, y, in_sample, fid, CAST(c AS DOUBLE) / nf AS x
         |  FROM (SELECT * FROM fc0 UNION ALL
         |        SELECT doc_id, y, in_sample, -1 AS fid, 1 AS c FROM docs2) f
         |  JOIN nfeats USING (doc_id)),
         |fcs AS MATERIALIZED (
         |  SELECT doc_id, y, fid, x FROM fc WHERE in_sample),
         |nd AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nn
         |  FROM docs2 WHERE in_sample),
         |r1 AS (SELECT doc_id, 0.5 - y AS r FROM docs2 WHERE in_sample)"""
        .stripMargin
    val body = t20RoundCtes("fcs")
    val tail =
      s""",
         |mf AS (SELECT doc_id, y, in_sample,
         |    ${Exact.sqlSumNarrow("w * x")} AS m
         |  FROM fc JOIN w$T20Rounds USING (fid) GROUP BY doc_id, y, in_sample),
         |thr AS (SELECT (
         |    ${Exact.sqlSumNarrow("CASE WHEN y = 1.0 THEN m END")}
         |      / SUM(CASE WHEN y = 1.0 THEN 1.0 ELSE 0.0 END)
         |    + ${Exact.sqlSumNarrow("CASE WHEN y = 0.0 THEN m END")}
         |      / SUM(CASE WHEN y = 0.0 THEN 1.0 ELSE 0.0 END)
         |  ) / 2.0 AS t FROM mf WHERE in_sample)
         |SELECT doc_id, in_sample, CAST(y AS BIGINT) AS label, m AS margin,
         |  m > t AS pred
         |FROM mf CROSS JOIN thr ORDER BY doc_id""".stripMargin
    head + body + tail
  }

  /** t21's engine — UT1-style URL/domain blocklist filtering with
    * label-suffix match semantics: a host is blocked iff ANY of its
    * label-suffixes (`ads.site3.example` → `ads.site3.example`,
    * `site3.example`, `example`) appears in the blocklist — so a rule on
    * the registrable domain blocks every subdomain, while a rule on one
    * subdomain leaves its siblings alone. This is the first filter a
    * production crawl pipeline runs (UT1/adult/ads lists), and the one
    * thing it must never do is regex-per-rule-per-row.
    *
    * Scale shape: the suffix explosion is a per-row `transform` bounded
    * by the host's label count (≤ ~6 on real hosts), and the blocklist —
    * bounded by definition (UT1 is a few hundred thousand rows; here a
    * planted handful) — arrives as ONE collected array row through a
    * broadcast nested-loop join, so matching is a per-row
    * `array_intersect` (hash-set semantics) at scan speed: zero corpus
    * shuffle before the presentation sort, gated in PlanSpec. At UT1
    * scale the single array row stays a few MB — still broadcastable; if
    * a list ever outgrew that, the same query degrades gracefully to an
    * exploded-suffix broadcast hash join keyed on the rule string.
    *
    * Hosts extend the d13/c19 URL fixture with planted subdomain depth
    * (doc_id%4==1 → `ads.`, ==2 → `cdn.media.`) so suffix-match has real
    * work to do: rule `site7.example` must catch all three shapes, rule
    * `ads.site3.example` must catch ONLY the ads subdomain, and
    * `media.site6.example` only the cdn.media variant (an inner suffix —
    * site6, because the `cdn.media.` variant rides doc_id%4==2, i.e. even
    * ids, and siteK needs doc_id%50==K: an odd K never co-occurs with it).
    */
  def blocklistFilter(in: DataFrame, rules: Seq[String]): DataFrame = {
    val s = in.sparkSession
    import s.implicits._
    val baseHost = regexp_extract(
      Dedup.canonicalUrl(Dedup.syntheticUrl), "^https://([^/]+)", 1)
    val v = col("doc_id") % 4
    val host = when(v === 1, concat(lit("ads."), baseHost))
      .when(v === 2, concat(lit("cdn.media."), baseHost))
      .otherwise(baseHost)
    val ruleRow = broadcast(rules.toDF("rule")
      .agg(sort_array(collect_list(col("rule"))).as("rules")))
    in.select(col("doc_id"), host.as("host"))
      .crossJoin(ruleRow)
      .select(col("doc_id"), col("host"), col("rules"),
        split(col("host"), "\\.").as("labels"))
      .select(col("doc_id"), col("host"), col("rules"),
        transform(sequence(lit(0), size(col("labels")) - 1),
          i => concat_ws(".", slice(col("labels"), i + 1, size(col("labels")))))
          .as("suffixes"))
      .select(col("doc_id"), col("host"),
        array_intersect(col("suffixes"), col("rules")).as("matched"))
      .select(col("doc_id"), col("host"),
        (size(col("matched")) > 0).as("blocked"),
        array_min(col("matched")).as("rule"))
      .orderBy("doc_id")
  }

  /** t22's engine — host-prior quality filtering: the domain-level quality
    * propagation step of web curation pipelines (a host whose documents
    * consistently score well lends credit to its borderline pages;
    * a spam host drags down its occasional polished page). Each doc's
    * final decision blends its own t13 classifier score with its host's
    * mean score: combined = 0.5·score + 0.5·host_prior, keep ⇔
    * combined > 0 (0.5 is a power of two, and a two-term fp sum is
    * exactly rounded — cross-engine bit-identical). `flipped` marks docs
    * whose decision the prior changed (the operator's observable effect).
    *
    * Scale shape: scoring is map-side (t13's scan-speed serve), the host
    * prior is ONE narrow shuffle over a (host, score) frame —
    * checkpointed (the d21 pattern) so text is scanned once — and the
    * prior join is SIZE-GATED like c13's model join: broadcast while the
    * host table fits (`broadcastHostsMax`), shuffle-hash join on `host`
    * past it (the open web is ~100M+ hosts — beyond any broadcast).
    * Both paths value-identical (EdgeSpec pins it). The host prior's
    * mean goes through the decimal-exact accumulator so it is
    * partitioning-invariant.
    */
  def hostPriorFilter(in: DataFrame,
      broadcastHostsMax: Long = 1L << 20): DataFrame = {
    import graft.engine.Exact
    val base = in.select(col("doc_id"),
        regexp_extract(Dedup.canonicalUrl(Dedup.syntheticUrl),
          "^https://([^/]+)", 1).as("host"),
        classifierScore(col("text")).as("score"))
      .localCheckpoint(true) // narrow per-doc frame, consumed twice
    val prior = base.groupBy("host")
      .agg((Exact.dsum(col("score")) / count(lit(1)).cast(DoubleType))
        .as("host_prior"))
      .localCheckpoint(true)
    val joined =
      if (prior.count() <= broadcastHostsMax) base.join(broadcast(prior), "host")
      else base.join(prior, "host")
    joined
      .select(col("doc_id"), col("host"), col("score"), col("host_prior"),
        (lit(0.5) * col("score") + lit(0.5) * col("host_prior"))
          .as("combined"))
      .withColumn("keep", col("combined") > 0.0)
      .withColumn("flipped", col("keep") =!= (col("score") > 0.0))
      .orderBy("doc_id")
  }

  /** t20's engine — DISTRIBUTED training of the t13-shaped linear quality
    * classifier (the FineWeb-Edu/DCLM loop: train a cheap linear model on
    * labeled seed data, serve it as a scan-speed filter). Labels are
    * planted (every 9th doc gets twelve marker "quality vocabulary" tokens
    * appended and y=1), features are t13's hashed unigrams+bigrams
    * bucketed to [[T20Buckets]] ids (the hashing trick — the model is ≤ 2^18
    * rows by construction, broadcastable at ANY corpus size), and the
    * optimizer is [[T20Rounds]] FULL-BATCH gradient steps on logistic-style
    * loss with the algebraic sigmoid σ(x) = 0.5 + x / (2·(1+|x|))
    * (Elliott's rational sigmoid): only +,·,/,abs — every op IEEE
    * correctly rounded, so residuals are bit-identical across engines,
    * where exp() would drift in the last ulp between libm builds. The
    * fixed round count and decimal-exact sums (margins AND gradients both
    * through [[graft.engine.Exact.dsum]]) make the whole training
    * trajectory partitioning-invariant and SQL-unrollable — the s04-Lloyd
    * / c26-EM contract shape applied to model fitting.
    *
    * Scale shape: the corpus is tokenized ONCE into the checkpointed
    * (doc, fid, c) frame; each round is (a) one narrow doc_id-keyed
    * shuffle of that frame against the residuals (the X^T·r transpose
    * product — the honest cost of full-batch GD; int/double rows, text
    * never moves) and (b) one margin pass where the weight table joins
    * BROADCAST (the serve path: round k+1's margin computation IS t13's
    * inference shape with learned weights instead of hash weights —
    * that's also the query's final output, so "train then re-serve
    * through t13" is literally the last stage of the plan). Per-round
    * frames are localCheckpoint'ed (the d08 loop discipline).
    */
  private[graft] val t20Markers: String =
    (1 to 12).map(i => s"qy$i").mkString(" ")
  // Shared between the engine defaults and the oracle builder call — ONE
  // definition so changing either cannot silently break Spark/oracle
  // bit-parity (the r14 ADVICE item).
  private[graft] val T20Rounds: Int = 6
  private[graft] val T20Lr: Double = 800.0
  private[graft] val T20Buckets: Int = 262144 // hashed feature space

  /** t20/t20b's planted corpus `(doc_id, text, y, extra…)`: every 9th doc
    * carries the marker tokens and is the positive class.
    */
  private def t20Base(in: DataFrame, extra: Column*): DataFrame = {
    val planted = when(col("doc_id") % 9 === 0,
      concat(col("text"), lit(" " + t20Markers))).otherwise(col("text"))
    val y = when(col("doc_id") % 9 === 0, 1.0).otherwise(0.0)
    in.select(Seq(col("doc_id"), planted.as("text"), y.as("y")) ++ extra: _*)
  }

  /** t20/t20b's feature frame `(doc_id, y, extra…, fid, x)` over a
    * [[t20Base]] frame: hashed feature counts into [[T20Buckets]] slots.
    * Features are LENGTH-NORMALIZED (x = c / n_feats, the t13 serve shape)
    * so margins compare across doc lengths — with raw counts the margin
    * tracks length, not class (the r14 first cut measured exactly that),
    * and a BIAS feature (fid = −1, x = 1/n_feats) absorbs the 1-in-9
    * class imbalance. `extra` are pass-through doc-functional columns
    * (t20b's in_sample), as in [[t20Margins]].
    */
  private def t20Features(base: DataFrame,
      extra: Seq[String] = Nil): DataFrame = {
    val keys = (Seq("doc_id", "y") ++ extra).map(col)
    val fc0 = base
      .select(keys :+ explode(classifierFeats(col("text"))).as("feat"): _*)
      .select(keys :+
        pmod(ghash.fnv1a64(col("feat")), lit(T20Buckets.toLong)).as("fid"): _*)
      .groupBy(keys :+ col("fid"): _*)
      .agg(count(lit(1)).as("c"))
      // checkpointed: consumed by BOTH the nf aggregate and the bias
      // union below — without it the tokenize+hash text scan runs twice
      .localCheckpoint(true)
    val nf = fc0.groupBy("doc_id")
      .agg(sum(col("c")).cast(DoubleType).as("nf"))
    fc0
      .unionByName(base.select(keys ++ Seq(lit(-1L).as("fid"), lit(1L).as("c")): _*))
      .join(nf, "doc_id")
      .select(keys ++ Seq(col("fid"),
        (col("c").cast(DoubleType) / col("nf")).as("x")): _*)
      .localCheckpoint(true)
  }

  def classifierTrain(in: DataFrame): DataFrame = {
    val base = t20Base(in)
    val fc = t20Features(base)
    val w = t20TrainLoop(fc, base.select(col("doc_id"), col("y")))
    // Final serve + evaluation: margins under the trained weights, with
    // the operating point at the midpoint of the class-mean margins (the
    // calibrated model keeps ALL margins below zero under 1-in-9
    // imbalance — thresholding at 0 would be the r14 first-cut mistake;
    // real pipelines pick the threshold from labeled-set score stats the
    // same way, cf. FineWeb-Edu's percentile cut).
    val mf = t20Margins(fc, w).localCheckpoint(true)
    val thr = broadcast(mf.agg(t20ThrSum.as("s2"))
      .select((col("s2") / 2.0).as("thr")))
    mf.crossJoin(thr)
      .select(col("doc_id"), col("y").cast(LongType).as("label"),
        col("m").as("margin"), (col("m") > col("thr")).as("pred"))
      .orderBy("doc_id")
  }

  /** The Elliott rational sigmoid σ(x) = 0.5 + x/(2(1+|x|)) — only IEEE
    * correctly-rounded ops, bit-identical across engines where exp()
    * would drift (the t20 contract note).
    */
  private def t20Sigma(m: Column): Column =
    lit(0.5) + m / (lit(2.0) * (lit(1.0) + abs(m)))

  /** Margin pass: ONE broadcast join of the ≤2^18-row model against the
    * feature frame — t13's inference shape. `extra` carries pass-through
    * grouping columns (t20b's in_sample flag); doc-functional, so adding
    * them never changes the groups.
    */
  private def t20Margins(fc: DataFrame, w: DataFrame,
      extra: Seq[String] = Nil): DataFrame = {
    import graft.engine.Exact
    fc.join(broadcast(w), "fid")
      .groupBy((Seq("doc_id", "y") ++ extra).map(col): _*)
      .agg(Exact.dsum(col("w") * col("x")).as("m"))
  }

  /** Midpoint-of-class-mean-margins operating threshold (×2, caller
    * divides): decimal-exact sums so the threshold is
    * partitioning-invariant like everything else in the trajectory.
    */
  private def t20ThrSum: Column = {
    import graft.engine.Exact
    (Exact.dsum(when(col("y") === 1.0, col("m"))) /
        sum(when(col("y") === 1.0, 1.0))) +
      (Exact.dsum(when(col("y") === 0.0, col("m"))) /
        sum(when(col("y") === 0.0, 1.0)))
  }

  /** The t20 training loop proper — [[T20Rounds]] full-batch decimal-exact GD
    * steps over a (doc_id, y, fid, x) feature frame; returns the final
    * checkpointed (fid, w) model. Extracted so the deployable sampled
    * path ([[classifierTrainSampled]]) trains through the IDENTICAL code
    * as the exact full-batch contract ([[classifierTrain]]) — they differ
    * only in which docs feed the loop.
    */
  private def t20TrainLoop(fcTrain: DataFrame,
      trainDocs: DataFrame): DataFrame = {
    import graft.engine.Exact
    // training-set size as a broadcast 1-row frame (the c05 pattern),
    // never a driver-side count: gradients are mean-normalized so the
    // learning rate is training-set-size-invariant (measured at r14:
    // same class-margin gap from 500 docs to 1M).
    val nRow = broadcast(trainDocs.agg(count(lit(1)).cast(DoubleType).as("n")))
    // round 1: w = 0 → all margins exactly 0 → residual is 0.5 − y
    var resid = trainDocs.select(col("doc_id"), (lit(0.5) - col("y")).as("r"))
    var w: DataFrame = null
    for (round <- 1 to T20Rounds) {
      val grad = fcTrain.join(resid, "doc_id")
        .groupBy("fid")
        .agg(Exact.dsum(col("r") * col("x")).as("gsum"))
        .crossJoin(nRow)
        .select(col("fid"), (col("gsum") / col("n")).as("g"))
      // 0.0 - x, not unary minus: both engines then produce +0.0 on a
      // zero gradient (negate would yield -0.0 and break the bit compare)
      w = (if (w == null)
             grad.select(col("fid"), (lit(0.0) - lit(T20Lr) * col("g")).as("w"))
           else
             w.join(grad, "fid")
               .select(col("fid"), (col("w") - lit(T20Lr) * col("g")).as("w")))
        .localCheckpoint(true)
      if (round < T20Rounds)
        resid = t20Margins(fcTrain, w)
          .select(col("doc_id"), (t20Sigma(col("m")) - col("y")).as("r"))
    }
    w
  }

  /** t20b's engine — the DEPLOYABLE twin of [[classifierTrain]] (the c27
    * exact/approx pairing applied to model fitting). The exact full-batch
    * contract trains on the whole corpus — 2·rounds+1 corpus passes,
    * which is the wrong shape at 100 TB, where real pipelines
    * (FineWeb-Edu, DCLM) train on a BOUNDED labeled set and serve
    * corpus-wide. Here the labeled set is a deterministic content-hash
    * sample (c01's pattern — md5 first hex digit in 0..3, 1/4 of docs,
    * drawn from the ORIGINAL text before any label-dependent plant, so
    * the sample is what a crawler would hand an annotator), the training
    * loop is the IDENTICAL 6-round decimal-exact code as t20
    * ([[t20TrainLoop]]), and the serve is ONE corpus-wide broadcast-join
    * margin pass — t13's inference shape. The operating threshold comes
    * from the LABELED SAMPLE's class-mean margins (corpus-wide label
    * stats don't exist in deployment — you only have labels where you
    * sampled).
    *
    * Scale shape vs t20: the corpus is still tokenized once (the serve
    * pass needs every doc's features anyway), but all 2·rounds training
    * shuffles run over the bounded sample only; at a fixed-size labeled
    * set the training cost is CONSTANT in corpus size and the whole query
    * is one scan + one broadcast join. The deterministic 25% sample here
    * (rather than a fixed count) is what keeps the contract
    * SQL-expressible — EdgeSpec pins that the sampled model still
    * separates the planted classes corpus-wide and agrees with full-batch
    * t20 on every prediction.
    */
  def classifierTrainSampled(in: DataFrame): DataFrame = {
    // sample membership hashes the PRE-PLANT text: label-independent
    val inSample = substring(md5(col("text")), 1, 1)
      .isin("0", "1", "2", "3")
    val base = t20Base(in, inSample.as("in_sample"))
    val fc = t20Features(base, Seq("in_sample"))
    val fcs = fc.filter(col("in_sample"))
      .select(col("doc_id"), col("y"), col("fid"), col("x"))
    val w = t20TrainLoop(fcs,
      base.filter(col("in_sample")).select(col("doc_id"), col("y")))
    // corpus-wide serve under the sample-trained model; threshold from
    // the labeled sample only
    val mf = t20Margins(fc, w, Seq("in_sample")).localCheckpoint(true)
    val thr = broadcast(mf.filter(col("in_sample")).agg(t20ThrSum.as("s2"))
      .select((col("s2") / 2.0).as("thr")))
    mf.crossJoin(thr)
      .select(col("doc_id"), col("in_sample"),
        col("y").cast(LongType).as("label"),
        col("m").as("margin"), (col("m") > col("thr")).as("pred"))
      .orderBy("doc_id")
  }

  /** Code-vs-prose routing — the t16 engine, ONE shared definition for
    * the batch query and [[graft.streaming.Streams.codeRouter]] (the
    * streaming half cannot drift from the oracle-gated batch rule). All
    * per-row column math: stateless in append mode.
    *
    * SYNTHETIC-CORPUS ASSUMPTION: the 0.8 markers-per-line threshold
    * discriminates cleanly here because the prose side of this corpus is
    * brace-free (generated token text) while planted code carries one
    * `();` per line — EdgeSpec pins exactly that. Real-world prose is
    * often single-line and one stray `{` or `();` would clear the
    * threshold; a production router should require multiple DISTINCT
    * marker kinds (braces AND call syntax) or a minimum marker count
    * before flagging, not just this density ratio.
    */
  object CodeRouting {

    /** Every 7th doc rendered as code: one `tok();` statement per line
      * inside a brace pair — the planted structural signal.
      */
    def plant(docs: DataFrame): DataFrame = {
      val codeText = concat(lit("def main() {\n"),
        concat_ws("\n", transform(split(col("text"), " "),
          t => concat(lit("  "), t, lit("();")))),
        lit("\n}"))
      docs.select(col("doc_id"),
        when(col("doc_id") % 7 === 0, codeText).otherwise(col("text"))
          .as("text"))
    }

    /** Blind detection over a (doc_id, text) frame: code markers (`();`
      * occurrences + braces) per line, counted by length difference —
      * no regex; integer `div` mirrors the oracle's `// 3`.
      */
    def signals(corpus: DataFrame): DataFrame = {
      val markers = expr(
        """cast((length(text) - length(replace(text, '();', ''))) div 3
          |  + (length(text) - length(replace(text, '{', '')))
          |  + (length(text) - length(replace(text, '}', ''))) as bigint)"""
          .stripMargin)
      corpus
        .withColumn("n_lines",
          size(split(col("text"), "\n")).cast(LongType))
        .withColumn("marker_cnt", markers)
        .withColumn("code_score",
          col("marker_cnt").cast(DoubleType) / col("n_lines").cast(DoubleType))
        .withColumn("is_code", col("code_score") >= 0.8)
        .select("doc_id", "n_lines", "marker_cnt", "code_score", "is_code")
    }
  }
}
