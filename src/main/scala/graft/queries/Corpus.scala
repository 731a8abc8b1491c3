package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.QuerySpec
import graft.engine.{Exact, Tables}

/** Corpus-level pipeline operators: deterministic sampling, vocabulary and
  * n-gram statistics, quantiles. All shuffle-lean shapes: token explosion is
  * map-side, counting is partial+final agg, top-K is TakeOrderedAndProject.
  * Entirely beyond the reference (no string functions, no sampling, no
  * percentiles — reference: src/binder/expression/mod.rs:16-24,
  * src/binder/expression/agg_func.rs:10-15).
  */
object Corpus {

  // Contract constants: each is read by its rows' engines, the streaming
  // twins and the oracle SQL.

  /** The size gate of every language-model join here: the model (vocabulary
    * or n-gram type table) is broadcast up to this many rows and joined by
    * shuffle past it. Specs pass 0 to pin the shuffle path.
    */
  private[graft] val ModelBroadcastMax = 4L << 20

  /** The doc_id width of one inverted-index shard (c10, c39, c39b and
    * the streaming twin): per-key posting state is bounded by it.
    */
  private[graft] val IndexShardB = 100L

  /** The order-5 Kneser–Ney order: c35/c35b score at it, the count
    * engines (c36, c36b, c37, c38) run only at it, and so does the
    * streaming twin ([[graft.streaming.Streams]] ngramCounts).
    */
  private[graft] val KnOrder = 5

  // c22's interpolation weights. λ̄ is NOT computed as 1.0-λ: that double
  // is 0.30000000000000004, one ulp off the literal 0.3.
  private[graft] val BigramLambda = 0.7
  private[graft] val BigramLambdaBar = 0.3

  // c23/p08's water-fill: the token budget is BudgetMult × the corpus,
  // and a source supplies at most MaxEpochs passes over its own tokens.
  private[graft] val BudgetMult = 1.2
  private[graft] val MaxEpochs = 1.4

  // The c26 unigram-LM contract (c26, c26a, c26b).
  private[graft] val UniMaxPieceLen = 4 // longest seed substring
  private[graft] val UniSeedPieces = 300 // multi-char seed pieces kept
  private[graft] val UniRounds = 4 // Viterbi-EM rounds of c26
  private[graft] val UniVocab = 200 // c26's final vocabulary size
  private val UniMaxWordLen = 12 // c26b oracle's unrolled DP length

  /** Unigram-LM quality scoring (the c13 engine): train an add-one-smoothed
    * unigram model on the corpus (one token-keyed count shuffle), then score
    * every doc by its mean negative log-likelihood per token — the classic
    * LM-perplexity filter for pretraining data (high avg_nll = rare-token
    * soup, low = stereotyped boilerplate).
    *
    * Model-distribution join strategy is SIZE-GATED, not hardcoded: the
    * token counts are materialized once (localCheckpoint — also what makes
    * the vocab-size probe free), and the model table is broadcast only when
    * the vocabulary fits (`broadcastVocabMax` types). Past the threshold —
    * an open web-scale vocabulary is billions of types, far beyond any
    * broadcast — scoring falls back to a plain shuffle hash join on `tok`,
    * which both sides already partition-hash cheaply (8-byte-ish keys).
    * The two paths are value-IDENTICAL (same logp per type, decimal-exact
    * per-doc sum — CorpusSpec pins it), so the gate is purely physical.
    */
  def unigramLmScore(docs: DataFrame,
      broadcastVocabMax: Long = ModelBroadcastMax): DataFrame = {
    val toks = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
    val counts = toks.groupBy("tok").agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val nTypes = counts.count()
    val stats = broadcast(counts.agg(
      sum(col("c")).as("n_total"), count(lit(1)).as("v")))
    val lm = counts.crossJoin(stats)
      .select(col("tok"),
        log((col("c") + 1).cast(DoubleType) /
          (col("n_total") + col("v")).cast(DoubleType)).as("logp"))
    val joined =
      if (nTypes <= broadcastVocabMax) toks.join(broadcast(lm), "tok")
      else toks.join(lm, "tok")
    joined
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        ((lit(0.0) - Exact.dsum(col("logp"))) /
          count(lit(1)).cast(DoubleType)).as("avg_nll"))
      .orderBy("doc_id")
  }

  /** Frequency-truncated unigram LM — the bounded-model scale path (and the
    * standard LM-filter practice): keep the top-`topN` types by
    * (count desc, tok asc — deterministic); every truncated type scores
    * through one OOV entry. The model is add-one smoothing over
    * `n_types + 1` types (in-vocab + OOV):
    * in-vocab p(t) = (c_t + 1) / (n_total + n_types + 1); an OOV
    * occurrence scores with the AVERAGE truncated type's mass,
    * p = (c_oov_total/|oov types| + 1) / (n_total + n_types + 1).
    * Per-TYPE OOV mass is the load-bearing choice: folding the whole
    * bucket's aggregate frequency into each occurrence (kenlm-style
    * <unk>) would make rare-token soup score like common-token text and
    * INVERT the quality ranking the filter exists to produce (measured:
    * corr −0.37 vs the full model); the per-type form keeps an OOV
    * occurrence scoring like a typical rare token, so ranks track the
    * full model (corr 0.999 at a 1.5M-type vocab: the `c13` line of
    * dev/scaleprobe_r14.jsonl). The broadcast is bounded by construction
    * (≤ topN rows) no matter how open the real vocabulary is.
    */
  def unigramLmScoreTruncated(docs: DataFrame, topN: Int): DataFrame = {
    val toks = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
    val counts = toks.groupBy("tok").agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    // partial per-partition top-k → driver merge: TakeOrderedAndProject,
    // never a global sort — the same shape as c02's top-K
    val top = counts.orderBy(col("c").desc, col("tok")).limit(topN)
      .localCheckpoint(true)
    val consts = broadcast(
      counts.agg(sum(col("c")).as("n_total"), count(lit(1)).as("v_full"))
        .crossJoin(
          top.agg(sum(col("c")).as("n_top"), count(lit(1)).as("n_types"))))
    val denom = (col("n_total") + col("n_types") + 1).cast(DoubleType)
    val lm = broadcast(top.crossJoin(consts)
      .select(col("tok"),
        log((col("c") + 1).cast(DoubleType) / denom).as("logp")))
    val oovTypes = greatest(col("v_full") - col("n_types"), lit(1L))
    toks.join(lm, Seq("tok"), "left")
      .crossJoin(consts)
      .withColumn("lp", coalesce(col("logp"),
        log(((col("n_total") - col("n_top")).cast(DoubleType) /
          oovTypes.cast(DoubleType) + 1.0) / denom)))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        ((lit(0.0) - Exact.dsum(col("lp"))) /
          count(lit(1)).cast(DoubleType)).as("avg_nll"))
      .orderBy("doc_id")
  }

  /** c27's engine — CCNet-style perplexity bucketing (Wenzek et al. 2020
    * §4.3): score every doc with the c13 unigram LM, then split each
    * LANGUAGE into head / middle / tail thirds by score — the actual
    * CCNet filter decision (keep head+middle, drop or down-weight tail).
    *
    * Thresholds are DISCRETE order statistics (the rank-⌈n/3⌉ and
    * rank-⌈2n/3⌉ (avg_nll, doc_id) pairs per language), NOT interpolated
    * percentiles: Spark's `percentile` interpolates lo + (hi−lo)·frac
    * while DuckDB's quantile_cont computes lo·(1−frac) + hi·frac — they
    * differ in the last ulp on doubles (measured, r14), and a 1-ulp
    * threshold drift flips boundary docs. Rank pairs compare exactly:
    * bucket = head iff (avg_nll, doc_id) ≤ threshold pair, ties broken by
    * doc_id, so the assignment is bit-deterministic on both engines.
    *
    * Scale shape: one token-keyed shuffle builds the LM (c13's), one
    * doc-keyed agg scores, one per-lang agg computes the two threshold
    * pairs (|langs| rows of output), and assignment is a BROADCAST join +
    * map-side comparison — no window over an unsharded language
    * partition. The threshold agg buffers a language's scores via
    * sort_array(collect_list) for contract exactness; at 100 TB you'd
    * swap exactly that one aggregate for approx_percentile (mergeable
    * sketch, bounded state) or a reservoir sample — CCNet itself
    * computes thresholds on a sample — and keep every other stage.
    */
  def perplexityBuckets(docsDf: DataFrame): DataFrame =
    tertileBuckets(unigramLmScore(docsDf)
      .join(docsDf.select(col("doc_id"), col("lang")), "doc_id"))

  /** c33's engine — the SAME CCNet tertile decision re-run on the c32
    * Kneser–Ney trigram scores (r15 VERDICT item 2's "c27 rebucketed on
    * KN scores"): the bucketing machinery is scorer-agnostic, so the
    * upgrade from a unigram to the KenLM-shaped filter is exactly a
    * scorer swap — which is the operational point of factoring the
    * pipeline this way.
    *
    * The scorer is c32's: the HASH-KEYED order-3 chain
    * ([[knNgramScore]] at n=3 — fused 8-byte window hashes in every
    * exchange instead of three token strings). The c33/c34 oracles stay
    * string-keyed and share c32's score CTEs, so each green row is also
    * a hash≡string check of the scores its tertile cuts are drawn from.
    */
  def knPerplexityBuckets(docsDf: DataFrame): DataFrame =
    tertileBuckets(knNgramScore(docsDf, 3)
      .select(col("doc_id"), col("avg_nll"))
      .join(docsDf.select(col("doc_id"), col("lang")), "doc_id"))

  /** c34's engine — the CCNet output manifest: per (lang, ppl_bucket)
    * document/token accounting over the c33 KN buckets, with each
    * cell's token share within its language — the table that drives
    * the actual mixing decision (keep head+middle, down-weight tail,
    * rebalance languages; Wenzek et al. 2020 §4.3's deliverable).
    *
    * Scale shape: c33's chain + ONE doc-keyed token-count join and a
    * ≤|langs|·3-cell rollup; the share join runs on the cell frame
    * (|langs| rows), never on docs. Tokens are the non-empty-split
    * convention (c30/c31's grain).
    */
  def knMixingManifest(docs: DataFrame): DataFrame = {
    val buckets = knPerplexityBuckets(docs)
    val toks = docs.select(col("doc_id"),
      size(filter(split(col("text"), " "),
        w => length(w) > 0)).cast(LongType).as("nt"))
    val cells = buckets.join(toks, "doc_id")
      .groupBy("lang", "ppl_bucket")
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"))
      .localCheckpoint(true)
    val langTot = cells.groupBy("lang").agg(sum(col("n_tokens")).as("lang_tokens"))
    cells.join(broadcast(langTot), "lang")
      .select(col("lang"), col("ppl_bucket"), col("n_docs"), col("n_tokens"),
        (col("n_tokens").cast(DoubleType) / col("lang_tokens").cast(DoubleType))
          .as("token_share"))
      .orderBy("lang", "ppl_bucket")
  }

  /** The per-language head/middle/tail assignment shared by c27 and c33
    * — input is any (doc_id, lang, avg_nll) score frame.
    */
  private def tertileBuckets(scoresDf: DataFrame): DataFrame = {
    val scores = scoresDf
      .select(col("doc_id"), col("lang"), col("avg_nll"))
      .localCheckpoint(true)
    val thr = scores.groupBy("lang")
      .agg(
        sort_array(collect_list(struct(col("avg_nll"), col("doc_id"))))
          .as("sv"),
        count(lit(1)).as("n"))
      .select(col("lang"),
        element_at(col("sv"), expr("cast((n + 2) div 3 as int)")).as("t1"),
        element_at(col("sv"), expr("cast((2 * n + 2) div 3 as int)")).as("t2"))
    scores.join(broadcast(thr), "lang")
      .select(col("doc_id"), col("lang"), col("avg_nll"),
        when(col("avg_nll") < col("t1.avg_nll") ||
            (col("avg_nll") === col("t1.avg_nll") &&
              col("doc_id") <= col("t1.doc_id")), "head")
          .when(col("avg_nll") < col("t2.avg_nll") ||
            (col("avg_nll") === col("t2.avg_nll") &&
              col("doc_id") <= col("t2.doc_id")), "middle")
          .otherwise("tail").as("ppl_bucket"))
      .orderBy("doc_id")
  }

  /** The fixed 3-term retrieval query the c11/s12 contract runs — one
    * definition so the sparse arm of the hybrid fusion can never drift
    * from the standalone BM25 ranking.
    */
  val BmQueryTerms: Seq[String] = Seq("hash", "join", "scan")

  /** BM25 (k1=1.2, b=0.75) per-doc scores for query terms `qt` — the c11
    * scorer, factored so s12's hybrid fusion consumes the SAME definition.
    * Shuffle shape: tf is one (doc, term)-keyed partial+final agg over only
    * the MATCHING tokens (the isin filter prunes before the explode's
    * output ever shuffles), df and corpus stats are tiny broadcasts, and
    * the per-doc term sum is decimal-exact (partitioning-invariant,
    * engine-reproducible). All double arithmetic is written with identical
    * literals/evaluation order in both engines; idf's ln runs on the same
    * double in both. Returns (doc_id, score) for docs matching ≥1 term.
    */
  /** One sharded-inverted-index build over `docs` — the c10 shape
    * ((token, shard = doc_id div [[IndexShardB]]) → df_shard + sorted postings),
    * factored so the incremental path (c39) builds its base and delta
    * from the SAME definition. `min_id` rides along purely as the merge
    * ordering key ([[invertedIndexMerge]]).
    */
  private[graft] def invertedIndexRows(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        explode(array_distinct(split(col("text"), " "))).as("token"))
      .withColumn("shard", expr(s"doc_id div $IndexShardB"))
      .groupBy("token", "shard")
      .agg(count(lit(1)).as("df_shard"),
        min(col("doc_id")).as("min_id"),
        concat_ws(",", sort_array(collect_list(col("doc_id"))))
          .as("postings"))

  /** Incremental inverted-index maintenance (r17 verdict item 4 — the
    * c36 count-merge theorem applied to the retrieval artifact): a
    * stored index absorbs an append batch's index rows by a
    * (token, shard)-keyed merge — df_shard is a SUM, and because the
    * sides partition the doc_id range, per-key posting fragments are
    * internally sorted AND mutually ordered by their min doc_id, so the
    * merged posting list is min_id-ordered CONCAT, never a re-sort of
    * base data. Only the batch tokenizes, and only the shards the
    * delta TOUCHES re-aggregate (ID-range sharding means an append
    * lands in the boundary shard plus new shards — a broadcast-sized
    * set): untouched base rows pass through without entering any
    * exchange, so merge shuffle mass is batch-proportional, never
    * index-proportional (the first cut re-shuffled the whole postings
    * mass and LOST to a rebuild at the 200k probe; this is the p17
    * affected-shard discipline applied to the index). Provably ≡
    * rebuilding the index over the union — the c39 oracle is c10's
    * full-rebuild SQL. Deployment writes only the re-aggregated shards
    * (`merged` below) via dynamic partition overwrite; this full view
    * exists for serving and for the oracle proof.
    */
  private[graft] def invertedIndexMerge(base: DataFrame,
      delta: DataFrame): DataFrame = {
    // The delta index is batch-sized by definition; pin it so the
    // batch tokenizes ONCE (it feeds both the affected-shard probe and
    // the merge — left lazy, Spark re-derives it per consumer and the
    // 200k probe read the batch cost twice).
    val d = delta.localCheckpoint(true)
    val affected = d.select("shard").distinct()
    val untouched = base.join(broadcast(affected), Seq("shard"), "left_anti")
    val merged = base.join(broadcast(affected), Seq("shard"))
      .unionByName(d)
      .groupBy("token", "shard")
      .agg(sum(col("df_shard")).as("df_shard"),
        min(col("min_id")).as("min_id"),
        array_join(transform(
          sort_array(collect_list(struct(col("min_id"), col("postings")))),
          s => s.getField("postings")), ",").as("postings"))
    untouched.select("token", "shard", "df_shard", "min_id", "postings")
      .unionByName(merged.select("token", "shard", "df_shard", "min_id",
        "postings"))
  }

  def bm25Scores(docs: DataFrame, qt: Seq[String]): DataFrame =
    bm25Scores(docs, qt, dfreqOverride = None)

  /** [[bm25Scores]] with the document-frequency table read from a
    * MAINTAINED index instead of recomputed — the c39b serving path.
    * `dfreqOverride` rows are (tok, df: double); values are identical to
    * the recomputed table by the index's own df definition (distinct
    * tokens per doc), so the score arithmetic — and the c11 oracle — is
    * unchanged.
    */
  def bm25Scores(docs: DataFrame, qt: Seq[String],
      dfreqOverride: Option[DataFrame]): DataFrame = {
    // ONE text pass: the un-factored form scanned + split the corpus three
    // times (lens, the stats agg over lens, and the tf explode). Extract
    // the per-doc length and the MATCHING tokens in a single scan-side
    // select, checkpoint the narrow (id, len, matching-tokens) result, and
    // derive everything from it — the match arrays are bounded by query
    // occurrences, never document length
    val base = docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"),
        size(col("toks")).cast("double").as("len"),
        filter(col("toks"),
          // foldLeft, not reduce: an empty query-term list degrades to an
          // all-false filter (zero matches, zero scores) instead of a throw
          t => qt.foldLeft(lit(false))((acc, q) => acc || t === lit(q)))
          .as("mtoks"))
      .localCheckpoint(true)
    val lens = base.select(col("doc_id"), col("len"))
    val stats = lens.agg(count(lit(1)).cast("double").as("n_docs"),
      Exact.davg(col("len")).as("avglen"))
    val tf = base.select(col("doc_id"), explode(col("mtoks")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).cast("double").as("tf"))
    val dfreq = dfreqOverride.getOrElse(
      tf.groupBy("tok").agg(count(lit(1)).cast("double").as("df")))
    tf.join(broadcast(dfreq), "tok")
      .join(lens, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))
          + lit(1.0)))
      .withColumn("sc",
        col("idf") * col("tf") * lit(2.2) /
          (col("tf") + lit(1.2) *
            (lit(0.25) + lit(0.75) * col("len") / col("avglen"))))
      .groupBy("doc_id")
      .agg(Exact.dsum(col("sc")).as("score"))
  }

  /** DuckDB CTE chain mirroring [[bm25Scores]] term by term, ending in
    * `bm25(doc_id, score)`; callers append their final SELECT.
    */
  def bm25Sql(qt: Seq[String]): String = {
    // SQL-escape each term (single quote doubling) — terms land inside the
    // oracle's IN (...) literal list, and an unescaped quote would break or
    // inject into the generated DuckDB query
    val inList = qt.map(t => s"'${t.replace("'", "''")}'").mkString(", ")
    s"""toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |lens AS (
       |  SELECT doc_id, CAST(len(toks) AS DOUBLE) AS len FROM toks),
       |stats AS (
       |  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
       |    ${Exact.sqlAvg("len")} AS avglen FROM lens),
       |tf AS (
       |  SELECT doc_id, tok, CAST(COUNT(*) AS DOUBLE) AS tf
       |  FROM (SELECT doc_id, unnest(toks) AS tok FROM toks)
       |  WHERE tok IN ($inList) GROUP BY doc_id, tok),
       |dfreq AS (SELECT tok, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY tok),
       |sc AS (
       |  SELECT tf.doc_id,
       |    ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) * tf * 2.2 /
       |      (tf + 1.2 * (0.25 + 0.75 * len / avglen)) AS sc
       |  FROM tf JOIN dfreq USING (tok) JOIN lens USING (doc_id)
       |  CROSS JOIN stats),
       |bm25 AS (
       |  SELECT doc_id, ${Exact.sqlSum("sc")} AS score FROM sc GROUP BY doc_id)""".stripMargin
  }

  /** Sequence packing (the c16 engine): pack documents, in deterministic
    * doc_id order, into fixed-2048-token bins, greedily by running token
    * count — a doc starts in the bin its cumulative prefix lands in.
    * Packing is per (source, shard) where a shard is a 8192-wide doc_id
    * range, so the prefix-sum window's per-task state is bounded by the
    * shard width, never by a source's total volume. The width is sized so
    * a shard's token mass dwarfs the bin size (8192 docs ≫ one 2048-token
    * bin): each (source, shard) wastes at most one partial final bin, so
    * sharding costs <1% fill ratio while per-source packing would put an
    * ENTIRE source in one task (the `c16` line of dev/scaleprobe_r14.jsonl
    * measures both: fill 0.991 sharded vs 0.9999 per source at 1M docs).
    */
  def sequencePack(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val shardDocs = 8192
    val w = Window.partitionBy("source", "shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    docs
      .select(col("source"), col("doc_id"),
        expr(s"doc_id div $shardDocs").as("shard"),
        size(split(col("text"), " ")).cast(LongType).as("nt"))
      .withColumn("before", coalesce(sum(col("nt")).over(w), lit(0L)))
      .withColumn("bin", expr("before div 2048"))
      .groupBy("source", "shard", "bin")
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"),
        (sum(col("nt")).cast(DoubleType) / 2048.0).as("fill_ratio"))
      .orderBy("source", "shard", "bin")
  }

  /** c30's engine — vocabulary coverage / OOV rate per language: the
    * tokenizer-eval companion to c28's fertility table. A vocab trained
    * on one language serves others with elevated out-of-vocabulary rates;
    * this measures it as token-level and type-level OOV per language
    * against the corpus's bare-form vocabulary.
    *
    * The synthetic corpus shares ONE 31-type vocabulary across lang
    * labels, so OOV structure is PLANTED (the c28 morphology move, made
    * GRADED): language l suffixes exactly the words whose content-hash
    * bucket `fnv1a64("c30|"+w) mod 10` falls below k_l (en 0, zh 2,
    * es 4, fr 6, de 8). Buckets are nested by construction — k grows ⇒
    * the suffixed-type set strictly grows — so OOV rates obey a known
    * monotone law (en=0 ≤ zh ≤ es ≤ fr ≤ de, pinned in CorpusSpec)
    * rather than an eyeballed value. Membership is computed HONESTLY
    * (left join against the bare vocab), not assumed from the plant:
    * a suffixed form that happened to collide with a bare word would
    * count as covered, and the join is what a user runs against a real
    * tokenizer's vocab table.
    *
    * Scale shape: one corpus tokenize into the (lang, type) count frame
    * (localCheckpoint — dictionary-sized, it feeds both the vocab
    * derivation and the coverage rollup, the c18a pattern), vocab =
    * distinct bare types (broadcastable at any corpus size a tokenizer
    * vocab can reach), one broadcast membership join, |langs|-row output.
    * Occurrence-level text never shuffles twice.
    */
  def vocabCoverage(docs: DataFrame): DataFrame = {
    import graft.functions.ghash
    val lw0 = docs
      .select(col("lang"), explode(split(col("text"), " ")).as("w0"))
      .filter(length(col("w0")) > 0)
      .groupBy("lang", "w0").agg(count(lit(1)).as("n"))
      .localCheckpoint(true)
    val thr = when(col("lang") === "de", 8L).when(col("lang") === "fr", 6L)
      .when(col("lang") === "es", 4L).when(col("lang") === "zh", 2L)
      .otherwise(0L)
    val suf = when(col("lang") === "de", "ung").when(col("lang") === "fr", "re")
      .when(col("lang") === "es", "an").when(col("lang") === "zh", "i")
      .otherwise("")
    val h = pmod(ghash.fnv1a64(concat(lit("c30|"), col("w0"))), lit(10L))
    val mapped = lw0
      .select(col("lang"),
        when(h < thr, concat(col("w0"), suf)).otherwise(col("w0")).as("w"),
        col("n"))
      .groupBy("lang", "w").agg(sum(col("n")).as("n"))
    val vocab = lw0.select(col("w0").as("w")).distinct()
      .withColumn("in_vocab", lit(true))
    mapped.join(broadcast(vocab), Seq("w"), "left")
      .groupBy("lang")
      .agg(sum(col("n")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("in_vocab").isNull, col("n")).otherwise(0L))
          .as("oov_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("oov_types"))
      .select(col("lang"), col("n_tokens"), col("n_types"),
        col("oov_tokens"), col("oov_types"),
        (col("oov_tokens").cast(DoubleType) / col("n_tokens").cast(DoubleType))
          .as("oov_token_rate"),
        (col("oov_types").cast(DoubleType) / col("n_types").cast(DoubleType))
          .as("oov_type_rate"))
      .orderBy("lang")
  }

  /** c31's engine — vocabulary growth (the Heaps-law curve): distinct
    * types and total tokens accumulated at the 10/25/50/100 % corpus
    * prefixes (by doc_id — ingestion order), the table a corpus report
    * uses to show whether the vocabulary is saturating or still growing
    * linearly (a proxy for how much NEW content further crawling buys).
    *
    * Scale shape — the reason for the first-seen trick: the naive form
    * recomputes COUNT(DISTINCT) over each prefix (4 corpus scans, 4
    * token shuffles). Instead: a type first contributes to the prefix
    * that first CONTAINS it, so ONE (type → min doc_id) aggregation
    * (dictionary-sized output) plus a per-doc token count pass yields
    * every prefix's numbers; the cumulative step runs over the 4-row
    * bucket frame (bounded window by construction). Prefix cutoffs are
    * integer arithmetic on max(doc_id) — identical literals both engines.
    */
  def vocabGrowth(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bounds = docs.agg(max(col("doc_id")).as("mx"))
    def bucket(c: Column): Column =
      when(c * 100 <= col("mx") * 10, 10L)
        .when(c * 100 <= col("mx") * 25, 25L)
        .when(c * 100 <= col("mx") * 50, 50L)
        .otherwise(100L)
    // non-empty tokens only, matching n_types' grain and companion c30's
    // n_tokens (r15 ADVICE: the unfiltered split counted empty strings
    // from consecutive spaces, so ttr mixed grains on multi-space text)
    val docsB = docs
      .select(col("doc_id"),
        size(filter(split(col("text"), " "),
          w => length(w) > 0)).cast(LongType).as("nt"))
      .crossJoin(broadcast(bounds))
      .groupBy(bucket(col("doc_id")).as("pct"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"))
    val typesB = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(min(col("doc_id")).as("fd"))
      .crossJoin(broadcast(bounds))
      .groupBy(bucket(col("fd")).as("pct"))
      .agg(count(lit(1)).as("n_types"))
    // 4-row frame: cumulative sums over the bucket spine (bounded window)
    val w = Window.orderBy("pct").rowsBetween(Window.unboundedPreceding, 0)
    docsB.join(typesB, Seq("pct"), "left")
      .select(col("pct"), col("n_docs"), col("n_tokens"),
        coalesce(col("n_types"), lit(0L)).as("n_types"))
      .select(col("pct"),
        sum(col("n_docs")).over(w).as("docs_cum"),
        sum(col("n_tokens")).over(w).as("tokens_cum"),
        sum(col("n_types")).over(w).as("types_cum"))
      .select(col("pct"), col("docs_cum"), col("tokens_cum"), col("types_cum"),
        (col("types_cum").cast(DoubleType) / col("tokens_cum").cast(DoubleType))
          .as("ttr"))
      .orderBy("pct")
  }

  /** c32's score chain as DuckDB CTEs ending in
    * `sc(doc_id, n_trigrams, avg_nll)` — ONE oracle-side definition
    * shared by c32 and c33 (the t13ScoreCtes pattern). The lm expression
    * is the SAME IEEE tree as [[knNgramModel]]'s Column tree at n = 3:
    * fully parenthesized so both parsers build identical ASTs, the 0.75
    * discount an independent literal on both sides (exactly
    * representable: 3/4), rational ratios until the final ln.
    */
  private def knScoreCtes: String = knScoreCtesPruned(1)

  private def knScoreCtesPruned(minCount: Int): String = {
    // the full-model and pruned-model lm expressions share the SAME
    // max-term / backoff sub-texts, so c32 and c32b can never drift
    val maxTerm = "(CAST(c3 AS DOUBLE) - 0.75) / CAST(cuv AS DOUBLE)"
    val bo =
      """0.75 * CAST(tuv AS DOUBLE) / CAST(cuv AS DOUBLE)
        |         * ((CAST(nvw AS DOUBLE) - 0.75) / CAST(nv AS DOUBLE)
        |            + 0.75 * CAST(tv AS DOUBLE) / CAST(nv AS DOUBLE)
        |              * (CAST(nw AS DOUBLE) / CAST(nb AS DOUBLE)))""".stripMargin
    val pExpr =
      if (minCount <= 1) s"$maxTerm\n       + $bo"
      else s"CASE WHEN c3 >= $minCount THEN $maxTerm\n       + $bo\n" +
        s"         ELSE $bo END"
    s"""tt AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
       |tgl AS (
       |  SELECT doc_id, unnest(list_transform(range(1, len(ts) - 1),
       |    i -> {'u': ts[i], 'v': ts[i+1], 'w': ts[i+2]})) AS t
       |  FROM tt),
       |tg AS (SELECT doc_id, t.u AS u, t.v AS v, t.w AS w FROM tgl),
       |tc AS (SELECT u, v, w, COUNT(*) AS c3 FROM tg GROUP BY u, v, w),
       |ctx AS (SELECT u, v, SUM(c3) AS cuv, COUNT(*) AS tuv
       |  FROM tc GROUP BY u, v),
       |vw AS (SELECT v, w, COUNT(*) AS nvw FROM tc GROUP BY v, w),
       |vctx AS (SELECT v, SUM(nvw) AS nv, COUNT(*) AS tv
       |  FROM vw GROUP BY v),
       |wc AS (SELECT w, COUNT(*) AS nw FROM vw GROUP BY w),
       |tot AS (SELECT COUNT(*) AS nb FROM vw),
       |lm AS (
       |  SELECT tc.u, tc.v, tc.w,
       |    ln($pExpr) AS logp
       |  FROM tc JOIN ctx USING (u, v) JOIN vw USING (v, w)
       |    JOIN vctx USING (v) JOIN wc USING (w), tot),
       |sc AS (
       |  SELECT doc_id, COUNT(*) AS n_trigrams,
       |    (0.0 - ${Exact.sqlSum("logp")}) / CAST(COUNT(*) AS DOUBLE)
       |      AS avg_nll
       |  FROM tg JOIN lm USING (u, v, w) GROUP BY doc_id)""".stripMargin
  }

  /** `g{from}, …, g{to}` — a column list of the order-n KN oracle chains. */
  private def glist(from: Int, to: Int): String =
    (from to to).map(i => s"g$i").mkString(", ")

  /** The order-n gram struct `{'g1': ts[i+0], …}` both KN oracle chains
    * ([[knNgramScoreCtes]], [[knOpenScoreCtes]]) unnest their tokens into.
    */
  private def knGramStruct(n: Int): String =
    (1 to n).map(j => s"'g$j': ts[i+${j - 1}]").mkString(", ")

  /** The continuation-count CTEs over an in-scope `tc` (k{n-1} … k1, then
    * x2 … x{n-1}) that both KN oracle chains share.
    */
  private def knContCtes(n: Int): String = (
    Seq(s"""k${n - 1} AS (SELECT ${glist(2, n)}, COUNT(*) AS m${n - 1}
           |  FROM tc GROUP BY ${glist(2, n)})""".stripMargin) ++
    ((n - 2) to 1 by -1).map(k =>
      s"""k$k AS (SELECT ${glist(n - k + 1, n)}, COUNT(*) AS m$k
         |  FROM k${k + 1} GROUP BY ${glist(n - k + 1, n)})""".stripMargin) ++
    (2 to n - 1).map(k =>
      s"""x$k AS (SELECT ${glist(n - k + 1, n - 1)}, SUM(m$k) AS n$k,
         |  COUNT(*) AS t$k FROM k$k GROUP BY ${glist(n - k + 1, n - 1)})""".stripMargin)
    ).mkString(",\n")

  /** The order-n Kneser–Ney score chain as DuckDB CTEs ending in
    * `sc(doc_id, n_grams, avg_nll)` — generated for the same order the
    * Spark side runs ([[knNgramModel]]), with the probability expression
    * emitted by the SAME bottom-up fold so the two engines' IEEE trees
    * are identical by construction at every order.
    */
  private def knNgramScoreCtes(n: Int, minCount: Int = 1,
      where: String = ""): String = {
    val p1 = "(CAST(m1 AS DOUBLE) / CAST(nb AS DOUBLE))"
    val pMid = (2 to n - 1).foldLeft(p1) { (prev, k) =>
      s"""((CAST(m$k AS DOUBLE) - 0.75) / CAST(n$k AS DOUBLE)
         |       + 0.75 * CAST(t$k AS DOUBLE) / CAST(n$k AS DOUBLE) * $prev)""".stripMargin
    }
    // full and pruned share the SAME max-term / backoff sub-texts (the
    // knScoreCtesPruned discipline) so c35 and c35b can never drift
    val maxTerm = "(CAST(c AS DOUBLE) - 0.75) / CAST(cn AS DOUBLE)"
    val bo = s"0.75 * CAST(tn AS DOUBLE) / CAST(cn AS DOUBLE) * $pMid"
    val pExpr =
      if (minCount <= 1) s"$maxTerm\n       + $bo"
      else s"CASE WHEN c >= $minCount THEN $maxTerm\n       + $bo\n" +
        s"         ELSE $bo END"
    val lmJoins = (2 to n - 1).map(k =>
      s"JOIN k${k - 1} USING (${glist(n - k + 2, n)}) " +
        s"JOIN x$k USING (${glist(n - k + 1, n - 1)})").mkString("\n    ")
    s"""tt AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents$where),
       |tgl AS (
       |  SELECT doc_id, unnest(list_transform(range(1, len(ts) - ${n - 2}),
       |    i -> {${knGramStruct(n)}})) AS t
       |  FROM tt),
       |tg AS (SELECT doc_id, ${(1 to n).map(j => s"t.g$j AS g$j").mkString(", ")} FROM tgl),
       |tc AS (SELECT ${glist(1, n)}, COUNT(*) AS c FROM tg GROUP BY ${glist(1, n)}),
       |xn AS (SELECT ${glist(1, n - 1)}, SUM(c) AS cn, COUNT(*) AS tn
       |  FROM tc GROUP BY ${glist(1, n - 1)}),
       |${knContCtes(n)},
       |tot AS (SELECT COUNT(*) AS nb FROM k2),
       |lm AS (
       |  SELECT ${(1 to n).map(j => s"tc.g$j").mkString(", ")},
       |    ln($pExpr) AS logp
       |  FROM tc JOIN xn USING (${glist(1, n - 1)})
       |    JOIN k${n - 1} USING (${glist(2, n)})
       |    $lmJoins, tot),
       |sc AS (
       |  SELECT doc_id, COUNT(*) AS n_grams,
       |    (0.0 - ${Exact.sqlSum("logp")}) / CAST(COUNT(*) AS DOUBLE)
       |      AS avg_nll
       |  FROM tg JOIN lm USING (${glist(1, n)}) GROUP BY doc_id)""".stripMargin
  }

  /** The reference-trained OPEN-VOCAB order-n KN chain as DuckDB CTEs
    * ending in `sc(doc_id, n_grams, n_oov, avg_nll)` — the oracle for
    * [[knNgramScoreOpenVocab]]. String-keyed throughout while the Spark
    * side joins on window hashes, so a green row proves BOTH the OOV
    * backoff logic and the hash keying. Per-order probabilities are
    * materialized CTEs (pk2..pk{n-1}, p1t) and the scoring query is the
    * same LEFT JOIN + nested-COALESCE tree the Spark side builds, with
    * every arithmetic expression emitted by the same fold so the IEEE
    * trees agree by construction.
    */
  private def knOpenScoreCtes(trainPredSql: String): String = {
    val n = KnOrder
    val pkCtes = (
      Seq(s"""p1t AS (SELECT g$n, CAST(m1 AS DOUBLE) / CAST(nb AS DOUBLE)
             |  AS pk1 FROM k1, tot)""".stripMargin) ++
      (2 to n - 1).map { k =>
        val prevName = if (k == 2) "p1t" else s"pk${k - 1}"
        s"""pk$k AS (SELECT ${glist(n - k + 1, n)},
           |    (CAST(m$k AS DOUBLE) - 0.75) / CAST(n$k AS DOUBLE)
           |      + 0.75 * CAST(t$k AS DOUBLE) / CAST(n$k AS DOUBLE) * pk${k - 1}
           |      AS pk$k
           |  FROM k$k JOIN x$k USING (${glist(n - k + 1, n - 1)})
           |    JOIN $prevName USING (${glist(n - k + 2, n)}))""".stripMargin
      }).mkString(",\n")
    val boCtes = (
      Seq(s"""bon AS (SELECT ${glist(1, n - 1)},
             |  0.75 * CAST(tn AS DOUBLE) / CAST(cn AS DOUBLE) AS bon
             |  FROM xn)""".stripMargin) ++
      (2 to n - 1).map(k =>
        s"""bo$k AS (SELECT ${glist(n - k + 1, n - 1)},
           |  0.75 * CAST(t$k AS DOUBLE) / CAST(n$k AS DOUBLE) AS bo$k
           |  FROM x$k)""".stripMargin)).mkString(",\n")
    // the nested-COALESCE open-vocab probability, emitted by the same
    // fold as the Spark Column tree
    val pd1 = "COALESCE(pk1, 1.0 / (CAST(nb AS DOUBLE) + 1.0))"
    val pdTop = (2 to n - 1).foldLeft(pd1) { (prev, k) =>
      s"COALESCE(pk$k, COALESCE(bo$k, 1.0) * $prev)"
    }
    val pExpr = s"COALESCE(ptop, COALESCE(bon, 1.0) * $pdTop)"
    val scoreJoins = (
      Seq(s"LEFT JOIN lmtop USING (${glist(1, n)})",
        s"LEFT JOIN bon USING (${glist(1, n - 1)})") ++
      ((n - 1) to 2 by -1).flatMap(k => Seq(
        s"LEFT JOIN pk$k USING (${glist(n - k + 1, n)})",
        s"LEFT JOIN bo$k USING (${glist(n - k + 1, n - 1)})")) ++
      Seq(s"LEFT JOIN p1t USING (g$n)")).mkString("\n      ")
    s"""tt AS (SELECT doc_id,
       |    CASE WHEN $trainPredSql THEN 1 ELSE 0 END AS is_tr,
       |    string_split(text, ' ') AS ts FROM documents),
       |tgl AS (
       |  SELECT doc_id, is_tr, unnest(list_transform(range(1, len(ts) - ${n - 2}),
       |    i -> {${knGramStruct(n)}})) AS t
       |  FROM tt),
       |tg AS (SELECT doc_id, is_tr, ${(1 to n).map(j => s"t.g$j AS g$j").mkString(", ")} FROM tgl),
       |tc AS (SELECT ${glist(1, n)}, COUNT(*) AS c FROM tg
       |  WHERE is_tr = 1 GROUP BY ${glist(1, n)}),
       |xn AS (SELECT ${glist(1, n - 1)}, SUM(c) AS cn, COUNT(*) AS tn
       |  FROM tc GROUP BY ${glist(1, n - 1)}),
       |${knContCtes(n)},
       |tot AS (SELECT COUNT(*) AS nb FROM k2),
       |$pkCtes,
       |$boCtes,
       |lmtop AS (
       |  SELECT ${(1 to n).map(j => s"tc.g$j").mkString(", ")},
       |    (CAST(c AS DOUBLE) - 0.75) / CAST(cn AS DOUBLE)
       |      + 0.75 * CAST(tn AS DOUBLE) / CAST(cn AS DOUBLE) * pk${n - 1}
       |      AS ptop
       |  FROM tc JOIN xn USING (${glist(1, n - 1)})
       |    JOIN pk${n - 1} USING (${glist(2, n)})),
       |q AS (
       |  SELECT doc_id, ptop, ln($pExpr) AS logp
       |  FROM tg
       |      $scoreJoins, tot),
       |sc AS (
       |  SELECT doc_id, COUNT(*) AS n_grams,
       |    CAST(SUM(CASE WHEN ptop IS NULL THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_oov,
       |    (0.0 - ${Exact.sqlSum("logp")}) / CAST(COUNT(*) AS DOUBLE)
       |      AS avg_nll
       |  FROM q GROUP BY doc_id)""".stripMargin
  }

  /** The per-language tertile assignment as oracle SQL, reading an
    * in-scope `sc(doc_id, …, avg_nll)` CTE — shared by c27 and c33 so
    * the decision layer can never drift between scorers. Rank pairs via
    * ROW_NUMBER (windows are fine at oracle scale; the Spark side uses
    * the agg+broadcast shape in [[tertileBuckets]]).
    */
  /** The bucket-assignment CTEs alone, ending in
    * `bucketed(doc_id, lang, avg_nll, ppl_bucket)` — c34 consumes the
    * buckets as a relation rather than as final output.
    */
  private def tertileBucketCtes: String =
    """scores AS (
      |  SELECT s.doc_id, d.lang, s.avg_nll
      |  FROM sc s JOIN documents d USING (doc_id)),
      |r AS (
      |  SELECT lang, avg_nll, doc_id,
      |    ROW_NUMBER() OVER (PARTITION BY lang
      |      ORDER BY avg_nll, doc_id) AS rn,
      |    COUNT(*) OVER (PARTITION BY lang) AS n
      |  FROM scores),
      |t1 AS (SELECT lang, avg_nll AS t1n, doc_id AS t1i FROM r
      |  WHERE rn = (n + 2) // 3),
      |t2 AS (SELECT lang, avg_nll AS t2n, doc_id AS t2i FROM r
      |  WHERE rn = (2 * n + 2) // 3),
      |bucketed AS (
      |  SELECT s.doc_id, s.lang, s.avg_nll,
      |    CASE
      |      WHEN s.avg_nll < t1n OR (s.avg_nll = t1n AND s.doc_id <= t1i)
      |        THEN 'head'
      |      WHEN s.avg_nll < t2n OR (s.avg_nll = t2n AND s.doc_id <= t2i)
      |        THEN 'middle'
      |      ELSE 'tail' END AS ppl_bucket
      |  FROM scores s JOIN t1 USING (lang) JOIN t2 USING (lang))""".stripMargin

  private def tertileOracleTail: String =
    s"""$tertileBucketCtes
       |SELECT doc_id, lang, avg_nll, ppl_bucket FROM bucketed
       |ORDER BY doc_id""".stripMargin

  lazy val specs: Vector[QuerySpec] = Vector(
    // Deterministic content-hash sampling — THE way to sample 100 TB
    // reproducibly: no RNG state, stable under retries/repartitioning,
    // and the same rows are selected by any engine that implements md5.
    QuerySpec(
      "c01_sample_hash",
      (s, d) =>
        Tables(s, d, "documents")
          .filter(substring(md5(col("text")), 1, 1).isin("0", "1", "2", "3"))
          .select(col("doc_id"), col("lang"), col("n_chars"))
          .orderBy("doc_id"),
      Some("""SELECT doc_id, lang, n_chars FROM documents
             |WHERE substring(md5(text), 1, 1) IN ('0', '1', '2', '3')
             |ORDER BY doc_id""".stripMargin),
    ),
    // Vocabulary: top-50 tokens by frequency (explode → count → top-K).
    QuerySpec(
      "c02_vocab_topk",
      (s, d) =>
        Tables(s, d, "documents")
          .select(explode(split(col("text"), " ")).as("token"))
          .groupBy("token")
          .agg(count(lit(1)).as("freq"))
          .orderBy(col("freq").desc, col("token"))
          .limit(50),
      Some("""SELECT u.token, COUNT(*) AS freq
             |FROM documents, UNNEST(string_split(text, ' ')) AS u(token)
             |GROUP BY u.token ORDER BY freq DESC, u.token LIMIT 50""".stripMargin),
    ),
    // Bigram counts: windowed zip of the token array, map-side explode.
    QuerySpec(
      "c03_bigrams_topk",
      (s, d) => {
        val t = split(col("text"), " ")
        Tables(s, d, "documents")
          .select(explode(
            zip_with(slice(t, lit(1), size(t) - 1), slice(t, lit(2), size(t) - 1),
              (a, b) => concat(a, lit(" "), b))).as("bigram"))
          .groupBy("bigram")
          .agg(count(lit(1)).as("freq"))
          .orderBy(col("freq").desc, col("bigram"))
          .limit(30)
      },
      Some("""WITH l AS (SELECT string_split(text, ' ') AS t FROM documents),
             |b AS (SELECT u.i AS i, t FROM l, UNNEST(range(1, len(t))) AS u(i))
             |SELECT t[i] || ' ' || t[i+1] AS bigram, COUNT(*) AS freq
             |FROM b GROUP BY bigram ORDER BY freq DESC, bigram LIMIT 30""".stripMargin),
    ),
    // Continuous percentiles (exact, interpolated) — grouped quartiles of
    // quantity. Both engines sort exactly and interpolate linearly.
    QuerySpec(
      "c04_percentiles",
      (s, d) =>
        Tables(s, d, "lineitem")
          .groupBy("l_returnflag")
          .agg(
            percentile_approx(col("l_quantity"), lit(0.5), lit(1000000)).as("p50_approx"),
            expr("percentile(l_quantity, 0.25)").as("p25"),
            expr("percentile(l_quantity, 0.5)").as("p50"),
            expr("percentile(l_quantity, 0.75)").as("p75"),
          )
          .drop("p50_approx")
          .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
             |  quantile_cont(l_quantity, 0.25) AS p25,
             |  quantile_cont(l_quantity, 0.5) AS p50,
             |  quantile_cont(l_quantity, 0.75) AS p75
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    ),
    // TF-"IDF" (linear idf = n_docs/doc_freq, no log — keeps the value
    // cross-engine exact; log differs in the last ulp between libm builds).
    QuerySpec(
      "c05_tf_idf",
      (s, d) => {
        val docs = Tables(s, d, "documents")
        // n_docs as a broadcast 1-row frame, not a driver-side .count():
        // a .count() here would run a full extra scan-job before the real
        // query at 100 TB. This mirrors the oracle's CROSS JOIN n.
        val nDocs = docs.agg(count(lit(1)).cast(DoubleType).as("n_docs"))
        val tokens = docs
          .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
        val tf = tokens.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
        // df derives from tf (one row per (doc,token) already) — the
        // standard tf-idf identity. The plan still carries TWO text scans,
        // and that is the OPTIMAL shape (r15 ScanAudit): Catalyst pushes
        // the final doc_id<10 through the join into the tf branch (so that
        // scan reads ~10 docs), while the df branch must read the full
        // corpus for corpus-wide document frequencies.
        val df = tf.groupBy("token").agg(count(lit(1)).as("df"))
        tf.join(df, "token")
          .crossJoin(broadcast(nDocs))
          .withColumn("tf_idf",
            col("tf").cast(DoubleType) * (col("n_docs") / col("df").cast(DoubleType)))
          .filter(col("doc_id") < 10)
          .select(col("doc_id"), col("token"), col("tf"), col("df"), col("tf_idf"))
          .orderBy("doc_id", "token")
      },
      Some("""WITH tok AS (
             |  SELECT doc_id, u.token AS token
             |  FROM documents, UNNEST(string_split(text, ' ')) AS u(token)),
             |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
             |df AS (SELECT token, COUNT(*) AS df
             |       FROM (SELECT DISTINCT doc_id, token FROM tok) GROUP BY 1),
             |n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents)
             |SELECT doc_id, tf.token AS token, tf, df,
             |  CAST(tf AS DOUBLE) * (n_docs / CAST(df AS DOUBLE)) AS tf_idf
             |FROM tf JOIN df ON tf.token = df.token CROSS JOIN n
             |WHERE doc_id < 10 ORDER BY doc_id, token""".stripMargin),
    ),
    // Stratified sampling: exactly 20 docs per language, chosen by content
    // hash — deterministic, engine-independent, and balanced regardless of
    // the strata's raw sizes. The window shuffles one partition per stratum.
    QuerySpec(
      "c06_stratified_sample",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("lang").orderBy(md5(col("text")), col("doc_id"))
        Tables(s, d, "documents")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 20)
          .select(col("lang"), col("doc_id"), col("rn"))
          .orderBy("lang", "rn")
      },
      Some("""SELECT lang, doc_id, rn FROM (
             |  SELECT lang, doc_id,
             |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY md5(text), doc_id) AS rn
             |  FROM documents)
             |WHERE rn <= 20 ORDER BY lang, rn""".stripMargin),
    ),
    // Corpus-shard similarity via the MERGEABLE MinHash sketch Aggregator
    // (functions/MinHashAgg): one 16-slot signature per language shard
    // (slot-wise-min merge = the partial-sketch contract that works on a
    // 1000-executor cluster), then pairwise estimated Jaccard = matching
    // slots / k. Deterministic, so even the sketch Aggregator gets a
    // hash-exact oracle (per-doc signatures + slot-wise min in SQL — min of
    // mins over docs == min over all tokens).
    QuerySpec(
      "c07_lang_sketch_similarity",
      (s, d) => {
        import graft.functions.MinHashAgg
        val toks = Tables(s, d, "documents")
          .select(col("lang"), explode(split(col("text"), " ")).as("token"))
        val sk = toks.groupBy("lang").agg(MinHashAgg.sketch(col("token"), 16).as("sk"))
        val a = sk.select(col("lang").as("lang_a"), col("sk").as("a_sk"))
        val b = sk.select(col("lang").as("lang_b"), col("sk").as("b_sk"))
        a.crossJoin(broadcast(b)) // ≤|langs| rows/side: keep it a broadcast NLJ
          .filter(col("lang_a") < col("lang_b"))
          .select(
            col("lang_a"), col("lang_b"),
            (size(filter(zip_with(col("a_sk"), col("b_sk"), (x, y) => x === y),
              m => m)).cast(DoubleType) / 16.0).as("est_jaccard"),
          )
          .orderBy("lang_a", "lang_b")
      },
      // the per-lang sketch slot is a MIN over all tokens of the lang, so
      // collapse to DISTINCT (lang, token) first and run the 16-seed
      // HUGEINT chain once per distinct pair (the d04 oracle pattern) —
      // min is set-based, so the result is bit-identical
      Some {
        import graft.engine.DuckHash
        s"""WITH t0 AS (
           |  SELECT lang, unnest(string_split(text, ' ')) AS s
           |  FROM documents),
           |tf AS (
           |  SELECT lang, s FROM t0 GROUP BY lang, s),
           |tfh AS MATERIALIZED (
           |  SELECT lang, ${DuckHash.fnv("s")} AS f FROM tf),
           |elsig AS (
           |  SELECT lang, ${DuckHash.sigK("[f]", 16)} AS pv FROM tfh),
           |slot AS (
           |  SELECT lang, t.i AS slot, MIN(pv[t.i+1]) AS v
           |  FROM elsig, (SELECT unnest(range(0, 16)) AS i) t
           |  GROUP BY lang, t.i),
           |sk AS (SELECT lang, list(v ORDER BY slot) AS sk FROM slot GROUP BY lang)
           |SELECT a.lang AS lang_a, b.lang AS lang_b,
           |  CAST(len(list_filter(range(1, 17), i -> a.sk[i] = b.sk[i]))
           |    AS DOUBLE) / 16.0 AS est_jaccard
           |FROM sk a JOIN sk b ON a.lang < b.lang
           |ORDER BY lang_a, lang_b""".stripMargin
      },
    ),
    // Quantile sketch with a tolerance gate — q39's oracle pattern applied
    // to percentiles: the mergeable bounded-memory sketch
    // (approx_percentile / Greenwald-Khanna, the 100 TB path where exact
    // percentile means a full sort) is engine-specific, so the ORACLE-ABLE
    // output is the exact quantile plus a boolean gate; DuckDB emits the
    // same exacts and literal TRUE. The gate checks the sketch's DOCUMENTED
    // contract — the returned element's RANK is within n/accuracy of the
    // target rank — by re-counting the element's true rank in a second
    // pass, with tolerance n/accuracy + 2 (the +2 absorbs the ±1 rank
    // discretization at each end). Provably TRUE under the contract at any
    // SF, partitioning, or merge order; a value-relative gate (r4) was only
    // empirically true and could flip on a near-edge distribution.
    QuerySpec(
      "c08_quantile_sketch",
      (s, d) => {
        val li = Tables(s, d, "lineitem")
        val acc = 10000
        val sk = li.groupBy("l_returnflag")
          .agg(
            expr("percentile(l_extendedprice, 0.5)").as("p50_exact"),
            expr("percentile(l_extendedprice, 0.95)").as("p95_exact"),
            percentile_approx(col("l_extendedprice"), lit(0.5), lit(acc)).as("a50"),
            percentile_approx(col("l_extendedprice"), lit(0.95), lit(acc)).as("a95"))
        def rankGate(q: Double, le: String, lt: String): Column = {
          val tol = col("n").cast(DoubleType) / acc + 2.0
          (col(le).cast(DoubleType) >= col("n").cast(DoubleType) * q - tol) &&
            (col(lt).cast(DoubleType) <= col("n").cast(DoubleType) * q + tol)
        }
        li.join(broadcast(sk), "l_returnflag")
          .groupBy("l_returnflag")
          .agg(
            first("p50_exact").as("p50_exact"),
            first("p95_exact").as("p95_exact"),
            count(lit(1)).as("n"),
            sum(when(col("l_extendedprice") <= col("a50"), 1L).otherwise(0L)).as("le50"),
            sum(when(col("l_extendedprice") < col("a50"), 1L).otherwise(0L)).as("lt50"),
            sum(when(col("l_extendedprice") <= col("a95"), 1L).otherwise(0L)).as("le95"),
            sum(when(col("l_extendedprice") < col("a95"), 1L).otherwise(0L)).as("lt95"))
          .select(
            col("l_returnflag"),
            col("p50_exact"),
            col("p95_exact"),
            rankGate(0.5, "le50", "lt50").as("p50_within"),
            rankGate(0.95, "le95", "lt95").as("p95_within"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag,
             |  quantile_cont(l_extendedprice, 0.5) AS p50_exact,
             |  quantile_cont(l_extendedprice, 0.95) AS p95_exact,
             |  TRUE AS p50_within,
             |  TRUE AS p95_within
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    ),
    // Inverted index build: token → document frequency + sorted posting
    // list. Map-side distinct-per-doc explode, then ONE shuffle keyed by
    // token with partial+final aggregation. At 100 TB the posting list of a
    // stopword is the whole corpus — c10 below is the sharded form that
    // survives that; the single-row-per-token form here keeps the simple
    // structure oracle-able.
    QuerySpec(
      "c09_inverted_index",
      (s, d) =>
        Tables(s, d, "documents")
          .select(col("doc_id"),
            explode(array_distinct(split(col("text"), " "))).as("token"))
          .groupBy("token")
          .agg(count(lit(1)).as("df"),
            concat_ws(",", sort_array(collect_list(col("doc_id")))).as("postings"))
          .orderBy("token"),
      Some("""WITH t AS (
             |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
             |  FROM documents)
             |SELECT token, COUNT(*) AS df,
             |  array_to_string(list_sort(list(doc_id)), ',') AS postings
             |FROM t GROUP BY token ORDER BY token""".stripMargin),
    ),
    // Sharded inverted index — the c09 shape that survives 100 TB. Postings
    // are keyed by (token, shard) with shard = doc_id div B (deterministic
    // id-range sharding, so the oracle replicates it): a stopword appearing
    // in every document yields corpus/B bounded rows instead of ONE row
    // whose posting string is the entire corpus (an unsplittable
    // gigabyte-scale cell that breaks the shuffle's row-size assumptions
    // and serializes through a single task). Per-shard lists stay sorted —
    // a reader streams shards in (token, shard) order and sees globally
    // sorted postings, and df is recoverable as sum(df_shard) without
    // touching the lists. Still ONE hash shuffle, partial+final agg; the
    // per-key aggregation state is now bounded by B.
    QuerySpec(
      "c10_inverted_index_sharded",
      (s, d) =>
        Tables(s, d, "documents")
          .select(col("doc_id"),
            explode(array_distinct(split(col("text"), " "))).as("token"))
          .withColumn("shard", expr(s"doc_id div $IndexShardB"))
          .groupBy("token", "shard")
          .agg(count(lit(1)).as("df_shard"),
            concat_ws(",", sort_array(collect_list(col("doc_id")))).as("postings"))
          .orderBy("token", "shard"),
      Some(s"""WITH t AS (
             |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
             |  FROM documents)
             |SELECT token, doc_id // $IndexShardB AS shard, COUNT(*) AS df_shard,
             |  array_to_string(list_sort(list(doc_id)), ',') AS postings
             |FROM t GROUP BY token, shard ORDER BY token, shard""".stripMargin),
    ),
    // BM25 ranking (k1=1.2, b=0.75) for a fixed 3-term query — the retrieval
    // scorer that sits on top of the c09/c10 index. Shuffle shape: tf is one
    // (doc, term)-keyed partial+final agg over only the MATCHING tokens
    // (the isin filter prunes before the explode's output ever shuffles),
    // df and the corpus stats are tiny broadcasts, and the per-doc term sum
    // is decimal-exact (partitioning-invariant, engine-reproducible). All
    // double arithmetic is written with identical literals/evaluation order
    // in both engines; idf's ln runs on the same double in both.
    QuerySpec(
      "c11_bm25",
      (s, d) => bm25Scores(Tables(s, d, "documents"), BmQueryTerms)
        .orderBy(col("score").desc, col("doc_id"))
        .limit(20),
      Some(s"""WITH ${bm25Sql(BmQueryTerms)}
              |SELECT doc_id, score FROM bm25
              |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin),
    ),
    // Incremental inverted-index maintenance — see [[invertedIndexMerge]]:
    // the stored sharded index (docs at or below the 80% ingest cutoff,
    // checkpointed) absorbs the append batch's index rows through one
    // (token, shard)-keyed merge: df SUM + min_id-ordered posting concat
    // (fragments partition the id range, so concat IS the sorted merge).
    // Only the batch tokenizes. The oracle is c10's FULL-REBUILD SQL, so
    // the green row proves merge ≡ rebuild — the retrieval artifact
    // joins the incremental-equivalence family (d10 dedup, p15 zones,
    // s20 ANN postings, c36 counts). Streaming twin: Streams
    // .invertedIndex runs the same (token, shard) aggregation stateful;
    // CorpusSpec pins merge ≡ rebuild at edge cutoffs.
    QuerySpec(
      "c39_inverted_index_incremental",
      (s, d) => {
        val docs = Tables(s, d, "documents")
        val cut = Pipeline.appendCutoff(docs, "doc_id")
        val base = invertedIndexRows(
          docs.filter(col("doc_id") <= cut)).localCheckpoint(true)
        val delta = invertedIndexRows(docs.filter(col("doc_id") > cut))
        invertedIndexMerge(base, delta)
          .select("token", "shard", "df_shard", "postings")
          .orderBy("token", "shard")
      },
      Some(s"""WITH t AS (
             |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
             |  FROM documents)
             |SELECT token, doc_id // $IndexShardB AS shard, COUNT(*) AS df_shard,
             |  array_to_string(list_sort(list(doc_id)), ',') AS postings
             |FROM t GROUP BY token, shard ORDER BY token, shard""".stripMargin),
    ),
    // BM25 served FROM the maintained index — c11's ranking with the
    // document-frequency table read off the incrementally-merged c39
    // artifact (df = SUM(df_shard) per query term) instead of
    // recomputed from the corpus; tf/length are query-time per-doc
    // stats as in c11. The oracle is c11's FULL-REBUILD SQL verbatim,
    // so the green row proves serve-from-maintained-index ≡
    // serve-from-rebuild — the retrieval half of the c36 theorem.
    QuerySpec(
      "c39b_bm25_from_index",
      (s, d) => {
        val docs = Tables(s, d, "documents")
        val cut = Pipeline.appendCutoff(docs, "doc_id")
        val base = invertedIndexRows(
          docs.filter(col("doc_id") <= cut)).localCheckpoint(true)
        val delta = invertedIndexRows(docs.filter(col("doc_id") > cut))
        val merged = invertedIndexMerge(base, delta).localCheckpoint(true)
        val dfreq = merged
          .filter(col("token").isin(BmQueryTerms: _*))
          .groupBy(col("token").as("tok"))
          .agg(sum(col("df_shard")).cast("double").as("df"))
        bm25Scores(docs, BmQueryTerms, Some(dfreq))
          .orderBy(col("score").desc, col("doc_id"))
          .limit(20)
      },
      Some(s"""WITH ${bm25Sql(BmQueryTerms)}
              |SELECT doc_id, score FROM bm25
              |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin),
    ),
    // Data-mixing weights: per-source token share vs a uniform target —
    // the knob a pretraining pipeline turns to up/down-sample sources
    // (weight = target_share / actual_share; >1 means oversample). One
    // explode absorbed by partial agg (per-source token counts are LONGS —
    // exact, no decimal needed), one scalar row broadcast back; the corpus
    // itself never shuffles.
    QuerySpec(
      "c12_mixing_weights",
      (s, d) => {
        // |sources|-row frame consumed twice (totals + join): checkpoint —
        // the d21 pattern — so the corpus text is scanned ONCE, not per
        // consumer (r15 ScanAudit found the double scan)
        val bySrc = Tables(s, d, "documents")
          .select(col("source"), size(split(col("text"), " ")).cast("long").as("n"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("n_tokens"))
          .localCheckpoint(true)
        val tot = broadcast(bySrc.agg(
          sum(col("n_tokens")).as("tot_tokens"),
          count(lit(1)).as("n_sources")))
        bySrc.crossJoin(tot)
          .select(col("source"), col("n_docs"), col("n_tokens"),
            (col("n_tokens").cast(DoubleType) / col("tot_tokens").cast(DoubleType))
              .as("token_share"),
            ((lit(1.0) / col("n_sources").cast(DoubleType)) /
              (col("n_tokens").cast(DoubleType) / col("tot_tokens").cast(DoubleType)))
              .as("mix_weight"))
          .orderBy("source")
      },
      Some("""WITH by_src AS (
             |  SELECT source, COUNT(*) AS n_docs,
             |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
             |  FROM documents GROUP BY source),
             |tot AS (
             |  SELECT SUM(n_tokens) AS tot_tokens, COUNT(*) AS n_sources
             |  FROM by_src)
             |SELECT source, n_docs, n_tokens,
             |  CAST(n_tokens AS DOUBLE) / CAST(tot_tokens AS DOUBLE) AS token_share,
             |  (1.0 / CAST(n_sources AS DOUBLE)) /
             |    (CAST(n_tokens AS DOUBLE) / CAST(tot_tokens AS DOUBLE)) AS mix_weight
             |FROM by_src, tot ORDER BY source""".stripMargin),
    ),
    // Unigram-LM quality scoring — [[unigramLmScore]]: add-one-smoothed
    // unigram model (one token-keyed count shuffle), each doc scored by
    // mean negative log-likelihood per token. The model join is
    // size-gated: broadcast while the vocab fits, shuffle hash join past
    // the threshold (an open 100 TB vocabulary is billions of types —
    // past any broadcast), with value-identical results either way
    // (CorpusSpec pins the parity). The per-doc sum of logs goes through
    // the decimal-exact accumulator (fp sum of logs is order-dependent,
    // ln itself is bit-identical across engines — the c11 precedent).
    QuerySpec(
      "c13_unigram_lm_score",
      (s, d) => unigramLmScore(Tables(s, d, "documents")),
      Some {
        s"""WITH toks AS (
           |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
           |  FROM documents),
           |counts AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok),
           |stats AS (SELECT SUM(c) AS n_total, COUNT(*) AS v FROM counts),
           |lm AS (
           |  SELECT tok,
           |    ln(CAST(c + 1 AS DOUBLE) / CAST(n_total + v AS DOUBLE)) AS logp
           |  FROM counts, stats)
           |SELECT doc_id, COUNT(*) AS n_tokens,
           |  (0.0 - ${Exact.sqlSum("logp")}) / CAST(COUNT(*) AS DOUBLE) AS avg_nll
           |FROM toks JOIN lm USING (tok)
           |GROUP BY doc_id ORDER BY doc_id""".stripMargin
      },
    ),
    // Weighted sampling without replacement (Duffield–Lund–Thorup priority
    // sampling, JACM 2007) with a DETERMINISTIC hash "random": the
    // data-mixing primitive — sample docs proportional to a weight (here
    // n_chars; in practice a quality or mixing weight, c12) reproducibly
    // across retries, engines, and repartitioning. Per row: u =
    // hash-uniform in (0,1), priority = w/u; global top-k by priority.
    // u is built from the top 53 bits of FNV-1a(salt|doc_id) plus 0.5, so
    // it is an EXACT double in both engines and the single division is
    // IEEE-correctly-rounded everywhere — bit-exact WITHOUT the
    // transcendental the Efraimidis–Spirakis key needs (Spark's log is
    // StrictMath/fdlibm and differs from libm ln by 1 ulp on ~10% of
    // arguments; priority sampling sidesteps the whole class). Scale
    // shape: zero shuffle — TakeOrderedAndProject does a per-partition
    // partial top-k and ships k rows to the driver.
    QuerySpec(
      "c14_weighted_sample",
      (s, d) => {
        import graft.functions.ghash
        val h = ghash.fnv1a64(concat(lit("ws|"), col("doc_id").cast("string")))
        val u = (shiftrightunsigned(h, 11).cast(DoubleType) + lit(0.5)) /
          lit(9007199254740992.0)
        Tables(s, d, "documents")
          .select(col("doc_id"), col("n_chars"),
            (col("n_chars").cast(DoubleType) / u).as("priority"))
          .orderBy(col("priority").desc, col("doc_id"))
          .limit(100)
      },
      Some {
        import graft.engine.DuckHash
        val fnv = DuckHash.fnv("'ws|' || CAST(doc_id AS VARCHAR)")
        s"""SELECT doc_id, n_chars,
           |  CAST(n_chars AS DOUBLE)
           |    / ((CAST(($fnv) // 2048 AS DOUBLE) + 0.5) / 9007199254740992.0)
           |    AS priority
           |FROM documents
           |ORDER BY priority DESC, doc_id LIMIT 100""".stripMargin
      },
    ),
    // Sequence packing — the training-batch assembly op: pack documents
    // (in deterministic doc_id order) into fixed-token-budget bins of
    // 2048, greedily by running token count; a doc starts in the bin its
    // cumulative prefix lands in. Packing is PER (source, shard), where a
    // shard is a fixed 8192-doc doc_id range — exactly how a sharded
    // pipeline assembles batches (each input shard is packed
    // independently; bins never span shards) and what makes the
    // prefix-sum window SCALE: per-task state is bounded by the shard
    // width, not by a source's total volume. The previous per-source-only
    // partitioning was a scale trap — with a handful of sources at
    // 100 TB, one task would sort+scan an entire source (the c10 lesson,
    // applied here; [[sequencePack]] documents the width choice).
    // Emits per-bin doc/token counts and fill ratio. All token math is
    // integer (bin via exact integer division — no double rounding even
    // past 2^53 cumulative tokens); fill is one exact division.
    QuerySpec(
      "c16_sequence_pack",
      (s, d) => sequencePack(Tables(s, d, "documents")),
      Some("""WITH t AS (
             |  SELECT source, doc_id, doc_id // 8192 AS shard,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
             |  FROM documents),
             |p AS (
             |  SELECT source, shard, doc_id, nt,
             |    COALESCE(SUM(nt) OVER (PARTITION BY source, shard
             |      ORDER BY doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             |      AS before
             |  FROM t)
             |SELECT source, shard, CAST(before // 2048 AS BIGINT) AS bin,
             |  COUNT(*) AS n_docs, CAST(SUM(nt) AS BIGINT) AS n_tokens,
             |  CAST(SUM(nt) AS DOUBLE) / 2048.0 AS fill_ratio
             |FROM p GROUP BY source, shard, before // 2048
             |ORDER BY source, shard, bin""".stripMargin),
    ),
    // BPE tokenizer training — the missing flagship of an LLM data
    // pipeline: learn the merge table from the corpus. This is Sennrich
    // et al. 2016's learn_bpe in its SCALABLE form: the state is the
    // word-TYPE table (word → corpus count — |types| ≪ corpus; pair
    // statistics are identical because merges never cross word
    // boundaries), each round shuffles only (left, right, weighted
    // count) partial aggregates, the argmax is ONE collected row, and
    // the merge applies map-side as an array fold over each type's
    // symbols. K rounds = K narrow jobs with O(1)-deep plans
    // (localCheckpoint per round — the d08 loop discipline).
    //
    // No SQL oracle: the merge chosen at step i rewrites the
    // tokenization that step i+1 counts, so an oracle would need K
    // chained re-tokenizations of the corpus — state SQL can't carry.
    // The driver records the rows-only check; CorpusSpec pins the FULL
    // merge sequence against an independent single-node reference BPE
    // (exact (step, left, right, count) equality) plus determinism
    // across partitionings.
    QuerySpec(
      "c17_bpe_merges",
      (s, d) => bpeMerges(Tables(s, d, "documents"), 20),
      None,
    ),
    // c17's driver-legible companion (r11 ask #4): the FIRST merge (K=1)
    // has no chained re-tokenization — weighted adjacent char-pair counts
    // over the type table + one argmax — so it IS plain SQL. A green
    // oracle here vouches at the driver for the pair-count/argmax
    // machinery every subsequent c17 round reuses; CorpusSpec still pins
    // the full 20-merge sequence.
    QuerySpec(
      "c17a_bpe_first_merge",
      (s, d) => bpeMerges(Tables(s, d, "documents"), 1),
      Some("""WITH types AS (
             |  SELECT w, COUNT(*) AS cnt
             |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
             |  WHERE len(w) > 0 GROUP BY w),
             |pr AS (
             |  SELECT w, cnt, unnest(range(1, len(w))) AS i
             |  FROM types WHERE len(w) >= 2),
             |pairs AS (
             |  SELECT substr(w, CAST(i AS INT), 1) AS l,
             |    substr(w, CAST(i AS INT) + 1, 1) AS r,
             |    CAST(SUM(cnt) AS BIGINT) AS pair_count
             |  FROM pr GROUP BY 1, 2)
             |SELECT CAST(1 AS BIGINT) AS step, l AS "left", r AS "right",
             |  pair_count
             |FROM pairs ORDER BY pair_count DESC, l, r LIMIT 1""".stripMargin),
    ),
    // Incremental n-gram count maintenance — see
    // [[knNgramScoreIncremental]]: the stored base count table absorbs
    // the append batch's counts through one SUM merge keyed on the
    // 8-byte gram hash (only the batch re-tokenizes); the oracle is
    // c35's FULL-RECOUNT string-keyed SQL, so the green row proves
    // count-merge ≡ recount AND hash-keying ≡ string-keying, and
    // therefore that the whole KN model (every statistic a rollup of
    // tc) is maintainable per-append at 100 TB. The third member of the
    // incremental-equivalence family (p15 zone maps, s20 ANN postings).
    QuerySpec(
      "c36_kn5_count_merge",
      (s, d) => knNgramScoreIncremental(Tables(s, d, "documents")),
      Some {
        s"""WITH ${knNgramScoreCtes(KnOrder)}
           |SELECT doc_id, n_grams, avg_nll FROM sc
           |ORDER BY doc_id""".stripMargin
      },
    ),
    // c36 over the PRODUCTION STORAGE LAYOUT (r18 VERDICT item 5): the
    // base count table is written BUCKETED BY the 8-byte gram hash and
    // the merge consumes it from storage, so the base side enters the
    // full-outer merge join with no exchange — the delta-only-shuffle
    // claim the r18 probe proved (5.5 s / 49 MB vs 497 MB re-shuffle)
    // now lives in a driver-timed, driver-oracled row. Same oracle as
    // c36 (c35's full-recount SQL): bucketed-merge ≡ recount. The write
    // happens inside the query, per-run, per-data-dir table name — no
    // state crosses runs.
    QuerySpec(
      "c36b_kn5_bucketed_merge",
      (s, d) => knNgramScoreBucketed(s, Tables(s, d, "documents"),
        table = s"c36b_base_${graft.queries.Pipeline.dirTag(d)}"),
      Some {
        s"""WITH ${knNgramScoreCtes(KnOrder)}
           |SELECT doc_id, n_grams, avg_nll FROM sc
           |ORDER BY doc_id""".stripMargin
      },
    ),
    // Pruned order-5 KN (c32b's KenLM knob at the order where it
    // matters): the 1M probe measured 50M 5-gram types — mostly
    // singletons, which is exactly the mass KenLM's pruning drops to
    // fit a web-scale model's serving budget. Pruned types score
    // through the context's backoff mass; statistics stay the full
    // model's. CorpusSpec pins the order-5 NLL-monotonicity law.
    QuerySpec(
      "c35b_kn5_pruned_score",
      (s, d) => knNgramScore(Tables(s, d, "documents"), n = KnOrder, minCount = 2),
      Some {
        s"""WITH ${knNgramScoreCtes(KnOrder, minCount = 2)}
           |SELECT doc_id, n_grams, avg_nll FROM sc
           |ORDER BY doc_id""".stripMargin
      },
    ),
    // c17's chained-state contract pressed further (r16 VERDICT item 6):
    // the FIRST THREE merges, each round's argmax plain SQL. The state
    // SQL "can't carry" for K=20 becomes carryable at small K through
    // the c18a marker-alphabet trick: every symbol (char or fused piece)
    // is exactly ONE char in the marker representation, so round i+1's
    // re-tokenization is replace(s, l||r, marker_i) — greedy
    // left-to-right, provably ≡ the applyMerge fold — and each round's
    // merge is a scalar CTE feeding the next round's replace and the
    // tie-break TEXT mapping (ties order by symbol text, not marker
    // codepoint). A green row vouches at the driver for the chained
    // re-tokenize→count→argmax machinery all 20 c17 rounds reuse;
    // CorpusSpec still pins the full sequence vs the reference BPE.
    QuerySpec(
      "c17b_bpe_merge_chain",
      (s, d) => bpeMerges(Tables(s, d, "documents"), 3),
      Some {
        def pairs(src: String, sym: String) =
          s"""SELECT substr($sym, CAST(i AS INT), 1) AS lc,
             |    substr($sym, CAST(i AS INT) + 1, 1) AS rc,
             |    CAST(SUM(cnt) AS BIGINT) AS pc
             |  FROM (SELECT $sym, cnt, unnest(range(1, len($sym))) AS i
             |        FROM $src WHERE len($sym) >= 2)
             |  GROUP BY 1, 2""".stripMargin
        s"""WITH types AS (
           |  SELECT w, COUNT(*) AS cnt
           |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
           |  WHERE len(w) > 0 GROUP BY w),
           |p1 AS (
           |  ${pairs("types", "w")}),
           |m1 AS (SELECT lc AS l, rc AS r, pc, lc || rc AS fused FROM p1
           |  ORDER BY pc DESC, l, r LIMIT 1),
           |s1 AS (SELECT cnt,
           |  replace(w, (SELECT l FROM m1) || (SELECT r FROM m1),
           |    chr(57345)) AS s
           |  FROM types),
           |p2 AS (
           |  ${pairs("s1", "s")}),
           |m2 AS (SELECT lc, rc, pc,
           |    CASE WHEN lc = chr(57345) THEN (SELECT fused FROM m1)
           |         ELSE lc END AS l,
           |    CASE WHEN rc = chr(57345) THEN (SELECT fused FROM m1)
           |         ELSE rc END AS r
           |  FROM p2 ORDER BY pc DESC, l, r LIMIT 1),
           |s2 AS (SELECT cnt,
           |  replace(s, (SELECT lc FROM m2) || (SELECT rc FROM m2),
           |    chr(57346)) AS s
           |  FROM s1),
           |p3 AS (
           |  ${pairs("s2", "s")}),
           |m3 AS (SELECT lc, rc, pc,
           |    CASE WHEN lc = chr(57345) THEN (SELECT fused FROM m1)
           |         WHEN lc = chr(57346) THEN (SELECT l || r FROM m2)
           |         ELSE lc END AS l,
           |    CASE WHEN rc = chr(57345) THEN (SELECT fused FROM m1)
           |         WHEN rc = chr(57346) THEN (SELECT l || r FROM m2)
           |         ELSE rc END AS r
           |  FROM p3 ORDER BY pc DESC, l, r LIMIT 1)
           |SELECT step, "left", "right", pair_count FROM (
           |  SELECT CAST(1 AS BIGINT) AS step, l AS "left", r AS "right",
           |    pc AS pair_count FROM m1
           |  UNION ALL
           |  SELECT CAST(2 AS BIGINT), l, r, pc FROM m2
           |  UNION ALL
           |  SELECT CAST(3 AS BIGINT), l, r, pc FROM m3)
           |ORDER BY step""".stripMargin
      },
    ),
    // BPE encode (the c17 tokenizer, applied): per-source token stats
    // under the learned merges — the serving half of tokenizer training.
    // See [[bpeEncodeStats]] for the type-table scale shape. Rows-only
    // driver check (the dictionary is c17's non-SQL output); CorpusSpec
    // carries exact parity vs the independent reference encoder.
    QuerySpec(
      "c18_bpe_encode",
      (s, d) => bpeEncodeStats(Tables(s, d, "documents"), 20),
      None,
    ),
    // c18's driver-legible companion (r11 ask #4): the SAME applyMerge
    // fold + encode-stats join, but under the pinned literal merge chain
    // [[FixedMerges]] — state-free, so the oracle can express merge
    // application as sequential replace() over marker chars (see
    // [[bpeEncodeStatsFixed]] for why replace ≡ greedy BPE application).
    QuerySpec(
      "c18a_bpe_encode_fixed",
      (s, d) => bpeEncodeStatsFixed(Tables(s, d, "documents"), FixedMerges),
      Some(s"""WITH toks AS (
              |  SELECT source, unnest(string_split(text, ' ')) AS w
              |  FROM documents),
              |tw AS (
              |  SELECT source, w, COUNT(*) AS n FROM toks
              |  WHERE len(w) > 0 GROUP BY source, w),
              |enc AS (
              |  SELECT w, len($FixedMergesReplaceSql) AS n_toks,
              |    len(w) AS n_chars
              |  FROM (SELECT DISTINCT w FROM tw)),
              |agg AS (
              |  SELECT source,
              |    CAST(SUM(n) AS BIGINT) AS n_words,
              |    CAST(SUM(n * n_toks) AS BIGINT) AS n_tokens,
              |    CAST(SUM(n * n_chars) AS BIGINT) AS sum_chars
              |  FROM tw JOIN enc USING (w) GROUP BY source)
              |SELECT source, n_words, n_tokens,
              |  CAST(n_tokens AS DOUBLE) / CAST(n_words AS DOUBLE)
              |    AS tokens_per_word,
              |  CAST(sum_chars AS DOUBLE) / CAST(n_tokens AS DOUBLE)
              |    AS chars_per_token
              |FROM agg ORDER BY source""".stripMargin),
    ),
    // Tokenizer fertility per language under the pinned c18a merge chain
    // — see [[tokenizerFertility]] for the planted-morphology design and
    // the CorpusSpec-pinned fertility ordering.
    QuerySpec(
      "c28_tokenizer_fertility",
      (s, d) => tokenizerFertility(Tables(s, d, "documents"), FixedMerges),
      Some(s"""WITH toks AS (
              |  SELECT lang, u.w AS w0,
              |    CASE lang WHEN 'de' THEN 'ung' WHEN 'fr' THEN 're'
              |              WHEN 'es' THEN 'an' WHEN 'zh' THEN 'i'
              |              ELSE '' END AS suf
              |  FROM documents, UNNEST(string_split(text, ' ')) AS u(w)
              |  WHERE len(u.w) > 0),
              |lw AS (
              |  SELECT lang, w0 || suf AS w, COUNT(*) AS n
              |  FROM toks GROUP BY lang, w),
              |enc AS (
              |  SELECT w, len($FixedMergesReplaceSql) AS n_toks,
              |    len(w) AS n_chars
              |  FROM (SELECT DISTINCT w FROM lw)),
              |agg AS (
              |  SELECT lang,
              |    CAST(SUM(n) AS BIGINT) AS n_words,
              |    CAST(SUM(n * n_toks) AS BIGINT) AS n_tokens,
              |    CAST(SUM(n * n_chars) AS BIGINT) AS sum_chars
              |  FROM lw JOIN enc USING (w) GROUP BY lang)
              |SELECT lang, n_words, n_tokens,
              |  CAST(n_tokens AS DOUBLE) / CAST(n_words AS DOUBLE)
              |    AS tokens_per_word,
              |  CAST(sum_chars AS DOUBLE) / CAST(n_tokens AS DOUBLE)
              |    AS chars_per_token
              |FROM agg ORDER BY lang""".stripMargin),
    ),
    // Temperature-scaled multilingual mixing — see [[temperatureMix]]:
    // q_l ∝ p_l^α per language (the XLM-R balancing rule), at α = 1/2 and
    // 1/4 because IEEE sqrt is correctly rounded in BOTH engines while
    // pow/exp/ln are libm-build-dependent (the c05 no-log precedent —
    // α=0.3 would differ in the last ulp across engines).
    QuerySpec(
      "c29_temperature_mix",
      (s, d) => temperatureMix(Tables(s, d, "documents")),
      Some(s"""WITH by_lang AS (
              |  SELECT lang, COUNT(*) AS n_docs,
              |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
              |  FROM documents GROUP BY lang),
              |tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS tot FROM by_lang),
              |shares AS (
              |  SELECT lang, n_docs, n_tokens,
              |    CAST(n_tokens AS DOUBLE) / CAST(tot AS DOUBLE) AS token_share,
              |    sqrt(CAST(n_tokens AS DOUBLE) / CAST(tot AS DOUBLE)) AS r_half,
              |    sqrt(sqrt(CAST(n_tokens AS DOUBLE) / CAST(tot AS DOUBLE)))
              |      AS r_quarter
              |  FROM by_lang, tot),
              |norms AS (
              |  SELECT ${Exact.sqlSum("r_half")} AS s_half,
              |    ${Exact.sqlSum("r_quarter")} AS s_quarter
              |  FROM shares)
              |SELECT lang, n_docs, n_tokens, token_share,
              |  r_half / s_half AS q_half,
              |  (r_half / s_half) / token_share AS w_half,
              |  r_quarter / s_quarter AS q_quarter,
              |  (r_quarter / s_quarter) / token_share AS w_quarter
              |FROM shares, norms ORDER BY lang""".stripMargin),
    ),
    // Per-domain curation report — the blocklist-candidate surface every
    // web-scale pipeline maintains: for each canonical URL host (the
    // d13 fixture + canonicalizer, shared expression), doc volume, token
    // volume, language spread with deterministic dominant language
    // (max count, ties to the lexicographically LARGER lang — the
    // max-struct/ROW_NUMBER DESC pair), and duplicate exposure (share of
    // docs whose exact text digest repeats corpus-wide — the d01 key).
    // Scale shape: one digest-keyed count + join (corpus-keyed like d01,
    // 16-byte keys), two host-keyed aggs (50-row state here; bounded by
    // |hosts| generally) — no broadcast of anything unbounded, no window
    // over an unsharded partition.
    QuerySpec(
      "c19_domain_stats",
      (s, d) => {
        val base = Tables(s, d, "documents")
          .select(col("doc_id"), col("lang"),
            regexp_extract(Dedup.canonicalUrl(Dedup.syntheticUrl),
              "^https://([^/]+)", 1).as("host"),
            md5(col("text")).as("digest"),
            size(split(col("text"), " ")).cast(LongType).as("n_toks"))
          // narrow per-doc frame consumed by THREE aggregations below:
          // checkpoint (the d21 pattern) so text is scanned once, not 3×
          // (r15 ScanAudit) — ~60 B/doc materialized vs two extra full
          // corpus scans at 100 TB
          .localCheckpoint(true)
        val digs = base.groupBy("digest").agg(count(lit(1)).as("nd"))
        val topLang = base.groupBy("host", "lang")
          .agg(count(lit(1)).as("nl"))
          .groupBy("host")
          .agg(max(struct(col("nl"), col("lang"))).getField("lang").as("top_lang"))
        base.join(digs, "digest")
          .groupBy("host")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_toks")).as("n_tokens"),
            countDistinct(col("lang")).as("n_langs"),
            (sum(when(col("nd") > 1, 1L).otherwise(0L)).cast(DoubleType) /
              count(lit(1)).cast(DoubleType)).as("dup_share"))
          .join(topLang, "host")
          .select(col("host"), col("n_docs"), col("n_tokens"),
            col("n_langs"), col("top_lang"), col("dup_share"))
          .orderBy("host")
      },
      // string concat, not interpolation-inside-stripMargin: the CTE
      // text contains `||`, which stripMargin would mangle
      Some(s"WITH ${graft.queries.Dedup.duckUrlCanonCtes},\n" +
        """base AS (
             |  SELECT c.doc_id,
             |    regexp_extract(canonical_url, '^https://([^/]+)', 1) AS host,
             |    d.lang, md5(d.text) AS digest,
             |    CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_toks
             |  FROM canon c JOIN documents d USING (doc_id)),
             |digs AS (SELECT digest, COUNT(*) AS nd FROM base GROUP BY digest),
             |langs AS (
             |  SELECT host, lang, COUNT(*) AS nl FROM base GROUP BY host, lang),
             |toplang AS (
             |  SELECT host, lang AS top_lang FROM (
             |    SELECT host, lang,
             |      ROW_NUMBER() OVER (PARTITION BY host
             |        ORDER BY nl DESC, lang DESC) AS rn
             |    FROM langs) t WHERE rn = 1),
             |main AS (
             |  SELECT b.host, COUNT(*) AS n_docs,
             |    CAST(SUM(b.n_toks) AS BIGINT) AS n_tokens,
             |    COUNT(DISTINCT b.lang) AS n_langs,
             |    CAST(SUM(CASE WHEN g.nd > 1 THEN 1 ELSE 0 END) AS DOUBLE)
             |      / CAST(COUNT(*) AS DOUBLE) AS dup_share
             |  FROM base b JOIN digs g USING (digest) GROUP BY b.host)
             |SELECT m.host, n_docs, n_tokens, n_langs, t.top_lang, dup_share
             |FROM main m JOIN toplang t USING (host)
             |ORDER BY host""".stripMargin),
    ),
    // DSIR-style data selection (Xie et al. 2023, "Data Selection for
    // Language Models via Importance Resampling", with unigram features):
    // score every document by the log importance ratio between a TARGET
    // domain LM (here: the lang='en' slice) and the RAW corpus LM, both
    // add-one-smoothed over the shared raw vocabulary, and keep the
    // top-k. log w(doc) = Σ_tok [ln p_target(tok) − ln p_raw(tok)] —
    // per-token lns are bit-identical across engines (the c13
    // precedent), the per-doc sum is decimal-exact, and the top-k is
    // (log_ratio DESC, doc_id) deterministic. Scale shape = c13's: ONE
    // token-keyed shuffle builds both models together (raw count +
    // target count in the same aggregate), the model join is size-gated
    // (broadcast under the vocab threshold, shuffle join past it), and
    // the top-k is TakeOrderedAndProject — partial per-partition top-k,
    // never a global sort.
    QuerySpec(
      "c20_dsir_select",
      (s, d) => dsirSelect(Tables(s, d, "documents"),
        col("lang") === "en", 100),
      Some {
        s"""WITH toks AS (
           |  SELECT doc_id, lang = 'en' AS is_target,
           |    unnest(string_split(text, ' ')) AS tok
           |  FROM documents),
           |counts AS (
           |  SELECT tok, COUNT(*) AS cr,
           |    SUM(CASE WHEN is_target THEN 1 ELSE 0 END) AS ct
           |  FROM toks GROUP BY tok),
           |stats AS (SELECT SUM(cr) AS nr, SUM(ct) AS nt, COUNT(*) AS v
           |  FROM counts),
           |lm AS (
           |  SELECT tok,
           |    ln(CAST(ct + 1 AS DOUBLE) / CAST(nt + v AS DOUBLE))
           |      - ln(CAST(cr + 1 AS DOUBLE) / CAST(nr + v AS DOUBLE)) AS lr
           |  FROM counts, stats)
           |SELECT doc_id, COUNT(*) AS n_tokens,
           |  ${Exact.sqlSum("lr")} AS log_ratio
           |FROM toks JOIN lm USING (tok)
           |GROUP BY doc_id
           |ORDER BY log_ratio DESC, doc_id LIMIT 100""".stripMargin
      },
    ),
    // Interpolated bigram-LM quality scoring (the CCNet-style LM filter
    // one order up from c13): p(w2|w1) = λ·p_ML(w2|w1) + (1−λ)·p_uni(w2)
    // with add-one-smoothed unigrams, each doc scored by mean NLL per
    // bigram position. Jelinek–Mercer interpolation is the load-bearing
    // choice: a pure ML bigram model scores every seen bigram of a
    // boilerplate page as near-certain (NLL → 0) and can't rank, while
    // the unigram floor keeps rare-continuation mass comparable across
    // docs — and it needs no discounting transcendentals beyond ln
    // (Kneser–Ney's absolute discount would be equally exact, but its
    // continuation counts need a second model-side aggregate for no
    // extra discrimination at this feature order). Bigram extraction is
    // MAP-SIDE (zip of the token array with its own tail — no window,
    // no self-join); model building is one bigram-keyed count shuffle
    // (the w1-context totals reuse the same counts); the scoring join is
    // size-gated like c13's (broadcast under the threshold, shuffle hash
    // join past it — an open 100 TB bigram vocabulary is far past any
    // broadcast). ln is bit-identical across engines, interpolation is
    // two IEEE mult-adds, and the per-doc sum is decimal-exact.
    QuerySpec(
      "c22_bigram_lm_score",
      (s, d) => bigramLmScore(Tables(s, d, "documents")),
      Some {
        s"""WITH t AS (
           |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
           |toks AS (SELECT doc_id, unnest(ts) AS tok FROM t),
           |bgl AS (
           |  SELECT doc_id, unnest(list_transform(range(1, len(ts)),
           |    i -> {'w1': ts[i], 'w2': ts[i+1]})) AS bg
           |  FROM t),
           |bg AS (SELECT doc_id, bg.w1 AS w1, bg.w2 AS w2 FROM bgl),
           |bc AS (SELECT w1, w2, COUNT(*) AS cb FROM bg GROUP BY w1, w2),
           |cw AS (SELECT w1, SUM(cb) AS cw1 FROM bc GROUP BY w1),
           |uc AS (SELECT tok, COUNT(*) AS cu FROM toks GROUP BY tok),
           |st AS (SELECT SUM(cu) AS n_total, COUNT(*) AS v FROM uc),
           |lm AS (
           |  SELECT bc.w1, bc.w2,
           |    ln($BigramLambda * (CAST(cb AS DOUBLE) / CAST(cw1 AS DOUBLE))
           |       + $BigramLambdaBar * (CAST(cu + 1 AS DOUBLE)
           |                / CAST(n_total + v AS DOUBLE))) AS logp
           |  FROM bc JOIN cw USING (w1) JOIN uc ON bc.w2 = uc.tok, st)
           |SELECT doc_id, COUNT(*) AS n_bigrams,
           |  (0.0 - ${Exact.sqlSum("logp")}) / CAST(COUNT(*) AS DOUBLE)
           |    AS avg_nll
           |FROM bg JOIN lm USING (w1, w2)
           |GROUP BY doc_id ORDER BY doc_id""".stripMargin
      },
    ),
    // Token-budget allocation with repeat caps — the epoching knob c12's
    // mixing weights feed: given a token budget B (here 1.2x the corpus)
    // and a uniform per-source target, a source can only supply
    // MaxEpochs (1.4) passes over its own tokens, so undersized sources
    // cap and their unmet demand WATER-FILLS to the sources that still
    // have headroom. Two redistribution rounds, unrolled and identical
    // on both engines (the s08 fixed-iteration discipline) — a fixpoint
    // loop would converge in data-dependent rounds and break bit parity;
    // whatever demand survives two rounds is reported in `unfilled`
    // rather than silently forced in. Scale shape: ONE corpus-wide
    // per-source aggregate (the only big pass), then scalar broadcasts
    // over the source table — thousands of sources at 100 TB, trivially
    // small; the decimal-exact sums make the leftover arithmetic
    // partitioning-invariant.
    QuerySpec(
      "c23_token_budget_fill",
      (s, d) => tokenBudgetFill(Tables(s, d, "documents")),
      Some {
        s"""WITH by_src AS (
           |  SELECT source,
           |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
           |  FROM documents GROUP BY source),
           |$WaterFillCtes
           |SELECT source, n_tokens, cap, alloc,
           |  alloc / CAST(n_tokens AS DOUBLE) AS epochs, unfilled
           |FROM r2, u ORDER BY source""".stripMargin
      },
    ),
    // Effective-token accounting under exact dedup — the "how many tokens
    // do we ACTUALLY have" question a pretraining data budget starts from:
    // duplicated documents contribute extra epochs, not new tokens, so a
    // mixing plan (c12/c23) built on RAW per-source token counts over-
    // weights duplicated sources. Corpus = documents ∪ exact copies of
    // every 10th doc (the d01 planting convention, `source` kept — a copy
    // stays in its source). Per source: raw docs/tokens, surviving
    // (first-occurrence, min-doc_id-per-digest — the d01 survivor rule)
    // docs/tokens, and the duplication factor to divide out. Shuffle
    // shape: one digest-keyed agg (16-byte keys, O(1) state — the d01
    // shape), the survivor re-attach is a narrow (digest, doc_id) inner
    // join, and the source rollups are partial+final aggs over ~|sources|
    // keys; text never shuffles.
    QuerySpec(
      "c25_effective_tokens",
      (s, d) => effectiveTokens(dupPlantedCorpus(s, d)),
      Some(s"""WITH $DupPlantedCorpusCte,
              |$EffectiveTokensCtes
              |SELECT source, n_docs, n_unique_docs, total_tokens,
              |  unique_tokens, dup_factor
              |FROM eff ORDER BY source""".stripMargin),
    ),
    // Unigram-LM (SentencePiece-style) tokenizer training — the second
    // tokenizer family beside BPE (c17): seed substring vocabulary →
    // K Viterbi-EM rounds over the word-TYPE table → pruned final vocab.
    // Rows-only at the driver gate for the same reason as c17 (chained
    // re-segmentation state); CorpusSpec carries exact full-vocab parity
    // vs an independent single-node reference + determinism across
    // partitionings. See [[unigramTrain]] for the scale shape.
    QuerySpec(
      "c26_unigram_lm_train",
      (s, d) => unigramTrain(Tables(s, d, "documents")),
      None,
    ),
    // c26's driver-legible companion (r11 ask #4): the EM seed table —
    // substring weights + coverage chars + top-V selection — is c26's
    // exact starting state ([[seedFrom]]) and, unlike the chained Viterbi
    // rounds, plain SQL.
    QuerySpec(
      "c26a_unigram_seed",
      (s, d) => unigramSeed(Tables(s, d, "documents")),
      Some(s"""WITH types AS (
             |  SELECT w, COUNT(*) AS cnt
             |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
             |  WHERE len(w) > 0 GROUP BY w),
             |st AS (
             |  SELECT w, cnt, unnest(range(1, len(w) + 1)) AS i FROM types),
             |pc AS (
             |  SELECT w, cnt, i,
             |    unnest(range(1, least($UniMaxPieceLen, len(w) - i + 1) + 1)) AS l
             |  FROM st),
             |wts AS (
             |  SELECT substr(w, CAST(i AS INT), CAST(l AS INT)) AS piece,
             |    CAST(SUM(cnt) AS BIGINT) AS wt
             |  FROM pc GROUP BY 1)
             |SELECT piece, wt FROM wts WHERE len(piece) = 1
             |UNION ALL
             |SELECT piece, wt FROM (
             |  SELECT piece, wt FROM wts WHERE len(piece) > 1
             |  ORDER BY wt DESC, piece LIMIT $UniSeedPieces)
             |ORDER BY piece""".stripMargin),
    ),
    // One FULL EM round driver-verified (r17 VERDICT item 7, the last
    // chained-state frontier): E-step Viterbi re-segmentation + M-step
    // re-estimation, oracled by unrolling the word-length-bounded DP
    // into lateral-aliased struct columns whose lexicographic max IS
    // viterbiSegment's pinned tie rule — see [[unigramEmRoundSql]]. A
    // green row vouches at the driver for the re-segment→re-estimate
    // machinery every c26 round reuses; CorpusSpec additionally pins
    // the round against an independent driver-side segmentation.
    QuerySpec(
      "c26b_unigram_em_round",
      (s, d) => unigramEmRound(Tables(s, d, "documents")),
      Some(s"""WITH $unigramEmRoundSql
              |SELECT piece, wt FROM emr ORDER BY piece""".stripMargin),
    ),
    // CCNet perplexity buckets — see [[perplexityBuckets]] for the design
    // narrative (c13 LM scores → per-lang rank-based head/middle/tail,
    // discrete order-statistic thresholds because interpolated
    // percentiles differ by 1 ulp between engines, broadcast assignment).
    // The oracle computes the SAME rank pairs via ROW_NUMBER (windows are
    // fine at oracle scale; the Spark side uses the agg+broadcast shape).
    QuerySpec(
      "c27_perplexity_buckets",
      (s, d) => perplexityBuckets(Tables(s, d, "documents")),
      Some {
        s"""WITH toks AS (
           |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
           |  FROM documents),
           |counts AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok),
           |stats AS (SELECT SUM(c) AS n_total, COUNT(*) AS v FROM counts),
           |lm AS (
           |  SELECT tok,
           |    ln(CAST(c + 1 AS DOUBLE) / CAST(n_total + v AS DOUBLE)) AS logp
           |  FROM counts, stats),
           |sc AS (
           |  SELECT doc_id,
           |    (0.0 - ${Exact.sqlSum("logp")}) / CAST(COUNT(*) AS DOUBLE)
           |      AS avg_nll
           |  FROM toks JOIN lm USING (tok) GROUP BY doc_id),
           |$tertileOracleTail""".stripMargin
      },
    ),
    // Interpolated Kneser–Ney trigram LM perplexity — the hash-keyed
    // chain at order 3; see [[knNgramModel]] / [[knNgramScore]] for the
    // design narrative (continuation counts, D=0.75 absolute discount,
    // every KN statistic a rollup of the one gram-keyed count, size-gated
    // scoring join). The oracle below is string-keyed, so the green row
    // is also the hash≡string proof at order 3.
    QuerySpec(
      "c32_kneser_ney_score",
      // n_grams → n_trigrams: the declared output schema (oracle column
      // names), renamed through an explicit select as in c32b
      (s, d) => knNgramScore(Tables(s, d, "documents"), 3)
        .select(col("doc_id"), col("n_grams").as("n_trigrams"),
          col("avg_nll")),
      Some {
        s"""WITH $knScoreCtes
           |SELECT doc_id, n_trigrams, avg_nll FROM sc
           |ORDER BY doc_id""".stripMargin
      },
    ),
    // Kneser–Ney at ORDER 5 — KenLM's default order and the one CCNet's
    // shipped wikipedia filter actually runs (r16 VERDICT item 4). See
    // [[knNgramModel]]: the trigram recursion generalized so every
    // order's statistics are rollups of the ONE 5-gram count table; the
    // oracle CTEs are generated by the same fold as the Column tree, so
    // engine and oracle share one IEEE expression shape by construction.
    // Since r18 the Spark side is HASH-KEYED throughout (r17 item 1 —
    // knNgramHashStream: fused 8-byte window hashes, guarded rollups, no
    // gram string in any exchange; PlanSpec gates it) while this oracle
    // stays string-keyed, so the green row is ALSO the hash≡string
    // equivalence proof at full model depth. CorpusSpec pins that order
    // 5 separates trigram-preserving recombinations MORE than order 3
    // (the failure mode a trigram filter cannot see).
    QuerySpec(
      "c35_kn5_score",
      (s, d) => knNgramScore(Tables(s, d, "documents"), n = KnOrder),
      Some {
        s"""WITH ${knNgramScoreCtes(KnOrder)}
           |SELECT doc_id, n_grams, avg_nll FROM sc
           |ORDER BY doc_id""".stripMargin
      },
    ),
    // Takedown propagation into the model counts — see
    // [[knNgramScoreRetract]]: the stored count table absorbs a ~4%
    // delete list by negative-delta SUM merge (only deleted docs
    // re-tokenize), survivors re-score on the corrected model; the
    // oracle is c35's full recount over the survivors, so the green row
    // proves retraction ≡ rebuild. With c36 (append) this closes the
    // count artifact's lifecycle the way s20/s20b closed the ANN
    // index's.
    QuerySpec(
      "c38_kn5_count_retract",
      (s, d) => knNgramScoreRetract(Tables(s, d, "documents"),
        delPred = col("doc_id") % 23 === 7),
      Some {
        s"""WITH ${knNgramScoreCtes(KnOrder,
          where = " WHERE NOT (doc_id % 23 = 7)")}
           |SELECT doc_id, n_grams, avg_nll FROM sc
           |ORDER BY doc_id""".stripMargin
      },
    ),
    // CCNet's real configuration (r17 VERDICT item 2): order-5 KN
    // trained on a deterministic clean reference slice (sources
    // src0-src3, the Wikipedia stand-in), scoring the WHOLE corpus
    // open-vocab — unseen grams back off through the context chain to a
    // <unk> unigram floor. See [[knNgramScoreOpenVocab]]. The oracle is
    // string-keyed with the same LEFT JOIN + nested-COALESCE tree, so
    // the green row proves the OOV path AND the hash keying at once;
    // CorpusSpec pins training-slice scores ≡ the closed-vocab scorer
    // trained there bit-for-bit, and that OOV-heavy docs rank worse.
    QuerySpec(
      "c37_kn5_ref_trained",
      (s, d) => knNgramScoreOpenVocab(Tables(s, d, "documents"),
        trainPred = col("source").isin("src0", "src1", "src2", "src3")),
      Some {
        s"""WITH ${knOpenScoreCtes(
          "source IN ('src0', 'src1', 'src2', 'src3')")}
           |SELECT doc_id, n_grams, n_oov, avg_nll FROM sc
           |ORDER BY doc_id""".stripMargin
      },
    ),
    // Pruned-model KN scoring — see [[knNgramModel]]'s minCount knob:
    // trigram types below count 2 lose their max-term and score through
    // the context's backoff mass (the KenLM pruning deployment knob —
    // singleton n-grams dominate any web-scale model's row count, and
    // dropping them is how a 100 TB-corpus model fits its serving
    // budget). Statistics stay the full model's; CorpusSpec pins the
    // NLL-monotonicity law (pruning can only raise a doc's NLL) and the
    // pruned order-3 scores of a literal fixture bit-for-bit. The engine
    // side is the HASH-KEYED order-3 chain (same as c32/c33/c34) while
    // the oracle below is string-keyed, so the green row is also the
    // pruned-path hash≡string proof.
    QuerySpec(
      "c32b_kn_pruned_score",
      // n_grams → n_trigrams: the declared output schema predates the
      // generic chain and is part of the contract (oracle column names).
      // An explicit select, so a renamed source column fails at analysis
      // instead of silently passing through under the old name.
      (s, d) => knNgramScore(Tables(s, d, "documents"), 3, minCount = 2)
        .select(col("doc_id"), col("n_grams").as("n_trigrams"),
          col("avg_nll")),
      Some {
        s"""WITH ${knScoreCtesPruned(2)}
           |SELECT doc_id, n_trigrams, avg_nll FROM sc
           |ORDER BY doc_id""".stripMargin
      },
    ),
    // CCNet tertile buckets on the c32 KN scores — see
    // [[knPerplexityBuckets]]: c27's decision layer with the scorer
    // swapped, sharing the threshold machinery on both engine and
    // oracle sides.
    QuerySpec(
      "c33_kn_perplexity_buckets",
      (s, d) => knPerplexityBuckets(Tables(s, d, "documents")),
      Some {
        s"""WITH $knScoreCtes,
           |$tertileOracleTail""".stripMargin
      },
    ),
    // CCNet mixing manifest over the KN buckets — see
    // [[knMixingManifest]].
    QuerySpec(
      "c34_kn_mixing_manifest",
      (s, d) => knMixingManifest(Tables(s, d, "documents")),
      Some {
        s"""WITH $knScoreCtes,
           |$tertileBucketCtes,
           |tok AS (
           |  SELECT doc_id,
           |    CAST(len(list_filter(string_split(text, ' '),
           |      w -> len(w) > 0)) AS BIGINT) AS nt
           |  FROM documents),
           |cells AS (
           |  SELECT lang, ppl_bucket, COUNT(*) AS n_docs,
           |    CAST(SUM(nt) AS BIGINT) AS n_tokens
           |  FROM bucketed JOIN tok USING (doc_id)
           |  GROUP BY lang, ppl_bucket),
           |lt AS (SELECT lang, CAST(SUM(n_tokens) AS BIGINT) AS lang_tokens
           |  FROM cells GROUP BY lang)
           |SELECT c.lang, c.ppl_bucket, c.n_docs, c.n_tokens,
           |  CAST(c.n_tokens AS DOUBLE) / CAST(l.lang_tokens AS DOUBLE)
           |    AS token_share
           |FROM cells c JOIN lt l USING (lang)
           |ORDER BY c.lang, c.ppl_bucket""".stripMargin
      },
    ),
    // Vocabulary coverage / OOV per language — see [[vocabCoverage]] for
    // the graded hash-bucket plant (nested suffixed-type sets ⇒ monotone
    // OOV law) and the honest broadcast membership join.
    QuerySpec(
      "c30_vocab_coverage",
      (s, d) => vocabCoverage(Tables(s, d, "documents")),
      Some {
        import graft.engine.DuckHash
        val h = s"((${DuckHash.signed(DuckHash.fnv("'c30|' || w0"))} % 10) " +
          "+ 10) % 10"
        s"""WITH t AS (
           |  SELECT lang, u.w AS w0
           |  FROM documents, UNNEST(string_split(text, ' ')) AS u(w)
           |  WHERE len(u.w) > 0),
           |lw AS (SELECT lang, w0, COUNT(*) AS n FROM t GROUP BY lang, w0),
           |e AS (
           |  SELECT lang, w0, n,
           |    CASE lang WHEN 'de' THEN 8 WHEN 'fr' THEN 6 WHEN 'es' THEN 4
           |              WHEN 'zh' THEN 2 ELSE 0 END AS thr,
           |    CASE lang WHEN 'de' THEN 'ung' WHEN 'fr' THEN 're'
           |              WHEN 'es' THEN 'an' WHEN 'zh' THEN 'i'
           |              ELSE '' END AS suf,
           |    $h AS hb
           |  FROM lw),
           |m AS (
           |  SELECT lang, CASE WHEN hb < thr THEN w0 || suf ELSE w0 END AS w,
           |    CAST(SUM(n) AS BIGINT) AS n
           |  FROM e GROUP BY 1, 2),
           |v AS (SELECT DISTINCT w0 AS w FROM lw),
           |j AS (
           |  SELECT m.lang, m.w, m.n, v.w IS NOT NULL AS in_vocab
           |  FROM m LEFT JOIN v ON m.w = v.w)
           |SELECT lang,
           |  CAST(SUM(n) AS BIGINT) AS n_tokens,
           |  COUNT(*) AS n_types,
           |  CAST(SUM(CASE WHEN in_vocab THEN 0 ELSE n END) AS BIGINT)
           |    AS oov_tokens,
           |  CAST(SUM(CASE WHEN in_vocab THEN 0 ELSE 1 END) AS BIGINT)
           |    AS oov_types,
           |  CAST(SUM(CASE WHEN in_vocab THEN 0 ELSE n END) AS DOUBLE)
           |    / CAST(SUM(n) AS DOUBLE) AS oov_token_rate,
           |  CAST(SUM(CASE WHEN in_vocab THEN 0 ELSE 1 END) AS DOUBLE)
           |    / CAST(COUNT(*) AS DOUBLE) AS oov_type_rate
           |FROM j GROUP BY lang ORDER BY lang""".stripMargin
      },
    ),
    // Vocabulary growth / Heaps curve — see [[vocabGrowth]]: first-seen
    // bucketing replaces 4 prefix-distinct rescans with ONE dictionary
    // aggregation; cumulative step over the 4-row bucket spine.
    QuerySpec(
      "c31_vocab_growth",
      (s, d) => vocabGrowth(Tables(s, d, "documents")),
      Some("""WITH b AS (SELECT MAX(doc_id) AS mx FROM documents),
             |db AS (
             |  SELECT CASE WHEN doc_id * 100 <= mx * 10 THEN 10
             |              WHEN doc_id * 100 <= mx * 25 THEN 25
             |              WHEN doc_id * 100 <= mx * 50 THEN 50
             |              ELSE 100 END AS pct,
             |    COUNT(*) AS n_docs,
             |    CAST(SUM(len(list_filter(string_split(text, ' '),
             |      w -> len(w) > 0))) AS BIGINT) AS n_tokens
             |  FROM documents, b GROUP BY 1),
             |fs AS (
             |  SELECT u.w AS w, MIN(doc_id) AS fd
             |  FROM documents, UNNEST(string_split(text, ' ')) AS u(w)
             |  WHERE len(u.w) > 0 GROUP BY u.w),
             |tb AS (
             |  SELECT CASE WHEN fd * 100 <= mx * 10 THEN 10
             |              WHEN fd * 100 <= mx * 25 THEN 25
             |              WHEN fd * 100 <= mx * 50 THEN 50
             |              ELSE 100 END AS pct,
             |    COUNT(*) AS n_types
             |  FROM fs, b GROUP BY 1)
             |SELECT CAST(db.pct AS BIGINT) AS pct,
             |  CAST(SUM(db.n_docs) OVER cum AS BIGINT) AS docs_cum,
             |  CAST(SUM(db.n_tokens) OVER cum AS BIGINT) AS tokens_cum,
             |  CAST(SUM(COALESCE(tb.n_types, 0)) OVER cum AS BIGINT)
             |    AS types_cum,
             |  CAST(SUM(COALESCE(tb.n_types, 0)) OVER cum AS DOUBLE)
             |    / CAST(SUM(db.n_tokens) OVER cum AS DOUBLE) AS ttr
             |FROM db LEFT JOIN tb ON db.pct = tb.pct
             |WINDOW cum AS (ORDER BY db.pct
             |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |ORDER BY pct""".stripMargin),
    ),
  )

  /** documents ∪ exact copies of every 10th doc (+2M, `source` kept — a
    * copy stays in its source): the d01 planting convention with source
    * attribution, shared by c25 and p08.
    */
  def dupPlantedCorpus(s: SparkSession, d: String): DataFrame = {
    // one scan (the Dedup.plantedCorpus pattern): each row explodes into
    // itself plus, for every 10th doc, its planted exact copy — the
    // 2-branch union read the documents table twice
    val base = Tables(s, d, "documents")
      .select(col("doc_id"), col("source"), col("text"))
    val self = struct(col("doc_id"), col("source"), col("text"))
    val copy = struct((col("doc_id") + 2000000L).as("doc_id"),
      col("source"), col("text"))
    base
      .select(explode(when(col("doc_id") % 10 === 0,
        array(self, copy)).otherwise(array(self))).as("r"))
      .select(col("r.doc_id").as("doc_id"), col("r.source").as("source"),
        col("r.text").as("text"))
  }

  /** Oracle CTE mirroring [[dupPlantedCorpus]]. */
  val DupPlantedCorpusCte: String =
    """corpus AS (
      |  SELECT doc_id, source, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 2000000, source, text FROM documents
      |  WHERE doc_id % 10 = 0)""".stripMargin

  /** Dedup-aware per-source token accounting — the c25 engine, factored so
    * p08's mixing manifest consumes the SAME definition. Input: (doc_id,
    * source, text). Output per source: raw docs/tokens, surviving
    * (first-occurrence, min-doc_id-per-digest) docs/tokens, duplication
    * factor. See the c25 QuerySpec comment for the shuffle shape.
    */
  def effectiveTokens(corpus: DataFrame): DataFrame = {
    // checkpointed: rows has THREE consumers (survivor min-agg, the kept
    // join, per-source totals) — without it the corpus text is scanned,
    // md5'd and tokenized three times; the materialized form is a narrow
    // (id, source, 32-char digest, count) row
    val rows = corpus.select(col("doc_id"), col("source"),
      md5(col("text")).as("dg"),
      size(split(col("text"), " ")).cast(LongType).as("n_tok"))
      .localCheckpoint(true)
    val surv = rows.groupBy("dg").agg(min(col("doc_id")).as("doc_id"))
    val kept = rows.join(surv, Seq("dg", "doc_id"))
    val tot = rows.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("total_tokens"))
    val uniq = kept.groupBy("source")
      .agg(count(lit(1)).as("n_unique_docs"),
        sum(col("n_tok")).as("unique_tokens"))
    // left join: a source whose every digest survives ELSEWHERE would
    // have no survivor rows (cannot happen with this planting — the
    // min-doc_id survivor is always the original — but the accounting
    // must not silently drop such a source)
    tot.join(uniq, Seq("source"), "left")
      .select(col("source"), col("n_docs"),
        coalesce(col("n_unique_docs"), lit(0L)).as("n_unique_docs"),
        col("total_tokens"),
        coalesce(col("unique_tokens"), lit(0L)).as("unique_tokens"),
        (col("total_tokens").cast(DoubleType) /
          when(coalesce(col("unique_tokens"), lit(0L)) === 0L, lit(null))
            .otherwise(coalesce(col("unique_tokens"), lit(0L)))
            .cast(DoubleType)).as("dup_factor"))
      .orderBy("source")
  }

  /** Oracle CTE chain mirroring [[effectiveTokens]], reading a
    * `corpus(doc_id, source, text)` CTE and ending in `eff(source,
    * n_docs, n_unique_docs, total_tokens, unique_tokens, dup_factor)`.
    */
  val EffectiveTokensCtes: String =
    """rows_ AS (
      |  SELECT doc_id, source, md5(text) AS dg,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      |  FROM corpus),
      |surv AS (SELECT dg, MIN(doc_id) AS doc_id FROM rows_ GROUP BY dg),
      |kept AS (SELECT rows_.* FROM rows_ JOIN surv USING (dg, doc_id)),
      |etot AS (
      |  SELECT source, COUNT(*) AS n_docs,
      |    CAST(SUM(n_tok) AS BIGINT) AS total_tokens
      |  FROM rows_ GROUP BY source),
      |uniq AS (
      |  SELECT source, COUNT(*) AS n_unique_docs,
      |    CAST(SUM(n_tok) AS BIGINT) AS unique_tokens
      |  FROM kept GROUP BY source),
      |eff AS (
      |  SELECT t.source, n_docs,
      |    COALESCE(n_unique_docs, 0) AS n_unique_docs, total_tokens,
      |    COALESCE(unique_tokens, 0) AS unique_tokens,
      |    CAST(total_tokens AS DOUBLE) /
      |      CAST(NULLIF(COALESCE(unique_tokens, 0), 0) AS DOUBLE)
      |      AS dup_factor
      |  FROM etot t LEFT JOIN uniq u ON t.source = u.source)""".stripMargin

  /** Oracle CTE chain mirroring [[tokenBudgetFillFromCounts]]: reads a
    * `by_src(source, n_tokens)` CTE and ends in `r2(source, n_tokens,
    * cap, alloc)` + `u(unfilled)`. Shared by the c23 and p08 oracles.
    */
  val WaterFillCtes: String = {
    s"""by_src_pos AS (
       |  -- zero-token sources are excluded BEFORE allocation (mirrored in
       |  -- tokenBudgetFillFromCounts): a 0-token source would divide by
       |  -- zero in epochs, where Spark yields Infinity but DuckDB NULL
       |  SELECT * FROM by_src WHERE n_tokens > 0),
       |tot AS (SELECT SUM(n_tokens) AS t, COUNT(*) AS s FROM by_src_pos),
       |r1 AS (
       |  SELECT source, n_tokens,
       |    $MaxEpochs * CAST(n_tokens AS DOUBLE) AS cap,
       |    least(($BudgetMult * CAST(t AS DOUBLE)) / CAST(s AS DOUBLE),
       |      $MaxEpochs * CAST(n_tokens AS DOUBLE)) AS alloc1,
       |    ($BudgetMult * CAST(t AS DOUBLE)) / CAST(s AS DOUBLE) AS want
       |  FROM by_src_pos, tot),
       |l1 AS (
       |  SELECT $BudgetMult * CAST((SELECT t FROM tot) AS DOUBLE)
       |      - ${Exact.sqlSum("alloc1")} AS left1,
       |    SUM(CASE WHEN alloc1 < cap THEN 1 ELSE 0 END) AS n_open
       |  FROM r1),
       |r2 AS (
       |  SELECT source, n_tokens, cap,
       |    CASE WHEN alloc1 < cap
       |         THEN least(alloc1 + left1 / CAST(n_open AS DOUBLE), cap)
       |         ELSE alloc1 END AS alloc
       |  FROM r1, l1),
       |u AS (
       |  SELECT $BudgetMult * CAST((SELECT t FROM tot) AS DOUBLE)
       |      - ${Exact.sqlSum("alloc")} AS unfilled
       |  FROM r2)""".stripMargin
  }

  /** Water-filling token-budget allocation — see the c23 QuerySpec
    * doc-comment.
    */
  def tokenBudgetFill(docs: DataFrame): DataFrame =
    tokenBudgetFillFromCounts(
      docs.select(col("source"), size(split(col("text"), " ")).as("nt"))
        .groupBy("source").agg(sum(col("nt")).cast(LongType).as("n_tokens")))

  /** Water-filling over a precomputed `(source, n_tokens)` frame — the
    * allocation core of c23, factored so p08 can allocate over
    * dedup-effective ([[effectiveTokens]]) counts instead of raw ones.
    */
  def tokenBudgetFillFromCounts(bySrcIn: DataFrame): DataFrame = {
    // exclude zero-token sources before allocating (mirrored in
    // WaterFillCtes' by_src_pos): epochs = alloc / n_tokens would divide
    // by zero — Spark Infinity vs DuckDB NULL, a silent engine divergence
    // the moment a future corpus makes the case reachable (p08 feeds
    // dedup-effective unique_tokens here, which CAN be 0 for a source
    // whose every digest survives elsewhere)
    val bySrc = bySrcIn.filter(col("n_tokens") > 0).localCheckpoint(true)
    val tot = broadcast(bySrc.agg(sum(col("n_tokens")).as("t"),
      count(lit(1)).as("s")))
    val budget = lit(BudgetMult) * col("t").cast(DoubleType)
    val r1 = bySrc.crossJoin(tot)
      .select(col("source"), col("n_tokens"), col("t"),
        (lit(MaxEpochs) * col("n_tokens").cast(DoubleType)).as("cap"),
        least(budget / col("s").cast(DoubleType),
          lit(MaxEpochs) * col("n_tokens").cast(DoubleType)).as("alloc1"))
    val l1 = broadcast(r1.groupBy("t")
      .agg((lit(BudgetMult) * col("t").cast(DoubleType) -
          Exact.dsum(col("alloc1"))).as("left1"),
        sum(when(col("alloc1") < col("cap"), 1L).otherwise(0L)).as("n_open")))
    val r2 = r1.join(l1, "t")
      .select(col("source"), col("n_tokens"), col("cap"),
        when(col("alloc1") < col("cap"),
          least(col("alloc1") + col("left1") / col("n_open").cast(DoubleType),
            col("cap")))
          .otherwise(col("alloc1")).as("alloc"),
        (lit(BudgetMult) * col("t").cast(DoubleType)).as("b"))
    val unfilled = broadcast(r2.groupBy("b")
      .agg((col("b") - Exact.dsum(col("alloc"))).as("unfilled")))
    r2.join(unfilled, "b")
      .select(col("source"), col("n_tokens"), col("cap"), col("alloc"),
        (col("alloc") / col("n_tokens").cast(DoubleType)).as("epochs"),
        col("unfilled"))
      .orderBy("source")
  }

  /** Interpolated bigram LM — see the c22 QuerySpec doc-comment. Docs
    * with fewer than two tokens have no bigram positions and drop out
    * (inner join semantics — same contract both engines). The model is
    * trained on the corpus being scored, so every scored bigram is in
    * the model; the interpolation (not an OOV path) is what spreads the
    * scores.
    */
  def bigramLmScore(docs: DataFrame,
      broadcastVocabMax: Long = ModelBroadcastMax): DataFrame = {
    val ts = split(col("text"), " ")
    // map-side bigram stream: the token array zipped with its own tail —
    // slice(_, 1, n-1) vs slice(_, 2, n-1); a 1-token doc yields empty
    // slices and explode drops it, no filter needed
    val bg = docs.select(col("doc_id"),
        explode(zip_with(
          slice(ts, lit(1), greatest(size(ts) - 1, lit(0))),
          slice(ts, lit(2), greatest(size(ts) - 1, lit(0))),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
    val toks = docs.select(explode(ts).as("tok"))
    val bc = bg.groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
      .localCheckpoint(true)
    val nBigramTypes = bc.count()
    val cw = bc.groupBy("w1").agg(sum(col("cb")).as("cw1"))
    val uc = toks.groupBy("tok").agg(count(lit(1)).as("cu"))
    val st = broadcast(uc.agg(sum(col("cu")).as("n_total"),
      count(lit(1)).as("v")))
    val lm = bc.join(cw, "w1")
      .join(uc.withColumnRenamed("tok", "w2"), "w2")
      .crossJoin(st)
      .select(col("w1"), col("w2"),
        log(lit(BigramLambda) * (col("cb").cast(DoubleType) /
            col("cw1").cast(DoubleType)) +
          lit(BigramLambdaBar) * ((col("cu") + 1).cast(DoubleType) /
            (col("n_total") + col("v")).cast(DoubleType))).as("logp"))
    val joined =
      if (nBigramTypes <= broadcastVocabMax) bg.join(broadcast(lm), Seq("w1", "w2"))
      else bg.join(lm, Seq("w1", "w2"))
    joined
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        ((lit(0.0) - Exact.dsum(col("logp"))) /
          count(lit(1)).cast(DoubleType)).as("avg_nll"))
      .orderBy("doc_id")
  }

  /** Order-parameterized n-gram HASH stream — the d15/GramHashPos
    * discipline applied to the KN family (r17 verdict item 1: past the
    * broadcast gate the old string-keyed form shuffled the corpus-sized
    * gram stream AND the model on five full string columns — the suite's
    * largest avoidable shuffle-byte mass at 100 TB). Every window the
    * order-n KN recursion groups or joins on is emitted as a fused 8-byte
    * FNV hash computed MAP-SIDE from the token array, so no gram string
    * ever enters an exchange (PlanSpec gates it). Columns per gram
    * occurrence (positions are 1-based within the gram):
    *
    *   - `h`            full-gram hash (count-shuffle + score-join key)
    *   - `x{k}` k=2..n  hash of positions n−k+1..n−1 — the order-k
    *                    context (`x{n}` = top-order context 1..n−1)
    *   - `s{k}` k=1..n−1 hash of positions n−k+1..n — the order-k suffix
    *   - `u{k}` k=1..n  INDEPENDENT (variant-1) hash of position n−k+1
    *                    alone — the collision-guard witness family
    *
    * Every column is a contiguous window of the token array, so all 3n−1
    * hashes come from ONE pass of the fused
    * [[graft.functions.KnGramHashes]] kernel (FNV prefix-state sharing:
    * x{k} is the pre-final state of s{k}'s fold), exploded once —
    * map-side, no window function, no self-join, no per-gram struct
    * allocation; docs shorter than n tokens drop at the explode (empty
    * kernel output), same contract as before.
    */
  private[graft] def knNgramHashStream(docs: DataFrame, n: Int): DataFrame = {
    import graft.functions.ghash
    docs.select(col("doc_id"),
        explode(ghash.knGramHashes(split(col("text"), " "), n)).as("z"))
      .select(col("doc_id") +: knHashCols(n).zipWithIndex.map {
        case (nm, i) => col("z").getItem(i).as(nm) }: _*)
  }

  /** Column names of [[knNgramHashStream]] in kernel layout order. */
  private def knHashCols(n: Int): Seq[String] =
    Seq("h") ++ (2 to n).map(k => s"x$k") ++
      (1 to n - 1).map(k => s"s$k") ++ (1 to n).map(k => s"u$k")

  /** [[knNgramHashStream]] with the gram's POSITION in its doc (r19: the
    * compacted c37 completeness path needs a deterministic per-gram
    * identity to reassemble exploded model probes — duplicate grams
    * within a doc must stay distinct rows, and a synthetic id from
    * monotonically_increasing_id would not survive task retries).
    */
  private[graft] def knNgramHashStreamPos(docs: DataFrame,
      n: Int): DataFrame = {
    import graft.functions.ghash
    docs.select(col("doc_id"),
        posexplode(ghash.knGramHashes(split(col("text"), " "), n)))
      .select(col("doc_id") +: col("pos") +:
        knHashCols(n).zipWithIndex.map {
          case (nm, i) => col("col").getItem(i).as(nm) }: _*)
  }

  /** Hash-keyed groupBy with the d15 collision guard generalized. Every
    * `guard` and `carry` column is a pure function of the key's token
    * window, so it is constant within each group unless two DISTINCT
    * token windows collided on the 64-bit key. The `guard` columns get
    * min+max aggregates and a mismatch raise_errors instead of silently
    * merging KN statistics; each call's guard pair COVERS every token
    * position of the key's window (one witness in the independent
    * variant-1 `u` family or a different-window FNV fold), so a silent
    * escape needs two simultaneous 64-bit collisions (~2^-128 — the
    * d15/d12 bar). The `carry` columns ride as plain min() — once the
    * guard proves the group is a single window, the min IS the value
    * (min/max-ing all 3n−2 sub-hashes doubled the agg state for no
    * added coverage; measured on the r18 200k probe). The guard is
    * folded into the FIRST aggregate output so column pruning can never
    * optimize it away.
    */
  private[graft] def knGroupGuarded(df: DataFrame, key: String,
      aggs: Seq[(String, Column)], guard: Seq[String], carry: Seq[String],
      label: String): DataFrame = {
    val aggCols = aggs.map { case (nm, c) => c.as(nm) } ++
      guard.flatMap(c => Seq(min(col(c)).as(s"__lo_$c"),
        max(col(c)).as(s"__hi_$c"))) ++
      carry.map(c => min(col(c)).as(s"__lo_$c"))
    val g = df.groupBy(col(key)).agg(aggCols.head, aggCols.tail: _*)
    val mismatch = guard.map(c => col(s"__lo_$c") =!= col(s"__hi_$c"))
      .reduceOption(_ || _).getOrElse(lit(false))
    val firstAgg = when(mismatch,
      raise_error(lit(s"$label 64-bit gram-hash collision on $key: " +
        "distinct token windows share one fnv1a64 key; KN statistics " +
        "would be silently wrong"))).otherwise(col(aggs.head._1))
      .as(aggs.head._1)
    g.select((col(key) +: (firstAgg +: aggs.tail.map(a => col(a._1)))) ++
      (guard ++ carry).map(c => col(s"__lo_$c").as(c)): _*)
  }

  /** The guarded n-gram TYPE-COUNT table from a hash stream: one count
    * shuffle keyed by the 8-byte full-gram hash, carrying every
    * sub-window hash the model recursion needs (all functions of the
    * gram, so constant per group — the x{n}+s{n-1} guard pair, covering
    * positions 1..n−1 and 2..n, proves it).
    */
  private[graft] def knGramHashCounts(tg: DataFrame, n: Int,
      label: String): DataFrame =
    knGroupGuarded(tg.drop("doc_id"), "h",
      Seq("c" -> count(lit(1))), Seq(s"x$n", s"s${n - 1}"),
      knSubCols(n).filterNot(Set(s"x$n", s"s${n - 1}")), label)

  /** Stored base count table + append batch → merged count table (the
    * c36 merge step in isolation: only the batch tokenizes). The merge
    * is a FULL OUTER equi-join on the 8-byte gram hash, not a
    * union+re-group: the stored base is hash-partitioned on `h` by the
    * very shuffle that built it (bucketed-by-h layout in production),
    * and a join lets Catalyst reuse that partitioning so ONLY the
    * delta's counts move — a union would re-shuffle the whole
    * index-proportional base table (measured 521 MB vs the delta's few
    * MB at the 1M/50k probe). Cross-side collision guard: a base row
    * and delta row meeting on `h` with different covering witnesses is
    * a 64-bit collision between distinct token windows — raise_error
    * folded into the count column so pruning can't drop it (the
    * knGroupGuarded discipline in join form).
    */
  private[graft] def knCountsMerge(base: DataFrame, deltaDocs: DataFrame,
      n: Int): DataFrame = {
    val deltaTc = knGramHashCounts(knNgramHashStream(deltaDocs, n), n,
      "c36 delta")
    val sub = knSubCols(n)
    val guard = Seq(s"x$n", s"s${n - 1}")
    val d = deltaTc.select(col("h").as("__dh") +: col("c").as("__dc") +:
      sub.map(c => col(c).as(s"__d_$c")): _*)
    val both = col("c").isNotNull && col("__dc").isNotNull
    val clash = both && guard.map(g => col(g) =!= col(s"__d_$g"))
      .reduce(_ || _)
    val mergedC = when(clash,
      raise_error(lit("c36 merge 64-bit gram-hash collision on h: " +
        "distinct token windows share one fnv1a64 key; KN statistics " +
        "would be silently wrong")))
      .otherwise(coalesce(col("c"), lit(0L)) +
        coalesce(col("__dc"), lit(0L))).as("c")
    base.join(d, col("h") === col("__dh"), "full_outer")
      .select(coalesce(col("h"), col("__dh")).as("h") +: mergedC +:
        sub.map(c => coalesce(col(c), col(s"__d_$c")).as(c)): _*)
  }

  /** The non-key hash columns of [[knNgramHashStream]] at order n. */
  private[graft] def knSubCols(n: Int): Seq[String] =
    (2 to n).map(k => s"x$k") ++ (1 to n - 1).map(k => s"s$k") ++
      (1 to n).map(k => s"u$k")

  /** The order-n KN statistic tables from a guarded hash-keyed count
    * table — shared by the closed-vocab model ([[knNgramModel]]) and the
    * open-vocab reference-trained model ([[knNgramScoreOpenVocab]]).
    */
  private case class KnTables(ctxTop: DataFrame, conts: Map[Int, DataFrame],
      ctxs: Map[Int, DataFrame], tot: DataFrame)

  private def knNgramTables(tc: DataFrame, n: Int): KnTables = {
    // top-order context (keyed by the 1..n−1 window hash): (SUM of raw
    // counts, distinct continuations). Witnesses u{n} (position 1,
    // variant 1) + x{n-1} (positions 2..n−1) cover the key's window.
    val ctxTop = knGroupGuarded(tc, s"x$n",
      Seq("cn" -> sum(col("c")), "tn" -> count(lit(1))),
      if (n >= 3) Seq(s"u$n", s"x${n - 1}") else Seq(s"u$n"), Nil,
      "knModel ctxTop")
    // continuation tables m_{n-1} .. m_1, each a guarded rollup of the
    // previous (all dictionary-sized; carry = every hash that is a
    // function of the suffix window, which later rollups/joins need);
    // contexts over each. Witness coverage of s{k}'s window n−k+1..n:
    // u{k} (position n−k+1, variant 1) + s{k-1} (n−k+2..n).
    var conts = Map.empty[Int, DataFrame]
    var cur = tc
    for (k <- (n - 1) to 1 by -1) {
      val guard = if (k >= 2) Seq(s"u$k", s"s${k - 1}") else Seq(s"u$k")
      val carry = ((2 to k).map(j => s"x$j") ++
        (1 until k).map(j => s"s$j") ++ (1 to k).map(j => s"u$j"))
        .filterNot(guard.toSet)
      // checkpoint each rollup: every m_k feeds BOTH the score join and
      // the next rollup — dictionary-sized, so the checkpoint is cheap
      // and the plan stays flat instead of re-deriving the whole chain
      // per consumer
      cur = knGroupGuarded(cur, s"s$k",
        Seq(s"m$k" -> count(lit(1))), guard, carry, s"knModel m$k")
        .localCheckpoint(true)
      conts += k -> cur
    }
    val ctxs = (2 to n - 1).map { k =>
      // witness coverage of x{k}'s window n−k+1..n−1: u{k} + x{k-1}
      // (for k=2 the window is the single position n−1, u2 alone covers)
      k -> knGroupGuarded(conts(k), s"x$k",
        Seq(s"n$k" -> sum(col(s"m$k")), s"t$k" -> count(lit(1))),
        if (k >= 3) Seq(s"u$k", s"x${k - 1}") else Seq(s"u$k"), Nil,
        s"knModel ctx$k")
    }.toMap
    val tot = broadcast(conts(2).agg(count(lit(1)).as("nb")))
    KnTables(ctxTop, conts, ctxs, tot)
  }

  /** Interpolated Kneser–Ney at ORDER n from the HASH-KEYED n-gram TYPE
    * table `tc` ([[knGramHashCounts]] output: `h`, sub-window hashes,
    * `c`). At order 3 the interpolation reads
    *
    *   p(w|u,v) = (c(uvw) − D)/c(uv·) + D·N1+(uv·)/c(uv·) · p(w|v)
    *   p(w|v)   = (N1+(·vw) − D)/N1+(·v·) + D·N1+(v·)/N1+(·v·) · p_cont(w)
    *   p_cont(w) = N1+(·w) / N1+(··)
    *
    * and each further order adds one level of the middle line: the top
    * order discounts raw counts, lower orders discount CONTINUATION
    * counts, with absolute discount D = 0.75 (the Chen–Goodman default) at
    * every order. The continuation counts are the KN signature: a word's
    * lower-order mass is how many DISTINCT contexts it follows, not how
    * often it occurs — "Francisco" is frequent but follows only "San", so
    * its backoff mass stays small where a raw-frequency backoff (c22's JM
    * unigram floor) overrates it.
    *
    * Every statistic of every order is a rollup of the ONE n-gram count
    * table, never a second corpus pass, and no gram string exists
    * anywhere in the model build: every group key and join key is one
    * fused 8-byte window hash, every rollup re-guarded by
    * [[knGroupGuarded]]. The continuation chain: m_{n−1} (keyed by
    * `s{n-1}`, the (n−1)-suffix hash) counts distinct first tokens per
    * suffix type; each m_k is COUNT(*) over m_{k+1} grouped one window
    * shorter (`s{k}`); each context table carries (SUM(m_k), COUNT(*))
    * grouped by `x{k}`.
    *
    * Closed vocabulary (trained on the scored corpus): every scored gram
    * has c ≥ 1 and every backoff count ≥ 1, so every term is strictly
    * positive and the tree needs no max(·,0)/OOV path; each order sums to
    * exactly 1 over the continuation vocabulary (CorpusSpec pins it at
    * order 3). The Column tree is the same IEEE expression tree as the
    * oracle SQL — count ratios and the discount are rational until the
    * final ln. `minCount` is the score-time pruning knob (c32b): a
    * top-order type below it loses its max-term and scores through its
    * context's backoff mass alone. Output: (`h`, `p`).
    */
  private[graft] def knNgramModel(tc: DataFrame, n: Int,
      minCount: Int = 1): DataFrame = {
    val D = 0.75
    val KnTables(ctxTop, conts, ctxs, tot) = knNgramTables(tc, n)
    // the interpolated probability tree, built bottom-up with the same
    // association as the oracle SQL's (knScoreCtes, knNgramScoreCtes)
    val p1 = col("m1").cast(DoubleType) / col("nb").cast(DoubleType)
    val pMid = (2 to n - 1).foldLeft(p1) { (pPrev, k) =>
      (col(s"m$k").cast(DoubleType) - lit(D)) / col(s"n$k").cast(DoubleType) +
        lit(D) * col(s"t$k").cast(DoubleType) / col(s"n$k").cast(DoubleType) *
          pPrev
    }
    // top-order pruning (the c32b KenLM knob at order n): a pruned
    // n-gram type loses its max-term and scores through the context's
    // backoff mass alone; every statistic stays the FULL model's. At
    // order 5 this is where pruning actually matters — the 1M probe
    // measured 50M 5-gram types, mostly singletons.
    val maxTerm = (col("c").cast(DoubleType) - lit(D)) /
      col("cn").cast(DoubleType)
    val bo = lit(D) * col("tn").cast(DoubleType) /
      col("cn").cast(DoubleType) * pMid
    val p =
      if (minCount <= 1) maxTerm + bo
      else when(col("c") >= minCount, maxTerm + bo).otherwise(bo)
    // score-join chain: every join a single 8-byte key against a
    // guarded-unique-keyed rollup
    val joined = (2 to n - 1).foldLeft(
      tc.join(ctxTop.select(s"x$n", "cn", "tn"), Seq(s"x$n"))
        .join(conts(n - 1).select(s"s${n - 1}", s"m${n - 1}"),
          Seq(s"s${n - 1}"))) { (df, k) =>
      df.join(conts(k - 1).select(s"s${k - 1}", s"m${k - 1}"),
          Seq(s"s${k - 1}"))
        .join(ctxs(k).select(s"x$k", s"n$k", s"t$k"), Seq(s"x$k"))
    }
    joined.crossJoin(tot).select(col("h"), p.as("p"))
  }

  /** Kneser–Ney LM perplexity scoring at ORDER n, the KenLM-shaped
    * filter CCNet/RedPajama run: each doc is scored by mean NLL per gram
    * position. c32, c32b, c33 and c34 run it at order 3; c35 at KenLM's
    * (and CCNet's shipped filter's) default order 5.
    *
    * Scale shape: map-side n-gram extraction, ONE count shuffle,
    * dictionary-sized rollups ([[knNgramModel]]), and a scoring join
    * size-gated like c13/c22's — broadcast under `broadcastTypesMax` gram
    * types, shuffle hash join past it. Every key is a fused 8-byte window
    * hash ([[knNgramHashStream]]), so past the broadcast gate the
    * corpus-sized scoring join moves 16-byte rows instead of n token
    * strings per gram. The per-doc sum is decimal-exact. Docs shorter
    * than n tokens drop (inner-join semantics, same contract both
    * engines).
    */
  def knNgramScore(docs: DataFrame, n: Int,
      broadcastTypesMax: Long = ModelBroadcastMax, minCount: Int = 1): DataFrame = {
    val tg = knNgramHashStream(docs, n)
    val tc = knGramHashCounts(tg, n, "knNgramScore").localCheckpoint(true)
    knScoreFromCounts(tg, tc, n, broadcastTypesMax, minCount)
  }

  /** The KN scoring tail from an n-gram stream + its TYPE-COUNT table —
    * shared by [[knNgramScore]] (one-shot count) and
    * [[knNgramScoreIncremental]] (base counts merged with an append
    * batch's counts), so the incremental path's equivalence row proves
    * the COUNT MAINTENANCE, with everything downstream literally the
    * same code.
    */
  private[graft] def knScoreFromCounts(tg: DataFrame, tc: DataFrame, n: Int,
      broadcastTypesMax: Long, minCount: Int): DataFrame = {
    val nTypes = tc.count()
    val lm = knNgramModel(tc, n, minCount)
      .select(col("h"), log(col("p")).as("logp"))
    // the corpus-sized side of the scoring join is now (doc_id, h) — 16
    // bytes per gram occurrence instead of five string columns, and past
    // the broadcast gate the shuffle moves 8-byte keys on BOTH sides
    // (r17 item 1's actual payoff; the model side is (h, logp))
    val stream = tg.select(col("doc_id"), col("h"))
    val joined =
      if (nTypes <= broadcastTypesMax) stream.join(broadcast(lm), "h")
      else stream.join(lm, "h")
    joined
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        ((lit(0.0) - Exact.dsum(col("logp"))) /
          count(lit(1)).cast(DoubleType)).as("avg_nll"))
      .orderBy("doc_id")
  }

  /** Incremental n-gram MODEL-COUNT maintenance (the round's third
    * incremental-equivalence member, after p15 zone maps and s20 ANN
    * postings): the stored base count table (docs at or below the
    * ingest cutoff, checkpointed — what a 100 TB store persists)
    * absorbs an append batch's counts through one n-gram-keyed SUM
    * merge; only the BATCH is re-tokenized. Raw n-gram counts are the
    * ONE mergeable statistic the whole KN stack derives from — every
    * continuation/context table is a rollup of `tc` — so maintaining
    * `tc` maintains the model. The oracle is c35's FULL-RECOUNT SQL:
    * a green row proves count-merge ≡ recount (the d10/p15/s20
    * pattern), and the scoring tail is [[knScoreFromCounts]], shared
    * code with c35. Streaming twin: Streams.ngramCounts runs the same
    * count aggregation as a stateful stream.
    *
    * `cutOverride` exists for the spec's edge cutoffs (all-base /
    * all-delta); the contract derives the cutoff from max(doc_id)
    * (bounded driver scalar, p15's pattern incl. the empty guard).
    */
  def knNgramScoreIncremental(docs: DataFrame,
      cutOverride: Option[Long] = None): DataFrame = {
    val n = KnOrder
    val cut = cutOverride.getOrElse(Pipeline.appendCutoff(docs, "doc_id"))
    // NOT checkpointed (re-measured r18 after the fused-kernel rewrite):
    // tg feeds three consumers, but materializing the 3n-1-column hash
    // stream cost more than twice the recompute once the kernel became
    // one cheap map-side pass — the d15 recompute-over-materialize
    // doctrine for fan-out streams; the dictionary-sized tc tables
    // below stay checkpointed
    val tg = knNgramHashStream(docs, n)
    val baseTc = knGramHashCounts(tg.filter(col("doc_id") <= cut), n,
      "c36 base").localCheckpoint(true) // the persisted model counts
    // join-form merge ([[knCountsMerge]]): only the delta's counts need
    // an exchange when the base artifact is stored bucketed by h; the
    // cross-side collision guard rides the join
    val tc = knCountsMerge(baseTc, docs.filter(col("doc_id") > cut), n)
      .localCheckpoint(true)
    knScoreFromCounts(tg, tc, n, ModelBroadcastMax, minCount = 1)
  }

  /** c36's scenario over the PRODUCTION STORAGE LAYOUT (r18 VERDICT item
    * 5): the base count table is persisted BUCKETED BY `h` (the p14
    * pattern — a managed parquet table whose bucket spec Catalyst reads
    * back as a real HashPartitioning) and the merge join consumes it from
    * storage, so the base side enters [[knCountsMerge]]'s full-outer join
    * with NO exchange and NO sort (one file per bucket: the count shuffle
    * that builds the base is already hash-partitioned on `h` with the
    * same partition count, so each write task emits exactly one sorted
    * bucket file) — only the delta's counts move. Everything, including
    * the bucketed write itself, happens inside the query (recomputed from
    * the parquet inputs every run; nothing persists across runs — the
    * table is dropped and rewritten each invocation). Values are
    * identical to [[knNgramScoreIncremental]] by construction (same
    * counts, same merge, same scoring tail; storage cannot change a SUM),
    * so the oracle stays c35's full-recount SQL: a green row proves
    * bucketed-merge ≡ recount the same way c36's proves checkpoint-merge
    * ≡ recount — but this row's plan carries the delta-only-shuffle claim
    * in the driver-timed artifact instead of a probe. Bucket count =
    * session shuffle partitions (env-derived cores — scale-adaptive, not
    * a local constant).
    */
  def knNgramScoreBucketed(s: org.apache.spark.sql.SparkSession,
      docs: DataFrame, table: String): DataFrame = {
    val n = KnOrder
    val cut = Pipeline.appendCutoff(docs, "doc_id")
    val tg = knNgramHashStream(docs, n)
    val baseTc = knGramHashCounts(tg.filter(col("doc_id") <= cut), n,
      "c36b base")
    val buckets = scala.util.Try(
      s.conf.get("spark.sql.shuffle.partitions").toInt).getOrElse(32)
    graft.queries.Pipeline.bucketedWriteBy(s, table, baseTc, buckets, "h")
    val tc = knCountsMerge(s.table(table), docs.filter(col("doc_id") > cut), n)
      .localCheckpoint(true)
    knScoreFromCounts(tg, tc, n, ModelBroadcastMax, minCount = 1)
  }

  /** Takedown propagation into the n-gram model counts (r17 verdict item
    * 3 — the s20b delete pattern applied to c36's artifact): the stored
    * full-corpus count table absorbs the delete list through c36's SUM
    * merge with NEGATED deltas — only the DELETED docs re-tokenize,
    * counts are exactly subtractable (the one statistic the whole KN
    * stack derives from), fully-retracted types (c = 0) drop from the
    * model, and the SURVIVORS re-score against the corrected model
    * through the shared [[knScoreFromCounts]] tail. The oracle is c35's
    * FULL-RECOUNT SQL over the survivors, so a green row proves
    * retraction ≡ rebuild (d10/p15/s20b pattern); CorpusSpec pins
    * delete∘append ≡ rebuild on interleaved batches.
    */
  def knNgramScoreRetract(docs: DataFrame, delPred: Column): DataFrame = {
    val n = KnOrder
    // recompute-over-materialize for the fan-out hash stream (see
    // knNgramScoreIncremental's measured note)
    val tg = knNgramHashStream(docs, n)
    val tcFull = knGramHashCounts(tg, n, "c38 base")
      .localCheckpoint(true) // the persisted full-corpus model counts
    val neg = knGramHashCounts(tg.filter(delPred), n, "c38 delta")
      .withColumn("c", lit(0L) - col("c"))
    // the merge re-guards (a deleted-only gram colliding with a
    // surviving gram on `h` is caught here); types with every
    // occurrence retracted leave the model exactly as a recount would
    val tc = knGroupGuarded(tcFull.unionByName(neg), "h",
      Seq("c" -> sum(col("c"))), Seq(s"x$n", s"s${n - 1}"),
      knSubCols(n).filterNot(Set(s"x$n", s"s${n - 1}")), "c38 merge")
      .filter(col("c") > 0)
      .localCheckpoint(true)
    knScoreFromCounts(tg.filter(!delPred), tc, n, ModelBroadcastMax,
      minCount = 1)
  }

  /** CCNet's ACTUAL deployment configuration (Wenzek et al.; r17 verdict
    * item 2): the order-n KN model is trained on a deterministic CLEAN
    * REFERENCE SLICE (their Wikipedia; here `trainPred`) and scores the
    * WHOLE corpus open-vocab — the one LM row where model-corpus ≠
    * scored-corpus. Unseen n-grams back off through the context chain
    * (KenLM semantics: seen type → its interpolated probability; unseen
    * type under a SEEN context → the context's withheld backoff mass ×
    * the next-lower-order probability; unseen context → backoff weight
    * 1) down to a `<unk>` unigram floor of 1/(nb+1) — strictly below
    * the smallest seen continuation unigram 1/nb, so an OOV token
    * always scores worse than any in-vocabulary token.
    *
    * Per-order probabilities and backoff masses are MATERIALIZED per
    * seen type (pk/bo tables) with the same expression association as
    * [[knNgramModel]]'s inline tree, so on the training slice itself —
    * where every gram is in-vocabulary — scores reproduce the
    * closed-vocab scorer trained on that slice BIT-FOR-BIT (CorpusSpec
    * pins it; the oracle, string-keyed and left-join+COALESCE shaped,
    * independently proves the whole OOV path).
    *
    * Scale shape: the reference corpus is BOUNDED BY DESIGN (CCNet's
    * per-language wiki LMs are a few GB against 100 TB of web text), so
    * the deployment path broadcasts every model table and the corpus
    * stream is scored in ONE map-side pass — zero shuffles of corpus
    * data past the map-side gram hashing; the size-gated shuffle
    * fallback exists for completeness. Every model join key is an
    * 8-byte window hash, and every LEFT join carries the d15-style
    * witness guard: a matched row whose independent witness hashes
    * disagree is a 64-bit collision against out-of-vocabulary data and
    * raise_errors (the closed-vocab family needs no score-join guard
    * because its stream IS the count table's source; here they differ).
    */
  def knNgramScoreOpenVocab(docs: DataFrame, trainPred: Column,
      broadcastTypesMax: Long = ModelBroadcastMax): DataFrame = {
    val n = KnOrder
    val D = 0.75
    val tcT = knGramHashCounts(knNgramHashStream(docs.filter(trainPred), n),
      n, "c37 train").localCheckpoint(true)
    val trainTypes = tcT.count()
    val KnTables(ctxTop, conts, ctxs, tot) = knNgramTables(tcT, n)
    // per-order interpolated continuation probabilities, materialized
    // bottom-up per seen suffix type; witness columns renamed w_* so the
    // scoring join can compare them against the stream's own hashes
    var pks = Map(1 -> conts(1).crossJoin(tot).select(col("s1"),
      col("u1").as("w_pk1_u"),
      (col("m1").cast(DoubleType) / col("nb").cast(DoubleType)).as("pk1")))
    for (k <- 2 to n - 1) {
      val pkv = (col(s"m$k").cast(DoubleType) - lit(D)) /
        col(s"n$k").cast(DoubleType) +
        lit(D) * col(s"t$k").cast(DoubleType) /
          col(s"n$k").cast(DoubleType) * col(s"pk${k - 1}")
      pks += k -> conts(k)
        .join(ctxs(k).select(col(s"x$k"), col(s"n$k"), col(s"t$k")),
          Seq(s"x$k"))
        .join(pks(k - 1).select(col(s"s${k - 1}"), col(s"pk${k - 1}")),
          Seq(s"s${k - 1}"))
        .select(col(s"s$k"), col(s"u$k").as(s"w_pk${k}_u"),
          col(s"s${k - 1}").as(s"w_pk${k}_s"), pkv.as(s"pk$k"))
    }
    // backoff-mass tables per seen context
    val bos = (2 to n - 1).map { k =>
      val wits =
        if (k >= 3) Seq(col(s"u$k").as(s"w_bo${k}_u"),
          col(s"x${k - 1}").as(s"w_bo${k}_x"))
        else Seq(col(s"u$k").as(s"w_bo${k}_u"))
      k -> ctxs(k).select((col(s"x$k") +: wits) :+
        (lit(D) * col(s"t$k").cast(DoubleType) /
          col(s"n$k").cast(DoubleType)).as(s"bo$k"): _*)
    }.toMap
    val boN = ctxTop.select((col(s"x$n") +:
      (if (n >= 3) Seq(col(s"u$n").as("w_bon_u"),
        col(s"x${n - 1}").as("w_bon_x"))
      else Seq(col(s"u$n").as("w_bon_u")))) :+
      (lit(D) * col("tn").cast(DoubleType) /
        col("cn").cast(DoubleType)).as("bon"): _*)
    // top-order probability per seen n-gram type — maxTerm + backoff
    // mass × the materialized (n−1)-order probability, the same tree as
    // the closed model's
    val ptopExpr = (col("c").cast(DoubleType) - lit(D)) /
      col("cn").cast(DoubleType) +
      lit(D) * col("tn").cast(DoubleType) /
        col("cn").cast(DoubleType) * col(s"pk${n - 1}")
    val lmTop = tcT
      .join(ctxTop.select(s"x$n", "cn", "tn"), Seq(s"x$n"))
      .join(pks(n - 1).select(col(s"s${n - 1}"), col(s"pk${n - 1}")),
        Seq(s"s${n - 1}"))
      .select(col("h"), col(s"x$n").as("w_top_x"),
        col(s"s${n - 1}").as("w_top_s"), ptopExpr.as("ptop"))
    // the open-vocab probability tree + collision-guarded doc rollup,
    // shared by both serve paths below. Inputs: one row per gram carrying
    // (doc_id, ptop, bon, pk1..pk{n−1}, bo2..bo{n−1}, nb, __clash) — per
    // order, seen-suffix probability if present, else backoff mass (1
    // when the context is unseen too) × the next order down, bottoming
    // out at the <unk> unigram floor.
    def scoreTail(perGram: DataFrame): DataFrame = {
      val punk = lit(1.0) / (col("nb").cast(DoubleType) + lit(1.0))
      val pd1 = coalesce(col("pk1"), punk)
      val pdTop = (2 to n - 1).foldLeft(pd1) { (prev, k) =>
        coalesce(col(s"pk$k"), coalesce(col(s"bo$k"), lit(1.0)) * prev)
      }
      val p = coalesce(col("ptop"), coalesce(col("bon"), lit(1.0)) * pdTop)
      val pG = when(col("__clash"), raise_error(lit("c37 64-bit " +
        "gram-hash collision between corpus and reference-model windows; " +
        "open-vocab scores would be silently wrong"))).otherwise(p)
      perGram.groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("ptop").isNull, 1L).otherwise(0L)).as("n_oov"),
          ((lit(0.0) - Exact.dsum(log(pG))) /
            count(lit(1)).cast(DoubleType)).as("avg_nll"))
        .orderBy("doc_id")
    }
    if (trainTypes <= broadcastTypesMax) {
      // DEPLOYMENT PATH (the CCNet config — bounded reference model):
      // broadcast left-join chain, one map-side pass over the corpus
      // stream, zero shuffles of corpus data.
      val sAll = knNgramHashStream(docs, n)
      var sc = sAll
        .join(broadcast(lmTop), Seq("h"), "left")
        .join(broadcast(boN), Seq(s"x$n"), "left")
      for (k <- (n - 1) to 2 by -1)
        sc = sc.join(broadcast(pks(k)), Seq(s"s$k"), "left")
          .join(broadcast(bos(k)), Seq(s"x$k"), "left")
      sc = sc.join(broadcast(pks(1)), Seq("s1"), "left").crossJoin(tot)
      // collision guard: any MATCHED model row whose witnesses disagree
      // with the stream's own window hashes is a 64-bit key collision
      val clashes = Seq(
        col("ptop").isNotNull && (col("w_top_x") =!= col(s"x$n") ||
          col("w_top_s") =!= col(s"s${n - 1}")),
        col("bon").isNotNull && (col("w_bon_u") =!= col(s"u$n") ||
          (if (n >= 3) col("w_bon_x") =!= col(s"x${n - 1}") else lit(false))),
        col("pk1").isNotNull && col("w_pk1_u") =!= col("u1")) ++
        (2 to n - 1).map(k =>
          col(s"pk$k").isNotNull && (col(s"w_pk${k}_u") =!= col(s"u$k") ||
            col(s"w_pk${k}_s") =!= col(s"s${k - 1}"))) ++
        (2 to n - 1).map(k =>
          col(s"bo$k").isNotNull && (col(s"w_bo${k}_u") =!= col(s"u$k") ||
            (if (k >= 3) col(s"w_bo${k}_x") =!= col(s"x${k - 1}")
            else lit(false))))
      scoreTail(sc.withColumn("__clash", clashes.reduce(_ || _)))
    } else {
      // COMPLETENESS PATH (model beyond the broadcast gate), r18 VERDICT
      // item 6: the former serve was this same chain WITHOUT broadcast —
      // 2n−1 = 9 sequential shuffled left-joins, each re-exchanging the
      // whole corpus stream (plus every model column joined so far) on a
      // different key. Compacted (guide §3): the 2n−1 model tables union
      // into ONE frame keyed by (kind, key); every gram explodes into its
      // 2n−1 (kind, key, expected-witness) probe rows — ~36 bytes each,
      // far narrower than the 15-hash stream row — ONE left join resolves
      // every probe, and a pivot keyed by the gram's deterministic
      // (doc_id, pos) identity reassembles the model columns. 9 corpus
      // exchanges + 9 joins → 1 probe exchange + 1 join + 1 pivot agg.
      // Values are the chain's exactly: model keys are guarded-unique so
      // each probe matches ≤ 1 row, the per-kind witness clash conditions
      // are identical, and scoreTail computes the same probability tree
      // over the same doubles. The broadcast branch above stays the
      // deployment truth; CorpusSpec pins the two paths equal.
      val longNull = lit(null).cast("long")
      val model = (Seq(
          lmTop.select(lit(1).as("kind"), col("h").as("key"),
            col("ptop").as("v"), col("w_top_x").as("w1"),
            col("w_top_s").as("w2")),
          boN.select(lit(2).as("kind"), col(s"x$n").as("key"),
            col("bon").as("v"), col("w_bon_u").as("w1"),
            (if (n >= 3) col("w_bon_x") else longNull).as("w2"))) ++
        (1 to n - 1).map(k => pks(k).select(lit(10 + k).as("kind"),
          col(s"s$k").as("key"), col(s"pk$k").as("v"),
          col(s"w_pk${k}_u").as("w1"),
          (if (k >= 2) col(s"w_pk${k}_s") else longNull).as("w2"))) ++
        (2 to n - 1).map(k => bos(k).select(lit(20 + k).as("kind"),
          col(s"x$k").as("key"), col(s"bo$k").as("v"),
          col(s"w_bo${k}_u").as("w1"),
          (if (k >= 3) col(s"w_bo${k}_x") else longNull).as("w2"))))
        .reduce(_ unionByName _)
      val sPos = knNgramHashStreamPos(docs, n)
      val probeStructs = Seq(
          struct(lit(1).as("kind"), col("h").as("key"),
            col(s"x$n").as("ew1"), col(s"s${n - 1}").as("ew2")),
          struct(lit(2).as("kind"), col(s"x$n").as("key"),
            col(s"u$n").as("ew1"),
            (if (n >= 3) col(s"x${n - 1}") else longNull).as("ew2"))) ++
        (1 to n - 1).map(k => struct(lit(10 + k).as("kind"),
          col(s"s$k").as("key"), col(s"u$k").as("ew1"),
          (if (k >= 2) col(s"s${k - 1}") else longNull).as("ew2"))) ++
        (2 to n - 1).map(k => struct(lit(20 + k).as("kind"),
          col(s"x$k").as("key"), col(s"u$k").as("ew1"),
          (if (k >= 3) col(s"x${k - 1}") else longNull).as("ew2")))
      val probes = sPos.select(col("doc_id"), col("pos"),
          explode(array(probeStructs: _*)).as("pr"))
        .select(col("doc_id"), col("pos"), col("pr.kind").as("kind"),
          col("pr.key").as("key"), col("pr.ew1").as("ew1"),
          col("pr.ew2").as("ew2"))
      // per-probe clash: matched model row whose witnesses disagree with
      // the stream's expected window hashes (kinds without a second
      // witness carry null on BOTH sides — the coalesce keeps null-safe
      // semantics identical to the chain's per-kind conditions)
      val probeClash = col("v").isNotNull &&
        (col("w1") =!= col("ew1") ||
          coalesce(col("w2") =!= col("ew2"), lit(false)))
      val pivotAggs =
        (Seq(max(when(col("kind") === 1, col("v"))).as("ptop"),
          max(when(col("kind") === 2, col("v"))).as("bon")) ++
        (1 to n - 1).map(k =>
          max(when(col("kind") === 10 + k, col("v"))).as(s"pk$k")) ++
        (2 to n - 1).map(k =>
          max(when(col("kind") === 20 + k, col("v"))).as(s"bo$k"))) :+
        (max(when(probeClash, 1L).otherwise(0L)) === 1L).as("__clash")
      val piv = probes.join(model, Seq("kind", "key"), "left")
        .groupBy(col("doc_id"), col("pos"))
        .agg(pivotAggs.head, pivotAggs.tail: _*)
        .crossJoin(tot)
      scoreTail(piv)
    }
  }

  /** DSIR importance selection — see the c20 QuerySpec doc-comment. The
    * raw and target unigram models share one token-keyed aggregation
    * (raw count + filtered target count per type), so adding the second
    * model costs no extra corpus pass; both smooth over the raw
    * vocabulary so every raw token has a finite ratio.
    */
  def dsirSelect(docs: DataFrame, targetPred: Column, k: Int,
      broadcastVocabMax: Long = ModelBroadcastMax): DataFrame = {
    val toks = docs.select(col("doc_id"), targetPred.as("is_target"),
      explode(split(col("text"), " ")).as("tok"))
    val counts = toks.groupBy("tok")
      .agg(count(lit(1)).as("cr"),
        sum(when(col("is_target"), 1L).otherwise(0L)).as("ct"))
      .localCheckpoint(true)
    val nTypes = counts.count()
    val stats = broadcast(counts.agg(
      sum(col("cr")).as("nr"), sum(col("ct")).as("nt"),
      count(lit(1)).as("v")))
    val lm = counts.crossJoin(stats)
      .select(col("tok"),
        (log((col("ct") + 1).cast(DoubleType) /
            (col("nt") + col("v")).cast(DoubleType)) -
          log((col("cr") + 1).cast(DoubleType) /
            (col("nr") + col("v")).cast(DoubleType))).as("lr"))
    val joined =
      if (nTypes <= broadcastVocabMax) toks.join(broadcast(lm), "tok")
      else toks.join(lm, "tok")
    joined
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), Exact.dsum(col("lr")).as("log_ratio"))
      .orderBy(col("log_ratio").desc, col("doc_id")).limit(k)
  }

  /** Learn `k` BPE merges from `docs(text)` (word-level symbol merging,
    * no end-of-word marker — documented divergence from Sennrich's
    * `</w>`). Returns (step, left, right, pair_count) ordered by step;
    * stops early if no adjacent pair remains (every type fused to one
    * symbol). Ties break (count DESC, left ASC, right ASC).
    */
  def bpeMerges(docs: DataFrame, k: Int): DataFrame = bpeTrain(docs, k)._1

  /** The word-TYPE table (word → corpus count) both tokenizer families
    * train on: |types| ≪ corpus, and pair/piece statistics over it equal
    * the corpus statistics because merges/segmentation never cross word
    * boundaries.
    */
  private def wordTypes(docs: DataFrame): DataFrame =
    docs.select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("cnt"))

  /** `w` split into single-character symbols — BPE's starting state. */
  private def charSyms: Column =
    transform(sequence(lit(1), length(col("w"))),
      i => substring(col("w"), i, lit(1)).cast("string"))

  /** Greedy left-to-right application of merge (l, r) → l+r to a `syms`
    * array: an array fold — a freshly merged symbol can't re-merge with
    * the next token because its TEXT is l+r, which only matches a future
    * (l, r) pair via the new fused symbol, exactly BPE's semantics.
    * CaseWhen branches evaluate lazily, so element_at only runs on a
    * non-empty accumulator (ANSI-safe).
    */
  private def applyMerge(l: String, r: String): Column = {
    val fused = l + r
    aggregate(col("syms"),
      array().cast("array<string>"),
      (acc, s) => when(size(acc) === 0, array(s))
        .when(element_at(acc, -1) === lit(l) && s === lit(r),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(fused))))
        .otherwise(concat(acc, array(s)))).as("syms")
  }

  /** Full BPE training state: the merge table AND the final encoded type
    * table `(w, cnt, syms)` — the tokenizer's dictionary, which [[c18's
    * encode|bpeEncodeStats]] reuses so corpus-wide encoding is a join
    * against |types| rows, never a re-tokenization of every document.
    */
  def bpeTrain(docs: DataFrame, k: Int): (DataFrame, DataFrame) =
    bpeTrainFromTypes(wordTypes(docs), k)

  /** [[bpeTrain]] from a pre-aggregated (w, cnt) type table — so a caller
    * that already tokenized the corpus once (c18's per-source pass) can
    * feed the trainer WITHOUT a second corpus-wide tokenize+shuffle.
    */
  def bpeTrainFromTypes(wordCnts: DataFrame, k: Int): (DataFrame, DataFrame) = {
    val spark = wordCnts.sparkSession
    import spark.implicits._
    // the type table: word → count, words split into single-char symbols
    var types = wordCnts
      .select(col("w"), col("cnt"), charSyms.as("syms"))
      .localCheckpoint(true)
    val merges = Vector.newBuilder[(Long, String, String, Long)]
    var step = 1
    var exhausted = false
    while (step <= k && !exhausted) {
      // weighted adjacent-pair counts: narrow (left, right, cnt) shuffle
      val top = types
        .filter(size(col("syms")) >= 2)
        .select(col("cnt"), explode(transform(
          sequence(lit(0), size(col("syms")) - 2),
          i => struct(element_at(col("syms"), i + 1).as("l"),
            element_at(col("syms"), i + 2).as("r")))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("cnt")).as("pc"))
        .orderBy(col("pc").desc, col("l"), col("r"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val l = top(0).getString(0)
        val r = top(0).getString(1)
        val pc = top(0).getLong(2)
        merges += ((step.toLong, l, r, pc))
        // apply (l, r) → l+r left-to-right greedily: [[applyMerge]]
        types = types.select(col("w"), col("cnt"), applyMerge(l, r))
          .localCheckpoint(true)
        step += 1
      }
    }
    (merges.result().toDF("step", "left", "right", "pair_count")
      .orderBy("step"), types)
  }

  /** Corpus-wide BPE ENCODE with the [[bpeTrain]]'d tokenizer: per-source
    * token statistics under the learned merges. The scale shape is the
    * c17 insight carried to serving: tokenization is a function of the
    * word TYPE, so the corpus pass only counts (source, word) occurrences
    * — one narrow shuffle — and the per-word token/char widths join in
    * from the |types|-row dictionary (word-keyed shuffle join, bounded
    * per-key state; never a per-document re-tokenization, never a
    * broadcast of an unbounded vocabulary — the c13 lesson).
    *
    * Outputs per source: word/token totals, tokens_per_word and
    * chars_per_token (the compression the tokenizer achieves). Integer
    * sums + two exact double divisions — deterministic; no SQL oracle
    * (the dictionary is the trainer's output — same contract as c17),
    * CorpusSpec pins exact parity against the independent reference BPE.
    */
  def bpeEncodeStats(docs: DataFrame, k: Int): DataFrame = {
    // ONE corpus tokenization: the (source, word) counts feed the stats
    // join directly AND collapse (sum over source) into the trainer's
    // type table — r11 shipped two full corpus tokenize+shuffles here;
    // |source x type| rows checkpoint cheaply and everything downstream
    // is dictionary-sized.
    val tw = sourceWordCounts(docs).localCheckpoint(true)
    val types = tw.groupBy("w").agg(sum(col("n")).as("cnt"))
    encodeStatsFrom(tw, bpeTrainFromTypes(types, k)._2)
  }

  /** c18's encode stats under a PINNED literal merge chain instead of a
    * trained one — the driver-legible companion to c18: with the merge
    * table a literal, the whole computation is state-free and the DuckDB
    * oracle can express merge application as sequential `replace()` over
    * a marker alphabet (each symbol — original char or fused piece — is
    * exactly ONE character in the marker representation, so a merge
    * (l, r) is a 2-char pattern and `replace`'s left-to-right
    * non-overlapping scan IS BPE's greedy application order). The Spark
    * side runs the SAME [[applyMerge]] fold and [[encodeStatsFrom]] stats
    * as the trained path, so a green oracle here vouches for the encode
    * machinery that c17/c18 exercise under trained merges.
    */
  def bpeEncodeStatsFixed(
      docs: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    // same single-tokenization shape as bpeEncodeStats
    val tw = sourceWordCounts(docs).localCheckpoint(true)
    // 6 nested selects over |types| rows — shallow plan, no checkpoint
    var types = tw.groupBy("w").agg(sum(col("n")).as("cnt"))
      .select(col("w"), col("cnt"), charSyms.as("syms"))
    merges.foreach { case (l, r) =>
      types = types.select(col("w"), col("cnt"), applyMerge(l, r))
    }
    encodeStatsFrom(tw, types)
  }

  /** c28's engine — the tokenizer-fertility eval table: chars/token and
    * tokens/word PER LANGUAGE under the pinned c18a merge chain — the
    * standard tokenizer-eval table every multilingual training report
    * carries (how well does ONE tokenizer serve EACH language). The
    * synthetic corpus shares a single vocabulary across lang labels, so
    * MORPHOLOGY IS PLANTED (the d12-banner way — identical deterministic
    * expressions on both engines): each language appends its own
    * derivational suffix to every token. de "ung" = 3 symbols the chain
    * never merges (the agglutinative end); fr "re" / es "an" = 2 chars
    * the chain fuses into ONE symbol (morphology the tokenizer has
    * learned); zh "i" = 1 extra symbol; en = bare (the vocabulary the
    * merges were picked from). That gives the fertility table a known
    * partial order, pinned in CorpusSpec: tokens_per_word rises with the
    * suffix's POST-MERGE symbol count (en < zh/es/fr < de) and de's
    * 1-char-per-symbol suffix dilutes chars_per_token below every other
    * language's.
    *
    * Scale shape: c18a's — one corpus tokenize into (lang, word) counts
    * (checkpointed: feeds the type table AND the stats join), the merge
    * fold over the DISTINCT type table (dictionary-sized), one join
    * back, |langs|-row output.
    */
  def tokenizerFertility(docs: DataFrame,
      merges: Seq[(String, String)]): DataFrame = {
    val suf = when(col("lang") === "de", "ung")
      .when(col("lang") === "fr", "re")
      .when(col("lang") === "es", "an")
      .when(col("lang") === "zh", "i")
      .otherwise("")
    val lw = docs
      .select(col("lang"), suf.as("suf"),
        explode(split(col("text"), " ")).as("w0"))
      .filter(length(col("w0")) > 0)
      .select(col("lang"), concat(col("w0"), col("suf")).as("w"))
      .groupBy("lang", "w").agg(count(lit(1)).as("n"))
      .localCheckpoint(true)
    var types = lw.select(col("w")).distinct()
      .select(col("w"), charSyms.as("syms"))
    merges.foreach { case (l, r) =>
      types = types.select(col("w"), applyMerge(l, r))
    }
    val perType = types.select(col("w"),
      size(col("syms")).cast(LongType).as("n_toks"),
      length(col("w")).cast(LongType).as("n_chars"))
    lw.join(perType, "w")
      .groupBy("lang")
      .agg(sum(col("n")).as("n_words"),
        sum(col("n") * col("n_toks")).as("n_tokens"),
        sum(col("n") * col("n_chars")).as("sum_chars"))
      .select(col("lang"), col("n_words"), col("n_tokens"),
        (col("n_tokens").cast(DoubleType) / col("n_words").cast(DoubleType))
          .as("tokens_per_word"),
        (col("sum_chars").cast(DoubleType) / col("n_tokens").cast(DoubleType))
          .as("chars_per_token"))
      .orderBy("lang")
  }

  /** c29's engine — temperature-scaled multilingual sampling weights
    * (Conneau et al. 2020 "Unsupervised Cross-lingual Representation
    * Learning at Scale" §3: q_l = p_l^α / Σ_j p_j^α, the balancing rule
    * every multilingual pretraining mix uses; w_l = q_l / p_l is the
    * up/down-sampling multiplier a sampler applies to language l, and
    * also its expected epoch count under an unchanged token budget).
    *
    * α is exposed at 1/2 and 1/4 (T=2 and T=4) rather than the customary
    * 0.3: p^(1/2) and p^(1/4) are sqrt chains, and IEEE-754 sqrt is
    * correctly rounded in both Spark and DuckDB, so the outputs are
    * bit-identical cross-engine. pow(p, 0.3) routes through libm
    * (exp/ln) and differs in the last ulp between builds — the c05
    * no-log precedent. The Σ p^α normalizers go through the decimal-
    * exact accumulator so they are partitioning-invariant.
    *
    * Scale shape: ONE corpus pass (lang-keyed partial+final agg, |langs|
    * rows of state), checkpointed; everything downstream operates on the
    * |langs|-row frame with 1-row broadcast totals. 100 TB cost = one
    * scan, one narrow shuffle.
    */
  def temperatureMix(docs: DataFrame): DataFrame = {
    val byLang = docs
      .select(col("lang"), size(split(col("text"), " ")).cast(LongType).as("n"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("n_tokens"))
      .localCheckpoint(true)
    val tot = broadcast(byLang.agg(sum(col("n_tokens")).as("tot")))
    val shares = byLang.crossJoin(tot)
      .withColumn("token_share",
        col("n_tokens").cast(DoubleType) / col("tot").cast(DoubleType))
      .withColumn("r_half", sqrt(col("token_share")))
      .withColumn("r_quarter", sqrt(sqrt(col("token_share"))))
      .localCheckpoint(true) // |langs| rows, consumed by norms + output
    val norms = broadcast(shares.agg(
      Exact.dsum(col("r_half")).as("s_half"),
      Exact.dsum(col("r_quarter")).as("s_quarter")))
    shares.crossJoin(norms)
      .select(col("lang"), col("n_docs"), col("n_tokens"), col("token_share"),
        (col("r_half") / col("s_half")).as("q_half"),
        ((col("r_half") / col("s_half")) / col("token_share")).as("w_half"),
        (col("r_quarter") / col("s_quarter")).as("q_quarter"),
        ((col("r_quarter") / col("s_quarter")) / col("token_share"))
          .as("w_quarter"))
      .orderBy("lang")
  }

  /** The per-(source, word) occurrence counts — c18's one corpus-sized
    * tokenize+shuffle, shared by the trained and pinned encode paths.
    */
  private def sourceWordCounts(docs: DataFrame): DataFrame =
    docs.select(col("source"), explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("source", "w").agg(count(lit(1)).as("n"))

  /** The c18a pinned merge chain: chained (later merges consume earlier
    * fused symbols, incl. a fused×fused pair) over the corpus alphabet.
    */
  val FixedMerges: Seq[(String, String)] = Seq(
    ("t", "h"), ("th", "e"), ("a", "n"), ("s", "c"), ("sc", "an"), ("r", "e"))

  /** Oracle fragment mirroring [[FixedMerges]] applied to column `w`:
    * sequential replace over private-use-area marker chars (the corpus
    * alphabet is space + lowercase ASCII — TESTDATA.md — so U+E001.. can
    * never collide with a raw symbol).
    */
  val FixedMergesReplaceSql: String =
    """replace(replace(replace(replace(replace(replace(w,
      |  'th', chr(57345)),
      |  chr(57345)||'e', chr(57346)),
      |  'an', chr(57347)),
      |  'sc', chr(57348)),
      |  chr(57348)||chr(57347), chr(57349)),
      |  're', chr(57350))""".stripMargin

  private def encodeStatsFrom(tw: DataFrame, types: DataFrame): DataFrame = {
    val perType = types.select(col("w"),
      size(col("syms")).cast(LongType).as("n_toks"),
      length(col("w")).cast(LongType).as("n_chars"))
    tw
      .join(perType, "w")
      .groupBy("source")
      .agg(sum(col("n")).as("n_words"),
        sum(col("n") * col("n_toks")).as("n_tokens"),
        sum(col("n") * col("n_chars")).as("sum_chars"))
      .select(col("source"), col("n_words"), col("n_tokens"),
        (col("n_tokens").cast(DoubleType) / col("n_words").cast(DoubleType))
          .as("tokens_per_word"),
        (col("sum_chars").cast(DoubleType) / col("n_tokens").cast(DoubleType))
          .as("chars_per_token"))
      .orderBy("source")
  }

  /** Viterbi segmentation of one word against a piece log-prob table: the
    * max-sum-of-logp split, DP left to right. Tie rule (PINNED — the q44
    * lesson, and part of the c26 contract the independent reference spec
    * replicates): on exactly-equal scores prefer FEWER pieces; still equal
    * → the candidate with the LONGER last piece (smaller split point,
    * visited first) wins. Doubles compare exactly: both sides build logp
    * with StrictMath.log on identical inputs.
    *
    * Coverage: every single corpus char is seeded into the vocabulary and
    * floor-kept through EM, so `back(n)` is always reachable.
    */
  def viterbiSegment(w: String, logp: scala.collection.Map[String, Double],
      maxLen: Int): Seq[String] = {
    val n = w.length
    val best = Array.fill(n + 1)(Double.NegativeInfinity)
    val bestN = new Array[Int](n + 1)
    val back = Array.fill(n + 1)(-1)
    best(0) = 0.0
    var i = 1
    while (i <= n) {
      var j = math.max(0, i - maxLen)
      while (j < i) {
        if (back(j) >= 0 || j == 0) {
          logp.get(w.substring(j, i)) match {
            case Some(lp) =>
              val s = best(j) + lp
              val nn = bestN(j) + 1
              if (back(i) < 0 || s > best(i) || (s == best(i) && nn < bestN(i))) {
                best(i) = s; bestN(i) = nn; back(i) = j
              }
            case None =>
          }
        }
        j += 1
      }
      i += 1
    }
    require(back(n) >= 0 || n == 0, s"unsegmentable word under vocab: $w")
    var out = List.empty[String]
    var k = n
    while (k > 0) { out = w.substring(back(k), k) :: out; k = back(k) }
    out
  }

  /** Unigram-LM tokenizer training (SentencePiece-style; Kudo 2018,
    * "Subword Regularization", §3.2) in its SCALABLE hard-EM form — the
    * second tokenizer family next to BPE (c17), and the same state
    * discipline: all corpus-sized work happens on the word-TYPE table
    * (word → count; |types| ≪ corpus — pair/piece statistics are
    * identical because segmentation never crosses word boundaries).
    *
    * Seed: every substring of length ≤ [[UniMaxPieceLen]] of every type,
    * weighted by corpus count — top [[UniSeedPieces]] multi-char pieces by
    * (weight, then lexicographic piece) ∪ ALL single chars (the coverage
    * guarantee SentencePiece hard-codes). K EM rounds: E-step = Viterbi
    * best-segmentation of each TYPE against the broadcast piece log-prob
    * table ([[viterbiSegment]], map-side, zero shuffle); M-step = one
    * narrow (piece, weighted count) partial+final agg. Pieces that win no
    * Viterbi mass drop out (self-pruning); single chars floor-keep at
    * weight 1 so coverage never breaks. Final vocab: all single chars +
    * top multi-char pieces by (weight desc, piece) up to [[UniVocab]].
    *
    * Driver-side state is the piece table only (≤ UniSeedPieces + |alphabet|
    * rows/round — dictionary-sized, the same size-gated collect class as
    * c17's one-row argmaxes and every broadcast model in the suite).
    * Like c17/c18 this is rows-only at the driver gate (the E-step's
    * chained re-segmentations are state SQL can't carry); CorpusSpec
    * pins the FULL final vocab against an independent single-node
    * reference implementation plus determinism across partitionings.
    */
  /** The c26 seed vocabulary as a standalone query — the driver-legible
    * companion to c26: every substring of length ≤ [[UniMaxPieceLen]] of
    * every word type, weighted by corpus count; ALL single chars (the
    * coverage guarantee) ∪ top [[UniSeedPieces]] multi-char pieces by (weight desc,
    * piece). This is [[unigramTrain]]'s exact EM starting state (same
    * [[seedFrom]] code path), and unlike the chained EM rounds it is
    * plain SQL — a green oracle here vouches for the substring/weight
    * machinery the rows-only c26 builds on.
    */
  def unigramSeed(docs: DataFrame): DataFrame =
    seedFrom(wordTypes(docs)).orderBy("piece")

  /** ONE full Viterbi-EM round from the seed state — c26's first E-step
    * (Viterbi re-segmentation of every word type) plus M-step (piece
    * mass re-estimation with the single-char coverage floor), exactly
    * [[unigramTrain]]'s round-1 semantics, exposed as a standalone
    * query (r17 verdict item 7): the chained-state boundary pushed one
    * genuine EM step past c26a's seed. Output: the post-round weight
    * table (piece, wt) — multi-char pieces that win no Viterbi mass
    * self-prune, mass-less single chars floor-keep at 1.
    */
  def unigramEmRound(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val types = wordTypes(docs).localCheckpoint(true)
    val weights = seedFrom(types)
      .as[(String, Long)].collect().toMap // dictionary-sized
    val total = weights.valuesIterator.sum.toDouble
    val logp = weights.map { case (p, w) => p -> StrictMath.log(w / total) }
    val maxLen = weights.keysIterator.map(_.length).max
    val bc = spark.sparkContext.broadcast((logp, maxLen))
    val counted = types.select(col("w"), col("cnt")).as[(String, Long)]
      .mapPartitions { it =>
        val (lp, ml) = bc.value
        it.flatMap { case (w, cnt) =>
          viterbiSegment(w, lp, ml).iterator.map(p => (p, cnt))
        }
      }
      .toDF("piece", "cnt")
      .groupBy("piece").agg(sum(col("cnt")).as("wt"))
      .localCheckpoint(true)
    val floorChars = weights.keysIterator.filter(_.length == 1)
      .map(Tuple1(_)).toSeq.toDF("piece")
      .join(counted, Seq("piece"), "left_anti")
      .select(col("piece"), lit(1L).as("wt"))
    counted.unionByName(floorChars).orderBy("piece")
  }

  /** The c26b oracle: one EM round in pure DuckDB SQL — the c17b move
    * (unroll data-bounded chained state into a fixed expression chain)
    * applied to segmentation. The Viterbi DP over a word is bounded by
    * word length, so positions 1..[[UniMaxWordLen]] unroll into struct
    * columns c1..cW: each c_j is the max over ≤ [[UniMaxPieceLen]]
    * candidate structs {'b': score, 'nn': -pieces, 'k': last-piece
    * length} — struct comparison is lexicographic, so the max
    * implements EXACTLY [[viterbiSegment]]'s pinned tie rule (score
    * desc, then fewer pieces, then longer last piece). The backtrack
    * is a second unrolled chain walking ks[p] from len(w) down.
    *
    * Each DP/backtrack step is its OWN `AS MATERIALIZED` CTE, never a
    * lateral alias in one SELECT: DuckDB inlines lateral references
    * textually, so a c12 that references c11..c8, each referencing
    * four predecessors, explodes to ~4^W expression nodes — the
    * one-SELECT form of this oracle planned for >20 min / 21 GB at
    * sf0.01, while a 12-step materialized chain of the same arithmetic
    * binds in milliseconds (measured both ways). Materialization also
    * pins each c_j to evaluate once, which is the DP's own contract.
    *
    * Words longer than [[UniMaxWordLen]] would segment to nothing and
    * hash-mismatch loudly (none exist at any shipped SF; max is 10 at
    * sf1). The log-prob model is a DuckDB MAP built from the same seed
    * CTE as c26a's oracle; ln runs on the same double (w/total) in
    * both engines.
    */
  private def unigramEmRoundSql: String = {
    val W = UniMaxWordLen
    def lp(start: Int, k: Int): String =
      s"list_extract(map_extract(m, substr(w, $start, $k)), 1)"
    // struct fields of a prior-CTE column go through struct_extract —
    // the dot form parses as table.column and fails to bind
    val dpCtes = (1 to W).map { j =>
      val cands = (1 to math.min(UniMaxPieceLen, j)).map { k =>
        val prevOk =
          if (j - k == 0) "TRUE" else s"c${j - k} IS NOT NULL"
        val prevB =
          if (j - k == 0) "0.0" else s"struct_extract(c${j - k}, 'b')"
        val prevN =
          if (j - k == 0) "0" else s"struct_extract(c${j - k}, 'nn')"
        s"""CASE WHEN $j <= len(w) AND $prevOk
           |      AND ${lp(j - k + 1, k)} IS NOT NULL
           |      THEN {'b': $prevB + ${lp(j - k + 1, k)},
           |            'nn': $prevN - 1, 'k': $k} END""".stripMargin
      }.mkString(",\n      ")
      val src = if (j == 1) "types" else s"dp${j - 1}"
      s"""dp$j AS MATERIALIZED (
         |  SELECT $src.*, list_aggregate(list_filter([
         |      $cands
         |    ], x -> x IS NOT NULL), 'max') AS c$j
         |  FROM $src, mdl)""".stripMargin
    }.mkString(",\n")
    val ks = (1 to W).map(j => s"struct_extract(c$j, 'k')").mkString(", ")
    val btCtes = (0 until W).map { s =>
      val src = if (s == 0) "dpk" else s"bt${s - 1}"
      val prevP = if (s == 0) "len(w)" else s"p${s - 1} - k${s - 1}"
      s"""bt$s AS MATERIALIZED (
         |  SELECT $src.*, $prevP AS p$s,
         |    CASE WHEN p$s > 0 THEN ks[p$s] END AS k$s,
         |    CASE WHEN p$s > 0 THEN substr(w, p$s - k$s + 1, k$s) END
         |      AS pc$s
         |  FROM $src)""".stripMargin
    }.mkString(",\n")
    val pcs = (0 until W).map(j => s"pc$j").mkString(", ")
    s"""types AS MATERIALIZED (
       |  SELECT w, cnt FROM (
       |    SELECT w, COUNT(*) AS cnt
       |    FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |    WHERE len(w) > 0 GROUP BY w)),
       |st AS (SELECT w, cnt, unnest(range(1, len(w) + 1)) AS i FROM types),
       |pcand AS (
       |  SELECT w, cnt, i,
       |    unnest(range(1, least($UniMaxPieceLen, len(w) - i + 1) + 1)) AS l
       |  FROM st),
       |wts AS (
       |  SELECT substr(w, CAST(i AS INT), CAST(l AS INT)) AS piece,
       |    CAST(SUM(cnt) AS BIGINT) AS wt
       |  FROM pcand GROUP BY 1),
       |seed AS MATERIALIZED (
       |  SELECT piece, wt FROM wts WHERE len(piece) = 1
       |  UNION ALL
       |  SELECT piece, wt FROM (
       |    SELECT piece, wt FROM wts WHERE len(piece) > 1
       |    ORDER BY wt DESC, piece LIMIT $UniSeedPieces)),
       |tot AS (SELECT CAST(SUM(wt) AS DOUBLE) AS total FROM seed),
       |mdl AS MATERIALIZED (
       |  SELECT map(list(piece), list(ln(CAST(wt AS DOUBLE) / total))) AS m
       |  FROM seed, tot),
       |$dpCtes,
       |dpk AS MATERIALIZED (
       |  SELECT w, cnt, [$ks] AS ks FROM dp$W),
       |$btCtes,
       |bt AS (
       |  SELECT w, cnt,
       |    list_filter([$pcs], x -> x IS NOT NULL) AS pieces
       |  FROM bt${W - 1}),
       |seg AS (SELECT unnest(pieces) AS piece, cnt FROM bt),
       |counted AS (
       |  SELECT piece, CAST(SUM(cnt) AS BIGINT) AS wt
       |  FROM seg GROUP BY piece),
       |flchars AS (
       |  SELECT piece, CAST(1 AS BIGINT) AS wt FROM seed
       |  WHERE len(piece) = 1
       |    AND piece NOT IN (SELECT piece FROM counted)),
       |emr AS (
       |  SELECT piece, wt FROM counted
       |  UNION ALL SELECT piece, wt FROM flchars)""".stripMargin
  }

  private def seedFrom(types: DataFrame): DataFrame = {
    val subWeights = types
      .select(col("cnt"), explode(flatten(
        transform(sequence(lit(1), length(col("w"))),
          i => transform(
            sequence(lit(1), least(lit(UniMaxPieceLen), length(col("w")) - i + 1)),
            len => col("w").substr(i, len))))).as("piece"))
      .groupBy("piece").agg(sum(col("cnt")).as("wt"))
    subWeights.filter(length(col("piece")) === 1)
      .unionByName(subWeights.filter(length(col("piece")) > 1)
        .orderBy(col("wt").desc, col("piece")).limit(UniSeedPieces))
  }

  def unigramTrain(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val types = wordTypes(docs)
      .localCheckpoint(true) // scanned once per EM round
    var weights: Map[String, Long] =
      seedFrom(types)
        .as[(String, Long)].collect().toMap // dictionary-sized
    val sc = spark.sparkContext
    for (_ <- 1 to UniRounds) {
      val total = weights.valuesIterator.sum.toDouble
      val logp = weights.map { case (p, w) => p -> StrictMath.log(w / total) }
      val maxLen = weights.keysIterator.map(_.length).max
      val bc = sc.broadcast((logp, maxLen))
      val counted = types.select(col("w"), col("cnt")).as[(String, Long)]
        .mapPartitions { it =>
          val (lp, ml) = bc.value
          it.flatMap { case (w, cnt) =>
            viterbiSegment(w, lp, ml).iterator.map(p => (p, cnt))
          }
        }
        .toDF("piece", "cnt")
        .groupBy("piece").agg(sum(col("cnt")).as("wt"))
        .as[(String, Long)].collect().toMap // ≤ |vocab| rows
      weights = weights.flatMap { case (p, _) =>
        counted.get(p) match {
          case Some(c) => Some(p -> c)
          case None if p.length == 1 => Some(p -> 1L) // coverage floor
          case None => None
        }
      }
    }
    val chars = weights.toSeq.filter(_._1.length == 1)
    val multi = weights.toSeq.filter(_._1.length > 1)
      .sortBy { case (p, w) => (-w, p) }
      .take(math.max(0, UniVocab - chars.size))
    val finalVocab = (chars ++ multi)
      .sortBy { case (p, w) => (-w, p) }
      .zipWithIndex
      .map { case ((p, w), i) => (i + 1L, p, w) }
    finalVocab.toDF("rank", "piece", "weight").orderBy("rank")
  }
}
