package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.QuerySpec
import graft.engine.Tables
import graft.functions.ghash

/** Deduplication operators over `documents`.
  *
  * The synthetic corpus has no duplicates (500/500 distinct), so each query
  * runs over a *planted corpus*: the documents table UNION'd with exact
  * copies (doc_id+2_000_000) and near-copies with the last two tokens dropped
  * (doc_id+1_000_000) of every doc_id % 10 == 0 document. The planting is
  * part of the query (and the oracle) — deterministic at every SF, and it
  * gives each detector a known ground truth that the DedupSpec asserts.
  *
  * Scale design:
  *  - exact dedup: hash-groupBy on md5(text) — one shuffle keyed by digest,
  *    uniform distribution, no skew; this is how you dedup 100 TB.
  *  - MinHash+LSH: per-doc signature (one pass, custom Catalyst expression),
  *    banding → shuffle on (band, bucket) — candidates only, never O(n²).
  *    Exact Jaccard verify runs only on bucket-collision pairs.
  *  - SimHash: 64-bit sketch, 4×16-bit bands (pigeonhole: hamming ≤ 3 ⇒ at
  *    least one band equal), bit_count(xor) verify.
  *  - n-gram Jaccard: exact pairwise within (lang, length-window) blocks —
  *    the oracle-able exact baseline; at scale you'd feed it LSH candidates
  *    instead of blocks (that is exactly d03).
  */
object Dedup {

  // The word-3-gram MinHash/LSH contract of d03/d08/d10/d11/d20, their sf1
  // slices and the streaming ingest (Streams.lshDedupIngest), read by the
  // engines and the oracle SQL. d07 and v07 band the same signature 16 ways.
  private[graft] val MinHashK = 32 // signature permutations
  private[graft] val MinHashBands = 8 // bands of MinHashK / MinHashBands rows
  private[graft] val MinHashCap = 100 // hot-bucket guard: larger dropped whole
  private[graft] val JaccardMin = 0.3 // exact-Jaccard verify (also d05)
  private[graft] val ParaWidth = 25 // d22's tokens per paragraph segment

  /** Deterministic synthetic URL per doc — the d13/c19 fixture: four
    * variants of scheme / WWW / default-port / tracking-param / fragment
    * noise over doc_id, 50 hosts × 20 pages. Shared between the d13
    * URL-dedup and the c19 domain-stats contract queries so the two
    * oracles stay in lockstep.
    */
  private[graft] def syntheticUrl: Column = {
    val a = (col("doc_id") % 50).cast("string")
    val b = (col("doc_id") % 20).cast("string")
    val v = col("doc_id") % 4
    when(v === 0,
        concat(lit("https://site"), a, lit(".example/page"), b))
      .when(v === 1,
        concat(lit("HTTPS://WWW.SITE"), a, lit(".EXAMPLE/page"), b, lit("/")))
      .when(v === 2,
        concat(lit("https://site"), a, lit(".example:443/page"), b,
          lit("?utm_source=feed&utm_campaign=x")))
      .otherwise(
        concat(lit("http://site"), a, lit(".example/page"), b, lit("#top")))
  }

  /** URL canonicalization (lowercase, strip fragment/query/default
    * port/WWW/trailing slash, force https) — lower/regexp steps in the
    * Java∩RE2 dialect so Spark and DuckDB agree byte-for-byte.
    */
  private[graft] def canonicalUrl(url: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(
              regexp_replace(lower(url), "#.*$", ""),
              "\\?.*$", ""),
            "^(https?://[^/]*):443/", "$1/"),
          "^(https?)://www\\.", "$1://"),
        "^http://", "https://"),
      "/$", "")

  /** DuckDB CTEs `planted` (doc_id, url) and `canon` (doc_id,
    * canonical_url) — the oracle text of [[syntheticUrl]] ∘
    * [[canonicalUrl]] over `documents`.
    */
  private[queries] val duckUrlCanonCtes: String =
    """planted AS (
      |  SELECT doc_id,
      |    CASE CAST(doc_id % 4 AS INT)
      |      WHEN 0 THEN 'https://site' || CAST(doc_id % 50 AS VARCHAR)
      |        || '.example/page' || CAST(doc_id % 20 AS VARCHAR)
      |      WHEN 1 THEN 'HTTPS://WWW.SITE' || CAST(doc_id % 50 AS VARCHAR)
      |        || '.EXAMPLE/page' || CAST(doc_id % 20 AS VARCHAR) || '/'
      |      WHEN 2 THEN 'https://site' || CAST(doc_id % 50 AS VARCHAR)
      |        || '.example:443/page' || CAST(doc_id % 20 AS VARCHAR)
      |        || '?utm_source=feed&utm_campaign=x'
      |      ELSE 'http://site' || CAST(doc_id % 50 AS VARCHAR)
      |        || '.example/page' || CAST(doc_id % 20 AS VARCHAR) || '#top'
      |    END AS url
      |  FROM documents),
      |canon AS (
      |  SELECT doc_id,
      |    regexp_replace(
      |      regexp_replace(
      |        regexp_replace(
      |          regexp_replace(
      |            regexp_replace(
      |              regexp_replace(lower(url), '#.*$', ''),
      |              '\?.*$', ''),
      |            '^(https?://[^/]*):443/', '\1/'),
      |          '^(https?)://www\.', '\1://'),
      |        '^http://', 'https://'),
      |      '/$', '') AS canonical_url
      |  FROM planted)""".stripMargin

  /** documents ∪ exact dups (+2M) ∪ near dups with last 2 tokens dropped
    * (+1M) — as ONE scan: the naive 3-branch union re-reads the documents
    * table three times (every planted-family query paid 3 text scans);
    * here each row explodes into itself plus, for every 10th doc, its two
    * planted variants. Identical rows, one pass.
    */
  def plantedCorpus(s: SparkSession, d: String): DataFrame = {
    val docs = Tables(s, d, "documents").select(col("doc_id"), col("text"), col("lang"))
    val toks = split(col("text"), " ")
    val nearText = concat_ws(" ", slice(toks, lit(1), size(toks) - 2))
    val self = struct(col("doc_id"), col("text"), col("lang"))
    val exact = struct((col("doc_id") + 2000000L).as("doc_id"),
      col("text"), col("lang"))
    val near = struct((col("doc_id") + 1000000L).as("doc_id"),
      nearText.as("text"), col("lang"))
    docs
      .select(explode(when(col("doc_id") % 10 === 0,
        array(self, exact, near)).otherwise(array(self))).as("r"))
      .select(col("r.doc_id").as("doc_id"), col("r.text").as("text"),
        col("r.lang").as("lang"))
  }

  /** Shared oracle CTE mirroring plantedCorpus. */
  private val corpusCte =
    """WITH corpus AS (
      |  SELECT doc_id, text, lang FROM documents
      |  UNION ALL
      |  SELECT doc_id + 2000000, text, lang FROM documents WHERE doc_id % 10 = 0
      |  UNION ALL
      |  SELECT doc_id + 1000000,
      |         array_to_string(l[1:len(l)-2], ' '), lang
      |  FROM (SELECT doc_id, string_split(text, ' ') AS l, lang FROM documents)
      |  WHERE doc_id % 10 = 0
      |)""".stripMargin

  /** Deterministic 5% corpus slice for sf1-scale oracle verification (the
    * r11 verdict item): doc_id % 20 = 0. The planted offsets (+1M, +2M)
    * are ≡ 0 mod 20, so each planted dup family {d, d+1M, d+2M} survives
    * or drops TOGETHER — the slice preserves the full dup structure the
    * family's queries exist to find.
    */
  private def slicedPlanted(s: SparkSession, d: String): DataFrame =
    plantedCorpus(s, d).filter(col("doc_id") % 20 === 0)

  private val slicedCorpusCte: String =
    corpusCte.replace("WITH corpus AS (", "WITH corpus0 AS (") +
      ",\ncorpus AS (SELECT * FROM corpus0 WHERE doc_id % 20 = 0)"

  /** d05's oracle over a pluggable corpus CTE (shared with the sf1-slice
    * verification row v05).
    */
  /** r13 shape: the straight blocked join produces ~96M candidate pairs at
    * sf1, each paying a string-list list_intersect — DuckDB walls past any
    * cap. Equivalent inverted-index form: join doc-gram rows on (gram,
    * lang) under the same blocking predicates and COUNT shared grams per
    * pair (sh is distinct per doc, so COUNT(*) IS the intersection size),
    * then derive Jaccard from the counts. Identical output: jac >= 0.3
    * implies at least one shared gram, so pairs the gram join cannot see
    * were never emitted by the blocked form either. The join's row volume
    * is sum over grams of docs_per_gram^2 (~13M at sf1), not candidates x
    * list work.
    */
  private def d05OracleSql(corpusSql: String): String =
    s"""$corpusSql,
       |tokd AS (
       |  SELECT doc_id, lang, length(text) AS n_ch,
       |    length(text) // 64 AS bk, string_split(text, ' ') AS tk
       |  FROM corpus),
       |shingled AS MATERIALIZED (
       |  SELECT doc_id, lang, n_ch, bk, $shingleSql AS sh
       |  FROM tokd),
       |docel AS (
       |  SELECT doc_id, lang, n_ch, bk, unnest(sh) AS gram FROM shingled),
       |inter AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS i
       |  FROM docel a JOIN docel b
       |    ON a.gram = b.gram AND a.lang = b.lang
       |   AND b.bk BETWEEN a.bk - 1 AND a.bk + 1
       |   AND a.doc_id < b.doc_id
       |   AND abs(a.n_ch - b.n_ch) <= 60
       |  GROUP BY a.doc_id, b.doc_id),
       |sz AS (SELECT doc_id, len(sh) AS n FROM shingled)
       |SELECT a_id, b_id, jac FROM (
       |  SELECT a_id, b_id,
       |    CAST(i AS DOUBLE) / (CAST(sa.n AS DOUBLE) + CAST(sb.n AS DOUBLE)
       |      - CAST(i AS DOUBLE)) AS jac
       |  FROM inter
       |  JOIN sz sa ON sa.doc_id = a_id
       |  JOIN sz sb ON sb.doc_id = b_id) _j
       |WHERE jac >= $JaccardMin
       |ORDER BY a_id, b_id""".stripMargin

  private def toks(c: Column): Column = split(c, " ")

  /** DuckDB text of [[shingles]] (word 3-grams, distinct) for column `text`
    * — shared by the d05 oracle and the LSH-pipeline oracles below.
    */
  /** Over a pre-tokenized list column `tk` (tokenize ONCE per doc — the
    * old per-gram-index re-split of `text` was O(words²) per doc and
    * dominated the sf1 oracle replicas).
    */
  private val shingleSql =
    """list_distinct(list_transform(
      |      range(1, CASE WHEN len(tk) - 2 > 1
      |                    THEN len(tk) - 2
      |                    ELSE 1 END + 1),
      |      i -> array_to_string(tk[i:i+2], ' ')))""".stripMargin

  /** DuckDB text of [[shingleHashes]]: the same distinct 3-gram set as
    * [[shingleSql]] but carried as FNV-1a-64 hashes — the hash is a
    * bijection between the two representations for every practical corpus
    * (a 64-bit collision would fold identically on both engines anyway,
    * since both apply the SAME hash).
    */
  private val hashedShingleSql = {
    import graft.engine.DuckHash
    s"list_distinct(list_transform($shingleSql, s -> ${DuckHash.fnv("s")}))"
  }

  private val jacSql =
    """CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
      |    (CAST(len(sa.sh) AS DOUBLE) + CAST(len(sb.sh) AS DOUBLE)
      |     - CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE))""".stripMargin

  /** Full DuckDB oracle of [[lshJaccardPairs]]: the ENTIRE LSH pipeline —
    * shingling, k-permutation MinHash signatures, banded bucket hashing,
    * hot-bucket guard, candidate self-join, exact-Jaccard verify — rebuilt
    * in SQL on top of engine/DuckHash's bit-exact hash replicas. Heavy
    * stages are MATERIALIZED so the self-join does not recompute signatures.
    */
  /** `newPred`: when set, a SQL predicate over a bare `doc_id` that marks
    * INCOMING docs; candidate pairs are then restricted to those touching
    * at least one — the oracle of [[incrementalLshPairs]] (the d10 spec's
    * incoming set is exactly the id range the predicate names).
    * `corpusSql`: the WITH-opening corpus CTE (defaults to the planted
    * corpus); `finalSql`: replaces the trailing SELECT when the consumer
    * wants a different projection over `cand`/`shingled` (d20).
    */
  private def lshOracleSql(bands: Int,
      newPred: Option[String] = None,
      corpusSql: String = corpusCte,
      finalSql: Option[String] = None): String = {
    import graft.engine.DuckHash
    val rows = MinHashK / bands
    val bucketStr =
      s"array_to_string(list_transform(sig[band*$rows+1 : band*$rows+$rows]," +
        " x -> CAST(x AS VARCHAR)), ',')"
    val incrFilter = newPred.map(p =>
      s"\n    AND ((${p.replace("doc_id", "a.doc_id")}) OR (${p.replace("doc_id", "b.doc_id")}))")
      .getOrElse("")
    // Stage shape (r13 rewrite — the sf1 cap-skips were NOT algorithmic,
    // they were replica-SQL constant factors): tokenize once per doc (the
    // old text re-split per gram index was O(words²) per doc), collect the
    // per-element signature lists per doc and take element-wise list_min
    // (the old per-(doc,i) MIN aggregate exploded docel 32× before the
    // group-by), and hash each band string from a materialized column (the
    // old inline form rebuilt the string per CHARACTER inside fnv's
    // list_reduce and re-ran the whole fnv 3× inside signed()'s CASE).
    s"""$corpusSql,
       |tokd AS (SELECT doc_id, string_split(text, ' ') AS tk FROM corpus),
       |shingled AS MATERIALIZED (
       |  SELECT doc_id, $hashedShingleSql AS sh FROM tokd),
       |el AS (SELECT DISTINCT unnest(sh) AS v FROM shingled),
       |elsig AS MATERIALIZED (
       |  SELECT v, ${DuckHash.sigK("[v]", MinHashK)} AS pv FROM el),
       |docel AS (SELECT doc_id, unnest(sh) AS v FROM shingled),
       |docpv AS (
       |  SELECT d.doc_id, list(s.pv) AS pvs
       |  FROM docel d JOIN elsig s USING (v) GROUP BY d.doc_id),
       |sigs AS MATERIALIZED (
       |  SELECT doc_id, list_transform(range(1, ${MinHashK + 1}),
       |    i -> list_min(list_transform(pvs, p -> p[i]))) AS sig
       |  FROM docpv),
       |bandstr AS (
       |  SELECT doc_id, band, $bucketStr AS bs
       |  FROM sigs, (SELECT unnest(range(0, $bands)) AS band)),
       |buckets AS MATERIALIZED (
       |  SELECT doc_id, band, ${DuckHash.signed("ub")} AS bucket
       |  FROM (SELECT doc_id, band, ${DuckHash.fnv("bs")} AS ub
       |        FROM bandstr) _h),
       |hot AS (
       |  SELECT band, bucket FROM buckets GROUP BY band, bucket
       |  HAVING COUNT(*) > $MinHashCap),
       |pruned AS MATERIALIZED (
       |  SELECT b.* FROM buckets b ANTI JOIN hot h USING (band, bucket)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM pruned a JOIN pruned b USING (band, bucket)
       |  WHERE a.doc_id < b.doc_id$incrFilter)
       |${finalSql.getOrElse(
      s"""SELECT a_id, b_id, $jacSql AS jac
         |FROM cand
         |JOIN shingled sa ON sa.doc_id = a_id
         |JOIN shingled sb ON sb.doc_id = b_id
         |WHERE $jacSql >= $JaccardMin
         |ORDER BY a_id, b_id""".stripMargin)}""".stripMargin
  }

  /** Word 3-gram shingles, distinct — the readable string form (d05, the
    * exact small-corpus baseline).
    */
  def shingles(text: Column): Column = {
    val t = toks(text)
    array_distinct(
      transform(
        sequence(lit(1), greatest(size(t) - 2, lit(1))),
        i => concat_ws(" ", slice(t, i, lit(3)))))
  }

  /** Word 3-gram shingles as distinct 64-bit FNV hashes — the scale form
    * used by the LSH pipelines (d03/d07/d08): same sets as [[shingles]]
    * under the hash bijection, but one fused pass with no shingle strings
    * materialized, an 8-byte element for every downstream shuffle, and a
    * long-typed (not string-typed) set intersection in the verify step.
    */
  def shingleHashes(text: Column): Column = ghash.shingleHash(toks(text), 3)

  /** d05's engine: exact n-gram Jaccard pairs, blocked by
    * (lang, |Δchars| ≤ 60) as an EQUI-join on (lang, n_ch div 64) with a
    * ±1-bucket probe — see the d05 QuerySpec comment for why the bucket
    * join is pair-set-identical to the lang-only join (|Δch| ≤ 60 < 64
    * forces buckets within ±1, and each qualifying pair meets exactly one
    * probe offset). `bucketed = false` is the TEST-ONLY quadratic
    * baseline: DedupSpec pins pair-set identity of the two paths on a
    * fixture with cross-bucket pairs AND on the real planted corpus,
    * because the sf1 DuckDB replica is a 240 s cap-skip
    * (CORRECTNESS_sf1.json) — at that scale the spec, not the oracle
    * gate, carries the bucketing claim.
    */
  def ngramJaccardPairs(corpus: DataFrame,
      bucketed: Boolean = true): DataFrame = {
    // shingle once per doc before the pair join (see d03 note); eager
    // localCheckpoint (house pattern, see d04 note): reused by both
    // sides of the blocked self-join
    val c = corpus.select(col("lang"), col("doc_id"),
      length(col("text")).as("n_ch"), shingles(col("text")).as("sh"))
      .localCheckpoint(true)
    val a0 = c.select(col("lang"), col("doc_id").as("a_id"),
      col("sh").as("a_sh"), col("n_ch").as("a_n"))
    val a =
      if (!bucketed) a0
      else a0.withColumn("off", explode(array(lit(-1), lit(0), lit(1))))
        .select(col("lang"), col("a_id"), col("a_sh"), col("a_n"),
          (expr("a_n div 64") + col("off")).as("bk"))
    val b0 = c.select(col("lang"), col("doc_id").as("b_id"),
      col("sh").as("b_sh"), col("n_ch").as("b_n"))
    val b = if (!bucketed) b0 else b0.withColumn("bk", expr("b_n div 64"))
    a.join(b, if (bucketed) Seq("lang", "bk") else Seq("lang"))
      .filter(col("a_id") < col("b_id") &&
        abs(col("a_n") - col("b_n")) <= 60)
      .withColumn("jac", jaccard(col("a_sh"), col("b_sh")))
      .filter(col("jac") >= JaccardMin)
      .select(col("a_id"), col("b_id"), col("jac"))
      .orderBy("a_id", "b_id")
  }

  /** Exact Jaccard, generic arrays (d05's unsorted string shingles). */
  private def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast(DoubleType)
    inter / (size(a).cast(DoubleType) + size(b).cast(DoubleType) - inter)
  }

  /** Exact Jaccard over SORTED distinct hash arrays (the ShingleHash
    * contract): the intersection count is the fused two-pointer kernel
    * ([[graft.functions.IntersectCountSorted]]) — same integer count as
    * `size(array_intersect(a, b))` without the per-pair hash-set build,
    * and this runs once per candidate pair, the verify stage's inner loop.
    */
  private def jaccardHashed(a: Column, b: Column): Column = {
    val inter = graft.functions.gvec.intersectCountSorted(a, b).cast(DoubleType)
    inter / (size(a).cast(DoubleType) + size(b).cast(DoubleType) - inter)
  }

  /** All (a, b) pairs with a < b from a sorted-ascending id array — the
    * within-bucket candidate pairs, generated row-locally (no self-join).
    */
  private def pairsOf(ids: Column): Column =
    flatten(transform(ids, (a, i) =>
      transform(slice(ids, i + 2, size(ids)), b => array(a, b))))

  /** Bucket id-lists with the hot-bucket guard folded in. Real corpora
    * produce degenerate LSH buckets (boilerplate/templated docs); a bucket
    * of n docs contributes n² candidate pairs, so one mega-bucket turns
    * candidate generation quadratic. One bounded aggregation per bucket key
    * ([[graft.functions.BoundedCollect.minK]], ≤ cap+1 slots of state per
    * key at every point of the partial/final lifecycle) collects the
    * smallest cap+1 ids: a bucket yielding cap+1 ids provably had > cap
    * members → dropped whole (its members still pair through their other,
    * non-degenerate bands, and true mass duplicates are already caught by
    * exact dedup d01 upstream); a kept bucket's list is provably complete.
    * Versus the groupBy-count + broadcast-anti-join + self-join shape this
    * replaces: one shuffle instead of three reads of the buckets frame, and
    * per-key memory stays O(cap) even on a poisoned key.
    */
  def bucketCandidates(buckets: DataFrame, keys: Seq[String], cap: Int): DataFrame =
    buckets
      .groupBy(keys.map(col): _*)
      .agg(graft.functions.BoundedCollect.minK(col("doc_id"), cap + 1).as("ids"))
      .filter(size(col("ids")).between(2, cap))
      .select(explode(pairsOf(col("ids"))).as("p"))
      .select(element_at(col("p"), 1).as("a_id"), element_at(col("p"), 2).as("b_id"))
      .distinct()

  /** Incremental variant of [[bucketCandidates]]: `buckets` additionally
    * carries an `is_new` boolean; emitted pairs are restricted to those
    * touching at least one new doc, so the (expensive) shingle re-attach +
    * exact-Jaccard verification downstream never re-pairs the existing
    * corpus against itself — at 100 TB that makes a daily ingest's dedup
    * cost proportional to the INGEST, not the corpus. The flag rides the
    * low bit of a tagged id (doc_id·2 + is_new): doc_ids are unique, so
    * tagged-id order equals doc_id order and the bounded guard (min cap+1
    * ids per bucket, overfull buckets dropped whole) keeps exactly d03's
    * semantics. Old×old pairs are discarded row-locally inside the explode,
    * before anything shuffles.
    */
  def bucketCandidatesIncremental(buckets: DataFrame, keys: Seq[String],
      cap: Int): DataFrame =
    buckets
      .withColumn("tid", col("doc_id") * 2 + col("is_new").cast("long"))
      .groupBy(keys.map(col): _*)
      .agg(graft.functions.BoundedCollect.minK(col("tid"), cap + 1).as("ids"))
      .filter(size(col("ids")).between(2, cap))
      .select(explode(pairsOf(col("ids"))).as("p"))
      .select(element_at(col("p"), 1).as("ta"), element_at(col("p"), 2).as("tb"))
      .filter(pmod(col("ta"), lit(2)) === 1 || pmod(col("tb"), lit(2)) === 1)
      .select(expr("ta div 2").as("a_id"), expr("tb div 2").as("b_id"))
      .distinct()

  /** Incremental MinHash+LSH near-dup: [[lshJaccardPairs]] over
    * existing ∪ incoming, but candidate pairs (and everything after them)
    * restricted to pairs involving an incoming doc via
    * [[bucketCandidatesIncremental]]. The batch-vs-incremental contract:
    * output = lshJaccardPairs(existing ∪ incoming) filtered to
    * new-touching pairs (DedupSpec asserts the set equality against d03).
    */
  def incrementalLshPairs(existing: DataFrame, incoming: DataFrame): DataFrame = {
    val rows = MinHashK / MinHashBands
    val corpus = existing.select(col("doc_id"), col("text"))
      .withColumn("is_new", lit(false))
      .unionByName(incoming.select(col("doc_id"), col("text"))
        .withColumn("is_new", lit(true)))
    val shingled = corpus
      .select(col("doc_id"), col("is_new"), shingleHashes(col("text")).as("sh"))
      .localCheckpoint(true)
    val buckets = shingled
      .withColumn("sig", ghash.minhashSig(col("sh"), MinHashK))
      .select(
        col("doc_id"), col("is_new"),
        posexplode(
          transform(sequence(lit(0), lit(MinHashBands - 1)),
            b => ghash.fnv1a64(concat_ws(",",
              transform(slice(col("sig"), b * rows + 1, lit(rows)), x => x.cast("string")))))
        ).as(Seq("band", "bucket")))
    val candidates = bucketCandidatesIncremental(buckets, Seq("band", "bucket"),
      MinHashCap)
    candidates
      .join(shingled.select(col("doc_id").as("a_id"), col("sh").as("a_sh")), "a_id")
      .join(shingled.select(col("doc_id").as("b_id"), col("sh").as("b_sh")), "b_id")
      .withColumn("jac", jaccardHashed(col("a_sh"), col("b_sh")))
      .filter(col("jac") >= JaccardMin)
      .select(col("a_id"), col("b_id"), col("jac"))
      .orderBy("a_id", "b_id")
  }

  /** MinHash+LSH near-dup pairs with exact-Jaccard verification — the d03/d07
    * engine, parameterized so specs can plant mega-buckets and vary banding.
    * k permutations, `bands` bands of k/bands rows, buckets above `cap`
    * dropped (hot-bucket guard), candidates verified at `threshold`.
    */
  def lshJaccardPairs(corpus: DataFrame, k: Int, bands: Int, cap: Int,
      threshold: Double): DataFrame = {
    val rows = k / bands
    // shingle ONCE per doc (not per candidate pair) — at scale the candidate
    // set is much larger than the corpus, so per-pair re-shingling would
    // dominate the cost. Eager LOCAL CHECKPOINT, not persist: the three
    // downstream branches (buckets, both re-attach joins) are independent
    // stages that AQE submits CONCURRENTLY, and a lazily-persisted frame is
    // computed redundantly by every racing stage before the cache fills
    // (measured 3× shingle work at sf1); the checkpoint materializes the
    // blocks exactly once, up front, and its storage is released by the
    // ContextCleaner when the frame is unreferenced instead of leaking a
    // cache entry per call. At cluster scale this is the "write signatures
    // to a temp table" step.
    val shingled = corpus
      .select(col("doc_id"), shingleHashes(col("text")).as("sh"))
      .localCheckpoint(true)
    // Candidate generation moves ONLY (band, bucket, doc_id) through the
    // shuffle — the heavy shingle arrays never enter candidate generation or
    // the pair dedup. They are re-attached once per confirmed candidate.
    val buckets = shingled
      .withColumn("sig", ghash.minhashSig(col("sh"), k))
      .select(
        col("doc_id"),
        posexplode(
          transform(sequence(lit(0), lit(bands - 1)),
            b => ghash.fnv1a64(concat_ws(",",
              transform(slice(col("sig"), b * rows + 1, lit(rows)), x => x.cast("string")))))
        ).as(Seq("band", "bucket")))
    val candidates = bucketCandidates(buckets, Seq("band", "bucket"), cap)
    candidates
      .join(shingled.select(col("doc_id").as("a_id"), col("sh").as("a_sh")), "a_id")
      .join(shingled.select(col("doc_id").as("b_id"), col("sh").as("b_sh")), "b_id")
      .withColumn("jac", jaccardHashed(col("a_sh"), col("b_sh")))
      .filter(col("jac") >= threshold)
      .select(col("a_id"), col("b_id"), col("jac"))
      .orderBy("a_id", "b_id")
  }

  /** Connected components over an undirected pair list (a_id, b_id) by
    * alternating large-star / small-star contraction (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14) — O(log n)
    * rounds instead of the O(diameter) min-label propagation this replaces.
    * Edges are kept canonical (u > v, no self-loops, deduped); one round is:
    *
    *  - LARGE-STAR: every node x attaches each strictly LARGER neighbor to
    *    m(x) = min of x's closed neighborhood. One groupBy(x) min + one
    *    join, both shuffling 8-byte vertex ids; edge count never grows
    *    (each canonical edge maps to exactly one new edge).
    *  - SMALL-STAR: every node x attaches its SMALLER neighbors and itself
    *    to their minimum. Same shuffle shape; adds at most one (x, m) edge
    *    per node.
    *
    * Both operations provably preserve the component partition (SoCC'14
    * Lemmas 1-2: new edges only connect vertices already in one component,
    * and connectivity is never lost). The fixpoint is a STAR FOREST whose
    * centers are the component minima — so the final labels fall straight
    * out of the edge list: leaves label with their center, centers with
    * themselves.
    *
    * Convergence probe (sound, like the sum-probe it replaces — termination
    * implies a correct labeling of the *current* graph): the edge set is a
    * star forest iff no vertex appears as both a leaf (u side) and a center
    * (v side) AND no leaf points at two centers. Both conditions reduce to
    * one union + groupBy over the edge list with two counters per vertex
    * (`deg` = appearances, `outdeg` = appearances as leaf): a violation is
    * `outdeg > 1` (leaf with two centers — more merging needed) or
    * `outdeg >= 1 && deg > outdeg` (center that is itself a leaf — a chain).
    * Zero violations ⇒ star forest ⇒ labels are exact component minima.
    *
    * If `maxRounds` is hit before the fixpoint this THROWS rather than
    * returning silently-wrong labels. O(log n) rounds means the default cap
    * covers any graph up to ~2^50 vertices — the cap exists for contract
    * loudness, not as a realistic limit.
    *
    * Each round's edge frame is materialized by an eager LOCAL CHECKPOINT:
    * the star transforms reference `edges` twice (both join sides derive
    * from it), so an uncheckpointed lineage doubles every round; the
    * checkpoint keeps plan size O(1) in rounds and superseded round RDDs
    * are released by the ContextCleaner. No cache entries outlive the call.
    */
  def connectedComponents(pairs: DataFrame, maxRounds: Int = 50,
      localThreshold: Long = 1L << 20): DataFrame =
    connectedComponentsWithRounds(pairs, maxRounds, localThreshold)._1

  /** [[connectedComponents]]' min-label labelling as DuckDB CTEs over an
    * in-scope `pairs(a_id, b_id)` edge relation (the query needs `WITH
    * RECURSIVE`): `sym` → recursive `reach` → `comp(id, component)`. The
    * ONE oracle-side definition for d08, c21, d11, d17, d21 (and their
    * sf1-slice twins) and the s06/s11/s17/s17b semantic-dedup rows.
    */
  private[graft] val componentSqlCtes: String =
    """sym AS MATERIALIZED (
      |  SELECT a_id AS src, b_id AS dst FROM pairs
      |  UNION ALL SELECT b_id, a_id FROM pairs),
      |reach AS (
      |  SELECT src AS id, src AS label FROM sym
      |  UNION
      |  SELECT e.dst AS id, r.label FROM reach r JOIN sym e ON e.src = r.id),
      |comp AS (SELECT id, MIN(label) AS component FROM reach GROUP BY id)""".stripMargin

  /** As [[connectedComponents]], also returning the number of star rounds
    * run before the fixpoint, so the O(log n)-rounds claim is measured,
    * not asserted (DedupSpec pins a chain's rounds; the driver fast path
    * reports 0 rounds).
    *
    * `localThreshold` is the broadcast-join pattern applied to CC: a graph
    * whose deduped edge AND vertex counts both fit under it (default 2^20 —
    * ≤ 16 MB of long pairs) is solved by a driver-side union-find in one
    * collect instead of 2 Spark jobs per star round; beyond the gate the
    * distributed star contraction runs. After LSH banding a near-dup pair
    * graph is ~0.1% of the corpus, so small corpora land under the gate
    * (exactly like a dim table under the broadcast threshold) while the
    * 100 TB path stays fully distributed. Both paths produce the identical
    * labeling (component minima; PropertySpec pins the distributed path
    * against the same union-find). Pass 0 to force the distributed path.
    */
  def connectedComponentsWithRounds(pairs: DataFrame, maxRounds: Int,
      localThreshold: Long): (DataFrame, Int) = {
    require(maxRounds > 0, "maxRounds must be positive")
    // Materialize the input ONCE before deriving anything: vertices and
    // edges below are two independent consumers, and without this the
    // caller's upstream pipeline (typically the full LSH candidate
    // generation) would execute twice — measured ~1.2 s per extra pass on
    // the sf1 near-dup graph, across every CC consumer.
    val p = pairs.select(col("a_id"), col("b_id")).localCheckpoint(true)
    // all vertices of the ORIGINAL graph (incl. self-loop-only ones, which
    // the canonical edge list drops) — the output covers every one of them
    val vertices = p.select(col("a_id").as("id"))
      .union(p.select(col("b_id").as("id"))).distinct()
      .localCheckpoint(true)
    var edges = p
      .select(greatest(col("a_id"), col("b_id")).as("u"),
        least(col("a_id"), col("b_id")).as("v"))
      .filter(col("u") =!= col("v")).distinct().localCheckpoint(true)

    if (localThreshold > 0 && edges.count() <= localThreshold &&
        vertices.count() <= localThreshold) {
      val spark = pairs.sparkSession
      import spark.implicits._
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var p = x
        while (parent.getOrElse(p, p) != p) p = parent(p)
        var q = x
        while (parent.getOrElse(q, q) != p) { val n = parent(q); parent(q) = p; q = n }
        p
      }
      edges.collect().foreach { r =>
        val (ra, rb) = (find(r.getLong(0)), find(r.getLong(1)))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val labels = vertices.collect()
        .map(r => r.getLong(0) -> find(r.getLong(0))).toSeq
        .toDF("id", "label")
      return (labels, 0)
    }

    def largeStar(e: DataFrame): DataFrame = {
      val nbrs = e.select(col("u").as("x"), col("v").as("y"))
        .union(e.select(col("v").as("x"), col("u").as("y")))
      val m = nbrs.groupBy("x").agg(min(col("y")).as("mn"))
        .select(col("x"), least(col("x"), col("mn")).as("m"))
      // y > x >= m, so (y, m) is already canonical and never a self-loop.
      // NO distinct here: duplicates are absorbed by smallStar's min-agg
      // and its final distinct — saving one full exchange per round.
      nbrs.filter(col("y") > col("x")).join(m, "x")
        .select(col("y").as("u"), col("m").as("v"))
    }
    def smallStar(e: DataFrame): DataFrame = {
      // canonical edges: x's smaller neighbors are exactly the v's of its
      // u-side edges
      val lower = e.select(col("u").as("x"), col("v").as("y"))
      val m = lower.groupBy("x").agg(min(col("y")).as("m"))
      val leaves = lower.join(m, "x")
        .filter(col("y") =!= col("m"))
        .select(col("y").as("u"), col("m").as("v")) // y > m: canonical
      val self = m.select(col("x").as("u"), col("m").as("v")) // x > m
      leaves.union(self).distinct()
    }
    /** -1 when the edge set is a star forest, else the violation count. */
    def violations(e: DataFrame): Long =
      e.select(col("u").as("id"), lit(1L).as("outdeg"))
        .union(e.select(col("v").as("id"), lit(0L).as("outdeg")))
        .groupBy("id")
        .agg(org.apache.spark.sql.functions.sum("outdeg").as("outdeg"),
          count(lit(1)).as("deg"))
        .filter(col("outdeg") > 1 ||
          (col("outdeg") >= 1 && col("deg") > col("outdeg")))
        .count()

    // no pre-loop violations check: every real caller feeds a non-star
    // graph, so the check would be a pure extra shuffle before round 1;
    // a caller handing in an already-star graph pays one identity round
    // instead (the star ops are idempotent on their fixpoint). Empty edge
    // sets skip the loop outright.
    var converged = edges.isEmpty
    var rounds = 0
    while (!converged && rounds < maxRounds) {
      // per-round frames are narrow long pairs bounded by |edges|, and shrink
      edges = smallStar(largeStar(edges)).localCheckpoint(true)
      converged = violations(edges) == 0
      rounds += 1
    }
    if (!converged) {
      throw new IllegalStateException(
        s"connectedComponents did not converge within $maxRounds rounds; " +
          "raise maxRounds")
    }
    // star forest: leaves -> center, centers -> themselves; vertices the
    // canonical edge list dropped (self-loop-only) label themselves
    val labels = edges.select(col("u").as("id"), col("v").as("label"))
      .union(edges.select(col("v").as("id"), col("v").as("label")).distinct())
    val out = vertices.join(labels, Seq("id"), "left")
      .select(col("id"), coalesce(col("label"), col("id")).as("label"))
      .localCheckpoint(true)
    (out, rounds)
  }

  /** Corpus-level line dedup, per-line verdict — the d12 engine.
    * Segments each doc into fixed-`width`-word lines, counts every line
    * across the whole corpus keyed by its 64-bit FNV (8-byte shuffle keys,
    * map-side partial absorbs repeats, O(1) state per key: count + min
    * survivor), and marks each (doc, pos) with whether its line survives:
    * unique lines always, duplicated lines only at their first occurrence
    * (min doc_id·2^20+pos — C4 keeps one copy, not zero; the 2^20 line
    * budget supports ~12M-word docs at width 12 and overflows long only
    * past doc_id 2^43 — both asserted at runtime below, because a silent
    * pack collision would let a duplicated line keep two survivors and
    * the oracle, sharing the formula, could not catch it).
    *
    * Hash-collision guard: the DuckDB oracle groups by the line STRING,
    * so a 64-bit fnv collision between two distinct lines would silently
    * merge their counts and drop one line's survivors — invisible locally
    * (birthday bound ~2^-24 at 1B lines) but a real trade at production
    * scale. Rather than shuffling line text (defeating the 8-byte-key
    * design), every line also carries an INDEPENDENT 8-byte hash
    * (xxhash64); if any fnv group disagrees on it, two distinct lines
    * collided (double-collision odds ~2^-128) and the job raise_errors
    * instead of returning silently-wrong survivors — the pack-overflow
    * guard's pattern. Cost: +8 bytes per shuffled row, +16 bytes agg
    * state.
    * Returns (doc_id, pos, line, cnt, keep); callers aggregate per doc.
    */
  def lineKeep(docs: DataFrame, width: Int = 12): DataFrame = {
    val toks = split(col("text"), " ")
    val nseg = ((size(toks) + lit(width - 1)) / lit(width)).cast("int")
    val lineArr = transform(sequence(lit(0), nseg - 1),
      i => concat_ws(" ", slice(toks, i * width + 1, lit(width))))
    // NOT checkpointed, unlike the d15 gram stream: lines carries the
    // line TEXT (p01 reassembles kept text downstream), so materializing
    // it stores a full corpus copy — a worse trade than the second
    // pruned-scan pass, and it would hide the scan-side hashing from the
    // d12 plan gate (ReadSchema / fnv1a64-at-scan assertions)
    val lines = docs
      .select(col("doc_id"), posexplode(lineArr).as(Seq("pos", "line")))
      .select(col("doc_id"), col("pos"), col("line"),
        ghash.fnv1a64(col("line")).as("h"),
        xxhash64(col("line")).as("h2"),
        (col("doc_id") * 1048576L + col("pos")).as("packed"))
      .withColumn("packed",
        when(col("pos") >= 1048576 || col("doc_id") >= (1L << 43),
          raise_error(concat(lit("lineKeep pack overflow: doc_id="),
            col("doc_id"), lit(" pos="), col("pos"))))
          .otherwise(col("packed")))
    val counts = lines.groupBy("h")
      .agg(count(lit(1)).as("cnt"), min(col("packed")).as("surv"),
        min(col("h2")).as("h2lo"), max(col("h2")).as("h2hi"))
    lines.join(counts, Seq("h"))
      .withColumn("keep",
        (col("cnt") === 1 || col("packed") === col("surv")) &&
          when(col("h2lo") =!= col("h2hi"),
            raise_error(lit("lineKeep 64-bit line-hash collision: " +
              "distinct lines share one fnv1a64 key; survivors would be " +
              "silently wrong"))).otherwise(lit(true)))
      .drop("h", "h2", "surv", "h2lo", "h2hi")
  }

  /** Corpus-level PARAGRAPH dedup with CCNet-style normalization — the
    * granularity between d12's lines and d01's whole docs, and the pass
    * CCNet (Wenzek et al. 2020, §3.1) runs first: paragraphs are hashed
    * AFTER normalization (lowercase, digit runs → 0, trim), so
    * boilerplate that varies only in case or numbers ("Issue 123…" vs
    * "ISSUE 456…") still dedups — the case d12's raw-line keys cannot
    * fire on. Survivor-keeps-first (min doc_id·2^20+pos, d12's packed
    * key + overflow guard), per-paragraph verdict, original (NOT
    * normalized) text reassembles. Same scale shape as [[lineKeep]]:
    * 8-byte normalized-fnv shuffle keys with O(1) per-key state, one
    * re-attach join, one per-doc regroup; the same independent-xxhash64
    * collision guard raise_errors on a silent fnv merge (the oracle
    * groups by the normalized STRING and could not see it).
    * Returns (doc_id, pos, para, cnt, keep).
    */
  def paragraphKeep(docs: DataFrame): DataFrame = {
    val paras = docs
      .select(col("doc_id"), posexplode(col("paras")).as(Seq("pos", "para")))
      .select(col("doc_id"), col("pos"), col("para"),
        ghash.fnv1a64(ParaDedup.norm(col("para"))).as("h"),
        xxhash64(ParaDedup.norm(col("para"))).as("h2"),
        (col("doc_id") * 1048576L + col("pos")).as("packed"))
      .withColumn("packed",
        when(col("pos") >= 1048576 || col("doc_id") >= (1L << 43),
          raise_error(concat(lit("paragraphKeep pack overflow: doc_id="),
            col("doc_id"), lit(" pos="), col("pos"))))
          .otherwise(col("packed")))
    val counts = paras.groupBy("h")
      .agg(count(lit(1)).as("cnt"), min(col("packed")).as("surv"),
        min(col("h2")).as("h2lo"), max(col("h2")).as("h2hi"))
    paras.join(counts, Seq("h"))
      .withColumn("keep",
        (col("cnt") === 1 || col("packed") === col("surv")) &&
          when(col("h2lo") =!= col("h2hi"),
            raise_error(lit("paragraphKeep 64-bit hash collision: distinct " +
              "normalized paragraphs share one fnv1a64 key")))
            .otherwise(lit(true)))
      .drop("h", "h2", "surv", "h2lo", "h2hi")
  }
  // paragraphKeep expects docs to carry a `paras` array column; build it
  // from fixed-width segments + the planted noisy banner. Kept separate so
  // the segmentation is visible to the caller (and the oracle mirror).
  private[graft] def withParas(docs: DataFrame): DataFrame = {
    val toks = split(col("text"), " ")
    val nseg = ((size(toks) + lit(ParaWidth - 1)) / lit(ParaWidth)).cast("int")
    val segs = transform(sequence(lit(0), nseg - 1),
      i => concat_ws(" ", slice(toks, i * ParaWidth + 1, lit(ParaWidth))))
    docs.select(col("doc_id"),
      when(col("doc_id") % 5 === 0,
        concat(array(ParaDedup.banner(col("doc_id"))), segs))
        .otherwise(segs).as("paras"))
  }

  /** d03's near-dup pair ids of `corpus`: the input every cluster-level
    * row below closes under [[connectedComponents]]. */
  private def d03PairIds(corpus: DataFrame): DataFrame =
    lshJaccardPairs(corpus, MinHashK, MinHashBands, MinHashCap, JaccardMin)
      .select("a_id", "b_id")

  /** d08's body (and v08's): one row per dup cluster, members sorted. */
  private def dupClusters(corpus: DataFrame): DataFrame =
    connectedComponents(d03PairIds(corpus))
      .groupBy(col("label").as("component"))
      .agg(count(lit(1)).as("n_docs"),
        concat_ws(",", sort_array(collect_list(col("id")))).as("members"))
      .orderBy("component")

  /** d10's body (and v10's): `incoming` = the exact (+2M) and near (+1M,
    * last two tokens dropped) copies of `tenth`, deduped against `docs`.
    */
  private def incrementalDedup(docs: DataFrame, tenth: DataFrame): DataFrame = {
    val incoming = tenth
      .select((col("doc_id") + 2000000L).as("doc_id"), col("text"))
      .unionByName(tenth.select(
        (col("doc_id") + 1000000L).as("doc_id"),
        concat_ws(" ", slice(split(col("text"), " "), lit(1),
          size(split(col("text"), " ")) - 2)).as("text")))
    incrementalLshPairs(docs, incoming)
  }

  /** d11's body (and v11's): per-lang kept counts + kept-id digest after
    * dropping every non-canonical cluster member.
    */
  private def nearDupSurvivors(corpus: DataFrame): DataFrame = {
    val losers = connectedComponents(d03PairIds(corpus))
      .filter(col("id") =!= col("label"))
      .select(col("id").as("drop_id"))
    corpus.join(losers, col("doc_id") === col("drop_id"), "left_anti")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_kept"),
        md5(concat_ws(",", sort_array(collect_list(col("doc_id")))))
          .as("kept_digest"))
      .orderBy("lang")
  }

  /** d20's body (and v20's): `docs` is the train side; the benchmark is
    * every 23rd doc with its last two tokens dropped (+5M), and the rows
    * are the train×bench near-dup pairs.
    */
  private def crossCorpusNearDup(docs: DataFrame): DataFrame = {
    val bench = docs.filter(col("doc_id") % 23 === 0)
      .select((col("doc_id") + 5000000L).as("doc_id"),
        concat_ws(" ", slice(split(col("text"), " "), lit(1),
          size(split(col("text"), " ")) - 2)).as("text"))
    incrementalLshPairs(docs, bench)
      .filter(col("a_id") < 5000000L)
      .select(col("a_id").as("train_id"),
        (col("b_id") - 5000000L).as("bench_src"), col("jac"))
      .orderBy("train_id", "bench_src")
  }

  /** d21's body (and v21b's): per-lang survivors keeping each cluster's
    * LONGEST member (tie → smallest doc_id).
    */
  private def qualitySurvivors(corpus: DataFrame): DataFrame = {
    val labels = connectedComponents(d03PairIds(corpus))
    // checkpointed: lab is consumed twice (argmax agg + semi join),
    // and without it the corpus text column is re-scanned for `len`
    // on each pass — 2 full-text scans at 100 TB vs one 32-byte/row
    // materialization
    val lab = corpus
      .select(col("doc_id"), col("lang"),
        length(col("text")).cast(LongType).as("len"))
      .join(labels, col("doc_id") === col("id"), "left_outer")
      .select(col("doc_id"), col("lang"), col("len"),
        coalesce(col("label"), col("doc_id")).as("comp"))
      .localCheckpoint(true)
    // per-cluster argmax via struct max: lexicographic (len, -id) —
    // longest wins, ties to the smallest doc_id; an agg, not a window
    val keep = lab.groupBy("comp")
      .agg(max(struct(col("len"), (-col("doc_id")).as("nid"))).as("m"))
      .select((-col("m.nid")).as("keep_id"))
    lab.join(keep, col("doc_id") === col("keep_id"), "left_semi")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_kept"),
        md5(concat_ws(",", sort_array(collect_list(col("doc_id")))))
          .as("kept_digest"))
      .orderBy("lang")
  }

  /** d17's body (and v17's): weight 1/|cluster| per clustered doc. */
  private def softDedupWeights(corpus: DataFrame): DataFrame = {
    val labels = connectedComponents(d03PairIds(corpus))
    val sizes = labels.groupBy("label")
      .agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "label")
      .select(col("id").as("doc_id"), col("cluster_size"),
        (lit(1.0) / col("cluster_size").cast(DoubleType)).as("weight"))
      .orderBy("doc_id")
  }

  /** c21's body (and v21's): train/val/test split by hashed duplicate
    * cluster (singletons are their own component), per-split count + md5
    * of the sorted members.
    */
  private def leakageFreeSplits(corpus: DataFrame): DataFrame = {
    val labels = connectedComponents(d03PairIds(corpus))
    val comp = corpus.select(col("doc_id"))
      .join(labels.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("label"), col("doc_id")).as("component"))
    val bucket = pmod(shiftrightunsigned(
      ghash.fnv1a64(concat(lit("split|"),
        col("component").cast("string"))), 8), lit(10))
    comp
      .select(col("doc_id"),
        when(bucket < 8, lit("train")).when(bucket === 8, lit("val"))
          .otherwise(lit("test")).as("split"))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        md5(concat_ws(",", sort_array(collect_list(col("doc_id")))))
          .as("members_md5"))
      .orderBy("split")
  }

  lazy val specs: Vector[QuerySpec] = Vector(
    // Exact dedup: digest → group → keep min id. Finds exactly the planted
    // exact copies.
    QuerySpec(
      "d01_dedup_exact",
      (s, d) =>
        plantedCorpus(s, d)
          .groupBy(md5(col("text")).as("digest"))
          .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"))
          .filter(col("n_copies") > 1)
          .orderBy("keeper"),
      Some(s"""$corpusCte
              |SELECT md5(text) AS digest, MIN(doc_id) AS keeper,
              |       COUNT(*) AS n_copies
              |FROM corpus GROUP BY md5(text) HAVING COUNT(*) > 1
              |ORDER BY keeper""".stripMargin),
      headline = true,
    ),
    // Exact dedup, normalized: the deduped surviving set size (lower(trim)).
    QuerySpec(
      "d02_dedup_survivors",
      (s, d) =>
        plantedCorpus(s, d)
          .groupBy(md5(lower(trim(col("text")))).as("digest"))
          .agg(min(col("doc_id")).as("doc_id"))
          .agg(count(lit(1)).as("n_survivors")),
      Some(s"""$corpusCte
              |SELECT COUNT(*) AS n_survivors FROM (
              |  SELECT MIN(doc_id) FROM corpus
              |  GROUP BY md5(lower(trim(text))))""".stripMargin),
    ),
    // MinHash/LSH near-dup pairs: 32-perm signature, 8 bands × 4 rows,
    // hot-bucket guard (cap 100), bucket join, exact-Jaccard verify ≥ 0.3 on
    // candidates only. FULL DuckDB oracle (the whole pipeline incl. the
    // custom hashes is replicated in SQL — see lshOracleSql); DedupSpec
    // additionally checks planted-pair recall and the mega-bucket guard.
    QuerySpec(
      "d03_minhash_lsh_pairs",
      (s, d) => lshJaccardPairs(plantedCorpus(s, d), MinHashK, MinHashBands,
        MinHashCap, JaccardMin),
      Some(lshOracleSql(MinHashBands)),
      headline = true,
    ),
    // Incremental LSH near-dup: dedup a new batch against the existing
    // corpus (and itself) without ever re-pairing existing×existing — the
    // daily-ingest shape whose verify cost scales with the BATCH. The
    // existing corpus is `documents`, the incoming batch is the planted
    // exact (+2M) and near (+1M) copies, so the contract is checkable
    // against d03 on the identical union: d10 = d03 pairs touching an
    // incoming id (DedupSpec asserts the set equality).
    QuerySpec(
      "d10_dedup_incremental_lsh",
      (s, d) => {
        val docs = Tables(s, d, "documents").select(col("doc_id"), col("text"))
        incrementalDedup(docs, docs.filter(col("doc_id") % 10 === 0))
      },
      Some(lshOracleSql(MinHashBands,
        newPred = Some("doc_id >= 1000000"))),
    ),
    // Near-dup SURVIVOR selection — the APPLY step of dedup: cluster the
    // d03 near-dup pairs (connected components, min-label), drop every
    // non-canonical cluster member, keep the rest of the corpus untouched.
    // Exact dups are subsumed (jaccard 1 pairs land in the same cluster).
    // Output is per-lang kept counts + an md5 of the sorted kept-id list —
    // the digest pins the exact survivor SET while keeping the result
    // compact. Scale shape: labels are (id, label) pairs (narrow), the
    // drop-set attaches with one anti join, and the corpus text never
    // moves except through d03's already-bounded pipeline.
    QuerySpec(
      "d11_neardup_survivors",
      (s, d) => nearDupSurvivors(plantedCorpus(s, d)),
      Some(d11OracleSql(corpusCte)),
    ),
    // Cross-corpus NEAR-dup decontamination — the fuzzy half of the
    // contamination story: d09 catches verbatim 8-gram overlap with a
    // benchmark, but leaked eval data is routinely PARAPHRASED or
    // truncated, which exact n-grams miss and MinHash catches. The
    // benchmark set is planted (every 23rd doc, last two tokens dropped —
    // a near-paraphrase of a training doc — offset +5M), and the query
    // finds every TRAIN doc near-dup (Jaccard ≥ 0.3 on word 3-gram
    // shingles) to ANY benchmark doc. Scale shape is d10's incremental
    // pipeline verbatim with the benchmark as the "incoming" side: bucket
    // candidates are restricted row-locally to bench-touching pairs, so
    // the cost scales with the BENCHMARK (thousands of docs), never
    // train×train (the 100 TB side pairs only through shared buckets).
    // Cross-only output falls out of the id order: bench ids sort above
    // all train ids, so a_id < 5M keeps exactly the train×bench pairs.
    QuerySpec(
      "d20_crosscorpus_neardup",
      (s, d) => crossCorpusNearDup(
        Tables(s, d, "documents").select(col("doc_id"), col("text"))),
      Some(d20OracleSql(slicePred = "TRUE")),
    ),
    // QUALITY-aware survivor selection — d11 with the keeper rule real
    // pipelines use: within each near-dup cluster keep the LONGEST
    // member (tie → smallest doc_id), not the smallest id. Truncated
    // crawls, stripped re-posts and partial scrapes cluster with their
    // fuller original; min-id keeps whichever was fetched first, this
    // keeps the most content. Scale shape adds ONE narrow aggregation to
    // d11: per-cluster argmax over (len, -doc_id) pairs — 16 bytes per
    // doc — then a doc_id-keyed semi join; text still never moves except
    // through d03's bounded pipeline (length is computed in the scan).
    QuerySpec(
      "d21_quality_survivors",
      (s, d) => qualitySurvivors(plantedCorpus(s, d)),
      Some(d21OracleSql(corpusCte)),
    ),
    // Production-scale exact-Jaccard near-dup join: the SAME verification as
    // d05 (exact word-3-gram Jaccard ≥ 0.3) but candidates come from LSH
    // banding instead of (lang, Δlen) blocks — no per-lang cartesian
    // anywhere in the plan. 16 bands × 2 rows: at r=2 the banding threshold
    // (1/16)^(1/2) ≈ 0.25 sits below the 0.3 verify cut, so every pair d05
    // finds is (whp) also a candidate here; DedupSpec asserts d07 ⊇ the
    // planted near-dup pairs. d05 remains the small-corpus DuckDB oracle;
    // this is the shape you run at 100 TB.
    QuerySpec(
      "d07_ngram_jaccard_scale",
      (s, d) => lshJaccardPairs(plantedCorpus(s, d), MinHashK, bands = 16,
        MinHashCap, JaccardMin),
      Some(lshOracleSql(bands = 16)),
    ),
    // SimHash near-dup pairs: 64-bit sketch, 4×16-bit band join, hamming ≤ 8.
    QuerySpec(
      "d04_simhash_pairs",
      (s, d) => {
        val sk = plantedCorpus(s, d)
          .select(col("doc_id"), ghash.simhash64(toks(col("text"))).as("sk"))
          // eager localCheckpoint, not persist: reused by banding and by
          // both sides of the pair lookup, and the ContextCleaner reclaims
          // it when the frame goes out of scope (a bare persist would live
          // until session shutdown — the s04 r6-verdict nit)
          .localCheckpoint(true)
        val banded = sk.select(col("doc_id"),
          posexplode(transform(sequence(lit(0), lit(3)),
            b => call_function("shiftrightunsigned", col("sk"), b * 16)
              .bitwiseAND(lit(0xffffL))))
            .as(Seq("band", "bval")))
        // same guard-folded candidate generation as d03: a degenerate 16-bit
        // band value (e.g. boilerplate docs hashing to one sketch) must not
        // turn the band self-join quadratic; buckets > cap dropped whole,
        // candidate pairs generated row-locally from the bounded id lists
        val candidates = bucketCandidates(banded, Seq("band", "bval"), cap = 100)
        candidates
          .join(sk.select(col("doc_id").as("a_id"), col("sk").as("a_sk")), "a_id")
          .join(sk.select(col("doc_id").as("b_id"), col("sk").as("b_sk")), "b_id")
          .select(col("a_id"), col("b_id"),
            bit_count(col("a_sk").bitwiseXOR(col("b_sk"))).as("hamming"))
          .filter(col("hamming") <= 8)
          .orderBy("a_id", "b_id")
      },
      // full SQL oracle: SimHash sketch + 16-bit banding + hot-bucket guard
      // + hamming verify, on DuckHash's bit-exact hash replica
      Some {
        import graft.engine.DuckHash
        // the token hash depends only on the token STRING, so hash each
        // DISTINCT token once (tf/th) and vote per (doc, bit) over rows —
        // the list form re-derived the HUGEINT chain per occurrence and 64
        // bit-passes per doc (40 s of the sf0.01 driver gate on its own)
        s"""$corpusCte,
           |t0 AS (
           |  SELECT doc_id, unnest(string_split(text, ' ')) AS s FROM corpus),
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
           |sk AS MATERIALIZED (
           |  SELECT doc_id,
           |    CAST(SUM(CASE WHEN net > 0 THEN 1::HUGEINT << b
           |                  ELSE 0::HUGEINT END) AS HUGEINT) AS usk
           |  FROM tb GROUP BY doc_id),
           |banded AS MATERIALIZED (
           |  SELECT doc_id, ${DuckHash.signed("usk")} AS sk, band,
           |    CAST((usk // (1::HUGEINT << (band*16))) % 65536 AS BIGINT) AS bval
           |  FROM sk, (SELECT unnest(range(0, 4)) AS band)),
           |hot AS (
           |  SELECT band, bval FROM banded GROUP BY band, bval
           |  HAVING COUNT(*) > 100),
           |pruned AS MATERIALIZED (
           |  SELECT b.* FROM banded b ANTI JOIN hot h USING (band, bval))
           |SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
           |  bit_count(xor(a.sk, b.sk)) AS hamming
           |FROM pruned a JOIN pruned b USING (band, bval)
           |WHERE a.doc_id < b.doc_id AND bit_count(xor(a.sk, b.sk)) <= 8
           |ORDER BY a_id, b_id""".stripMargin
      },
    ),
    // Exact n-gram Jaccard near-dup join, blocked by (lang, |Δchars| ≤ 60).
    // DuckDB-oracle-able: no hashing, pure set arithmetic. The length
    // blocking is an EQUI-join, not a residual filter (r10 — the sf1 gate
    // caught the lang-only join going quadratic): docs bucket by
    // n_ch div 64, and since |Δch| ≤ 60 < 64 forces buckets within ±1,
    // the a-side probes three buckets (the e15 chunked-range trick) and
    // the join key becomes (lang, bucket) — candidates drop from
    // |lang-block|² to |length-neighborhood| sized, with an IDENTICAL
    // pair set (each qualifying pair meets exactly one probe offset, so
    // no dedup step is needed either).
    QuerySpec(
      "d05_ngram_jaccard",
      (s, d) => ngramJaccardPairs(plantedCorpus(s, d)),
      Some(d05OracleSql(corpusCte)),
    ),
    // Duplicate-cluster assignment: connected components over the d03
    // near-dup pair graph — the step that turns pairwise matches into
    // keep-one-per-cluster decisions (a doc A≈B, B≈C chain must dedup as
    // ONE cluster {A,B,C} even when A≉C directly). Full DuckDB oracle: the
    // LSH pair pipeline as a CTE, then transitive closure via a recursive
    // min-label CTE.
    QuerySpec(
      "d08_dup_clusters",
      (s, d) => dupClusters(plantedCorpus(s, d)),
      Some(d08OracleSql(corpusCte)),
    ),
    // Train/test contamination check — the decontamination op of an LLM
    // data pipeline: an evaluation doc is contaminated if any of its word
    // 8-grams appears verbatim anywhere in the training split. Scale shape:
    // explode both sides to distinct grams (map-side), one hash-partitioned
    // join keyed by the 64-bit FNV of the gram (the r7 upgrade from string
    // keys — same results, ~6× narrower shuffle), partial+final count per
    // doc. The oracle stays string-keyed: the output doesn't mention the
    // key, so the hash is a pure plan detail the gate still verifies.
    QuerySpec(
      "d09_contamination",
      (s, d) => {
        val docs = Tables(s, d, "documents")
          .select(col("doc_id"), col("text"), col("source"))
        // the join is keyed on the 64-bit FNV of the gram, not the string:
        // a ~50-char 8-gram key would move ~6× more shuffle bytes than the
        // hash at 100 TB. ShingleHash fuses tokenize→window→hash→distinct
        // in one pass (bit-equal to fnv1a64(concat_ws(' ', gram)), see
        // HashAlgos.shingleHashes) so no gram string is ever allocated.
        // Results are identical modulo 64-bit collisions (none at any
        // tested SF — the string-keyed oracle below verifies exactly
        // that), which is the standard contamination-check trade.
        def grams8h(t: Column): Column = ghash.shingleHash(split(t, " "), 8)
        val train = docs.filter(col("source") =!= "src0")
          .select(explode(grams8h(col("text"))).as("gh")).distinct()
        val test = docs.filter(col("source") === "src0")
          .select(col("doc_id"), explode(grams8h(col("text"))).as("gh"))
        test.join(train, Seq("gh"))
          .groupBy("doc_id").agg(count(lit(1)).as("n_overlapping"))
          .orderBy("doc_id")
      },
      Some("""WITH tok9 AS (
             |  SELECT doc_id, source, string_split(text, ' ') AS tk
             |  FROM documents),
             |g AS (
             |  SELECT doc_id, source,
             |    list_distinct(list_transform(
             |      range(1, CASE WHEN len(tk) - 7 > 1
             |                    THEN len(tk) - 7
             |                    ELSE 1 END + 1),
             |      i -> array_to_string(tk[i:i+7], ' ')))
             |      AS grams
             |  FROM tok9),
             |tr AS (SELECT DISTINCT unnest(grams) AS gram FROM g WHERE source <> 'src0'),
             |te AS (SELECT doc_id, unnest(grams) AS gram FROM g WHERE source = 'src0')
             |SELECT doc_id, COUNT(*) AS n_overlapping
             |FROM te JOIN tr USING (gram)
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    ),
    // Incremental dedup: a "new batch" (docs ≥ 250 plus the planted copies)
    // arrives against the already-ingested corpus (docs < 250) — keep only
    // new docs whose digest is unseen. This is the streaming-ingestion
    // shape: the historical side is a digest-only table, the join is a
    // broadcast/shuffle anti join on the digest key.
    QuerySpec(
      "d06_dedup_incremental",
      (s, d) => {
        val corpus = plantedCorpus(s, d)
        val historical = corpus.filter(col("doc_id") < 250)
          .select(md5(col("text")).as("digest")).distinct()
        val newBatch = corpus.filter(col("doc_id") >= 250)
          .withColumn("digest", md5(col("text")))
        newBatch.join(historical, Seq("digest"), "left_anti")
          .groupBy("digest").agg(min(col("doc_id")).as("doc_id"))
          .select(col("doc_id"))
          .orderBy("doc_id")
      },
      Some(s"""$corpusCte,
              |hist AS (
              |  SELECT DISTINCT md5(text) AS digest FROM corpus WHERE doc_id < 250),
              |batch AS (
              |  SELECT md5(text) AS digest, doc_id FROM corpus WHERE doc_id >= 250)
              |SELECT MIN(doc_id) AS doc_id FROM batch
              |WHERE digest NOT IN (SELECT digest FROM hist)
              |GROUP BY digest ORDER BY doc_id""".stripMargin),
    ),
    // Corpus-level line dedup — the C4/RefinedWeb cleaning pass: any LINE
    // that repeats across the corpus (navigation chrome, cookie banners,
    // license boilerplate) is removed everywhere except its first
    // occurrence, and documents are reassembled from their surviving
    // lines. The synthetic corpus has no newlines, so the spec PLANTS
    // boilerplate (one of three fixed 12-word banners prepended to every
    // 7th doc — the t07 planted-PII pattern) and segments text into
    // 12-word lines; the banner occupies exactly line 0, so it collides
    // across docs while every other line stays unique.
    // Scale shape: shuffle 1 counts lines keyed by their 64-bit FNV
    // (8-byte keys, map-side partial absorbs repeats); shuffle 2 joins the
    // (hash, count, survivor) table back — line text moves here because
    // reassembly needs it, which is inherent to the op; shuffle 3 is the
    // per-doc regroup. Per-key state is O(1) (count + min survivor).
    QuerySpec(
      "d12_line_dedup",
      (s, d) => {
        val planted = Tables(s, d, "documents")
          .select(col("doc_id"),
            LineDedup.plantText(col("doc_id"), col("text")).as("text"))
        lineKeep(planted)
          .groupBy("doc_id")
          .agg(
            count(lit(1)).as("n_lines"),
            sum(col("keep").cast(LongType)).as("n_kept"),
            md5(LineDedup.keptTextAgg).as("cleaned_md5"))
          .orderBy("doc_id")
      },
      Some {
        s"""WITH planted AS (
           |  SELECT doc_id,
           |    ${LineDedup.plantSqlExpr} AS text
           |  FROM documents),
           |${LineDedup.lineKeepSqlCtes}
           |SELECT doc_id,
           |  CAST(COUNT(*) AS BIGINT) AS n_lines,
           |  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           |  md5(coalesce(
           |    string_agg(CASE WHEN keep THEN line END, ' ' ORDER BY pos),
           |    '')) AS cleaned_md5
           |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin
      },
    ),
    // Paragraph-level dedup with CCNet normalization — the granularity
    // between d12 (raw fixed-width lines) and d01 (whole docs), and a
    // semantically NEW key: paragraphs hash after lowercase+digits→0
    // normalization, so the planted banner — 2·97·3 raw variants across
    // every 5th doc — folds to 3 normalized keys and dedups, while raw
    // keys (d12's) would see each variant as unique. Survivor keeps
    // first; original text reassembles, md5-pinned. See [[paragraphKeep]]
    // for the scale shape (lineKeep's: 8-byte keys, O(1) state, one
    // re-attach join, one per-doc regroup).
    QuerySpec(
      "d22_paragraph_dedup",
      (s, d) =>
        paragraphKeep(withParas(Tables(s, d, "documents")))
          .groupBy("doc_id")
          .agg(
            count(lit(1)).as("n_paras"),
            sum(col("keep").cast(LongType)).as("n_kept"),
            md5(array_join(
              transform(
                filter(
                  array_sort(collect_list(
                    struct(col("pos"), col("keep"), col("para")))),
                  x => x.getField("keep")),
                x => x.getField("para")),
              " ")).as("cleaned_md5"))
          .orderBy("doc_id"),
      Some("WITH " + ParaDedup.paraKeepSqlCtes + "\n" +
        """SELECT doc_id,
          |  CAST(COUNT(*) AS BIGINT) AS n_paras,
          |  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
          |  md5(coalesce(
          |    string_agg(CASE WHEN keep THEN para END, ' ' ORDER BY pos),
          |    '')) AS cleaned_md5
          |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    ),
    // URL-keyed dedup — the FIRST dedup pass of a web-crawl pipeline
    // (CommonCrawl/C4 drop refetches of the same page before looking at
    // content at all): canonicalize the URL, keep one doc per canonical
    // URL. The synthetic corpus has no URLs, so the spec PLANTS one per
    // doc (t07 pattern) in four messy variants — uppercase host + www,
    // default :443 port + utm tracking params, fragment, clean — that all
    // canonicalize to the same https://site{a}.example/page{b}, a ~100-URL
    // space the 4 variants alias onto. Canonicalization is 6 chained
    // lower/regexp steps in the Java∩RE2 dialect; dedup is one
    // 8-byte-keyable groupBy (here grouped by the canonical string since
    // the URL is the output). Scale shape: per-row map + one hash shuffle
    // with O(1) per-key state — the d01 shape with a normalizer in front.
    QuerySpec(
      "d13_url_dedup",
      (s, d) => {
        Tables(s, d, "documents")
          .select(col("doc_id"), canonicalUrl(syntheticUrl).as("canonical_url"))
          .groupBy("canonical_url")
          .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_fetches"))
          .orderBy("canonical_url")
      },
      // NOTE string concat, not interpolation-inside-stripMargin: the
      // CTE text contains `||`, which stripMargin would mangle.
      Some(s"WITH $duckUrlCanonCtes\n" +
        """SELECT canonical_url, MIN(doc_id) AS keeper,
          |       COUNT(*) AS n_fetches
          |FROM canon GROUP BY canonical_url
          |ORDER BY canonical_url""".stripMargin),
    ),
    // Corpus snapshot diff — the dataset-versioning op: given two corpus
    // versions, classify every doc as added / removed / changed /
    // unchanged by digest. Versions are carved deterministically from the
    // one shipped table (v1 = doc_id < 400, v2 = doc_id ≥ 100 with every
    // 11th doc's text edited), so both engines reconstruct identical
    // snapshots. Scale shape: ONE doc_id-keyed full outer join moving only
    // (id, 16-byte digest) — content never shuffles — then a 4-group
    // partial+final count; the per-status id list is md5-pinned so the
    // gate verifies membership, not just counts.
    QuerySpec(
      "d14_snapshot_diff",
      (s, d) => {
        val docs = Tables(s, d, "documents")
        val v1 = docs.filter(col("doc_id") < 400)
          .select(col("doc_id"), md5(col("text")).as("d1"))
        val v2 = docs.filter(col("doc_id") >= 100)
          .select(col("doc_id"),
            md5(when(col("doc_id") % 11 === 0, concat(col("text"), lit(" edited")))
              .otherwise(col("text"))).as("d2"))
        v1.join(v2, Seq("doc_id"), "full_outer")
          .withColumn("status",
            when(col("d1").isNull, "added")
              .when(col("d2").isNull, "removed")
              .when(col("d1") === col("d2"), "unchanged")
              .otherwise("changed"))
          .groupBy("status")
          .agg(count(lit(1)).as("n_docs"),
            md5(concat_ws(",",
              transform(array_sort(collect_list(col("doc_id"))),
                _.cast("string")))).as("ids_md5"))
          .orderBy("status")
      },
      Some("""WITH v1 AS (
             |  SELECT doc_id, md5(text) AS d1 FROM documents WHERE doc_id < 400),
             |v2 AS (
             |  SELECT doc_id,
             |    md5(CASE WHEN doc_id % 11 = 0 THEN text || ' edited'
             |             ELSE text END) AS d2
             |  FROM documents WHERE doc_id >= 100),
             |j AS (
             |  SELECT COALESCE(v1.doc_id, v2.doc_id) AS doc_id, d1, d2
             |  FROM v1 FULL JOIN v2 ON v1.doc_id = v2.doc_id),
             |st AS (
             |  SELECT doc_id,
             |    CASE WHEN d1 IS NULL THEN 'added'
             |         WHEN d2 IS NULL THEN 'removed'
             |         WHEN d1 = d2 THEN 'unchanged'
             |         ELSE 'changed' END AS status
             |  FROM j)
             |SELECT status, COUNT(*) AS n_docs,
             |  md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id))
             |    AS ids_md5
             |FROM st GROUP BY status ORDER BY status""".stripMargin),
    ),
    // Exact substring-span dedup — the ExactSubstr pass of "Deduplicating
    // Training Data Makes Language Models Better" (Lee et al. 2021,
    // arXiv:2107.06499 §4.1): any W-token span that appears verbatim in
    // more than one DOCUMENT is duplicated text; overlapping/adjacent
    // duplicated W-grams merge into maximal regions, and the per-doc
    // report is (n merged spans, duplicated-token count, md5-pinned span
    // list). The paper uses a suffix array on the concatenated corpus —
    // inherently single-machine; the distributed form below slides a
    // stride-1 W-gram window instead (same duplicated-region semantics
    // for regions ≥ W tokens, and every region found IS ≥ W by
    // construction).
    //
    // The query PLANTS a fixed 20-word syndication notice prepended to
    // every 5th doc (the d12 banner pattern): grams at pos 0..4 sit fully
    // inside the notice and collide corpus-wide, guaranteeing every
    // planted doc reports a span COVERING [0, 20). The synthetic corpus
    // also collides naturally (tiny word vocab ⇒ straddle grams match
    // between planted docs sharing a leading word; a few whole docs are
    // verbatim repeats), so spans may extend past the notice and
    // non-planted docs may appear — both engines see identical text, so
    // the oracle stays exact either way.
    //
    // Scale shape: gram TEXT never leaves the map stage — each gram
    // shuffles as (doc_id, pos, fnv1a64, xxhash64) = 28 bytes; the
    // cross-doc test is min(doc_id) != max(doc_id) per hash (exact for
    // "appears in ≥ 2 distinct docs" with O(1) agg state — no
    // count-distinct); dup keys are then a tiny inner-join side back
    // onto the gram stream. Span merging is a per-doc window (lag +
    // running sum — bounded by doc length, never corpus-wide).
    //
    // Collision guard (lineKeep's pattern): the oracle groups by the
    // gram STRING, so distinct grams sharing one fnv key would diverge.
    // Each gram carries an independent xxhash64; a dup group whose
    // xxhash64 disagrees raise_errors. Guarding only DUP groups is
    // sound: a collision escapes the guard only when min==max doc_id,
    // i.e. every colliding gram lives in the same single doc — then none
    // of them is a cross-doc duplicate and the verdict is unchanged.
    QuerySpec(
      "d15_substr_span_dedup",
      (s, d) => {
        val docs = Tables(s, d, "documents")
          .select(col("doc_id"),
            SubstrDedup.plantText(col("doc_id"), col("text")).as("text"))
        substrSpans(docs, SubstrDedup.W).orderBy("doc_id")
      },
      Some {
        s"""WITH ${SubstrDedup.spanSqlCtes}
           |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
           |  CAST(SUM(e0 - s0) AS BIGINT) AS dup_tokens,
           |  md5(string_agg(s0 || '-' || e0, ',' ORDER BY s0)) AS spans_md5
           |FROM spans GROUP BY doc_id ORDER BY doc_id""".stripMargin
      },
    ),
    // ExactSubstr APPLY step — the cleaning pass d15 is the find for: cut
    // every duplicated region out of every doc and reassemble. This is
    // the aggressive variant of Lee et al.'s cleanup (they keep one
    // occurrence; a keep-first rule for REGIONS is ill-defined because
    // regions don't align 1:1 across docs — the well-defined and widely
    // used form drops duplicated text everywhere, as C4 does for lines).
    // Shape: the span list (narrow (doc_id, s0, e0) rows) left-joins back
    // onto the docs, and the cut is ONE map-side array expression —
    // positions outside every span, no token explode, no extra shuffle
    // beyond d15's own. Docs with no spans pass through verbatim.
    QuerySpec(
      "d18_substr_strip",
      (s, d) => {
        val docs = Tables(s, d, "documents")
          .select(col("doc_id"),
            SubstrDedup.plantText(col("doc_id"), col("text")).as("text"))
        val spanArr = substrSpanList(docs, SubstrDedup.W)
          .groupBy("doc_id")
          .agg(array_sort(collect_list(struct(col("s0"), col("e0"))))
            .as("spans"))
        val tk = split(col("text"), " ")
        docs.join(spanArr, Seq("doc_id"), "left")
          .withColumn("spans", coalesce(col("spans"),
            array().cast("array<struct<s0:bigint,e0:bigint>>")))
          .withColumn("kept",
            filter(sequence(lit(0L), size(tk).cast(LongType) - 1L),
              p => !exists(col("spans"),
                sp => p >= sp.getField("s0") && p < sp.getField("e0"))))
          .select(col("doc_id"),
            size(tk).cast(LongType).as("n_before"),
            size(col("kept")).cast(LongType).as("n_after"),
            md5(concat_ws(" ",
              transform(col("kept"), p => element_at(tk, (p + 1L).cast("int")))))
              .as("cleaned_md5"))
          .orderBy("doc_id")
      },
      Some {
        s"""WITH ${SubstrDedup.spanSqlCtes},
           |sp AS (
           |  SELECT doc_id, list_sort(list({'s0': s0, 'e0': e0})) AS spans
           |  FROM spans GROUP BY doc_id),
           |docs AS (
           |  SELECT p.doc_id, string_split(p.text, ' ') AS toks,
           |    COALESCE(s.spans, []) AS spans
           |  FROM planted p LEFT JOIN sp s ON p.doc_id = s.doc_id),
           |cut AS (
           |  SELECT doc_id, len(toks) AS n_before,
           |    list_filter(range(0, len(toks)),
           |      p -> len(list_filter(spans,
           |             sp -> p >= sp['s0'] AND p < sp['e0'])) = 0) AS kept,
           |    toks
           |  FROM docs)
           |SELECT doc_id, CAST(n_before AS BIGINT) AS n_before,
           |  CAST(len(kept) AS BIGINT) AS n_after,
           |  md5(COALESCE(array_to_string(
           |    list_transform(kept, p -> toks[p + 1]), ' '), ''))
           |    AS cleaned_md5
           |FROM cut ORDER BY doc_id""".stripMargin
      },
    ),
    // Bloom-guarded incremental dedup — d06's ingest shape with the
    // historical side compressed to a Bloom filter (Spark's own
    // runtime-filter machinery: BloomFilterAggregate builds it
    // distributed, BloomFilterMightContain probes it codegen'd). A batch
    // row whose digest MISSES the bloom is definitely unseen (no false
    // negatives) and skips the join entirely; only bloom POSITIVES — true
    // dups plus the configured false-positive sliver — reach the exact
    // anti join, whose build side is the full historical digest set, so
    // false positives are eliminated and the OUTPUT is bit-identical to
    // the plain anti join (the oracle is exactly that SQL; bloom
    // parameters cannot change the result, only the pruning rate).
    //
    // 100 TB shape: the historical digest set is ~10^9 rows × 40 B; the
    // bloom at 10 bits/key is ~1.2 GB — driver-materialized once per
    // batch (the same materialization Spark performs for injected
    // runtime filters) and shipped to executors as a literal in the
    // closure, vs re-shuffling the full digest table under every daily
    // batch. The residual anti join still sees only batch-proportional
    // probe rows. DedupSpec pins no-false-negatives and the bloom path ==
    // plain-anti-join equality; numBits is sized ~10 bits/key at the
    // gate scales.
    QuerySpec(
      "d16_dedup_bloom_incremental",
      (s, d) => {
        val corpus = plantedCorpus(s, d)
        val historical = corpus.filter(col("doc_id") < 400)
          .select(md5(col("text")).as("digest")).distinct()
        val newBatch = corpus.filter(col("doc_id") >= 400)
          .withColumn("digest", md5(col("text")))
        bloomGuardedNewRows(newBatch, historical, "digest")
          .groupBy("digest").agg(min(col("doc_id")).as("doc_id"))
          .select(col("doc_id"))
          .orderBy("doc_id")
      },
      Some(s"""$corpusCte,
              |hist AS (
              |  SELECT DISTINCT md5(text) AS digest FROM corpus WHERE doc_id < 400),
              |batch AS (
              |  SELECT md5(text) AS digest, doc_id FROM corpus WHERE doc_id >= 400)
              |SELECT MIN(doc_id) AS doc_id FROM batch
              |WHERE digest NOT IN (SELECT digest FROM hist)
              |GROUP BY digest ORDER BY doc_id""".stripMargin),
    ),
    // Soft dedup — down-WEIGHT duplicated content instead of dropping it
    // (the SoftDeDup / DataComp-LM sampling-weight alternative to d11's
    // hard survivor selection): every member of a near-dup cluster of
    // size n gets sampling weight 1/n, so each duplicated CONTENT
    // contributes one doc's worth of probability mass to training while
    // no individual copy (with its unique surrounding metadata) is lost.
    // Clusters are the d03 LSH pairs closed under connected components —
    // the same narrow (id, label) machinery as d11; unlisted docs are
    // implicitly weight 1.0. Weight is a PER-ROW division (no
    // aggregation-order hazard), bit-identical across engines.
    QuerySpec(
      "d17_softdedup_weights",
      (s, d) => softDedupWeights(plantedCorpus(s, d)),
      Some(d17OracleSql(corpusCte)),
    ),
    // Domain-conditional boilerplate detection (the CCNet/C4 cleanup
    // stage that EXACT line dedup d12 can't express): a line is
    // boilerplate iff it appears in ≥30% of its HOST's documents (and in
    // ≥2 docs) — per-domain repeated banners/footers, not corpus-wide
    // duplicated content. Fixture: alternating 50-doc blocks are prefixed
    // with a 12-token host-specific legal banner (width-aligned, so the
    // remaining segments are unshifted) — every host sees the banner on
    // exactly half its pages (doc_id %% 2 would pin banner parity to the
    // host id and leave odd hosts untouched). Scale shape: line TEXT never
    // shuffles — the per-(host, line) stats key on the 8-byte line FNV
    // with the d12 collision guard (min/max of an independent second
    // hash raises on a real collision); host doc counts are a 50-row
    // frame; everything downstream is bounded per-key state.
    QuerySpec(
      "d19_boilerplate_lines",
      (s, d) => {
        val host = regexp_extract(canonicalUrl(syntheticUrl),
          "^https://([^/]+)", 1)
        val docs = Tables(s, d, "documents")
          .select(col("doc_id"), host.as("host"), col("text"))
          .withColumn("text",
            when(expr("doc_id div 50") % 2 === 0,
              concat(lit("legal notice for "), col("host"),
                lit(" all rights reserved contact admin at "),
                col("host"), lit(" today "), col("text")))
              .otherwise(col("text")))
        val toks = split(col("text"), " ")
        val nseg = ((size(toks) + lit(11)) / lit(12)).cast("int")
        val lineArr = transform(sequence(lit(0), nseg - 1),
          i => concat_ws(" ", slice(toks, i * 12 + 1, lit(12))))
        val lines = docs
          .select(col("doc_id"), col("host"), explode(lineArr).as("line"))
          .select(col("doc_id"), col("host"),
            ghash.fnv1a64(col("line")).as("h"), xxhash64(col("line")).as("h2"))
        val hostDocs = docs.groupBy("host").agg(count(lit(1)).as("n_docs"))
        val lineStats = lines.groupBy("host", "h")
          .agg(countDistinct(col("doc_id")).as("docs_with"),
            count(lit(1)).as("occ"),
            min(col("h2")).as("h2lo"), max(col("h2")).as("h2hi"))
          .withColumn("ok",
            when(col("h2lo") =!= col("h2hi"),
              raise_error(lit("d19 64-bit line-hash collision: distinct " +
                "lines share one fnv1a64 key; boilerplate verdicts would " +
                "be silently wrong"))).otherwise(lit(true)))
        lineStats.join(broadcast(hostDocs), "host")
          .withColumn("isb", col("ok") &&
            col("docs_with") * 10 >= col("n_docs") * 3 &&
            col("docs_with") >= 2)
          .groupBy("host", "n_docs")
          .agg(sum(col("occ")).as("n_lines"),
            sum(when(col("isb"), 1L).otherwise(0L)).as("boiler_types"),
            sum(when(col("isb"), col("occ")).otherwise(0L)).as("n_boiler"))
          .select(col("host"), col("n_docs"), col("n_lines"),
            col("boiler_types"), col("n_boiler"),
            (col("n_boiler").cast(DoubleType) / col("n_lines").cast(DoubleType))
              .as("boiler_share"))
          .orderBy("host")
      },
      Some(s"WITH $duckUrlCanonCtes,\n" +
        """hosted AS (
          |  SELECT c.doc_id,
          |    regexp_extract(canonical_url, '^https://([^/]+)', 1) AS host,
          |    d.text
          |  FROM canon c JOIN documents d USING (doc_id)),
          |banner AS (
          |  SELECT doc_id, host,
          |    CASE WHEN (doc_id // 50) % 2 = 0
          |      THEN 'legal notice for ' || host
          |        || ' all rights reserved contact admin at ' || host
          |        || ' today ' || text
          |      ELSE text END AS text
          |  FROM hosted),
          |l0 AS (
          |  SELECT doc_id, host,
          |    list_transform(
          |      range(0, (len(string_split(text, ' ')) + 11) // 12),
          |      i -> {'pos': i,
          |            'line': array_to_string(
          |              (string_split(text, ' '))[i*12+1 : i*12+12], ' ')}) AS ls
          |  FROM banner),
          |l AS (SELECT doc_id, host, unnest(ls, recursive := true) FROM l0),
          |hd AS (SELECT host, COUNT(*) AS n_docs FROM banner GROUP BY host),
          |lstats AS (
          |  SELECT host, line, COUNT(DISTINCT doc_id) AS docs_with,
          |    COUNT(*) AS occ
          |  FROM l GROUP BY host, line),
          |fl AS (
          |  SELECT lstats.host, occ, n_docs,
          |    (docs_with * 10 >= n_docs * 3 AND docs_with >= 2) AS isb
          |  FROM lstats JOIN hd USING (host))
          |SELECT host, n_docs, CAST(SUM(occ) AS BIGINT) AS n_lines,
          |  CAST(SUM(CASE WHEN isb THEN 1 ELSE 0 END) AS BIGINT) AS boiler_types,
          |  CAST(SUM(CASE WHEN isb THEN occ ELSE 0 END) AS BIGINT) AS n_boiler,
          |  CAST(SUM(CASE WHEN isb THEN occ ELSE 0 END) AS DOUBLE)
          |    / CAST(SUM(occ) AS DOUBLE) AS boiler_share
          |FROM fl GROUP BY host, n_docs ORDER BY host""".stripMargin),
    ),
    // Leakage-free train/val/test split — the assignment rule every
    // training pipeline needs: hash-split by DUPLICATE CLUSTER, not by
    // document, so a near-copy can never land in train while its twin
    // sits in test (the leakage exact-dedup alone can't prevent). Doc →
    // component via the d03 LSH pairs + d08 connected components
    // (singletons are their own component), split = FNV of the component
    // id, 8/1/1. The hash is shifted right 8 bits before mod 10 so both
    // engines bucket the same UNSIGNED value (Spark's long is signed,
    // DuckDB's HUGEINT form isn't — the c14 lesson). Output: per-split
    // doc count + md5-pinned member list, so the gate verifies the exact
    // assignment, not just the sizes.
    QuerySpec(
      "c21_leakage_free_splits",
      (s, d) => leakageFreeSplits(plantedCorpus(s, d)),
      Some(c21OracleSql(corpusCte)),
    ),
    // --- sf1-scale slice verification rows (r11 verdict item 3) ---
    // The d03/d05/d08/c21 DuckDB replicas are 240 s wall-cap skips at sf1
    // (pair-verify set arithmetic and the recursive-CC closure stay
    // superlinear in DuckDB even after the distinct-element hashing
    // rewrite), which left the most scale-sensitive family hash-verified
    // only to sf0.1 — the inversion the r10 verdict flagged. These rows
    // run the SAME engine code paths over [[slicedPlanted]] (5%,
    // doc_id % 20 = 0 — planted dup families are ≡ 0 mod 20 so the dup
    // structure survives whole) at EVERY SF; at sf1 the sliced replica
    // fits the cap and the green row verifies the machinery at full
    // corpus scale-of-inputs. d04 passes the cap un-sliced since r11;
    // d07/d10/d11/d17/d20/d21 layer thin, sf0.1-verified aggregates over
    // this same pipeline and inherit its slice verification.
    QuerySpec(
      "v03_lsh_pairs_sf1slice",
      (s, d) => lshJaccardPairs(slicedPlanted(s, d), MinHashK, MinHashBands,
        MinHashCap, JaccardMin),
      Some(lshOracleSql(MinHashBands,
        corpusSql = slicedCorpusCte)),
    ),
    QuerySpec(
      "v05_ngram_jaccard_sf1slice",
      (s, d) => ngramJaccardPairs(slicedPlanted(s, d)),
      Some(d05OracleSql(slicedCorpusCte)),
    ),
    QuerySpec(
      "v08_dup_clusters_sf1slice",
      (s, d) => dupClusters(slicedPlanted(s, d)),
      Some(d08OracleSql(slicedCorpusCte)),
    ),
    QuerySpec(
      "v21_splits_sf1slice",
      (s, d) => leakageFreeSplits(slicedPlanted(s, d)),
      Some(c21OracleSql(slicedCorpusCte)),
    ),
    // --- r12: slice rows for the remaining dedup-family sf1 cap-skips ---
    // This round's sf1 oracle timing (240 s cap, quiet box): the whole
    // similarity family now passes outright (s03 18 s / s06 16 s /
    // s10 94 s / s11 53 s / s13 5 s) and so does d04 (30 s) — only the
    // word-3-gram MinHash/LSH replica family stays infeasible in DuckDB
    // (c21/d03/d05/d07/d08/d10/d11/d17/d20/d21 all >240 s; the shingle
    // set arithmetic is the superlinear stage). d03/d05/d08/c21 have had
    // slice rows since r11; these six finish the family, so EVERY
    // cap-skipped op now has the same engine code hash-verified at
    // sf1-scale inputs.
    QuerySpec(
      "v07_lsh16_pairs_sf1slice",
      (s, d) => lshJaccardPairs(slicedPlanted(s, d), MinHashK, bands = 16,
        MinHashCap, JaccardMin),
      Some(lshOracleSql(bands = 16,
        corpusSql = slicedCorpusCte)),
    ),
    // d10 sliced: existing = 5% of the raw docs; "every 10th" becomes
    // every 200th RAW id so the incoming side stays a strict subset of
    // existing ids (+1M/+2M offsets are = 0 mod 200 - families whole) and
    // keeps d10's incoming << existing proportion instead of degenerating
    // to incoming = 2x existing (every sliced id is divisible by 10).
    QuerySpec(
      "v10_incremental_sf1slice",
      (s, d) => {
        val base = Tables(s, d, "documents").select(col("doc_id"), col("text"))
        incrementalDedup(base.filter(col("doc_id") % 20 === 0),
          base.filter(col("doc_id") % 200 === 0))
      },
      Some(lshOracleSql(MinHashBands,
        newPred = Some("doc_id >= 1000000"),
        corpusSql = """WITH corpus AS (
          |  SELECT doc_id, text FROM documents WHERE doc_id % 20 = 0
          |  UNION ALL
          |  SELECT doc_id + 2000000, text FROM documents
          |  WHERE doc_id % 200 = 0
          |  UNION ALL
          |  SELECT doc_id + 1000000, array_to_string(l[1:len(l)-2], ' ')
          |  FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents)
          |  WHERE doc_id % 200 = 0
          |)""".stripMargin)),
    ),
    QuerySpec(
      "v11_survivors_sf1slice",
      (s, d) => nearDupSurvivors(slicedPlanted(s, d)),
      Some(d11OracleSql(slicedCorpusCte)),
    ),
    QuerySpec(
      "v17_softdedup_sf1slice",
      (s, d) => softDedupWeights(slicedPlanted(s, d)),
      Some(d17OracleSql(slicedCorpusCte)),
    ),
    // d20 sliced: train side = 5% of raw docs, benchmark derives from the
    // SAME subset (doc_id % 23 = 0 within the slice), so every planted
    // bench paraphrase still has its train twin present.
    QuerySpec(
      "v20_decontam_sf1slice",
      (s, d) => crossCorpusNearDup(
        Tables(s, d, "documents").select(col("doc_id"), col("text"))
          .filter(col("doc_id") % 20 === 0)),
      Some(d20OracleSql(slicePred = "doc_id % 20 = 0")),
    ),
    // v21 is c21's slice row; the d21 survivor-quality rule gets v21b.
    QuerySpec(
      "v21b_quality_survivors_sf1slice",
      (s, d) => qualitySurvivors(slicedPlanted(s, d)),
      Some(d21OracleSql(slicedCorpusCte)),
    ),
  )

  /** d11's oracle over a pluggable corpus CTE (shared with v11): the
    * outer corpus CTE is re-declared (the one inside the pairs subquery
    * is scoped to it); reach/comp mirror the d08 oracle.
    */
  private def d11OracleSql(corpusSql: String): String = {
    val corpusBody = corpusSql.stripPrefix("WITH ")
    s"""WITH RECURSIVE pairs AS MATERIALIZED (
       |${lshOracleSql(MinHashBands,
            corpusSql = corpusSql)}
       |),
       |$corpusBody,
       |$componentSqlCtes,
       |losers AS (SELECT id FROM comp WHERE id != component)
       |SELECT lang, COUNT(*) AS n_kept,
       |  md5(array_to_string(list_sort(list(doc_id)), ',')) AS kept_digest
       |FROM corpus ANTI JOIN losers ON doc_id = id
       |GROUP BY lang ORDER BY lang""".stripMargin
  }

  /** d17's oracle over a pluggable corpus CTE (shared with v17). */
  private def d17OracleSql(corpusSql: String): String =
    s"""WITH RECURSIVE pairs AS MATERIALIZED (
       |${lshOracleSql(MinHashBands,
            corpusSql = corpusSql)}
       |),
       |$componentSqlCtes,
       |sizes AS (
       |  SELECT component, COUNT(*) AS cluster_size FROM comp
       |  GROUP BY component)
       |SELECT c.id AS doc_id, s.cluster_size,
       |  CAST(1.0 AS DOUBLE) / CAST(s.cluster_size AS DOUBLE) AS weight
       |FROM comp c JOIN sizes s ON c.component = s.component
       |ORDER BY doc_id""".stripMargin

  /** d21's oracle over a pluggable corpus CTE (shared with v21b). */
  private def d21OracleSql(corpusSql: String): String = {
    val corpusBody = corpusSql.stripPrefix("WITH ")
    s"""WITH RECURSIVE pairs AS MATERIALIZED (
       |${lshOracleSql(MinHashBands,
            corpusSql = corpusSql)}
       |),
       |$corpusBody,
       |$componentSqlCtes,
       |lab AS (
       |  SELECT s.doc_id, s.lang, CAST(length(s.text) AS BIGINT) AS len,
       |    COALESCE(c.component, s.doc_id) AS comp
       |  FROM corpus s LEFT JOIN comp c ON s.doc_id = c.id),
       |keep AS (
       |  SELECT doc_id AS keep_id FROM (
       |    SELECT doc_id, row_number() OVER (
       |      PARTITION BY comp ORDER BY len DESC, doc_id) AS rn
       |    FROM lab) WHERE rn = 1)
       |SELECT lang, COUNT(*) AS n_kept,
       |  md5(array_to_string(list_sort(list(doc_id)), ',')) AS kept_digest
       |FROM lab SEMI JOIN keep ON lab.doc_id = keep.keep_id
       |GROUP BY lang ORDER BY lang""".stripMargin
  }

  /** d20's oracle with a pluggable slice predicate over the raw doc_id
    * (shared with v20): train side keeps docs matching the predicate, the
    * planted benchmark derives from the SAME subset so every bench doc's
    * train twin is present.
    */
  private def d20OracleSql(slicePred: String): String = {
    val benchCorpus =
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents WHERE $slicePred
         |  UNION ALL
         |  SELECT doc_id + 5000000,
         |         array_to_string(l[1:len(l)-2], ' ')
         |  FROM (SELECT doc_id, string_split(text, ' ') AS l
         |        FROM documents)
         |  WHERE doc_id % 23 = 0 AND ($slicePred)
         |)""".stripMargin
    lshOracleSql(MinHashBands,
      newPred = Some("doc_id >= 5000000"),
      corpusSql = benchCorpus,
      finalSql = Some(
        s"""SELECT a_id AS train_id, b_id - 5000000 AS bench_src,
           |  $jacSql AS jac
           |FROM cand
           |JOIN shingled sa ON sa.doc_id = a_id
           |JOIN shingled sb ON sb.doc_id = b_id
           |WHERE $jacSql >= $JaccardMin AND a_id < 5000000
           |ORDER BY train_id, bench_src""".stripMargin))
  }

  /** d08's oracle over a pluggable corpus CTE (shared with v08). */
  private def d08OracleSql(corpusSql: String): String =
    s"""WITH RECURSIVE pairs AS MATERIALIZED (
       |${lshOracleSql(MinHashBands,
          corpusSql = corpusSql)}
       |),
       |$componentSqlCtes
       |SELECT component, COUNT(*) AS n_docs,
       |       array_to_string(list_sort(list(id)), ',') AS members
       |FROM comp GROUP BY component ORDER BY component""".stripMargin

  /** c21's oracle over a pluggable corpus CTE (shared with v21). */
  private def c21OracleSql(corpusSql: String): String = {
    val corpusBody = corpusSql.stripPrefix("WITH ")
    val fnv = graft.engine.DuckHash.fnv(
      "'split|' || CAST(component AS VARCHAR)")
    // head is margin-stripped; the fnv fragment contains '|' (both
    // the literal and HUGEINT ops), so it concatenates AFTER
    s"""WITH RECURSIVE pairs AS MATERIALIZED (
       |${lshOracleSql(MinHashBands,
          corpusSql = corpusSql)}
       |),
       |$corpusBody,
       |$componentSqlCtes,
       |assigned AS (
       |  SELECT c.doc_id, COALESCE(p.component, c.doc_id) AS component
       |  FROM corpus c LEFT JOIN comp p ON c.doc_id = p.id),""".stripMargin +
      s"\nbucketed AS (\n" +
      s"  SELECT doc_id, CASE WHEN b < 8 THEN 'train' WHEN b = 8 " +
      s"THEN 'val' ELSE 'test' END AS split\n" +
      s"  FROM (SELECT doc_id, CAST((($fnv) // 256) % 10 AS BIGINT) AS b" +
      s" FROM assigned) t)\n" +
      "SELECT split, COUNT(*) AS n_docs,\n" +
      "  md5(array_to_string(list_sort(list(doc_id)), ',')) AS members_md5\n" +
      "FROM bucketed GROUP BY split ORDER BY split"
  }

  /** The span-level frame under [[substrSpans]]: one (doc_id, s0, e0) row
    * per maximal duplicated region — exposed so the d18 apply step can
    * attach spans back onto documents.
    */
  def substrSpanList(docs: DataFrame, w: Int): DataFrame = {
    val tk = split(col("text"), " ")
    // fused positional gram hashes (GramHashPos): each token hashed once,
    // each window folds w 8-byte word hashes — no w-word gram STRING is
    // ever materialized (the r7 form allocated ~100 B × (len−w+1) per doc
    // and hashed each twice; this was the sf1 suite's slowest query).
    // Variant 1 hashes an independently-mixed word image, so the
    // collision guard below still catches first-key collisions.
    // NOT checkpointed (measured, round 9): grams feeds both the dup-key
    // aggregation and the hits join, so it computes twice — but it is a
    // stride-1 fan-out (~one 28-byte row per corpus TOKEN), and
    // materializing that multi-GB stream cost 3× the recompute at the 1M
    // probe (7.4 s → 21.9 s) while pressuring the block manager for every
    // later stage. The fused GramHashPos kernel makes the second pass
    // cheap; recompute-over-materialize is the right trade for fan-out
    // streams (same call as lineKeep; contrast CC's narrow pair frame,
    // where the checkpoint IS the win).
    val grams = docs
      .filter(size(tk) >= w)
      .select(col("doc_id"),
        posexplode(arrays_zip(ghash.gramHashPos(tk, w),
          ghash.gramHashPos(tk, w, variant = 1))).as(Seq("pos", "z")))
      .select(col("doc_id"), col("pos"),
        col("z.0").as("h"), col("z.1").as("h2"))
    val dupKeys = grams.groupBy("h")
      .agg(min(col("doc_id")).as("dmin"), max(col("doc_id")).as("dmax"),
        min(col("h2")).as("h2lo"), max(col("h2")).as("h2hi"))
      .filter(col("dmin") =!= col("dmax"))
      .select(col("h"),
        when(col("h2lo") =!= col("h2hi"),
          raise_error(lit("d15 64-bit gram-hash collision: distinct " +
            "W-grams share one fnv1a64 key; span verdicts would be " +
            "silently wrong"))).otherwise(lit(true)).as("ok"))
    val hits = grams.select("doc_id", "pos", "h")
      .join(dupKeys, Seq("h")).filter(col("ok"))
    val win = Window.partitionBy("doc_id").orderBy("pos")
    // equal-width intervals sorted by start have sorted ends, so the
    // gaps-and-islands test reduces to pos > lag(pos) + W (strictly
    // past the previous gram's end; == W is adjacent → same region)
    hits
      .withColumn("newisl",
        when(lag(col("pos"), 1).over(win).isNull ||
          col("pos") > lag(col("pos"), 1).over(win) + w, 1L).otherwise(0L))
      .withColumn("island", sum(col("newisl")).over(win))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).as("s0"), (max(col("pos")) + w).as("e0"))
  }

  /** Per-doc merged duplicated-substring spans over `docs(doc_id, text)` —
    * the d15 kernel (see that QuerySpec's doc-comment for the full scale
    * rationale). Output: (doc_id, n_spans, dup_tokens, spans_md5), one row
    * per doc owning at least one cross-doc duplicated `w`-gram.
    */
  def substrSpans(docs: DataFrame, w: Int): DataFrame =
    substrSpanList(docs, w).groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum((col("e0") - col("s0")).cast(LongType)).as("dup_tokens"),
        md5(concat_ws(",",
          transform(array_sort(collect_list(struct(col("s0"), col("e0")))),
            x => concat(x.getField("s0").cast("string"), lit("-"),
              x.getField("e0").cast("string"))))).as("spans_md5"))

  /** Bloom-membership predicate over `historical(key)`: None iff historical
    * is empty, else a codegen'd might-contain Column usable on any frame's
    * `key` column. The bloom binary is driver-materialized once — the same
    * materialization Spark performs for injected runtime filters.
    */
  def bloomMembership(historical: DataFrame, key: String,
      expectedItems: Long): Option[Column => Column] = {
    import org.apache.spark.sql.{GraftColumnBridge => B}
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, XxHash64}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.types.BinaryType

    def xx(c: Column) = new XxHash64(Seq(B.catalystExpression(c)))
    val numBits = 10L * expectedItems // ~0.8% FP at design capacity
    val bfAgg = B.column(new BloomFilterAggregate(xx(historical(key)),
      Literal(expectedItems), Literal(numBits)).toAggregateExpression())
    Option(historical.select(bfAgg.as("bf")).head().getAs[Array[Byte]](0))
      .map { bf => c =>
        B.column(BloomFilterMightContain(Literal(bf, BinaryType), xx(c)))
      }
  }

  /** Rows of `newBatch` whose `key` does not appear in `historical(key)`,
    * computed as bloom-prefilter + exact confirm (see d16's doc-comment).
    * Exact regardless of bloom parameters: misses are provably-unseen,
    * positives are re-checked with a real anti join.
    */
  def bloomGuardedNewRows(newBatch: DataFrame, historical: DataFrame,
      key: String, expectedItems: Long = 1L << 16): DataFrame =
    bloomMembership(historical, key, expectedItems) match {
      case None => newBatch // empty historical: every batch row is new
      case Some(might) =>
        newBatch.filter(!might(newBatch(key))).unionByName(
          newBatch.filter(might(newBatch(key)))
            .join(historical, Seq(key), "left_anti"))
    }
}

/** The d15 planted syndication notice — exactly 20 words (> W = 16), so
  * prepending it to every 5th doc creates W-grams at pos 0..4 that collide
  * corpus-wide: every planted doc's merged span must cover [0, 20).
  * (Straddle grams may extend it further when two planted docs share a
  * leading word — common under the synthetic corpus's tiny vocabulary.)
  */
private[graft] object SubstrDedup {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions._

  /** Gram width in words — Lee et al. use 50 BPE tokens; 16 words keeps
    * the planted 20-word notice wider than one gram at test scale.
    */
  val W = 16

  val notice: String =
    "this article was originally published on our partner network and is " +
      "redistributed here with full permission from the original author"

  def plantText(docId: Column, text: Column): Column =
    when(docId % 5 === 0, concat(lit(notice), lit(" "), text)).otherwise(text)

  val plantSqlExpr: String =
    s"CASE WHEN doc_id % 5 = 0 THEN '$notice' || ' ' || text ELSE text END"

  /** The planted→grams→dup→islands→spans CTE chain shared by the d15
    * (report) and d18 (strip) oracles — ends at `spans(doc_id, island,
    * s0, e0)` with `planted(doc_id, text)` also in scope. Mirrors
    * [[Dedup.substrSpanList]] exactly.
    */
  val spanSqlCtes: String =
    s"""planted AS (
       |  SELECT doc_id, $plantSqlExpr AS text
       |  FROM documents),
       |g0 AS (
       |  SELECT doc_id,
       |    list_transform(
       |      range(0, len(string_split(text, ' ')) - ${W - 1}),
       |      i -> {'pos': i,
       |            'g': array_to_string(
       |              (string_split(text, ' '))[i+1 : i+$W], ' ')}) AS gs
       |  FROM planted
       |  WHERE len(string_split(text, ' ')) >= $W),
       |g AS (SELECT doc_id, unnest(gs, recursive := true) FROM g0),
       |dup AS (SELECT g FROM g GROUP BY g
       |        HAVING MIN(doc_id) <> MAX(doc_id)),
       |hits AS (SELECT doc_id, pos FROM g JOIN dup USING (g)),
       |isl AS (SELECT doc_id, pos,
       |    CASE WHEN lag(pos) OVER w IS NULL
       |              OR pos > lag(pos) OVER w + $W
       |         THEN 1 ELSE 0 END AS newisl
       |  FROM hits WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
       |isl2 AS (SELECT doc_id, pos,
       |    SUM(newisl) OVER (PARTITION BY doc_id ORDER BY pos) AS island
       |  FROM isl),
       |spans AS (SELECT doc_id, island, MIN(pos) AS s0, MAX(pos) + $W AS e0
       |  FROM isl2 GROUP BY doc_id, island)""".stripMargin
}

/** Fixed 12-word boilerplate banners for [[Dedup]] d12 — exactly 12 words
  * each so a planted banner occupies exactly one 12-word line after
  * segmentation and therefore collides verbatim across the docs it was
  * planted on (while every line of real text stays corpus-unique).
  */
private[graft] object LineDedup {
  import org.apache.spark.sql.{Column, DataFrame}
  import org.apache.spark.sql.functions._

  val boilerplate: Seq[String] = Seq(
    "subscribe to our free newsletter today for the latest updates every week",
    "all rights reserved please read the full terms of service before continuing",
    "click here to accept cookies and continue reading this page without interruption",
  )

  /** Banner-planting expression — THE definition shared by the d12 spec
    * and the p01 publish pipeline (their cross-checks are only meaningful
    * while both plant identically):
    * every 7th doc gets banner (doc_id % 3) prepended.
    */
  def plantText(docId: Column, text: Column): Column = {
    val bps = array(boilerplate.map(lit): _*)
    when(docId % 7 === 0,
      concat(element_at(bps, (docId % 3).cast("int") + 1), lit(" "), text))
      .otherwise(text)
  }

  /** DuckDB text of [[plantText]] over bare `doc_id`/`text` columns. */
  val plantSqlExpr: String = {
    val list = boilerplate.map(b => s"'$b'").mkString(", ")
    s"""CASE WHEN doc_id % 7 = 0
       |         THEN ([$list])[CAST(doc_id % 3 AS INT) + 1] || ' ' || text
       |         ELSE text END""".stripMargin
  }

  /** Aggregation expression rebuilding a doc's kept text from
    * [[Dedup.lineKeep]] rows (pos order) — shared by d12 (md5-pins it)
    * and [[cleaned]] (feeds it to the p01/p05/p16 quality stages).
    */
  def keptTextAgg: Column =
    array_join(
      transform(
        filter(array_sort(collect_list(struct(col("pos"), col("keep"), col("line")))),
          x => x.getField("keep")),
        x => x.getField("line")),
      " ")

  /** DuckDB CTE block mirroring [[Dedup.lineKeep]] over a `planted`
    * (doc_id, text, …) CTE: produces `k`(doc_id, pos, line, keep).
    * Shared by the d12 oracle and [[cleanSqlCtes]].
    */
  val lineKeepSqlCtes: String =
    """l0 AS (
      |  SELECT doc_id,
      |    list_transform(
      |      range(0, (len(string_split(text, ' ')) + 11) // 12),
      |      i -> {'pos': i,
      |            'line': array_to_string(
      |              (string_split(text, ' '))[i*12+1 : i*12+12], ' ')}) AS ls
      |  FROM planted),
      |l AS (SELECT doc_id, unnest(ls, recursive := true) FROM l0),
      |lc AS (SELECT line, COUNT(*) AS cnt,
      |         MIN(doc_id * 1048576 + pos) AS surv
      |       FROM l GROUP BY line),
      |k AS (SELECT doc_id, pos, l.line,
      |        (cnt = 1 OR doc_id * 1048576 + pos = surv) AS keep
      |      FROM l JOIN lc USING (line))""".stripMargin

  /** (doc_id, source, text) with [[plantText]] applied — the planted
    * corpus of p01, p05 and p16.
    */
  def planted(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("source"),
      plantText(col("doc_id"), col("text")).as("text"))

  /** The clean stage of p01, p05 and p16: [[Dedup.lineKeep]] over the
    * planted text, each doc's kept lines reassembled ([[keptTextAgg]]),
    * its source re-attached — (doc_id, text, source).
    */
  def cleaned(planted: DataFrame): DataFrame =
    Dedup.lineKeep(planted.select("doc_id", "text"))
      .groupBy("doc_id")
      .agg(keptTextAgg.as("text"))
      .join(planted.select("doc_id", "source"), "doc_id")

  /** [[cleaned]] ∘ [[planted]] over `documents` as DuckDB CTEs:
    * `planted` → [[lineKeepSqlCtes]] → `cleaned` →
    * `withsrc(doc_id, source, text)` — the p01, p05 and p16 oracles.
    */
  val cleanSqlCtes: String =
    s"""planted AS (
       |  SELECT doc_id, source,
       |    $plantSqlExpr AS text
       |  FROM documents),
       |$lineKeepSqlCtes,
       |cleaned AS (
       |  SELECT k.doc_id,
       |    COALESCE(string_agg(CASE WHEN keep THEN line END, ' '
       |      ORDER BY pos), '') AS text
       |  FROM k GROUP BY k.doc_id),
       |withsrc AS (
       |  SELECT c.doc_id, p.source, c.text FROM cleaned c
       |  JOIN planted p ON c.doc_id = p.doc_id)""".stripMargin
}

/** d22's planted noisy banner + CCNet normalizer — ONE definition shared by
  * the Spark plan, the DuckDB oracle mirror, and DedupSpec (the d12
  * shared-expression discipline). The banner varies in DIGITS (doc_id % 97)
  * and CASE (upper for even doc_id) per planting doc, so raw-text keys see
  * up to 2·97·3 distinct strings while the normalizer folds them to 3 —
  * exactly the near-boilerplate CCNet's normalized hashes catch.
  */
private[graft] object ParaDedup {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions._

  val templates: Seq[(String, String)] = Seq(
    ("our weekly newsletter issue ", " is free for the next 7 days subscribe now"),
    ("all content copyright year ", " some rights reserved see terms for details"),
    ("cookie notice revision ", " accept to continue reading this page"))

  /** CCNet-style normalization: lowercase, digit runs → 0, trim. Both
    * engines replace ALL matches ('g' in DuckDB; Java default).
    */
  def norm(p: Column): Column = trim(regexp_replace(lower(p), "[0-9]+", "0"))

  val normSql: String =
    "trim(regexp_replace(lower(%s), '[0-9]+', '0', 'g'))"

  def banner(docId: Column): Column = {
    val n = (docId % 97).cast("string")
    val pieces = templates.map { case (a, b) => concat(lit(a), n, lit(b)) }
    val sel = element_at(array(pieces: _*), (docId % 3).cast("int") + 1)
    when(docId % 2 === 0, upper(sel)).otherwise(sel)
  }

  val bannerSql: String = {
    val list = templates.map { case (a, b) =>
      s"'$a' || CAST(doc_id % 97 AS VARCHAR) || '$b'"
    }.mkString(", ")
    s"""CASE WHEN doc_id % 2 = 0
       | THEN upper(([$list])[CAST(doc_id % 3 AS INT) + 1])
       | ELSE ([$list])[CAST(doc_id % 3 AS INT) + 1] END""".stripMargin
  }

  /** DuckDB CTE block mirroring [[Dedup.paragraphKeep]] + the planting in
    * `withParas` over the raw documents table: produces
    * `k`(doc_id, pos, para, keep). Width [[Dedup.ParaWidth]]; banner prepended for
    * doc_id % 5 = 0 (both parities, so the case variant varies); counts
    * group by the NORMALIZED paragraph string.
    */
  val paraKeepSqlCtes: String = {
    val normPara = normSql.format("para")
    val W = Dedup.ParaWidth
    s"""p0 AS (
       |  SELECT doc_id,
       |    list_transform(
       |      range(0, (len(string_split(text, ' ')) + ${W - 1}) // $W),
       |      i -> array_to_string(
       |             (string_split(text, ' '))[i*$W+1 : i*$W+$W], ' ')) AS segs
       |  FROM documents),
       |p1 AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 5 = 0
       |         THEN list_prepend($bannerSql, segs)
       |         ELSE segs END AS ps
       |  FROM p0),
       |p2 AS (
       |  SELECT doc_id,
       |    list_transform(range(0, len(ps)),
       |      i -> {'pos': i, 'para': ps[i+1]}) AS pl
       |  FROM p1),
       |p AS (SELECT doc_id, unnest(pl, recursive := true) FROM p2),
       |pc AS (SELECT $normPara AS np, COUNT(*) AS cnt,
       |         MIN(doc_id * 1048576 + pos) AS surv
       |       FROM p GROUP BY 1),
       |k AS (SELECT doc_id, pos, p.para,
       |        (cnt = 1 OR doc_id * 1048576 + pos = surv) AS keep
       |      FROM p JOIN pc ON $normPara = np)""".stripMargin
  }
}
