package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.QuerySpec
import graft.engine.Tables

/** End-to-end pipeline composition — the "publish" run a curation team
  * ships: boilerplate line dedup (d12) → quality filter on the CLEANED
  * text (t09 rules) → exact dedup of survivors (d01) → per-doc manifest.
  * The value of gating the composition (and not just each stage) is that
  * stage coupling is where pipelines rot: the filter must see post-clean
  * text, the dedup must run after the filter, and the manifest digest must
  * be of the text a trainer would actually read. One query, one oracle,
  * the whole chain hash-pinned.
  *
  * Scale shape is the union of its stages' shapes — line-count shuffle +
  * per-doc regroup (d12), map-side rules (t09), one digest-keyed
  * aggregation (d01) — nothing new is added by composing, which is itself
  * the point: the stages were built to chain.
  */
object Pipeline {

  /** One parsed record from a WARC-style container (p11). */
  case class WarcRecord(container_id: Long, rec_doc_id: Long,
      declared_len: Long, rec_off: Long, payload_md5: String)

  private def md5hex(s: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
    d.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
  }

  /** Declared-size record walk over one container — the parseRiff pattern
    * (multimodal/Multimodal.scala:190) on the Common-Crawl-interchange
    * shape: `REC <id> <len>\n` header, `<len>` payload chars, `\n`
    * terminator, repeated. The walk advances by the DECLARED length and
    * verifies the terminator lands where the header promised — it never
    * splits on payload content, so a payload containing header-lookalike
    * bytes (PipelineSpec plants one) cannot desync it, and a corrupted
    * length fails the parse instead of silently shifting every record
    * after it.
    */
  private[graft] def walkContainer(cid: Long, s: String): Seq[WarcRecord] = {
    val out = Vector.newBuilder[WarcRecord]
    var off = 0
    while (off < s.length) {
      val nl = s.indexOf('\n', off)
      require(nl > off, s"container $cid: unterminated header at $off")
      val header = s.substring(off, nl)
      val parts = header.split(" ")
      require(parts.length == 3 && parts(0) == "REC",
        s"container $cid: bad record header '$header' at $off")
      val id = parts(1).toLong
      // Long, and bounds-checked in Long: a well-formed header declaring a
      // length near Int.MaxValue must fail THIS require, not overflow
      // `start + len` to negative and slip past into charAt.
      val len = parts(2).toLong
      val start = nl + 1
      // len is bounded BEFORE it enters the sum: with len < s.length
      // (an Int), start.toLong + len < 2^32 — no Long wrap is possible,
      // closing the len == Long.MaxValue hole where the wrapped sum
      // (negative) passed `< s.length` and charAt happened to land on
      // this header's own '\n'.
      require(len >= 0 && len < s.length && start.toLong + len < s.length &&
          s.charAt((start + len).toInt) == '\n',
        s"container $cid: record $id (declared $len) overruns the " +
          "container or is missing its terminator")
      val end = (start + len).toInt // < s.length, proven above
      out += WarcRecord(cid, id, len, off.toLong,
        md5hex(s.substring(start, end)))
      off = end + 1
    }
    out.result()
  }

  /** p11's engine. Input needs (doc_id, text); synthesizes 50-doc
    * containers then ingests them with [[walkContainer]]. See the p11
    * QuerySpec comment for the full design narrative.
    */
  def warcIngest(in: DataFrame): DataFrame = {
    val s = in.sparkSession
    import s.implicits._
    val recs = in
      .select(expr("doc_id div 50").as("container_id"), col("doc_id"),
        concat(lit("REC "), col("doc_id").cast("string"), lit(" "),
          length(col("text")).cast("string"), lit("\n"),
          col("text"), lit("\n")).as("rec"))
    val containers = recs
      .groupBy("container_id")
      .agg(array_sort(collect_list(struct(col("doc_id"), col("rec"))))
        .as("rs"))
      .select(col("container_id"),
        concat_ws("", expr("transform(rs, x -> x.rec)")).as("container"))
    containers.as[(Long, String)]
      .flatMap { case (cid, c) => walkContainer(cid, c) }
      .toDF()
      .orderBy("rec_doc_id")
  }

  // p09's compaction contract, read by the engine and its oracle: docs
  // per shard, the keep/merge size target in bytes, shards per packing
  // domain
  private val CompactShardDocs = 64
  private val CompactTargetBytes = 65536L
  private val CompactDomain = 4096

  /** p09's engine (scale runs: the `p09` lines of dev/scaleprobe_r14.jsonl).
    * See the p09 QuerySpec comment for the full design narrative
    * (first-fit by prefix sum, 4096-shard packing domains, planted size
    * inflation on every 5th shard).
    */
  def compactionPlan(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (b, t, dom) = (CompactShardDocs, CompactTargetBytes, CompactDomain)
    val shards = docs
      .select(expr(s"doc_id div $b").as("shard"),
        (octet_length(col("text")).cast(LongType) *
          when(expr(s"(doc_id div $b) % 5 = 0"), 8L).otherwise(1L)).as("bsz"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum(col("bsz")).as("bytes"))
    val keeps = shards.filter(col("bytes") >= t)
      .select(col("shard"), col("n_docs"), col("bytes"),
        lit("keep").as("action"), lit(null).cast(LongType).as("grp"))
    val w = Window.partitionBy(expr(s"shard div $dom")).orderBy("shard")
      .rowsBetween(Window.unboundedPreceding, -1)
    val merges = shards.filter(col("bytes") < t)
      .withColumn("before", coalesce(sum(col("bytes")).over(w), lit(0L)))
      .select(col("shard"), col("n_docs"), col("bytes"),
        lit("merge").as("action"),
        (expr(s"shard div $dom") * dom + expr(s"before div $t")).as("grp"))
    keeps.unionByName(merges).orderBy("shard")
  }

  /** Bucketed managed-table write shared by p14 and its probe. A managed
    * table's LOCATION outlives the in-memory catalog: a previous JVM's
    * warehouse dir makes saveAsTable fail with LOCATION_ALREADY_EXISTS
    * even under mode(overwrite) (the catalog has no table to overwrite),
    * so an orphaned location — on disk but unknown to THIS session's
    * catalog — is cleared before writing.
    */
  private[graft] def bucketedWrite(s: org.apache.spark.sql.SparkSession,
      name: String, df: DataFrame): Unit =
    bucketedWriteBy(s, name, df, 8, "doc_id")

  /** Generalized bucketed write (r19: shared with c36b's bucketed KN base).
    * Same catalog/orphan-location hygiene as [[bucketedWrite]], bucket
    * column and count parameterised.
    */
  private[graft] def bucketedWriteBy(s: org.apache.spark.sql.SparkSession,
      name: String, df: DataFrame, buckets: Int, bucketCol: String): Unit = {
    // Catalog-first drop (clears table + location through the right code
    // path), then clear only a still-ORPHANED location — on disk but
    // unknown to THIS session's catalog — via the Hadoop FileSystem,
    // which handles non-file schemes and URI-encoded/space-containing
    // warehouse paths that raw java.io/URI.create would mangle (r15
    // ADVICE). The caller passes per-data-dir table names, so the delete
    // can never hit another run's live table.
    s.sql(s"DROP TABLE IF EXISTS `$name`")
    try {
      val loc = new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.warehouse.dir"), name)
      val fs = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) fs.delete(loc, true)
    } catch { case _: Throwable => () }
    df.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, bucketCol).sortBy(bucketCol)
      .saveAsTable(name)
  }

  /** Per-data-dir managed-table suffix: two runs over different scale dirs
    * (or Verify + a probe sharing a warehouse) must not race on one table
    * name (r15 ADVICE — p14's fixed names were non-reentrant).
    */
  private[graft] def dirTag(d: String): String =
    (scala.util.hashing.MurmurHash3.stringHash(
      new java.io.File(d).getAbsolutePath) & 0x7fffffff).toHexString

  /** p12's engine (scale runs: the `p12` lines of dev/scaleprobe_r15.jsonl).
    * Input needs (doc_id, text); synthesizes the deterministic revision
    * fan-out and collapses it latest-wins. See the p12 QuerySpec comment
    * for the design narrative (struct-max partial agg, not a window).
    */
  def latestWinsMerge(docs: DataFrame): DataFrame =
    latestWinsAgg(revisionFrame(docs)).orderBy("doc_id")

  /** p12's deterministic revision fan-out — ONE definition shared by the
    * batch merge and the streaming twin ([[graft.streaming.Streams]]
    * latestWins).
    */
  private[graft] def revisionFrame(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(0L), pmod(col("doc_id"), lit(3L))))
          .as("rev"))
      .select(col("doc_id"), col("rev"),
        pmod(col("rev") * 7919L + col("doc_id"), lit(10007L)).as("ts"),
        md5(concat(col("text"), lit("|"), col("rev").cast("string")))
          .as("digest"))

  /** The latest-wins collapse itself — a MERGEABLE aggregate, which is
    * what makes the identical code both the batch operator and a
    * streaming stateful aggregation (the window form streams not at all).
    */
  private[graft] def latestWinsAgg(revs: DataFrame): DataFrame =
    revs
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_revs"),
        max(struct(col("ts"), col("rev"), col("digest"))).as("latest"))
      .select(col("doc_id"), col("n_revs"),
        col("latest.rev").as("latest_rev"),
        col("latest.ts").as("latest_ts"),
        col("latest.digest").as("latest_md5"))

  /** p13's engine (scale runs: the `p13` lines of dev/scaleprobe_r15.jsonl).
    * Input needs (shard, tsu, value) — the caller maps its table to the
    * zone grain. See the p13 QuerySpec comment for the design narrative
    * (zone maps + middle-third window verdict).
    */
  def zoneMapPrune(ev: DataFrame): DataFrame =
    zoneVerdict(zoneStats(ev).localCheckpoint(true))

  /** The per-shard zone statistics — 6 MERGEABLE accumulators (count,
    * min/max ts, min/max value). Mergeability is the whole design: it is
    * what makes the manifest maintainable per-append ([[zoneMapMerge]])
    * and streamable ([[graft.streaming.Streams]] zoneStats twin) with
    * the SAME code, instead of a rebuild-only artifact.
    */
  private[graft] def zoneStats(ev: DataFrame): DataFrame =
    ev.groupBy("shard").agg(
      count(lit(1)).as("n_rows"),
      min(col("tsu")).as("min_ts"), max(col("tsu")).as("max_ts"),
      min(col("value")).as("min_value"), max(col("value")).as("max_value"))

  /** The base/append cutoff of the incremental-equivalence rows (p15,
    * s20, c36, c39 and the streaming ANN twin): rows with `key` ≤ the
    * returned value are the base, the rest the append batch. One bounded
    * driver scalar, max(`key`)·4/5 under floor division, kept a literal so
    * the slice predicates push down (a crossJoin'd scalar would block
    * partition pruning). max() over an empty input is NULL: the cutoff is
    * then Long.MinValue, so everything is delta and the base is empty —
    * a clean empty result instead of an NPE on getLong. Each oracle
    * derives the same cutoff in its own SQL.
    */
  private[graft] def appendCutoff(df: DataFrame, key: String): Long = {
    val mxRow = df.agg(max(col(key))).head
    if (mxRow.isNullAt(0)) Long.MinValue else mxRow.getLong(0) * 4 / 5
  }

  /** p15's engine — incremental zone-map maintenance (r15 VERDICT item
    * 5): fold a batch of APPENDED rows into a stored manifest without
    * rescanning the base data. `manifest` is zone-grain rows (what p13
    * persisted); `delta` is the appended rows. The delta aggregates at
    * the zone grain (one small shuffle over the NEW rows only), unions
    * with the manifest, and one zone-grain rollup merges overlapping
    * shards — sum(n), min(min), max(max) are exactly the upsert a
    * 100 TB store runs per appended shard, p12's latest-wins pattern
    * with merge instead of replace semantics. Because every statistic
    * is mergeable and base/delta partition the rows, the result is
    * PROVABLY identical to a full rebuild — which is what the p15
    * oracle verifies (the d10 incremental-equivalence pattern).
    */
  private[graft] def zoneMapMerge(manifest: DataFrame,
      delta: DataFrame): DataFrame =
    zoneVerdict(zoneMergeRaw(manifest, delta))

  /** The pre-verdict zone-grain merge of a stored manifest with an
    * append batch — split out of [[zoneMapMerge]] so takedown
    * ([[zoneDeleteRaw]]) and the interleaved delete∘append spec can
    * compose maintenance steps before the one verdict pass.
    */
  private[graft] def zoneMergeRaw(manifest: DataFrame,
      delta: DataFrame): DataFrame =
    manifest.unionByName(zoneStats(delta))
      .groupBy("shard").agg(
        sum(col("n_rows")).as("n_rows"),
        min(col("min_ts")).as("min_ts"), max(col("max_ts")).as("max_ts"),
        min(col("min_value")).as("min_value"),
        max(col("max_value")).as("max_value"))
      .localCheckpoint(true)

  /** Takedown propagation into a stored zone manifest (r17 verdict item
    * 3, the s20b pattern applied to p15's artifact). min/max zone
    * statistics are append-mergeable but NOT delete-mergeable (a min
    * cannot be subtracted), so the honest delete path is SCOPED
    * RECOMPUTE: the delete list names its affected shards (a relation,
    * broadcast — at real takedown rates a handful of zones), untouched
    * manifest rows pass through byte-identical, and ONLY the affected
    * shards' surviving rows re-aggregate. On a 100 TB store the
    * affected-shard join is exactly the partition predicate a columnar
    * layout prunes by, so the rescan cost is proportional to the zones
    * a takedown touches, never the corpus. Zones whose every row is
    * deleted vanish (zoneStats over zero rows yields no group) — same
    * as a rebuild. Result is PROVABLY identical to rebuilding over the
    * survivors, which is what the p17 oracle checks (the d10/s20b
    * rebuild-over-survivors pattern).
    */
  private[graft] def zoneDeleteRaw(manifest: DataFrame, rows: DataFrame,
      delPred: Column): DataFrame = {
    val affected = rows.filter(delPred).select("shard").distinct()
    manifest.join(broadcast(affected), Seq("shard"), "left_anti")
      .unionByName(zoneStats(
        rows.filter(!delPred).join(broadcast(affected), Seq("shard"))))
  }

  /** The skip verdict over a zone frame: global bounds FROM the zone
    * rows (|shards| rows), not a second corpus scan — min(min) = min,
    * and the caller's checkpoint pins the one scan that both the
    * manifest rows and the bounds derive from.
    */
  private[graft] def zoneVerdict(zones: DataFrame): DataFrame = {
    val bounds = zones.agg(
      min(col("min_ts")).as("gmin"), max(col("max_ts")).as("gmax"))
    zones.crossJoin(broadcast(bounds))
      .withColumn("win_lo", expr("gmin + (gmax - gmin) div 3"))
      .withColumn("win_hi", expr("gmin + (2 * (gmax - gmin)) div 3"))
      .select(col("shard"), col("n_rows"), col("min_ts"), col("max_ts"),
        col("min_value"), col("max_value"), col("win_lo"), col("win_hi"),
        (col("max_ts") < col("win_lo") || col("min_ts") >= col("win_hi"))
          .as("skip"))
      .orderBy("shard")
  }

  /** The per-doc post-gate table (Gopher-scored, content-digested) — the
    * artifact a publish run persists alongside its manifest; the
    * takedown path reads it instead of re-running the gate (the gate is
    * per-doc, so it is deletion-stable by construction).
    */
  private[graft] def gateScored(docs: DataFrame): DataFrame = {
    val Seq(nw, mwl, nst, rep) = TextOps.Gopher.signals(col("text"))
    docs
      .withColumn("n_words", nw).withColumn("mwl", mwl)
      .withColumn("n_stop", nst).withColumn("rep", rep)
      .filter(TextOps.Gopher.keep(
        col("n_words"), col("mwl"), col("n_stop"), col("rep")))
      .select(col("doc_id"), col("source"), col("n_words"),
        md5(col("text")).as("text_md5"))
  }

  /** The published manifest from a scored table: exact-dedup keeper
    * election (min doc_id per content digest), keeper rows only. A
    * keeper id names one row and so one digest: the join needs only the
    * long doc_id key. */
  private[graft] def manifestFrom(scored: DataFrame): DataFrame =
    scored.join(
      scored.groupBy("text_md5").agg(min(col("doc_id")).as("doc_id"))
        .select("doc_id"),
      "doc_id")
      .select("doc_id", "source", "n_words", "text_md5")

  /** `manifestFrom(gateScored(src))` as the DuckDB tail of a WITH over an
    * in-scope (doc_id, source, text) relation `src` — the p01 and p18
    * oracles.
    */
  private def manifestOracleSql(src: String): String =
    s"""${TextOps.Gopher.signalSqlCtes(src, Seq("source", "text"))},
       |scored AS (
       |  SELECT doc_id, source, n_words, md5(text) AS text_md5
       |  FROM sig WHERE ${TextOps.Gopher.keepSql}),
       |keeper AS (
       |  SELECT text_md5, MIN(doc_id) AS doc_id
       |  FROM scored GROUP BY text_md5)
       |SELECT s.doc_id, s.source, s.n_words, s.text_md5
       |FROM scored s JOIN keeper USING (text_md5, doc_id)
       |ORDER BY s.doc_id""".stripMargin

  /** Takedown propagation into the published manifest (r17 verdict item
    * 3): the delete list removes its manifest rows, and every digest
    * whose KEEPER died re-elects the smallest surviving duplicate from
    * the stored scored table — deleting a non-keeper changes nothing
    * (its row was never published). Work is delete-proportional: dead
    * rows and their digests are a broadcast-sized relation; untouched
    * manifest rows pass through byte-identical; only affected digests'
    * survivor groups re-aggregate. Provably ≡ rebuilding the manifest
    * over the survivors (the gate is per-doc and min() over a digest
    * group minus its dead members IS the survivor election) — which is
    * what the p18 oracle checks.
    */
  private[graft] def manifestDelete(manifest: DataFrame, scored: DataFrame,
      delPred: Column): DataFrame = {
    val dead = manifest.filter(delPred)
    val survivors = scored.filter(!delPred)
    val reelect = survivors
      .join(broadcast(dead.select("text_md5")), Seq("text_md5"))
      .groupBy("text_md5").agg(min(col("doc_id")).as("doc_id"))
    manifest.filter(!delPred)
      .unionByName(survivors.join(reelect, Seq("text_md5", "doc_id"))
        .select("doc_id", "source", "n_words", "text_md5"))
  }

  /** p13's full-rebuild zone manifest as oracle SQL — ONE definition
    * shared by p13, p15, and p17: the incremental/takedown paths'
    * contract IS that they equal the rebuild on the same (surviving)
    * data. `where` restricts the rebuild to survivors for p17.
    */
  private def zoneOracleSql(where: String = ""): String =
    s"""WITH e AS (
      |  SELECT event_id // 256 AS shard, epoch_us(ts) AS tsu, value
      |  FROM events$where),
      |z AS (
      |  SELECT shard, COUNT(*) AS n_rows,
      |    MIN(tsu) AS min_ts, MAX(tsu) AS max_ts,
      |    MIN(value) AS min_value, MAX(value) AS max_value
      |  FROM e GROUP BY shard),
      |b AS (SELECT MIN(tsu) AS gmin, MAX(tsu) AS gmax FROM e)
      |SELECT shard, n_rows, min_ts, max_ts, min_value, max_value,
      |  gmin + (gmax - gmin) // 3 AS win_lo,
      |  gmin + (2 * (gmax - gmin)) // 3 AS win_hi,
      |  (max_ts < gmin + (gmax - gmin) // 3
      |    OR min_ts >= gmin + (2 * (gmax - gmin)) // 3) AS skip
      |FROM z, b ORDER BY shard""".stripMargin

  lazy val specs: Vector[QuerySpec] = Vector(
    QuerySpec(
      "p01_publish_manifest",
      // plant the d12 banners, line-dedup the corpus, then p18's publish
      // stages on the CLEANED text: the t09 Gopher gate and the min-doc_id
      // keeper per content digest
      (s, d) => manifestFrom(gateScored(
          LineDedup.cleaned(LineDedup.planted(Tables(s, d, "documents")))))
        .orderBy("doc_id"),
      Some(s"""WITH ${LineDedup.cleanSqlCtes},
              |${manifestOracleSql("withsrc")}""".stripMargin),
    ),
    // Per-source corpus card — the dataset-card stats block a curation
    // team publishes per shard: volume (docs/tokens), language spread,
    // and exact-duplicate exposure (share of docs whose content digest
    // repeats ANYWHERE in the corpus — cross-source dups count, which is
    // why the digest aggregation is corpus-global before the per-source
    // rollup). Shapes: one narrow digest-keyed count (16-byte keys),
    // joined back by digest, then a 20-group rollup; token stats are
    // decimal-exact (partitioning-invariant mean).
    QuerySpec(
      "p02_corpus_card",
      (s, d) => {
        import graft.engine.Exact
        val docs = Tables(s, d, "documents")
          .select(col("source"), col("lang"), col("doc_id"),
            size(split(col("text"), " ")).cast(LongType).as("nt"),
            md5(col("text")).as("digest"))
        val digests = docs.groupBy("digest").agg(count(lit(1)).as("cnt"))
        docs.join(digests, "digest")
          .groupBy("source")
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("nt")).as("total_tokens"),
            Exact.davg(col("nt").cast(DoubleType)).as("mean_tokens"),
            countDistinct(col("lang")).as("n_langs"),
            sum(when(col("cnt") > 1, 1L).otherwise(0L)).as("dup_docs"),
            (sum(when(col("cnt") > 1, 1L).otherwise(0L)).cast(DoubleType) /
              count(lit(1)).cast(DoubleType)).as("dup_rate"))
          .orderBy("source")
      },
      Some {
        import graft.engine.Exact
        s"""WITH docs AS (
           |  SELECT source, lang, doc_id,
           |    CAST(len(string_split(text, ' ')) AS BIGINT) AS nt,
           |    md5(text) AS digest
           |  FROM documents),
           |dg AS (SELECT digest, COUNT(*) AS cnt FROM docs GROUP BY digest)
           |SELECT source,
           |  COUNT(*) AS n_docs,
           |  CAST(SUM(nt) AS BIGINT) AS total_tokens,
           |  ${Exact.sqlSum("CAST(nt AS DOUBLE)")}
           |    / CAST(COUNT(nt) AS DOUBLE) AS mean_tokens,
           |  COUNT(DISTINCT lang) AS n_langs,
           |  CAST(SUM(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT)
           |    AS dup_docs,
           |  CAST(SUM(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS DOUBLE)
           |    / CAST(COUNT(*) AS DOUBLE) AS dup_rate
           |FROM docs JOIN dg USING (digest)
           |GROUP BY source ORDER BY source""".stripMargin
      },
    ),
    // Curated-table sink round-trip — the CTAS / INSERT INTO contract the
    // reference has no sink for at all (results are collected and
    // pretty-printed; storage is read-only —
    // /root/reference/src/storage/mod.rs:20-43). Stage 1 curates (cheap
    // deterministic quality gate) and WRITES a source-partitioned parquet
    // table (the publish layout: one dir per source, partition pruning
    // for free on every later per-source read — SourcesSpec gates the
    // pruning plan); stage 2 APPENDS a second batch (the daily-increment
    // INSERT INTO shape — at 100 TB you never rewrite the corpus, you
    // append partitions); stage 3 reads the table back and aggregates.
    // The oracle computes the same rollup straight from `documents`, so a
    // green row proves the sink+scan round-trip preserved every row,
    // schema field, and partition value across BOTH write modes.
    QuerySpec(
      "p03_curated_sink_roundtrip",
      (s, d) => {
        val out = java.nio.file.Files
          .createTempDirectory("graft-p03").toString + "/curated"
        val docs = Tables(s, d, "documents")
          .filter(col("n_chars") >= 200)
          .select(col("doc_id"), col("source"), col("lang"),
            size(split(col("text"), " ")).cast(LongType).as("nt"))
        docs.filter(col("doc_id") % 2 === 0)
          .write.mode("overwrite").partitionBy("source").parquet(out)
        docs.filter(col("doc_id") % 2 === 1)
          .write.mode("append").partitionBy("source").parquet(out)
        s.read.parquet(out)
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("nt")).as("n_tokens"),
            countDistinct(col("lang")).as("n_langs"),
            min(col("doc_id")).as("min_doc"),
            max(col("doc_id")).as("max_doc"))
          .orderBy("source")
      },
      Some("""SELECT source, COUNT(*) AS n_docs,
             |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
             |    AS n_tokens,
             |  COUNT(DISTINCT lang) AS n_langs,
             |  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
             |FROM documents WHERE n_chars >= 200
             |GROUP BY source ORDER BY source""".stripMargin),
    ),
    // Incremental publish — the diff-driven re-pack that makes daily
    // publishing O(churn) instead of O(corpus): the corpus is published
    // as doc_id-range shards; when version 2 arrives, the d14 snapshot
    // diff (one narrow full-outer join moving only 16-byte digests)
    // classifies every doc, a shard is REWRITTEN only if any of its docs
    // was added/removed/changed, DROPPED if v2 left it empty, and REUSED
    // — its v1 manifest row carried forward untouched — otherwise. At
    // 100 TB with 100k shards and 0.1% daily churn this re-reads ~0.1%
    // of the corpus; the reuse rows cost one metadata join. The output
    // manifest md5-pins each shard's exact (doc_id, digest) membership,
    // so a green row proves reused rows are byte-valid for v2 (an
    // untouched shard's v1 digest IS its v2 digest) and rewritten rows
    // were rebuilt from v2 content. Versions are d14's deterministic
    // carving (v1 = doc_id < 400; v2 = doc_id ≥ 100, every 11th edited).
    QuerySpec(
      "p04_incremental_publish",
      (s, d) => {
        val B = 64 // shard width in doc_ids (range sharding, c10 pattern)
        val docs = Tables(s, d, "documents")
        val v1 = docs.filter(col("doc_id") < 400)
          .select(col("doc_id"), md5(col("text")).as("dg"))
        val v2 = docs.filter(col("doc_id") >= 100)
          .select(col("doc_id"),
            md5(when(col("doc_id") % 11 === 0, concat(col("text"), lit(" edited")))
              .otherwise(col("text"))).as("dg"))
        def withShard(df: DataFrame) = df.withColumn("shard", expr(s"doc_id div $B"))
        def manifest(df: DataFrame) = withShard(df).groupBy("shard")
          .agg(count(lit(1)).as("n_docs"),
            md5(concat_ws(",", transform(
              array_sort(collect_list(struct(col("doc_id"), col("dg")))),
              x => concat(x.getField("doc_id").cast("string"), lit(":"),
                x.getField("dg"))))).as("shard_md5"))
        // the narrow diff: only (doc_id, digest) pairs move
        val diff = v1.withColumnRenamed("dg", "d1")
          .join(v2.withColumnRenamed("dg", "d2"), Seq("doc_id"), "full_outer")
          .select(expr(s"doc_id div $B").as("shard"),
            when(col("d1").isNull, "added").when(col("d2").isNull, "removed")
              .when(col("d1") === col("d2"), "unchanged").otherwise("changed")
              .as("st"))
          .groupBy("shard")
          .agg(sum(when(col("st") === "added", 1L).otherwise(0L)).as("n_added"),
            sum(when(col("st") === "removed", 1L).otherwise(0L)).as("n_removed"),
            sum(when(col("st") === "changed", 1L).otherwise(0L)).as("n_changed"))
          .withColumn("touched",
            col("n_added") + col("n_removed") + col("n_changed") > 0)
        val prev = manifest(v1)
        // v2 content is digested ONLY for touched shards — the 0.1% re-read
        val rebuilt = manifest(
          withShard(v2).join(diff.filter(col("touched")).select("shard"), "shard")
            .drop("shard"))
        val reused = prev.join(diff.filter(!col("touched")).select("shard"), "shard")
          .withColumn("action", lit("reuse"))
        val written = rebuilt.withColumn("action", lit("rewrite"))
        val dropped = diff.filter(col("touched")).select("shard")
          .join(rebuilt.select("shard"), Seq("shard"), "left_anti")
          .select(col("shard"), lit(0L).as("n_docs"),
            lit(null).cast("string").as("shard_md5"), lit("drop").as("action"))
        reused.unionByName(written).unionByName(dropped)
          .join(diff.select("shard", "n_added", "n_removed", "n_changed"), "shard")
          .select(col("shard"), col("action"), col("n_docs"), col("shard_md5"),
            col("n_added"), col("n_removed"), col("n_changed"))
          .orderBy("shard")
      },
      Some("""WITH v1 AS (
             |  SELECT doc_id, md5(text) AS dg FROM documents WHERE doc_id < 400),
             |v2 AS (
             |  SELECT doc_id,
             |    md5(CASE WHEN doc_id % 11 = 0 THEN text || ' edited'
             |             ELSE text END) AS dg
             |  FROM documents WHERE doc_id >= 100),
             |diff AS (
             |  SELECT COALESCE(v1.doc_id, v2.doc_id) // 64 AS shard,
             |    CASE WHEN d1 IS NULL THEN 'added'
             |         WHEN d2 IS NULL THEN 'removed'
             |         WHEN d1 = d2 THEN 'unchanged'
             |         ELSE 'changed' END AS st
             |  FROM (SELECT doc_id, dg AS d1 FROM v1) v1
             |  FULL JOIN (SELECT doc_id, dg AS d2 FROM v2) v2
             |    ON v1.doc_id = v2.doc_id),
             |dsh AS (
             |  SELECT shard,
             |    CAST(SUM(CASE WHEN st = 'added' THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
             |    CAST(SUM(CASE WHEN st = 'removed' THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
             |    CAST(SUM(CASE WHEN st = 'changed' THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
             |    SUM(CASE WHEN st = 'unchanged' THEN 0 ELSE 1 END) > 0 AS touched
             |  FROM diff GROUP BY shard),
             |prev AS (
             |  SELECT doc_id // 64 AS shard, COUNT(*) AS n_docs,
             |    md5(string_agg(doc_id || ':' || dg, ',' ORDER BY doc_id))
             |      AS shard_md5
             |  FROM v1 GROUP BY shard),
             |rebuilt AS (
             |  SELECT doc_id // 64 AS shard, COUNT(*) AS n_docs,
             |    md5(string_agg(doc_id || ':' || dg, ',' ORDER BY doc_id))
             |      AS shard_md5
             |  FROM v2 WHERE doc_id // 64 IN (SELECT shard FROM dsh WHERE touched)
             |  GROUP BY shard),
             |m AS (
             |  SELECT shard, n_docs, shard_md5, 'reuse' AS action FROM prev
             |  WHERE shard IN (SELECT shard FROM dsh WHERE NOT touched)
             |  UNION ALL
             |  SELECT shard, n_docs, shard_md5, 'rewrite' FROM rebuilt
             |  UNION ALL
             |  SELECT shard, 0, NULL, 'drop' FROM dsh
             |  WHERE touched AND shard NOT IN (SELECT shard FROM rebuilt))
             |SELECT m.shard, m.action, m.n_docs, m.shard_md5,
             |  d.n_added, d.n_removed, d.n_changed
             |FROM m JOIN dsh d ON m.shard = d.shard
             |ORDER BY m.shard""".stripMargin),
    ),
    // JSONL sink/scan round-trip — crawl pipelines interchange corpora as
    // line-delimited JSON (Common Crawl derivatives, most open pretraining
    // dumps), so the engine's JSON surface gets the p03 treatment: stage 1
    // curates and WRITES JSONL (overwrite), stage 2 APPENDS a second batch
    // (the daily-increment shape), stage 3 reads the directory back under
    // an EXPLICIT schema (never inference in production — a single bad
    // line silently stringifies an inferred column) and aggregates. The
    // oracle recomputes the rollup straight from the parquet documents, so
    // a green row proves every doc, field and character survived the
    // JSON encode → decode cycle across both write modes.
    QuerySpec(
      "p06_jsonl_roundtrip",
      (s, d) => {
        import org.apache.spark.sql.types.{LongType => LT, StringType, StructField, StructType}
        val out = java.nio.file.Files
          .createTempDirectory("graft-p06").toString + "/docs_jsonl"
        val docs = Tables(s, d, "documents")
          .filter(col("n_chars") >= 100)
          .select(col("doc_id"), col("source"), col("lang"), col("text"))
        docs.filter(col("doc_id") % 2 === 0).write.mode("overwrite").json(out)
        docs.filter(col("doc_id") % 2 === 1).write.mode("append").json(out)
        val schema = StructType(Seq(
          StructField("doc_id", LT), StructField("source", StringType),
          StructField("lang", StringType), StructField("text", StringType)))
        s.read.schema(schema).json(out)
          .groupBy("source", "lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(length(col("text"))).as("n_chars_sum"),
            min(col("doc_id")).as("min_doc"),
            max(col("doc_id")).as("max_doc"))
          .orderBy("source", "lang")
      },
      Some("""SELECT source, lang, COUNT(*) AS n_docs,
             |  CAST(SUM(length(text)) AS BIGINT) AS n_chars_sum,
             |  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
             |FROM documents WHERE n_chars >= 100
             |GROUP BY source, lang ORDER BY source, lang""".stripMargin),
    ),
    // Schema evolution across shard generations — corpora live for years
    // and COLUMNS ARRIVE LATE (a quality score added in v2, embeddings in
    // v3...); re-writing 100 TB of v1 shards to add a column is not an
    // option, so the platform must read mixed-generation directories.
    // Stage 1 writes v1 shards (doc_id, source, text); stage 2 appends v2
    // shards carrying a new `quality` column; stage 3 reads the directory
    // under mergeSchema=true — v1 rows surface the new column as NULL —
    // and computes a null-aware rollup (count(quality) counts only scored
    // docs; the decimal-exact sum skips NULLs). The oracle recomputes
    // from `documents` with the same CASE-derived quality, so a green row
    // proves the merged read classified every row into the right
    // generation and lost nothing.
    QuerySpec(
      "p07_schema_evolution",
      (s, d) => {
        import graft.engine.Exact
        val out = java.nio.file.Files
          .createTempDirectory("graft-p07").toString + "/evolving"
        val docs = Tables(s, d, "documents")
        docs.filter(col("doc_id") % 2 === 0)
          .select(col("doc_id"), col("source"), col("text"))
          .write.mode("overwrite").parquet(out)
        docs.filter(col("doc_id") % 2 === 1)
          .select(col("doc_id"), col("source"), col("text"),
            least(lit(1.0), col("n_chars").cast(DoubleType) / lit(500.0))
              .as("quality"))
          .write.mode("append").parquet(out)
        s.read.option("mergeSchema", "true").parquet(out)
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            count(col("quality")).as("n_scored"),
            Exact.dsum(col("quality")).as("sum_quality"))
          .orderBy("source")
      },
      Some {
        import graft.engine.Exact
        s"""SELECT source, COUNT(*) AS n_docs,
           |  COUNT(CASE WHEN doc_id % 2 = 1 THEN 1 END) AS n_scored,
           |  ${Exact.sqlSum(
            "CASE WHEN doc_id % 2 = 1 THEN " +
              "least(1.0, CAST(n_chars AS DOUBLE) / 500.0) END")}
           |    AS sum_quality
           |FROM documents GROUP BY source ORDER BY source""".stripMargin
      },
    ),
    // Stage funnel / lineage audit — the retention report every curation
    // team publishes next to the corpus: per source, how many docs and
    // tokens survive EACH stage of the p01 publish chain (raw → line-dedup
    // → quality rules → exact dedup), with retention relative to raw.
    // This is the observability half of p01: the manifest says WHAT
    // shipped, the funnel says WHERE the mass went — a sudden per-source
    // retention cliff is how upstream breakage is actually caught. It
    // reuses the SAME shared stage definitions as p01/d12/t09 (plant,
    // lineKeep, Gopher, min-doc_id keeper), so the funnel can never
    // disagree with the pipeline it audits. Scale: each stage row set
    // reduces to a ≤(sources × stages) aggregate; the only additions over
    // p01's own plan are four narrow per-source rollups.
    QuerySpec(
      "p05_stage_funnel",
      (s, d) => {
        import org.apache.spark.sql.types.DoubleType
        val nTok = size(split(col("text"), " ")).cast(LongType)
        def rollup(df: DataFrame, stage: String): DataFrame =
          df.groupBy(col("source"))
            .agg(count(lit(1)).as("n_docs"), sum(nTok).as("n_tokens"))
            .withColumn("stage", lit(stage))
        val planted = LineDedup.planted(Tables(s, d, "documents"))
        val cleaned = LineDedup.cleaned(planted)
        val Seq(nw, mwl, nst, rep) = TextOps.Gopher.signals(col("text"))
        val scored = cleaned.filter(TextOps.Gopher.keep(nw, mwl, nst, rep))
        val keeper = scored
          .groupBy(md5(col("text")).as("digest"))
          .agg(min(col("doc_id")).as("doc_id"))
        val survivors = scored.join(keeper.select("doc_id"), "doc_id")
        val funnel = rollup(planted, "0_raw")
          .unionByName(rollup(cleaned, "1_line_dedup"))
          .unionByName(rollup(scored, "2_quality"))
          .unionByName(rollup(survivors, "3_exact_dedup"))
        val raw = rollup(planted, "0_raw")
          .select(col("source"), col("n_docs").as("raw_docs"))
        funnel.join(raw, "source")
          .select(col("source"), col("stage"), col("n_docs"), col("n_tokens"),
            (col("n_docs").cast(DoubleType) /
              col("raw_docs").cast(DoubleType)).as("retention"))
          .orderBy("source", "stage")
      },
      Some {
        import TextOps.Gopher
        s"""WITH ${LineDedup.cleanSqlCtes},
           |${Gopher.signalSqlCtes("withsrc", Seq("source", "text"))},
           |scored AS (
           |  SELECT doc_id, source, text FROM sig WHERE ${Gopher.keepSql}),
           |keeper AS (
           |  SELECT md5(text) AS digest, MIN(doc_id) AS doc_id
           |  FROM scored GROUP BY md5(text)),
           |survivors AS (
           |  SELECT s.doc_id, s.source, s.text
           |  FROM scored s JOIN keeper USING (doc_id)),
           |funnel AS (
           |  SELECT source, '0_raw' AS stage, COUNT(*) AS n_docs,
           |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
           |  FROM planted GROUP BY source
           |  UNION ALL
           |  SELECT source, '1_line_dedup', COUNT(*),
           |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
           |  FROM withsrc GROUP BY source
           |  UNION ALL
           |  SELECT source, '2_quality', COUNT(*),
           |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
           |  FROM scored GROUP BY source
           |  UNION ALL
           |  SELECT source, '3_exact_dedup', COUNT(*),
           |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
           |  FROM survivors GROUP BY source),
           |raw AS (
           |  SELECT source, COUNT(*) AS raw_docs FROM planted GROUP BY source)
           |SELECT f.source, f.stage, f.n_docs, f.n_tokens,
           |  CAST(f.n_docs AS DOUBLE) / CAST(r.raw_docs AS DOUBLE)
           |    AS retention
           |FROM funnel f JOIN raw r ON f.source = r.source
           |ORDER BY f.source, f.stage""".stripMargin
      },
    ),
    // Dedup-aware mixing manifest — the composition a training-data
    // budget actually ships: effective (dedup-surviving) token counts per
    // source (c25's accounting, shared definition) fed into the
    // water-filling allocator (c23's core, shared definition), so
    // duplicated sources are budgeted by what they UNIQUELY contribute,
    // not their raw epochs-inflated mass. The stage coupling this gate
    // protects: allocate over RAW counts and a source that is 50%
    // duplicates gets twice the budget its unique text deserves — a bug
    // neither c25 nor c23 alone can see. Scale = the stages' own shapes
    // (digest agg + source rollups + a |sources|-row allocation).
    QuerySpec(
      "p08_mixing_manifest",
      (s, d) => {
        val eff = Corpus.effectiveTokens(Corpus.dupPlantedCorpus(s, d))
          .localCheckpoint(true)
        val alloc = Corpus.tokenBudgetFillFromCounts(
          eff.select(col("source"), col("unique_tokens").as("n_tokens")))
        alloc.join(eff.select(col("source"), col("dup_factor")), "source")
          .select(col("source"), col("n_tokens").as("unique_tokens"),
            col("dup_factor"), col("cap"), col("alloc"),
            (col("alloc") / col("n_tokens").cast(DoubleType)).as("epochs"),
            col("unfilled"))
          .orderBy("source")
      },
      Some(s"""WITH ${Corpus.DupPlantedCorpusCte},
              |${Corpus.EffectiveTokensCtes},
              |by_src AS (SELECT source, unique_tokens AS n_tokens FROM eff),
              |${Corpus.WaterFillCtes}
              |SELECT r2.source, r2.n_tokens AS unique_tokens,
              |  eff.dup_factor, r2.cap, r2.alloc,
              |  r2.alloc / CAST(r2.n_tokens AS DOUBLE) AS epochs, unfilled
              |FROM r2 CROSS JOIN u
              |JOIN eff ON r2.source = eff.source
              |ORDER BY r2.source""".stripMargin),
    ),
    // Shard compaction planner — the small-files answer a 100 TB publish
    // needs: a published corpus accretes under-sized shards (partial
    // ranges, churn rewrites, per-source stragglers), and every downstream
    // scan then pays per-file open/footer costs. The planner reads shard
    // SIZES (metadata — bytes, never text), keeps shards already at the
    // target, and packs the rest into merge groups by deterministic
    // first-fit in shard order: running prefix-sum of bytes, group =
    // before div target (the c16 bin-packing machinery on file sizes).
    // Packing domains are 4096-shard ranges so the prefix-sum window's
    // task state is bounded at any manifest size (each domain wastes at
    // most one partial group — c16's <1% argument); group ids are
    // domain-offset so they never collide across domains. Every division
    // runs on non-negative values, so Spark `div` and DuckDB `//` agree
    // without the e16 pmod adjustment. Sizes are plant-inflated 8× on
    // every 5th shard (size metadata only — the text itself is never
    // rewritten or shuffled) so BOTH actions are oracle-exercised at
    // every SF: inflated shards pass the target and 'keep'; the rest
    // 'merge' in multi-shard groups.
    QuerySpec(
      "p09_compaction_plan",
      (s, d) => compactionPlan(Tables(s, d, "documents")
        .select(col("doc_id"), col("text"))),
      Some(s"""WITH s AS (
             |  SELECT doc_id // $CompactShardDocs AS shard, COUNT(*) AS n_docs,
             |    CAST(SUM(strlen(text) *
             |      (CASE WHEN (doc_id // $CompactShardDocs) % 5 = 0 THEN 8 ELSE 1 END))
             |      AS BIGINT) AS bytes
             |  FROM documents GROUP BY 1),
             |small AS (
             |  SELECT shard, n_docs, bytes,
             |    COALESCE(SUM(bytes) OVER (PARTITION BY shard // $CompactDomain
             |      ORDER BY shard
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             |      AS before
             |  FROM s WHERE bytes < $CompactTargetBytes)
             |SELECT shard, n_docs, bytes, 'keep' AS action,
             |  CAST(NULL AS BIGINT) AS grp
             |FROM s WHERE bytes >= $CompactTargetBytes
             |UNION ALL
             |SELECT shard, n_docs, bytes, 'merge' AS action,
             |  CAST((shard // $CompactDomain) * $CompactDomain + before // $CompactTargetBytes AS BIGINT)
             |    AS grp
             |FROM small
             |ORDER BY shard""".stripMargin),
    ),
    // p10: seeded global shard shuffle + training-order manifest — the
    // LAST step between the packed/compacted corpus and a trainer. A
    // training run must read the corpus in a reproducible pseudo-random
    // order that (a) decorrelates neighboring sequences from their source
    // locality and (b) is a pure function of a pinned seed, so a restarted
    // job, a different cluster, or an auditor re-deriving the manifest
    // all get byte-identical order. RNG state is the wrong tool at 100 TB
    // (retries/repartitioning reorder visits); a content-keyed hash is
    // exact everywhere: each c16-packed sequence (source, shard, bin)
    // gets skey = fnv1a64("p10|<seed>|source|shard|bin"), lands in
    // out_shard = pmod(skey, N), and its position within the shard is its
    // skey rank (ties broken by the id triple — the q44 lesson: every
    // rank contract pins its tie-break). Scale shape: the pack aggregates
    // text away first (ids+sizes only shuffle — text never moves), then
    // ONE hash-partitioned exchange on out_shard and a per-shard sort;
    // with production N (e.g. 2^16) each shard holds |sequences|/N
    // manifest rows — window state is bounded by design, and writing the
    // actual shard files is a partitionBy(out_shard) sorted write away.
    QuerySpec(
      "p10_shard_shuffle",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        import graft.functions.ghash
        val packed = Corpus.sequencePack(Tables(s, d, "documents"))
        val skey = ghash.fnv1a64(concat(
          lit("p10|42|"), col("source"), lit("|"),
          col("shard").cast("string"), lit("|"), col("bin").cast("string")))
        packed
          .select(col("source"), col("shard"), col("bin"), col("n_tokens"),
            skey.as("skey"))
          .withColumn("out_shard", pmod(col("skey"), lit(16L)))
          .withColumn("position",
            (row_number().over(Window.partitionBy("out_shard")
              .orderBy("skey", "source", "shard", "bin")) - 1).cast(LongType))
          .select(col("source"), col("shard"), col("bin"), col("n_tokens"),
            col("out_shard"), col("position"))
          .orderBy("out_shard", "position")
      },
      Some {
        import graft.engine.DuckHash
        val fnv = DuckHash.signed(DuckHash.fnv(
          "'p10|42|' || source || '|' || CAST(shard AS VARCHAR)" +
            " || '|' || CAST(bin AS VARCHAR)"))
        s"""WITH t AS (
           |  SELECT source, doc_id, doc_id // 8192 AS shard,
           |    CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
           |  FROM documents),
           |p AS (
           |  SELECT source, shard, doc_id, nt,
           |    COALESCE(SUM(nt) OVER (PARTITION BY source, shard
           |      ORDER BY doc_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           |      AS before
           |  FROM t),
           |bins AS (
           |  SELECT source, shard, CAST(before // 2048 AS BIGINT) AS bin,
           |    CAST(SUM(nt) AS BIGINT) AS n_tokens
           |  FROM p GROUP BY source, shard, before // 2048),
           |k AS (
           |  SELECT source, shard, bin, n_tokens, $fnv AS skey
           |  FROM bins)
           |SELECT source, shard, bin, n_tokens,
           |  ((skey % 16) + 16) % 16 AS out_shard,
           |  CAST(row_number() OVER (
           |      PARTITION BY ((skey % 16) + 16) % 16
           |      ORDER BY skey, source, shard, bin) - 1 AS BIGINT)
           |    AS position
           |FROM k
           |ORDER BY out_shard, position""".stripMargin
      },
    ),
    // WARC-style container ingest — the Common Crawl interchange shape:
    // corpora arrive as multi-record container files (header + declared
    // length + payload), not as one-doc-per-row parquet. The query
    // SYNTHESIZES the containers (50 docs each, records concatenated in
    // doc order — one bounded groupBy), then INGESTS them with a
    // declared-size walk ([[walkContainer]], the parseRiff pattern): each
    // record re-emerges with the offset the walk actually observed, the
    // length the header declared, and the md5 of the payload the walk
    // extracted. The oracle recomputes all three directly from the
    // documents table (offset = window prefix-sum of record sizes), so a
    // walk that mis-advances by even one byte reds every downstream row.
    // Scale shape: in production the walk runs AT THE SCAN over container
    // blobs (map-side, payload never shuffles); here the synthesis
    // shuffles bounded 50-doc groups once, and only ids + digests leave
    // the parse.
    QuerySpec(
      "p11_warc_ingest",
      (s, d) => warcIngest(Tables(s, d, "documents")),
      Some("""WITH r AS (
             |  SELECT doc_id, doc_id // 50 AS container_id, text,
             |    length('REC ' || CAST(doc_id AS VARCHAR) || ' '
             |      || CAST(length(text) AS VARCHAR)) + 1
             |      + length(text) + 1 AS rec_len
             |  FROM documents)
             |SELECT container_id, doc_id AS rec_doc_id,
             |  CAST(length(text) AS BIGINT) AS declared_len,
             |  CAST(COALESCE(SUM(rec_len) OVER (
             |      PARTITION BY container_id ORDER BY doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             |    AS BIGINT) AS rec_off,
             |  md5(text) AS payload_md5
             |FROM r ORDER BY rec_doc_id""".stripMargin),
    ),
    // Latest-wins snapshot merge — the CDC/upsert primitive every
    // incrementally-refreshed corpus needs: a new crawl delivers multiple
    // revisions of the same key (URL/doc), and the publishable view keeps
    // ONE row per key, the most recent fetch. The revision frame is
    // synthesized deterministically (the d12-banner way — identical
    // expressions on both engines): doc_id%3+1 revisions each with
    // fetch_ts = (rev·7919 + doc_id) mod 10007, distinct WITHIN a key
    // because 10007 is prime and 7919·Δrev ≢ 0 (mod 10007) for Δrev∈{1,2}
    // — so "latest" is well-defined with no tie-break needed, though the
    // struct carries rev second to pin one anyway (the q44 lesson).
    //
    // Scale shape — the reason this op exists: latest-wins at 100 TB is
    // ONE key-partitioned shuffle with map-side combine, because
    // max(struct(ts, rev, digest)) is an ordinary mergeable aggregate.
    // The tempting ROW_NUMBER() OVER (PARTITION BY key ORDER BY ts DESC)
    // form computes the identical answer but SORTS every group — a full
    // corpus sort-exchange vs a partial-agg that collapses each map task
    // to one row per key before anything moves. Text never shuffles:
    // only (key, ts, rev, 32-byte digest) leaves the scan.
    QuerySpec(
      "p12_latest_wins_merge",
      (s, d) => latestWinsMerge(Tables(s, d, "documents")),
      Some("""WITH r AS (
             |  SELECT doc_id, u.rev AS rev,
             |    (u.rev * 7919 + doc_id) % 10007 AS ts,
             |    md5(text || '|' || CAST(u.rev AS VARCHAR)) AS digest
             |  FROM documents, UNNEST(range(0, doc_id % 3 + 1)) AS u(rev))
             |SELECT doc_id, COUNT(*) AS n_revs,
             |  arg_max(rev, ts) AS latest_rev,
             |  CAST(MAX(ts) AS BIGINT) AS latest_ts,
             |  arg_max(digest, ts) AS latest_md5
             |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    ),
    // Zone-map pruning manifest — the file-skipping layer every 100 TB
    // store lives on: per "file" (event_id div 256 — the write-order
    // shard a sequential ingest produces; events' ts correlates 0.99998
    // with event_id, exactly like a real append-only log), the min/max
    // stats a reader consults, plus the skip verdict for a pinned
    // time-window predicate (the middle third of the global ts range,
    // bounds derived in INTEGER microseconds so both engines compute the
    // same literals). The payoff row is `skip`: a shard whose [min_ts,
    // max_ts] lies outside the window never gets its pages read — this is
    // what parquet row-group stats + partition pruning do mechanically,
    // surfaced as a first-class manifest so a pipeline can AUDIT its
    // skippability (a corpus re-sharded by content hash has corr≈0 and
    // skips nothing — the manifest is how you see that before paying for
    // it at scale).
    //
    // Scale shape: one scan → per-shard partial agg (6 accumulators,
    // mergeable), a 1-row global-bounds agg broadcast into the verdict —
    // no joins on data, nothing quadratic, output = |shards| rows.
    QuerySpec(
      "p13_zone_map_prune",
      (s, d) => zoneMapPrune(Tables(s, d, "events").select(
        expr("event_id div 256").as("shard"),
        expr(EventsOps.TsUsSql).as("tsu"),
        col("value"))),
      Some(zoneOracleSql()),
    ),
    // Incremental zone-map maintenance — see [[zoneMapMerge]]: the base
    // MANIFEST (zone-grain rows, simulating what p13 persisted — here
    // derived from the first ~80% of event_ids) absorbs the appended
    // rows' delta stats through one zone-grain mergeable rollup; the
    // base data is never rescanned at row grain in the merge itself.
    // The oracle is p13's FULL-REBUILD SQL over the whole table —
    // passing means incremental == rebuild exactly (the d10
    // incremental-equivalence pattern, here a theorem: the stats are
    // mergeable and base/delta partition the rows). The streaming twin
    // (Streams.zoneStats) runs the SAME zoneStats aggregation as a
    // stateful stream; StreamingSpec pins streaming == batch.
    QuerySpec(
      "p15_zone_map_incremental",
      (s, d) => {
        val ev = Tables(s, d, "events").select(
          expr("event_id div 256").as("shard"),
          expr(EventsOps.TsUsSql).as("tsu"),
          col("value"), col("event_id"))
        val cut = appendCutoff(ev, "event_id")
        val base = ev.filter(col("event_id") <= cut)
          .select("shard", "tsu", "value")
        val delta = ev.filter(col("event_id") > cut)
          .select("shard", "tsu", "value")
        zoneMapMerge(zoneStats(base).localCheckpoint(true), delta)
      },
      Some(zoneOracleSql()),
    ),
    // Takedown propagation into the zone manifest — see [[zoneDeleteRaw]]:
    // the stored manifest (p13's persisted artifact, checkpointed) is
    // corrected under a delete list (a clustered ~3% of event_ids — the
    // takedown-notice shape: partial zones, plus untouched zones that
    // must pass through byte-identical) by recomputing ONLY the affected
    // shards from their surviving rows; min/max stats are not
    // delete-mergeable, so scoped recompute IS the honest 100 TB path.
    // The oracle is p13's FULL-REBUILD SQL over the survivors, so the
    // green row proves correction ≡ rebuild (the s20b pattern);
    // PipelineSpec pins delete∘append ≡ rebuild on interleaved batches.
    QuerySpec(
      "p17_zone_map_takedown",
      (s, d) => {
        val ev = Tables(s, d, "events").select(
          expr("event_id div 256").as("shard"),
          expr(EventsOps.TsUsSql).as("tsu"),
          col("value"), col("event_id"))
        val delPred = col("event_id") % 4096 < 128
        val manifest = zoneStats(ev).localCheckpoint(true)
        zoneVerdict(zoneDeleteRaw(manifest, ev, delPred)
          .localCheckpoint(true))
      },
      Some(zoneOracleSql(" WHERE NOT (event_id % 4096 < 128)")),
    ),
    // Takedown propagation into the PUBLISHED manifest — see
    // [[manifestDelete]]: stage 0 plants whole-doc duplicates (groups of
    // 4 consecutive ids share the leader's text — the p01 banner-plant
    // move, here so the keeper-election correction has work: the raw
    // corpus has no exact whole-doc dups); the stored scored table +
    // manifest (checkpointed, what a publish run persists) are then
    // corrected under a ~20% delete list that kills keepers (ids ≡ 0
    // mod 20), non-keeper members, and untouched groups alike. The
    // oracle REBUILDS the manifest over the survivors, so the green row
    // proves drop + re-election ≡ rebuild; PipelineSpec pins the
    // re-elections actually fire and the delete∘append interleave.
    QuerySpec(
      "p18_publish_takedown",
      (s, d) => {
        val docs = Tables(s, d, "documents")
        val base = docs.select(col("doc_id").as("src_id"),
          col("text").as("leader"))
        val planted = docs
          .select(col("doc_id"), col("source"),
            (col("doc_id") - col("doc_id") % 4).as("src_id"),
            col("text").as("own"))
          .join(base, Seq("src_id"), "left")
          .select(col("doc_id"), col("source"),
            coalesce(col("leader"), col("own")).as("text"))
        val delPred = col("doc_id") % 5 === 0
        val scored = gateScored(planted).localCheckpoint(true)
        val manifest = manifestFrom(scored).localCheckpoint(true)
        manifestDelete(manifest, scored, delPred).orderBy("doc_id")
      },
      Some(s"""WITH planted AS (
              |  SELECT d.doc_id, d.source, COALESCE(b.text, d.text) AS text
              |  FROM documents d
              |  LEFT JOIN documents b ON b.doc_id = d.doc_id - d.doc_id % 4),
              |surv AS (
              |  SELECT doc_id, source, text FROM planted
              |  WHERE NOT (doc_id % 5 = 0)),
              |${manifestOracleSql("surv")}""".stripMargin),
    ),
    // Ensemble-gated publish — p01 with its rule-battery quality stage
    // (t09 Gopher) swapped for the round's best filter, the t25b
    // serve-mode ensemble (r16 VERDICT item 5): plant → line-dedup →
    // MAD-calibrated ensemble keep (ens > 0, model trained on the
    // CLEANED corpus — self-consistent, and exactly what CCNet does:
    // calibrate on the corpus being filtered) → exact dedup → manifest.
    // The whole chain is ONE oracle (the p01 pattern): the ensemble CTEs
    // are the t25b oracle's re-pointed at the cleaned relation
    // (ensembleOracleCtesFrom), so the published artifact's gate is
    // hash-verified end-to-end, not per-stage.
    QuerySpec(
      "p16_ensemble_publish",
      (s, d) => {
        // line-deduped text feeds the ensemble's several derivations
        // (t13 scan, LM model build, LM serve join, stats) — checkpoint
        // pins ONE derivation of the shuffle-heavy dedup stage
        val cleaned = LineDedup.cleaned(
            LineDedup.planted(Tables(s, d, "documents")))
          .localCheckpoint(true)
        val ens = TextOps.qualityEnsembleServe(
            cleaned.select(col("doc_id"), col("text")))
          .filter(col("keep"))
          .select(col("doc_id"), col("ens"))
        val kept = cleaned.join(ens, "doc_id")
          .withColumn("n_words",
            size(split(col("text"), " ")).cast(LongType))
        val keeper = kept.groupBy(md5(col("text")).as("digest"))
          .agg(min(col("doc_id")).as("doc_id"))
        kept.join(keeper, Seq("doc_id"))
          .select(col("doc_id"), col("source"), col("n_words"), col("ens"),
            md5(col("text")).as("text_md5"))
          .orderBy("doc_id")
      },
      Some {
        s"""WITH ${LineDedup.cleanSqlCtes},
           |${TextOps.ensembleOracleCtesFrom(
              TextOps.truncLmOracleCtesFrom("withsrc"), "withsrc")},
           |kept AS (
           |  SELECT w.doc_id, w.source, w.text,
           |    CAST(len(string_split(w.text, ' ')) AS BIGINT) AS n_words,
           |    e.ens
           |  FROM withsrc w JOIN ensemble e USING (doc_id)
           |  WHERE e.ens > 0.0),
           |keeper AS (
           |  SELECT md5(text) AS digest, MIN(doc_id) AS doc_id
           |  FROM kept GROUP BY md5(text))
           |SELECT k.doc_id, k.source, k.n_words, k.ens,
           |  md5(k.text) AS text_md5
           |FROM kept k JOIN keeper USING (doc_id)
           |ORDER BY k.doc_id""".stripMargin
      },
    ),
    // Bucketed co-located join — the layout that PRE-PAYS the shuffle:
    // both sides are written `bucketBy(8, doc_id)` + `sortBy(doc_id)`
    // (Spark's bucketed parquet tables), so the subsequent join reads
    // co-located, pre-sorted buckets and plans as a SortMergeJoin with
    // ZERO exchanges — at 100 TB, every repeated join/group on the
    // bucket key after the one-time bucketed write moves no data at all
    // (the standard fact-table layout decision; PlanSpec pins exactly
    // one exchange in the whole plan, the lang rollup, and none at the
    // join). The `merge` hint keeps the demonstration honest at test SFs
    // where the small side would otherwise broadcast — broadcast is the
    // better plan for a SMALL side; bucketing is the answer when BOTH
    // sides are corpus-scale, which is the case the layout exists for.
    // The oracle recomputes the rollup straight from the source table,
    // so a bucketing bug that drops/duplicates rows (not just a slow
    // plan) reds the row.
    QuerySpec(
      "p14_bucketed_join",
      (s, d) => {
        val docs = Tables(s, d, "documents")
        // table names carry the data-dir hash: concurrent runs over
        // different scale dirs never collide in a shared warehouse
        val (meta, stats) = (s"p14_meta_${dirTag(d)}", s"p14_stats_${dirTag(d)}")
        bucketedWrite(s, meta,
          docs.select(col("doc_id"), col("lang"), col("source")))
        bucketedWrite(s, stats,
          docs.filter(col("n_chars") >= 100)
            .select(col("doc_id"),
              size(split(col("text"), " ")).cast(LongType).as("nt"),
              md5(col("text")).as("digest")))
        s.table(meta)
          .join(s.table(stats).hint("merge"), "doc_id")
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"),
            md5(concat_ws(",", sort_array(collect_list(col("digest")))))
              .as("digests_md5"))
          .orderBy("lang")
      },
      Some("""SELECT lang, COUNT(*) AS n_docs,
             |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
             |    AS n_tokens,
             |  md5(array_to_string(list_sort(list(md5(text))), ','))
             |    AS digests_md5
             |FROM documents WHERE n_chars >= 100
             |GROUP BY lang ORDER BY lang""".stripMargin),
    ),
  )
}
