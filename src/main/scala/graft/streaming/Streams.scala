package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming surface. The reference has no streaming at all
  * (SURVEY.md §2.4); this module gives the events pipeline a streaming halve
  * whose results match the batch operators in EventsOps (StreamingSpec
  * asserts the equivalence).
  *
  * Design: transforms are written against DataFrames so the SAME code runs
  * in batch and streaming (Spark's unified model). State (sessionization) is
  * a typed flatMapGroupsWithState keyed by user — per-key state is one open
  * session, so memory is O(active users), the 100 TB-safe shape; in
  * production Append mode + event-time timeout evicts idle users, the test
  * uses Update snapshots.
  */
object Streams {

  /** Collision-resistant staging-dir key for a source dir: MD5 hex of the
    * absolute path. The previous `math.abs(dir.hashCode)` could collide
    * two distinct datasets onto one scratch dir (and Int.MinValue stays
    * negative under math.abs), letting one session's staged parquet
    * overwrite another's (r17 ADVICE). */
  private def stageKey(dir: String): String = {
    val abs = java.nio.file.Paths.get(dir).toAbsolutePath.toString
    java.security.MessageDigest.getInstance("MD5")
      .digest(abs.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  /** events.parquet schema (`ts` is µs-precision no-timezone → NTZ). */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampNTZType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType),
  ))

  /** Streaming read of the events table. The file source requires a
    * *directory* it can watch for new files, so the single events.parquet is
    * staged into a scratch dir — in production this is simply the ingest
    * directory new event files land in.
    */
  def readEvents(spark: SparkSession, dir: String): DataFrame = {
    graft.engine.GraftSession.tune(spark)
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val src = Paths.get(dir, "events.parquet")
    val stage = Paths.get(sys.props("java.io.tmpdir"),
      s"graft-stream-${stageKey(dir)}")
    Files.createDirectories(stage)
    Files.copy(src, stage.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)
    spark.readStream
      .schema(eventSchema)
      .parquet(stage.toString)
      .withColumn("ts_us", expr(graft.queries.EventsOps.TsUsSql))
      .withColumn("event_time", expr(graft.queries.EventsOps.EventTimeSql))
  }

  /** The event-time watermark delay of every watermarked stream here:
    * state older than this behind the max event time is dropped.
    */
  val Watermark = "2 hours"

  /** Tumbling 1-hour windows per event type — identical logic to
    * e02_tumbling_window; works on batch and streaming inputs alike.
    */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("event_time"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))

  /** Watermarked variant for production Append-mode sinks: state for windows
    * older than [[Watermark]] behind the max event time is dropped.
    */
  def tumblingCountsWatermarked(events: DataFrame): DataFrame =
    tumblingCounts(events.withWatermark("event_time", Watermark))

  /** Watermarked stream-stream join: purchases joined to the same user's
    * signups within [0, 1h] before the purchase. Both sides carry watermarks
    * so the join state is bounded — Spark can discard a signup once the
    * purchase-side watermark passes signup_time + 1h.
    */
  def purchaseSignupJoin(events: DataFrame): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        col("event_time").as("p_time"))
      .withWatermark("p_time", Watermark)
    val signups = events.filter(col("event_type") === "signup")
      .select(col("event_id").as("s_id"), col("user_id").as("s_user"),
        col("event_time").as("s_time"))
      .withWatermark("s_time", Watermark)
    purchases.join(
      signups,
      col("p_user") === col("s_user") &&
        col("s_time") <= col("p_time") &&
        col("s_time") >= col("p_time") - expr("INTERVAL 1 HOUR"))
  }

  case class SessEvent(user_id: Long, ts_us: Long, value: Double)
  case class Session(
      user_id: Long, start_us: Long, end_us: Long, n_events: Long, sum_value: Double)
  case class OpenSession(start_us: Long, end_us: Long, n: Long, sum: Double)

  val GapUs: Long = 1800000000L // 30 min, same as EventsOps

  /** Folds one ts-sorted micro-batch into the key's open session. Shared by
    * both sessionization paths (fMGWS Update / fMGWS Append) so the merge
    * discipline lives in one place.
    *
    * Returns (sessions closed within this batch, ascending by start; the
    * still-open session).
    *
    * Merge discipline:
    *  - max/min, not assignment: in-batch events arrive sorted (no-op
    *    there), but a late-within-watermark event in a LATER micro-batch
    *    has ts < end_us and must not regress the session end (or its
    *    eviction timer) / start. The second conjunct stops a stray event
    *    MORE than a gap older than start from merging (for ts < end the
    *    first test is trivially true) — under the documented
    *    watermark-delay <= gap contract such strays cannot occur, but if
    *    one does it must not silently drag the session start across a
    *    > gap silence.
    *  - stray beyond-contract late events (ts more than a gap before the
    *    open session's start) are buffered and re-sessionized among
    *    THEMSELVES: two strays within a gap of each other merge into one
    *    emitted session, as batch semantics would, instead of one
    *    singleton per stray. Since the batch is sorted, strays can only
    *    precede the events that touch the open session, so the buffer is
    *    complete when the batch ends and its session is closed then.
    *  - the batch-equivalence guarantee for strays covers ONE buffered
    *    chain: if a SECOND beyond-contract chain starts, the first is
    *    flushed to the output immediately (it can no longer grow — the
    *    batch is sorted), and a still-later event that drags the open
    *    session's start into gap range of that already-emitted chain
    *    cannot recall it; batch semantics would have merged them. That
    *    residual divergence needs TWO independent contract violations in
    *    one micro-batch (two distinct > gap-early chains) plus a third
    *    event bridging one of them — accepted and pinned by
    *    StreamingSpec rather than buffering all closed chains to batch
    *    end, which would make stray memory unbounded under a
    *    pathological feed instead of O(1).
    */
  private[graft] def foldBatch(
      sorted: IndexedSeq[(Long, Double)],
      open0: Option[OpenSession]): (Vector[OpenSession], Option[OpenSession]) = {
    var open = open0
    var stray: Option[OpenSession] = None
    val out = Vector.newBuilder[OpenSession]
    sorted.foreach { case (ts, v) =>
      open match {
        case Some(o) if ts - o.end_us <= GapUs && ts >= o.start_us - GapUs =>
          var merged = o.copy(
            start_us = math.min(o.start_us, ts),
            end_us = math.max(o.end_us, ts),
            n = o.n + 1, sum = o.sum + v)
          // The min() above can drag the open session's start into gap
          // range of the buffered stray chain; batch semantics would then
          // merge the whole chain into one session, so fold the stray into
          // open instead of emitting it separately when the batch ends.
          stray.foreach { s =>
            if (merged.start_us - s.end_us <= GapUs) {
              merged = merged.copy(
                start_us = math.min(merged.start_us, s.start_us),
                n = merged.n + s.n, sum = merged.sum + s.sum)
              stray = None
            }
          }
          open = Some(merged)
        case Some(_) if stray.exists(s => ts - s.end_us <= GapUs &&
            ts < open.get.start_us - GapUs) =>
          val s = stray.get
          stray = Some(s.copy(end_us = math.max(s.end_us, ts),
            n = s.n + 1, sum = s.sum + v))
        case Some(o) if ts < o.start_us - GapUs =>
          stray.foreach(out += _)
          stray = Some(OpenSession(ts, ts, 1, v))
        case Some(o) =>
          out += o
          open = Some(OpenSession(ts, ts, 1, v))
        case None =>
          open = Some(OpenSession(ts, ts, 1, v))
      }
    }
    stray.foreach(out += _)
    (out.result().sortBy(_.start_us), open)
  }

  /** Gap-based sessionization with explicit state. Emits every session of
    * the key seen so far (closed ones finally, the open one as a snapshot) —
    * with a single input batch this equals the batch sessionization e01.
    */
  def sessionize(ds: Dataset[SessEvent]): Dataset[Session] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, Session](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (uid: Long, events: Iterator[SessEvent], state: GroupState[OpenSession]) =>
          val sorted = events.toIndexedSeq.sortBy(_.ts_us)
          val (closed, open) =
            foldBatch(sorted.map(e => (e.ts_us, e.value)), state.getOption)
          val out = Vector.newBuilder[Session]
          closed.foreach(o =>
            out += Session(uid, o.start_us, o.end_us, o.n, o.sum))
          open.foreach { o =>
            state.update(o)
            out += Session(uid, o.start_us, o.end_us, o.n, o.sum) // snapshot
          }
          out.result().iterator
      }
  }

  /** documents.parquet schema (for the streaming file source). */
  val documentSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType),
  ))

  /** Streaming incremental dedup — the streaming half of batch d06: a stream
    * of incoming documents is anti-joined against the STATIC historical
    * digest table (stream-static joins are stateless: the static side is
    * just a lookup, re-broadcast per micro-batch if small), then first-seen
    * per digest within the stream via dropDuplicates. In production the
    * dropDuplicates carries a watermark so digest state ages out; the
    * unbounded variant here matches the batch operator exactly.
    */
  def dedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val stage = Paths.get(sys.props("java.io.tmpdir"),
      s"graft-stream-docs-${stageKey(dir)}")
    Files.createDirectories(stage)
    Files.copy(Paths.get(dir, "documents.parquet"),
      stage.resolve("documents.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val incoming = spark.readStream
      .schema(documentSchema)
      .parquet(stage.toString)
      .filter(col("doc_id") >= 250)
      .withColumn("digest", md5(col("text")))
    val historical = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("doc_id") < 250)
      .select(md5(col("text")).as("digest")).distinct()
    incoming
      .join(historical, Seq("digest"), "left_anti")
      .dropDuplicates("digest")
      .select(col("digest"), col("doc_id"))
  }

  /** Streaming latest-wins merge — the streaming half of batch p12, and
    * the REASON p12 is an aggregate: `max(struct(ts, rev, digest))` is
    * mergeable, so the EXACT batch operator doubles as a streaming
    * stateful aggregation (one state row per key, updated as revisions
    * arrive) — the CDC-ingest upsert view a pipeline maintains live.
    * The ROW_NUMBER window form p12 rejected has no streaming equivalent
    * at all. Revision fan-out and collapse are Pipeline.revisionFrame/
    * latestWinsAgg — one implementation, so the streaming==batch parity
    * spec proves the operator, not a re-derivation of it.
    */
  def latestWins(spark: SparkSession, dir: String): DataFrame = {
    import graft.queries.Pipeline
    Pipeline.latestWinsAgg(Pipeline.revisionFrame(
      readDocs(spark, dir).select(col("doc_id"), col("text"))))
  }

  /** Streaming zone-map maintenance — the streaming half of batch
    * p13/p15: [[graft.queries.Pipeline]] zoneStats is a MERGEABLE
    * per-shard aggregation (count, min/max ts, min/max value), so the
    * identical code runs as a stateful streaming aggregation over the
    * ingest stream — each appended micro-batch merges into the standing
    * per-shard state exactly the way p15's batch zoneMapMerge folds a
    * delta into the stored manifest. One implementation for both halves
    * (the latestWins discipline); StreamingSpec pins streaming == batch
    * zone rows.
    */
  def zoneStats(spark: SparkSession, dir: String): DataFrame =
    graft.queries.Pipeline.zoneStats(
      readEvents(spark, dir).select(
        expr("event_id div 256").as("shard"),
        col("ts_us").as("tsu"), col("value")))

  /** Streaming quality-ensemble gate — the streaming half of batch
    * t25b: the frozen serve model (bounded token→logp map + OOV entry +
    * normalization stats, [[graft.queries.TextOps.ensembleModel]] —
    * the KenLM-in-memory shape) is collected once from the static
    * reference corpus and served MAP-SIDE over the doc stream: no
    * joins, no stateful aggregation, so the stream never shuffles and
    * scales linearly with executors. The LM fold quantizes per token
    * exactly like the batch chain's decimal sum, so StreamingSpec pins
    * bit-parity with batch t25b, not approximate agreement.
    */
  def ensembleGate(spark: SparkSession, dir: String): DataFrame = {
    val model = graft.queries.TextOps.ensembleModel(
      spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text")))
    graft.queries.TextOps.ensembleServe(
      readDocs(spark, dir).select(col("doc_id"), col("text")), model)
  }

  /** Streaming anomaly scoring — the streaming half of batch e13: each
    * incoming event is z-scored against a STATIC per-type model (mean/σ
    * from the decimal-exact q35 moments over the reference corpus) via a
    * broadcast stream-static join, and only |z| > 3 anomalies are emitted.
    * This is the production monitor shape: the model is a dashboard-sized
    * broadcast refreshed out-of-band; scoring is stateless and map-side,
    * so the stream never shuffles and any number of executors scale it
    * linearly. StreamingSpec pins streaming == batch e13 exactly.
    */
  def anomalyScores(spark: SparkSession, dir: String): DataFrame = {
    // model + scoring are EventsOps's — one implementation for batch e13
    // and this stream, or the streaming==batch parity spec proves nothing
    val model = graft.queries.EventsOps.anomalyModel(
      spark.read.parquet(s"$dir/events.parquet"))
    graft.queries.EventsOps.scoreAnomalies(readEvents(spark, dir), model)
  }

  /** embeddings.parquet schema, for streaming reads of a vector ingest dir. */
  val embSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType),
  ))

  /** Streaming read of the embeddings table (file-source dir staging, the
    * readEvents pattern — in production this is the embedding-job output
    * dir new vector shards land in).
    */
  def readEmbeddings(spark: SparkSession, dir: String): DataFrame = {
    graft.engine.GraftSession.tune(spark)
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val src = Paths.get(dir, "embeddings.parquet")
    val stage = Paths.get(sys.props("java.io.tmpdir"),
      s"graft-stream-emb-${stageKey(dir)}")
    Files.createDirectories(stage)
    Files.copy(src, stage.resolve("embeddings.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    spark.readStream
      .schema(embSchema)
      .parquet(stage.toString)
  }

  /** Streaming ANN index ingest — the streaming half of batch s20
    * ([[graft.queries.Similarity]] ivfPqIndexAppend): quantizers are
    * trained ONCE on the static base corpus (below the same 80% vec_id
    * cutoff as s20) and frozen; each arriving micro-batch of vectors is
    * encoded to (vec_id, cell, codes) postings by the IDENTICAL
    * [[graft.queries.Similarity]] ivfPqEncode pass — a stateless map-side
    * sweep against the broadcast quantizers (stream-static equi-join, no
    * shuffle, no state), so ingest cost is proportional to the batch and
    * any number of executors scale it linearly. Appending the encoded
    * batch to the standing index is a file append (cell is carried on
    * each row — no rebucketing), which is what makes the maintenance
    * story hold at 100 TB. StreamingSpec pins streaming == batch encode
    * rows exactly.
    */
  def annIndexEncode(spark: SparkSession, dir: String): DataFrame = {
    import graft.queries.Similarity
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val cut = graft.queries.Pipeline.appendCutoff(e, "vec_id")
    val (centArr, cbRow) = Similarity.ivfPqQuantizers(
      e.filter(col("vec_id") <= cut))
    Similarity.ivfPqEncode(
      readEmbeddings(spark, dir).select(col("vec_id"), col("embedding")),
      centArr.localCheckpoint(true), cbRow.localCheckpoint(true))
  }

  /** Streaming n-gram count maintenance — the streaming half of batch
    * c36 ([[graft.queries.Corpus]] knNgramScoreIncremental): raw n-gram
    * TYPE counts are the one mergeable statistic the whole KN stack
    * derives from, so the identical map-side extraction
    * (knNgramHashStream — fused 8-byte window hashes, no gram strings,
    * no window function) feeds a stateful streaming count whose
    * per-micro-batch merge IS c36's base+delta SUM merge. Keyed on the
    * full-gram hash, so streaming STATE rows are 8-byte keys too — the
    * r17-item-1 shuffle discipline applied to the state store.
    * StreamingSpec pins streaming == batch count rows exactly.
    */
  def ngramCounts(spark: SparkSession, dir: String): DataFrame =
    graft.queries.Corpus.knNgramHashStream(
        readDocs(spark, dir).select(col("doc_id"), col("text")),
        graft.queries.Corpus.KnOrder)
      .groupBy(col("h"))
      .agg(count(lit(1)).as("c"))

  /** Streaming inverted-index maintenance — the streaming half of batch
    * c39 ([[graft.queries.Corpus]] invertedIndexMerge): the same
    * distinct-token explode feeds a stateful (token, shard)-keyed
    * aggregation whose per-micro-batch fold IS the df SUM + posting
    * accumulation of the batch merge. Per-key state is one shard's
    * postings (bounded by the shard width [[graft.queries.Corpus]]
    * IndexShardB, the c10 guarantee), never a stopword's corpus-wide
    * list. StreamingSpec pins streaming == batch index rows exactly.
    */
  def invertedIndex(spark: SparkSession, dir: String): DataFrame =
    readDocs(spark, dir)
      .select(col("doc_id"),
        explode(array_distinct(split(col("text"), " "))).as("token"))
      .withColumn("shard",
        expr(s"doc_id div ${graft.queries.Corpus.IndexShardB}"))
      .groupBy("token", "shard")
      .agg(count(lit(1)).as("df_shard"),
        concat_ws(",", sort_array(collect_list(col("doc_id"))))
          .as("postings"))

  /** documents.parquet schema, for streaming reads of a docs ingest dir. */
  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType),
  ))

  /** Streaming read of the documents table (file-source dir staging, the
    * readEvents pattern — in production this is the crawl ingest dir).
    */
  def readDocs(spark: SparkSession, dir: String): DataFrame = {
    graft.engine.GraftSession.tune(spark)
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val src = Paths.get(dir, "documents.parquet")
    val stage = Paths.get(sys.props("java.io.tmpdir"),
      s"graft-docstream-${stageKey(dir)}")
    Files.createDirectories(stage)
    Files.copy(src, stage.resolve("documents.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    spark.readStream.schema(docSchema).parquet(stage.toString)
  }

  /** Streaming quality gate — t09's Gopher rule battery applied to a
    * document stream. The signals are per-row column math (ONE shared
    * definition, [[graft.queries.TextOps.Gopher]]), so the filter runs
    * unchanged and stateless in append mode: this is the shape of a
    * curation filter deployed on the live crawl ingest, and
    * StreamingSpec pins its keep decisions equal to batch t09's.
    */
  def qualityFilter(spark: SparkSession, dir: String): DataFrame = {
    val g = graft.queries.TextOps.Gopher
    val Seq(nw, mwl, nst, rep) = g.signals(col("text"))
    readDocs(spark, dir)
      .select(col("doc_id"), nw.as("n_words"), mwl.as("mwl"),
        nst.as("n_stop"), rep.as("rep"))
      .withColumn("keep",
        g.keep(col("n_words"), col("mwl"), col("n_stop"), col("rep")))
  }

  /** Streaming code-vs-prose router — t16's detection applied to a
    * document stream (ONE shared definition,
    * [[graft.queries.TextOps.CodeRouting]]): the routing split a live
    * crawl ingest makes before tokenization. Pure per-row column math —
    * stateless append mode; StreamingSpec pins routing decisions equal
    * to batch t16's.
    */
  def codeRouter(spark: SparkSession, dir: String): DataFrame = {
    val cr = graft.queries.TextOps.CodeRouting
    cr.signals(cr.plant(readDocs(spark, dir)
      .select(col("doc_id"), col("text"))))
  }

  /** Streaming format sniffer — m06's magic-byte QA applied to a live
    * media ingest (ONE shared definition,
    * [[graft.queries.MultimodalOps.sniffSignals]]): claimed-vs-detected
    * routing before any decoder touches a payload. Per-row binary
    * prefix math — stateless append mode; StreamingSpec pins streaming
    * == batch m06.
    */
  def formatSniffer(spark: SparkSession, dir: String): DataFrame =
    graft.queries.MultimodalOps.sniffSignals(
      readDocs(spark, dir).select(col("doc_id"), col("text")))

  /** Streaming half of e15's range join: incoming events matched to the
    * STATIC incident-window table (built batch-side by the same shared
    * [[graft.queries.EventsOps.incidentWindows]] rule). The chunked
    * decomposition is stateless — a per-event chunk key plus a
    * stream-static equi-join and a BETWEEN refine — so it runs in append
    * mode with no state store at all; this is how a deployed monitor
    * tags live events with the maintenance/incident windows they fall
    * into. StreamingSpec pins the matched pair set equal to batch e15's.
    */
  def rangeJoinMatches(spark: SparkSession, dir: String): DataFrame = {
    val windows = graft.queries.EventsOps.incidentWindows(
      spark.read.schema(eventSchema).parquet(s"$dir/events.parquet"))
    graft.queries.EventsOps.rangeMatches(readEvents(spark, dir), windows)
      .select(col("window_id"), col("event_id"))
  }

  /** The ingest daemons' precondition, checked at CONSTRUCTION, not in
    * batch 0: an unseeded corpus dir would otherwise surface as an opaque
    * "unable to infer schema" parquet error from inside foreachBatch on
    * first deployment, so it gets a named check and a message that says
    * how to satisfy it.
    */
  private def requireSeeded(daemon: String, corpusDir: String): Unit = {
    val seeded = Option(new java.io.File(corpusDir).list())
      .exists(_.exists(f => f.endsWith(".parquet") || f == "_SUCCESS"))
    if (!seeded) throw new IllegalStateException(
      s"$daemon: corpus dir '$corpusDir' has no parquet data — the " +
        "ingest daemon dedupes against the corpus-so-far, so the dir must " +
        "be seeded with at least one (doc_id, text) parquet write before " +
        "the stream starts (an empty DataFrame write suffices)")
  }

  /** Streaming NEAR-dup ingest daemon — the streaming half of batch d10:
    * every micro-batch of incoming docs is verified against the
    * corpus-so-far with the ingest-proportional incremental LSH pipeline
    * ([[graft.queries.Dedup.incrementalLshPairs]] — old×old pairs never
    * re-verified), then appended to the corpus. `foreachBatch` is the
    * right tool, not a continuous query: the LSH pipeline is multi-pass
    * (signatures, bounded bucket agg, self-join, exact verify) — exactly
    * how production Spark runs batch-incremental dedup over a stream.
    * Each batch's pairs frame arrives at `onBatch` eagerly materialized
    * (localCheckpoint) BEFORE the corpus append, so a late-reading sink
    * cannot see the batch deduped against itself.
    *
    * State is the corpus parquet dir itself (must be seeded non-empty):
    * restart-safe — reprocessing a batch recomputes the same pairs plus
    * self-pairs against its own appended copy, which a digest-keyed sink
    * dedupes; exactly-once is the sink's job, as usual with foreachBatch.
    */
  def lshDedupIngest(incoming: DataFrame, corpusDir: String,
      onBatch: (Long, DataFrame) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[Row] = {
    requireSeeded("lshDedupIngest", corpusDir)
    incoming.writeStream.outputMode("append").foreachBatch {
      (batch: Dataset[Row], batchId: Long) =>
        val spark = batch.sparkSession
        val b = batch.select(col("doc_id"), col("text")).localCheckpoint(true)
        val existing = spark.read.parquet(corpusDir)
        val pairs = graft.queries.Dedup.incrementalLshPairs(existing, b)
          .localCheckpoint(true)
        onBatch(batchId, pairs)
        b.write.mode("append").parquet(corpusDir)
    }
  }

  /** Streaming EXACT-dedup ingest daemon — the streaming half of batch
    * d16: each micro-batch is first deduped internally (min doc_id per
    * digest — d06's keeper rule), then checked against the corpus-so-far
    * with the bloom-guarded anti join ([[graft.queries.Dedup
    * .bloomGuardedNewRows]] — misses skip the join, positives are
    * exact-confirmed), and only the SURVIVORS are appended, so the corpus
    * parquet dir stays duplicate-free by construction. The bloom is
    * rebuilt per micro-batch from the corpus digests — one distributed
    * aggregation over a narrow digest scan, amortized across the whole
    * batch; at production scale the daemon would cache it between batches
    * and rebuild on a cadence, which changes cost, never results (the
    * exact confirm makes bloom staleness semantically invisible as long
    * as APPENDS only add keys — a fresh key wrongly reported present
    * would be cleared by the anti join).
    *
    * Restart-safe the same way as [[lshDedupIngest]]: reprocessing a
    * batch finds all its survivors already in the corpus and appends
    * nothing new.
    */
  def bloomDedupIngest(incoming: DataFrame, corpusDir: String,
      onBatch: (Long, DataFrame) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[Row] = {
    requireSeeded("bloomDedupIngest", corpusDir)
    incoming.writeStream.outputMode("append").foreachBatch {
      (batch: Dataset[Row], batchId: Long) =>
        val spark = batch.sparkSession
        val b = batch.select(col("doc_id"), col("text"))
          .withColumn("digest", md5(col("text")))
          .groupBy("digest")
          .agg(min(col("doc_id")).as("doc_id"), first(col("text")).as("text"))
          .localCheckpoint(true)
        val corpusDigests = spark.read.parquet(corpusDir)
          .select(md5(col("text")).as("digest")).distinct()
        val survivors = graft.queries.Dedup
          .bloomGuardedNewRows(b, corpusDigests, "digest")
          .select(col("doc_id"), col("text"))
          .localCheckpoint(true)
        onBatch(batchId, survivors)
        survivors.write.mode("append").parquet(corpusDir)
    }
  }

  /** Typed event that keeps the watermarked `event_time` column — required
    * so the watermark survives into the stateful operator below.
    */
  case class TimedEvent(
      user_id: Long, ts_us: Long, value: Double, event_time: java.sql.Timestamp)

  /** Production sessionization: Append mode + event-time timeout. Emits a
    * session exactly once, when it CLOSES — either a later event of the same
    * user arrives past the gap, or the watermark passes session end + gap
    * (timeout) and the user's state is evicted. State is O(active users) and
    * actually shrinks as users go idle, unlike the Update-mode snapshot
    * variant above — this is the shape you run forever against an unbounded
    * stream.
    */
  def sessionizeAppend(events: DataFrame): Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("event_time", Watermark)
      .select(col("user_id"), col("ts_us"), col("value"), col("event_time"))
      .as[TimedEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, events: Iterator[TimedEvent], state: GroupState[OpenSession]) =>
          if (state.hasTimedOut) {
            // watermark passed end + gap: the open session can never extend
            val o = state.get
            state.remove()
            Iterator.single(Session(uid, o.start_us, o.end_us, o.n, o.sum))
          } else {
            val sorted = events.toIndexedSeq.sortBy(_.ts_us)
            // merge + stray discipline shared with sessionize: foldBatch
            val (closed, open) =
              foldBatch(sorted.map(e => (e.ts_us, e.value)), state.getOption)
            open.foreach { o =>
              state.update(o)
              // evict once no event can extend this session: end + gap
              state.setTimeoutTimestamp(o.end_us / 1000L + GapUs / 1000L)
            }
            closed.iterator
              .map(o => Session(uid, o.start_us, o.end_us, o.n, o.sum))
          }
      }
  }

  /** Streaming heavy hitters — the streaming half of batch e11, and the
    * cleanest demonstration of WHY the sketch is built on mergeable
    * summaries: a plain streaming aggregation whose buffer IS the
    * Misra-Gries state. Spark's streaming aggregation keeps the udaf
    * buffer in the state store and MERGES each micro-batch's partial
    * sketches into it — exactly the arbitrary-merge-order regime the
    * n/(k+1) guarantee covers (MisraGriesSpec pins it adversarially;
    * StreamingSpec pins it across real micro-batch boundaries with the
    * guarantee checked after every batch). Run in Complete mode: the
    * output is one row (n, sketch) — O(k) state forever, no per-key
    * shuffle of the value domain, the 100 TB/unbounded-stream shape.
    */
  def heavyHitterSketch(events: DataFrame, k: Int): DataFrame =
    events.groupBy().agg(
      count(lit(1)).as("n"),
      graft.functions.MisraGries.sketch(col("event_type"), k).as("mg"))
}
