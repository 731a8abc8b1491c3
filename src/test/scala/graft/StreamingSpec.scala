package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.Streams

class StreamingSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  val sf = SharedSpark.sf

  test("streaming tumbling-window agg equals the batch e02 result") {
    val q = Streams.tumblingCounts(Streams.readEvents(spark, sf))
      .writeStream.outputMode("complete")
      .format("memory").queryName("stream_tumbling")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("stream_tumbling")
        .select(
          (unix_timestamp(col("window.start")) / 3600).cast("long").as("hour_bucket"),
          col("event_type"), col("n"))
        .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
      val batch = Registry.byName("e02_tumbling_window").run(spark, sf)
        .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(streamed == batch)
    } finally q.stop()
  }

  test("streaming zone stats equal batch p13's manifest rows (mergeable agg IS the stream op)") {
    val q = Streams.zoneStats(spark, sf)
      .writeStream.outputMode("complete")
      .format("memory").queryName("stream_p15")
      .start()
    try {
      q.processAllAvailable()
      def key(df: org.apache.spark.sql.DataFrame) = df
        .select(col("shard"), col("n_rows"), col("min_ts"), col("max_ts"),
          col("min_value"), col("max_value"))
        .collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
          r.getDouble(4), r.getDouble(5))).toMap
      val streamed = key(spark.table("stream_p15"))
      // batch side: p13's manifest (p15's incremental rows are oracled
      // equal to it) — compare the stats columns, the verdict columns
      // are derived zone-frame arithmetic the stream doesn't re-emit
      val batch = key(Registry.byName("p13_zone_map_prune").run(spark, sf))
      assert(streamed == batch)
    } finally q.stop()
  }

  test("streaming ANN index ingest equals batch encode (frozen quantizers)") {
    val q = Streams.annIndexEncode(spark, sf)
      .writeStream.outputMode("append")
      .format("memory").queryName("stream_s20")
      .start()
    try {
      q.processAllAvailable()
      def key(df: org.apache.spark.sql.DataFrame) = df
        .select(col("vec_id"), col("cell"), col("codes"))
        .collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getSeq[Int](2).toList))
        .toMap
      val streamed = key(spark.table("stream_s20"))
      // batch side: the identical frozen-quantizer encode — train on the
      // same base cut, encode the whole corpus in one pass (what s20's
      // oracle proves the union equals)
      import graft.queries.Similarity
      val e = spark.read.parquet(s"$sf/embeddings.parquet")
        .select(col("vec_id"), col("embedding"))
      val cut = e.agg(max(col("vec_id"))).head.getLong(0) * 4 / 5
      val (cA, cR) = Similarity.ivfPqQuantizers(e.filter(col("vec_id") <= cut))
      val batch = key(Similarity.ivfPqEncode(e, cA, cR))
      assert(streamed == batch,
        "streaming ingest encode must reproduce the batch encode exactly")
    } finally q.stop()
  }

  test("streaming n-gram counts equal batch c36's merged count table") {
    val q = Streams.ngramCounts(spark, sf)
      .writeStream.outputMode("complete")
      .format("memory").queryName("stream_c36")
      .start()
    try {
      q.processAllAvailable()
      def key(df: org.apache.spark.sql.DataFrame) = df
        .select(col("h"), col("c")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val streamed = key(spark.table("stream_c36"))
      val docs = spark.read.parquet(s"$sf/documents.parquet")
        .select(col("doc_id"), col("text"))
      val batch = key(graft.queries.Corpus.knNgramHashStream(docs, 5)
        .groupBy("h").agg(count(lit(1)).as("c")))
      assert(streamed == batch,
        "stateful streaming count must equal the batch count table")
      // and the hash-keyed count table loses nothing vs counting the
      // gram STRINGS: same number of types, same occurrence total
      import org.apache.spark.sql.functions.{concat_ws, slice, split, size => asize, greatest, transform => atransform}
      val ts = split(col("text"), " ")
      val cnt = greatest(asize(ts) - 4, lit(0))
      val gstr = docs.filter(asize(ts) >= 5).select(explode(atransform(
        org.apache.spark.sql.functions.sequence(lit(1), cnt),
        i => concat_ws(" ", slice(ts, i, lit(5))))).as("g"))
      val strTypes = gstr.groupBy("g").count().count()
      assert(batch.size.toLong == strTypes, "hash types == string types")
      assert(batch.values.sum == gstr.count(), "occurrence totals agree")
    } finally q.stop()
  }

  test("streaming inverted index equals batch c39's merged index") {
    val q = Streams.invertedIndex(spark, sf)
      .writeStream.outputMode("complete")
      .format("memory").queryName("stream_c39")
      .start()
    try {
      q.processAllAvailable()
      def key(df: org.apache.spark.sql.DataFrame) = df
        .select(col("token"), col("shard"), col("df_shard"), col("postings"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1)) ->
          (r.getLong(2), r.getString(3))).toMap
      val streamed = key(spark.table("stream_c39"))
      val batch = key(graft.queries.Corpus.invertedIndexRows(
        spark.read.parquet(s"$sf/documents.parquet")
          .select(col("doc_id"), col("text"))))
      assert(streamed == batch,
        "stateful streaming index must equal the batch index")
    } finally q.stop()
  }

  test("streaming ensemble gate equals batch t25b bit-for-bit (frozen serve model)") {
    val q = Streams.ensembleGate(spark, sf)
      .writeStream.outputMode("append")
      .format("memory").queryName("stream_t25b")
      .start()
    try {
      q.processAllAvailable()
      def key(df: org.apache.spark.sql.DataFrame) = df
        .select(col("doc_id"), col("cls"), col("lm_nll"), col("rep_ratio"),
          col("stop_frac"), col("ens"), col("keep"))
        .collect()
        .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2),
          r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getBoolean(6)))
        .toMap
      val streamed = key(spark.table("stream_t25b"))
      val batch = key(Registry.byName("t25b_ensemble_serve").run(spark, sf))
      assert(streamed == batch,
        "map-side serve must reproduce the batch chain exactly")
    } finally q.stop()
  }

  test("streaming latest-wins state equals batch p12 (mergeable agg IS the stream op)") {
    val q = Streams.latestWins(spark, sf)
      .writeStream.outputMode("complete")
      .format("memory").queryName("stream_p12")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("stream_p12").collect()
        .map(r => r.getLong(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toMap
      val batch = Registry.byName("p12_latest_wins_merge").run(spark, sf)
        .collect()
        .map(r => r.getLong(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toMap
      assert(streamed == batch)
    } finally q.stop()
  }

  test("Misra-Gries sketch runs in a streaming aggregation and keeps its guarantee") {
    // the sketch's mergeable ≤k-counter buffer is exactly the state shape
    // streaming aggregation needs — the SAME aggregator runs batch (e11)
    // and streaming, and the n/(k+1) survival guarantee holds because it is
    // merge-order-independent
    val q = Streams.readEvents(spark, sf)
      .agg(graft.functions.MisraGries.sketch(col("event_type"), 4).as("mg"),
        count(lit(1)).as("n"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("stream_mg")
      .start()
    try {
      q.processAllAvailable()
      val row = spark.table("stream_mg").head()
      val mg = row.getMap[String, Long](0)
      val n = row.getLong(1)
      val counts = graft.engine.Tables(spark, sf, "events")
        .groupBy("event_type").agg(count(lit(1)).as("c"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(counts.values.sum == n)
      val hitters = counts.filter(_._2 > n / 5.0).keySet
      assert(hitters.subsetOf(mg.keySet.toSet),
        s"hitters $hitters missing from streaming sketch $mg")
      assert(mg.size <= 4)
    } finally q.stop()
  }

  test("e18: heavy-hitter sketch guarantee survives micro-batch state merges") {
    import java.nio.file.{Files, Paths}
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    import spark.implicits._
    // three adversarial arrivals: batch 2 is pure filler trying to decay
    // the batch-1 hitter's counter out of the state-store sketch; batch 3
    // promotes a second hitter. After EVERY merge the exact hitters over
    // everything-so-far must still be in the sketch — the state-store
    // merge is just another merge order the MG guarantee covers.
    val tmp = Files.createTempDirectory("graft-mg-stream")
    val in = s"$tmp/in"
    Files.createDirectories(Paths.get(in))
    val schema = StructType(Seq(StructField("event_type", StringType)))
    def arrive(rows: Seq[String], name: String): Unit = {
      import scala.jdk.CollectionConverters._
      val stage = s"$tmp/stage-$name"
      rows.toDF("event_type").coalesce(1)
        .write.mode("overwrite").parquet(stage)
      val f = Files.list(Paths.get(stage)).iterator().asScala
        .filter(_.toString.endsWith(".parquet")).next()
      Files.copy(f, Paths.get(in, s"$name.parquet"))
    }
    // counts chosen so both hitters clear n/5 at EVERY checkpoint they
    // exist at: n = 180 / 280 / 440 → thresholds 36 / 56 / 88; hot = 100,
    // hot2 = 120
    val b1 = Seq.fill(100)("hot") ++ (0 until 80).map(i => s"f${i % 16}")
    val b2 = (0 until 100).map(i => s"g${i % 20}")
    val b3 = Seq.fill(120)("hot2") ++ (0 until 40).map(i => s"f${i % 16}")
    val q = Streams.heavyHitterSketch(
        spark.readStream.schema(schema).parquet(in), k = 4)
      .writeStream.outputMode("complete")
      .format("memory").queryName("stream_mg_batches")
      .start()
    try {
      var fed = Seq.empty[String]
      for ((b, name) <- Seq(b1 -> "b1", b2 -> "b2", b3 -> "b3")) {
        arrive(b, name)
        fed = fed ++ b
        q.processAllAvailable()
        val row = spark.table("stream_mg_batches").head()
        val (n, mg) = (row.getLong(0), row.getMap[String, Long](1))
        assert(n == fed.size, s"after $name")
        val counts = fed.groupBy(identity).view.mapValues(_.size.toLong)
        val hitters = counts.filter(_._2 > n / 5.0).keySet
        assert(hitters.subsetOf(mg.keySet.toSet),
          s"after $name: hitters $hitters missing from $mg")
        assert(mg.size <= 4, s"after $name")
      }
      // the final state must hold BOTH planted hitters
      val mgF = spark.table("stream_mg_batches").head().getMap[String, Long](1)
      assert(mgF.keySet.contains("hot") && mgF.keySet.contains("hot2"), mgF)
    } finally q.stop()
  }

  test("streaming dropDuplicates with watermark equals batch distinct") {
    val q = Streams.readEvents(spark, sf)
      .withWatermark("event_time", "2 hours")
      .dropDuplicates("user_id", "event_type")
      .select("user_id", "event_type")
      .writeStream.outputMode("append")
      .format("memory").queryName("stream_dedup")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("stream_dedup")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      val batch = spark.read.schema(Streams.eventSchema)
        .parquet(s"$sf/events.parquet")
        .select("user_id", "event_type").distinct()
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("watermarked append-mode stream runs and registers state eviction") {
    val q = Streams.tumblingCountsWatermarked(Streams.readEvents(spark, sf))
      .writeStream.outputMode("append")
      .format("memory").queryName("stream_wm")
      .start()
    try {
      q.processAllAvailable()
      val progress = q.lastProgress
      // with one input batch, append emits only windows older than the
      // watermark; correctness of contents is covered by the complete-mode
      // test — here we assert the watermark actually advanced.
      assert(progress.eventTime.get("watermark") != null)
    } finally q.stop()
  }

  test("windowed agg state merges correctly across multiple micro-batches") {
    import java.nio.file.{Files, Paths}
    val stage = Files.createTempDirectory("graft-stream-2batch").toString
    val ev = Streams.readEvents(spark, sf) // just for schema-compatible batch df
    val batchDf = spark.read.schema(Streams.eventSchema).parquet(s"$sf/events.parquet")
    // two halves arriving as separate files = separate micro-batches
    batchDf.filter(col("event_id") % 2 === 0).coalesce(1)
      .write.mode("overwrite").parquet(s"$stage/half1")
    val streamIn = Files.createTempDirectory("graft-stream-2batch-in").toString
    def arrive(src: String, name: String): Unit = {
      import scala.jdk.CollectionConverters._
      val f = Files.list(Paths.get(src)).iterator().asScala
        .filter(_.toString.endsWith(".parquet")).next()
      Files.copy(f, Paths.get(streamIn, name))
    }
    val events = spark.readStream.schema(Streams.eventSchema).parquet(streamIn)
      .withColumn("event_time", expr(graft.queries.EventsOps.EventTimeSql))
    val q = Streams.tumblingCounts(events)
      .writeStream.outputMode("complete")
      .format("memory").queryName("stream_2batch")
      .start()
    try {
      arrive(s"$stage/half1", "a.parquet")
      q.processAllAvailable()
      batchDf.filter(col("event_id") % 2 === 1).coalesce(1)
        .write.mode("overwrite").parquet(s"$stage/half2")
      arrive(s"$stage/half2", "b.parquet")
      q.processAllAvailable()
      val streamed = spark.table("stream_2batch")
        .select(
          (unix_timestamp(col("window.start")) / 3600).cast("long").as("hour_bucket"),
          col("event_type"), col("n"))
        .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
      val batch = Registry.byName("e02_tumbling_window").run(spark, sf)
        .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(streamed == batch)
    } finally q.stop()
  }

  test("watermarked stream-stream join equals the batch interval join") {
    val q = Streams.purchaseSignupJoin(Streams.readEvents(spark, sf))
      .writeStream.outputMode("append")
      .format("memory").queryName("stream_ss_join")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("stream_ss_join")
        .select("p_id", "s_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val ev = spark.read.schema(Streams.eventSchema).parquet(s"$sf/events.parquet")
        .withColumn("event_time", expr(graft.queries.EventsOps.EventTimeSql))
      val batch = Streams.purchaseSignupJoin(ev)
        .select("p_id", "s_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(streamed == batch)
      assert(batch.nonEmpty)
    } finally q.stop()
  }

  test("append-mode sessionization closes sessions across micro-batches and evicts state") {
    import java.nio.file.{Files, Paths}
    import spark.implicits._
    val batchDf = spark.read.schema(Streams.eventSchema).parquet(s"$sf/events.parquet")
      .withColumn("ts_us", expr(graft.queries.EventsOps.TsUsSql))
    // split by TIME (not id) so batch 2 carries no late data and the
    // watermark advance between batches exercises the event-time timeout
    val midUs = batchDf.agg(
      ((min(col("ts_us")) + max(col("ts_us"))) / 2).cast("long")).head().getLong(0)
    val stage = Files.createTempDirectory("graft-sess-append").toString
    val streamIn = Files.createTempDirectory("graft-sess-append-in").toString
    def arrive(src: String, name: String): Unit = {
      import scala.jdk.CollectionConverters._
      val f = Files.list(Paths.get(src)).iterator().asScala
        .filter(_.toString.endsWith(".parquet")).next()
      Files.copy(f, Paths.get(streamIn, name))
    }
    batchDf.filter(col("ts_us") <= midUs).drop("ts_us").coalesce(1)
      .write.mode("overwrite").parquet(s"$stage/half1")
    batchDf.filter(col("ts_us") > midUs).drop("ts_us").coalesce(1)
      .write.mode("overwrite").parquet(s"$stage/half2")
    val events = spark.readStream.schema(Streams.eventSchema).parquet(streamIn)
      .withColumn("ts_us", expr(graft.queries.EventsOps.TsUsSql))
      .withColumn("event_time", expr(graft.queries.EventsOps.EventTimeSql))
    val q = Streams.sessionizeAppend(events)
      .writeStream.outputMode("append")
      .format("memory").queryName("stream_sessions_append")
      .start()
    try {
      arrive(s"$stage/half1", "a.parquet")
      q.processAllAvailable()
      arrive(s"$stage/half2", "b.parquet")
      q.processAllAvailable()
      val streamed = spark.table("stream_sessions_append")
        .select("user_id", "start_us", "end_us", "n_events")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      // expected: every batch session EXCEPT each user's last one when its
      // end + gap is still ahead of the final watermark (those stay open)
      val all = Registry.byName("e01_sessionize").run(spark, sf)
        .select("user_id", "start_us", "end_us", "n_events")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      val lastEnd = all.groupBy(_._1).view.mapValues(_.map(_._3).max).toMap
      val maxUs = batchDf.agg(max(col("ts_us"))).head().getLong(0)
      val wmMs = maxUs / 1000L - 2L * 3600L * 1000L // 2h watermark delay
      val expected = all.filter { case (u, _, end, _) =>
        end != lastEnd(u) || (end / 1000L + Streams.GapUs / 1000L) < wmMs
      }.toSet
      assert(streamed == expected)
      // at least one session must have closed via the timeout path: a user
      // whose ONLY activity was in batch 1 has no closing arrival
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("stream-static anti-join dedup matches the batch incremental dedup") {
    val q = Streams.dedupIncremental(spark, sf)
      .writeStream.outputMode("append")
      .format("memory").queryName("stream_dedup_inc")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("stream_dedup_inc")
        .select("digest").collect().map(_.getString(0)).toSet
      // batch ground truth: digests of >=250 docs unseen among <250 docs
      val docs = spark.read.parquet(s"$sf/documents.parquet")
      val hist = docs.filter(col("doc_id") < 250)
        .select(md5(col("text")).as("digest")).distinct()
      val batch = docs.filter(col("doc_id") >= 250)
        .select(md5(col("text")).as("digest")).distinct()
        .join(hist, Seq("digest"), "left_anti")
        .collect().map(_.getString(0)).toSet
      assert(streamed == batch)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("streaming anomaly scoring equals the batch e13 result") {
    val q = Streams.anomalyScores(spark, sf)
      .writeStream.outputMode("append")
      .format("memory").queryName("stream_anomaly")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("stream_anomaly").collect()
        .map(r => (r.getLong(0), r.getDouble(3))).toMap
      val batch = Registry.byName("e13_anomaly_zscore").run(spark, sf)
        .collect().map(r => (r.getLong(0), r.getDouble(3))).toMap
      // identical anomaly SET and bit-identical z-scores
      assert(streamed == batch)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("streaming quality filter equals the batch t09 keep decisions") {
    val q = Streams.qualityFilter(spark, sf)
      .writeStream.outputMode("append")
      .format("memory").queryName("stream_quality")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("stream_quality").collect()
        .map(r => r.getLong(0) -> r.getBoolean(5)).toMap
      val batch = Registry.byName("t09_gopher_filter").run(spark, sf)
        .collect().map(r => r.getLong(0) -> r.getBoolean(9)).toMap
      assert(streamed == batch)
      assert(streamed.values.exists(identity) &&
        streamed.values.exists(!_), "filter lost discrimination")
    } finally q.stop()
  }

  test("streaming format sniffer equals the batch m06 verdicts") {
    val q = Streams.formatSniffer(spark, sf)
      .writeStream.outputMode("append")
      .format("memory").queryName("stream_sniffer")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("stream_sniffer").collect()
        .map(r => r.getLong(0) -> (r.getString(2), r.getBoolean(4))).toMap
      val batch = Registry.byName("m06_magic_sniff").run(spark, sf)
        .collect().map(r => r.getLong(0) -> (r.getString(2), r.getBoolean(4)))
        .toMap
      assert(streamed == batch)
      assert(streamed.values.map(_._1).toSet.size > 1, "detection collapsed")
    } finally q.stop()
  }

  test("streaming code router equals the batch t16 routing decisions") {
    val q = Streams.codeRouter(spark, sf)
      .writeStream.outputMode("append")
      .format("memory").queryName("stream_code_router")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("stream_code_router").collect()
        .map(r => r.getLong(0) -> r.getBoolean(4)).toMap
      val batch = Registry.byName("t16_code_detect").run(spark, sf)
        .collect().map(r => r.getLong(0) -> r.getBoolean(4)).toMap
      assert(streamed == batch)
      assert(streamed.values.exists(identity) &&
        streamed.values.exists(!_), "router lost discrimination")
    } finally q.stop()
  }

  test("streaming range-join matches equal the batch e15 pair set") {
    val q = Streams.rangeJoinMatches(spark, sf)
      .writeStream.outputMode("append")
      .format("memory").queryName("stream_range_join")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("stream_range_join").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val ev = spark.read.schema(Streams.eventSchema).parquet(s"$sf/events.parquet")
      val batch = graft.queries.EventsOps
        .rangeMatches(ev, graft.queries.EventsOps.incidentWindows(ev))
        .select("window_id", "event_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(streamed == batch)
      assert(batch.nonEmpty)
    } finally q.stop()
  }

  test("lshDedupIngest refuses an unseeded corpus dir at construction") {
    import java.nio.file.{Files, Paths}
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val tmp = Files.createTempDirectory("graft-unseeded")
    Files.createDirectories(Paths.get(s"$tmp/incoming"))
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    val incoming = spark.readStream.schema(schema).parquet(s"$tmp/incoming")
    val corpus = s"$tmp/corpus"
    // both ingest daemons refuse; the message must name the daemon and the
    // precondition, not leak a parquet error
    val refusals = Seq(
      "lshDedupIngest" -> intercept[IllegalStateException] {
        Streams.lshDedupIngest(incoming, corpus, (_, _) => ())
      },
      "bloomDedupIngest" -> intercept[IllegalStateException] {
        Streams.bloomDedupIngest(incoming, corpus, (_, _) => ())
      })
    for ((name, e) <- refusals)
      assert(e.getMessage.startsWith(name) && e.getMessage.contains("seeded"),
        e.getMessage)
  }

  // The LSH ingest fixture: the sf0.001 documents seed the corpus; batch 1
  // is exact copies of every 10th doc (+2M ids), batch 2 near copies
  // (+1M ids, 2 tokens cut).
  private lazy val lshDocs = graft.engine.Tables(spark, sf, "documents")
    .select(col("doc_id"), col("text"))
  private lazy val lshTenth = lshDocs.filter(col("doc_id") % 10 === 0)
  private lazy val lshB1 =
    lshTenth.select((col("doc_id") + 2000000L).as("doc_id"), col("text"))
  private lazy val lshB2 = lshTenth
    .select((col("doc_id") + 1000000L).as("doc_id"),
      concat_ws(" ", slice(split(col("text"), " "), lit(1),
        size(split(col("text"), " ")) - 2)).as("text"))

  /** One lshDedupIngest daemon over fresh directories: seed the corpus,
    * stream batch 1 then batch 2, stop. Returns every emitted pair. */
  private def lshIngest(): Set[(Long, Long)] = {
    import java.nio.file.{Files, Paths}
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val tmp = Files.createTempDirectory("graft-lsh-ingest")
    val corpusDir = s"$tmp/corpus"
    lshDocs.write.mode("overwrite").parquet(corpusDir)
    val streamIn = s"$tmp/incoming"
    Files.createDirectories(Paths.get(streamIn))
    def arrive(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      import scala.jdk.CollectionConverters._
      val stage = s"$tmp/stage-$name"
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val f = Files.list(Paths.get(stage)).iterator().asScala
        .filter(_.toString.endsWith(".parquet")).next()
      Files.copy(f, Paths.get(streamIn, s"$name.parquet"))
    }
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    val collected = scala.collection.mutable.Set[(Long, Long)]()
    val incoming = spark.readStream.schema(schema).parquet(streamIn)
    val q = Streams.lshDedupIngest(incoming, corpusDir, (_, pairs) =>
      collected.synchronized {
        collected ++= pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
      }).start()
    try {
      arrive(lshB1, "b1")
      q.processAllAvailable()
      arrive(lshB2, "b2")
      q.processAllAvailable()
    } finally q.stop()
    collected.toSet
  }

  test("streaming LSH near-dup ingest equals batch d10 semantics across micro-batches") {
    val collected = lshIngest()
    // expected: batch d03 over the full final corpus, restricted to pairs
    // touching a streamed doc (>= 1M id) — b1-internal pairs surface in
    // micro-batch 1, corpus×b1 and (corpus ∪ b1)×b2 in their batches;
    // corpus-internal pairs must never re-surface
    val all = graft.queries.Dedup.lshJaccardPairs(
      lshDocs.unionByName(lshB1).unionByName(lshB2), k = 32, bands = 8,
      cap = 100, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = all.filter(p => p._1 >= 1000000L || p._2 >= 1000000L)
    assert(collected == expected,
      s"only-streamed=${collected -- expected} only-batch=${expected -- collected}")
    assert(collected.nonEmpty)
  }

  test("a second lshDedupIngest daemon over the same inputs compiles no class") {
    // Every streaming query runs in a cloned session. With Spark's artifact
    // isolation each clone got a fresh executor class loader, and the
    // codegen cache is keyed by class loader, so each daemon start
    // re-compiled the same ~35 classes (GraftSession turns isolation off).
    val first = lshIngest()
    val c0 = BenchGate.janinoCompiles()
    val second = lshIngest()
    val compiled = BenchGate.janinoCompiles() - c0
    assert(compiled == 0, s"the second daemon compiled $compiled classes")
    assert(second == first && second.nonEmpty)
  }

  test("lshDedupIngest restart from checkpoint equals the uninterrupted run") {
    import java.nio.file.{Files, Paths}
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    // the recovery gate: stop the daemon mid-stream (after batch 1 of 2),
    // restart a NEW query from the same checkpointLocation, and require
    // the corpus + emitted pair set to equal an uninterrupted run — i.e.
    // the checkpoint's offset log really prevents re-ingesting batch 1
    val docs = graft.engine.Tables(spark, sf, "documents")
      .select(col("doc_id"), col("text")).filter(col("doc_id") % 10 === 0)
    val b1 = docs.select((col("doc_id") + 2000000L).as("doc_id"), col("text"))
    val b2 = docs.select((col("doc_id") + 1000000L).as("doc_id"),
      concat_ws(" ", slice(split(col("text"), " "), lit(1),
        size(split(col("text"), " ")) - 2)).as("text"))
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    val tmp = Files.createTempDirectory("graft-lsh-restart")
    def arrive(df: org.apache.spark.sql.DataFrame, in: String, name: String): Unit = {
      import scala.jdk.CollectionConverters._
      val stage = s"$tmp/stage-$name"
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val f = Files.list(Paths.get(stage)).iterator().asScala
        .filter(_.toString.endsWith(".parquet")).next()
      Files.copy(f, Paths.get(in, s"$name.parquet"))
    }
    def run(tag: String)(drive: (String, String, scala.collection.mutable.Set[(Long, Long)]) => Unit)
        : (Set[(Long, String)], Long, Set[(Long, Long)]) = {
      val (in, corpus, cp) = (s"$tmp/$tag-in", s"$tmp/$tag-corpus", s"$tmp/$tag-cp")
      Files.createDirectories(Paths.get(in))
      docs.write.mode("overwrite").parquet(corpus)
      val pairs = scala.collection.mutable.Set[(Long, Long)]()
      drive(in, corpus, pairs)
      val rows = spark.read.parquet(corpus)
      (rows.collect().map(r => (r.getLong(0), r.getString(1))).toSet,
        rows.count(), pairs.toSet)
      // count vs set: a re-ingested batch appends DUPLICATE rows, which
      // the set view would hide — the count catches it
    }
    def startQ(in: String, corpus: String, cp: String,
        sink: scala.collection.mutable.Set[(Long, Long)]) =
      Streams.lshDedupIngest(
        spark.readStream.schema(schema).parquet(in), corpus,
        (_, p) => sink.synchronized {
          sink ++= p.collect().map(r => (r.getLong(0), r.getLong(1)))
        }).option("checkpointLocation", cp).start()
    val interrupted = run("restarted") { (in, corpus, pairs) =>
      val cp = s"$tmp/restarted-cp"
      val q1 = startQ(in, corpus, cp, pairs)
      try { arrive(b1, in, "b1"); q1.processAllAvailable() } finally q1.stop()
      // restart: a NEW query object, same checkpoint, same corpus state
      val q2 = startQ(in, corpus, cp, pairs)
      try { arrive(b2, in, "b2"); q2.processAllAvailable() } finally q2.stop()
    }
    val clean = run("clean") { (in, corpus, pairs) =>
      val q = startQ(in, corpus, s"$tmp/clean-cp", pairs)
      try {
        arrive(b1, in, "b1"); q.processAllAvailable()
        arrive(b2, in, "b2"); q.processAllAvailable()
      } finally q.stop()
    }
    assert(interrupted._1 == clean._1, "corpus contents diverged")
    assert(interrupted._2 == clean._2,
      s"row counts diverged (${interrupted._2} vs ${clean._2}) — duplicate append")
    assert(interrupted._3 == clean._3,
      s"pair sets diverged: only-restarted=${interrupted._3 -- clean._3} " +
        s"only-clean=${clean._3 -- interrupted._3}")
    assert(interrupted._3.nonEmpty)
  }

  test("streaming bloom-guarded exact-dedup ingest keeps the corpus duplicate-free") {
    import java.nio.file.{Files, Paths}
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val docs = graft.engine.Tables(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
    val tenth = docs.filter(col("doc_id") % 10 === 0)
    // b1: verbatim copies (all dups, zero survivors) + fresh docs
    val copies = tenth.select((col("doc_id") + 2000000L).as("doc_id"), col("text"))
    val fresh = tenth.select((col("doc_id") + 3000000L).as("doc_id"),
      concat(col("text"), lit(" genuinely fresh")).as("text"))
    val b1 = copies.unionByName(fresh)
    // b2: the b1 fresh docs AGAIN under new ids (dup vs corpus-after-b1)
    // + an internal dup pair (min doc_id must win)
    val again = tenth.select((col("doc_id") + 4000000L).as("doc_id"),
      concat(col("text"), lit(" genuinely fresh")).as("text"))
    val internal = spark.range(2).select((col("id") + 5000000L).as("doc_id"),
      lit("twin text for the intra-batch duplicate pair").as("text"))
    val b2 = again.unionByName(internal)
    val tmp = Files.createTempDirectory("graft-bloom-ingest")
    val corpusDir = s"$tmp/corpus"
    docs.write.mode("overwrite").parquet(corpusDir)
    val streamIn = s"$tmp/incoming"
    Files.createDirectories(Paths.get(streamIn))
    def arrive(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      import scala.jdk.CollectionConverters._
      val stage = s"$tmp/stage-$name"
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val f = Files.list(Paths.get(stage)).iterator().asScala
        .filter(_.toString.endsWith(".parquet")).next()
      Files.copy(f, Paths.get(streamIn, s"$name.parquet"))
    }
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    val survived = scala.collection.mutable.Set[Long]()
    val incoming = spark.readStream.schema(schema).parquet(streamIn)
    val q = Streams.bloomDedupIngest(incoming, corpusDir, (_, s) =>
      survived.synchronized { survived ++= s.collect().map(_.getLong(0)) })
      .start()
    try {
      arrive(b1, "b1")
      q.processAllAvailable()
      arrive(b2, "b2")
      q.processAllAvailable()
      val freshIds = fresh.select("doc_id").collect().map(_.getLong(0)).toSet
      // batch 1: every verbatim copy dropped, every fresh doc kept;
      // batch 2: the re-sent fresh texts dropped, one twin survives
      assert(survived.toSet == freshIds + 5000000L,
        s"unexpected=${survived.toSet -- freshIds - 5000000L} " +
          s"missing=${freshIds -- survived}")
      // the corpus dir must be duplicate-free by digest after both batches
      val dupDigests = spark.read.parquet(corpusDir)
        .groupBy(md5(col("text"))).count().filter(col("count") > 1).count()
      assert(dupDigests == 0L, s"$dupDigests duplicated digests in corpus")
    } finally q.stop()
  }

  test("stateful streaming sessionization equals batch e01 sessionization") {
    import spark.implicits._
    val ds = Streams.readEvents(spark, sf)
      .selectExpr("user_id", "ts_us", "value").as[Streams.SessEvent]
    val q = Streams.sessionize(ds)
      .writeStream.outputMode("update")
      .format("memory").queryName("stream_sessions")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("stream_sessions")
        .select("user_id", "start_us", "end_us", "n_events")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      val batch = Registry.byName("e01_sessionize").run(spark, sf)
        .select("user_id", "start_us", "end_us", "n_events")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("foldBatch buffers beyond-contract strays and re-sessionizes them") {
    import Streams.{foldBatch, GapUs, OpenSession}
    // open session far in the future relative to the strays
    val open = OpenSession(100L * GapUs, 100L * GapUs + 1, 2, 5.0)
    // two strays within a gap of each other → ONE merged session (batch
    // semantics), not two singletons (the pre-r12 behavior)
    val (closed1, open1) = foldBatch(
      IndexedSeq((10L, 1.0), (10L + GapUs, 2.0)), Some(open))
    assert(closed1 == Vector(OpenSession(10L, 10L + GapUs, 2, 3.0)))
    assert(open1.contains(open))
    // strays separated by MORE than a gap → two sessions, ascending start
    val (closed2, open2) = foldBatch(
      IndexedSeq((10L, 1.0), (10L + GapUs + 1, 2.0)), Some(open))
    assert(closed2 == Vector(
      OpenSession(10L, 10L, 1, 1.0),
      OpenSession(10L + GapUs + 1, 10L + GapUs + 1, 1, 2.0)))
    assert(open2.contains(open))
    // a stray batch plus an in-contract extension: the stray session is
    // emitted closed, the open session extends
    val (closed3, open3) = foldBatch(
      IndexedSeq((10L, 1.0), (100L * GapUs + 2, 4.0)), Some(open))
    assert(closed3 == Vector(OpenSession(10L, 10L, 1, 1.0)))
    assert(open3.contains(
      OpenSession(100L * GapUs, 100L * GapUs + 2, 3, 9.0)))
  }
}
