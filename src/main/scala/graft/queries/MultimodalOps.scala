package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.QuerySpec
import graft.engine.Tables
import graft.multimodal.Multimodal

/** Driver-facing wrapper of the multimodal pipeline. The payload here is the
  * UTF-8 text (pure ASCII in this corpus), so the byte-level features are
  * expressible in the DuckDB oracle too — the binary plumbing gets a real
  * hash-checked gate, not just a rows-only pass.
  */
object MultimodalOps {

  /** Media corpus with planted near-duplicates for m04: every 10th payload
    * gets a copy (+3M id) with every 31st byte overwritten — the payload-
    * level analog of a re-encoded/watermarked image (small, spread-out
    * corruption; same length).
    */
  def plantedMedia(s: SparkSession, d: String): DataFrame = {
    val docs = Tables(s, d, "documents").select(col("doc_id"), col("text"))
    val perturbed = docs.filter(col("doc_id") % 10 === 0).select(
      (col("doc_id") + 3000000L).as("doc_id"),
      concat_ws("", transform(split(col("text"), ""),
        (c, i) => when(i % 31 === 0, lit("z")).otherwise(c))).as("text"))
    docs.unionByName(perturbed)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
  }

  /** pHash-style 64-bit perceptual fingerprint of a binary payload: the
    * payload is cut into 64 contiguous cells, and bit i is set iff cell i's
    * mean byte value exceeds the payload-wide mean — the block-mean variant
    * of the classic DCT pHash (same structure: localized corruption moves a
    * few cell means, so near-identical payloads land within a few bits).
    *
    * The fingerprint is a native codegen'd expression
    * ([[graft.functions.PHash64]]): one pass over the payload inside the
    * scan stage, so every payload reduces to 8 bytes BEFORE anything
    * shuffles. (An earlier relational form exploded bytes into a partial
    * aggregate — correct, but it moved 64 (doc, cell, sum, count) rows per
    * payload through an exchange; the expression moves zero.) The m04
    * oracle replicates the same cell/mean arithmetic relationally in SQL.
    */
  def pHash64(media: DataFrame): DataFrame =
    media.select(col("doc_id"),
      graft.functions.ghash.phash64(col("payload")).as("fp"))

  /** CDC corpus = documents ∪ every-10th doc with a 14-byte header
    * PREPENDED (+4M id) — the insertion planting m05/m07 share:
    * fixed-offset chunking would share nothing with the shifted copy;
    * CDC re-synchronizes after the first boundary.
    */
  def cdcCorpus(s: SparkSession, d: String): DataFrame = {
    val docs = Tables(s, d, "documents").select(col("doc_id"), col("text"))
    docs.unionByName(docs.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 4000000L).as("doc_id"),
        concat(lit("PREPENDED HDR "), col("text")).as("text")))
  }

  /** Content-defined chunking of each doc — the LBFS trailing-window
    * boundary rule (see the m05 spec comment for why the STATELESS window
    * form is load-bearing): returns (doc_id, chs, lens) — the md5 of each
    * chunk plus its width, in order. One pure per-row expression: chunking
    * happens in the scan stage, trivially parallel, nothing shuffles.
    * Shared by m05 (per-doc chunk stats) and m07 (corpus-wide chunk-store
    * accounting).
    */
  def cdcChunks(corpus: DataFrame): DataFrame = {
    import graft.functions.ghash
    val t = col("text")
    val n = length(t)
    val bnd = filter(
      when(n >= 8, sequence(lit(8), n))
        .otherwise(array().cast("array<int>")),
      p => ghash.fnv1a64(t.substr(p - 7, lit(8))) % 64 === 0)
    // boundary detection (an FNV per byte position — the dominant cost)
    // is aliased in its own projection: the chs/lens zip_withs reference
    // `bounds` four times, and CollapseProject keeps a multiply-referenced
    // non-cheap alias separate instead of inlining the filter 4×
    val withBounds = corpus.select(col("doc_id"), t,
      concat(array(lit(0)), bnd, array(n)).as("bounds"))
    val lo = slice(col("bounds"), lit(1), size(col("bounds")) - 1)
    val hi = slice(col("bounds"), lit(2), size(col("bounds")) - 1)
    withBounds.select(col("doc_id"),
      zip_with(lo, hi, (a, b) => md5(t.substr(a + 1, b - a))).as("chs"),
      zip_with(lo, hi, (a, b) => (b - a).cast(LongType)).as("lens"))
  }

  /** Planted-header payloads + magic-byte detection — the m06 engine,
    * factored so m08's per-format rollup consumes the SAME dispatch.
    * Returns (doc_id, n_bytes, detected, claimed, ok); see the m06 spec
    * comment for the planting scheme and the binary-substring note.
    */
  def sniffedMedia(s: SparkSession, d: String): DataFrame =
    sniffSignals(Tables(s, d, "documents").select(col("doc_id"), col("text")))

  /** The header planting + detection dispatch over any (doc_id, text)
    * frame — pure per-row column math, so the streaming half
    * ([[graft.streaming.Streams.formatSniffer]]) runs it stateless.
    */
  def sniffSignals(docs: DataFrame): DataFrame = {
    val v = (col("doc_id") % 4).cast("int")
    val hdr = when(v === 0, unhex(lit("89504E470D0A1A0A")))
      .when(v === 1, unhex(lit("FFD8FF")))
      .when(v === 2, unhex(lit("524946460000000057415645")))
    val payload = when(v === 3, encode(col("text"), "UTF-8"))
      .otherwise(concat(hdr, encode(col("text"), "UTF-8")))
    docs
      .select(col("doc_id"), payload.as("p"))
      .select(col("doc_id"),
        length(col("p")).cast(LongType).as("n_bytes"),
        when(hex(substring(col("p"), 1, 8)) === "89504E470D0A1A0A", "png")
          .when(hex(substring(col("p"), 1, 3)) === "FFD8FF", "jpg")
          .when(hex(substring(col("p"), 1, 4)) === "52494646" &&
            hex(substring(col("p"), 9, 4)) === "57415645", "wav")
          .otherwise("raw").as("detected"))
      .withColumn("claimed",
        when(col("doc_id") % 2 === 0, "png").otherwise("jpg"))
      .withColumn("ok", col("detected") === col("claimed"))
  }

  /** Oracle CTEs `p → m` mirroring [[sniffedMedia]] (ending in
    * `m(doc_id, n_bytes, detected, claimed)`), shared by m06 and m08.
    */
  val sniffedMediaCtes: String =
    """p AS (
      |  SELECT doc_id,
      |    CASE CAST(doc_id % 4 AS INT)
      |      WHEN 0 THEN unhex('89504E470D0A1A0A') || encode(text)
      |      WHEN 1 THEN unhex('FFD8FF') || encode(text)
      |      WHEN 2 THEN unhex('524946460000000057415645') ||
      |                    encode(text)
      |      ELSE encode(text)
      |    END AS p
      |  FROM documents),
      |m AS (
      |  SELECT doc_id, CAST(octet_length(p) AS BIGINT) AS n_bytes,
      |    CASE WHEN substr(hex(p), 1, 16) = '89504E470D0A1A0A'
      |           THEN 'png'
      |         WHEN substr(hex(p), 1, 6) = 'FFD8FF' THEN 'jpg'
      |         WHEN substr(hex(p), 1, 8) = '52494646'
      |          AND substr(hex(p), 17, 8) = '57415645' THEN 'wav'
      |         ELSE 'raw' END AS detected,
      |    CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpg' END AS claimed
      |  FROM p)""".stripMargin

  /** DuckDB CTEs `m → b → c` mirroring [[cdcCorpus]] + [[cdcChunks]]
    * (`c` carries both chs and lens) — shared by the m05 and m07 oracles.
    * NOTE: the position lambda binds `p`, NOT `i` — DuckHash.fnv's
    * internal fold binds `i`, and an outer `i` inside its argument would
    * be captured by the inner lambda.
    */
  val cdcChunkCtes: String = {
    import graft.engine.DuckHash
    s"""m AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 4000000, 'PREPENDED HDR ' || text
       |  FROM documents WHERE doc_id % 10 = 0),
       |b AS (
       |  SELECT doc_id, text AS t, CAST(length(text) AS BIGINT) AS n,
       |    list_filter(range(8, length(text)+1),
       |      p -> (${DuckHash.fnv("substr(text, p-7, 8)")}) % 64 = 0) AS bnd
       |  FROM m),
       |c AS MATERIALIZED (
       |  SELECT doc_id,
       |    list_transform(range(1, len(bounds)),
       |      j -> md5(substr(t, CAST(bounds[j] AS BIGINT) + 1,
       |                      bounds[j+1] - bounds[j]))) AS chs,
       |    list_transform(range(1, len(bounds)),
       |      j -> bounds[j+1] - bounds[j]) AS lens
       |  FROM (SELECT doc_id, t,
       |          list_prepend(CAST(0 AS BIGINT), list_append(bnd, n))
       |            AS bounds
       |        FROM b))""".stripMargin
  }

  lazy val specs: Vector[QuerySpec] = Vector(
    // REAL decode (round 10): one tiny deterministic raster per doc,
    // encoded to actual PNG (even ids, 8-bit gray) / BMP (odd ids, 24-bit)
    // bytes, decoded back via javax.imageio — dimensions and mean pixel
    // are read from the DECODED raster. The oracle recomputes both from
    // the generator formula (pixel = (doc_id·31 + x·7 + y·13) mod 256),
    // which it can do without a codec — so a green row proves the bytes
    // round-tripped bit-exactly through the image format.
    QuerySpec(
      "m01_media_features",
      (s, d) =>
        Multimodal.decodeFeatures(Multimodal.realMediaTable(s, d))
          .orderBy("doc_id")
          .toDF(),
      Some("""WITH g AS (
             |  SELECT doc_id, CAST(4 + doc_id % 13 AS INT) AS width,
             |    CAST(3 + doc_id % 11 AS INT) AS height,
             |    CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'bmp' END AS fmt
             |  FROM documents),
             |m AS (
             |  SELECT doc_id, width, height, fmt,
             |    list_sum(flatten(list_transform(range(0, height), y ->
             |      list_transform(range(0, width), x ->
             |        (doc_id * 31 + x * 7 + y * 13) % 256)))) AS s
             |  FROM g)
             |SELECT doc_id, width, height, fmt,
             |  CAST(s AS DOUBLE) / (width * height) AS mean_px
             |FROM m ORDER BY doc_id""".stripMargin),
    ),
    // Frame sampling: fixed-size windows over the payload (the shape a
    // video frame-sampler or audio chunker has), one row per frame with
    // per-frame features. Map-side explode; no shuffle until the ORDER BY.
    QuerySpec(
      "m02_frame_features",
      (s, d) => {
        Multimodal.mediaTable(s, d)
          .select(col("doc_id"), col("payload"),
            explode(sequence(lit(0),
              expr("(length(payload) - 1) div 100").cast("int"))).as("frame_idx"))
          .select(
            col("doc_id"), col("frame_idx"),
            expr("CAST(length(substring(payload, frame_idx * 100 + 1, 100)) AS BIGINT)")
              .as("frame_bytes"),
          )
          .orderBy("doc_id", "frame_idx")
      },
      Some("""SELECT doc_id, u.frame_idx AS frame_idx,
             |  CAST(length(substring(text, u.frame_idx * 100 + 1, 100)) AS BIGINT)
             |    AS frame_bytes
             |FROM documents,
             |  UNNEST(range(0, (length(text) - 1) // 100 + 1)) AS u(frame_idx)
             |ORDER BY doc_id, frame_idx""".stripMargin),
    ),
    // TRUE pixel resampling (round 10): decode the real PNG/BMP payload,
    // 2×2 box-downsample the raster (integer mean, floor — output dims
    // w/2 × h/2 keep every block inside the source, no edge clamping),
    // report resized dims + mean pixel. The oracle replays the identical
    // integer arithmetic on the generator formula: agreement proves the
    // resample ran on faithfully decoded pixels.
    QuerySpec(
      "m03_resize",
      (s, d) =>
        Multimodal.resizeReal(Multimodal.realMediaTable(s, d))
          .orderBy("doc_id")
          .toDF(),
      Some("""WITH g AS (
             |  SELECT doc_id, CAST(4 + doc_id % 13 AS INT) AS w0,
             |    CAST(3 + doc_id % 11 AS INT) AS h0,
             |    CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'bmp' END AS fmt
             |  FROM documents),
             |r AS (
             |  SELECT doc_id, w0 // 2 AS width, h0 // 2 AS height, fmt,
             |    list_sum(flatten(list_transform(range(0, h0 // 2), y ->
             |      list_transform(range(0, w0 // 2), x ->
             |        ((doc_id*31 + (2*x)*7 + (2*y)*13) % 256
             |         + (doc_id*31 + (2*x+1)*7 + (2*y)*13) % 256
             |         + (doc_id*31 + (2*x)*7 + (2*y+1)*13) % 256
             |         + (doc_id*31 + (2*x+1)*7 + (2*y+1)*13) % 256) // 4))))
             |      AS s
             |  FROM g)
             |SELECT doc_id, width, height, fmt,
             |  CAST(s AS DOUBLE) / (width * height) AS mean_px
             |FROM r ORDER BY doc_id""".stripMargin),
    ),
    // Media near-duplicate pairs: perceptual-hash fingerprints, 16-bit
    // banding, hot-bucket guard, hamming verify — the d04 SimHash machinery
    // applied to the multimodal payload column. At 100 TB the payload never
    // enters a shuffle: fingerprints reduce each payload to 8 bytes
    // map-side, banding shuffles only (band, bval, doc_id), and the
    // bounded-bucket guard (Dedup.bucketCandidates) keeps one degenerate
    // fingerprint (e.g. single-color images) from going quadratic.
    QuerySpec(
      "m04_media_neardup",
      (s, d) => {
        val fps = pHash64(plantedMedia(s, d)).localCheckpoint(true)
        val banded = fps.select(col("doc_id"),
          posexplode(transform(sequence(lit(0), lit(3)),
            b => call_function("shiftrightunsigned", col("fp"), b * 16)
              .bitwiseAND(lit(0xffffL))))
            .as(Seq("band", "bval")))
        Dedup.bucketCandidates(banded, Seq("band", "bval"), cap = 100)
          .join(fps.select(col("doc_id").as("a_id"), col("fp").as("a_fp")), "a_id")
          .join(fps.select(col("doc_id").as("b_id"), col("fp").as("b_fp")), "b_id")
          .select(col("a_id"), col("b_id"),
            bit_count(col("a_fp").bitwiseXOR(col("b_fp"))).as("hamming"))
          .filter(col("hamming") <= 8)
          .orderBy("a_id", "b_id")
      },
      Some {
        import graft.engine.DuckHash
        s"""WITH corpus AS (
           |  SELECT doc_id, text FROM documents
           |  UNION ALL
           |  SELECT doc_id + 3000000,
           |    array_to_string(list_transform(range(1, length(text)+1),
           |      i -> CASE WHEN (i-1) % 31 = 0 THEN 'z'
           |           ELSE substr(text, CAST(i AS INT), 1) END), '')
           |  FROM documents WHERE doc_id % 10 = 0),
           |cells AS MATERIALIZED (
           |  SELECT doc_id, CAST(((i-1)*64)//length(text) AS INTEGER) AS cell,
           |    SUM(ascii(substr(text, CAST(i AS INT), 1))) AS s, COUNT(*) AS c
           |  FROM corpus, UNNEST(range(1, length(text)+1)) AS t(i)
           |  GROUP BY 1, 2),
           |g AS (
           |  SELECT doc_id, CAST(SUM(s) AS DOUBLE)/CAST(SUM(c) AS DOUBLE) AS gm
           |  FROM cells GROUP BY 1),
           |fps AS MATERIALIZED (
           |  SELECT cells.doc_id,
           |    SUM(CASE WHEN CAST(s AS DOUBLE)/CAST(c AS DOUBLE) > gm
           |        THEN (1::HUGEINT << cell) ELSE 0::HUGEINT END) AS ufp
           |  FROM cells JOIN g ON cells.doc_id = g.doc_id
           |  GROUP BY cells.doc_id, gm),
           |banded AS MATERIALIZED (
           |  SELECT doc_id, ${DuckHash.signed("ufp")} AS fp, band,
           |    CAST((ufp // (1::HUGEINT << (band*16))) % 65536 AS BIGINT) AS bval
           |  FROM fps, (SELECT unnest(range(0, 4)) AS band)),
           |hot AS (
           |  SELECT band, bval FROM banded GROUP BY band, bval
           |  HAVING COUNT(*) > 100),
           |pruned AS MATERIALIZED (
           |  SELECT b.* FROM banded b ANTI JOIN hot h USING (band, bval))
           |SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
           |  bit_count(xor(a.fp, b.fp)) AS hamming
           |FROM pruned a JOIN pruned b USING (band, bval)
           |WHERE a.doc_id < b.doc_id AND bit_count(xor(a.fp, b.fp)) <= 8
           |ORDER BY a_id, b_id""".stripMargin
      },
    ),
    // Content-defined chunking (the LBFS/rsync boundary scheme) — the
    // byte-level media dedup fixed-size chunking cannot do: a boundary
    // falls wherever the FNV of the trailing 8-byte window divides 64
    // (avg chunk ~64 bytes), so boundaries depend only on LOCAL content
    // and re-synchronize after insertions. The planted +4M payloads have
    // a 14-byte header PREPENDED — fixed-offset chunking would share
    // nothing with the original; CDC shares every chunk after the first
    // boundary (MultimodalSpec pins ≥ 60% shared occurrences). The
    // stateless window rule is the load-bearing choice vs a gear/reset
    // scheme: no running state, so chunking is a pure per-row expression
    // (scan-stage, trivially parallel) AND SQL-expressible for the
    // oracle. Per doc: chunk count, occurrences whose hash recurs in
    // ANOTHER doc (one narrow 16-byte-key shuffle — the d01 shape at
    // chunk granularity), and the in-order chunk-hash digest.
    QuerySpec(
      "m05_cdc_chunks",
      (s, d) => {
        val withC = cdcChunks(cdcCorpus(s, d))
          .select(col("doc_id"), col("chs"))
          .localCheckpoint(true)
        val per = withC.select(col("doc_id"), explode(col("chs")).as("ch"))
        val shared = per.groupBy("ch")
          .agg(countDistinct(col("doc_id")).as("nd"))
        val nShared = per.join(shared, "ch")
          .groupBy("doc_id")
          .agg(sum(when(col("nd") > 1, 1L).otherwise(0L)).as("n_shared"))
        withC
          .select(col("doc_id"), size(col("chs")).cast("long").as("n_chunks"),
            md5(concat_ws(",", col("chs"))).as("chunks_digest"))
          .join(nShared, "doc_id")
          .orderBy("doc_id")
      },
      Some {
        s"""WITH $cdcChunkCtes,
           |per AS (SELECT doc_id, unnest(chs) AS ch FROM c),
           |shared AS (
           |  SELECT ch, COUNT(DISTINCT doc_id) AS nd FROM per GROUP BY ch),
           |ns AS (
           |  SELECT doc_id,
           |    CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
           |      AS n_shared
           |  FROM per JOIN shared USING (ch) GROUP BY doc_id)
           |SELECT c.doc_id, CAST(len(chs) AS BIGINT) AS n_chunks,
           |  md5(array_to_string(chs, ',')) AS chunks_digest, n_shared
           |FROM c JOIN ns ON c.doc_id = ns.doc_id
           |ORDER BY c.doc_id""".stripMargin
      },
    ),
    // Magic-byte format sniffing — the first QA pass of any media ingest:
    // the container's claimed type (file extension / metadata) routinely
    // lies, so the pipeline detects the REAL format from the payload's
    // magic prefix before routing to a decoder. Headers are PLANTED as
    // true bytes via unhex (PNG \x89PNG\r\n\x1a\n, JPEG \xFF\xD8\xFF,
    // RIFF....WAVE, or none, by doc_id % 4) so the detection exercises
    // genuine binary plumbing: binary concat, byte-offset substring,
    // prefix dispatch. The claimed fmt comes from the m01 metadata
    // (png/jpg by doc_id % 2); ids ≡ 0,1 (mod 4) agree with their header,
    // ids ≡ 2,3 (mod 4) carry a WAV header or no header → flagged. The
    // Spark side hexes only the first bytes of each payload (substring on
    // BINARY before hex — at 100 TB you never materialize hex of the full
    // payload); the oracle reaches the same values via substr(hex(...)),
    // DuckDB lacking blob substring. Map-side; scan speed.
    QuerySpec(
      "m06_magic_sniff",
      (s, d) => sniffedMedia(s, d).orderBy("doc_id"),
      Some(s"""WITH $sniffedMediaCtes
              |SELECT doc_id, n_bytes, detected, claimed,
              |  detected = claimed AS ok
              |FROM m ORDER BY doc_id""".stripMargin),
    ),
    // Chunk-store dedup accounting — the content-addressable-store sizing
    // question: if payloads are stored by CDC chunk hash (the m05
    // chunking, ONE shared definition), how much do duplicated chunks
    // save? One summary row: total vs distinct chunk counts/bytes and the
    // dedup ratio. Distinct-chunk bytes take min(len) per hash — equal
    // chunks have equal widths, so min is just the deterministic pick.
    // Scale shape: chunking is scan-stage ([[cdcChunks]]); the only
    // corpus-scale shuffle is the chunk-hash-keyed agg (16-byte keys,
    // O(1) state — the d01 shape at chunk granularity); both rollups are
    // partial+final into a single row.
    QuerySpec(
      "m07_chunk_dedup_ratio",
      (s, d) => {
        // materialize the (ch, len) stream once — the total and distinct
        // rollups below both consume it, and an unmaterialized lineage
        // would re-run the whole chunking pass per rollup (measured: 25 s
        // → 3 s at sf1)
        val per = cdcChunks(cdcCorpus(s, d))
          .select(explode(arrays_zip(col("chs"), col("lens"))).as("z"))
          .select(col("z.chs").as("ch"), col("z.lens").as("len"))
          .localCheckpoint(true)
        val tot = per.agg(count(lit(1)).as("total_chunks"),
          sum(col("len")).as("total_bytes"))
        val uni = per.groupBy("ch").agg(min(col("len")).as("len"))
          .agg(count(lit(1)).as("distinct_chunks"),
            sum(col("len")).as("unique_bytes"))
        tot.crossJoin(uni)
          .select(col("total_chunks"), col("distinct_chunks"),
            col("total_bytes"), col("unique_bytes"),
            (col("total_bytes").cast(DoubleType) /
              col("unique_bytes").cast(DoubleType)).as("dedup_ratio"))
      },
      Some(s"""WITH $cdcChunkCtes,
              |per AS (SELECT unnest(chs) AS ch, unnest(lens) AS len FROM c),
              |tot AS (
              |  SELECT COUNT(*) AS total_chunks,
              |    CAST(SUM(len) AS BIGINT) AS total_bytes
              |  FROM per),
              |uni AS (
              |  SELECT COUNT(*) AS distinct_chunks,
              |    CAST(SUM(len) AS BIGINT) AS unique_bytes
              |  FROM (SELECT ch, MIN(len) AS len FROM per GROUP BY ch))
              |SELECT total_chunks, distinct_chunks, total_bytes, unique_bytes,
              |  CAST(total_bytes AS DOUBLE) / CAST(unique_bytes AS DOUBLE)
              |    AS dedup_ratio
              |FROM tot, uni""".stripMargin),
    ),
    // Per-format ingest QA dashboard — the rollup a media pipeline reads
    // after m06's sniffing: per DETECTED format, volume (count + bytes),
    // how many payloads' claimed type lied, and the byte-size quartiles
    // (the c04 exact-percentile contract: Spark `percentile` ==
    // DuckDB `quantile_cont`, interpolated on the same sorted values).
    // One pass over the sniffed frame ([[sniffedMedia]], shared with
    // m06), one 4-group partial+final agg; payload bytes reduce to a
    // (format, n_bytes) pair in the scan stage.
    QuerySpec(
      "m08_format_stats",
      (s, d) =>
        sniffedMedia(s, d)
          .groupBy("detected")
          .agg(count(lit(1)).as("n"),
            sum(col("n_bytes")).as("total_bytes"),
            sum(when(!col("ok"), 1L).otherwise(0L)).as("claim_mismatches"),
            expr("percentile(n_bytes, 0.25)").as("p25_bytes"),
            expr("percentile(n_bytes, 0.5)").as("p50_bytes"),
            expr("percentile(n_bytes, 0.75)").as("p75_bytes"))
          .orderBy("detected"),
      Some(s"""WITH $sniffedMediaCtes
              |SELECT detected, COUNT(*) AS n,
              |  CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
              |  CAST(SUM(CASE WHEN detected = claimed THEN 0 ELSE 1 END)
              |    AS BIGINT) AS claim_mismatches,
              |  quantile_cont(n_bytes, 0.25) AS p25_bytes,
              |  quantile_cont(n_bytes, 0.5) AS p50_bytes,
              |  quantile_cont(n_bytes, 0.75) AS p75_bytes
              |FROM m GROUP BY detected ORDER BY detected""".stripMargin),
    ),
    // REAL audio decode (round 10): one tiny deterministic 16-bit mono
    // PCM clip per doc, encoded to actual RIFF/WAVE bytes and decoded
    // back through javax.sound.sampled — sample count, rate, duration and
    // mean amplitude are read from the DECODED stream. The oracle
    // recomputes all four from the generator formula
    // (sample_i = (doc_id·31 + i·7) mod 65536 − 32768), which it can do
    // without an audio parser — a green row proves the bytes round-
    // tripped bit-exactly through the WAV container (header, frame size,
    // little-endian 16-bit samples). Same mapPartitions codec seam as the
    // image path: at 100 TB decode is a scan-stage map, zero shuffle
    // before the ordered output.
    QuerySpec(
      "m09_audio_features",
      (s, d) =>
        Multimodal.audioFeatures(Multimodal.realAudioTable(s, d))
          .orderBy("doc_id")
          .toDF(),
      Some("""WITH g AS (
             |  SELECT doc_id, 256 + doc_id % 512 AS n FROM documents),
             |m AS (
             |  SELECT doc_id, n,
             |    list_sum(list_transform(range(0, n), i ->
             |      (doc_id*31 + i*7) % 65536 - 32768)) AS s
             |  FROM g)
             |SELECT doc_id, CAST(n AS BIGINT) AS n_samples,
             |  CAST(8000.0 AS DOUBLE) AS sample_rate,
             |  CAST(n AS DOUBLE) / CAST(8000.0 AS DOUBLE) AS duration_s,
             |  CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean_amp
             |FROM m ORDER BY doc_id""".stripMargin),
    ),
  )
}
