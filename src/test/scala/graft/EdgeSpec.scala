package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{Exact, Tables}
import graft.functions.ghash

/** Edge-case behavior: empty inputs, degenerate parameters, null paths. */
class EdgeSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  val sf = SharedSpark.sf
  import spark.implicits._

  test("global agg over zero rows: sums are NULL, counts are 0") {
    val empty = Tables(spark, sf, "lineitem").filter(col("l_quantity") < 0)
    val r = empty.agg(
      Exact.dsum(col("l_quantity")).as("s"),
      count(col("l_quantity")).as("n")).head()
    assert(r.isNullAt(0))
    assert(r.getLong(1) == 0L)
  }

  test("group-by over zero rows produces zero groups") {
    val empty = Tables(spark, sf, "lineitem").filter(col("l_quantity") < 0)
    assert(empty.groupBy("l_returnflag").agg(count(lit(1))).count() == 0)
  }

  test("minhash/simhash of empty and single-token docs are well-defined") {
    val df = Seq("", "one", "one two three").toDF("text")
      .select(
        ghash.minhashSig(split(col("text"), " "), 4).as("sig"),
        ghash.simhash64(split(col("text"), " ")).as("sk"))
    val rows = df.collect()
    assert(rows.length == 3)
    // split("") yields [""], so even empty text has a defined signature
    assert(rows.forall(r => r.getSeq[Long](0).length == 4))
  }

  test("joins against an empty side behave correctly") {
    val empty = Tables(spark, sf, "orders").filter(col("o_orderkey") < 0)
    val c = Tables(spark, sf, "customer")
    assert(c.join(empty, col("c_custkey") === col("o_custkey")).count() == 0)
    assert(c.join(empty, col("c_custkey") === col("o_custkey"), "left_anti").count() == c.count())
    assert(c.join(empty, col("c_custkey") === col("o_custkey"), "left_outer").count() == c.count())
  }

  test("ANN with k larger than the corpus returns the whole corpus ranked") {
    import org.apache.spark.sql.expressions.Window
    val e = Tables(spark, sf, "embeddings").limit(3)
      .select(col("vec_id"), col("embedding"))
    val q = e.filter(col("vec_id") === e.head().getLong(0))
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val res = e.crossJoin(broadcast(q)).filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos", graft.queries.Similarity.cosine(col("q_emb"), col("embedding")))
      .withColumn("rank", row_number().over(
        Window.partitionBy("q_id").orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rank") <= 100)
    assert(res.count() == 2)
  }

  test("anomaly scoring emits NOTHING for a zero-variance event type (no NaN flood)") {
    val ev = Seq((1L, "const", 5.0), (2L, "const", 5.0), (3L, "const", 5.0))
      .toDF("event_id", "event_type", "value")
    val got = graft.queries.EventsOps.scoreAnomalies(
      ev, graft.queries.EventsOps.anomalyModel(ev))
    // sd = 0 -> z would be 0/0 = NaN, which both engines order above all
    // numbers; the guard must yield zero anomalies, not all three
    assert(got.count() == 0)
  }

  test("chunking a doc shorter than one window yields exactly one full-copy chunk") {
    import org.apache.spark.sql.functions.{split => fsplit}
    val one = Seq((1L, "just five words right here")).toDF("doc_id", "text")
    // reuse the t10 expression shape via the registry is sf-bound; build
    // the same window math inline on a 5-word doc
    val t = fsplit(col("text"), " ")
    val nChunks = greatest(
      ceil((size(t) - lit(16)).cast("double") / 48.0).cast("int"), lit(1))
    val chunks = one.select(col("doc_id"),
      posexplode(transform(sequence(lit(0), nChunks - 1),
        i => slice(t, i * 48 + 1, lit(64)))).as(Seq("chunk_id", "c")))
    val rows = chunks.collect()
    assert(rows.length == 1)
    assert(rows.head.getSeq[String](2) == Seq("just", "five", "words", "right", "here"))
  }

  test("t11: planted docs carry exactly the planted anomaly; the rest are clean") {
    val out = Registry.byName("t11_encoding_anomalies").run(spark, sf).collect()
    val n = out.length
    out.foreach { r =>
      val (id, repl, c1, moji) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      val clean = r.getBoolean(4)
      if (id % 8 != 0) {
        assert(clean && repl == 0 && c1 == 0 && moji == 0, s"doc $id")
      } else {
        assert(!clean, s"planted doc $id came back clean")
        // one planted signal, and only that signal: variant by id % 3
        // (0xA9 'copyright' sits in the continuation range, so the
        // mojibake plant is one pair and nothing else; the NEL plant is
        // one C1 char and nothing else)
        val expect = (id % 3) match {
          case 0 => (0L, 0L, 1L)
          case 1 => (2L, 0L, 0L)
          case _ => (0L, 1L, 0L)
        }
        assert((repl, c1, moji) == expect, s"doc $id: ($repl,$c1,$moji)")
      }
    }
    assert(out.count(_.getBoolean(4)) >= n * 8 / 10, "discrimination lost")
  }

  test("t12: planted sentence structure counts back out; grades discriminate") {
    val out = Registry.byName("t12_readability").run(spark, sf).collect()
    out.foreach { r =>
      val (id, nw, ns, syl, fre, grade) = (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getLong(3), r.getDouble(4), r.getString(5))
      val k = 7 + id % 6
      // periods counted from the text equal the arithmetic sentence count
      assert(ns == (nw + k - 1) / k, s"doc $id: $ns sents for $nw words, k=$k")
      assert(syl >= nw, s"doc $id: every word has at least one vowel group")
      assert(!fre.isNaN && !fre.isInfinite, s"doc $id")
      val expect = if (fre >= 70.0) "easy" else if (fre >= 50.0) "medium" else "hard"
      assert(grade == expect, s"doc $id: $grade vs $fre")
    }
    assert(out.map(_.getString(5)).distinct.length > 1, "single grade bucket")
  }

  test("t14: normalization restores every planted corruption to the original") {
    val out = Registry.byName("t14_normalize").run(spark, sf).collect()
    val orig = Tables(spark, sf, "documents")
      .select(col("doc_id"), md5(col("text")).as("m"),
        length(col("text")).as("n")).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getInt(2))).toMap
    out.foreach { r =>
      val (id, nBefore, nAfter, changed, m) = (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getBoolean(3), r.getString(4))
      // normalize ∘ corrupt = identity: cleaned text is byte-identical to
      // the original for every doc, planted or not
      assert(m == orig(id)._1, s"doc $id: cleaned text diverged")
      assert(nAfter == orig(id)._2.toLong, s"doc $id")
      assert(changed == (id % 6 == 0), s"doc $id: changed=$changed")
      if (id % 6 == 0) assert(nBefore > nAfter, s"doc $id: plant was a no-op")
    }
  }

  test("e14: every planted rate spike with enough baseline is flagged") {
    val out = Registry.byName("e14_rate_drift").run(spark, sf).collect()
    var plantedFull = 0
    out.foreach { r =>
      val (hour, nBase, drift) = (r.getLong(1), r.getLong(5), r.getBoolean(7))
      if (hour % 97 == 0 && nBase >= 6) {
        plantedFull += 1
        assert(drift, s"planted spike at hour $hour missed")
      }
    }
    assert(plantedFull >= 3, s"plant density too low: $plantedFull")
    // natural rate noise may add flags (trailing echoes of a spike, Poisson
    // dips) but must stay a small minority of the series
    val flagged = out.count(_.getBoolean(7))
    assert(flagged < out.length / 5, s"detector fired on $flagged rows")
  }

  test("e15: every window matches at least its own anchor event") {
    val out = Registry.byName("e15_range_join").run(spark, sf).collect()
    val anchors = Tables(spark, sf, "events")
      .filter(col("event_id") % 40 === 0).count()
    // inner join, yet no window can be empty: duration ≥ 0 means the
    // anchor's own timestamp is always inside its window
    assert(out.length == anchors, s"${out.length} windows vs $anchors anchors")
    out.foreach(r => assert(r.getLong(1) >= 1, s"window ${r.getLong(0)}"))
  }

  test("t15: planted boilerplate always flagged; planted mass shifts the mean") {
    val out = Registry.byName("t15_gram_novelty").run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getBoolean(4)))
    // this corpus has REAL natural 8-gram repetition (measured: ~1k df=2
    // grams at sf0.001), so clean docs legitimately carry shared mass —
    // the spec pins planted recall and the aggregate shift, not a
    // clean-side zero that the data itself contradicts
    out.filter(_._1 % 9 == 0).foreach { case (id, _, nShared, frac, heavy) =>
      assert(nShared >= 3, s"doc $id: banner grams not shared")
      assert(heavy, s"planted doc $id not flagged (dup_frac=$frac)")
    }
    val (p, c) = out.partition(_._1 % 9 == 0)
    val pMean = p.map(_._4).sum / p.length
    val cMean = c.map(_._4).sum / c.length
    assert(pMean > cMean + 0.015,
      s"banner mass invisible: planted=$pMean clean=$cMean")
  }

  test("d20 shape: an empty benchmark yields empty output, not a crash") {
    val docs = Tables(spark, sf, "documents")
      .select(col("doc_id"), col("text")).limit(50)
    val emptyBench = docs.filter(col("doc_id") < 0)
    val out = graft.queries.Dedup.incrementalLshPairs(docs, emptyBench)
    assert(out.count() == 0)
  }

  test("s11 shape: connected components over an empty edge set is empty") {
    val empty = Seq.empty[(Long, Long)].toDF("a_id", "b_id")
    assert(graft.queries.Dedup.connectedComponents(empty).count() == 0)
    // distributed path too (default routes empty to the driver fast path)
    assert(graft.queries.Dedup
      .connectedComponents(empty, localThreshold = 0).count() == 0)
  }

  test("phase-4 engines degrade to empty outputs on empty inputs") {
    import org.apache.spark.sql.functions._
    val noDocs = Tables(spark, sf, "documents")
      .select(col("doc_id"), col("source"), col("text"))
      .filter(col("doc_id") < 0)
    assert(graft.queries.Corpus.effectiveTokens(noDocs).count() == 0)
    assert(graft.queries.TextOps.CodeRouting.signals(
      graft.queries.TextOps.CodeRouting.plant(
        noDocs.select(col("doc_id"), col("text")))).count() == 0)
    val noDays = Seq.empty[(Long, Long)].toDF("user_id", "day")
    assert(graft.queries.EventsOps.cohortRetention(noDays).count() == 0)
    // bm25 over a corpus with no matching terms: empty scores, not a crash
    val scores = graft.queries.Corpus.bm25Scores(
      noDocs.select(col("doc_id"), col("text")), Seq("hash"))
    assert(scores.count() == 0)
  }

  test("t13: classifier score is a bounded mean; keep tracks the sign") {
    val out = Registry.byName("t13_classifier_score").run(spark, sf).collect()
    val docs = Tables(spark, sf, "documents")
      .select(col("doc_id"), size(split(col("text"), " ")).as("n")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    out.foreach { r =>
      val (id, nf, score, keep) =
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3))
      assert(nf == 2L * docs(id) - 1, s"doc $id: unigrams + bigrams")
      assert(score > -1.0 && score < 1.0, s"doc $id: mean of [-1,1) weights")
      assert(keep == score > 0.0, s"doc $id")
    }
    val kept = out.count(_.getBoolean(3))
    assert(kept > 0 && kept < out.length, "classifier lost discrimination")
  }

  test("e16: week-0 retention is exactly 1; cohorts partition the user base") {
    import org.apache.spark.sql.functions._
    val out = Registry.byName("e16_cohort_retention").run(spark, sf).collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3), r.getDouble(4))))
    // every user is active in their own first week, so offset 0 exists for
    // every cohort and retains everyone
    val cohorts = out.map(_._1._1).distinct
    cohorts.foreach { cw =>
      val (active, size, ret) = out.toMap.apply((cw, 0L))
      assert(active == size && ret == 1.0, s"cohort $cw offset 0")
    }
    out.foreach { case ((cw, off), (active, size, ret)) =>
      assert(off >= 0 && active <= size, s"($cw,$off)")
      assert(ret == active.toDouble / size.toDouble, s"($cw,$off)")
    }
    // cohort sizes partition the distinct-user population
    val users = graft.engine.Tables(spark, sf, "events")
      .select(countDistinct(col("user_id"))).head.getLong(0)
    val sizeSum = out.filter(_._1._2 == 0L).map(_._2._2).sum
    assert(sizeSum == users, s"cohort sizes $sizeSum != users $users")
  }

  test("e16: pre-1970 days floor into negative cohort weeks (not truncate)") {
    // day -15 lies in calendar week floor(-15/7) = -3; truncating division
    // would put it in week -2 and shift every offset. Both the Spark engine
    // and the DuckDB oracle carry the same pmod-floor form, so this pins
    // the contract on the negative domain the generated corpus never hits.
    val days = Seq(
      (1L, -15L), (1L, -8L), (1L, -1L), // user 1: weeks -3 +0, +1, +2
      (2L, -15L), (2L, 6L)              // user 2: weeks -3 +0, +3
    ).toDF("user_id", "day")
    val out = graft.queries.EventsOps.cohortRetention(days).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(out.keySet.map(_._1) == Set(-3L), s"cohort weeks: ${out.keySet}")
    assert(out((-3L, 0L)) == ((2L, 2L, 1.0)))
    assert(out((-3L, 1L)) == ((1L, 2L, 0.5)))
    assert(out((-3L, 2L)) == ((1L, 2L, 0.5)))
    assert(out((-3L, 3L)) == ((1L, 2L, 0.5)))
    assert(out.size == 4)
  }

  test("e17: transitions conserve events minus first-per-user; rows sum to 1") {
    import org.apache.spark.sql.functions._
    val out = Registry.byName("e17_transition_matrix").run(spark, sf).collect()
    val ev = graft.engine.Tables(spark, sf, "events")
    val nEvents = ev.count()
    val nUsers = ev.select(countDistinct(col("user_id"))).head.getLong(0)
    // each user's first event has no predecessor and contributes nothing
    assert(out.map(_.getLong(2)).sum == nEvents - nUsers, "transition mass")
    out.groupBy(_.getString(0)).foreach { case (prev, rows) =>
      val total = rows.map(_.getLong(2)).sum
      rows.foreach(r =>
        assert(r.getDouble(3) == r.getLong(2).toDouble / total.toDouble,
          s"$prev p"))
    }
  }

  test("t16: every rendered-code doc flagged, every prose doc not; counts exact") {
    import org.apache.spark.sql.functions._
    val out = Registry.byName("t16_code_detect").run(spark, sf).collect()
    val nToks = graft.engine.Tables(spark, sf, "documents")
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    out.foreach { r =>
      val (id, nLines, markers, isCode) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(4))
      if (id % 7 == 0) {
        // rendered code: one `tok();` line per token inside a brace pair
        assert(nLines == nToks(id) + 2, s"doc $id lines")
        assert(markers == nToks(id) + 2, s"doc $id markers")
        assert(isCode, s"doc $id must be flagged as code")
      } else {
        assert(nLines == 1 && !isCode, s"doc $id is prose")
      }
    }
  }

  test("t18: extraction keeps exactly the prose blocks — recall pinned by md5") {
    import org.apache.spark.sql.functions._
    // Expected extracted text per doc, built INDEPENDENTLY from the raw
    // table: body paragraph + the tag-stripped second paragraph (inline
    // anchor text kept). Nav, head, promo and footer must all be gone —
    // including the every-7th-doc promo, so the SAME expectation holds
    // for every doc. Any block mis-kept or mis-dropped breaks the md5.
    val expected = graft.engine.Tables(spark, sf, "documents")
      .select(col("doc_id"), md5(concat(
        col("text"), lit(" more about "), col("lang"),
        lit(" topics see related "), col("doc_id").cast("string"),
        lit(" here")))
        .as("want"))
    val out = Registry.byName("t18_markup_extract").run(spark, sf)
    val joined = out.join(expected, "doc_id")
    assert(joined.count() > 0)
    assert(joined.filter(col("extracted_md5") =!= col("want")).count() == 0,
      "extracted text diverges from the expected prose-only reassembly")
    assert(out.filter(col("n_kept") =!= 2).count() == 0, "every doc keeps 2 blocks")
    assert(out.filter(col("doc_id") % 7 === 0)
      .filter(col("n_dropped") =!= 3).count() == 0, "promo docs drop 3")
  }

  test("t19: clean docs pass through identically; every planted doc strips") {
    import org.apache.spark.sql.functions._
    val out = Registry.byName("t19_repeated_span_strip").run(spark, sf)
    val orig = graft.engine.Tables(spark, sf, "documents")
      .select(col("doc_id"), md5(col("text")).as("orig_md5"),
        size(split(col("text"), " ")).as("n_words"))
    val j = out.join(orig, "doc_id").cache()
    // identity: an unplanted doc with no natural duplicate chunk must
    // reassemble to EXACTLY the original text (normalize∘corrupt-style)
    val clean = j.filter(col("doc_id") % 5 =!= 0 && col("n_dupes") === 0)
    assert(clean.count() > 0)
    assert(clean.filter(col("cleaned_md5") =!= col("orig_md5")).count() == 0,
      "dupe-free docs must round-trip unchanged")
    // plant recall: the 3x-repeated marker pattern guarantees >=1 duplicate
    // chunk whatever the doc length mod 3
    val planted = j.filter(col("doc_id") % 5 === 0)
    assert(planted.count() > 0)
    assert(planted.filter(col("n_dupes") < 1).count() == 0,
      "every planted doc must lose at least one span")
    // chunk accounting: ceil((words [+9 plant])/3)
    assert(j.filter(col("n_chunks") =!=
      ceil((col("n_words") + when(col("doc_id") % 5 === 0, 9).otherwise(0)) / 3.0)
        .cast("long")).count() == 0, "chunk count must match ceil(words/3)")
    j.unpersist()
  }

  test("t07b: each planted residue carries exactly its own PII type") {
    import org.apache.spark.sql.functions._
    val out = Registry.byName("t07b_pii_breadth").run(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (id, ph, ip, sid) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      val want = (id % 10) match {
        case 0 | 1 | 2 => (1L, 0L, 0L)
        case 3 | 4 | 5 => (0L, 1L, 0L)
        case 6 | 7 | 8 => (0L, 0L, 1L)
        case _         => (0L, 0L, 0L)
      }
      assert((ph, ip, sid) == want,
        s"doc $id (residue ${id % 10}): got ($ph,$ip,$sid) want $want")
    }
  }

  test("t07b: overlapping/adjacent PII resolves by phone→IP→ID precedence") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // doc_id % 10 == 9 → the engine's own residue plant appends nothing,
    // so these crafted texts pass through verbatim. Each case makes the
    // scrub ORDER observable: the earlier pattern consumes characters the
    // later one needed, so any reordering changes the md5.
    val cases = Seq(
      // phone's tail digits ARE the IP's first octet's prefix: phone
      // (no \b in its regex) fires first mid-string → "1.2.3.<PHONE>";
      // IP-first would have yielded "<IP>-789-0123"
      (9L, "1.2.3.456-789-0123"),
      // IP's last octet heads the ID candidate: IP fires (before ID in
      // the chain) → "<IP>-12-3456"; ID-first would yield "123.45.67.<ID>"
      (19L, "123.45.67.890-12-3456"),
      // ID's tail digits head a phone-shaped run: phone fires FIRST →
      // "123-45-6<PHONE>", destroying the ID match entirely
      (29L, "123-45-6789-012-3456"),
      // adjacency control: all three patterns disjoint → all scrub
      (39L, "call 555-123-4567 at 9.8.7.6 ref 111-22-3333"),
    )
    val out = graft.queries.TextOps.piiBreadth(
      cases.toDF("doc_id", "text")).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toMap
    // independent single-node reference: the SAME documented order,
    // applied with plain Java regex — pins the engine to the contract
    val phoneRe = "(\\+1 )?(\\(\\d{3}\\) |\\d{3}[- ])\\d{3}[- ]\\d{4}"
    val ipRe = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
    val idRe = "\\b\\d{3}-\\d{2}-\\d{4}\\b"
    def refScrub(s: String): String = s
      .replaceAll(phoneRe, "<PHONE>")
      .replaceAll(ipRe, "<IP>")
      .replaceAll(idRe, "<ID>")
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    for ((id, text) <- cases)
      assert(out(id)._4 == md5hex(refScrub(text)),
        s"doc $id: scrub diverged from the pinned order on '$text'")
    // the count columns are PER-PATTERN (computed independently on the
    // raw text), so overlapping candidates each count even though the
    // scrub lets only the higher-precedence one fire
    assert(out(9L) ==
      ((1L, 1L, 0L, md5hex("1.2.3.<PHONE>"))), s"${out(9L)}")
    assert(out(19L)._4 == md5hex("<IP>-12-3456"))
    assert(out(29L)._4 == md5hex("123-45-6<PHONE>"))
    assert(out(39L)._1 == 1L && out(39L)._2 == 1L && out(39L)._3 == 1L)
    assert(out(39L)._4 ==
      md5hex("call <PHONE> at <IP> ref <ID>"))
  }

  test("t22: host prior is the exact per-host mean; broadcast/shuffle paths agree; flips exist") {
    val docs = graft.engine.Tables(spark, sf, "documents")
    val viaBroadcast = graft.queries.TextOps.hostPriorFilter(docs).collect()
    val viaShuffle = graft.queries.TextOps
      .hostPriorFilter(docs, broadcastHostsMax = 0).collect()
    assert(viaBroadcast.length == viaShuffle.length && viaBroadcast.nonEmpty)
    viaBroadcast.zip(viaShuffle).foreach { case (a, b) =>
      assert(a == b, s"path divergence at doc ${a.getLong(0)}")
    }
    val rows = viaBroadcast.map(r => (r.getLong(0), r.getString(1),
      r.getDouble(2), r.getDouble(3), r.getDouble(4),
      r.getBoolean(5), r.getBoolean(6)))
    // every doc of a host carries the same prior, and the prior is the
    // host's mean score (1e-9: engine sums via decimal scale 10, the
    // driver reference here in plain double)
    rows.groupBy(_._2).foreach { case (host, hs) =>
      assert(hs.map(_._4).distinct.length == 1, s"prior differs within $host")
      val mean = hs.map(_._3).sum / hs.length
      assert(math.abs(hs.head._4 - mean) < 1e-9, s"$host prior vs mean")
    }
    // the blend and both flags are definitional, bit-exact
    rows.foreach { case (id, _, score, prior, combined, keep, flipped) =>
      assert(combined == 0.5 * score + 0.5 * prior, s"doc $id combined")
      assert(keep == (combined > 0.0) && flipped == (keep != (score > 0.0)))
    }
    // the prior actually CHANGES decisions on this corpus (rescues/sinks)
    assert(rows.count(_._7) > 0, "no doc flipped — prior is inert")
  }

  test("t23: calibration laws — keep and recall fall monotonically along the grid") {
    val out = graft.queries.TextOps.thresholdSweep(
      graft.engine.Tables(spark, sf, "documents")).collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getDouble(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)),
        if (r.isNullAt(4)) None else Some(r.getDouble(4))))
    assert(out.length == graft.queries.TextOps.T23Grid.length)
    assert(out.map(_._1).toSeq == out.map(_._1).sorted.toSeq)
    // raising the threshold can only shed keeps (and with them recall)
    out.sliding(2).foreach { case Array(lo, hi) =>
      assert(hi._2 <= lo._2, s"n_keep rose: $lo -> $hi")
      for (rl <- lo._5; rh <- hi._5)
        assert(rh <= rl, s"recall rose: $lo -> $hi")
    }
    out.foreach { case (t, nk, kr, p, r) =>
      assert(kr >= 0.0 && kr <= 1.0)
      p.foreach(x => assert(x >= 0.0 && x <= 1.0, s"prec at $t"))
      r.foreach(x => assert(x >= 0.0 && x <= 1.0, s"recall at $t"))
      assert(p.isDefined == (nk > 0))
    }
    // the grid actually discriminates on this corpus (scores straddle it)
    assert(out.head._2 > out.last._2,
      s"flat sweep: ${out.head._2} .. ${out.last._2}")
  }

  test("t21: suffix-match blocks subdomains downward, never parents upward") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // direct engine call on pinned doc_ids (the host is a pure function of
    // doc_id): each case exercises one suffix-match law
    val out = graft.queries.TextOps.blocklistFilter(
      Seq(3L, 6L, 7L, 53L, 56L, 57L).toDF("doc_id"),
      Seq("site7.example", "site13.example",
        "ads.site3.example", "media.site6.example"))
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getBoolean(2), Option(r.getString(3)))).toMap
    // registrable-domain rule blocks the bare host AND its subdomains
    assert(out(7L) == (("site7.example", true, Some("site7.example"))))
    assert(out(57L) == (("ads.site7.example", true, Some("site7.example"))))
    // a subdomain rule blocks only that subdomain...
    assert(out(53L) == (("ads.site3.example", true, Some("ads.site3.example"))))
    // ...and must NOT block the parent (the law naive substring-match breaks)
    assert(out(3L) == (("site3.example", false, None)))
    // an inner label-suffix matches a deeper host
    assert(out(6L) == (("cdn.media.site6.example", true, Some("media.site6.example"))))
    assert(out(56L) == (("site6.example", false, None)))
    // contract-level invariant at sf: a reported rule is always a true
    // label-suffix of its host; kept docs carry no rule
    val full = Registry.byName("t21_blocklist_filter").run(spark, sf).collect()
    full.foreach { r =>
      val (host, blocked, rule) =
        (r.getString(1), r.getBoolean(2), Option(r.getString(3)))
      assert(blocked == rule.isDefined, s"$host")
      rule.foreach(x => assert(host == x || host.endsWith("." + x), s"$host $x"))
    }
  }

  test("t20: training separates the planted classes; midpoint classifies all") {
    import org.apache.spark.sql.functions._
    val out = Registry.byName("t20_classifier_train").run(spark, sf).cache()
    val nPos = out.filter(col("label") === 1L).count()
    assert(nPos > 0 && nPos < out.count())
    // the trained weights must SEPARATE the classes: every positive margin
    // above every negative margin (not just on average)
    val minPos = out.filter(col("label") === 1L)
      .agg(min(col("margin"))).head().getDouble(0)
    val maxNeg = out.filter(col("label") === 0L)
      .agg(max(col("margin"))).head().getDouble(0)
    assert(minPos > maxNeg,
      s"class margins overlap: min_pos=$minPos max_neg=$maxNeg")
    // ...and the midpoint operating threshold then classifies everything
    assert(out.filter(col("pred") =!= (col("label") === 1L)).count() == 0)
    out.unpersist()
  }

  test("t20b: sample-trained model separates corpus-wide and agrees with t20") {
    import org.apache.spark.sql.functions._
    val out = Registry.byName("t20b_classifier_sampled").run(spark, sf).cache()
    // the sample is a strict, non-empty subset containing both classes
    val nSamp = out.filter(col("in_sample")).count()
    assert(nSamp > 0 && nSamp < out.count())
    assert(out.filter(col("in_sample") && col("label") === 1L).count() > 0)
    // the model trained on the 25% labeled sample must still separate the
    // planted classes on the WHOLE corpus (deployable-path contract)...
    val minPos = out.filter(col("label") === 1L)
      .agg(min(col("margin"))).head().getDouble(0)
    val maxNeg = out.filter(col("label") === 0L)
      .agg(max(col("margin"))).head().getDouble(0)
    assert(minPos > maxNeg,
      s"sampled-model class margins overlap: min_pos=$minPos max_neg=$maxNeg")
    // ...classify everything with the sample-derived threshold...
    assert(out.filter(col("pred") =!= (col("label") === 1L)).count() == 0)
    // ...and AGREE with the exact full-batch contract on every doc
    val full = Registry.byName("t20_classifier_train").run(spark, sf)
      .select(col("doc_id"), col("pred").as("pred_full"))
    assert(out.join(full, "doc_id")
      .filter(col("pred") =!= col("pred_full")).count() == 0)
    out.unpersist()
  }

  test("t24 drift laws: bins partition the corpus, shares normalize, plant moves L1") {
    val sf = SharedSpark.sf
    val docs = Tables(spark, sf, "documents")
    val out = Registry.byName("t24_score_drift").run(spark, sf).collect()
    assert(out.map(_.getLong(0)).distinct.length == out.length)
    // bins partition: every doc lands in exactly one (bin, snap) cell
    assert(out.map(r => r.getLong(1) + r.getLong(2)).sum == docs.count())
    // shares normalize per snapshot and the L1 term is what it claims
    val (sa, sb) = (out.map(_.getDouble(3)).sum, out.map(_.getDouble(4)).sum)
    assert(math.abs(sa - 1.0) < 1e-12 && math.abs(sb - 1.0) < 1e-12)
    out.foreach { r =>
      assert(r.getDouble(5) == math.abs(r.getDouble(3) - r.getDouble(4)), r)
    }
    val baseL1 = out.map(_.getDouble(5)).sum
    // planted drift: degrade snapshot B (odd docs) by appending junk
    // tokens that dilute the score toward the hash-mean — total L1 must
    // move well above the even/odd sampling noise of the intact corpus
    import graft.queries.TextOps
    val degraded = docs.select(col("doc_id"),
      when(pmod(col("doc_id"), lit(2L)) === 1,
        concat(col("text"), lit(" zzdrift zzdrift zzdrift zzdrift")))
        .otherwise(col("text")).as("text"))
    val plantedL1 = TextOps.scoreDrift(degraded).collect()
      .map(_.getDouble(5)).sum
    assert(plantedL1 > 2 * baseL1,
      s"planted drift $plantedL1 not above baseline $baseL1")
  }

  test("t25: ensemble separates every planted failure class; each single signal is blind to one") {
    import graft.queries.TextOps
    // Three failure classes, each chosen to BLIND at least one signal:
    //  a) no-stopword gibberish — unique rare tokens: repetition is 0
    //     (rep votes keep), stopwords and LM both catch it
    //  b) repeated boilerplate WITH stopwords — rep catches it; its
    //     stop fraction looks normal and its tokens are corpus-frequent,
    //     so the LM actively LIKES it (low NLL)
    //  c) stop-laced rare-token soup — stopword fraction normal, zero
    //     repetition, only the LM catches it
    // The coverage claim: the combined vote separates good from ALL bad
    // classes, while every single directed signal provably overlaps.
    val good = (0 until 40).map { i =>
      (i.toLong, ("the cat sat on the mat and the dog ran to the house " +
        s"again and again while the bird flew over the tree w$i").trim)
    }
    val badA = (100 until 105).map { i =>
      (i.toLong, (0 until 20).map(j => s"zq${i}x$j").mkString(" "))
    }
    val badB = (200 until 205).map { i =>
      (i.toLong, Seq.fill(8)("the cat sat").mkString(" ") + s" b$i")
    }
    // 3-of-8 stopword density matching the good docs' 0.375 (so the
    // stopword signal is truly blind), all content tokens globally
    // unique, no repeated 3-gram
    val badC = (300 until 305).map { i =>
      (i.toLong, (0 until 4).map(g =>
        s"the vw${i}g${g}a the vw${i}g${g}b the vw${i}g${g}c " +
          s"vw${i}g${g}d vw${i}g${g}e").mkString(" "))
    }
    val corpus = (good ++ badA ++ badB ++ badC).toDF("doc_id", "text")
    val out = TextOps.ensembleFrame(corpus).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(6))).toMap
    val goodIds = good.map(_._1).toSet
    // directed AUC: P(good ranks above bad), ties at 0.5 — "beats" in
    // the statistically honest sense (the hash classifier contributes
    // deterministic noise that a min/max margin test would overweight)
    def auc(f: ((Double, Double, Double, Double, Double)) => Double,
        flip: Boolean): Double = {
      val dir: Double => Double = if (flip) x => -x else identity
      val g = goodIds.toSeq.map(i => dir(f(out(i))))
      val b = out.keys.filterNot(goodIds).toSeq.map(i => dir(f(out(i))))
      g.flatMap(x => b.map(y =>
        if (x > y) 1.0 else if (x == y) 0.5 else 0.0)).sum / (g.size * b.size)
    }
    val ensAuc = auc(_._5, flip = false)
    val singles = Seq[(String,
        ((Double, Double, Double, Double, Double)) => Double, Boolean)](
      ("cls", _._1, false), ("lm_nll", _._2, true),
      ("rep_ratio", _._3, true), ("stop_frac", _._4, false))
      .map { case (name, f, flip) => name -> auc(f, flip) }
    // the ensemble must beat EVERY single directed signal, decisively:
    // above the best single by a real margin, not a rounding artifact
    // (measured: ens 0.935 vs best single 0.83 — the residual gap to
    // 1.0 is the hash-classifier vote's deterministic noise, which is
    // the price of carrying an arbitrary fourth signal through the
    // same calibration)
    val bestSingle = singles.map(_._2).max
    assert(ensAuc > bestSingle + 0.05,
      s"ensemble AUC $ensAuc must beat best single $bestSingle + 0.05: $singles")
    assert(ensAuc >= 0.9, s"ensemble AUC $ensAuc below 0.9: $singles")
    // and the structurally-strong classes separate OUTRIGHT: every
    // gibberish (a) and boilerplate (b) doc scores below every good doc
    val gMin = goodIds.toSeq.map(i => out(i)._5).min
    val abMax = (badA ++ badB).map(d => out(d._1)._5).max
    assert(gMin > abMax, s"classes a/b must fully separate: $gMin vs $abMax")
  }
}
