package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.functions._

import graft.engine.Tables
import graft.queries.Corpus

/** Corpus-op contracts that the DuckDB oracle cannot see: the c13 model
  * join's physical gate (broadcast vs shuffle) must not change a single
  * value, and the truncated-LM scale path must track the full model.
  */
class CorpusSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  val sf = SharedSpark.sf

  private lazy val docs = Tables(spark, sf, "documents")

  test("c13: broadcast and shuffle-join paths are value-identical") {
    // default threshold → vocab fits → broadcast; 0 → forced shuffle join
    val viaBroadcast = Corpus.unigramLmScore(docs).collect()
    val viaShuffle = Corpus.unigramLmScore(docs, broadcastVocabMax = 0).collect()
    assert(viaBroadcast.length == viaShuffle.length)
    viaBroadcast.zip(viaShuffle).foreach { case (a, b) =>
      assert(a.getLong(0) == b.getLong(0))
      assert(a.getLong(1) == b.getLong(1))
      // decimal-exact sum + identical logp per type: bit-equal, not approx
      assert(a.getDouble(2) == b.getDouble(2), s"doc ${a.getLong(0)}")
    }
  }

  test("c22: broadcast and shuffle-join paths are value-identical") {
    val viaBroadcast = Corpus.bigramLmScore(docs).collect()
    val viaShuffle = Corpus.bigramLmScore(docs, broadcastVocabMax = 0).collect()
    assert(viaBroadcast.length == viaShuffle.length)
    viaBroadcast.zip(viaShuffle).foreach { case (a, b) =>
      assert(a.getLong(0) == b.getLong(0))
      assert(a.getLong(1) == b.getLong(1))
      assert(a.getDouble(2) == b.getDouble(2), s"doc ${a.getLong(0)}")
    }
  }

  test("c22: predictable word order outscores shuffled word order") {
    // Same unigram distribution, different bigram structure: the
    // interpolated bigram model must separate them (the discrimination a
    // unigram LM like c13 is blind to — both docs have IDENTICAL c13
    // scores by construction).
    import spark.implicits._
    val phrase = "the quick brown fox jumps over the lazy dog"
    val scrambled = "dog the fox quick lazy brown the jumps over"
    val corpus = ((1L to 50L).map(i => (i, phrase)) :+ (99L, scrambled))
      .toDF("doc_id", "text")
    val out = Corpus.bigramLmScore(corpus).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(out(99L) > out(1L),
      s"scrambled ${out(99L)} should score higher NLL than fluent ${out(1L)}")
    // and a 1-token doc contributes no bigram rows (drops out, no error)
    val tiny = Seq((1L, "a b"), (2L, "x")).toDF("doc_id", "text")
    val ids = Corpus.bigramLmScore(tiny).collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L))
  }

  test("c23: water-filling — undersized sources cap, headroom absorbs, budget conserves") {
    import spark.implicits._
    // controlled skew so every branch is exercised with HAND-COMPUTED
    // values: tokens a=10, b=10, c=100 → T=120, budget=144, want=48.
    // a and b cap at 14; c absorbs their unmet demand:
    // left1 = 144−(14+14+48) = 68 → c = min(48+68, 140) = 116; unfilled 0.
    def words(n: Int) = (1 to n).map(i => s"w$i").mkString(" ")
    val toy = Seq(("a", words(10)), ("b", words(10)), ("c", words(100)))
      .toDF("source", "text")
    val got = Corpus.tokenBudgetFill(toy).collect()
      .map(r => r.getString(0) ->
        (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))).toMap
    assert(got("a") == ((14.0, 14.0, 1.4, 0.0)))
    assert(got("b") == ((14.0, 14.0, 1.4, 0.0)))
    assert(got("c") == ((140.0, 116.0, 1.16, 0.0)))
    // and on the real table the structural invariants hold at any SF
    val rows = Corpus.tokenBudgetFill(docs).collect()
    val budget = 1.2 * rows.map(_.getLong(1)).sum.toDouble
    rows.foreach { r =>
      assert(r.getDouble(3) <= r.getDouble(2) + 1e-9, s"${r.getString(0)} over cap")
      assert(r.getDouble(4) <= 1.4 + 1e-12)
    }
    val allocated = rows.map(_.getDouble(3)).sum
    assert(math.abs(allocated + rows.head.getDouble(5) - budget) < 1e-6 * budget)
  }

  test("c13 truncated: no-truncation ranks match the full model exactly") {
    // With topN ≥ vocab nothing folds into OOV and every token's logp
    // shifts by the SAME constant ln((N+v)/(N+v+1)) (the denom gains the
    // reserved OOV type), so avg_nll shifts per-doc by that constant and
    // the doc ordering is identical.
    val full = Corpus.unigramLmScore(docs).collect()
      .map(r => (r.getLong(0), r.getDouble(2)))
    val trunc = Corpus.unigramLmScoreTruncated(docs, topN = 1000000).collect()
      .map(r => (r.getLong(0), r.getDouble(2)))
    assert(full.map(_._1).sameElements(trunc.map(_._1)))
    val shifts = full.zip(trunc).map { case ((_, a), (_, b)) => b - a }
    assert(shifts.max - shifts.min < 1e-9, s"${shifts.min}..${shifts.max}")
    def ranked(xs: Array[(Long, Double)]) =
      xs.sortBy { case (id, v) => (v, id) }.map(_._1).toSeq
    assert(ranked(full) == ranked(trunc))
  }

  test("c13 truncated: aggressive truncation still scores every doc finitely") {
    val n = docs.count()
    val out = Corpus.unigramLmScoreTruncated(docs, topN = 50).collect()
    assert(out.length == n)
    assert(out.forall(r => !r.getDouble(2).isNaN && !r.getDouble(2).isInfinite))
    // OOV mass dominates at topN=50, so scores must still separate docs
    assert(out.map(_.getDouble(2)).distinct.length > 1)
  }

  /** Independent single-node reference BPE (Sennrich learn_bpe over the
    * type dictionary, no end-of-word marker) — deliberately written with
    * plain Scala collections so it shares no code with the distributed
    * implementation it checks.
    */
  private def referenceBpe(wordCounts: Map[String, Long], k: Int): Vector[(Long, String, String, Long)] = {
    var types: Map[Vector[String], Long] =
      wordCounts.groupMapReduce { case (w, _) => w.map(_.toString).toVector } {
        case (_, c) => c
      }(_ + _)
    val out = Vector.newBuilder[(Long, String, String, Long)]
    var step = 1L
    var done = false
    while (step <= k && !done) {
      val pairs = scala.collection.mutable.Map.empty[(String, String), Long]
      types.foreach { case (syms, c) =>
        syms.sliding(2).foreach {
          case Vector(a, b) => pairs((a, b)) = pairs.getOrElse((a, b), 0L) + c
          case _            =>
        }
      }
      if (pairs.isEmpty) done = true
      else {
        val ((l, r), pc) = pairs.minBy { case ((a, b), c) => (-c, a, b) }
        out += ((step, l, r, pc))
        types = types.groupMapReduce { case (syms, _) =>
          val acc = Vector.newBuilder[String]
          var last: String = null
          syms.foreach { s =>
            if (last == l && s == r) { // greedy left-to-right fuse
              val v = acc.result(); acc.clear()
              v.dropRight(1).foreach(acc += _); acc += (l + r); last = l + r
            } else { acc += s; last = s }
          }
          acc.result()
        } { case (_, c) => c }(_ + _)
        step += 1
      }
    }
    out.result()
  }

  test("c17 BPE merges equal an independent reference implementation, any partitioning") {
    import org.apache.spark.sql.functions._
    val docs = graft.engine.Tables(spark, sf, "documents")
    val wordCounts = docs
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val expect = referenceBpe(wordCounts, 20)
    val got = Corpus.bpeMerges(docs, 20).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toVector
    assert(got == expect,
      s"first divergence: ${got.zip(expect).find(x => x._1 != x._2)}")
    // determinism across partitioning (ties broken by (count, l, r))
    val got2 = Corpus.bpeMerges(docs.repartition(13), 20).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toVector
    assert(got2 == got)
  }

  /** Independent single-node unigram-LM trainer — same CONTRACT as
    * Corpus.unigramTrain (seed top-substrings ∪ chars, K Viterbi hard-EM
    * rounds, char coverage floor, top-V prune), separately implemented:
    * mutable-map seeding, declarative candidate selection for the Viterbi
    * tie rule (max score → fewest pieces → smallest split point = longest
    * last piece) instead of the engine's first-visit iteration order.
    */
  private def referenceUnigram(wordCounts: Map[String, Long], rounds: Int,
      seedPieces: Int, vocab: Int, maxLen: Int): Vector[(Long, String, Long)] = {
    val sub = scala.collection.mutable.Map.empty[String, Long]
    wordCounts.foreach { case (w, c) =>
      for (i <- 0 until w.length; l <- 1 to math.min(maxLen, w.length - i)) {
        val p = w.substring(i, i + l)
        sub(p) = sub.getOrElse(p, 0L) + c
      }
    }
    var weights: Map[String, Long] =
      sub.filter(_._1.length == 1).toMap ++
        sub.filter(_._1.length > 1).toSeq
          .sortBy { case (p, wt) => (-wt, p) }.take(seedPieces)
    def segment(w: String, logp: Map[String, Double], ml: Int): Vector[String] = {
      // prefix DP, candidates picked declaratively by the pinned tie rule
      case class St(score: Double, n: Int, from: Int)
      val dp = new Array[St](w.length + 1)
      dp(0) = St(0.0, 0, -1)
      for (i <- 1 to w.length) {
        val cands = for {
          j <- math.max(0, i - ml) until i
          if dp(j) != null
          lp <- logp.get(w.substring(j, i))
        } yield St(dp(j).score + lp, dp(j).n + 1, j)
        if (cands.nonEmpty) {
          dp(i) = cands.reduceLeft { (a, b) =>
            if (b.score > a.score) b
            else if (b.score == a.score && b.n < a.n) b
            else if (b.score == a.score && b.n == a.n && b.from < a.from) b
            else a
          }
        }
      }
      var out = Vector.empty[String]
      var k = w.length
      while (k > 0) { out = w.substring(dp(k).from, k) +: out; k = dp(k).from }
      out
    }
    for (_ <- 1 to rounds) {
      val total = weights.valuesIterator.sum.toDouble
      val logp = weights.map { case (p, wt) => p -> StrictMath.log(wt / total) }
      val ml = weights.keysIterator.map(_.length).max
      val counted = scala.collection.mutable.Map.empty[String, Long]
      wordCounts.foreach { case (w, c) =>
        segment(w, logp, ml).foreach(p => counted(p) = counted.getOrElse(p, 0L) + c)
      }
      weights = weights.flatMap { case (p, _) =>
        counted.get(p) match {
          case Some(cc)              => Some(p -> cc)
          case None if p.length == 1 => Some(p -> 1L)
          case None                  => None
        }
      }
    }
    val chars = weights.toSeq.filter(_._1.length == 1)
    val multi = weights.toSeq.filter(_._1.length > 1)
      .sortBy { case (p, wt) => (-wt, p) }
      .take(math.max(0, vocab - chars.size))
    (chars ++ multi).sortBy { case (p, wt) => (-wt, p) }
      .zipWithIndex.map { case ((p, wt), i) => (i + 1L, p, wt) }.toVector
  }

  test("c26 unigram-LM vocab equals an independent reference, any partitioning") {
    import org.apache.spark.sql.functions._
    val wordCounts = docs
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val expect = referenceUnigram(wordCounts, 4, 300, 200, 4)
    def got(d: org.apache.spark.sql.DataFrame) =
      Corpus.unigramTrain(d).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toVector
    val g = got(docs)
    assert(g == expect,
      s"sizes ${g.size}/${expect.size}; first divergence: " +
        s"${g.zip(expect).find(x => x._1 != x._2)}")
    assert(got(docs.repartition(13)) == g)
  }

  /** Apply a merge sequence to one word — the reference ENCODER (greedy
    * left-to-right fuse per merge, in merge order), independent of the
    * distributed implementation.
    */
  private def referenceEncode(w: String, merges: Seq[(String, String)]): Vector[String] = {
    var syms = w.map(_.toString).toVector
    merges.foreach { case (l, r) =>
      val acc = Vector.newBuilder[String]
      var last: String = null
      syms.foreach { s =>
        if (last == l && s == r) {
          val v = acc.result(); acc.clear()
          v.dropRight(1).foreach(acc += _); acc += (l + r); last = l + r
        } else { acc += s; last = s }
      }
      syms = acc.result()
    }
    syms
  }

  test("c18 BPE encode stats equal the reference tokenizer applied per word") {
    import org.apache.spark.sql.functions._
    val docs = graft.engine.Tables(spark, sf, "documents")
    val wordCounts = docs
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val merges = referenceBpe(wordCounts, 20).map(m => (m._2, m._3))
    val tokWidth: Map[String, Long] =
      wordCounts.keys.map(w => w -> referenceEncode(w, merges).length.toLong).toMap
    // expected per-source totals, computed with plain Scala collections
    val perSource = docs.select(col("source"), col("text")).collect()
      .flatMap(r => r.getString(1).split(" ").filter(_.nonEmpty).map(w => (r.getString(0), w)))
      .groupBy(_._1).map { case (src, ws) =>
        val words = ws.length.toLong
        val toks = ws.map(x => tokWidth(x._2)).sum
        val chars = ws.map(_._2.length.toLong).sum
        (src, (words, toks,
          toks.toDouble / words.toDouble,
          chars.toDouble / toks.toDouble))
      }
    val got = Corpus.bpeEncodeStats(docs, 20).collect()
      .map(r => (r.getString(0),
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(got.keySet == perSource.keySet)
    perSource.foreach { case (src, exp) =>
      assert(got(src) == exp, s"source $src: got ${got(src)} expected $exp")
    }
  }

  test("c20 DSIR: broadcast and shuffle model joins agree; target-like docs outrank") {
    import org.apache.spark.sql.functions._
    val spark2 = spark
    import spark2.implicits._
    // 30 target docs with a domain-heavy vocabulary, 30 generic docs, and
    // 5 mixed docs that borrow the domain words — DSIR must pull the
    // domain-heavy docs (target OR mixed) above the generic ones
    val docs = ((0 until 30).map(i =>
        (i.toLong, "en", s"theorem proof lemma corollary axiom term$i")) ++
      (30 until 60).map(i =>
        (i.toLong, "de", s"apple banana cherry damson elder term$i")) ++
      (60 until 65).map(i =>
        (i.toLong, "de", s"theorem proof lemma corollary axiom term$i")))
      .toDF("doc_id", "lang", "text")
    val top = queries.Corpus.dsirSelect(docs, col("lang") === "en", 35)
      .collect().map(_.getLong(0))
    assert(top.length == 35)
    val domainIds = ((0 until 30) ++ (60 until 65)).map(_.toLong).toSet
    assert(top.toSet == domainIds,
      s"DSIR top-35 must be exactly the domain-vocabulary docs, got ${top.sorted.toSeq}")
    val shuffled = queries.Corpus.dsirSelect(docs.repartition(13),
      col("lang") === "en", 35, broadcastVocabMax = 0).collect().map(_.getLong(0))
    assert(shuffled.toSeq == top.toSeq,
      "shuffle-join model path must equal the broadcast path exactly")
  }

  test("c25: duplicated token mass is exactly the planted copies' tokens, per source") {
    import org.apache.spark.sql.functions._
    val out = Registry.byName("c25_effective_tokens").run(spark, sf).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))
      .toMap
    // independent per-source expectation from the raw table: all base texts
    // are distinct (verified below), so survivors == originals and the
    // duplicated mass is exactly the every-10th planting
    val base = graft.engine.Tables(spark, sf, "documents")
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("nt"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val distinctTexts = graft.engine.Tables(spark, sf, "documents")
      .select(countDistinct(col("text"))).head.getLong(0)
    assert(distinctTexts == base.length.toLong,
      "precondition: base corpus has no natural exact duplicates")
    base.groupBy(_._2).foreach { case (src, rows) =>
      val planted = rows.filter(_._1 % 10 == 0)
      val (nDocs, nUnique, totTok, uniqTok, dup) = out(src)
      assert(nDocs == rows.length + planted.length, src)
      assert(nUnique == rows.length, src)
      assert(totTok == rows.map(_._3).sum + planted.map(_._3).sum, src)
      assert(uniqTok == rows.map(_._3).sum, src)
      assert(dup == totTok.toDouble / uniqTok.toDouble, src)
      if (planted.nonEmpty) assert(dup > 1.0, src)
    }
  }

  test("c27: gibberish docs land in the tail bucket, per language") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // 9 normal docs per lang from a tiny shared vocabulary + 1 noisy doc
    // of singleton tokens (maximal add-one-smoothed NLL) — CCNet's actual
    // filter decision is exactly "noisy docs land in tail"
    val normal = for {
      (lang, off) <- Seq(("en", 0L), ("de", 100L))
      i <- 0 until 9
    } yield (off + i, s"the cat sat on the mat again and again word$i", lang)
    val noisy = Seq((50L, "zxq1 zxq2 zxq3 zxq4 zxq5", "en"),
      (150L, "vbn1 vbn2 vbn3 vbn4 vbn5", "de"))
    val df = (normal ++ noisy).toDF("doc_id", "text", "lang")
    val out = Corpus.perplexityBuckets(df).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(3))).toMap
    assert(out(50L) == (("en", "tail")))
    assert(out(150L) == (("de", "tail")))
    // tertile accounting: 10 docs per lang → 4 head / 3 middle / 3 tail
    val sizes = Corpus.perplexityBuckets(df).groupBy("lang", "ppl_bucket")
      .count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    for (l <- Seq("en", "de")) {
      assert(sizes((l, "head")) == 4L, l)
      assert(sizes((l, "middle")) == 3L, l)
      assert(sizes((l, "tail")) == 3L, l)
    }
  }

  test("c32: each KN order sums to exactly 1 over the continuation vocabulary") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // A corpus where context (a, b) precedes EVERY continuation-vocab
    // word: each doc is one trigram "a b <w>", so the trigram stream's
    // distinct w set == the continuation vocabulary and Σ_w p(w|a,b) must
    // be EXACTLY 1 — interpolated KN's defining normalization (the
    // discount mass D·N1+/c redistributed through the lower orders comes
    // back out as exactly what the max-terms gave up). One duplicate doc
    // varies the counts so the law isn't an artifact of uniform c3=1.
    val corpus = Seq("a b x1", "a b x2", "a b x3", "a b a", "a b b",
      "a b x1").zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val tc = Corpus.knGramHashCounts(Corpus.knNgramHashStream(corpus, 3), 3,
      "CorpusSpec")
    val model = Corpus.knNgramModel(tc, 3)
    // every trigram type has the context (a, b): sum p over all rows
    val total = model.agg(sum(col("p"))).head.getDouble(0)
    assert(math.abs(total - 1.0) < 1e-12, s"Σ p(w|a,b) = $total")
    // and every probability is strictly positive (closed vocabulary —
    // no max(·,0) clamp is ever needed)
    assert(model.filter(col("p") <= 0.0).count() == 0)
  }

  test("c32: trigram-breaking recombination — KN discrimination beats c22's bigram") {
    import spark.implicits._
    // Two fluent templates sharing vocabulary, plus a RECOMBINED probe
    // whose every BIGRAM is corpus-frequent but whose middle trigrams are
    // novel — the failure mode a bigram filter is blind to and the reason
    // CCNet runs a higher-order model. The gap (recombined NLL − fluent
    // NLL) must be positive for KN and LARGER than c22's bigram gap.
    val t1 = "the cat sat on the mat"
    val t2 = "the dog sat in the hut"
    val probeFluent = (200L, t1)
    val probeRecomb = (201L, "the cat sat in the hut")
    val corpus = ((1L to 50L).map(i => (i, t1)) ++
      (101L to 150L).map(i => (i, t2)) :+ probeFluent :+ probeRecomb)
      .toDF("doc_id", "text")
    def gap(scores: Map[Long, Double]): Double = scores(201L) - scores(200L)
    val kn = Corpus.knNgramScore(corpus, 3).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val bg = Corpus.bigramLmScore(corpus).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(gap(kn) > 0, s"KN must penalize the recombination: ${gap(kn)}")
    assert(gap(kn) > gap(bg),
      s"KN gap ${gap(kn)} must beat bigram gap ${gap(bg)}")
    // docs with < 3 tokens contribute no trigram positions and drop out
    val tiny = Seq((1L, "a b c"), (2L, "x y")).toDF("doc_id", "text")
    assert(Corpus.knNgramScore(tiny, 3).collect().map(_.getLong(0)).toSet
      == Set(1L))
  }

  test("c33: KN buckets keep the tertile accounting and re-rank vs c27") {
    import org.apache.spark.sql.functions._
    // same decision layer ⇒ same per-lang tertile sizes as c27 on the
    // real corpus; and the scorer swap must actually MOVE some docs
    // across buckets (if it never did, the higher-order model would be
    // decision-irrelevant and c33 pointless)
    val kn = Corpus.knPerplexityBuckets(docs).cache()
    val sizes27 = Corpus.perplexityBuckets(docs)
      .groupBy("lang", "ppl_bucket").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val sizes33 = kn.groupBy("lang", "ppl_bucket").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(sizes33 == sizes27,
      "tertile accounting is scorer-invariant by construction")
    val moved = kn.select(col("doc_id"), col("ppl_bucket").as("b33"))
      .join(Corpus.perplexityBuckets(docs)
        .select(col("doc_id"), col("ppl_bucket").as("b27")), "doc_id")
      .filter(col("b33") =!= col("b27")).count()
    assert(moved > 0, "KN scores must re-rank at least one doc")
    kn.unpersist()
  }

  test("c32/c32b: order-3 KN scores equal fixed recorded bits, full and pruned") {
    import spark.implicits._
    // (doc_id, n_trigrams, raw bits of avg_nll), recorded from the former
    // string-keyed trigram scorer (u/v/w token columns) before it was
    // deleted: the hash-keyed chain must keep reproducing them
    // bit-for-bit, with and without minCount = 2 pruning. Doc 1 is
    // all repeated trigrams (pruning leaves it alone); doc 5 is one
    // singleton trigram; doc 7 has < 3 tokens and drops out.
    val corpus = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the cat sat on the rug"),
      (3L, "a dog sat on the mat"),
      (4L, "the dog sat on the cat sat on the mat"),
      (5L, "the cat ran"),
      (6L, "a dog ran off the mat"),
      (7L, "x y")).toDF("doc_id", "text")
    val full = Seq(
      (1L, 4L, 0x3fd16b74ab0c588aL), (2L, 4L, 0x3fe72222599f9831L),
      (3L, 4L, 0x3fd674eb5fd06e44L), (4L, 8L, 0x3fe04c1a06a976e3L),
      (5L, 1L, 0x3ffd452f031beaf7L), (6L, 4L, 0x3feac3180e24ed06L))
    val pruned = Seq(
      (1L, 4L, 0x3fd16b74ab0c588aL), (2L, 4L, 0x3fec96d1125a344fL),
      (3L, 4L, 0x3fdafff3f9e78111L), (4L, 8L, 0x3fe50b6587a6fa6cL),
      (5L, 1L, 0x400294d4facfb1b2L), (6L, 4L, 0x3ff805e22621e90eL))
    for ((minCount, want) <- Seq(1 -> full, 2 -> pruned)) {
      val got = Corpus.knNgramScore(corpus, 3, minCount = minCount).collect()
        .map(r => (r.getLong(0), r.getLong(1),
          java.lang.Double.doubleToRawLongBits(r.getDouble(2)))).toSeq
      assert(got == want, s"minCount = $minCount")
    }
  }

  test("c35: 5-gram separates trigram-preserving recombinations beyond c32") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // Two fluent templates spliced at a SHARED trigram ("sat on the"):
    // every trigram of the recombined probe is corpus-frequent, but the
    // 4/5-grams spanning the splice are novel — the failure mode a
    // trigram filter cannot see and the reason KenLM/CCNet default to
    // order 5. The recombination gap must be positive at order 5 and
    // LARGER than order 3's.
    val t1 = "the big cat sat on the mat today"
    val t2 = "an old dog sat on the rug nightly"
    val corpus = ((1L to 50L).map(i => (i, t1)) ++
      (101L to 150L).map(i => (i, t2)) :+
      (200L, t1) :+ (201L, "the big cat sat on the rug nightly"))
      .toDF("doc_id", "text")
    def scores(df: org.apache.spark.sql.DataFrame): Map[Long, Double] =
      df.collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    def gap(s: Map[Long, Double]): Double = s(201L) - s(200L)
    val k5 = scores(Corpus.knNgramScore(corpus, 5))
    val k3 = scores(Corpus.knNgramScore(corpus, 3))
    assert(gap(k5) > 0, s"5-gram KN must penalize the splice: ${gap(k5)}")
    assert(gap(k5) > gap(k3),
      s"5-gram gap ${gap(k5)} must beat trigram gap ${gap(k3)}")
    // docs with < 5 tokens contribute no 5-gram positions and drop out
    val tiny = Seq((1L, "a b c d e"), (2L, "v w x y")).toDF("doc_id", "text")
    assert(Corpus.knNgramScore(tiny, 5).collect().map(_.getLong(0)).toSet
      == Set(1L))
    // size-gated join: broadcast and shuffle paths are value-identical,
    // at orders 3 and 5, on this fixture and on the documents table
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val in = docs.select(col("doc_id"), col("text"))
    for (n <- Seq(3, 5); (name, df) <- Seq("splice" -> corpus, "docs" -> in)) {
      val viaBroadcast = rows(Corpus.knNgramScore(df, n))
      val viaShuffle = rows(Corpus.knNgramScore(df, n, broadcastTypesMax = 0))
      assert(viaBroadcast.nonEmpty)
      assert(viaBroadcast == viaShuffle,
        s"$name, order $n: broadcast/shuffle paths must agree exactly")
    }
  }

  // the pruned probability of an affected gram is strictly below the
  // full one (the max-term (c − 0.75) > 0 at c >= 1), so a doc's mean NLL
  // can only rise — and must rise somewhere, because singleton n-gram
  // types exist in any natural corpus
  private def assertPruningRaisesNll(n: Int): Unit = {
    import org.apache.spark.sql.functions._
    val in = docs.select(col("doc_id"), col("text"))
    val full = Corpus.knNgramScore(in, n).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val pruned = Corpus.knNgramScore(in, n, minCount = 2).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(full.keySet == pruned.keySet)
    full.keys.foreach { d =>
      assert(pruned(d) >= full(d), s"order $n, doc $d: pruning lowered NLL")
    }
    assert(full.keys.exists(d => pruned(d) > full(d)),
      s"order $n: no doc was affected — singleton n-grams must exist")
  }

  test("c32b: pruning can only raise NLL; strict where singleton trigrams occur") {
    assertPruningRaisesNll(3)
  }

  test("c35b: order-5 pruning can only raise NLL; strict where singleton 5-grams occur") {
    assertPruningRaisesNll(5)
  }

  test("c36: incremental count merge equals full recount at ANY cutoff") {
    import org.apache.spark.sql.functions._
    // the p15 edge discipline: empty delta (cut above every doc_id),
    // empty base (cut below), and the contract's derived 80% cut must
    // ALL reproduce the one-shot c35 scores bit-for-bit — mergeability
    // is a theorem, so any deviation is a bug in the merge, not noise
    val in = docs.select(col("doc_id"), col("text"))
    val oneShot = Corpus.knNgramScore(in, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    for (cut <- Seq(None, Some(Long.MinValue), Some(Long.MaxValue))) {
      val inc = Corpus.knNgramScoreIncremental(in, cutOverride = cut)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(inc == oneShot, s"cutOverride=$cut diverged from recount")
    }
  }

  test("c26b: one EM round equals an independent driver-side segmentation") {
    import org.apache.spark.sql.functions._
    // independent reference: collect the seed, rebuild logp with the
    // same StrictMath.log, segment every type word with viterbiSegment
    // directly, re-estimate, floor-keep chars — then compare the
    // distributed round bit-for-bit
    val in = docs.select(col("doc_id"), col("text"))
    val seed = Corpus.unigramSeed(in).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = seed.values.sum.toDouble
    val logp = seed.map { case (p, w) => p -> StrictMath.log(w / total) }
    val maxLen = seed.keys.map(_.length).max
    val types = in.select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("cnt")).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    val counted = scala.collection.mutable.Map.empty[String, Long]
    types.foreach { case (w, cnt) =>
      Corpus.viterbiSegment(w, logp, maxLen).foreach { p =>
        counted(p) = counted.getOrElse(p, 0L) + cnt
      }
    }
    val expected = (counted.toMap ++
      seed.keys.filter(p => p.length == 1 && !counted.contains(p))
        .map(_ -> 1L)).toSeq.sortBy(_._1)
    val got = Corpus.unigramEmRound(in).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(got == expected)
    // the round genuinely moves mass: some seed multi-char piece pruned
    val gotMap = got.toMap
    assert(seed.keys.exists(p => p.length > 1 && !gotMap.contains(p)),
      "no multi-char piece self-pruned — fixture too small?")
  }

  test("c38: delete ∘ append ≡ rebuild on interleaved KN count batches") {
    import org.apache.spark.sql.functions._
    // the r17 verdict item-3 pin at the count artifact: a count table
    // maintained through c36's append merge AND THEN c38's negative
    // retraction must score the survivors exactly like a one-shot
    // recount over them — deletes span both the base and append epochs
    val in = docs.select(col("doc_id"), col("text"))
    val mx = in.agg(max(col("doc_id"))).head.getLong(0)
    val cut = mx * 3 / 5
    val delPred = col("doc_id") % 7 === 3
    val n = 5
    val tg = Corpus.knNgramHashStream(in, n)
    val guard = Seq(s"x$n", s"s${n - 1}")
    val carry = Corpus.knSubCols(n).filterNot(guard.toSet)
    val base = Corpus.knGramHashCounts(tg.filter(col("doc_id") <= cut), n, "sp base")
    val delta = Corpus.knGramHashCounts(tg.filter(col("doc_id") > cut), n, "sp delta")
    val merged = Corpus.knGroupGuarded(base.unionByName(delta), "h",
      Seq("c" -> sum(col("c"))), guard, carry, "sp merge")
    val neg = Corpus.knGramHashCounts(tg.filter(delPred), n, "sp del")
      .withColumn("c", lit(0L) - col("c"))
    val corrected = Corpus.knGroupGuarded(merged.unionByName(neg), "h",
      Seq("c" -> sum(col("c"))), guard, carry, "sp retract")
      .filter(col("c") > 0).localCheckpoint(true)
    val maintained = Corpus.knScoreFromCounts(tg.filter(!delPred),
        corrected, n, broadcastTypesMax = 4L << 20, minCount = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val rebuilt = Corpus.knNgramScore(in.filter(!delPred), n).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(maintained == rebuilt, "delete∘append diverged from recount")
    // and the contract query's one-step retraction agrees too
    val oneStep = Corpus.knNgramScoreRetract(in, delPred).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(oneStep == rebuilt)
  }

  test("c36b: bucketed-base merge ≡ checkpointed merge; base side enters the merge unshuffled") {
    import org.apache.spark.sql.functions._
    val in = docs.select(col("doc_id"), col("text"))
    val viaCkpt = Corpus.knNgramScoreIncremental(in).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val viaBucket = Corpus.knNgramScoreBucketed(spark, in,
        "c36b_spec_base").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(viaBucket == viaCkpt,
      "bucketed-base merge diverged from the checkpointed contract row")
    // the delta-only-shuffle claim, on the plan itself: the merge join
    // consumes the bucketed base with NO exchange — the only shuffle in
    // the merge step is the delta's own count aggregation
    val mx = in.agg(max(col("doc_id"))).head.getLong(0)
    val merge = Corpus.knCountsMerge(spark.table("c36b_spec_base"),
      in.filter(col("doc_id") > mx * 4 / 5), 5)
    val plan = merge.queryExecution.executedPlan.toString
    val shuffles = plan.linesIterator
      .count(l => l.contains("Exchange hashpartitioning"))
    assert(shuffles == 1,
      s"expected 1 exchange (the delta count) in the merge plan, got $shuffles:\n" +
        plan.take(3000))
    assert(plan.contains("Scan parquet"), "base side must come from storage")
  }

  test("c39: index merge ≡ rebuild at ANY cutoff; concat IS the sorted merge") {
    import org.apache.spark.sql.functions._
    val in = docs.select(col("doc_id"), col("text"))
    val full = Corpus.invertedIndexRows(in)
      .select("token", "shard", "df_shard", "postings")
      .collect().map(_.toSeq).toSet
    val mx = in.agg(max(col("doc_id"))).head.getLong(0)
    // 0% (all-delta), a boundary-shard-splitting cut, and 100% (all-base)
    for (cut <- Seq(-1L, mx / 2 + 1, mx)) {
      val base = Corpus.invertedIndexRows(in.filter(col("doc_id") <= cut))
      val delta = Corpus.invertedIndexRows(in.filter(col("doc_id") > cut))
      val merged = Corpus.invertedIndexMerge(base, delta)
        .select("token", "shard", "df_shard", "postings")
        .collect().map(_.toSeq).toSet
      assert(merged == full, s"cut=$cut: merge != rebuild")
    }
    // postings in every merged row are ascending (the concat-not-resort
    // claim holds only because fragments partition the id range)
    full.foreach { r =>
      val ids = r(3).asInstanceOf[String].split(",").map(_.toLong)
      assert(ids.sameElements(ids.sorted), s"unsorted postings: $r")
    }
  }

  test("c37: on the training slice, open-vocab ≡ closed-vocab trained there, bit-for-bit") {
    import org.apache.spark.sql.functions._
    // CCNet's reference-trained scorer must be the SAME model where the
    // vocabularies coincide: for docs inside the training slice every
    // gram is seen, so the left-join + coalesce tree must collapse to
    // the closed scorer's materialized probabilities exactly
    val in = docs.select(col("doc_id"), col("text"), col("source"))
    val trainPred = col("source").isin("src0", "src1", "src2", "src3")
    val closed = Corpus.knNgramScore(
        in.filter(trainPred).select(col("doc_id"), col("text")), 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val open = Corpus.knNgramScoreOpenVocab(in, trainPred).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val trainIds = closed.map(_._1).toSet
    val openOnTrain = open.filter(r => trainIds.contains(r._1))
      .map(r => (r._1, r._2, r._4)).toSeq
    assert(openOnTrain == closed,
      "training-slice scores must equal the closed-vocab scorer's")
    // and every training-slice gram is in-vocabulary: zero OOV there
    assert(open.filter(r => trainIds.contains(r._1)).forall(_._3 == 0L))
    // out-of-slice docs exist and at least one carries a novel 5-gram
    assert(open.exists(r => !trainIds.contains(r._1) && r._3 > 0L),
      "no OOV grams outside the training slice — fixture too uniform")
    // every >= 5-token doc scores (left joins keep OOV grams)
    val scorable = in.filter(size(split(col("text"), " ")) >= 5).count()
    assert(open.length.toLong == scorable)
  }

  test("c37: OOV-heavy docs rank worse; unseen contexts back off to the unk floor") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val train = "the quick brown fox jumps over the lazy dog today"
    val corpus = ((1L to 20L).map(i => (i, train, "ref")) :+
      (100L, train, "web") :+ // in-vocab web doc
      (101L, "zqx wvu tsr qpo nml kji hgf edc", "web")) // fully OOV
      .toDF("doc_id", "text", "source")
    val open = Corpus.knNgramScoreOpenVocab(corpus,
        col("source") === "ref").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    // the in-vocab web doc scores exactly like a training doc
    assert(open(100L) == open(1L))
    // the all-OOV doc: every gram misses every order → p = unk floor;
    // nb = distinct bigram-suffix types of the train text
    assert(open(101L)._2 == open(101L)._1, "every gram of doc 101 is OOV")
    assert(open(101L)._3 > open(100L)._3,
      "OOV-heavy doc must rank worse (higher avg NLL)")
    // nb = distinct (g4,g5) pairs over the 6 train 5-gram types:
    // (fox,jumps),(jumps,over),(over,the),(the,lazy),(lazy,dog),(dog,today)
    val nb = 6.0
    // Exact.dsum carries DECIMAL(38,10), so per-gram logp rounds at the
    // 10th decimal place — the bound reflects that, not IEEE noise
    assert(math.abs(open(101L)._3 - (0.0 - math.log(1.0 / (nb + 1)))) < 1e-9,
      s"all-OOV doc must sit exactly on the unk floor, got ${open(101L)._3}")
    // the broadcast chain and the compacted-shuffle path agree exactly
    val viaShuffle = Corpus.knNgramScoreOpenVocab(corpus,
        col("source") === "ref", broadcastTypesMax = 0).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    assert(open == viaShuffle,
      "compacted completeness serve diverged from the broadcast join chain")
  }

  test("c34: mixing manifest partitions the bucketed docs; shares normalize per lang") {
    import org.apache.spark.sql.functions._
    val cells = Corpus.knMixingManifest(docs).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    // doc accounting: every c33-bucketed doc lands in exactly one cell
    val bucketed = Corpus.knPerplexityBuckets(docs).count()
    assert(cells.map(_._3).sum == bucketed)
    // token shares form a distribution per language
    cells.groupBy(_._1).foreach { case (lang, rows) =>
      assert(math.abs(rows.map(_._5).sum - 1.0) < 1e-12, lang)
      assert(rows.map(_._2).toSet == Set("head", "middle", "tail"), lang)
    }
  }

  test("c28: fertility ordering matches the planted language morphology") {
    import org.apache.spark.sql.functions._
    val out = Corpus.tokenizerFertility(docs, Corpus.FixedMerges)
      .collect()
      .map(r => r.getString(0) -> (r.getDouble(3), r.getDouble(4))).toMap
    def tpw(l: String) = out(l)._1
    def cpt(l: String) = out(l)._2
    // tokens_per_word rises with the suffix's POST-MERGE symbol count:
    // en (+0) < zh "i" / es "an"→1 / fr "re"→1 (+1 each) < de "ung" (+3)
    for (l <- Seq("zh", "es", "fr")) {
      assert(tpw("en") < tpw(l), s"en=${tpw("en")} $l=${tpw(l)}")
      assert(tpw(l) < tpw("de"), s"$l=${tpw(l)} de=${tpw("de")}")
    }
    // de's 1-char-per-symbol suffix dilutes chars_per_token below every
    // other language...
    for (l <- Seq("en", "zh", "es", "fr"))
      assert(cpt("de") < cpt(l), s"de=${cpt("de")} $l=${cpt(l)}")
    // ...while the MERGED 2-char suffixes (fr "re", es "an" — morphology
    // the tokenizer learned) push chars_per_token ABOVE bare en
    for (l <- Seq("es", "fr"))
      assert(cpt(l) > cpt("en"), s"$l=${cpt(l)} en=${cpt("en")}")
  }

  test("c29: temperature flattening — minority langs upsample, majority downsamples") {
    import spark.implicits._
    // planted 100:10:1 token skew across three languages
    val skewed = (
      (0L until 100L).map(i => (i, Seq.fill(10)("tok").mkString(" "), "big")) ++
      (100L until 110L).map(i => (i, Seq.fill(10)("tok").mkString(" "), "mid")) ++
      Seq((110L, Seq.fill(10)("tok").mkString(" "), "rare"))
    ).toDF("doc_id", "text", "lang")
    val out = Corpus.temperatureMix(skewed).collect()
      .map(r => r.getString(0) ->
        (r.getDouble(3), r.getDouble(4), r.getDouble(5),
         r.getDouble(6), r.getDouble(7))).toMap
    val (pBig, qBigH, wBigH, qBigQ, wBigQ) = out("big")
    val (pRare, qRareH, wRareH, qRareQ, wRareQ) = out("rare")
    // sampling distributions normalize exactly (decimal-exact Σ)
    val sumQH = out.values.map(_._2).sum
    val sumQQ = out.values.map(_._4).sum
    // 1e-9: the normalizer is the decimal-scale-10 exact sum, so Σq
    // reconstructs 1 up to the per-term quantization, not the ulp
    assert(math.abs(sumQH - 1.0) < 1e-9 && math.abs(sumQQ - 1.0) < 1e-9)
    // the flattening law: the majority language downsamples (w<1), the
    // minority upsamples (w>1), at both temperatures
    assert(wBigH < 1.0 && wBigQ < 1.0, s"big w: $wBigH $wBigQ")
    assert(wRareH > 1.0 && wRareQ > 1.0, s"rare w: $wRareH $wRareQ")
    // α=1/4 is FLATTER than α=1/2: rarer lang gets a bigger boost, the
    // majority a bigger cut
    assert(wRareQ > wRareH, s"rare: quarter=$wRareQ half=$wRareH")
    assert(wBigQ < wBigH, s"big: quarter=$wBigQ half=$wBigH")
    // q preserves the raw ORDER (flattens, never inverts)
    assert(qBigH > qRareH && qBigQ > qRareQ)
    // closed form at α=1/2: q = sqrt(p)/Σsqrt(p) — spot-check one value
    // (1e-9: the engine's normalizer quantizes each term at decimal
    // scale 10, the double reference here does not)
    val ps = out.values.map(_._1)
    val norm = ps.map(math.sqrt).sum
    assert(math.abs(qRareH - math.sqrt(pRare) / norm) < 1e-9)
    assert(math.abs(pBig - 100.0 / 111.0) < 1e-12)
  }

  test("c30: OOV rates obey the nested-bucket monotone law; en fully covered") {
    val sf = SharedSpark.sf
    val out = Registry.byName("c30_vocab_coverage").run(spark, sf).collect()
      .map(r => r.getString(0) ->
        (r.getLong(3), r.getLong(4), r.getDouble(5), r.getDouble(6))).toMap
    // en's threshold is 0 ⇒ nothing suffixed ⇒ exact zero OOV — the
    // trained-on language serves itself perfectly
    assert(out("en") == ((0L, 0L, 0.0, 0.0)), out("en"))
    // hash buckets are NESTED (k grows ⇒ suffixed-type superset), so both
    // the type and token OOV rates must rise strictly along
    // en < zh < es < fr < de — a law of the construction, not a tuning
    val order = Seq("en", "zh", "es", "fr", "de")
    order.sliding(2).foreach { case Seq(a, b) =>
      assert(out(a)._2 < out(b)._2, s"oov_types: $a !< $b")
      assert(out(a)._3 < out(b)._3, s"oov_token_rate: $a !< $b")
    }
    // membership was COMPUTED, not assumed: every suffixed form the plant
    // produces must actually be absent from the bare vocab, i.e. the
    // honest join agrees with the plant's own accounting of what it
    // suffixed (recomputed here occurrence-exactly)
    import graft.functions.ghash
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val thr = when(col("lang") === "de", 8L).when(col("lang") === "fr", 6L)
      .when(col("lang") === "es", 4L).when(col("lang") === "zh", 2L)
      .otherwise(0L)
    val planted = docs
      .select(col("lang"), explode(split(col("text"), " ")).as("w0"))
      .filter(length(col("w0")) > 0)
      .filter(pmod(ghash.fnv1a64(concat(lit("c30|"), col("w0"))),
        lit(10L)) < thr)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    order.tail.foreach { l =>
      assert(out(l)._1 == planted(l),
        s"$l: join says ${out(l)._1} OOV tokens, plant produced ${planted(l)}")
    }
  }

  test("c31: growth curve is cumulative-monotone and terminal row is the whole corpus") {
    val rows = Registry.byName("c31_vocab_growth").run(spark, sf).collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(10L, 25L, 50L, 100L))
    // cumulative columns strictly grow in docs/tokens, weakly in types
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a.getLong(1) < b.getLong(1) && a.getLong(2) < b.getLong(2))
      assert(a.getLong(3) <= b.getLong(3))
      // Heaps: the type/token ratio FALLS as the corpus grows (types
      // saturate, tokens don't) — the law the curve exists to show
      assert(a.getDouble(4) > b.getDouble(4),
        s"ttr must fall: ${a.getDouble(4)} !> ${b.getDouble(4)}")
    }
    // terminal row = whole corpus, recomputed directly
    val last = rows.last
    val truth = docs
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .agg(countDistinct(col("w"))).head().getLong(0)
    assert(last.getLong(3) == truth)
    assert(last.getLong(1) == docs.count())
  }
}
