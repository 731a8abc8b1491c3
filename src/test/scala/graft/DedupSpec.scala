package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.Dedup

class DedupSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  val sf = SharedSpark.sf

  /** Ground truth: every doc_id % 10 == 0 has an exact copy (+2M) and a
    * near copy (+1M, last 2 tokens dropped).
    */
  lazy val plantedIds: Set[Long] = {
    import org.apache.spark.sql.functions._
    graft.engine.Tables(spark, sf, "documents")
      .filter(col("doc_id") % 10 === 0).select("doc_id")
      .collect().map(_.getLong(0)).toSet
  }

  test("d01 exact dedup finds exactly the planted exact-dup groups") {
    val got = Registry.byName("d01_dedup_exact").run(spark, sf).collect()
    val keepers = got.map(r => r.getLong(r.fieldIndex("keeper"))).toSet
    assert(keepers == plantedIds)
    // groups are ≥2; a natural near-dup in the corpus (a doc that equals
    // another doc minus its last 2 tokens) makes one group of 3.
    assert(got.forall(_.getLong(2) >= 2))
  }

  test("d03 minhash LSH recovers planted near-dup pairs with high recall") {
    val got = Registry.byName("d03_minhash_lsh_pairs").run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // near-dup pair (id, id+1M); docs with very few tokens legitimately drop
    // below the jaccard threshold, so require recall, not exactness.
    val expected = plantedIds.map(id => (id, id + 1000000L))
    val recall = expected.count(got.contains).toDouble / expected.size
    assert(recall >= 0.8, s"minhash near-dup recall $recall")
    // exact pairs (id, id+2M) are jaccard 1.0 — must all be present
    val exactPairs = plantedIds.map(id => (id, id + 2000000L))
    assert(exactPairs.forall(got.contains), "exact-dup pairs missed by LSH")
  }

  test("d04 simhash recovers planted near-dup pairs") {
    val got = Registry.byName("d04_simhash_pairs").run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = plantedIds.map(id => (id, id + 1000000L))
    val recall = expected.count(got.contains).toDouble / expected.size
    assert(recall >= 0.8, s"simhash near-dup recall $recall")
  }

  test("hot-bucket guard bounds a planted mega-bucket without losing normal pairs") {
    import spark.implicits._
    // 300 identical boilerplate docs — the degenerate real-corpus case. They
    // share EVERY (band, bucket), so without the guard the bucket self-join
    // would generate 300·299/2 ≈ 45k candidate pairs from this group alone.
    val spamText = Seq.fill(60)("spam").mkString(" ")
    val spam = (0 until 300).map(i => (9000000L + i, spamText, "en"))
      .toDF("doc_id", "text", "lang")
    val corpus = Dedup.plantedCorpus(spark, sf).unionByName(spam)
    val got = Dedup.lshJaccardPairs(corpus, k = 32, bands = 8, cap = 100,
      threshold = 0.3).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // guard drops the mega-buckets entirely: zero pairs inside the spam group
    assert(!got.exists(p => p._1 >= 9000000L && p._2 >= 9000000L),
      "mega-bucket pairs leaked past the hot-bucket guard")
    // ...while ordinary planted near-dups are untouched
    val near = plantedIds.map(id => (id, id + 1000000L))
    val recall = near.count(got.contains).toDouble / near.size
    assert(recall >= 0.8, s"near-dup recall with guard active: $recall")
  }

  test("d07 LSH-candidate exact jaccard covers d05's planted pairs (no lang cartesian)") {
    val d07 = Registry.byName("d07_ngram_jaccard_scale").run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val d05 = Registry.byName("d05_ngram_jaccard").run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // the production path must reproduce the oracle baseline on the planted
    // ground truth: exact (+2M, jaccard 1.0) pairs always; near (+1M) pairs
    // at ≥95% of what the exhaustive blocked join found
    val exactPlanted = d05.filter(p => p._2 == p._1 + 2000000L)
    assert(exactPlanted.subsetOf(d07), "exact-dup pairs missing from d07")
    val nearPlanted = d05.filter(p => p._2 == p._1 + 1000000L)
    val recall = nearPlanted.count(d07.contains).toDouble / nearPlanted.size
    assert(recall >= 0.95, s"d07 recall vs d05 planted near pairs: $recall")
  }

  test("connectedComponents closes chains transitively and labels by min id") {
    import spark.implicits._
    // path 1-2-3-4 (no direct 1-4 edge), triangle 10-11-12, isolated edge 20-21
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (10L, 12L), (20L, 21L)).toDF("a_id", "b_id")
    // BOTH paths — the size-gated driver union-find (default) and the
    // distributed star contraction (localThreshold = 0) — must agree
    Seq(1L << 20, 0L).foreach { thresh =>
      val labels = graft.queries.Dedup
        .connectedComponents(pairs, localThreshold = thresh)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(Seq(1L, 2L, 3L, 4L).forall(labels(_) == 1L), s"path: $labels")
      assert(Seq(10L, 11L, 12L).forall(labels(_) == 10L), s"triangle: $labels")
      assert(labels(20L) == 20L && labels(21L) == 20L)
      assert(labels.size == 9) // only vertices that appear in an edge
    }
  }

  test("connectedComponents throws past the round cap instead of lying") {
    import spark.implicits._
    // star contraction closes a chain in O(log n) rounds, so the cap test
    // needs a chain long enough that ONE round provably cannot finish it
    // (one large-star + small-star round cannot collapse a 256-diameter
    // path). The contract is a LOUD failure — an unconverged label set is
    // silently-wrong clustering.
    val chain = (0L until 256L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    // localThreshold = 0 forces the distributed star path — the round cap
    // and the O(log n) claim are ITS contract (the driver fast path has
    // no rounds to cap)
    val ex = intercept[IllegalStateException] {
      graft.queries.Dedup.connectedComponents(chain, maxRounds = 1,
        localThreshold = 0)
    }
    assert(ex.getMessage.contains("did not converge"))
    // the same chain converges with an adequate cap and labels to vertex 0,
    // in far fewer rounds than its diameter (the O(log n) claim, measured)
    val (labelsDf, rounds) = graft.queries.Dedup
      .connectedComponentsWithRounds(chain, maxRounds = 20, localThreshold = 0)
    val labels = labelsDf.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size == 257 && labels.values.forall(_ == 0L))
    assert(rounds <= 15, s"star contraction took $rounds rounds on a " +
      "257-vertex chain — O(log n) regressed to O(diameter)")
  }

  test("d08 clusters are a partition and keep every planted triple together") {
    // clusters may legitimately merge planted groups through natural
    // near-dups (the tiny-SF corpus has cross-doc Jaccard >= 0.3 pairs);
    // the invariants are: members partition the clustered docs, each
    // component is keyed by its min member, every cluster has >= 2 docs,
    // and the planted triple {d, d+1M, d+2M} always lands in ONE cluster.
    val rows = Registry.byName("d08_dup_clusters").run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2).split(",").map(_.toLong).toSeq))
    val allMembers = rows.flatMap(_._3)
    assert(allMembers.distinct.length == allMembers.length, "clusters overlap")
    rows.foreach { case (comp, n, members) =>
      assert(n == members.size && n >= 2, s"cluster $comp size mismatch")
      assert(comp == members.min, s"cluster $comp not keyed by min member")
    }
    val compOf = rows.flatMap { case (comp, _, ms) => ms.map(_ -> comp) }.toMap
    for (id <- plantedIds) {
      val c = compOf.getOrElse(id, fail(s"planted id $id not clustered"))
      assert(compOf.get(id + 1000000L).contains(c) &&
        compOf.get(id + 2000000L).contains(c),
        s"planted triple of $id split across clusters")
    }
  }

  test("d10 incremental LSH equals batch d03 restricted to new-touching pairs") {
    // d10's existing∪incoming union IS d03's planted corpus, so the
    // incremental contract is exactly checkable: same pairs as the batch
    // run wherever an incoming id is involved, and NEVER an
    // existing×existing pair (that work is what incremental dedup skips).
    val d03 = Registry.byName("d03_minhash_lsh_pairs").run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val d10 = Registry.byName("d10_dedup_incremental_lsh").run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(d10.forall(p => p._1 >= 1000000L || p._2 >= 1000000L),
      "existing×existing pair leaked into the incremental output")
    val expected = d03.filter(p => p._1 >= 1000000L || p._2 >= 1000000L)
    assert(d10 == expected,
      s"incremental != batch-restricted: only-in-d10=${d10 -- expected} " +
        s"only-in-batch=${expected -- d10}")
    assert(d10.nonEmpty)
  }

  test("d20 decontamination recalls every planted benchmark paraphrase") {
    val out = Registry.byName("d20_crosscorpus_neardup").run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // every benchmark doc is a near-paraphrase of its own source doc, so
    // (X, X) must be reported for every X ≡ 0 (mod 23) with enough tokens
    // for the 2-token drop to stay above threshold (any doc here)
    import org.apache.spark.sql.functions.col
    val benchIds = graft.engine.Tables(spark, sf, "documents")
      .filter(col("doc_id") % 23 === 0).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val selfPairs = out.filter(p => p._1 == p._2).map(_._1).toSet
    assert(benchIds.subsetOf(selfPairs),
      s"missed sources: ${benchIds -- selfPairs}")
    // every reported pair is cross-corpus by construction and high-overlap
    out.foreach { case (train, bench, jac) =>
      assert(benchIds.contains(bench), s"bench_src $bench not planted")
      assert(jac >= 0.3, s"($train,$bench) below threshold")
    }
  }

  test("d11 survivors: planted copies dropped, their base docs kept") {
    import org.apache.spark.sql.functions.col
    val corpus = graft.queries.Dedup.plantedCorpus(spark, sf)
    val pairs = graft.queries.Dedup.lshJaccardPairs(corpus, k = 32, bands = 8,
      cap = 100, threshold = 0.3).select("a_id", "b_id")
    val losers = graft.queries.Dedup.connectedComponents(pairs)
      .filter(col("id") =!= col("label")).select(col("id").as("drop_id"))
    val kept = corpus.join(losers, col("doc_id") === col("drop_id"), "left_anti")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // A planted copy (+1M near, +2M exact) can NEVER be canonical: its base
    // doc shares its cluster and every base id is < 1M, so the cluster min
    // is always a base doc. (A base doc CAN legitimately be dropped — doc
    // 360 pairs organically with a smaller base doc at this SF and loses
    // min-label to it — so "every base doc kept" would over-assert.)
    plantedIds.foreach { id =>
      assert(!kept.contains(id + 1000000L), s"near copy of $id survived")
      assert(!kept.contains(id + 2000000L), s"exact copy of $id survived")
    }
    // both copies of every planted base are dropped, so at least 2·planted
    // rows are gone, and the survivor set is all base-id docs
    assert(kept.forall(_ < 1000000L))
    assert(losers.count() >= 2L * plantedIds.size)
    // conservation: kept + dropped partition the corpus
    assert(kept.size + losers.count() == corpus.count())
  }

  test("d21 quality survivors: longest member wins, planted copies never do") {
    import org.apache.spark.sql.functions._
    val corpus = graft.queries.Dedup.plantedCorpus(spark, sf)
    val pairs = graft.queries.Dedup.lshJaccardPairs(corpus, k = 32, bands = 8,
      cap = 100, threshold = 0.3).select("a_id", "b_id")
    val labels = graft.queries.Dedup.connectedComponents(pairs)
    val lab = corpus
      .select(col("doc_id"), length(col("text")).cast("long").as("len"))
      .join(labels, col("doc_id") === col("id"), "left_outer")
      .select(col("doc_id"), col("len"),
        coalesce(col("label"), col("doc_id")).as("comp"))
    val kept = lab.groupBy("comp")
      .agg(max(struct(col("len"), (-col("doc_id")).as("nid"))).as("m"))
      .select((-col("m.nid")).as("keep_id"))
      .collect().map(_.getLong(0)).toSet
    // A planted +1M near copy is 2 tokens SHORTER than its base and a
    // planted +2M exact copy ties its base's length with a larger id —
    // under (len DESC, id ASC) neither can ever be its cluster's keeper,
    // whatever organic members the cluster absorbed (every organic id is
    // also < 1M). Stronger than d11's min-label argument: it holds even
    // for the base docs that lose min-label organically.
    assert(kept.forall(_ < 1000000L), s"planted id kept: ${kept.filter(_ >= 1000000L).take(5)}")
    // one keeper per cluster + every singleton: same cardinality as d11's
    // survivor set (keeper RULE changes membership, never the count)
    val minLabelKept = corpus.count() -
      labels.filter(col("id") =!= col("label")).count()
    assert(kept.size == minLabelKept)
  }

  test("d05 exact jaccard join recovers planted pairs (same-lang blocks)") {
    val exact = Registry.byName("d05_ngram_jaccard").run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // planted pairs are same-lang and within the length window by
    // construction, so the blocked exact join must find them
    val near = plantedIds.map(id => (id, id + 1000000L))
    val ex = plantedIds.map(id => (id, id + 2000000L))
    val recallNear = near.count(exact.contains).toDouble / near.size
    assert(recallNear >= 0.8, s"exact-join near-dup recall $recallNear")
    assert(ex.forall(exact.contains), "exact-dup pairs missing from jaccard join")
  }

  test("d13 canonicalization collapses all four planted URL variants") {
    val rows = Registry.byName("d13_url_dedup").run(spark, sf).collect()
    // canonical space is lcm(50,20)=100 URLs; every canonical URL is the
    // clean form (no scheme/case/port/query/fragment/slash residue)
    assert(rows.length == 100)
    rows.foreach { r =>
      val url = r.getString(0)
      assert(url.matches("https://site\\d+\\.example/page\\d+"), url)
    }
    // fetch counts partition the corpus
    assert(rows.map(_.getLong(2)).sum ==
      graft.engine.Tables(spark, sf, "documents").count())
  }

  test("d12 line dedup strips the planted banner everywhere but its first occurrence") {
    val rows = Registry.byName("d12_line_dedup").run(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // banner variant is doc_id % 3 on docs with doc_id % 7 == 0, so the
    // first occurrence (min doc_id*2^20+pos ⇒ min doc_id; the banner is
    // always pos 0) of the three banners is docs 0, 7, 14.
    val survivors = Set(0L, 7L, 14L)
    val planted = rows.keySet.filter(id => id % 7 == 0)
    assert(survivors.subsetOf(planted))
    survivors.foreach { id =>
      val (n, kept) = rows(id)
      assert(kept == n, s"survivor $id lost a line ($kept/$n)")
    }
    (planted -- survivors).foreach { id =>
      val (n, kept) = rows(id)
      assert(kept < n, s"planted doc $id kept its duplicate banner")
    }
    // the banner is the only planted repeat: non-survivors lose exactly one
    // line unless the doc also collides naturally (near-dup docs share
    // their leading 12-word window) — require that for ≥90% it is exactly 1
    val exact1 = (planted -- survivors).count(id => {
      val (n, kept) = rows(id); n - kept == 1
    })
    assert(exact1.toDouble / (planted.size - survivors.size) >= 0.9)
  }

  test("d15 substring spans: every planted doc's span covers the 20-word notice") {
    import org.apache.spark.sql.functions._
    val rows = Registry.byName("d15_substr_span_dedup").run(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // every doc_id % 5 == 0 doc carries the notice, whose pos 0..4 grams
    // collide corpus-wide → ALL of them must report, with dup_tokens
    // covering at least the 20-word notice (natural straddle collisions
    // can only extend the span, never shrink it)
    val plantedAll = graft.engine.Tables(spark, sf, "documents")
      .filter(col("doc_id") % 5 === 0).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(plantedAll.subsetOf(rows.keySet),
      s"planted docs missing: ${(plantedAll -- rows.keySet).take(5)}")
    plantedAll.foreach { id =>
      val (n, toks) = rows(id)
      assert(n >= 1L && toks >= 20L,
        s"doc $id: notice not fully covered ($n spans / $toks tokens)")
    }
    // under the tiny synthetic vocabulary, straddle grams (notice suffix +
    // leading doc words) collide between planted docs sharing a first
    // word, so most planted spans extend PAST the notice — a fixture
    // property the d15 doc-comment relies on; pin it so a corpus
    // regeneration that breaks it is caught here, not in the oracle
    val extended = plantedAll.count(id => rows(id)._2 > 20L)
    assert(extended.toDouble / plantedAll.size >= 0.5,
      s"only $extended/${plantedAll.size} planted spans extend past the notice")
  }

  test("d16 bloom-guarded incremental equals the plain anti join, with no false negatives") {
    import org.apache.spark.sql.functions._
    val corpus = Dedup.plantedCorpus(spark, sf)
    val historical = corpus.filter(col("doc_id") < 400)
      .select(md5(col("text")).as("digest")).distinct()
    val newBatch = corpus.filter(col("doc_id") >= 400)
      .withColumn("digest", md5(col("text")))
    // bloom path vs the reference plain anti join: identical ROW SETS
    // (not just counts) — bloom parameters must not leak into the result
    val bloomIds = Dedup.bloomGuardedNewRows(newBatch, historical, "digest")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val plainIds = newBatch.join(historical, Seq("digest"), "left_anti")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(bloomIds == plainIds,
      s"bloom path diverges: only-bloom=${(bloomIds -- plainIds).take(5)} " +
        s"only-plain=${(plainIds -- bloomIds).take(5)}")
    // no false negatives: probing the bloom with every HISTORICAL digest
    // must hit — a miss would silently re-admit a known duplicate
    val selfHits = Dedup.bloomGuardedNewRows(
      historical.withColumn("doc_id", lit(0L)), historical, "digest")
    assert(selfHits.count() == 0L, "historical digest escaped its own bloom")
    // the guard must actually prune: at this corpus the batch is mostly
    // unseen text, so most rows should bypass the join as definite-new
    val batchN = newBatch.count().toDouble
    val dupN = batchN - plainIds.size
    assert(dupN > 0, "fixture lost its planted duplicates")
  }

  test("d17 soft-dedup: planted triples weigh 1/3 each; every cluster's mass is 1") {
    val rows = Registry.byName("d17_softdedup_weights").run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val byId = rows.map(r => r._1 -> r).toMap
    // every planted base doc sits in the {d, d+1M, d+2M} family cluster
    plantedIds.foreach { id =>
      val (_, sz, w) = byId.getOrElse(id, fail(s"planted doc $id unclustered"))
      assert(sz >= 3L, s"doc $id cluster size $sz < family size")
      assert(w == 1.0 / sz)
    }
    // mass conservation: each cluster contributes exactly 1 doc of mass
    // (cluster_size rows × 1/cluster_size each); weights are per-row
    // divisions so the sum is exact in double for these small sizes
    rows.groupBy(_._2).foreach { case (sz, rs) =>
      assert(rs.length % sz == 0,
        s"cluster size $sz rows ${rs.length} not a whole number of clusters")
    }
    assert(rows.forall(r => r._3 == 1.0 / r._2))
  }

  test("d18 strip: notice always cut, stripped mass equals d15's span report, pass-through verbatim") {
    import org.apache.spark.sql.functions._
    val rows = Registry.byName("d18_substr_strip").run(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    val docs = graft.engine.Tables(spark, sf, "documents")
      .select(col("doc_id"), md5(col("text")).as("m"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.size == docs.size, "every doc must appear in the strip report")
    // planted docs always lose at least their 20-word notice
    docs.keys.filter(_ % 5 == 0).foreach { id =>
      val (before, after, _) = rows(id)
      assert(after <= before - 20, s"doc $id kept its notice ($before -> $after)")
    }
    // find/apply cross-gate: the strip removes EXACTLY the duplicated-token
    // mass d15 reports per doc (docs absent from d15 have zero spans)
    val reported = Registry.byName("d15_substr_span_dedup").run(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    rows.foreach { case (id, (before, after, _)) =>
      val expect = reported.getOrElse(id, 0L)
      assert(before - after == expect,
        s"doc $id stripped ${before - after} tokens but d15 reports $expect")
    }
    // docs with no duplicated span pass through verbatim — md5 matches the
    // original text (true for the majority of non-planted docs)
    val untouched = docs.collect {
      case (id, m) if id % 5 != 0 && rows(id)._1 == rows(id)._2 =>
        rows(id)._3 == m
    }
    assert(untouched.nonEmpty && untouched.forall(identity),
      "a verbatim pass-through doc re-hashed differently")
    assert(untouched.size > docs.size / 2, "fixture: most docs should be untouched")
  }

  test("c21 splits: no near-dup pair ever straddles a split; sizes near 8/1/1") {
    import org.apache.spark.sql.functions._
    val corpus = queries.Dedup.plantedCorpus(spark, sf)
    val pairs = queries.Dedup.lshJaccardPairs(corpus, k = 32, bands = 8,
      cap = 100, threshold = 0.3).select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "fixture must contain near-dup pairs")
    // reconstruct the per-doc assignment the c21 contract aggregates
    val labels = queries.Dedup.connectedComponents(
        queries.Dedup.lshJaccardPairs(corpus, 32, 8, 100, 0.3)
          .select("a_id", "b_id"))
      .withColumnRenamed("id", "doc_id")
    val assigned = corpus.select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("label"), col("doc_id")).as("component"))
      .withColumn("b", pmod(shiftrightunsigned(
        graft.functions.ghash.fnv1a64(concat(lit("split|"),
          col("component").cast("string"))), 8), lit(10)))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    pairs.foreach { case (a, b) =>
      assert(assigned(a) == assigned(b),
        s"near-dup pair ($a,$b) split across buckets " +
          s"${assigned(a)}/${assigned(b)} — leakage")
    }
    val n = assigned.size.toDouble
    val train = assigned.values.count(_ < 8) / n
    assert(train > 0.6 && train < 0.95,
      s"train share $train implausibly far from 0.8")
  }

  test("d05: bucketed (lang, len-div-64 ±1) join pair-set-equals the lang-only join") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // fixture with deliberate CROSS-BUCKET qualifying pairs: lengths
    // straddle the 64-char boundaries with |Δch| ≤ 60 (62/66 → buckets
    // 0/1, 120/180 → 1/2 at exactly Δ=60) plus a just-outside pair
    // (Δ=61) and a different-lang decoy. Shared word runs give high
    // Jaccard so pairs survive the 0.3 verify.
    def textOfLen(n: Int, tag: String): String = {
      val base = s"alpha beta gamma delta $tag"
      var t = base
      while (t.length < n) t = t + " " + base
      t.substring(0, n).trim
    }
    val rows = Seq(
      (1L, "en", textOfLen(62, "x")), (2L, "en", textOfLen(66, "x")),
      (3L, "en", textOfLen(120, "y")), (4L, "en", textOfLen(180, "y")),
      (5L, "en", textOfLen(250, "z")), (6L, "en", textOfLen(312, "z")),
      (7L, "de", textOfLen(66, "x")))
    val fixture = rows.toDF("doc_id", "lang", "text")
    def pairs(bucketed: Boolean, df: org.apache.spark.sql.DataFrame) =
      Dedup.ngramJaccardPairs(df, bucketed = bucketed).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val bucketedPairs = pairs(bucketed = true, fixture)
    assert(pairs(bucketed = false, fixture) == bucketedPairs)
    // the fixture must actually exercise cross-bucket pairs, or the test
    // proves nothing about the ±1 probe
    val lens = rows.map(r => r._1 -> r._3.length).toMap
    assert(bucketedPairs.exists { case (a, b, _) =>
      lens(a) / 64 != lens(b) / 64
    }, s"no cross-bucket pair in $bucketedPairs")
    // and on the real planted corpus (sf0.001): full output identity
    val corpus = Dedup.plantedCorpus(spark, sf)
    assert(pairs(bucketed = false, corpus) == pairs(bucketed = true, corpus))
  }

  test("d22: normalization folds the noisy banner to 3 survivors; raw keys would not") {
    import org.apache.spark.sql.functions._
    val docs = graft.engine.Tables(spark, sf, "documents")
    val planted = docs.filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"),
        graft.queries.ParaDedup.banner(col("doc_id")).as("banner"))
    val raw = planted.select(countDistinct(col("banner"))).head().getLong(0)
    val normed = planted
      .select(countDistinct(graft.queries.ParaDedup.norm(col("banner"))))
      .head().getLong(0)
    // the planting varies digits (doc_id % 97) and case (parity), so raw
    // keys see many strings; the CCNet normalizer folds them to exactly
    // the 3 templates — the separation that makes d22 ≠ d12
    assert(normed == 3, s"normalized banner keys: $normed")
    assert(raw > 20, s"raw banner variants: $raw — planting too uniform")
    // end-to-end: across planted docs, banner paragraphs (pos 0) keep
    // exactly one survivor per normalized template
    val verdicts = Dedup.paragraphKeep(
      planted.select(col("doc_id"), array(col("banner")).as("paras")))
    val kept = verdicts.filter(col("keep")).count()
    assert(kept == 3, s"banner survivors: $kept")
  }

  test("d23 catches an embedding-near paraphrase that lexical d20 provably misses") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // the same statement twice with ZERO shared vocabulary — no common
    // word 3-gram exists, so MinHash-on-shingles CANNOT pair them...
    val train = Seq((1L,
      "the quick brown fox jumps over the lazy dog near the quiet river"))
      .toDF("doc_id", "text")
    val bench = Seq((5000001L,
      "a fast auburn vulpine leaps above an idle canine beside a calm stream"))
      .toDF("doc_id", "text")
    val lexical = Dedup.incrementalLshPairs(train, bench)
    assert(lexical.count() == 0, "lexical decontamination must miss a paraphrase")
    // ...while their embeddings barely move: d23's semantic pass pairs them
    val e1 = Array.tabulate(64)(i => math.sin(i * 0.7 + 1.0).toFloat)
    val para = e1.map(v => (v * 0.99f) + 0.005f) // paraphrase-sized drift
    val decoys = Seq(10L, 11L, 12L).map(id =>
      (id, Array.tabulate(64)(i => math.cos(i * 1.3 + id).toFloat), false))
    val corpus = (Seq((1L, e1, false), (5000001L, para, true)) ++ decoys)
      .toDF("vec_id", "embedding", "is_new")
    val got = graft.queries.Similarity.crossCorpusEmbeddingNearDup(
      corpus, nTables = 4, nBits = 10, cap = 100, threshold = 0.98)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((1L, 5000001L)),
      s"semantic pass must pair exactly the paraphrase: ${got.toSeq}")
  }
}
