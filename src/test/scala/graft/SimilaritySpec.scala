package graft

import org.scalatest.funsuite.AnyFunSuite

class SimilaritySpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  val sf = SharedSpark.sf

  test("s02 LSH ANN beats random scanning: recall >= 1.5x the scan fraction") {
    // This corpus is near-orthogonal (5th-neighbor cos ≈ 0.35), so ANY
    // method's absolute recall tracks the fraction of the corpus it scans —
    // a degenerate "LSH" that dumps half the corpus in one bucket scores
    // recall ≈ 0.5 while doing no locality-sensitive work at all (that bug
    // shipped in rounds 1-3: a linear parity mix made all hyperplanes of a
    // table identical up to sign). The honest metric is LIFT: recall per
    // corpus fraction scanned must beat random sampling clearly.
    import org.apache.spark.sql.functions._
    val exact = Registry.byName("s01_ann_brute").run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Registry.byName("s02_ann_lsh").run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.count(approx.contains).toDouble / exact.size
    val n = graft.engine.Tables(spark, sf, "embeddings").count()
    val e = graft.engine.Tables(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    // candidate volume of the same pipeline = what the rerank actually scans
    val nCand = queries.Similarity
      .lshAnn(e, k = n.toInt)
      .count()
    val scanFrac = nCand.toDouble / (10.0 * (n - 1))
    assert(scanFrac <= 0.35, s"LSH candidate set is not sublinear: $scanFrac")
    // the r1-r3 degenerate hash measured lift 1.12x (0.56 recall at 0.5
    // scan); honest LSH measures 1.9-3.1x across SFs. 1.5x separates them
    // with headroom for small-corpus noise (50 neighbor pairs at sf0.001).
    // The absolute floor is only a degenerate-output guard: with the r6
    // fmix64 weights the buckets are UNIFORM, so the pipeline honestly
    // scans ~5% of the corpus (12 probed buckets / 256 per table) and
    // absolute recall on this no-structure corpus tracks that — the
    // planted-neighbor test below is the absolute-quality gate.
    assert(recall >= 1.5 * scanFrac && recall >= 0.05,
      s"LSH ANN lift too low: recall=$recall scanFrac=$scanFrac")
  }

  test("s10 kNN graph restricted to s02's queries equals s02 exactly") {
    // same index, same cap, same probes — restricting the all-queries
    // graph to vec_id < 10 must reproduce s02 row-for-row (the query
    // restriction commutes with everything in the pipeline). This is an
    // exact equivalence, not a recall floor: any drift in the graph
    // variant's candidate generation or rerank breaks it.
    val s02 = Registry.byName("s02_ann_lsh").run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val g = Registry.byName("s10_knn_graph").run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val gRestr = g.filter(_._1 < 10).toSet
    assert(gRestr == s02,
      s"only-in-graph=${gRestr -- s02} only-in-s02=${s02 -- gRestr}")
    // graph shape: ranks are dense 1..deg(q) for every node
    g.groupBy(_._1).foreach { case (q, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (1 to rows.length),
        s"node $q has non-dense ranks")
    }
  }

  test("s13 scaled kNN graph: width follows the corpus; graph is well-formed") {
    import org.apache.spark.sql.functions.col
    // the sizing rule itself, at the boundaries the oracle must agree on
    import graft.queries.Similarity.scaledBits
    assert(scaledBits(0) == 4 && scaledBits(256) == 4)
    assert(scaledBits(257) == 5, "just past a power boundary must step up")
    assert(scaledBits(500) == 5 && scaledBits(2000) == 7)
    assert(scaledBits(20000) == 11 && scaledBits(Long.MaxValue) == 16)
    assert((1 to 60).forall(i =>
      scaledBits(1L << i) <= scaledBits((1L << i) + 1)), "monotone in n")
    // the query itself: equals knnGraph built at the same width (the rule
    // is applied OUTSIDE the pipeline — nothing else may drift), and ranks
    // are dense per node
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val nb = scaledBits(e.count())
    val direct = graft.queries.Similarity
      .knnGraph(e, nBits = nb, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val s13 = Registry.byName("s13_knn_graph_scaled").run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(s13.toSet == direct)
    s13.groupBy(_._1).foreach { case (q, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (1 to rows.length),
        s"node $q has non-dense ranks")
    }
  }

  test("c24 cluster mixing: sqrt temperature flattens toward the mean") {
    val out = Registry.byName("c24_cluster_mix").run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getLong(4)))
    val total = out.map(_._2).sum
    // shares form a distribution; keeps are honest subsets
    assert(math.abs(out.map(_._3).sum - 1.0) < 1e-9)
    out.foreach { case (cell, n, share, p, kept) =>
      assert(p > 0.0 && p <= 1.0, s"cell $cell")
      assert(kept <= n, s"cell $cell")
      // sqrt flattening: a cluster above the mean size is down-sampled
      // (p < 1), one at or below it is kept whole (p == 1 by the cap,
      // since share·N/n = sqrt(mean'/n)-shaped and crosses 1 there)
      if (p < 1.0) assert(n > total / out.length, s"cell $cell: $n, p=$p")
    }
    assert(out.exists(_._4 < 1.0), "no cluster was down-sampled")
  }

  test("s11 semantic clusters partition the mutual-kNN node set") {
    import org.apache.spark.sql.functions._
    val out = Registry.byName("s11_semantic_clusters").run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    // every cluster has >= 2 members (it exists because of an edge) and a
    // distinct membership digest
    out.foreach { case (c, n, _) => assert(n >= 2, s"cluster $c") }
    assert(out.map(_._3).distinct.length == out.length)
    // total membership equals the node set of the mutual-edge graph,
    // recomputed through the same public API the query uses
    val e = graft.engine.Tables(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val g = queries.Similarity.knnGraph(e, nBits = 8, k = 3)
    val nodes = g.select(
        least(col("q_id"), col("neighbor_id")).as("a"),
        greatest(col("q_id"), col("neighbor_id")).as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("c")).filter(col("c") === 2)
      .select(explode(array(col("a"), col("b"))).as("id"))
      .distinct().count()
    assert(out.map(_._2).sum == nodes,
      s"membership ${out.map(_._2).sum} != mutual-node count $nodes")
  }

  test("s02 LSH ANN finds planted genuinely-near neighbors (cos ~0.95)") {
    // LSH earns its keep on vectors that HAVE near neighbors. Plant a
    // noisy copy (deterministic per-dim perturbation, cos ≈ 0.95+) of every
    // query vector; the planted copy must surface in the query's top-5.
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.DoubleType
    val e = graft.engine.Tables(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val planted = e.filter(col("vec_id") < 10)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        zip_with(col("embedding"), sequence(lit(0), lit(63)),
          (v, i) => (v.cast(DoubleType) * 0.95 +
            when(pmod(i, lit(2)) === 0, 0.05).otherwise(-0.05)).cast("float"))
          .as("embedding"))
    val corpus = e.unionByName(planted)
    val got = queries.Similarity
      .lshAnn(corpus, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = (0L until 10L).map(q => (q, q + 1000000L))
    val recall = want.count(got.contains).toDouble / want.size
    assert(recall >= 0.9, s"planted near-neighbor recall: $recall")
  }

  test("s01 ranks are unique 1..5 per query and cosine is within [-1, 1]") {
    val rows = Registry.byName("s01_ann_brute").run(spark, sf).collect()
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.size == 10)
    byQ.foreach { case (q, rs) =>
      assert(rs.map(_.getInt(2)).sorted.sameElements(1 to 5), s"ranks for q=$q")
      assert(rs.forall(r => math.abs(r.getDouble(3)) <= 1.0 + 1e-12))
    }
  }

  test("s04 IVF ANN reaches usable recall vs s01 exact brute force") {
    val exact = Registry.byName("s01_ann_brute").run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Registry.byName("s04_ann_ivf").run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.count(ivf.contains).toDouble / exact.size
    // measured 0.94 at sf0.001 / 0.98 at sf0.1
    assert(recall >= 0.7, s"IVF ANN recall vs brute force: $recall")
    // every query must still return a full top-5 from its probed cells
    val perQ = ivf.groupBy(_._1).view.mapValues(_.size).toMap
    assert(perQ.size == 10 && perQ.values.forall(_ == 5), perQ.toString)
  }

  test("s04 Lloyd iteration improves the quantizer objective; recall stays usable") {
    import org.apache.spark.sql.functions._
    val e = graft.engine.Tables(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    // quantizer objective = Σ over corpus of max-cos to any centroid (what
    // Lloyd refines). NOTE measured at sf0.001: RECALL at fixed nprobe=4 is
    // NOT monotone in iterations (0.94 → 0.88 over 1 → 3 iters) — tighter
    // cells repartition a query's neighborhood across more cells on a 1k
    // corpus — so the gate is on the objective, recall gated loosely below.
    def objective(iters: Int): Double = {
      val cents = graft.queries.Similarity.ivfCentroids(e, iters = iters)
      e.crossJoin(broadcast(cents))
        .select(array_max(transform(col("cents"),
          c => graft.queries.Similarity.cosine(col("embedding"), c.getField("cvec"))))
          .as("best"))
        .agg(sum(col("best")).as("s")).head().getDouble(0)
    }
    val (o1, o3) = (objective(1), objective(3))
    assert(o3 > o1, s"3-iter objective $o3 did not improve on 1-iter $o1")
    // and the refined index still recalls well vs exact brute force
    val exact = Registry.byName("s01_ann_brute").run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = graft.queries.Similarity
      .ivfAnn(e)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.count(got.contains).toDouble / exact.size
    assert(recall >= 0.7, s"3-iter recall vs brute force: $recall")
  }

  test("s02 bounded index caps a planted mega-bucket; queries stay sublinear") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // 500 identical vectors land in ONE code per table. Uncapped, a query
    // probing that code scans all 500 (per table) — the corpus-scan
    // degradation. With cap=50 the index keeps the 50 smallest spam ids
    // per bucket, so a probing query sees at most 50 of them, and recall
    // on the ORDINARY planted near-copies is untouched (their buckets are
    // far below the cap).
    val e = graft.engine.Tables(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val spamVec = Array.tabulate(64)(i => (math.cos(i + 2) * 0.4).toFloat)
    val spam = (0 until 500).map(i => (9000000L + i, spamVec))
      .toDF("vec_id", "embedding")
    val planted = e.filter(col("vec_id") < 10)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        zip_with(col("embedding"), sequence(lit(0), lit(63)),
          (v, i) => (v.cast("double") * 0.95 +
            when(pmod(i, lit(2)) === 0, 0.05).otherwise(-0.05)).cast("float"))
          .as("embedding"))
    val corpus = e.unionByName(planted).unionByName(spam)
    val n = corpus.count()
    // k = corpus size → the result IS the candidate set (before top-k there
    // are exactly as many rows as distinct candidates)
    val cands = queries.Similarity
      .lshAnn(corpus, k = n.toInt, cap = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // per query: ≤ 50 spam candidates can survive the capped index
    val spamPerQ = cands.filter(_._2 >= 9000000L).groupBy(_._1)
      .view.mapValues(_.size).toMap
    assert(spamPerQ.values.forall(_ <= 50),
      s"mega-bucket leaked past the index cap: $spamPerQ")
    // and the planted genuine near-copies still surface in top-5
    val got5 = queries.Similarity
      .lshAnn(corpus, k = 5, cap = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = (0L until 10L).map(q => (q, q + 1000000L))
    val recall = want.count(got5.contains).toDouble / want.size
    assert(recall >= 0.9, s"planted recall with capped index: $recall")
  }

  test("s03 hot-bucket guard bounds a planted vector mega-bucket") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // 300 identical vectors — the boilerplate-doc case of embedding space.
    // They land in ONE code per table; without the guard the bucket
    // self-join would emit 300·299/2 ≈ 45k candidate pairs (cos = 1.0, so
    // every one survives the verify — pure quadratic output). The guard
    // must drop the mega-bucket whole while ordinary planted near-dup
    // pairs keep pairing through their (cold) buckets.
    val e = graft.engine.Tables(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val spamVec = Array.tabulate(64)(i => (math.sin(i + 1) * 0.5).toFloat)
    val spam = (0 until 300).map(i => (9000000L + i, spamVec))
      .toDF("vec_id", "embedding")
    val perturbed = e.filter(col("vec_id") % 10 === 0)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        transform(col("embedding"),
          v => (v.cast("double") * 0.98 + 0.01).cast("float")).as("embedding"))
    val corpus = e.unionByName(perturbed).unionByName(spam)
    val got = queries.Similarity
      .nearDupPairs(corpus)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!got.exists(p => p._1 >= 9000000L && p._2 >= 9000000L),
      "mega-bucket pairs leaked past the hot-bucket guard")
    val planted = e.select("vec_id").collect().map(_.getLong(0))
      .filter(_ % 10 == 0).map(id => (id, id + 1000000L)).toSet
    val recall = planted.count(got.contains).toDouble / planted.size
    assert(recall >= 0.9, s"planted recall with guard active: $recall")
  }

  test("s03 finds every planted perturbed-copy pair") {
    val got = Registry.byName("s03_embedding_neardup").run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = graft.engine.Tables(spark, sf, "embeddings")
      .select("vec_id").collect().map(_.getLong(0))
      .filter(_ % 10 == 0).map(id => (id, id + 1000000L)).toSet
    // perturbation preserves direction almost exactly (cos ≈ 0.9999); every
    // planted pair must collide in at least one of the 4 LSH tables
    val recall = planted.count(got.contains).toDouble / planted.size
    assert(recall >= 0.9, s"planted embedding near-dup recall: $recall")
  }

  test("s07 MMR: keeps the top hit, ranks by rel within budget, and diversifies vs plain top-k") {
    import org.apache.spark.sql.functions._
    import graft.functions.VectorAlgos
    val out = Registry.byName("s07_mmr_diverse_topk").run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.length == 20)
    assert(out.map(_._1).toSeq == (1L to 20L), "ranks must be 1..20 dense")
    // selection is a subset of the top-100 relevance shortlist, and the
    // FIRST pick is exactly the most relevant candidate
    val e = graft.engine.Tables(spark, sf, "embeddings")
    val byId = e.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val q = byId(0L)
    val rel = byId.keys.filter(_ != 0L).map(id =>
      id -> VectorAlgos.cosineFF(q, byId(id))).toMap
    val top100 = rel.toSeq.sortBy { case (id, r) => (-r, id) }.take(100)
    assert(out.head._2 == top100.head._1, "rank 1 must be the argmax-rel doc")
    assert(out.map(_._2).toSet.subsetOf(top100.map(_._1).toSet))
    // diversity: max pairwise similarity INSIDE the MMR selection must not
    // exceed that of the plain top-20 (MMR can only deselect redundancy)
    def maxPair(ids: Seq[Long]): Double = (for {
      a <- ids; b <- ids if a < b
    } yield VectorAlgos.cosineFF(byId(a), byId(b))).max
    val mmrMax = maxPair(out.map(_._2).toSeq)
    val plainMax = maxPair(top100.take(20).map(_._1))
    assert(mmrMax <= plainMax + 1e-12,
      s"MMR selection is LESS diverse than plain top-20 ($mmrMax > $plainMax)")
  }

  test("s08 PQ-ADC: usable recall lift over its scan fraction, dense ranks") {
    import org.apache.spark.sql.functions._
    val exact = Registry.byName("s01_ann_brute").run(spark, sf).collect()
      .filter(_.getLong(0) < 5).map(r => (r.getLong(0), r.getLong(1))).toSet
    val rows = Registry.byName("s08_pq_adc").run(spark, sf).collect()
    val pq = rows.map(r => (r.getLong(0), r.getLong(2))).toSet
    // full top-5 per query, dense ranks
    val perQ = rows.groupBy(_.getLong(0))
    assert(perQ.size == 5 && perQ.values.forall(_.map(_.getInt(1)).sorted.toSeq == (1 to 5)),
      perQ.view.mapValues(_.length).toMap.toString)
    // honest ANN metric (the s02 lesson): recall LIFT over the fraction of
    // the corpus the exact rerank touches. shortlist=32 of the corpus;
    // measured recall 0.60 at sf0.001 (scan fraction ~0.21 → lift ~2.9)
    // and higher lift as the corpus grows past the fixed shortlist.
    val n = graft.engine.Tables(spark, sf, "embeddings").count().toDouble
    val scanFrac = 32.0 / n
    val recall = exact.count(pq.contains).toDouble / exact.size
    assert(recall >= math.min(0.95, 1.5 * scanFrac),
      s"PQ-ADC recall $recall < 1.5x scan fraction $scanFrac")
    assert(recall >= 0.4, s"PQ-ADC recall collapsed: $recall")
  }

  test("s08 PQ-ADC is invariant under input partitioning") {
    import org.apache.spark.sql.functions._
    val e = graft.engine.Tables(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val a = queries.Similarity.pqAdcAnn(e).collect().toSeq
    val b = queries.Similarity.pqAdcAnn(e.repartition(13)).collect().toSeq
    assert(a == b, "decimal-exact codebooks must make PQ partitioning-invariant")
  }

  test("s12 hybrid RRF equals an independently computed fusion of the two arms") {
    import org.apache.spark.sql.functions._
    val out = Registry.byName("s12_hybrid_rrf").run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(3)))
    assert(out.length == 10)
    // sparse arm: the shared BM25 scorer, ranked here independently
    val sparseTop = queries.Corpus.bm25Scores(
        graft.engine.Tables(spark, sf, "documents"),
        queries.Corpus.BmQueryTerms)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
      .sortBy { case (id, sc) => (-sc, id) }.take(20).map(_._1)
    // dense arm: cosine against doc 0's embedding, recomputed with the
    // same index-order double fold the CosineSim kernel uses
    val vecs = graft.engine.Tables(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toMap
    val q = vecs(0L)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val denseTop = vecs.toSeq.filter(_._1 != 0L)
      .map { case (id, v) => (id, cos(q, v)) }
      .sortBy { case (id, c) => (-c, id) }.take(20).map(_._1)
    val sRank = sparseTop.zipWithIndex.map { case (id, i) => id -> (i + 1) }.toMap
    val dRank = denseTop.zipWithIndex.map { case (id, i) => id -> (i + 1) }.toMap
    val expected = (sRank.keySet ++ dRank.keySet).toSeq
      .map { id =>
        val rrf = sRank.get(id).map(r => 1.0 / (60.0 + r)).getOrElse(0.0) +
          dRank.get(id).map(r => 1.0 / (60.0 + r)).getOrElse(0.0)
        (id, rrf)
      }
      .sortBy { case (id, rrf) => (-rrf, id) }.take(10)
    assert(out.toSeq == expected,
      s"fused ranking diverged:\n got ${out.toSeq}\n exp $expected")
  }

  test("d23 bench-side multi-probe lifts planted recall at production width") {
    import org.apache.spark.sql.functions._
    // the 1M-probe production config (2 tables, 16-bit codes): buckets
    // are near-singletons, so a paraphrase-drifted bench vector finds its
    // source ONLY if all 16 sign bits agree in some table — the regime
    // where primary-only recall visibly drops and the two lowest-margin
    // flips (exactly the bits drift is most likely to have crossed)
    // buy it back, at |bench|-proportional cost only.
    val e = graft.engine.Tables(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val train = e.withColumn("is_new", lit(false))
    val bench = e.filter(col("vec_id") % 10 === 0)
      .select((col("vec_id") + 5000000L).as("vec_id"),
        transform(col("embedding"),
          v => (v.cast("double") * 0.95 + 0.02).cast("float"))
          .as("embedding"),
        lit(true).as("is_new"))
    val corpus = train.unionByName(bench).localCheckpoint(true)
    val planted = bench.count()
    def recall(probes: Int): Long =
      graft.queries.Similarity.crossCorpusEmbeddingNearDup(corpus,
          nTables = 2, nBits = 16, cap = 100, threshold = 0.98,
          benchProbes = probes)
        .filter(col("bench_id") === col("train_id") + 5000000L)
        .count()
    val r0 = recall(0)
    val r2 = recall(2)
    val r4 = recall(4)
    info(s"planted=$planted primary-only=$r0 probed2=$r2 probed4=$r4")
    assert(r2 > r0, s"multi-probe must lift recall: $r0 -> $r2 of $planted")
    assert(r4 >= r2, s"more probes must not lose pairs: $r2 -> $r4")
    assert(r2 >= (planted * 85) / 100,
      s"probed recall $r2/$planted below 85%")
  }

  test("s14 PCA: eigen laws hold and projections match an independent double reference") {
    import graft.queries.Similarity
    val e = graft.engine.Tables(spark, sf, "embeddings")
    val (mu, evecs, lambdas) = Similarity.pcaFit(e)
    val dim = mu.length
    def dot(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => x * y }.sum
    // unit length + pairwise orthogonality (deflation enforces it to the
    // extent the 24 rounds converged; the decimal-quantized norm leaves
    // a ~1e-7 unit-length residual on late components whose pre-norm
    // magnitudes are small — 1e-5/1e-4 are the honest bounds)
    for (v <- evecs) assert(math.abs(dot(v, v) - 1.0) < 1e-5)
    for (i <- evecs.indices; j <- 0 until i)
      assert(math.abs(dot(evecs(i), evecs(j))) < 1e-4, s"e$i . e$j")
    // descending positive spectrum (covariance is PSD)
    for (i <- 1 until lambdas.length)
      assert(lambdas(i - 1) >= lambdas(i) && lambdas(i) > 0, lambdas.toSeq)
    // independent single-node reference: center with mu, project in plain
    // double — the engine's decimal-quantized path must agree to ~1e-6
    val raw = e.collect().map(r => (r.getLong(0),
      r.getSeq[Float](1).toArray.map(_.toDouble)))
    val proj = Similarity.pcaProject(e).collect()
      .map(r => r.getLong(0) -> (1 to 4).map(r.getDouble).toArray).toMap
    var varSum = 0.0
    for ((id, x) <- raw) {
      val xc = x.zip(mu).map { case (a, m) => a - m }
      for (k <- 0 until 4) {
        val ref = dot(xc, evecs(k))
        assert(math.abs(proj(id)(k) - ref) < 1e-6, s"vec $id comp $k")
      }
      varSum += dot(xc, xc)
    }
    // captured variance: Rayleigh quotients sum to at most total variance,
    // and the top-4 capture a nontrivial share of this 64-dim cloud
    val n = raw.length.toDouble
    val captured = lambdas.sum / (varSum / n)
    assert(captured > 0.05 && captured <= 1.0 + 1e-9, s"captured=$captured")
    // per-component sample variance of the projections equals λ (the
    // Rayleigh quotient of the fitted direction)
    for (k <- 0 until 4) {
      val vs = raw.map { case (id, _) => proj(id)(k) }
      val m = vs.sum / n
      val sv = vs.map(x => (x - m) * (x - m)).sum / n
      assert(math.abs(sv - lambdas(k)) < 1e-6 * math.max(1.0, lambdas(k)),
        s"comp $k: sample var $sv vs lambda ${lambdas(k)}")
    }
  }

  test("s14b: the single-pass fast fit captures the exact fit's variance") {
    import graft.queries.Similarity
    val e = graft.engine.Tables(spark, sf, "embeddings")
    val (_, _, lamX) = Similarity.pcaFit(e)
    val out = Similarity.pcaProjectFast(e).collect()
      .map(r => (1 to 4).map(r.getDouble).toArray)
    assert(out.length == e.count() && out.forall(_.forall(v => !v.isNaN)))
    val n = out.length.toDouble
    // captured variance of the fast basis, measured on the DATA itself
    // (= Rayleigh quotients on the exact sample covariance), must track
    // the exact fit's spectrum — the subspace-quality metric that is
    // robust even when individual eigenvectors rotate freely inside a
    // near-degenerate spectral cluster
    val capturedFast = (0 until 4).map { k =>
      val vs = out.map(_(k))
      val m = vs.sum / n
      vs.map(x => (x - m) * (x - m)).sum / n
    }.sum
    val capturedExact = lamX.sum
    assert(capturedFast >= 0.98 * capturedExact,
      s"fast captured $capturedFast vs exact $capturedExact")
    assert(capturedFast <= capturedExact * 1.02,
      s"fast captured $capturedFast exceeds exact $capturedExact by >2%")
  }

  test("s16 SQ8: codes in range, error bounded by one step per dim, degenerate dim safe") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.DoubleType
    val out = Registry.byName("s16_sq8_quantize").run(spark, sf).collect()
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    assert(out.length == e.count())
    // per-dim global bounds, recomputed here as ground truth
    val dim = 64
    val aggs = (0 until dim).flatMap(i => Seq(
      min(element_at(col("embedding"), i + 1).cast(DoubleType)),
      max(element_at(col("embedding"), i + 1).cast(DoubleType))))
    val st = e.agg(aggs.head, aggs.tail: _*).head()
    val steps = (0 until dim).map { i =>
      (st.getDouble(2 * i + 1) - st.getDouble(2 * i)) / 255.0
    }
    // floor-quantization's worst case is ONE step per dim (not half —
    // there's no rounding), so sse < Σ stepᵢ² is a hard law of the encode
    val sseBound = steps.map(s => s * s).sum
    out.foreach { r =>
      val (cf, cl, sse) = (r.getLong(1), r.getLong(2), r.getDouble(4))
      assert(cf >= 0 && cf <= 255 && cl >= 0 && cl <= 255, r)
      assert(sse >= 0.0 && sse < sseBound, s"sse $sse >= bound $sseBound")
      assert(r.getDouble(5) == sse / dim)
    }
    // a constant dimension (mx == mn) must encode 0 and reconstruct
    // exactly — the guard the synthetic corpus never exercises
    import spark.implicits._
    val degen = Seq(
      (1L, Array(1.0f, 5.0f, 0.25f)),
      (2L, Array(1.0f, -3.0f, 0.25f)),
      (3L, Array(1.0f, 0.0f, 0.25f))).toDF("vec_id", "embedding")
    val dg = graft.queries.Similarity.sq8Quantize(degen, dim = 3).collect()
      .map(r => r.getLong(0) -> r).toMap
    dg.values.foreach { r =>
      assert(r.getLong(1) == 0L, "constant dim 1 must encode 0")
    }
    // dims 1 and 3 are constant ⇒ exact reconstruction (zero error, no
    // NaN from the 0-span guard); dim 2 spans [-3, 5]: its endpoints are
    // exact grid points (codes 0 and 255), the interior value 0.0 is not
    val step2 = 8.0 / 255.0
    assert(dg(1L).getDouble(4) == 0.0 && dg(2L).getDouble(4) == 0.0,
      "endpoint vectors must reconstruct exactly")
    assert(dg(3L).getDouble(4) > 0.0 && dg(3L).getDouble(4) < step2 * step2,
      s"interior value error ${dg(3L).getDouble(4)} outside (0, step²)")
  }

  test("s17 keep-mask laws: one survivor per cluster, singletons all kept, s11-consistent") {
    import org.apache.spark.sql.functions._
    val out = Registry.byName("s17_semantic_survivors").run(spark, sf).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1)),
        r.getBoolean(2)))
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    assert(out.length == e.count(), "one mask row per vector")
    // singletons (no cluster) are always kept
    assert(out.filter(_._2.isEmpty).forall(_._3), "singleton must keep itself")
    // every cluster keeps EXACTLY one member, and it is the min id
    out.filter(_._2.nonEmpty).groupBy(_._2.get).foreach { case (c, ms) =>
      val kept = ms.filter(_._3).map(_._1)
      assert(kept.length == 1, s"cluster $c kept ${kept.length} members")
      assert(kept.head == ms.map(_._1).min, s"cluster $c survivor not min id")
    }
    // the mask's cluster memberships are EXACTLY s11's clusters
    val s11 = Registry.byName("s11_semantic_clusters").run(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val mine = out.filter(_._2.nonEmpty).groupBy(_._2.get)
      .map { case (c, ms) => c -> ms.length.toLong }
    assert(mine == s11, s"cluster sizes diverge: $mine vs $s11")
  }

  test("s18 IVF-PQ: degenerates to flat ADC at nprobe=k; partial probing keeps recall") {
    import org.apache.spark.sql.functions._
    import graft.queries.Similarity
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4))).toSeq
    // Composition law: probing EVERY cell makes the routing a no-op, so
    // the composed index must equal s08's flat ADC ranking EXACTLY —
    // same codebooks, same LUT values, same shortlist, same rerank. This
    // is the "recall >= flat ADC at equal scanned-row budget" claim at
    // full budget, provable bit-for-bit. The index is s18's (ivfPqAnn's
    // quantizers and encode); only the serve probes all IvfK cells.
    val (cents, cb) = Similarity.ivfPqQuantizers(e)
    val full = rows(Similarity.ivfPqServe(e,
      Similarity.ivfPqEncode(e, cents, cb).localCheckpoint(true), cents, cb,
      residual = false, nprobe = Similarity.IvfK))
    val flat = rows(Similarity.pqAdcAnn(e))
    assert(full == flat, "nprobe=k must reproduce flat ADC exactly")
    // Partial probing (the contract's nprobe=4 of 16 — a 4x scan cut on
    // the compressed rows): recall@5 against the flat-ADC result stays
    // high, because a query's true neighbors concentrate in its nearest
    // cells — the IVF premise
    val routed = rows(Registry.byName("s18_ivfpq_ann").run(spark, sf))
    val flatSets = flat.groupBy(_._1).view.mapValues(_.map(_._3).toSet).toMap
    val hit = routed.groupBy(_._1).map { case (q, rs) =>
      rs.map(_._3).count(flatSets(q).contains)
    }.sum
    val total = flat.length
    assert(hit.toDouble / total >= 0.6,
      s"nprobe=4/16 recall vs flat ADC: $hit/$total")
  }

  test("s19 residual IVF-PQ: finer ADC than raw-vector s18 at equal code budget") {
    import org.apache.spark.sql.functions._
    import graft.queries.Similarity
    val embMap = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .toMap
    def dot(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => x * y }.sum
    // mean absolute ADC error vs the exact dot product over each op's
    // shortlist — the residual encoding's whole claim is that the same
    // m×ksub code budget reconstructs finer once the coarse quantizer
    // has absorbed the between-cell variance
    def adcErr(rows: Array[org.apache.spark.sql.Row]): Double = {
      val errs = rows.map { r =>
        math.abs(r.getDouble(3) - dot(embMap(r.getLong(0)), embMap(r.getLong(2))))
      }
      errs.sum / errs.length
    }
    val e18 = adcErr(Registry.byName("s18_ivfpq_ann").run(spark, sf).collect())
    val e19 = adcErr(Registry.byName("s19_ivfpq_residual").run(spark, sf).collect())
    assert(e19 < e18,
      s"residual ADC error $e19 must beat raw-PQ ADC error $e18")
    // well-formed: 5 queries x 5 dense ranks, no self-neighbors
    val out = Registry.byName("s19_ivfpq_residual").run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(out.length == 25)
    out.groupBy(_._1).foreach { case (q, rs) =>
      assert(rs.map(_._2).sorted.toSeq == (1 to 5), s"query $q ranks")
      assert(rs.forall(_._3 != q), s"query $q self-neighbor")
    }
  }

  test("s18b/s19b sampled training: full-sample identity; recall tracks full-train") {
    import org.apache.spark.sql.functions._
    import graft.queries.Similarity
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4))).toSeq
    // Identity law: a trainPred that keeps every row IS full training —
    // the sampled path may not touch anything but the training input
    // (the s13/s17b "rule applied outside the pipeline" discipline).
    val full = rows(Similarity.ivfPqAnn(e))
    val allIn = rows(Similarity.ivfPqAnn(e, trainPred = Some(lit(true))))
    assert(allIn == full, "trainPred=true must reproduce full training exactly")
    // Recall-vs-full law (the r16 verdict's ask for the oracled
    // deployment config): against the exact brute-force top-5, the
    // sampled-train index recalls within slack of the full-train index —
    // quantizer quality degrades gracefully with 200-of-500 training
    // points, it doesn't fall off a cliff.
    val embMap = e.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .toMap
    def dot(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => x * y }.sum
    def norm(a: Array[Double]): Double = math.sqrt(dot(a, a))
    val exact = (0L until 5L).map { q =>
      q -> embMap.keys.filter(_ != q).toSeq
        .sortBy(v => (-dot(embMap(q), embMap(v)) / (norm(embMap(q)) * norm(embMap(v))), v))
        .take(5).toSet
    }.toMap
    def recallVsExact(out: Seq[(Long, Int, Long, Double, Double)]): Double =
      out.groupBy(_._1).map { case (q, rs) =>
        rs.map(_._3).count(exact(q).contains)
      }.sum.toDouble / 25.0
    val rFull = recallVsExact(full)
    for (name <- Seq("s18b_ivfpq_sampled", "s19b_ivfpq_residual_sampled")) {
      val out = rows(Registry.byName(name).run(spark, sf))
      // well-formed: 5 queries × 5 dense ranks, no self-neighbors
      assert(out.length == 25, s"$name rows")
      out.groupBy(_._1).foreach { case (q, rs) =>
        assert(rs.map(_._2).sorted.toSeq == (1 to 5), s"$name query $q ranks")
        assert(rs.forall(_._3 != q), s"$name query $q self-neighbor")
      }
      val r = recallVsExact(out)
      assert(r >= rFull - 0.25 && r >= 0.3,
        s"$name recall $r vs full-train $rFull — sampled training cliff")
    }
  }

  test("s20b tombstone delete: no deleted neighbor; empty delete list is s20") {
    import org.apache.spark.sql.functions._
    import graft.queries.Similarity
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val out = Registry.byName("s20b_ann_index_delete").run(spark, sf).collect()
    // deleted ids (vec_id % 17 == 3) must never surface as neighbors
    assert(out.forall(r => r.getLong(2) % 17 != 3), "deleted id served")
    // 5 queries × 5 dense ranks survive the ~6% deletion
    assert(out.length == 25)
    // identity law: an EMPTY delete list must reproduce s20 exactly —
    // the tombstone path may touch nothing but the postings filter
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4))).toSeq
    val noDel = rows(Similarity.ivfPqIndexAppend(e,
      deletes = Some(e.filter(lit(false)))))
    val s20 = rows(Registry.byName("s20_ann_index_append").run(spark, sf))
    assert(noDel == s20, "empty delete list must equal s20 exactly")
  }

  test("s17b deployment-width survivors: width lockstep at rule boundaries, same keep laws") {
    import org.apache.spark.sql.functions._
    import graft.queries.Similarity.scaledBits
    // The oracle derives nb in SQL as MIN(b) over range(4,17) with
    // (16 << b) >= n — replicate that predicate here and pin it to the
    // Scala rule AT THE BOUNDARIES, where an off-by-one (>= vs >) or a
    // float log2 would pick different widths on the two engines and the
    // whole graph would silently diverge.
    def sqlRule(n: Long): Int =
      (4 to 16).find(b => (16L << b) >= n).getOrElse(16)
    for (b <- 4 to 16; n <- Seq((16L << b) - 1, 16L << b, (16L << b) + 1))
      assert(scaledBits(n) == sqlRule(n), s"n=$n")
    // the deployed configuration obeys the same keep-mask laws as s17
    val out = Registry.byName("s17b_survivors_scaled").run(spark, sf).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1)),
        r.getBoolean(2)))
    assert(out.filter(_._2.isEmpty).forall(_._3), "singleton must keep itself")
    out.filter(_._2.nonEmpty).groupBy(_._2.get).foreach { case (c, ms) =>
      val kept = ms.filter(_._3).map(_._1)
      assert(kept.length == 1 && kept.head == ms.map(_._1).min, s"cluster $c")
    }
    // and it IS semanticSurvivors at the corpus-derived width — the rule
    // is applied outside the pipeline, nothing else may drift (s13's law)
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val direct = graft.queries.Similarity
      .semanticSurvivors(e, scaledBits(e.count())).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1)),
        r.getBoolean(2))).toSet
    assert(out.toSet == direct)
  }
}
