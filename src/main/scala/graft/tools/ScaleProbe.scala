package graft.tools

import org.apache.spark.sql.functions._

import graft.engine.GraftSession
import graft.functions.ghash
import graft.queries.Dedup

/** Scale probe: run the production dedup pipeline on a corpus far past the
  * test SFs, generated file-lessly by the graft-gen source — evidence that
  * the LSH shapes hold as data grows, not just at sf0.1.
  *
  *   sbt "runMain graft.tools.ScaleProbe 1000000"
  *
  * Plants exact dups (+1 copy per 100 docs) and near dups (first token
  * dropped), then runs exact dedup and MinHash-LSH near-dup with the
  * hot-bucket guard, printing one JSON line with CUMULATIVE per-stage
  * timings (each stage includes its upstream cost — marginals are the
  * deltas): sig_sec = shingle+signature, band_sec = +banding,
  * cand_sec = +candidate pairs, lsh_sec = the full pipeline incl. exact-
  * Jaccard verify. Exactness is asserted, not assumed: exact_groups must
  * equal the planted count and every planted near pair must be recalled.
  * The corpus never touches disk: generation is part of the scan.
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(200000L)
    val spark = GraftSession.build("graft-scale-probe")

    val base = spark.read.format("graft-gen")
      .option("rows", n.toString).option("parts", "64").load()
      .select(col("doc_id"), col("text"), col("lang"))
    // plant: every 100th doc gets an exact copy (+1B) and a near copy with
    // its first token dropped (+2B)
    val tenth = base.filter(col("doc_id") % 100 === 0)
    val corpus = base
      .unionByName(tenth.select((col("doc_id") + 1000000000L).as("doc_id"),
        col("text"), col("lang")))
      .unionByName(tenth.select((col("doc_id") + 2000000000L).as("doc_id"),
        concat_ws(" ", slice(split(col("text"), " "), 2, 10000)).as("text"),
        col("lang")))

    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
    }
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    val (nExact, tExact) = time {
      corpus.groupBy(md5(col("text")).as("digest"))
        .agg(count(lit(1)).as("c")).filter(col("c") > 1).count()
    }

    // stage timings for the LSH path (cumulative; same parameters as the
    // timed full pipeline below: k=32, 8 bands x 4 rows, cap 200)
    val shingled = corpus.select(col("doc_id"), Dedup.shingles(col("text")).as("sh"))
    val sig = shingled.withColumn("sig", ghash.minhashSig(col("sh"), 32))
      .select(col("doc_id"), col("sig"))
    val (_, tSig) = time(noop(sig))
    val buckets = sig.select(
      col("doc_id"),
      posexplode(
        transform(sequence(lit(0), lit(7)),
          b => ghash.fnv1a64(concat_ws(",",
            transform(slice(col("sig"), b * 4 + 1, lit(4)), x => x.cast("string")))))
      ).as(Seq("band", "bucket")))
    val (_, tBand) = time(noop(buckets))
    val (nCand, tCand) = time {
      Dedup.bucketCandidates(buckets, Seq("band", "bucket"), cap = 200).count()
    }

    val pairs = Dedup.lshJaccardPairs(corpus, k = 32, bands = 8, cap = 200,
      threshold = 0.3).persist()
    val (nPairs, tLsh) = time(pairs.count())

    // exactness: every planted near pair (d, d+2B) must be recalled
    val plantedNear = tenth.select(col("doc_id").as("a_id"),
      (col("doc_id") + 2000000000L).as("b_id"))
    val nearFound = pairs.join(plantedNear, Seq("a_id", "b_id")).count()

    val planted = n / 100
    println(s"""{"probe":"lsh","docs":${n + 2 * planted},"exact_groups":$nExact,""" +
      s""""exact_sec":$tExact,"sig_sec":$tSig,"band_sec":$tBand,""" +
      s""""cand_pairs":$nCand,"cand_sec":$tCand,""" +
      s""""lsh_pairs":$nPairs,"lsh_sec":$tLsh,""" +
      s""""planted_exact":$planted,"planted_near_found":$nearFound,""" +
      s""""exact_ok":${nExact == planted},"near_ok":${nearFound == planted}}""")

    // ---- d08 probe: connected components over the LSH pair graph ----
    // Each planted group {d, d+1B, d+2B} is fully linked by the pairs above
    // (exact copy: jaccard 1; near copy: high overlap), so CC must produce
    // `planted` clusters of exactly 3 — false-positive edges could only
    // merge clusters, so ≥ 95% surviving at size 3 is the pass bar. Star
    // contraction converges dense triangle clusters in 1-2 rounds (reported
    // as cc_rounds), proving the O(log n)-rounds cost model on real pairs.
    val (ccRes, tCc) = time {
      // localThreshold = 0: this probe measures the DISTRIBUTED path's
      // cost model (the default size gate would route 30k edges to the
      // driver fast path)
      val (labels, rounds) = Dedup.connectedComponentsWithRounds(
        pairs.select("a_id", "b_id"), localThreshold = 0)
      val sizes = labels.groupBy("label").agg(count(lit(1)).as("sz"))
        .filter(col("sz") > 1)
        .groupBy("sz").count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      (sizes, rounds)
    }
    val (ccSizes, ccRounds) = ccRes
    val size3 = ccSizes.getOrElse(3L, 0L)
    println(s"""{"probe":"cc","edges":$nPairs,"cc_sec":$tCc,""" +
      s""""cc_rounds":$ccRounds,""" +
      s""""clusters_size3":$size3,"cluster_sizes":"${ccSizes.toSeq.sorted
        .map { case (k, v) => s"$k:$v" }.mkString(",")}",""" +
      s""""cc_ok":${size3 >= (planted * 95) / 100}}""")
    pairs.unpersist()

    // ---- ccchain probe: the adversarial CC topology ----
    // A single 200k-vertex path — graph diameter 200k. This is the input
    // class the round-9 star-contraction rewrite exists for: min-label
    // propagation needs diameter rounds (200,000 sequential shuffles —
    // unrunnable), star contraction needs O(log n). The probe pins both
    // the round count and exactness (every vertex labeled 0).
    val chainN = 200000L
    val (chainRes, tChain) = time {
      val chainEdges = spark.range(chainN - 1)
        .select(col("id").as("a_id"), (col("id") + 1L).as("b_id"))
      val (labels, rounds) = Dedup.connectedComponentsWithRounds(
        chainEdges, maxRounds = 60, localThreshold = 0)
      val agg = labels.agg(count(lit(1)).as("n"),
        max(col("label")).as("mx")).head()
      (agg.getLong(0), agg.getLong(1), rounds)
    }
    val (chainLabeled, chainMax, chainRounds) = chainRes
    println(s"""{"probe":"ccchain","vertices":$chainN,""" +
      s""""diameter":${chainN - 1},"cc_rounds":$chainRounds,""" +
      s""""sec":$tChain,"labeled":$chainLabeled,"max_label":$chainMax,""" +
      s""""ccchain_ok":${chainLabeled == chainN && chainMax == 0L &&
        chainRounds <= 30}}""")

    // ---- s03 probe: guarded embedding near-dup at the same scale ----
    // Corpus: n hash-derived pseudo-random 64-dim vectors (near-orthogonal
    // by construction — entries are independent xxhash64 values, so
    // E[cos]≈0; an earlier fnv-of-"id_i"-mod-2001 generator produced
    // measurably CORRELATED vectors — thousands of genuine cos>0.99 pairs
    // per 20k — and made a fine probe corpus look like a buggy pipeline)
    // + a perturbed near-copy (cos ≈ 0.9999) per 100th vector + a planted
    // MEGA-BUCKET of 5000 identical vectors (0.5% of the corpus — the
    // boilerplate-embedding case). Unguarded, the mega-bucket alone emits
    // 12.5M all-pairs candidates; the guard must drop it whole while the
    // planted near-copies keep pairing. nBits=16 (the packing maximum)
    // keeps the average bucket at n/2^16 ≈ 15 — the knob production turns
    // as the corpus grows, since candidate volume scales with
    // n · avg-bucket-size · tables.
    val nEmb = n
    val baseEmb = spark.range(nEmb).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(63)), i =>
        ((pmod(xxhash64(col("id"), i), lit(2001)) - 1000)
          .cast("double") / 1000.0).cast("float")).as("embedding"))
    val near = baseEmb.filter(col("vec_id") % 100 === 0)
      .select((col("vec_id") + 1000000000L).as("vec_id"),
        transform(col("embedding"),
          v => (v.cast("double") * 0.98 + 0.01).cast("float")).as("embedding"))
    val spamVec = array((0 until 64).map(i =>
      lit((math.sin(i + 1) * 0.5).toFloat)): _*)
    val spam = spark.range(5000).select((col("id") + 2000000000L).as("vec_id"),
      spamVec.as("embedding"))
    val embCorpus = baseEmb.unionByName(near).unionByName(spam)
    val (embPairs, tEmb) = time {
      graft.queries.Similarity.nearDupPairs(embCorpus, nTables = 2,
        nBits = 16, cap = 100, threshold = 0.99).persist()
    }
    val (nEmbPairs, tEmbCount) = time(embPairs.count())
    val plantedEmb = nEmb / 100
    val embFound = embPairs
      .filter(col("b_id") === col("a_id") + 1000000000L).count()
    val spamPairs = embPairs
      .filter(col("a_id") >= 2000000000L && col("b_id") >= 2000000000L).count()
    embPairs.unpersist()
    println(s"""{"probe":"emb","vectors":${nEmb + plantedEmb + 5000},""" +
      s""""emb_pairs":$nEmbPairs,"emb_sec":${tEmb + tEmbCount},""" +
      s""""planted":$plantedEmb,"planted_found":$embFound,""" +
      s""""spam_pairs":$spamPairs,""" +
      s""""emb_ok":${embFound >= (plantedEmb * 90) / 100 && spamPairs == 0}}""")

    // ---- d10 probe: incremental LSH — ingest-proportional, not corpus- ----
    // Existing corpus: the DUPLICATE-RICH planted frame from the lsh probe
    // (n base docs + n/100 exact + n/100 near copies — the realistic case:
    // yesterday's corpus already contains its duplicate structure). Incoming
    // batch (1% of corpus): half brand-new docs (fresh id range), half
    // near-copies of every 200th existing doc (first token dropped, +3B).
    // The operator's claim (Dedup.bucketCandidatesIncremental): old×old
    // pairs are discarded row-locally BEFORE the shuffle, so candidate
    // volume — and everything downstream (shingle re-attach, exact-Jaccard
    // verify) — scales with the BATCH. Asserted: (a) every planted
    // (existing, near-copy) pair is recalled; (b) incremental candidates
    // stay within a small multiple of the batch size, while full-batch
    // candidates are corpus-proportional (≥ 3 pairs per planted corpus
    // group) — re-running batch d03 daily would re-verify all of them.
    val existing = corpus // duplicate-rich: n + 2·(n/100) docs
    val newDocs = spark.read.format("graft-gen")
      .option("rows", (n + n / 200).toString).option("parts", "64").load()
      .filter(col("doc_id") >= n)
      .select((col("doc_id") + 4000000000L).as("doc_id"), col("text"))
    val nearBatch = base.filter(col("doc_id") % 200 === 0)
      .select((col("doc_id") + 3000000000L).as("doc_id"),
        concat_ws(" ", slice(split(col("text"), " "), 2, 10000)).as("text"))
    val incoming = newDocs.unionByName(nearBatch)
    val batchSize = n / 200 + n / 200
    val (incPairs, tInc) = time {
      Dedup.incrementalLshPairs(existing.select("doc_id", "text"), incoming,
        k = 32, bands = 8, cap = 200, threshold = 0.3).persist()
    }
    val (nIncPairs, tIncCount) = time(incPairs.count())
    val plantedInc = incPairs
      .filter(col("b_id") === col("a_id") + 3000000000L).count()
    incPairs.unpersist()
    val plantedBatch = n / 200
    // candidate-volume comparison at identical banding/caps: full-batch
    // candidates over existing ∪ incoming vs the incremental ones
    def bucketsOf(c: org.apache.spark.sql.DataFrame) = c
      .select(col("doc_id"), col("is_new"),
        Dedup.shingleHashes(col("text")).as("sh"))
      .withColumn("sig", ghash.minhashSig(col("sh"), 32))
      .select(col("doc_id"), col("is_new"),
        posexplode(
          transform(sequence(lit(0), lit(7)),
            b => ghash.fnv1a64(concat_ws(",",
              transform(slice(col("sig"), b * 4 + 1, lit(4)), x => x.cast("string")))))
        ).as(Seq("band", "bucket")))
    val tagged = existing.select(col("doc_id"), col("text"))
      .withColumn("is_new", lit(false))
      .unionByName(incoming.select(col("doc_id"), col("text"))
        .withColumn("is_new", lit(true)))
    val (nCandFull, tCandFull) = time {
      Dedup.bucketCandidates(bucketsOf(tagged), Seq("band", "bucket"), cap = 200).count()
    }
    val (nCandInc, tCandInc) = time {
      Dedup.bucketCandidatesIncremental(bucketsOf(tagged), Seq("band", "bucket"),
        cap = 200).count()
    }
    // new-touching planted structure ≤ 3 partners per batch near-copy (its
    // group) + stray collisions; 4× batch is the generous bound. The full
    // run must carry the corpus's own ≥ 3·(n/100) group pairs on top.
    val d10Ok = plantedInc == plantedBatch &&
      nCandInc <= 4L * batchSize && nCandFull >= 3L * (n / 100)
    println(s"""{"probe":"d10","corpus":${n + 2 * (n / 100)},"batch":$batchSize,""" +
      s""""inc_pairs":$nIncPairs,"inc_sec":${tInc + tIncCount},""" +
      s""""planted":$plantedBatch,"planted_found":$plantedInc,""" +
      s""""cand_full":$nCandFull,"cand_full_sec":$tCandFull,""" +
      s""""cand_inc":$nCandInc,"cand_inc_sec":$tCandInc,""" +
      s""""d10_ok":$d10Ok}""")

    // ---- d12 probe: corpus-level line dedup at the same scale ----
    // Plant the d12 banners on every 7th generated doc; every banner line
    // must be dropped except exactly one survivor per variant, and FULL-
    // WIDTH real lines must survive untouched (12-word windows over the
    // generator vocab are birthday-negligible at 1M docs — but the sub-
    // width TAIL line of each doc draws from a tiny combination space and
    // legitimately collides corpus-wide, so tails are measured, not
    // asserted zero: that dedup is correct behavior, not a bug).
    val bannered = base.select(col("doc_id"),
      graft.queries.LineDedup.plantText(col("doc_id"), col("text")).as("text"))
    val (lineStats, tLines) = time {
      // four independent counts follow — materialize once (house pattern;
      // an uncached frame would recompute the full line-dedup pipeline,
      // itself a double scan, for every count)
      val lk = Dedup.lineKeep(bannered)
        .withColumn("full", size(split(col("line"), " ")) === 12)
        .localCheckpoint(true)
      val banner = lk.filter(col("pos") === 0 && col("doc_id") % 7 === 0)
      val bannerKept = banner.filter(col("keep")).count()
      val bannerAll = banner.count()
      val real = lk.filter(col("pos") > 0 || col("doc_id") % 7 =!= 0)
      val fullDropped = real.filter(col("full") && !col("keep")).count()
      val tailDropped = real.filter(!col("full") && !col("keep")).count()
      (bannerAll, bannerKept, fullDropped, tailDropped)
    }
    val (bannerAll, bannerKept, fullDropped, tailDropped) = lineStats
    val d12Ok = bannerKept == 3 && bannerAll >= n / 7 && fullDropped == 0
    println(s"""{"probe":"d12","docs":$n,"banner_lines":$bannerAll,""" +
      s""""banner_kept":$bannerKept,"full_lines_dropped":$fullDropped,""" +
      s""""tail_lines_deduped":$tailDropped,"sec":$tLines,"d12_ok":$d12Ok}""")

    // ---- s04 probe: IVF build + search at the same 1M-vector scale ----
    // Build the 3-Lloyd-iteration IVF index over the emb corpus (64 cells
    // → avg cell ≈ 16k vectors), then answer 100 planted queries with
    // nprobe=4: each query's perturbed near-copy (cos ≈ 0.9999) must rank
    // in its top-3. This is the index-build-and-serve path the s04
    // contract query can only exercise at oracle scale.
    import graft.queries.Similarity
    val (ivfStats, tIvf) = time {
      val centArr = Similarity.ivfCentroids(
        embCorpus.select(col("vec_id"),
          transform(col("embedding"), _.cast("double")).as("embedding")),
        k = 64, iters = 3)
      val dCorpus = embCorpus.select(col("vec_id"),
        transform(col("embedding"), _.cast("double")).as("embedding"))
      val index = dCorpus.crossJoin(broadcast(centArr))
        .select(col("vec_id"), col("embedding"),
          Similarity.nearestCell(col("cents"), col("embedding")).as("cell"))
        .localCheckpoint(true)
      val q = dCorpus.filter(col("vec_id") % 10000 === 0 && col("vec_id") < 1000000000L)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val probes = q.crossJoin(broadcast(centArr))
        .select(col("q_id"), col("q_emb"),
          explode(slice(array_sort(transform(col("cents"), c =>
            struct(
              (-Similarity.cosine(col("q_emb"), c.getField("cvec"))).as("neg_cos"),
              c.getField("cell").as("cell")))), 1, 4)).as("pc"))
        .select(col("q_id"), col("q_emb"), col("pc.cell").as("cell"))
      val top = probes.join(index, "cell")
        .filter(col("vec_id") =!= col("q_id"))
        .withColumn("cos", Similarity.cosine(col("q_emb"), col("embedding")))
        .withColumn("rank", org.apache.spark.sql.functions.row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("q_id")
            .orderBy(col("cos").desc, col("vec_id"))))
        .filter(col("rank") <= 3)
      val nQ = q.count()
      val hits = top.filter(col("vec_id") === col("q_id") + 1000000000L).count()
      (nQ, hits)
    }
    val (nQ, ivfHits) = ivfStats
    val ivfOk = ivfHits >= (nQ * 90) / 100
    println(s"""{"probe":"s04","vectors":${nEmb + plantedEmb + 5000},""" +
      s""""cells":64,"lloyd_iters":3,"queries":$nQ,"near_in_top3":$ivfHits,""" +
      s""""sec":$tIvf,"s04_ok":$ivfOk}""")

    // ---- c16 probe: sharded sequence packing at n docs x 4 sources ----
    // The scale claim: partitioning the prefix-sum window by (source,
    // doc_id-range shard) bounds per-task state at the shard width (8192
    // docs) with NO packing-quality cost to speak of — vs the per-source
    // window, whose single task per source is the 100 TB trap. Asserted:
    // (a) token totals identical (sharding moves bin boundaries, never
    // drops tokens); (b) aggregate fill ratio — total tokens over bin
    // capacity — within 5% of per-source packing (each (source, shard)
    // wastes at most one partial final bin, and a shard's token mass
    // dwarfs one bin); (c) the sharded run actually fans out: window
    // partitions ≥ n/8192, not 4.
    import graft.queries.Corpus
    val packDocs = base.select(col("doc_id"),
      concat(lit("src"), pmod(col("doc_id"), lit(4))).as("source"),
      col("text"))
    val (c16Stats, tPack) = time {
      val sharded = Corpus.sequencePack(packDocs).persist()
      val perSource = Corpus.sequencePack(packDocs, shardDocs = Int.MaxValue)
        .persist()
      def agg(df: org.apache.spark.sql.DataFrame) = df
        .agg(sum(col("n_tokens")), count(lit(1)), sum(col("n_docs")))
        .collect().head match {
          case r => (r.getLong(0), r.getLong(1), r.getLong(2))
        }
      val (tokS, binsS, docsS) = agg(sharded)
      val (tokP, binsP, docsP) = agg(perSource)
      val shards = sharded.select(col("source"), col("shard")).distinct().count()
      sharded.unpersist(); perSource.unpersist()
      (tokS, binsS, docsS, tokP, binsP, docsP, shards)
    }
    val (tokS, binsS, docsS, tokP, binsP, docsP, nShards) = c16Stats
    val fillS = tokS.toDouble / (binsS * 2048L)
    val fillP = tokP.toDouble / (binsP * 2048L)
    val c16Ok = tokS == tokP && docsS == docsP &&
      math.abs(fillS - fillP) / fillP < 0.05 && nShards >= n / 8192
    println(s"""{"probe":"c16","docs":$docsS,"sources":4,"shards":$nShards,""" +
      s""""bins_sharded":$binsS,"bins_per_source":$binsP,""" +
      s""""fill_sharded":$fillS,"fill_per_source":$fillP,""" +
      s""""sec":$tPack,"c16_ok":$c16Ok}""")

    // ---- c13 probe: truncated LM vs full model over a 1.5M-type vocab ----
    // Synthetic Zipf-ish corpus: 60 tokens/doc, 80% of positions draw from
    // a 1000-type head, 20% from a 1.5M-type tail — at 1M docs that is a
    // >1M-type open vocabulary, past the broadcast gate. Scored two ways:
    // the FULL model (forced onto the shuffle-join path — the unbounded-
    // vocab physical plan) and the TRUNCATED top-50k+OOV model (bounded
    // broadcast — the production filter shape). The claim behind the
    // truncation: per-doc quality ranking is preserved — asserted as
    // Pearson corr of the two avg_nll vectors ≥ 0.95 plus ≥ 70% overlap
    // of the top-1000 "rare-token soup" head (the docs an LM filter would
    // actually act on).
    val lmDocs = spark.range(n).select(col("id").as("doc_id"),
      concat_ws(" ", transform(sequence(lit(0), lit(59)), i => {
        val h = xxhash64(col("id"), i)
        val pick = pmod(xxhash64(col("id"), i, lit(7)), lit(10))
        concat(lit("w"), when(pick < 2, pmod(h, lit(1500000)) + 1000)
          .otherwise(pmod(h, lit(1000))))
      })).as("text"))
    val (c13Stats, tLm) = time {
      val full = Corpus.unigramLmScore(lmDocs, broadcastVocabMax = 1000000L)
        .withColumnRenamed("avg_nll", "nll_full").persist()
      val trunc = Corpus.unigramLmScoreTruncated(lmDocs, topN = 50000)
        .withColumnRenamed("avg_nll", "nll_trunc").persist()
      val joined = full.select("doc_id", "nll_full")
        .join(trunc.select("doc_id", "nll_trunc"), "doc_id")
      val c = joined.agg(corr(col("nll_full"), col("nll_trunc"))).collect()
        .head.getDouble(0)
      def head1k(df: org.apache.spark.sql.DataFrame, c: String) = df
        .orderBy(col(c).desc, col("doc_id")).limit(1000).select("doc_id")
      val overlap = head1k(full, "nll_full")
        .join(head1k(trunc, "nll_trunc"), "doc_id").count()
      full.unpersist(); trunc.unpersist()
      (c, overlap)
    }
    val (lmCorr, lmOverlap) = c13Stats
    val c13Ok = lmCorr >= 0.95 && lmOverlap >= 700
    println(s"""{"probe":"c13","docs":$n,"head_types":1000,""" +
      s""""tail_types":1500000,"top_n":50000,"corr":$lmCorr,""" +
      s""""head1k_overlap":$lmOverlap,"sec":$tLm,"c13_ok":$c13Ok}""")

    // ---- d15 probe: substring-span dedup at n docs ----
    // Notice planted on every 100th doc (1% dup exposure — production-ish);
    // every planted doc must report a span covering the 20-word notice
    // (natural collisions can only extend spans). The stride-1 gram
    // explosion is the op's cost center: n × ~(len−15) tuples of 28 bytes
    // shuffle once — the probe pins that it completes at 1M docs and that
    // recall is exact, not sampled.
    import graft.queries.SubstrDedup
    val d15Docs = base.select(col("doc_id"),
      when(col("doc_id") % 100 === 0,
        concat(lit(SubstrDedup.notice), lit(" "), col("text")))
        .otherwise(col("text")).as("text"))
    val (d15Stats, tD15) = time {
      val spans = Dedup.substrSpans(d15Docs, SubstrDedup.W)
        .filter(col("doc_id") % 100 === 0).persist()
      val covered = spans.filter(col("dup_tokens") >= 20).count()
      val reported = spans.count()
      spans.unpersist()
      (reported, covered)
    }
    val (d15Reported, d15Covered) = d15Stats
    val d15Ok = d15Covered == n / 100
    println(s"""{"probe":"d15","docs":$n,"planted":${n / 100},""" +
      s""""reported":$d15Reported,"notice_covered":$d15Covered,""" +
      s""""sec":$tD15,"d15_ok":$d15Ok}""")

    // ---- d16 probe: bloom-guarded ingest at n historical docs ----
    // Batch = 1% known dups (historical text verbatim) + 1% fresh docs.
    // Asserted: (a) bloom path row set == plain anti join (exactness is
    // parameter-independent); (b) the guard PRUNES — bloom positives are
    // ≈ dups + FP·fresh, so the anti join's probe side shrinks to ~the
    // dup mass instead of the whole batch (the 100 TB claim).
    val histD16 = base.select(md5(col("text")).as("digest")).distinct()
    val batchD16 = base.filter(col("doc_id") % 100 === 0)
      .select((col("doc_id") + 3000000000L).as("doc_id"), col("text"))
      .unionByName(base.filter(col("doc_id") % 100 === 50)
        .select((col("doc_id") + 4000000000L).as("doc_id"),
          concat(col("text"), lit(" entirely fresh suffix")).as("text")))
      .withColumn("digest", md5(col("text")))
    val (d16Stats, tD16) = time {
      val newRows = Dedup.bloomGuardedNewRows(batchD16, histD16, "digest",
        expectedItems = math.max(1L << 16, n)).count()
      val plainRows = batchD16.join(histD16, Seq("digest"), "left_anti").count()
      val positives = Dedup.bloomMembership(histD16, "digest",
        expectedItems = math.max(1L << 16, n))
        .map(m => batchD16.filter(m(col("digest"))).count()).getOrElse(0L)
      (newRows, plainRows, positives)
    }
    val (d16New, d16Plain, d16Pos) = d16Stats
    val d16Batch = batchD16.count()
    // positives must cover every true dup and prune most of the fresh half
    val d16Ok = d16New == d16Plain && d16Pos < d16Batch / 2 + d16Batch / 20
    println(s"""{"probe":"d16","historical":$n,"batch":$d16Batch,""" +
      s""""new_rows":$d16New,"plain_anti_rows":$d16Plain,""" +
      s""""bloom_positives":$d16Pos,"sec":$tD16,"d16_ok":$d16Ok}""")

    // ---- s08 probe: PQ-ADC at the 1M-vector scale ----
    // Codebooks (4×16, 2 Lloyd rounds) trained on the full corpus, then
    // 100 planted queries served through the compressed index: the
    // perturbed near-copy (+1B, cos ≈ 0.9999) quantizes to the SAME
    // codes as its query, so ADC scores it at the query's own
    // reconstruction score — it must survive the shortlist and the exact
    // rerank's top 3. Pins that the compressed serve path (per-row O(m)
    // lookups, TopKPerKey shortlist) keeps recall at a scale where the
    // uncompressed index would be 64× the memory.
    val (s08Stats, tS08) = time {
      val dcorp = embCorpus.filter(col("vec_id") < 2000000000L)
      val out = Similarity.pqAdcAnn(
        dcorp.withColumn("is_q",
          col("vec_id") % 10000 === 0 && col("vec_id") < 1000000000L),
        m = 4, subDim = 16, ksub = 16, iters = 2,
        nQ = 0, shortlist = 64, topK = 3,
        queryFilter = Some(col("is_q")))
      val nQs = dcorp.filter(col("vec_id") % 10000 === 0 &&
        col("vec_id") < 1000000000L).count()
      val hits = out.filter(col("neighbor_id") === col("q_id") + 1000000000L)
        .count()
      (nQs, hits)
    }
    val (s08Q, s08Hits) = s08Stats
    val s08Ok = s08Hits >= (s08Q * 90) / 100
    println(s"""{"probe":"s08","vectors":${nEmb + plantedEmb},""" +
      s""""codebooks":"4x16","queries":$s08Q,"near_in_top3":$s08Hits,""" +
      s""""sec":$tS08,"s08_ok":$s08Ok}""")

    // ---- c18 probe: BPE train+encode at n docs ----
    // 10 merges over the 1M-doc corpus, then the corpus-wide encode.
    // Invariants: every source appears; tokens ≥ words (merges never
    // cross word boundaries) and tokens < chars (at least one merge
    // actually fused — the encode is really applying the tokenizer);
    // the whole thing completes in type-table time, not corpus rounds.
    val c18Docs = base.withColumn("source",
      concat(lit("src"), (col("doc_id") % 4).cast("string")))
    val (c18Stats, tC18) = time {
      val rows = graft.queries.Corpus.bpeEncodeStats(c18Docs, 10).collect()
      val toks = rows.map(_.getLong(2)).sum
      val words = rows.map(_.getLong(1)).sum
      (rows.length.toLong, words, toks)
    }
    val (c18Sources, c18Words, c18Toks) = c18Stats
    val c18Ok = c18Sources == 4 && c18Toks >= c18Words && c18Toks < c18Words * 8
    println(s"""{"probe":"c18","docs":$n,"merges":10,"sources":$c18Sources,""" +
      s""""n_words":$c18Words,"n_tokens":$c18Toks,"sec":$tC18,"c18_ok":$c18Ok}""")

    // ---- d19 probe: per-host boilerplate at n docs, 10k hosts ----
    // Each doc gets one of 10k synthetic hosts; alternating host-blocks
    // carry a host-specific 12-token banner on half their docs. Asserted:
    // every bannered host (and ONLY bannered hosts) reports boilerplate,
    // and line text stays out of the shuffles (PlanSpec pins the plan;
    // this pins recall + runtime at 1M docs × 10k-host cardinality).
    val (d19Stats, tD19) = time {
      val host = concat(lit("h"), (col("doc_id") % 10000).cast("string"))
      val docs19 = base.select(col("doc_id"), host.as("host"), col("text"))
        .withColumn("text",
          when((col("doc_id") % 20000) < 10000,
            concat(lit("legal notice for "), col("host"),
              lit(" all rights reserved contact admin at "),
              col("host"), lit(" today "), col("text")))
            .otherwise(col("text")))
      val toks19 = split(col("text"), " ")
      val nseg = ((size(toks19) + lit(11)) / lit(12)).cast("int")
      val lineArr = transform(sequence(lit(0), nseg - 1),
        i => concat_ws(" ", slice(toks19, i * 12 + 1, lit(12))))
      val lines = docs19
        .select(col("doc_id"), col("host"), explode(lineArr).as("line"))
        .select(col("doc_id"), col("host"), ghash.fnv1a64(col("line")).as("h"))
      val hostDocs = docs19.groupBy("host").agg(count(lit(1)).as("n_docs"))
      val boilerHosts = lines.groupBy("host", "h")
        .agg(countDistinct(col("doc_id")).as("docs_with"))
        .join(hostDocs, "host")
        .filter(col("docs_with") * 10 >= col("n_docs") * 3 &&
          col("docs_with") >= 2)
        .select("host").distinct()
      boilerHosts.count()
    }
    // hosts h0..h9999; banner iff (doc_id % 20000) < 10000 — host k gets
    // banners on the doc_id ≡ k (mod 20000) half of its docs → every
    // host has exactly half its docs bannered → all 10k hosts report
    val d19Ok = d19Stats == 10000
    println(s"""{"probe":"d19","docs":$n,"hosts":10000,""" +
      s""""boiler_hosts":$d19Stats,"sec":$tD19,"d19_ok":$d19Ok}""")

    // ---- c22 probe: bigram LM at n docs, open bigram vocabulary ----
    // 60 tokens/doc: 80% of positions walk a sequential 1000-type head
    // chain (predictable bigrams), 20% draw from a 1.5M-type tail — the
    // bigram vocabulary opens to ~10M types at 1M docs, far past the
    // broadcast gate, so the probe FORCES the shuffle-join path (the
    // 100 TB physical plan) and pins that it completes. Every 100th doc
    // permutes its head-chain order (i -> 37i mod 60, a full cycle):
    // same unigram distribution, broken bigram structure — the
    // interpolated model must score the permuted docs strictly worse on
    // average (the discrimination c13 cannot see at ANY scale).
    val ts22 = split(col("text"), " ")
    val c22Docs = spark.range(n).select(col("id").as("doc_id"),
      concat_ws(" ", transform(sequence(lit(0), lit(59)), i => {
        val idx = when(col("id") % 100 === 0, (i * 37) % 60).otherwise(i)
        val pick = pmod(xxhash64(col("id"), i, lit(7)), lit(10))
        when(pick < 2,
          concat(lit("t"), pmod(xxhash64(col("id"), i), lit(1500000))))
          .otherwise(concat(lit("w"),
            pmod(pmod(xxhash64(col("id")), lit(1000)) + idx, lit(1000))))
      })).as("text"))
    val (c22Stats, tC22) = time {
      val nBgTypes = c22Docs.select(explode(zip_with(
          slice(ts22, lit(1), greatest(size(ts22) - 1, lit(0))),
          slice(ts22, lit(2), greatest(size(ts22) - 1, lit(0))),
          (a, b) => concat_ws(" ", a, b))).as("bg"))
        .agg(approx_count_distinct(col("bg"), 0.02)).collect().head.getLong(0)
      val scored = Corpus.bigramLmScore(c22Docs, broadcastVocabMax = 0)
      val cls = scored.withColumn("scr", col("doc_id") % 100 === 0)
        .groupBy("scr").agg(avg(col("avg_nll")).as("m")).collect()
        .map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
      (nBgTypes, cls(false), cls(true))
    }
    val (c22BgTypes, c22Clean, c22Scr) = c22Stats
    val c22Ok = c22BgTypes > (4L << 20) && c22Scr > c22Clean + 0.2
    println(s"""{"probe":"c22","docs":$n,"bigram_types":$c22BgTypes,""" +
      s""""mean_nll_clean":$c22Clean,"mean_nll_permuted":$c22Scr,""" +
      s""""sec":$tC22,"c22_ok":$c22Ok}""")

    // ---- d20 probe: cross-corpus decontamination at n train docs ----
    // Benchmark = every 1000th base doc with its first token dropped
    // (a near-paraphrase), offset +3B. The incremental pipeline must (a)
    // recall every planted (source, paraphrase) pair and (b) stay
    // benchmark-proportional: candidate pairs are restricted row-locally
    // to bench-touching, so the verify stage touches ~|bench|·bucket-
    // occupancy pairs, not corpus².
    val benchP = base.filter(col("doc_id") % 1000 === 0)
      .select((col("doc_id") + 3000000000L).as("doc_id"),
        concat_ws(" ", slice(split(col("text"), " "), 2, 10000)).as("text"))
    val (d20Pairs, tD20) = time {
      Dedup.incrementalLshPairs(base, benchP, k = 32, bands = 8, cap = 200,
        threshold = 0.3)
        .filter(col("a_id") < 3000000000L).persist()
    }
    val (nD20, tD20c) = time(d20Pairs.count())
    val d20Planted = n / 1000
    val d20Found = d20Pairs
      .filter(col("b_id") === col("a_id") + 3000000000L).count()
    d20Pairs.unpersist()
    println(s"""{"probe":"d20","train":$n,"bench":$d20Planted,""" +
      s""""contaminated_pairs":$nD20,"planted":$d20Planted,""" +
      s""""planted_found":$d20Found,"sec":${tD20 + tD20c},""" +
      s""""d20_ok":${d20Found == d20Planted}}""")

    // ---- s10 probe: kNN graph over the 1M-vector corpus ----
    // The all-queries graph build must stay corpus-linear through the
    // capped bucket index (the spam mega-bucket contributes ≤ cap ids)
    // and must wire planted near-copies (cos ≈ 0.9999) as top-1
    // neighbors for nearly all of them — bucket recall, not exactness,
    // is the contract at nBits=16 with 3 probes/table.
    val (s10Top1, tS10) = time {
      val g = graft.queries.Similarity.knnGraph(embCorpus, nTables = 2,
        nBits = 16, k = 3, cap = 100)
      g.filter(col("rank") === 1 &&
          col("q_id") < 1000000000L && col("q_id") % 100 === 0 &&
          col("neighbor_id") === col("q_id") + 1000000000L)
        .count()
    }
    println(s"""{"probe":"s10","vectors":${nEmb + plantedEmb + 5000},""" +
      s""""planted":$plantedEmb,"top1_wired":$s10Top1,"sec":$tS10,""" +
      s""""s10_ok":${s10Top1 >= (plantedEmb * 85) / 100}}""")

    // ---- s11 probe: semantic clusters over the 1M-vector kNN graph ----
    // Mutual-kNN symmetrization + connected components on top of the s10
    // graph. Ground truth: each planted near-copy (cos ≈ 0.9999) and its
    // source are overwhelmingly each other's rank-1 neighbor, so they
    // must land in the SAME cluster whenever the graph wired them
    // mutually; the probe pins that co-clustering rate and that the
    // mega-bucket spam vectors (identical, capped at the index) never
    // absorb unrelated vectors into a giant component (max cluster
    // bounded by cap).
    val (s11Stats, tS11) = time {
      val g = graft.queries.Similarity.knnGraph(embCorpus, nTables = 2,
        nBits = 16, k = 3, cap = 100)
      val mutual = g.select(
          least(col("q_id"), col("neighbor_id")).as("a_id"),
          greatest(col("q_id"), col("neighbor_id")).as("b_id"))
        .groupBy("a_id", "b_id").agg(count(lit(1)).as("c"))
        .filter(col("c") === 2).select("a_id", "b_id")
        .localCheckpoint(true)
      val comp = graft.queries.Dedup.connectedComponents(mutual)
        .localCheckpoint(true)
      val pairCo = comp.toDF("id", "l1")
        .join(comp.toDF("id2", "l2"),
          col("id2") === col("id") + 1000000000L)
        .filter(col("id") % 100 === 0 && col("id") < 1000000000L)
      val maxCluster = comp.groupBy("label").count()
        .agg(max(col("count"))).head().getLong(0)
      (pairCo.filter(col("l1") === col("l2")).count(), maxCluster)
    }
    val (s11Co, s11Max) = s11Stats
    println(s"""{"probe":"s11","vectors":${nEmb + plantedEmb + 5000},""" +
      s""""planted":$plantedEmb,"co_clustered":$s11Co,""" +
      s""""max_cluster":$s11Max,"sec":$tS11,""" +
      s""""s11_ok":${s11Co >= (plantedEmb * 85) / 100 && s11Max <= 100}}""")

    // ---- e15 probe: chunked range join at 10n events ----
    // 10n events over 30 days; every 1000th anchors a window of up to
    // 2 h. Correctness pin: a 50-window sample is joined by brute force
    // (broadcast BETWEEN, no chunking) and the per-window counts must
    // equal the chunked plan's — the scale path and the naive path agree
    // exactly, which is the whole claim of the decomposition.
    val nEv = 10 * n
    val dayUs = 86400000000L
    val evScale = spark.range(nEv).select(col("id").as("event_id"),
      pmod(xxhash64(col("id")), lit(30 * dayUs)).as("ts_us"),
      pmod(xxhash64(col("id"), lit(1)), lit(120)).as("dur_min"))
    val winScale = evScale.filter(col("event_id") % 1000 === 0)
      .select(col("event_id").as("window_id"), col("ts_us").as("start_us"),
        (col("ts_us") + col("dur_min") * 60000000L).as("end_us"))
      .localCheckpoint(true)
    val chunkUs = 3600000000L
    val ((e15Counts, nWinMatched), tE15) = time {
      val wx = winScale.withColumn("chunk",
        explode(sequence(expr(s"start_us div $chunkUs"),
          expr(s"end_us div $chunkUs"))))
      val ex = evScale.withColumn("chunk", expr(s"ts_us div $chunkUs"))
      val counts = wx.join(ex, "chunk")
        .filter(col("ts_us").between(col("start_us"), col("end_us")))
        .groupBy("window_id").agg(count(lit(1)).as("n"))
        .persist()
      (counts, counts.count())
    }
    val sample = winScale.filter(col("window_id") % 20000 === 0)
    val brute = sample.crossJoin(evScale)
      .filter(col("ts_us").between(col("start_us"), col("end_us")))
      .groupBy("window_id").agg(count(lit(1)).as("n_brute"))
    val mismatches = e15Counts
      .join(brute, Seq("window_id"), "full_outer")
      .filter(col("window_id") % 20000 === 0)
      .filter(!(col("n") <=> col("n_brute"))).count()
    e15Counts.unpersist()
    println(s"""{"probe":"e15","events":$nEv,"windows":${nEv / 1000},""" +
      s""""windows_matched":$nWinMatched,"sample_mismatches":$mismatches,""" +
      s""""sec":$tE15,"e15_ok":${mismatches == 0}}""")

    // ---- m07 probe: CDC chunk-store accounting at corpus scale ----
    // The +1B planted docs are EXACT copies, so every chunk they
    // contribute already exists in the base corpus: the dedup savings
    // (total_bytes − unique_bytes) must be AT LEAST the copies' whole
    // byte mass (chunks partition each doc exactly). ≥, not ==, because
    // the w0..w99 vocabulary also produces natural cross-doc chunk
    // repetition — which is the point of chunk-level dedup.
    import graft.queries.MultimodalOps
    val (m07Stats, tM07) = time {
      val per = MultimodalOps.cdcChunks(corpus.select(col("doc_id"), col("text")))
        .select(explode(arrays_zip(col("chs"), col("lens"))).as("z"))
        .select(col("z.chs").as("ch"), col("z.lens").cast("long").as("len"))
        .localCheckpoint(true)
      val t = per.agg(count(lit(1)), sum(col("len"))).head()
      val u = per.groupBy("ch").agg(min(col("len")).as("len"))
        .agg(count(lit(1)), sum(col("len"))).head()
      (t.getLong(0), t.getLong(1), u.getLong(0), u.getLong(1))
    }
    val (m07Tot, m07TotB, m07Dist, m07UniqB) = m07Stats
    val copyBytes = tenth.select(sum(length(col("text")))).head().getLong(0)
    val m07Ok = (m07TotB - m07UniqB) >= copyBytes && m07Dist < m07Tot
    println(s"""{"probe":"m07","docs":${n + 2 * (n / 100)},""" +
      s""""total_chunks":$m07Tot,"distinct_chunks":$m07Dist,""" +
      s""""total_bytes":$m07TotB,"unique_bytes":$m07UniqB,""" +
      s""""copy_bytes":$copyBytes,"sec":$tM07,"m07_ok":$m07Ok}""")

    // ---- c25 probe: dedup-aware token accounting at corpus scale ----
    // Global conservation, exactly: the duplicated token mass across all
    // sources must equal the planted exact copies' tokens (the +2B near
    // copies dropped a token, so they are distinct texts and survive as
    // unique — their mass is NOT duplicated; the lsh probe's exact_ok
    // already pinned that the base corpus has no natural exact dups).
    val (c25Dup, tC25) = time {
      val rws = corpus.select(col("doc_id"), col("lang").as("source"),
        md5(col("text")).as("dg"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
      val srv = rws.groupBy("dg").agg(min(col("doc_id")).as("doc_id"))
      val totT = rws.agg(sum(col("n_tok"))).head().getLong(0)
      val uniqT = rws.join(srv, Seq("dg", "doc_id"))
        .agg(sum(col("n_tok"))).head().getLong(0)
      totT - uniqT
    }
    val copyToks = tenth
      .select(sum(size(split(col("text"), " ")))).head().getLong(0)
    println(s"""{"probe":"c25","docs":${n + 2 * (n / 100)},""" +
      s""""dup_token_mass":$c25Dup,"planted_copy_tokens":$copyToks,""" +
      s""""sec":$tC25,"c25_ok":${c25Dup == copyToks}}""")

    // ---- e16 probe: cohort retention at 10n events ----
    // Same rollup as the contract query (shared cohortRetention helper).
    // Invariants at scale: offset-0 retention is exactly 1 for EVERY
    // cohort (a user is active in their own first week by construction)
    // and cohort sizes partition the distinct-user population.
    val evUsers = evScale.select(
      pmod(xxhash64(col("event_id"), lit(3)), lit(100000L)).as("user_id"),
      expr(s"ts_us div $dayUs").as("day"))
    val ((e16Rows, e16Bad, e16SizeSum), tE16) = time {
      val r = graft.queries.EventsOps.cohortRetention(evUsers)
        .localCheckpoint(true)
      val bad = r.filter(col("week_offset") === 0 && col("retention") =!= 1.0)
        .count()
      val sizeSum = r.filter(col("week_offset") === 0)
        .agg(sum(col("cohort_size"))).head().getLong(0)
      (r.count(), bad, sizeSum)
    }
    val e16Users = evUsers.select(countDistinct(col("user_id")))
      .head().getLong(0)
    println(s"""{"probe":"e16","events":$nEv,"cells":$e16Rows,""" +
      s""""week0_not_full":$e16Bad,"size_sum":$e16SizeSum,""" +
      s""""users":$e16Users,"sec":$tE16,""" +
      s""""e16_ok":${e16Bad == 0 && e16SizeSum == e16Users}}""")

    // ---- s12 probe: hybrid fusion arms at corpus scale ----
    // Both arms must stay shortlist-shaped at 1M docs/vectors: the BM25
    // arm's only corpus-scale work is the matching-token aggregation, the
    // dense arm is the broadcast-query scan, and fusion runs on 20∪20
    // driver rows. Pins: both shortlists fill, fused output is 10, and
    // every fused score is reproduced by the driver-side RRF recompute.
    val (s12Stats, tS12) = time {
      val sp = Corpus.bm25Scores(corpus.select(col("doc_id"), col("text")),
          Seq("w1", "w42", "w77"))
        .orderBy(col("score").desc, col("doc_id")).limit(20)
        .collect().map(_.getLong(0))
      val qv = baseEmb.filter(col("vec_id") === 0)
        .select(col("embedding").as("q_emb"))
      val dn = embCorpus.crossJoin(broadcast(qv))
        .filter(col("vec_id") =!= 0)
        .withColumn("cos",
          graft.functions.gvec.cosineSim(col("q_emb"), col("embedding")))
        .orderBy(col("cos").desc, col("vec_id")).limit(20)
        .collect().map(_.getLong(0))
      val sR = sp.zipWithIndex.map { case (id, i) => id -> (i + 1) }.toMap
      val dR = dn.zipWithIndex.map { case (id, i) => id -> (i + 1) }.toMap
      val fused = (sR.keySet ++ dR.keySet).toSeq
        .map { id =>
          (id, sR.get(id).map(r => 1.0 / (60.0 + r)).getOrElse(0.0) +
            dR.get(id).map(r => 1.0 / (60.0 + r)).getOrElse(0.0))
        }
        .sortBy { case (id, rrf) => (-rrf, id) }.take(10)
      (sp.length, dn.length, fused.length, fused.headOption.map(_._2).getOrElse(0.0))
    }
    val (s12Sp, s12Dn, s12Fused, s12Top) = s12Stats
    println(s"""{"probe":"s12","docs":${n + 2 * (n / 100)},""" +
      s""""vectors":${nEmb + plantedEmb + 5000},"sparse_list":$s12Sp,""" +
      s""""dense_list":$s12Dn,"fused":$s12Fused,"top_rrf":$s12Top,""" +
      s""""sec":$tS12,"s12_ok":${s12Sp == 20 && s12Dn == 20 && s12Fused == 10}}""")

    // ---- skewjoin probe: AQE OptimizeSkewedJoin on a planted hot key ----
    // One key carries 50% of the big side (n rows, incompressible 64-char
    // payload so the COMPRESSED map-output sizes AQE reads show the skew).
    // Same join run twice: skew handling ON must mark the SMJ skew=true
    // and split the hot partition across tasks; OFF runs the hot partition
    // as one straggler task. Wall times + equal row counts are the
    // evidence for the Skew.scala decision rule ("default = let AQE act").
    val skewConfs = Map(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8MB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "4MB")
    val skewSaved = (skewConfs.keys ++ Seq("spark.sql.adaptive.skewJoin.enabled"))
      .map(k => k -> spark.conf.getOption(k)).toMap
    try {
      skewConfs.foreach { case (k, v) => spark.conf.set(k, v) }
      val skewPad = concat(md5(col("id").cast("string")),
        md5((col("id") + 7).cast("string"))).as("pad")
      val bigSkew = spark.range(n / 2).select(lit(0L).as("k"), skewPad)
        .unionByName(
          spark.range(n / 2).select((col("id") % 10000 + 1).as("k"), skewPad))
      val dimSkew = spark.range(10001)
        .select(col("id").as("k"), (col("id") * 2).as("v"))
      def runSkewJoin(handle: Boolean): (Long, Boolean, Double) = {
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", handle.toString)
        val j = bigSkew.join(dimSkew, "k")
        val ((cnt, fired), sec) = time {
          val c = j.queryExecution.executedPlan.execute().count()
          (c, j.queryExecution.executedPlan.toString.contains("skew=true"))
        }
        (cnt, fired, sec)
      }
      val (cOn, firedOn, tOn) = runSkewJoin(handle = true)
      val (cOff, firedOff, tOff) = runSkewJoin(handle = false)
      println(s"""{"probe":"skewjoin","rows":$n,"hot_share":0.5,""" +
        s""""split_sec":$tOn,"straggler_sec":$tOff,""" +
        s""""skew_fired":$firedOn,"skew_fired_off":$firedOff,""" +
        s""""skewjoin_ok":${cOn == n && cOff == n && firedOn && !firedOff}}""")
    } finally skewSaved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }

    // ---- p09 probe: compaction planning over n-doc shard metadata ----
    // The planner must stay metadata-sized at any corpus: one shard
    // rollup (n/64 rows) + a domain-partitioned prefix-sum window.
    // Invariants: shard doc counts partition the corpus; every 'keep' is
    // at/above target; every merge GROUP lands at/above target except at
    // most one trailing group per 4096-shard packing domain (the c16
    // partial-bin argument, now at file granularity).
    val (p09Stats, tP09) = time {
      val plan = graft.queries.Pipeline
        .compactionPlan(base.select(col("doc_id"), col("text")))
        .localCheckpoint(true)
      val docsCovered = plan.agg(sum(col("n_docs"))).head().getLong(0)
      val badKeeps = plan.filter(col("action") === "keep" &&
        col("bytes") < 65536L).count()
      val groups = plan.filter(col("action") === "merge")
        .groupBy("grp").agg(sum(col("bytes")).as("gb"))
      val nGroups = groups.count()
      // first-fit-by-prefix guarantees: no merged shard past 2×target
      // (a group spans < target of window plus one straddling shard),
      // and never more groups than the byte mass requires (group ids are
      // before div target, so per domain they fit in bytes/target + 1) —
      // a group CAN undershoot after its predecessor overshot, so
      // per-group fullness is deliberately NOT asserted
      val oversize = groups.filter(col("gb") >= 2 * 65536L).count()
      val maxGroups = plan.filter(col("action") === "merge")
        .groupBy(expr("shard div 4096").as("dom"))
        .agg((sum(col("bytes")) / 65536L + 1).as("cap_g"),
          countDistinct(col("grp")).as("got_g"))
        .filter(col("got_g") > col("cap_g")).count()
      (docsCovered, badKeeps, nGroups, oversize, maxGroups)
    }
    val (p09Docs, p09BadKeep, p09Groups, p09Oversize, p09OverCap) = p09Stats
    println(s"""{"probe":"p09","docs":$n,"docs_covered":$p09Docs,""" +
      s""""merge_groups":$p09Groups,"oversize_groups":$p09Oversize,""" +
      s""""domains_over_group_cap":$p09OverCap,"bad_keeps":$p09BadKeep,""" +
      s""""sec":$tP09,"p09_ok":${p09Docs == n && p09BadKeep == 0 &&
        p09Oversize == 0 && p09OverCap == 0}}""")

    // ---- t17 probe: trigram lang classifier at n docs ----
    // Map-side classifier throughput + total discrimination on the
    // planted corpus (every doc must classify to its planted language).
    val (t17Wrong, tT17) = time {
      graft.queries.TextOps.LangClassifier.classify(
        graft.queries.TextOps.LangClassifier.plant(
          spark.range(n).select(col("id").as("doc_id"))))
        .filter(col("lang_pred") =!= col("lang_label")).count()
    }
    println(s"""{"probe":"t17","docs":$n,"misclassified":$t17Wrong,""" +
      s""""sec":$tT17,"t17_ok":${t17Wrong == 0L}}""")

    // ---- m01/m09 probe: real codec throughput at n docs ----
    // Encode+decode n tiny PNG/BMP images and n WAV clips through the
    // actual javax codecs; dims/sample counts re-checked against the
    // generator rule per row. This is the per-row codec cost a media
    // ingest pays at scale — measured, not assumed.
    import graft.multimodal.Multimodal
    locally {
      import spark.implicits._
      val (m01Bad, tM01) = time {
        val media = spark.range(n).select(col("id").as("doc_id")).as[Long]
          .mapPartitions { ids =>
            javax.imageio.ImageIO.setUseCache(false)
            ids.map(id => Multimodal.RealMedia(
              id, Multimodal.ImageCodec.encode(id), Multimodal.ImageCodec.fmt(id)))
          }.toDF()
        Multimodal.decodeFeatures(media)
          .filter(col("width") =!= (lit(4) + pmod(col("doc_id"), lit(13))).cast("int") ||
            col("height") =!= (lit(3) + pmod(col("doc_id"), lit(11))).cast("int"))
          .count()
      }
      println(s"""{"probe":"m01","docs":$n,"bad_dims":$m01Bad,""" +
        s""""sec":$tM01,"imgs_per_sec":${(n / tM01).toLong},""" +
        s""""m01_ok":${m01Bad == 0L}}""")
      val (m09Bad, tM09) = time {
        val audio = spark.range(n).select(col("id").as("doc_id")).as[Long]
          .mapPartitions(ids =>
            ids.map(id => Multimodal.RealAudio(id, Multimodal.AudioCodec.encode(id))))
          .toDF()
        Multimodal.audioFeatures(audio)
          .filter(col("n_samples") =!= lit(256L) + pmod(col("doc_id"), lit(512L)))
          .count()
      }
      println(s"""{"probe":"m09","docs":$n,"bad_lengths":$m09Bad,""" +
        s""""sec":$tM09,"clips_per_sec":${(n / tM09).toLong},""" +
        s""""m09_ok":${m09Bad == 0L}}""")
    }

    // ---- p10 probe: seeded shard shuffle manifest at n docs ----
    // Invariants: (a) the manifest covers every c16 bin exactly once
    // (bins == manifest rows); (b) positions are DENSE per out_shard
    // (min 0, max+1 == shard count — a trainer reads shards by position,
    // so a gap or dup is a corrupted training order); (c) the fnv key
    // balances shards (every shard within ±15% of the mean — hash
    // uniformity at bins/16 per shard).
    locally {
      val docsWithSource = base.withColumn("source",
        concat(lit("src"), pmod(col("doc_id"), lit(7))))
      val (p10Stats, tP10) = time {
        val packed = graft.queries.Corpus.sequencePack(
          docsWithSource.select(col("source"), col("doc_id"), col("text")))
        val nBins = packed.count()
        // probe the ENGINE over the synthetic corpus: replicate the
        // contract query's shuffle inline (the registry entry is bound
        // to the parquet tables)
        import org.apache.spark.sql.expressions.Window
        val skey = ghash.fnv1a64(concat(
          lit("p10|42|"), col("source"), lit("|"),
          col("shard").cast("string"), lit("|"), col("bin").cast("string")))
        val manifest = packed
          .select(col("source"), col("shard"), col("bin"), col("n_tokens"),
            skey.as("skey"))
          .withColumn("out_shard", pmod(col("skey"), lit(16L)))
          .withColumn("position",
            (row_number().over(Window.partitionBy("out_shard")
              .orderBy("skey", "source", "shard", "bin")) - 1)
              .cast("long"))
          .localCheckpoint(true)
        val rows = manifest.count()
        val perShard = manifest.groupBy("out_shard")
          .agg(count(lit(1)).as("c"), min("position").as("pmin"),
            max("position").as("pmax"))
          .collect()
        // columns: out_shard(0), c(1), pmin(2), pmax(3)
        val dense = perShard.forall(r =>
          r.getLong(2) == 0L && r.getLong(3) == r.getLong(1) - 1)
        val cs = perShard.map(_.getLong(1))
        val mean = cs.sum.toDouble / cs.length
        val balanced = cs.forall(c => math.abs(c - mean) <= 0.15 * mean)
        (nBins, rows, dense, balanced, perShard.length)
      }
      val (p10Bins, p10Rows, p10Dense, p10Balanced, p10Shards) = p10Stats
      println(s"""{"probe":"p10","docs":$n,"bins":$p10Bins,""" +
        s""""manifest_rows":$p10Rows,"shards":$p10Shards,""" +
        s""""dense_positions":$p10Dense,"balanced":$p10Balanced,""" +
        s""""sec":$tP10,"p10_ok":${p10Bins == p10Rows && p10Dense &&
          p10Balanced && p10Shards == 16}}""")
    }

    // ---- c26 probe: unigram-LM training at n docs ----
    // The EM state is the word-TYPE table — under graft-gen's bounded
    // vocabulary |types| saturates, so the probe measures the E-step's
    // corpus-independent cost staying flat per round while the
    // segmentation itself runs over the full type mass. Invariants:
    // single-char coverage (every corpus char in vocab), positive
    // weights, rank-ordering consistent with (weight desc, piece).
    locally {
      val (c26Stats, tC26) = time {
        val v = graft.queries.Corpus.unigramTrain(base.select(col("text")))
          .collect()
        val pieces = v.map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        val chars = base.select(explode(split(col("text"), "")).as("ch"))
          .filter(col("ch") =!= " ").distinct()
          .collect().map(_.getString(0)).toSet
        val vocabChars = pieces.map(_._2).filter(_.length == 1).toSet
        val ordered = pieces.sortBy(_._1).sliding(2).forall {
          case Array((_, p1, w1), (_, p2, w2)) =>
            w1 > w2 || (w1 == w2 && p1 < p2)
          case _ => true
        }
        (pieces.length, (chars -- vocabChars).size,
          pieces.forall(_._3 > 0), ordered)
      }
      val (c26N, c26Missing, c26Pos, c26Ordered) = c26Stats
      println(s"""{"probe":"c26","docs":$n,"vocab":$c26N,""" +
        s""""uncovered_chars":$c26Missing,"weights_positive":$c26Pos,""" +
        s""""rank_ordered":$c26Ordered,"sec":$tC26,""" +
        s""""c26_ok":${c26Missing == 0 && c26Pos && c26Ordered && c26N > 0}}""")
    }

    // ---- d22 probe: paragraph dedup at n docs ----
    // Planted noisy banner (every 5th doc, digits+case variants) must
    // fold to EXACTLY 3 normalized survivors at any corpus size — the
    // normalization claim at scale. Also: verdicts cover every paragraph,
    // and the un-planted docs' body paragraphs survive at high rate (the
    // generator's 25-word windows rarely repeat verbatim).
    locally {
      val (d22Stats, tD22) = time {
        val verdicts = Dedup.paragraphKeep(
          Dedup.withParas(base.select(col("doc_id"), col("text"))))
          .localCheckpoint(true)
        val total = verdicts.count()
        val bannerKeeps = verdicts
          .filter(col("doc_id") % 5 === 0 && col("pos") === 0 && col("keep"))
          .count()
        val banners = verdicts
          .filter(col("doc_id") % 5 === 0 && col("pos") === 0).count()
        (total, banners, bannerKeeps)
      }
      val (d22Total, d22Banners, d22Keeps) = d22Stats
      println(s"""{"probe":"d22","docs":$n,"paragraphs":$d22Total,""" +
        s""""banner_paras":$d22Banners,"banner_survivors":$d22Keeps,""" +
        s""""sec":$tD22,"d22_ok":${d22Keeps == 3L &&
          d22Banners == (n + 4) / 5}}""")
    }

    // ---- t18 probe: markup extraction at n docs ----
    // Map-side block classification must hold EXACTLY at any corpus size:
    // every doc keeps its 2 prose blocks, drops nav+footer (+promo on
    // every 7th), and the reassembled text equals the independently-built
    // expectation md5 — one mis-kept block anywhere fails the count.
    locally {
      val (t18Stats, tT18) = time {
        val out = graft.queries.TextOps.markupExtract(
          base.select(col("doc_id"), col("text"), col("lang")))
          .localCheckpoint(true)
        val want = base.select(col("doc_id"), md5(concat(
          col("text"), lit(" more about "), col("lang"),
          lit(" topics see related "), col("doc_id").cast("string"),
          lit(" here"))).as("want"))
        (out.count(),
          out.filter(col("n_kept") =!= 2).count(),
          out.filter(col("n_dropped") =!=
            when(col("doc_id") % 7 === 0, 3).otherwise(2)).count(),
          out.join(want, "doc_id")
            .filter(col("extracted_md5") =!= col("want")).count())
      }
      val (t18N, t18BadKeep, t18BadDrop, t18Mismatch) = t18Stats
      println(s"""{"probe":"t18","docs":$n,"extracted":$t18N,""" +
        s""""bad_keeps":$t18BadKeep,"bad_drops":$t18BadDrop,""" +
        s""""md5_mismatches":$t18Mismatch,"sec":$tT18,""" +
        s""""t18_ok":${t18N == n && t18BadKeep == 0 && t18BadDrop == 0 &&
          t18Mismatch == 0}}""")
    }

    // ---- t19 probe: repeated-span strip at n docs ----
    // Invariants at scale: every planted doc (the 3x marker pattern) loses
    // at least one span whatever its length mod 3; every unplanted doc
    // with zero duplicate chunks round-trips to EXACTLY its original text;
    // chunk counts match ceil(words/3) with the plant's +9.
    locally {
      val (t19Stats, tT19) = time {
        val out = graft.queries.TextOps.repeatedSpanStrip(
          base.select(col("doc_id"), col("text"))).localCheckpoint(true)
        val orig = base.select(col("doc_id"), md5(col("text")).as("om"),
          size(split(col("text"), " ")).as("nw"))
        val j = out.join(orig, "doc_id")
        (out.count(),
          j.filter(col("doc_id") % 5 === 0 && col("n_dupes") < 1).count(),
          j.filter(col("doc_id") % 5 =!= 0 && col("n_dupes") === 0 &&
            col("cleaned_md5") =!= col("om")).count(),
          j.filter(col("n_chunks") =!= ceil((col("nw") +
            when(col("doc_id") % 5 === 0, 9).otherwise(0)) / 3.0)
            .cast("long")).count())
      }
      val (t19N, t19PlantMiss, t19IdBreak, t19BadChunks) = t19Stats
      println(s"""{"probe":"t19","docs":$n,"stripped":$t19N,""" +
        s""""plants_missed":$t19PlantMiss,"identity_breaks":$t19IdBreak,""" +
        s""""bad_chunk_counts":$t19BadChunks,"sec":$tT19,""" +
        s""""t19_ok":${t19N == n && t19PlantMiss == 0 && t19IdBreak == 0 &&
          t19BadChunks == 0}}""")
    }

    // ---- t07b probe: PII breadth at n docs ----
    // Each residue class must carry EXACTLY its own PII type — a regex
    // that over- or under-matches at any doc_id shape (longer ids at 1M
    // change the planted digit strings) fails the per-class counts.
    locally {
      val (t07bStats, tT07b) = time {
        val out = graft.queries.TextOps.piiBreadth(
          base.select(col("doc_id"), col("text"))).localCheckpoint(true)
        val r = col("doc_id") % 10
        val wantP = when(r.isin(0, 1, 2), 1L).otherwise(0L)
        val wantI = when(r.isin(3, 4, 5), 1L).otherwise(0L)
        val wantD = when(r.isin(6, 7, 8), 1L).otherwise(0L)
        (out.count(),
          out.filter(col("n_phones") =!= wantP || col("n_ips") =!= wantI ||
            col("n_ids") =!= wantD).count())
      }
      val (t07bN, t07bBad) = t07bStats
      println(s"""{"probe":"t07b","docs":$n,"scrubbed":$t07bN,""" +
        s""""class_violations":$t07bBad,"sec":$tT07b,""" +
        s""""t07b_ok":${t07bN == n && t07bBad == 0}}""")
    }

    // ---- p11 probe: WARC-style container ingest at n docs ----
    // The declared-size walk must round-trip every record at scale: one
    // output row per doc, payload md5 equal to the source text's, declared
    // length equal to the text length, and each container's offsets
    // starting at 0 (the walk never skips or double-reads a byte — a
    // one-byte desync shifts every subsequent offset and md5).
    locally {
      val (p11Stats, tP11) = time {
        val out = graft.queries.Pipeline.warcIngest(
          base.select(col("doc_id"), col("text"))).localCheckpoint(true)
        val src = base.select(col("doc_id").as("rec_doc_id"),
          md5(col("text")).as("tm"),
          length(col("text")).cast("long").as("tl"))
        val j = out.join(src, "rec_doc_id")
        (out.count(),
          j.filter(col("payload_md5") =!= col("tm") ||
            col("declared_len") =!= col("tl")).count(),
          out.groupBy("container_id").agg(min(col("rec_off")).as("m"))
            .filter(col("m") =!= 0L).count())
      }
      val (p11N, p11Bad, p11BadStart) = p11Stats
      println(s"""{"probe":"p11","docs":$n,"records":$p11N,""" +
        s""""roundtrip_mismatches":$p11Bad,"containers_not_at_zero":$p11BadStart,""" +
        s""""sec":$tP11,"p11_ok":${p11N == n && p11Bad == 0 &&
          p11BadStart == 0}}""")
    }

    // ---- t20 probe: classifier training at n docs ----
    // The full 6-round trajectory must stay CLASS-SEPARATING as the
    // corpus grows (gradients are mean-normalized, so the learning rate
    // is corpus-size-invariant by design — this is the check), and the
    // midpoint threshold must classify every doc.
    locally {
      val (t20Stats, tT20) = time {
        val out = graft.queries.TextOps.classifierTrain(
          base.select(col("doc_id"), col("text"))).localCheckpoint(true)
        val minPos = out.filter(col("label") === 1L)
          .agg(min(col("margin"))).head().getDouble(0)
        val maxNeg = out.filter(col("label") === 0L)
          .agg(max(col("margin"))).head().getDouble(0)
        val miscls = out.filter(col("pred") =!=
          (col("label") === 1L)).count()
        (out.count(), minPos, maxNeg, miscls)
      }
      val (t20N, t20MinPos, t20MaxNeg, t20Miscls) = t20Stats
      println(s"""{"probe":"t20","docs":$n,"scored":$t20N,""" +
        s""""min_pos":$t20MinPos,"max_neg":$t20MaxNeg,""" +
        s""""misclassified":$t20Miscls,"sec":$tT20,""" +
        s""""t20_ok":${t20N == n && t20MinPos > t20MaxNeg &&
          t20Miscls == 0}}""")
    }

    // ---- t21 probe: blocklist suffix-match at n docs ----
    // Every blocked/kept decision is a pure function of doc_id — the
    // probe recomputes the expectation independently and demands zero
    // divergence (rule shadowing or suffix off-by-one shows instantly).
    locally {
      val (t21Stats, tT21) = time {
        val out = graft.queries.TextOps.blocklistFilter(
          base.select(col("doc_id")), Seq(
            "site7.example", "site13.example",
            "ads.site3.example", "media.site6.example"))
          .localCheckpoint(true)
        val k = col("doc_id") % 50
        val v = col("doc_id") % 4
        val want = (k === 7) || (k === 13) ||
          (k === 3 && v === 1) || (k === 6 && v === 2)
        (out.count(), out.filter(col("blocked") =!= want).count(),
          out.filter(col("blocked")).count())
      }
      val (t21N, t21Bad, t21Blocked) = t21Stats
      println(s"""{"probe":"t21","docs":$n,"decided":$t21N,""" +
        s""""divergences":$t21Bad,"blocked":$t21Blocked,"sec":$tT21,""" +
        s""""t21_ok":${t21N == n && t21Bad == 0 && t21Blocked > 0}}""")
    }

    // ---- c27 probe: perplexity buckets at n docs ----
    // Rank-threshold accounting must stay EXACT at scale (head=⌈n/3⌉,
    // middle=⌈2n/3⌉−⌈n/3⌉ per language) and the buckets must order by
    // quality: mean NLL strictly increasing head → middle → tail.
    locally {
      val (c27Stats, tC27) = time {
        val out = graft.queries.Corpus.perplexityBuckets(
          base.select(col("doc_id"), col("text"), col("lang")))
          .localCheckpoint(true)
        val sizes = out.groupBy("lang", "ppl_bucket").count()
          .join(out.groupBy("lang").agg(count(lit(1)).as("nl")), "lang")
          .withColumn("want",
            when(col("ppl_bucket") === "head", expr("(nl + 2) div 3"))
              .when(col("ppl_bucket") === "middle",
                expr("(2 * nl + 2) div 3 - (nl + 2) div 3"))
              .otherwise(expr("nl - (2 * nl + 2) div 3")))
        val badSizes = sizes.filter(col("count") =!= col("want")).count()
        val means = out.groupBy("lang").pivot("ppl_bucket",
          Seq("head", "middle", "tail")).agg(avg(col("avg_nll")))
        val badOrder = means.filter(!(col("head") < col("middle") &&
          col("middle") < col("tail"))).count()
        (out.count(), badSizes, badOrder)
      }
      val (c27N, c27BadSizes, c27BadOrder) = c27Stats
      println(s"""{"probe":"c27","docs":$n,"bucketed":$c27N,""" +
        s""""bad_tertile_sizes":$c27BadSizes,"bad_nll_order":$c27BadOrder,""" +
        s""""sec":$tC27,"c27_ok":${c27N == n && c27BadSizes == 0 &&
          c27BadOrder == 0}}""")
    }

    // ---- d23 probe: cross-corpus semantic decontamination at n train ----
    // vectors. Bench = every 100th vector through the paraphrase drift;
    // candidates must stay bench-proportional (the incremental guard) and
    // recall the plants at the production code width (nBits=16).
    locally {
      val (d23Stats, tD23) = time {
        val train = baseEmb.withColumn("is_new", lit(false))
        val bench = baseEmb.filter(col("vec_id") % 100 === 0)
          .select((col("vec_id") + 1000000000L).as("vec_id"),
            transform(col("embedding"),
              v => (v.cast("double") * 0.95 + 0.02).cast("float"))
              .as("embedding"),
            lit(true).as("is_new"))
        val pairs = graft.queries.Similarity.crossCorpusEmbeddingNearDup(
          train.unionByName(bench), nTables = 2, nBits = 16, cap = 100,
          threshold = 0.98, benchProbes = 2).localCheckpoint(true)
        val found = pairs
          .filter(col("bench_id") === col("train_id") + 1000000000L).count()
        (pairs.count(), found)
      }
      val (d23Pairs, d23Found) = d23Stats
      val d23Planted = n / 100
      // r15: bench-side multi-probe ({1},{2},{1,2} lowest-margin flips)
      // raised the recall gate 90% -> 99% (r14 primary-only measured 96%)
      println(s"""{"probe":"d23","train":$n,"bench":$d23Planted,""" +
        s""""pairs":$d23Pairs,"planted_found":$d23Found,"sec":$tD23,""" +
        s""""d23_ok":${d23Found >= (d23Planted * 99) / 100}}""")
    }

    // ---- t19long probe: repeated-span strip on 1k-WORD docs ----
    // Real web docs run 1k+ words ≈ 350 chunks — the scale the r13
    // array_position shape (O(chunks²) string probes per doc) would cliff
    // on, and what forced the r14 sort-based linear rewrite. Docs are the
    // generator's text repeated 25× with a unique per-segment marker (so
    // chunks stay mostly distinct — the realistic case, not the all-dup
    // degenerate one); invariants are t19's own: every planted doc (the
    // engine's internal %5 marker append) strips ≥1 span, every unplanted
    // zero-dup doc round-trips exactly.
    locally {
      val nLong = math.min(n, 200000L)
      val longDocs = base.filter(col("doc_id") < nLong)
        .select(col("doc_id"),
          concat_ws(" ", flatten(transform(sequence(lit(0), lit(24)),
            i => array(col("text"), concat(lit("seg"), i.cast("string"))))))
            .as("text"))
        .localCheckpoint(true)
      val (t19LStats, tT19L) = time {
        val out = graft.queries.TextOps.repeatedSpanStrip(
          longDocs.select(col("doc_id"), col("text"))).localCheckpoint(true)
        val orig = longDocs.select(col("doc_id"), md5(col("text")).as("om"),
          size(split(col("text"), " ")).as("nw"))
        val j = out.join(orig, "doc_id")
        (out.count(),
          j.filter(col("doc_id") % 5 === 0 && col("n_dupes") < 1).count(),
          j.filter(col("doc_id") % 5 =!= 0 && col("n_dupes") === 0 &&
            col("cleaned_md5") =!= col("om")).count(),
          j.agg(avg(col("n_chunks"))).head().getDouble(0))
      }
      val (t19LN, t19LPlantMiss, t19LIdBreak, t19LAvgChunks) = t19LStats
      println(s"""{"probe":"t19long","docs":$nLong,"stripped":$t19LN,""" +
        s""""plants_missed":$t19LPlantMiss,"identity_breaks":$t19LIdBreak,""" +
        s""""avg_chunks":$t19LAvgChunks,"sec":$tT19L,""" +
        s""""t19long_ok":${t19LN == nLong && t19LPlantMiss == 0 &&
          t19LIdBreak == 0}}""")
    }
    spark.stop()
  }
}
