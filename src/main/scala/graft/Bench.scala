package graft
import java.nio.file.{Files, Paths}
import graft.engine.GraftSession

/** Benchmark main — times the headline queries at SPARK_GRAFT_SF_DIR and
  * prints one JSON line for the driver. `noop` write forces full evaluation
  * of every operator (a bare .count() would let Catalyst prune projections).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // default to every core (the driver runs local[32]); env overrides
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val cpusInt = scala.util.Try(cpus.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    val spark = GraftSession.build("graft-bench", cpusInt)

    // Per-run stage-wall window (r18 VERDICT item 7): every stamp carries
    // the slowest completed stage's wall + the stage count, so the next
    // adjudication can tell scheduler/box noise (run inflates, top stage
    // flat) from a plan change (top stage moves with the run).
    BenchGate.installStageWindow(spark.sparkContext)

    // Low-core scaling contract (r18 VERDICT item 2): when the driver grants
    // a MINORITY of the machine's cores (the 8-of-32 scaling re-run), load on
    // the other cores is expected — the box's own work doesn't compete with
    // our grant — so foreign-CPU readings are not evidence of interference
    // and the quiet-retry machinery must not burn 5 runs per query on them
    // (the r18 c8 run died mid-ext exactly that way, exit 137, no JSON).
    // Quiet fields emit null in that mode: unmeasured, not unquiet.
    val machineCores = Runtime.getRuntime.availableProcessors()
    val lowCoreRun = cpusInt < machineCores / 2
    // Hard wall-clock budget so the bench always terminates and prints its
    // JSON even on a constrained/shared run: past the deadline no NEW ext
    // query starts and no retry is taken (cut-short queries are listed in
    // sf1_ext_skipped). Generous enough that a quiet 32-core run never
    // comes near it.
    // Default sized so a RETRY-FREE 8-core pass of the full series fits
    // (measured ~50 min on this box; the r18 c8 kill arrived well past
    // 90 min of retry-amplified running, so self-truncating at 90 min
    // stays inside the external limit while cutting nothing on a healthy
    // run; a 32-core run finishes in ~17 min and never comes near it).
    val budgetSec = sys.env.get("SPARK_GRAFT_BENCH_BUDGET_SEC")
      .flatMap(s => scala.util.Try(s.trim.toDouble).toOption)
      .getOrElse(5400.0)
    val deadlineNs = System.nanoTime() + (budgetSec * 1e9).toLong
    def inBudget: Boolean = System.nanoTime() < deadlineNs

    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    // Per-SF warm-up: read every table in the dir once (noop sink) so OS
    // page cache + parquet footer caches aren't billed to whichever timed
    // query touches a file first. min-of-2 does NOT absorb a cold read —
    // run 1 warms the cache mid-flight, so BOTH measured runs of the first
    // query can straddle cold I/O (r5 billed a 6 s cold read of the sf1
    // lineitem to q10, which is ~1.2 s warm).
    def warm(dir: String): Unit = {
      val files = Option(new java.io.File(dir).list()).getOrElse(Array.empty)
      files.filter(_.endsWith(".parquet")).sorted.foreach { t =>
        try spark.read.parquet(s"$dir/$t").write.format("noop").mode("overwrite").save()
        catch { case _: Throwable => () }
      }
    }
    warm(sfDir)
    // One warm-up of the flagship so JIT/codegen of the agg path isn't
    // billed to the first measured query.
    try Registry.byName("q10_tpch_q1").run(spark, sfDir).write
      .format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }

    // Machine-interference attribution: every run is bracketed by the
    // BenchGate signals (foreign CPU cores, foreign disk MB/s, device busy
    // fraction, loadavg, RSS). The r10 driver bench carried rows 17–23× the
    // quiet numbers with nothing in the artifact to prove the machine (not
    // the plan) was at fault; the r16 driver bench carried c20 at 33 s
    // `quiet: true` because the CPU-only gate was blind to foreign DISK
    // traffic. BenchGate measures both axes per run — see its Scaladoc for
    // the full design; dev/ioloadprobe_r17.jsonl records the I/O axis
    // validated against a deliberate dd co-load.
    import BenchGate.{Outcome, RunStamp, stampRun, isQuiet => gateQuiet, fmt2,
      cpuMeasurable, splitFailed, minTotal, stampJson, exitCode}
    val quietCeil = math.max(1.0, cpus.toDouble / 8)
    def isQuiet(r: RunStamp): Boolean = gateQuiet(r, quietCeil)
    // min of two runs: the first run of a query pays its one-off Janino
    // compiles and JIT warm-up, which say nothing about per-row throughput
    // (GraftSession's codegen cache holds every class, so a later run
    // compiles nothing; the stamps' compile fields show it). BOTH raw runs are
    // kept and emitted (`*_runs` fields) so machine interference is visible
    // in the artifact — the r8 driver bench showed phantom "regressions"
    // (q11 0.92→2.31 s) that a lone min-of-2 number can't distinguish from
    // a real plan change, but a [0.95, 2.31] pair can. When the two runs
    // disagree by >3× (the interference signature — warm runs should only
    // get faster), a THIRD run breaks the tie: min-of-3 then can't be a
    // lone spike, and the raw triple + load stamps prove which run was hit.
    def timeRuns(spec: QuerySpec, dir: String, tag: String): Seq[RunStamp] = {
      def one(): RunStamp = stampRun {
        spec.run(spark, dir).write.format("noop").mode("overwrite").save()
      }
      var runs = Seq(one(), one())
      // Second tie-break trigger (r11 ADVICE): if interference inflates
      // BOTH runs similarly, the >3x disagreement check never fires and
      // min-of-2 silently reports the inflated number. The load stamps
      // are already collected — when the post-run loadavg exceeds 1.5x
      // the core count (the bench's own 32 threads can drive loadavg to
      // ~cores when saturated, so bare `> cores` would false-trip), some
      // other process is competing and a third run is cheap insurance.
      // On a low-core run the loadavg trigger is skipped too: loadavg counts
      // the whole machine, and work on the cores outside our grant neither
      // competes with us nor indicts the measurement.
      val loadCeil = 1.5 * cpus.toDouble
      if (runs.map(_.sec).max > 3 * runs.map(_.sec).min ||
          (!lowCoreRun && runs.map(_.loadAfter).max > loadCeil)) {
        System.err.println(
          f"[bench] $tag${spec.name}: runs ${runs.map(_.sec).mkString(", ")} " +
            f"loads ${runs.map(_.loadAfter).mkString(", ")} — taking a third run")
        runs = runs :+ one()
      }
      // Load-gated retries (r15 VERDICT item 1): min-of-N saturates when
      // co-load persists across all N runs — the r15 driver artifact read
      // 4.5× the quiet truth with every run interfered. Retry until ONE
      // run executes with other-process CPU under the quiet ceiling (then
      // the min is a quiet-qualified number by construction), capped at 5
      // total runs: if no quiet window existed, the emitted quiet=false +
      // otherCores stamps prove it in one glance instead of overstating
      // silently. On a quiet machine this adds zero runs.
      // (skipped entirely when /proc is unreadable: quietness is then
      // unmeasurable, not false — r16 ADVICE; skipped on low-core runs:
      // foreign CPU on the ungranted cores is expected, not interference —
      // r18 VERDICT item 2; and never past the wall-clock deadline)
      while (!lowCoreRun && cpuMeasurable && !runs.exists(isQuiet) &&
          runs.size < 5 && inBudget) {
        System.err.println(
          s"[bench] $tag${spec.name}: no quiet run yet (otherCores " +
            runs.map(r => fmt2(r.otherCores)).mkString(", ") +
            "; foreignMBps " + runs.map(r => fmt2(r.foreignMbps)).mkString(", ") +
            "; devBusy " + runs.map(r => fmt2(r.devBusy)).mkString(", ") +
            ") — retrying")
        runs = runs :+ one()
      }
      runs
    }
    // A run that throws fails the whole query: it keeps no timing, so it
    // stays out of every total and is listed under `failed` instead.
    def runPair(spec: QuerySpec, dir: String, tag: String): Outcome =
      try spec.name -> Right(timeRuns(spec, dir, tag))
      catch { case e: Throwable =>
        System.err.println(s"[bench] $tag${spec.name} FAILED: $e")
        spec.name -> Left(e)
      }
    def minsJson(rs: Seq[(String, Seq[RunStamp])]): String =
      rs.map { case (k, v) => "\"" + k + "\":" + v.map(_.sec).min }
        .mkString("{", ",", "}")
    def runsJson(rs: Seq[(String, Seq[RunStamp])]): String =
      rs.map { case (k, v) => "\"" + k + "\":" + v.map(_.sec).mkString("[", ",", "]") }
        .mkString("{", ",", "}")
    // stamp arrays (layout in BenchGate.stampJson) grow only at the end:
    // [6] = slowest completed stage's wall (s), [7] = stages run,
    // [8] = JIT code-cache occupancy MB after the run, [9]/[10] = Janino
    // compiles/ms and [11] = JIT ms during the run.
    def stampsJson(rs: Seq[(String, Seq[RunStamp])]): String =
      rs.map { case (k, v) =>
        "\"" + k + "\":" + v.map(stampJson).mkString("[", ",", "]")
      }.mkString("{", ",", "}")
    // Quiet qualification per query: true iff at least one run executed
    // with other-process CPU under the ceiling. Once a quiet run exists,
    // min-of-all-runs is a valid measurement (interference only ever
    // SLOWS a run, so a faster unquiet run is better evidence, not an
    // artifact); quietTotal is therefore the subtotal over quiet-
    // qualified queries — equal to `value` on a quiet machine, and the
    // unquiet queries are enumerable from queries_quiet when it isn't.
    // The headline is load-qualified by construction, not by forensic
    // stamp-reading (r15 VERDICT item 1).
    // All three emit null when quietness is unmeasurable (no /proc): a
    // missing measurement must not masquerade as quiet_total=0 /
    // all-unquiet (r16 ADVICE).
    // On low-core runs quietness is not a meaningful fact about our grant
    // (see lowCoreRun above), so the quiet fields emit null there too.
    def quietJson(rs: Seq[(String, Seq[RunStamp])]): String =
      rs.map { case (k, v) =>
        "\"" + k + "\":" + (if (lowCoreRun || !cpuMeasurable) "null"
          else v.exists(isQuiet).toString)
      }.mkString("{", ",", "}")
    def quietTotal(rs: Seq[(String, Seq[RunStamp])]): String =
      if (lowCoreRun || !cpuMeasurable) "null"
      else rs.collect { case (_, v) if v.exists(isQuiet) => v.map(_.sec).min }
        .sum.toString
    def unquietCount(rs: Seq[(String, Seq[RunStamp])]): String =
      if (lowCoreRun || !cpuMeasurable) "null"
      else rs.count { case (_, v) => !v.exists(isQuiet) }.toString
    def namesJson(ns: Seq[String]): String =
      ns.map(Verify.jsonString).mkString("[", ",", "]")
    val (results, failed) =
      splitFailed(Registry.headline.map(spec => runPair(spec, sfDir, "")))
    val qs = minsJson(results)
    val total = minTotal(results)
    val failedJson = s""","failed":${namesJson(failed)}"""
    // Headline JSON FIRST (r18 VERDICT item 2): if this run is later killed
    // mid-sf1 (time budget, OOM on a constrained box), the stdout tail still
    // carries one parseable line with the driver-graded fields. Marked
    // provisional; the full/compact lines below remain the last words on a
    // successful run.
    println(s"""{"metric":"total","value":$total,"unit":"sec","quiet_total":${quietTotal(results)},"unquiet_count":${unquietCount(results)},"queries":$qs$failedJson,"sf":"$sfDir","provisional":true}""")

    // Optional larger-SF point: the headline set is overhead-dominated at
    // sf0.1 on 32 cores (~0.4 s fixed job setup per query), so per-row
    // throughput trends only show at bigger data. Runs when the data exists
    // (or SPARK_GRAFT_SF1_DIR points elsewhere); emitted as extra fields in
    // the same single JSON line the driver parses.
    // candidate sf1 locations: env override, driver testdata, then the
    // locally generated tiling of sf0.1 (tools/GenSf1 — 6M lineitem rows,
    // the same scale as TPC-H sf1)
    val sf1Dir = (sys.env.get("SPARK_GRAFT_SF1_DIR").toSeq ++
      Seq("/root/testdata/sf1", "/root/repo/local/sf1"))
      .find(d => new java.io.File(s"$d/lineitem.parquet").exists())
      .getOrElse("/root/repo/local/sf1")
    // The tiling is deterministic (tools/GenSf1) and cheap (~1 min once), so
    // regenerate it rather than silently dropping the sf1 series — the r6
    // artifact carried sf1_duckdb_total with NO Spark sf1 numbers because
    // this dir was absent at driver bench time. Guard: only auto-generate
    // into the repo-local gitignored path, never under /root/testdata.
    if (!new java.io.File(s"$sf1Dir/lineitem.parquet").exists() &&
        sf1Dir.startsWith("/root/repo/") &&
        new java.io.File(s"$sfDir/../sf0.1/lineitem.parquet").getCanonicalFile.exists()) {
      // A failure PAST the lineitem write would leave a half-tiling that
      // passes the existence check below and kills the sf1 series mid-run
      // — so track success explicitly and delete the partial dir on any
      // failure, leaving the check a clean miss (series marked skipped).
      var genOk = false
      val t = time {
        try {
          graft.tools.GenSf1.generate(spark,
            new java.io.File(s"$sfDir/../sf0.1").getCanonicalPath, sf1Dir)
          genOk = true
        } catch { case e: Throwable =>
          System.err.println(s"[bench] sf1 generation failed: ${e.getMessage}")
        }
      }
      if (genOk) System.err.println(
        f"[bench] generated sf1 tiling at $sf1Dir in $t%.1f s")
      else {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
        }
        rm(new java.io.File(sf1Dir))
        System.err.println(s"[bench] removed partial sf1 tiling at $sf1Dir")
      }
    }
    // (sf1 JSON fragment, structured summary for the compact line) — the
    // compact line is built from the SAME in-scope values as the fragment,
    // not by re-parsing the rendered string, so the two cannot drift
    // (r12 ADVICE).
    val (sf1, sf1Summary) = if (new java.io.File(s"$sf1Dir/lineitem.parquet").exists()) {
      warm(sf1Dir)
      def timed(spec: QuerySpec): Outcome = runPair(spec, sf1Dir, "sf1 ")
      val (r1, f1) = splitFailed(Registry.headline.map(timed))
      // non-headline operators whose cost profile only shows at scale:
      // clustering (iterative CC), contamination (gram join), inverted
      // index (wide posting rows), LSH ANN (index build), heavy hitters
      // (sketch agg), TPC-H Q9 (6-way join over synthesized partsupp),
      // media pHash near-dup (payload byte fan-out), unigram LM scoring
      // (token-model join). sf1_total stays the headline-only sum so the
      // round-over-round series is comparable; the extension is separate.
      // r8 adds the newest ops so their scale numbers are driver-committed,
      // not just probe-logged: t10 (chunk explode fan-out), c14 (weighted
      // top-k sampling), d13 (URL-keyed dedup), d15 (stride-1 gram
      // explosion — the suite's biggest row fan-out), d16 (bloom-guarded
      // ingest), p04 (diff-driven re-pack)
      // ... and the round-8 additions: s08 (PQ codebook train + compressed
      // serve), c18 (BPE train+encode — k type-table rounds), c19
      // (domain stats — digest join + host aggs), c20 (DSIR two-model
      // token join + partial top-k)
      val extNames = Vector("d08_dup_clusters", "d09_contamination",
        "c09_inverted_index", "c10_inverted_index_sharded", "s02_ann_lsh",
        "e11_heavy_hitters", "q81_tpch_q9", "m04_media_neardup",
        "c13_unigram_lm_score", "d12_line_dedup", "p01_publish_manifest",
        "t10_chunking", "c14_weighted_sample", "d13_url_dedup",
        "d15_substr_span_dedup", "d16_dedup_bloom_incremental",
        "p04_incremental_publish", "s08_pq_adc", "c18_bpe_encode",
        "c19_domain_stats", "c20_dsir_select",
        // ... and this round's batch: c22 (bigram model build + size-gated
        // scoring join), d21 (CC + per-cluster argmax), s09 (broadcast
        // range scan), t11 (map-side anomaly counters)
        "c22_bigram_lm_score", "d21_quality_survivors", "s09_range_search",
        "t11_encoding_anomalies",
        // ... and the second r8 wave: t13 (per-feature hash scoring — the
        // widest map-side expression in the suite), e15 (chunked range
        // join), d20 (bench-proportional decontamination), s10 (all-
        // queries kNN graph build), c24 (Lloyd + balanced resampling)
        "t13_classifier_score", "e15_range_join", "d20_crosscorpus_neardup",
        // s13 REPLACES s10 in the benched set (r9): s10's oracle-pinned
        // nBits=8 burns ~47M cosines at sf1 by contract; s13 is the same
        // graph build with the code width scaled to the corpus
        // (Similarity.scaledBits) — the configuration you would deploy,
        // and therefore the one the bench should time. s10 itself stays
        // oracle-gated at both SFs.
        "s13_knn_graph_scaled", "c24_cluster_mix",
        // ... and the third r8 wave: s12 (two-arm retrieval + fusion), m07
        // (chunk-hash store accounting), c25 (digest survivor accounting),
        // e16 (cohort rollup)
        "s12_hybrid_rrf", "m07_chunk_dedup_ratio", "c25_effective_tokens",
        "e16_cohort_retention", "t16_code_detect", "p08_mixing_manifest",
        "e17_transition_matrix", "m08_format_stats",
        // ... and the round-10 additions: real-codec decode paths (m01
        // PNG/BMP decode, m03 true resample, m09 WAV decode — per-row
        // codec cost is the scale story), p09 (size-only compaction
        // planner), t17 (trigram-profile classifier — the widest
        // array_contains battery in the suite)
        "m01_media_features", "m03_resize", "m09_audio_features",
        "p09_compaction_plan", "t17_lang_classifier",
        // ... and the round-11 additions: d22 (normalized paragraph keys —
        // one more corpus-keyed text shuffle), p10 (pack + manifest
        // shuffle), c26 (K Viterbi-EM rounds over the type table — the
        // driver-loop cost profile like c17)
        "d22_paragraph_dedup", "p10_shard_shuffle", "c26_unigram_lm_train",
        // ... and the round-13 additions: t18 (block split + per-block
        // regex battery — the widest per-row HOF stack in the suite),
        // t19 (chunk array self-scan), t07b (3-pattern regex scrub),
        // p11 (bounded container build + declared-size walk)
        "t18_markup_extract", "t19_repeated_span_strip",
        "t07b_pii_breadth", "p11_warc_ingest",
        // ... and the round-14 additions: t20 (6 unrolled full-batch
        // gradient rounds — the model-training cost profile), t21
        // (suffix explode + broadcast blocklist intersect), c27 (LM score
        // + rank thresholds + broadcast bucket assign), d23 (cross-corpus
        // sign-LSH + bounded buckets + exact-cosine verify)
        "t20_classifier_train", "t21_blocklist_filter",
        "c27_perplexity_buckets", "d23_semantic_decontam",
        // ... and the round-15 additions: t20b (sample-trained model +
        // one corpus-wide broadcast serve — the deployable twin of t20),
        // c28 (tokenizer fertility under the pinned c18a merge chain)
        "t20b_classifier_sampled", "c28_tokenizer_fertility",
        // ... plus the second r15 wave: t22 (map-side scoring + host-keyed
        // prior + size-gated join-back), s14 (two decimal-exact fit passes
        // incl. the n·d² covariance fan-out + map-side projection serve),
        // c29 (one lang-keyed agg — scan-bound)
        "t22_host_prior_filter", "s14_pca_project", "c29_temperature_mix",
        // t23 (grid cross join absorbed by partial agg), s14b (single-
        // pass Gram buffer — the deployable PCA fit, timed against s14's
        // exact n·d² pass)
        "t23_threshold_sweep", "s14b_pca_fast",
        // ... and the third r15 wave: p12 (explode fan-out collapsed by a
        // struct-max partial agg — the window-free CDC merge), p13 (two
        // chained bounded aggs over one pinned scan), s16 (128-accumulator
        // stats pass + map-only encode), c30 (tokenize + dictionary
        // checkpoint + broadcast membership join)
        "p12_latest_wins_merge", "p13_zone_map_prune", "s16_sq8_quantize",
        "c30_vocab_coverage", "c31_vocab_growth",
        // s17 (s11's graph + CC + keeper argmin - the full SemDeDup
        // mask), p14 (two bucketed writes + exchange-free SMJ)
        "s17_semantic_survivors", "p14_bucketed_join",
        // t24 (one scored scan + 24-group agg - scan-bound drift report)
        "t24_score_drift",
        // ... and the round-16 additions: c32 (trigram-keyed model shuffle
        // + size-gated scoring join — the KenLM-shaped filter; the widest
        // n-gram model in the suite), c33 (c32 scores + the c27 tertile
        // decision layer)
        "c32_kneser_ney_score", "c33_kn_perplexity_buckets",
        // s17b (s17's graph+CC at corpus-scaled code width — the
        // deployed configuration, now oracled), p15 (manifest + delta
        // mergeable rollup — the per-append zone upsert)
        "s17b_survivors_scaled", "p15_zone_map_incremental",
        // s18 (Lloyd + PQ train + one-pass cell+code index + routed ADC
        // — the composed FAISS serve shape), t25/t26 (map-side signal
        // scan + c13 model shuffle + two 1-row stat aggs — the ensemble
        // decision layer and its calibration sweep)
        "s18_ivfpq_ann", "t25_quality_ensemble", "t26_ensemble_sweep",
        // s19 (residual-encoded IVFPQ — adds the residual pass + the
        // per-(query,cell) qc scalar to s18's shape), c34 (c33's chain
        // + token-count join + cell rollup)
        "s19_ivfpq_residual", "c34_kn_mixing_manifest",
        // t25b (the serve-configuration ensemble: bounded truncated-LM
        // vote — the shape the streaming gate broadcasts), c32b (the
        // pruned-model KN serve — same chain, CASE'd max-term)
        "t25b_ensemble_serve", "c32b_kn_pruned_score",
        // ... and the round-17 additions: s18b/s19b (the SAMPLED-training
        // IVF-PQ deployment configs — training cost decoupled from corpus
        // size, now oracled AND benched), s20 (frozen-quantizer append +
        // union-merge index maintenance)
        "s18b_ivfpq_sampled", "s19b_ivfpq_residual_sampled",
        "s20_ann_index_append", "s20b_ann_index_delete",
        // c35/c35b (order-5 KN — one 5-gram-keyed model shuffle, the
        // widest n-gram key in the suite, + the size-gated scoring
        // join; c35b adds the CASE'd pruned max-term)
        "c35_kn5_score", "c35b_kn5_pruned_score",
        // c36 (base+delta count merge + the same scoring tail — times
        // the incremental maintenance overhead against c35's one-shot)
        "c36_kn5_count_merge",
        // ... and the round-18 additions (the mid-build contract rows,
        // added so the driver's own artifact carries their scale
        // numbers): c37 (reference-trained open-vocab KN — the CCNet
        // deployment config: bounded model, corpus-wide broadcast
        // left-join chain), c38 (count retraction — takedown against
        // the KN artifact), c39/c39b (incremental inverted index and
        // BM25 from the maintained index), p17/p18 (takedown through
        // zone + publish manifests), c26b (one full unigram-EM round)
        "c37_kn5_ref_trained", "c38_kn5_count_retract",
        "c39_inverted_index_incremental", "c39b_bm25_from_index",
        "p17_zone_map_takedown", "p18_publish_takedown",
        "c26b_unigram_em_round",
        // ... and the round-19 addition: c36b (c36's merge consuming the
        // base count table from bucketed-by-h storage — the p14 pattern;
        // the base side of the merge join carries no exchange, so the
        // delta-only-shuffle claim is driver-timed, not probe-only)
        "c36b_kn5_bucketed_merge")
      // Budget-bounded ext series: past the wall-clock deadline the
      // remaining ext queries are SKIPPED (named in sf1_ext_skipped) so the
      // run always terminates and prints its JSON — a truncated artifact
      // beats a SIGKILLed one with no JSON at all (the r18 c8 run).
      val extSpecs = extNames.flatMap(Registry.byName.get)
      val extSkipped = scala.collection.mutable.ArrayBuffer.empty[String]
      val (rExt, fExt) = splitFailed(extSpecs.flatMap { spec =>
        if (inBudget) Some(timed(spec))
        else { extSkipped += spec.name; None }
      })
      if (extSkipped.nonEmpty) System.err.println(
        s"[bench] budget ${budgetSec}s exhausted — skipped ${extSkipped.size} " +
          s"ext queries: ${extSkipped.mkString(", ")}")
      val q1 = minsJson(r1 ++ rExt)
      val q1runs = runsJson(r1 ++ rExt)
      val q1stamps = stampsJson(r1 ++ rExt)
      val q1quiet = quietJson(r1 ++ rExt)
      val sf1Tot = minTotal(r1)
      val extTot = minTotal(rExt)
      val sf1QTot = quietTotal(r1); val extQTot = quietTotal(rExt)
      val sf1Unq = unquietCount(r1 ++ rExt)
      val mins = (r1 ++ rExt).map { case (k, v) => k -> v.map(_.sec).min }
      val skippedJson =
        if (extSkipped.isEmpty) ""
        else s""","sf1_ext_skipped":${namesJson(extSkipped.toSeq)}"""
      val sf1Failed = f1 ++ fExt
      (s""","sf1_total":$sf1Tot,"sf1_quiet_total":$sf1QTot,"sf1_ext_total":$extTot,"sf1_ext_quiet_total":$extQTot,"sf1_unquiet_count":$sf1Unq,"sf1_queries":$q1,"sf1_queries_runs":$q1runs,"sf1_queries_stamps":$q1stamps,"sf1_queries_quiet":$q1quiet,"sf1_failed":${namesJson(sf1Failed)},"sf1_dir":"$sf1Dir"$skippedJson""",
        Some((sf1Tot, extTot, mins, sf1Failed)))
    } else ("", None)
    // HLL-only distinct count: q39's contract output folds in an exact
    // countDistinct purely so the DuckDB oracle can hash-match it, which
    // hides the bounded-memory sketch's cost profile. Time the sketch alone
    // here so the 100 TB scale claim (mergeable HLL partials, no exact
    // distinct shuffle) stays exercised by the bench.
    val hll = (1 to 2).map { _ =>
      time {
        import org.apache.spark.sql.functions.{approx_count_distinct, col}
        graft.engine.Tables(spark, sfDir, "lineitem")
          .groupBy("l_returnflag")
          .agg(approx_count_distinct(col("l_partkey"), 0.02).as("approx"))
          .write.format("noop").mode("overwrite").save()
      }
    }.min
    // d03 context for round-over-round reads: r2's 3-pass hot-bucket guard
    // (groupBy-count + broadcast anti-join + self-join) was replaced by one
    // bounded min-(cap+1) aggregation folded into candidate generation
    // (functions/BoundedCollect, queries/Dedup.bucketCandidates). The
    // remaining gap vs the guardless r1 shape is that one aggregation —
    // guard-safety by design, not a plan regression.
    val note = "d03 guard folded into one bounded aggregation (r2 was 3-pass)"
    // DuckDB-running-identical-oracle-SQL totals, measured by
    // dev/duckdb_bench.py (same parquet, same SQL as the oracle gate,
    // min-of-2, all cores) and committed as dev/duckdb_bench.json. Read
    // here so ONE machine-readable line carries both engines' totals; the
    // python tool stays driver-side (the library itself never touches
    // DuckDB). Keyed by the SF dir's basename.
    def duckTotal(dir: String): Option[Double] = {
      val f = Paths.get("dev/duckdb_bench.json")
      if (!Files.exists(f)) None
      else {
        val base = new java.io.File(dir).getName
        val re = ("\"" + java.util.regex.Pattern.quote(base) +
          "\"\\s*:\\s*\\{\\s*\"total\"\\s*:\\s*([0-9.]+)").r
        re.findFirstMatchIn(Files.readString(f)).map(_.group(1).toDouble)
      }
    }
    val duck = duckTotal(sfDir).map(v => s""","duckdb_total":$v""").getOrElse("")
    // never pair a DuckDB sf1 total with a missing Spark sf1 series (the r6
    // artifact did exactly that and read as a vanished measurement)
    val duck1 =
      if (sf1.isEmpty) ""","sf1":"skipped (no data)""""
      else duckTotal(sf1Dir).map(v => s""","sf1_duckdb_total":$v""").getOrElse("")
    val line = s"""{"metric":"total","value":$total,"unit":"sec","quiet_total":${quietTotal(results)},"unquiet_count":${unquietCount(results)},"queries":$qs$failedJson,"queries_runs":${runsJson(results)},"queries_stamps":${stampsJson(results)},"queries_quiet":${quietJson(results)},"sf":"$sfDir","hll_only":$hll,"note":"$note"$duck$sf1$duck1}"""
    println(line)
    // The same line, file-based: the driver harvests the stdout tail, where
    // the JSON rides behind sbt's "[info] " prefix and a tail window that
    // has truncated it before (BENCH_r08 lost the sf0.1 headline total; the
    // driver's `parsed` field has been null every round). A file can be
    // neither prefix-mangled nor tail-truncated.
    try {
      Files.writeString(Paths.get("bench_out.json"), line + "\n")
      // Provenance stamp (both streams): ties the committed file to this
      // run, so a driver-harvested artifact that differs is attributable
      // in one glance (the r9 close carried an interference-skewed e11).
      val d = java.security.MessageDigest.getInstance("MD5")
      val bytes = Files.readAllBytes(Paths.get("bench_out.json"))
      val md5 = d.digest(bytes).map("%02x".format(_)).mkString
      // byte count from the md5'd bytes, not line.length — a char count
      // would disagree with the file size on any non-ASCII content and
      // defeat the stamp's attribution purpose
      val stamp = s"[bench] provenance: bench_out.json bytes=${bytes.length} md5=$md5"
      println(stamp); System.err.println(stamp)
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not write bench_out.json: ${e.getMessage}")
    }
    // Compact summary as the FINAL stdout line. The driver's harvester
    // parses only a ~2000-char tail of stdout; the full line above is
    // ~23 KB, so BENCH_r{9,10,11}.json all carried `parsed: null`. This
    // line keeps the driver-graded fields (metric/value/unit/queries/sf)
    // under ~1.5 KB — headline mins, totals, and the 5 slowest sf1-ext
    // queries; full per-run detail stays in bench_out.json. Built from
    // the SAME in-scope values as the sf1 fragment (sf1Summary), never by
    // re-parsing the rendered string (r12 ADVICE).
    val sf1Fields = sf1Summary.map { case (t, e, _, f) =>
      s""","sf1_total":$t,"sf1_ext_total":$e,"sf1_failed":${namesJson(f)}"""
    }.getOrElse("")
    val slow5 = sf1Summary.map { case (_, _, mins, _) =>
      val top = mins.sortBy(-_._2).take(5)
        .map { case (k, v) => s""""$k":$v""" }.mkString(",")
      s""","sf1_slowest":{$top}"""
    }.getOrElse("")
    val compact =
      s"""{"metric":"total","value":$total,"unit":"sec","quiet_total":${quietTotal(results)},"unquiet_count":${unquietCount(results)},"queries":$qs$failedJson,"sf":"$sfDir","hll_only":$hll$duck$sf1Fields$duck1$slow5,"full":"bench_out.json"}"""
    // Emit the compact line AFTER spark.stop() and through the raw file
    // descriptor, as the process's genuinely last stdout bytes: the r12
    // driver tail showed the line arriving prefixed "[info] " (sbt logger
    // capture) and followed by sbt's "[success] Total time…" — so the
    // driver's last-line parser still saw non-JSON. build.sbt pairs this
    // with run / outputStrategy := StdoutOutput (no logger prefix) and
    // Global / showSuccess := false (no trailing [success] line).
    // stop() runs inside try/finally: a teardown failure (shutdown-hook /
    // executor-cleanup error) must not lose the already-computed line.
    try spark.stop()
    catch { case e: Throwable => System.err.println(s"bench: spark.stop() failed: $e") }
    finally {
      val rawOut = new java.io.PrintStream(new java.io.FileOutputStream(
        java.io.FileDescriptor.out), true)
      rawOut.println(compact)
      rawOut.flush()
    }
    val sf1Failed = sf1Summary.map(_._4).getOrElse(Nil)
    val code = exitCode(failed, sf1Failed)
    if (code != 0) {
      System.err.println(
        s"[bench] exiting $code: failed ${(failed ++ sf1Failed).mkString(", ")}")
      sys.exit(code)
    }
  }
}
