package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Cast, ConditionalExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{Count, DeclarativeAggregate, Final,
  Partial}
import org.apache.spark.sql.execution.{FormattedMode, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec,
  SortAggregateExec}
import org.apache.spark.sql.types.DecimalType

import graft.engine.ExactSum
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan quality gates — the properties that decide whether a query
  * survives a 100× scale-up. These are assertions, not aspirations: if a
  * refactor un-broadcasts a dim join or breaks parquet pushdown, this suite
  * fails even though results stay correct.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  val sf = SharedSpark.sf

  private def plan(name: String): String =
    Registry.byName(name).run(spark, sf).queryExecution.explainString(FormattedMode)

  /** The detail block of every shuffle Exchange node in a formatted plan:
    * its `Input` attribute list (the payload it moves) and its
    * `Arguments` line (the partitioning keys). */
  private def shuffleExchanges(p: String): List[String] =
    p.split("\n\n").toList.filter(_.matches("(?s)\\(\\d+\\) Exchange\\b.*"))

  test("filters reach the parquet scan (q02)") {
    val p = plan("q02_filter")
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), IsNotNull(l_shipdate), " +
      "GreaterThan(l_quantity,30.0), LessThan(l_shipdate,"), p)
  }

  test("column pruning reaches the scan — only needed columns are read") {
    val p = plan("q01_scan_project")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_returnflag:string>"), p)
    val t = plan("t01_token_stats")
    assert(t.contains("ReadSchema: struct<doc_id:bigint,text:string>"), t)
  }

  test("dimension joins broadcast instead of shuffling (q11, q13)") {
    assert(plan("q11_join_broadcast").contains("BroadcastHashJoin"))
    val q5 = plan("q13_tpch_q5")
    assert(q5.contains("BroadcastHashJoin"), q5)
  }

  test("aggregation is partial+final (map-side combine) (q10)") {
    val p = plan("q10_tpch_q1")
    // partial_* functions before the exchange = map-side combine; the
    // exchange moves only per-group partial states, not rows
    assert(p.contains("partial_sum"), p)
    assert(p.contains("hashpartitioning(l_returnflag"), p)
  }

  test("top-K uses TakeOrderedAndProject, not a global sort (q17)") {
    val p = plan("q17_sort_limit")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange rangepartitioning"), p)
  }

  test("semi/anti joins plan as LeftSemi/LeftAnti (q14, q15)") {
    assert(plan("q14_semi_join").contains("LeftSemi"))
    assert(plan("q15_anti_join").contains("LeftAnti"))
  }

  test("scan-heavy queries run inside whole-stage codegen (q10)") {
    // codegen ids are assigned at execution (AQE) - run, then inspect
    val df = Registry.byName("q10_tpch_q1").run(spark, sf)
    df.collect()
    val p = df.queryExecution.explainString(FormattedMode)
    assert(p.contains("codegen id"), p)
  }

  test("q10 exact sums: hash aggregates in whole-stage codegen, no per-row decimal cast") {
    val df = Registry.byName("q10_tpch_q1").run(spark, sf)
    df.collect()
    val root = df.queryExecution.executedPlan
    def all(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => all(a.executedPlan)
      case q: QueryStageExec => q +: all(q.plan)
      case _ => p +: p.children.flatMap(all)
    }
    val nodes = all(root)
    assert(!nodes.exists(n => n.isInstanceOf[ObjectHashAggregateExec] ||
      n.isInstanceOf[SortAggregateExec]), root)
    // the operators one codegen stage fuses: up to the next stage boundary
    def fused(p: SparkPlan): Seq[SparkPlan] = p match {
      case _: QueryStageExec | _: WholeStageCodegenExec => Nil
      case _ => p +: p.children.flatMap(fused)
    }
    val inCodegen = nodes.collect { case w: WholeStageCodegenExec => fused(w.child) }
      .flatten.collect { case h: HashAggregateExec => h }
    val modes = inCodegen.map(_.aggregateExpressions.map(_.mode).distinct)
    assert(modes.sortBy(_.toString) == Seq(Seq(Final), Seq(Partial)), root)
    val partial = inCodegen.filter(_.aggregateExpressions.exists(_.mode == Partial))
    val fns = partial.flatMap(_.aggregateExpressions.map(_.aggregateFunction))
    // five distinct exact sums (davg's sum is shared with dsum's) + counts
    assert(fns.count(_.isInstanceOf[ExactSum]) == 5, fns)
    assert(fns.forall(f => f.isInstanceOf[ExactSum] || f.isInstanceOf[Count]), fns)
    // every expression a partial aggregate evaluates for each row: a
    // conditional expression contributes only its always-evaluated inputs
    def perRow(e: Expression): Seq[Expression] = e match {
      case c: ConditionalExpression => c +: c.alwaysEvaluatedInputs.flatMap(perRow)
      case _ => e +: e.children.flatMap(perRow)
    }
    val casts = fns.collect { case d: DeclarativeAggregate => d }
      .flatMap(_.updateExpressions.flatMap(perRow))
      .collect { case c: Cast if c.dataType.isInstanceOf[DecimalType] => c }
    assert(casts.isEmpty, casts)
  }

  test("q49/q68 SQL-text exact sums run on sum_exact, with no DECIMAL(38,10) cast") {
    for (q <- Seq("q49_in_grouped", "q68_grouping_sets")) {
      val lp = Registry.byName(q).run(spark, sf).queryExecution.optimizedPlan
      val exprs = lp.collectWithSubqueries { case n => n.expressions }.flatten
        .flatMap(_.collect { case e => e })
      assert(exprs.exists(_.isInstanceOf[ExactSum]), s"$q: no sum_exact:\n$lp")
      val casts = exprs.collect {
        case c: Cast if c.dataType == DecimalType(38, 10) => c }
      assert(casts.isEmpty, s"$q: DECIMAL(38,10) casts $casts:\n$lp")
    }
  }

  test("AQE coalesces shuffle partitions at runtime (q05)") {
    val df = Registry.byName("q05_group_agg").run(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // 3 groups through a 4-partition shuffle → AQE folds them into one read
    assert(p.contains("AQEShuffleRead"), p)
  }

  test("custom Fnv1a64 expression does not break codegen (t04 fingerprint)") {
    val df: DataFrame = Registry.byName("t04_fingerprint").run(spark, sf)
    df.collect()
    val p = df.queryExecution.explainString(FormattedMode)
    assert(p.contains("codegen id"), p)
  }

  test("e11 scans events once: weighted sketch rides the rollup's exchange") {
    // the exact groupBy frame feeds BOTH the broadcast stats agg (n + the
    // weighted MG sketch) and the output filter; the shared scan+partial-
    // agg+exchange subtree must collapse to one events scan via exchange
    // reuse — the d15/c25 single-materialization audit pattern
    val df = Registry.byName("e11_heavy_hitters").run(spark, sf)
    df.collect()
    // only the Final Plan section reflects what ran; the Initial Plan and
    // the per-node detail blocks repeat the scan and would double-count
    val p = df.queryExecution.explainString(FormattedMode)
      .split("== Initial Plan ==")(0)
    val eventScans = p.linesIterator.count(_.contains("Scan parquet"))
    assert(eventScans == 1, p)
    assert(p.contains("ReusedExchange"), p)
  }

  test("q63 (Q6 shape) pushes every predicate to the scan, no joins") {
    val p = plan("q63_tpch_q6")
    assert(p.contains("PushedFilters:"), p)
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), p)
    assert(!p.contains("Join"), p)
  }

  test("q64 (Q10 shape) broadcasts nation and top-20s via TakeOrderedAndProject") {
    val p = plan("q64_tpch_q10")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q62 EXISTS plans as a left-semi join with the date residual") {
    val p = plan("q62_tpch_q4_exists")
    assert(p.contains("LeftSemi"), p)
  }

  test("s04 IVF assignment is per-row: no Window/Exchange between scan and probe join") {
    val df = Registry.byName("s04_ann_ivf").run(spark, sf)
    val p = df.queryExecution.explainString(FormattedMode)
    // the round-1 shape had Window-argmin assignments (per-vec_id shuffles);
    // per-row argmax over the broadcast centroid array removes every Window
    // from the assignment path — the only Window NODE left is the final
    // rerank (formatted detail lines read "(n) Window"; WindowGroupLimit is
    // a different node)
    val windows = """\(\d+\) Window\b""".r.findAllIn(p).size
    assert(windows == 1, s"expected only the rerank window, got $windows:\n$p")
  }

  test("d09 pushes the split filters to the scan and joins without cartesian") {
    val p = plan("d09_contamination")
    assert(p.contains("EqualTo(source,src0)"), p)
    assert(p.contains("Not(EqualTo(source,src0))"), p)
    assert(!p.contains("CartesianProduct"), p)
    // per-doc overlap counting is a partial+final aggregate
    assert(p.contains("partial_count"), p)
  }

  test("d12 line dedup: hash-keyed count with partial agg, no cartesian") {
    val p = plan("d12_line_dedup")
    assert(!p.contains("CartesianProduct"), p)
    // the corpus-wide line count is partial+final keyed by the 8-byte FNV
    assert(p.contains("partial_count"), p)
    assert(p.contains("fnv1a64"), p)
    // only doc_id + text are read from the scan
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"), p)
  }

  test("c14 priority sampling is a partial top-k, not a global sort") {
    val p = plan("c14_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange hashpartitioning"), p)
  }

  test("q78 (Q8 shape) broadcasts the small dims; customer unhinted; no cartesian") {
    val p = plan("q78_tpch_q8")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the selective p_type filter reaches the part scan
    assert(p.contains("EqualTo(p_type,STANDARD)"), p)
    // customer carries no broadcast hint: at large SFs AQE may legitimately
    // pick a shuffle join for the region-filtered customers, so the gate is
    // "no cartesian", not "broadcast" (r6 verdict item 3)
  }

  test("q81 (Q9 shape): the p_name filter prunes part before the lineitem fan-out") {
    val p = plan("q81_tpch_q9")
    // the part-name filter reaches the part parquet scan as a pushed
    // predicate — partsupp derivation and the lineitem join both fan out
    // from the FILTERED part set, not all parts
    assert(p.contains("StringContains(p_name,red)"), p)
    // filtered part + derived partsupp broadcast into the lineitem scan
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("c13 unigram-LM scoring: model broadcasts, corpus never shuffles for the join") {
    val p = plan("c13_unigram_lm_score")
    // token → logp model attaches via broadcast hash join (vocab-sized);
    // the exploded corpus reaches the per-doc agg without a pre-join
    // exchange, and the 1-row stats frame rides a broadcast NLJ
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("c16 packing window partitions by (source, shard), never one task per source") {
    val p = plan("c16_sequence_pack")
    // the prefix-sum window must hash-partition on BOTH keys — per-task
    // state bounded by the shard width, not a source's total volume
    assert(p.contains("hashpartitioning(source"), p)
    val winArg = p.linesIterator.find(_.contains("windowspecdefinition"))
    assert(winArg.exists(l => l.contains("shard")), p)
  }

  test("e13 anomaly scoring: model broadcasts, events scored map-side") {
    val p = plan("e13_anomaly_zscore")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("t10 chunking never shuffles before the presentation sort") {
    val p = plan("t10_chunking")
    // map-side generate straight into the ordered output: the only
    // exchange is the final rangepartitioning for ORDER BY
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(p.contains("Generate"), p)
  }

  test("t12/t13/t14/m06 scoring stays scan-side — no shuffle before the sort") {
    for (q <- Seq("t12_readability", "t13_classifier_score",
        "t14_normalize", "m06_magic_sniff")) {
      val p = plan(q)
      assert(!p.contains("Exchange hashpartitioning"), s"$q:\n$p")
    }
  }

  test("t18/t19/t07b stay scan-side — no shuffle before the presentation sort") {
    for (q <- Seq("t18_markup_extract", "t19_repeated_span_strip",
        "t07b_pii_breadth")) {
      val p = plan(q)
      assert(!p.contains("Exchange hashpartitioning"), s"$q:\n$p")
    }
  }

  test("t21 blocklist match stays scan-side — broadcast rules, no corpus shuffle") {
    val p = plan("t21_blocklist_filter")
    // the bounded rule array arrives via broadcast...
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
    // ...and the corpus never hash-shuffles before the presentation sort
    assert(!p.contains("Exchange hashpartitioning"), p)
  }

  test("c27 bucket assignment joins the per-lang thresholds broadcast") {
    val p = plan("c27_perplexity_buckets")
    // the |langs|-row threshold frame must attach via BroadcastHashJoin —
    // a sort-merge here would shuffle the whole scored corpus by lang
    // (and a window over lang would sort an unsharded language partition)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("Window"), p)
  }

  test("p11 shuffles only the bounded container build — one exchange, then map-side walk") {
    val p = plan("p11_warc_ingest")
    val n = "Arguments: hashpartitioning".r.findAllIn(p).size
    assert(n == 1, s"expected exactly the container-build exchange, got $n:\n$p")
  }

  test("p12 latest-wins is ONE partial agg — no Window, one key exchange") {
    val p = plan("p12_latest_wins_merge")
    // the whole point of the struct-max form: a window would sort every
    // group; the agg shape shuffles once with map-side combine
    assert(!p.contains("Window"), p)
    val n = "Arguments: hashpartitioning".r.findAllIn(p).size
    assert(n == 1, s"expected exactly the doc_id group exchange, got $n:\n$p")
  }

  test("p13 zone verdict attaches the 1-row bounds via broadcast, no hash shuffle") {
    val p = plan("p13_zone_map_prune")
    // zones are checkpointed before this plan; the bounds agg is global
    // (single-partition) and re-enters via broadcast — a hashpartitioning
    // here would mean the zone frame is being re-shuffled for a 1-row join
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("Exchange hashpartitioning"), p)
  }

  test("s16 encode pass is map-only: stats broadcast, corpus never hash-shuffles") {
    val p = plan("s16_sq8_quantize")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
    // the stats pass is a global agg (single-partition exchange); the
    // encode pass must not hash-shuffle vectors anywhere
    assert(!p.contains("Exchange hashpartitioning"), p)
  }

  test("c30 vocab membership joins broadcast — the vocab never sort-merges") {
    val p = plan("c30_vocab_coverage")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("p14 bucketed join: zero exchanges at the join — only the rollup shuffles") {
    val p = plan("p14_bucketed_join")
    // both sides are bucketed on doc_id, so the SMJ must consume the
    // buckets' co-location: the ONLY exchange in the plan is the lang
    // rollup after the join
    assert(p.contains("SortMergeJoin"), p)
    val n = "Arguments: hashpartitioning".r.findAllIn(p).size
    assert(n == 1, s"expected only the lang-rollup exchange, got $n:\n$p")
  }

  test("c32 KN scoring: model join broadcasts at test scale; no cartesian") {
    val p = plan("c32_kneser_ney_score")
    // trigram-type table under the gate => the scoring join broadcasts;
    // past the gate it becomes a shuffle hash join (CorpusSpec pins
    // value-identity of the two paths)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("p15 incremental merge: verdict over the checkpointed merged manifest, no re-shuffle") {
    val p = plan("p15_zone_map_incremental")
    // the zone-grain merge rollup is materialized (checkpoint) before
    // the verdict; the visible plan must be p13's shape — 1-row bounds
    // via broadcast, never a hash shuffle of the zone frame
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("Exchange hashpartitioning"), p)
  }

  test("t25 ensemble decision: normalization stats re-enter via broadcast only") {
    val p = plan("t25_quality_ensemble")
    // feats are checkpointed; the visible plan is feats x 1-row stats —
    // a hashpartitioning here would mean the corpus re-shuffles to meet
    // two scalar rows
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
    assert(!p.contains("Exchange hashpartitioning"), p)
  }

  test("s18 routed ADC: query side prunes at the scan; no cartesian anywhere") {
    val p = plan("s18_ivfpq_ann")
    assert(p.contains("LessThan(vec_id,5"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("e15 range join decomposes to a hash join on chunks — never a nested loop") {
    val p = plan("e15_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the BETWEEN refine must survive as a join-side filter
    assert(p.contains("Join") || p.contains("HashJoin"), p)
  }

  test("q79 (Q13 shape) keeps the ON-residual on the left join's build side") {
    val p = plan("q79_tpch_q13")
    // the priority filter must prune orders BEFORE the outer join (ON
    // residual semantics), i.e. reach the orders scan as a pushed filter
    assert(p.contains("Not(EqualTo(o_orderpriority,1-URGENT))"), p)
    assert(p.contains("LeftOuter") || p.contains("RightOuter"), p)
  }

  test("c10 sharded inverted index: one hash shuffle, partial+final agg") {
    val p = plan("c10_inverted_index_sharded")
    // candidate rows shuffle ONCE, keyed (token, shard); the only other
    // exchange is the presentation orderBy's range partitioning (formatted
    // mode lists exchange arguments in the details section)
    val hashEx = "Arguments: hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 1, s"expected exactly one hash exchange, got $hashEx:\n$p")
    // map-side combine: per-doc distinct tokens reduce before the shuffle
    assert(p.contains("partial_count"), p)
  }

  test("s05 broadcasts the centroids; the corpus is never shuffled for the join") {
    val p = plan("s05_label_centroid_score")
    assert(p.contains("BroadcastHashJoin"), p)
    // the only Exchanges are in the centroid build (explode+agg) and the
    // final orderBy's range partitioning — the corpus side of the score
    // join must go scan -> broadcast join with no hash repartition between
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("runtime bloom filter prunes the probe side of a selective big-big join") {
    // At 100 TB a selective filter on one join side should not leave the
    // other side scanning everything: Spark's runtime bloom filter builds a
    // filter from the selective (creation) side and injects might_contain
    // into the probe side's scan stage. Pin that the injection actually
    // fires on this Spark build for the big-big (non-broadcast) join shape.
    import org.apache.spark.sql.functions.col
    val conf = spark.conf
    val savedBroadcast = conf.get("spark.sql.autoBroadcastJoinThreshold")
    conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val d = sf
      val orders = graft.engine.Tables(spark, d, "orders")
        .filter(col("o_totalprice") > 400000)
      val lineitem = graft.engine.Tables(spark, d, "lineitem")
      val j = lineitem.join(orders, col("l_orderkey") === col("o_orderkey"))
      val p = j.queryExecution.optimizedPlan.toString
      assert(p.contains("might_contain"), s"no runtime bloom filter injected:\n$p")
    } finally {
      conf.set("spark.sql.autoBroadcastJoinThreshold", savedBroadcast)
      conf.unset("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
    }
  }

  test("c07 pairs the per-lang sketches via broadcast NLJ, not CartesianProduct") {
    val p = plan("c07_lang_sketch_similarity")
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("s03 candidate generation is the bounded guard, not a raw bucket self-join") {
    val p = plan("s03_embedding_neardup")
    // bounded minK aggregation keyed on (tbl, code) — the hot-bucket guard —
    // then candidate pairs re-attach embeddings via two key joins; a raw
    // self-join of the coded frame would show neither the bounded_min_k
    // aggregate nor the pair explode
    assert(p.contains("boundedmink") || p.contains("bounded_min_k") ||
      p.toLowerCase.contains("mink"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("c05 runs as one job: no driver-side count in the query path") {
    // building the frame must not trigger a Spark job (the old shape ran
    // docs.count() eagerly); job-free construction == lazy all the way
    val sc = spark.sparkContext
    val before = sc.statusTracker.getJobIdsForGroup(null).length
    Registry.byName("c05_tf_idf").run(spark, sf)
    val after = sc.statusTracker.getJobIdsForGroup(null).length
    assert(after == before, "c05 construction triggered a Spark job")
  }

  test("d15 gram text never shuffles: dup-key agg is partial+final on the 8-byte hash") {
    val p = plan("d15_substr_span_dedup")
    // cross-doc test is min/max with map-side combine, keyed on the hash
    assert(p.contains("partial_min"), p)
    assert(p.contains("hashpartitioning(h#"), p)
    // gram STRING column (g) must not appear in any exchange's output —
    // only its two 8-byte hashes move between stages
    val exchanges = shuffleExchanges(p)
    assert(exchanges.nonEmpty, p)
    assert(!exchanges.exists(_.matches("(?s).*\\bg#\\d+.*")),
      s"gram text leaks into a shuffle:\n${exchanges.mkString("\n\n")}")
  }

  test("c35/c36 KN: no gram strings in any exchange — hashes only") {
    // r17 verdict item 1: past the broadcast gate the order-5 KN family
    // used to shuffle the corpus-sized gram stream AND the model on five
    // full string columns. Now every group/join key is a fused 8-byte
    // window hash computed map-side (knNgramHashStream); the token array
    // and the text column must be consumed before any exchange.
    for (q <- Seq("c35_kn5_score", "c36_kn5_count_merge",
        "c36b_kn5_bucketed_merge", "c37_kn5_ref_trained",
        "c38_kn5_count_retract")) {
      val p = plan(q)
      val exchanges = shuffleExchanges(p)
      assert(exchanges.nonEmpty, p)
      assert(!exchanges.exists(_.matches("(?s).*\\btext#\\d+.*")),
        s"$q: doc text leaks into a shuffle:\n${exchanges.mkString("\n\n")}")
      assert(!exchanges.exists(_.matches("(?s).*\\bg\\d+#\\d+.*")),
        s"$q: gram strings leak into a shuffle:\n${exchanges.mkString("\n\n")}")
    }
    // c37's deployment path: the reference model is bounded by design, so
    // every scoring-side model join must broadcast — a SortMergeJoin
    // anywhere means the corpus stream got shuffled for a model lookup
    val p37 = plan("c37_kn5_ref_trained")
    assert(!p37.contains("SortMergeJoin"),
      s"c37 scoring must be all-broadcast:\n$p37")
  }

  test("c32b/c33/c34: order-3 scorer is hash-keyed — no token strings in any exchange") {
    // every order-3 KN row (c32 included) runs the hash-keyed scorer: the
    // doc text and any u/v/w token column must be consumed map-side; only
    // 8-byte window hashes (h, x*, s*, u1..u3) and the tiny decision-layer
    // keys (doc_id, lang) may shuffle.
    // Every shuffle Exchange is checked on its keys AND its Input payload.
    // c33's and c34's plans stop at the scorer's eager localCheckpoint, so
    // the scorer is gated directly too: its own plan (model build and
    // scoring join) and the count shuffle that feeds the checkpoint.
    val docs = graft.engine.Tables(spark, sf, "documents")
    val scorer = Seq(
      "knNgramScore(docs, 3, minCount = 2)" ->
        queries.Corpus.knNgramScore(docs, 3, minCount = 2),
      "knGramHashCounts(docs, 3)" -> queries.Corpus.knGramHashCounts(
        queries.Corpus.knNgramHashStream(docs, 3), 3, "PlanSpec"))
      .map { case (k, df) => k -> df.queryExecution.explainString(FormattedMode) }
    val rows = Seq("c32_kneser_ney_score", "c32b_kn_pruned_score",
      "c33_kn_perplexity_buckets", "c34_kn_mixing_manifest").map(q => q -> plan(q))
    for ((q, p) <- rows ++ scorer) {
      val exchanges = shuffleExchanges(p)
      assert(exchanges.nonEmpty, p)
      assert(!exchanges.exists(_.matches("(?s).*\\btext#\\d+.*")),
        s"$q: doc text leaks into a shuffle:\n${exchanges.mkString("\n\n")}")
      assert(!exchanges.exists(_.matches("(?s).*\\b[uvw]#\\d+.*")),
        s"$q: token strings leak into a shuffle:\n${exchanges.mkString("\n\n")}")
    }
  }

  test("d16 bloom guard probes map-side; only positives reach the anti join") {
    val p = plan("d16_dedup_bloom_incremental")
    assert(p.contains("might_contain"), p)
    assert(p.contains("LeftAnti"), p)
  }

  test("p04 diff joins digests, not text: no text column in the outer-join shuffle") {
    val p = plan("p04_incremental_publish")
    assert(p.contains("FullOuter"), p)
    // every exchange moves doc_id + 32-char digests (+ shard); the text
    // column is consumed by md5() inside the scan-side project
    val exchanges = shuffleExchanges(p)
    assert(exchanges.nonEmpty, p)
    assert(!exchanges.exists(_.matches("(?s).*\\btext#\\d+.*")),
      s"text leaks into a shuffle:\n${exchanges.mkString("\n\n")}")
  }

  test("s08 PQ: codebooks/LUT broadcast; the encoded corpus scan never hash-shuffles") {
    val p = plan("s08_pq_adc")
    // encode + ADC scoring ride broadcast joins (codebook row, then the
    // query LUT row); the TopK partial aggregation bounds what reaches
    // its exchange; the only hashpartitioning exchanges ship shortlist-
    // sized frames (q_id keys), never the corpus embedding column
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
    assert(p.contains("TopKPerKey"), p)
    val exchanges = shuffleExchanges(p)
    assert(!exchanges.exists(_.matches("(?s).*\\bembedding#\\d+.*")),
      s"corpus embeddings leak into a shuffle:\n${exchanges.mkString("\n\n")}")
  }

  test("s13 kNN serve: rank<=k cut is a WindowGroupLimit, partial before the exchange") {
    // decision record in Similarity.knnGraph: TopKPerKey measured 11×
    // SLOWER here (≈1 candidate per (task, key) — nothing to reduce);
    // the gate instead pins Spark's own bounded cut: a Partial
    // WindowGroupLimit must run map-side BEFORE the window's exchange,
    // so at most k rows per (key, task) enter the shuffle
    val df = Registry.byName("s13_knn_graph_scaled").run(spark, sf)
    df.collect()
    val p = df.queryExecution.explainString(FormattedMode)
      .split("== Initial Plan ==")(0)
    assert(p.contains("WindowGroupLimit"), p)
    // two WindowGroupLimit nodes = partial (map-side, before the exchange)
    // + final (after) — the bounded-shuffle guarantee
    val n = p.linesIterator.count(_.contains("WindowGroupLimit"))
    assert(n >= 2, s"expected partial+final WindowGroupLimit, got $n:\n$p")
  }

  test("real-codec paths read only doc_id; decode stays in the scan stage") {
    // the generators derive payloads from doc_id alone — a scan that
    // reads text/lang/source for these would ship dead columns into the
    // mapPartitions codec seam
    for (q <- Seq("m01_media_features", "m03_resize", "m09_audio_features")) {
      val p = plan(q)
      assert(p.contains("ReadSchema: struct<doc_id:bigint>"), s"$q:\n$p")
      assert(!p.contains("CartesianProduct"), q)
    }
  }

  test("p09 compaction plan scans documents once (keep/merge share the rollup)") {
    val df = Registry.byName("p09_compaction_plan").run(spark, sf)
    df.collect()
    val p = df.queryExecution.explainString(FormattedMode)
      .split("== Initial Plan ==")(0)
    val docScans = p.linesIterator.count(_.contains("Scan parquet"))
    assert(docScans == 1, p)
  }

  test("p09 compaction plan shuffles sizes only — text never leaves the scan") {
    val p = plan("p09_compaction_plan")
    // byte sizes are computed scan-side; the shard rollup moves partial
    // sums (map-side combine), and no exchange carries the text column
    assert(p.contains("partial_sum") || p.contains("partial_count"), p)
    val exchanges = shuffleExchanges(p)
    assert(!exchanges.exists(_.matches("(?s).*\\btext#\\d+.*")),
      s"text leaks into a shuffle:\n${exchanges.mkString("\n\n")}")
    // only doc_id + text are ever read
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"), p)
  }

  test("p10 shard shuffle moves ids+sizes only — text dies at the pack aggregation") {
    val p = plan("p10_shard_shuffle")
    // token counts are computed scan-side (split+size inside the scan
    // stage); every exchange after the pack carries only the id triple,
    // n_tokens, and the hash key — never the text column
    val exchanges = shuffleExchanges(p)
    assert(!exchanges.exists(_.matches("(?s).*\\btext#\\d+.*")),
      s"text leaks into a shuffle:\n${exchanges.mkString("\n\n")}")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string,source:string>") ||
      p.contains("ReadSchema: struct<doc_id:bigint,source:string,text:string>"), p)
  }

  test("c20 DSIR: one token shuffle for the model; top-k is TakeOrdered, not a sort") {
    val p = plan("c20_dsir_select")
    assert(p.contains("TakeOrderedAndProject"), p)
    // both model counts come from the same (tok)-keyed aggregate —
    // partial+final, so the exchange moves per-partition partials
    assert(p.contains("partial_count") || p.contains("partial_sum"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("c22 bigram-LM: model broadcasts; bigram extraction is map-side, no window") {
    val p = plan("c22_bigram_lm_score")
    // the (w1,w2)→logp model attaches via broadcast hash join; bigram
    // extraction is an array zip in the scan stage — a lag()-based
    // extraction would show a Window + a doc_id exchange here
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("(Window"), p)
  }

  test("m05 CDC: chunking is scan-side; only chunk hashes shuffle, never text") {
    val p = plan("m05_cdc_chunks")
    // boundary detection + chunk md5s are per-row expressions in the scan
    // stage; the cross-doc sharing aggregation shuffles (doc_id, 32-char
    // md5) rows only — payload text must never reach an exchange
    val exchanges = shuffleExchanges(p)
    assert(exchanges.nonEmpty, p)
    assert(!exchanges.exists(_.matches("(?s).*\\btext#\\d+.*")),
      s"payload text leaks into a shuffle:\n${exchanges.mkString("\n\n")}")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("s09 range search: queries broadcast, corpus scored map-side, no window") {
    val p = plan("s09_range_search")
    // the query side rides a broadcast NLJ into the corpus scan; range
    // filtering happens before any exchange, and there is no per-query
    // window (top-k machinery has no business in a radius query)
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("(Window"), p)
    val exchanges = shuffleExchanges(p)
    assert(!exchanges.exists(_.matches("(?s).*\\bembedding#\\d+.*")),
      s"corpus embeddings leak into a shuffle:\n${exchanges.mkString("\n\n")}")
  }

  test("c19/d19 host-keyed reports broadcast the host dims; no text in shuffles") {
    val p19 = plan("d19_boilerplate_lines")
    assert(p19.contains("BroadcastExchange"), p19)
    val exchanges = shuffleExchanges(p19)
    assert(exchanges.nonEmpty, p19)
    assert(!exchanges.exists(_.matches("(?s).*\\b(text|line)#\\d+.*")),
      s"line text leaks into a shuffle:\n${exchanges.mkString("\n\n")}")
  }

  test("s12 hybrid RRF: both arms shortlist via partial top-k; query vector broadcasts") {
    val p = plan("s12_hybrid_rrf")
    // each arm must reach its top-20 through TakeOrderedAndProject
    // (per-partition partial top-k + driver merge of 20) — a global sort
    // for a constant-k shortlist would shuffle the corpus. The ranking
    // windows that FOLLOW are unpartitioned but bounded: their input is
    // the 20-row shortlist, never corpus-scale.
    val topk = p.linesIterator.count(_.contains("TakeOrderedAndProject"))
    assert(topk >= 2, s"expected both arms to use TakeOrderedAndProject:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"dense arm's query vector must broadcast:\n$p")
    assert(!p.contains("Exchange rangepartitioning"), p)
  }

  test("q85 cube expands grouping sets in ONE pass; q87 pivot is one scan") {
    // count distinct scan NODES via the details-section headers
    // ("(<id>) Scan parquet") rather than raw line mentions — the tree
    // section also names each scan, and exact mention counts are brittle
    // against explain-format changes (a format tweak would fail this test
    // for reasons unrelated to the single-scan property it gates)
    def scanNodes(p: String): Int =
      p.linesIterator.count(_.matches("""^\(\d+\) Scan parquet.*"""))
    val p85 = plan("q85_cube")
    // Expand feeds a single partial+final agg — no per-subtotal rescan
    assert(p85.contains("Expand"), p85)
    assert(p85.contains("partial_count"), p85)
    assert(scanNodes(p85) == 1, s"expected ONE scan node:\n$p85")
    val p87 = plan("q87_pivot")
    assert(scanNodes(p87) == 1, s"expected ONE scan node:\n$p87")
    assert(p87.contains("partial_sum"), p87)
  }

  test("q86 ranks run over the aggregated dim-sized frame, not raw lineitem") {
    val p = plan("q86_rank_suite")
    // revenue is aggregated per supplier BEFORE the window (partial_sum),
    // the supplier dim broadcasts, and the window partitions by nation —
    // its input is |suppliers| rows, never lineitem-scale
    assert(p.contains("partial_sum"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("Window"), p)
  }

  test("m07 chunk accounting: chunk-hash agg is partial+final; no text in shuffles") {
    val p = plan("m07_chunk_dedup_ratio")
    assert(p.contains("partial_count") || p.contains("partial_min"), p)
    val exchanges = shuffleExchanges(p)
    assert(exchanges.nonEmpty, p)
    assert(!exchanges.exists(_.matches("(?s).*\\btext#\\d+.*")),
      s"doc text leaks into a shuffle:\n${exchanges.mkString("\n\n")}")
  }

  test("AQE splits a planted skewed join at runtime (OptimizeSkewedJoin fires)") {
    // engine/Skew.scala documents the decision rule: AQE's reactive
    // skew-split is the DEFAULT defense (no code changes, reacts to the
    // actual runtime sizes); explicit salting is for skew that AQE cannot
    // see or re-split — a skewed SHUFFLE feeding an aggregation rather
    // than a join, or a join whose output partitioning must be preserved
    // for a downstream stage. This test proves the default actually fires:
    // a planted hot key carrying 50% of the rows must come out of AQE as
    // a skew-split sort-merge join, not one straggler task.
    import org.apache.spark.sql.functions.{col, concat, lit, md5}
    val keys = Seq(
      "spark.sql.autoBroadcastJoinThreshold", // force a shuffled join
      // test-sized skew thresholds: the defaults (256 MB partitions) are
      // cluster-scale; the RULE under test is identical
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor")
    val saved = keys.map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "1MB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "256KB")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      val n = 240000L
      // skew detection reads COMPRESSED map-output sizes — constant-char
      // padding lz4-compresses ~50× and hides the hot partition, so the
      // payload must be incompressible: two md5 rounds = 64 ~random chars
      val pad = concat(md5(col("id").cast("string")),
        md5((col("id") + 7).cast("string"))).as("pad")
      val hot = spark.range(n / 2).select(lit(0L).as("k"), pad)
      val rest = spark.range(n / 2).select((col("id") % 10000 + 1).as("k"), pad)
      val big = hot.union(rest)
      val dim = spark.range(10001).select(col("id").as("k"), (col("id") * 2).as("v"))
      val joined = big.join(dim, "k")
      // AQE decides at RUNTIME — materialize THIS queryExecution (a
      // derived Dataset would execute its own plan and leave this one
      // isFinalPlan=false), then read the final adaptive plan
      val rows = joined.collect()
      assert(rows.length == n, "inner join must preserve every big-side row")
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        s"expected OptimizeSkewedJoin to mark the join (skew=true):\n$finalPlan")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
