package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.{TopK, TopKPerKeyExec}

class TopKSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  val sf = SharedSpark.sf

  private def executed(df: org.apache.spark.sql.DataFrame) =
    df.asInstanceOf[org.apache.spark.sql.classic.DataFrame]
      .queryExecution.executedPlan

  // Typed collect over a plan that may contain AQE wrapper/leaf nodes:
  // AdaptiveSparkPlanExec holds the current plan in a field (not children),
  // and QueryStageExec is a LEAF whose materialized subtree hangs off .plan —
  // plain TreeNode.collect sees neither, so unwrap both and recurse.
  private def deepCollect[T](p: org.apache.spark.sql.execution.SparkPlan)(
      pf: PartialFunction[org.apache.spark.sql.execution.SparkPlan, T]): Seq[T] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val here = if (pf.isDefinedAt(p)) Seq(pf(p)) else Nil
    val below = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec        => Seq(q.plan)
      case other                    => other.children
    }
    here ++ below.flatMap(deepCollect(_)(pf))
  }

  test("TopK.perKey equals the window row_number formulation") {
    import spark.implicits._
    val orders = graft.engine.Tables(spark, sf, "orders")
      .select("o_custkey", "o_orderkey", "o_totalprice")
    val got = TopK.perKey(orders, Seq(col("o_custkey")),
        Seq(col("o_totalprice").desc, col("o_orderkey")), 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val expected = orders.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("TopK handles ties, asc order, and k larger than group size") {
    import spark.implicits._
    val df = Seq(
      ("a", 1L, 10.0), ("a", 2L, 10.0), ("a", 3L, 5.0), ("a", 4L, 7.0),
      ("b", 5L, 1.0),
    ).toDF("k", "id", "v")
    // asc by v, tiebreak id; k=2
    val got2 = TopK.perKey(df, Seq(col("k")), Seq(col("v"), col("id")), 2)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got2 == Set(("a", 3L), ("a", 4L), ("b", 5L)))
    // k larger than any group: everything survives
    val gotAll = TopK.perKey(df, Seq(col("k")), Seq(col("id")), 10)
      .collect().map(_.getLong(1)).toSet
    assert(gotAll == Set(1L, 2L, 3L, 4L, 5L))
  }

  test("TopK on empty input yields empty output; GenSource with rows=0 reads empty") {
    import spark.implicits._
    val empty = Seq.empty[(String, Long)].toDF("k", "id")
    assert(TopK.perKey(empty, Seq(col("k")), Seq(col("id")), 3).count() == 0)
    val gen0 = spark.read.format("graft-gen")
      .option("rows", "0").option("parts", "4").load()
    assert(gen0.count() == 0)
  }

  test("plan is partial+final TopKPerKeyExec around one hash exchange; sort only above it") {
    import org.apache.spark.sql.execution.SortExec
    val orders = graft.engine.Tables(spark, sf, "orders")
      .select("o_custkey", "o_orderkey", "o_totalprice")
    val df = TopK.perKey(orders, Seq(col("o_custkey")),
      Seq(col("o_totalprice").desc), 3)
    df.collect() // force AQE final plan
    val plan = executed(df).toString
    val topks = "TopKPerKey".r.findAllIn(plan).size
    assert(topks >= 2, s"expected partial+final TopKPerKeyExec phases in:\n$plan")
    assert(plan.contains("Exchange hashpartitioning"), s"missing hash exchange:\n$plan")
    // the input-side win: the fact table is never fully sorted — the only
    // Sort sits ABOVE the exchange, over the partial-phase-reduced
    // ≤ k·mapTasks rows per key (it feeds the streaming final phase)
    val partials = deepCollect(executed(df)) { case t: TopKPerKeyExec if t.partial => t }
    assert(partials.nonEmpty, plan)
    partials.foreach { p =>
      assert(deepCollect(p) { case s: SortExec => s }.isEmpty,
        s"full sort below the partial phase:\n$plan")
    }
  }

  test("partial-phase key cap streams overflow keys through; 1M distinct keys, no OOM") {
    // ~1M distinct keys with 3 rows each. With the default (2^20) cap this
    // exercises real map-state pressure; with a tiny cap it proves the
    // bounded fallback: the partial phase may pass overflow rows through
    // un-reduced, and the exact sort-based final phase still returns
    // precisely the top-k per key.
    val n = 1000000L
    val data = spark.range(0, 3 * n, 1, 8)
      .selectExpr(s"id % $n AS k", "id AS v")
    spark.conf.set("spark.graft.topk.partialMaxKeys", "1000")
    try {
      val got = TopK.perKey(data, Seq(col("k")), Seq(col("v").desc), 2)
      // spot-check per-key contents without collecting 2M rows to the driver
      val agg = got.groupBy("k").agg(count(lit(1)).as("c"), min("v").as("lo"),
        max("v").as("hi"))
      assert(agg.count() == n)
      // key k holds rows {k, k+n, k+2n}: top-2 by v desc = {k+2n, k+n}
      val bad = agg.filter(col("c") =!= 2 || col("lo") =!= col("k") + n ||
        col("hi") =!= col("k") + 2 * n).count()
      assert(bad == 0, s"$bad keys with wrong top-2 under partial key cap")
    } finally spark.conf.unset("spark.graft.topk.partialMaxKeys")
    // and at the DEFAULT cap (2^20 keys buffered map-side) the same 1M-key
    // input completes within the test JVM heap
    val got2 = TopK.perKey(data, Seq(col("k")), Seq(col("v").desc), 2)
    assert(got2.count() == 2 * n)
  }

  test("TopK phases by name: one partial, one final, exchange between, child codegen intact") {
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    // AQE hides the shuffle subtree inside leaf QueryStageExec nodes; disable
    // it here so the full physical tree is collectable in one pass
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val orders = graft.engine.Tables(spark, sf, "orders")
        .select("o_custkey", "o_orderkey", "o_totalprice")
        .filter(col("o_totalprice") > 0) // gives codegen a stage to fuse
      val df = TopK.perKey(orders, Seq(col("o_custkey")),
        Seq(col("o_totalprice").desc, col("o_orderkey")), 3)
      df.collect()
      val p = executed(df)
      val topks = p.collect { case t: TopKPerKeyExec => t }
      assert(topks.count(_.partial) == 1 && topks.count(!_.partial) == 1,
        s"expected exactly one partial and one final phase in:\n$p")
      val fin = topks.find(!_.partial).get
      // the hash exchange sits strictly between final and partial
      val exch = fin.child.collect { case e: ShuffleExchangeLike => e }
      assert(exch.size == 1, s"expected one exchange under the final phase:\n$p")
      val partialBelow = exch.head.collect { case t: TopKPerKeyExec if t.partial => t }
      assert(partialBelow.size == 1, s"partial phase not below the exchange:\n$p")
      // the heap exec must not force its child out of whole-stage codegen:
      // the partial phase consumes a codegen'd stage directly
      val cg = partialBelow.head.child match {
        case w: WholeStageCodegenExec => Some(w)
        case other => other.collectFirst { case w: WholeStageCodegenExec => w }
      }
      assert(cg.nonEmpty, s"partial phase's child is not codegen'd:\n$p")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("TopK is partition-count invariant (explicit multi-partition input)") {
    val orders = graft.engine.Tables(spark, sf, "orders")
      .select("o_custkey", "o_orderkey", "o_totalprice")
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val expected = orders.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    for (parts <- Seq(2, 7)) {
      val got = TopK.perKey(orders.repartition(parts), Seq(col("o_custkey")),
          Seq(col("o_totalprice").desc, col("o_orderkey")), 3)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == expected, s"top-k diverged at $parts partitions")
    }
  }

  test("GraftExtensions wires SQL functions and the top-k strategy") {
    // spark.sql.extensions is static config (needs a fresh SparkContext), so
    // replay the same injections onto a child session through the bridge —
    // this exercises exactly the injectFunction/injectPlannerStrategy calls
    // a config-built cluster session would run.
    val s2 = spark.newSession()
    org.apache.spark.sql.GraftColumnBridge.applyExtensions(
      s2, new graft.engine.GraftExtensions)
    // functions resolve in pure SQL with no per-function registration
    val h = s2.sql("SELECT fnv1a64('abc') AS h, simhash64(array('a','b')) AS s," +
      " minhash_sig(array('a','b'), 4) AS m").head()
    // published FNV-1a 64 test vector for "abc"
    assert(h.getLong(0) == 0xe71fa2190541574bL)
    assert(h.getSeq[Long](2).size == 4)
    // the r7 additions resolve too
    val h2 = s2.sql(
      "SELECT shingle_hash(array('a','b','c'), 2) AS sh," +
        " phash64(cast('abcd' AS BINARY)) AS p," +
        " cosine_sim(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS c," +
        " intersect_count_sorted(array(1L, 2L, 5L), array(2L, 5L, 9L)) AS n").head()
    assert(h2.getSeq[Long](0).size == 2)
    assert(h2.getDouble(2) == 1.0)
    assert(h2.getInt(3) == 2)
    // mix64 and the exact-sum aggregate: 0.1 + 0.2 sums to exactly the
    // double nearest 0.3, where a double sum gives 0.30000000000000004
    val h3 = s2.sql("SELECT mix64(1L) AS m, sum_exact(x) AS s," +
      " CAST(SUM(CAST(x AS DECIMAL(38,10))) AS DOUBLE) AS d" +
      " FROM VALUES (0.1D), (0.2D) AS t(x)").head()
    assert(h3.getLong(0) == graft.functions.HashAlgos.mix64(1L))
    assert(h3.getDouble(1) == 0.3)
    assert(h3.getDouble(1) == h3.getDouble(2))
    // replaying the extension leaves exactly one top-k strategy
    org.apache.spark.sql.GraftColumnBridge.applyExtensions(
      s2, new graft.engine.GraftExtensions)
    assert(s2.experimental.extraStrategies.count(_ == graft.plans.TopKStrategy) == 1)
    // the planner strategy came along too: drive the custom node through it
    import s2.implicits._
    val data = s2.range(100).selectExpr("id % 5 AS k", "id")
    val df = graft.plans.TopK.perKey(data, Seq(col("k")), Seq(col("id").desc), 2)
    assert(df.count() == 10)
  }
}
