package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.QuerySpec
import graft.engine.{Exact, GraftExtensions, Skew, Tables}
import graft.plans.TopK

/** Round-2 widening: more TPC-H plan families (Q4/Q6/Q10/Q18/Q22 shapes,
  * predicates adapted to the synthetic schema — no commitdate/receiptdate/
  * phone columns exist, so the date/prefix predicates are re-expressed on
  * available columns), an explicitly salted skew join proven equal to the
  * plain join, GROUPING SETS, regex (BPE-ish) tokenization, and a RANGE-frame
  * rolling window. All oracle-backed. The reference supports none of these
  * shapes (no joins: reference src/optimizer/plan_node/mod.rs:63-78; no
  * subqueries/windows/sets: SURVEY.md §2.4).
  */
object Relational4 {

  lazy val specs: Vector[QuerySpec] = Vector(
    // Q4 shape: EXISTS-correlated order counting — plans as a left-semi join
    // with a non-equi residual (lineitem shipped >60 days after the order).
    QuerySpec(
      "q62_tpch_q4_exists",
      (s, d) => {
        val o = Tables(s, d, "orders")
        val l = Tables(s, d, "lineitem")
        o.join(l,
            col("l_orderkey") === col("o_orderkey") &&
              col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
            "left_semi")
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n_orders"))
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority, COUNT(*) AS n_orders
             |FROM orders
             |WHERE EXISTS (
             |  SELECT 1 FROM lineitem
             |  WHERE l_orderkey = o_orderkey
             |    AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
             |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
    ),
    // Q6 shape: pure filter+agg forecasting query — everything pushes to the
    // scan, the whole query is one codegen stage over pruned columns.
    QuerySpec(
      "q63_tpch_q6",
      (s, d) =>
        Tables(s, d, "lineitem")
          .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01")) &&
            col("l_shipdate") < to_timestamp(lit("1997-01-01")) &&
            col("l_discount").between(0.05, 0.07) &&
            col("l_quantity") < 24)
          .agg(
            Exact.dsum(col("l_extendedprice") * col("l_discount")).as("revenue"),
            count(lit(1)).as("n"),
          ),
      Some(s"""SELECT
              |  ${Exact.sqlSum("l_extendedprice * l_discount")} AS revenue,
              |  COUNT(*) AS n
              |FROM lineitem
              |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              |  AND l_shipdate < TIMESTAMP '1997-01-01'
              |  AND l_discount BETWEEN 0.05 AND 0.07
              |  AND l_quantity < 24""".stripMargin),
    ),
    // Q10 shape: returned-item revenue per customer, top 20 — big fact join,
    // broadcast dim, TakeOrderedAndProject on the exact revenue.
    QuerySpec(
      "q64_tpch_q10",
      (s, d) =>
        Tables(s, d, "lineitem")
          .filter(col("l_returnflag") === "R")
          .join(Tables(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
          .join(Tables(s, d, "customer"), col("o_custkey") === col("c_custkey"))
          .join(broadcast(Tables(s, d, "nation")),
            col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
          .agg(Exact.dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("revenue"))
          .orderBy(col("revenue").desc, col("c_custkey"))
          .limit(20),
      Some(s"""SELECT c_custkey, c_name, c_acctbal, n_name,
              |  ${Exact.sqlSum("l_extendedprice * (1.0 - l_discount)")} AS revenue
              |FROM lineitem
              |JOIN orders ON l_orderkey = o_orderkey
              |JOIN customer ON o_custkey = c_custkey
              |JOIN nation ON c_nationkey = n_nationkey
              |WHERE l_returnflag = 'R'
              |GROUP BY c_custkey, c_name, c_acctbal, n_name
              |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin),
    ),
    // Q18 shape: large-volume orders — aggregate-then-join (the HAVING
    // subquery becomes a pre-aggregated build side, not a correlated probe).
    QuerySpec(
      "q65_tpch_q18",
      (s, d) => {
        val big = Tables(s, d, "lineitem")
          .groupBy("l_orderkey")
          .agg(Exact.dsum(col("l_quantity")).as("sum_qty"))
          .filter(col("sum_qty") > 150.0)
        Tables(s, d, "orders")
          .join(big, col("o_orderkey") === col("l_orderkey"))
          .join(Tables(s, d, "customer"), col("o_custkey") === col("c_custkey"))
          .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
            col("o_totalprice"), col("sum_qty"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      },
      Some(s"""WITH big AS (
              |  SELECT l_orderkey, ${Exact.sqlSum("l_quantity")} AS sum_qty
              |  FROM lineitem GROUP BY l_orderkey
              |  HAVING ${Exact.sqlSum("l_quantity")} > 150.0)
              |SELECT c_custkey, c_name, o_orderkey, o_totalprice, sum_qty
              |FROM orders
              |JOIN big ON o_orderkey = l_orderkey
              |JOIN customer ON o_custkey = c_custkey
              |ORDER BY o_totalprice DESC, o_orderkey""".stripMargin),
    ),
    // Q22 shape: rich-but-idle customers — scalar subquery (global exact avg
    // balance, broadcast as a 1-row frame) + anti join. The synthetic data
    // gives every customer orders, so "idle" is adapted to "no order above
    // 300k" — same plan shape (filtered anti join), nonzero at every SF.
    QuerySpec(
      "q66_tpch_q22",
      (s, d) => {
        val c = Tables(s, d, "customer")
        val avgBal = c.filter(col("c_acctbal") > 0.0)
          .agg((Exact.dsum(col("c_acctbal")) /
            count(col("c_acctbal")).cast(DoubleType)).as("avg_bal"))
        val bigOrders = Tables(s, d, "orders")
          .filter(col("o_totalprice") > 300000.0)
        c.crossJoin(broadcast(avgBal))
          .filter(col("c_acctbal") > col("avg_bal"))
          .join(bigOrders, col("c_custkey") === col("o_custkey"), "left_anti")
          .groupBy("c_nationkey")
          .agg(count(lit(1)).as("n_cust"), Exact.dsum(col("c_acctbal")).as("total_bal"))
          .orderBy("c_nationkey")
      },
      Some(s"""WITH a AS (
              |  SELECT ${Exact.sqlSum("c_acctbal")} /
              |         CAST(COUNT(c_acctbal) AS DOUBLE) AS avg_bal
              |  FROM customer WHERE c_acctbal > 0.0)
              |SELECT c_nationkey, COUNT(*) AS n_cust,
              |  ${Exact.sqlSum("c_acctbal")} AS total_bal
              |FROM customer CROSS JOIN a
              |WHERE c_acctbal > avg_bal
              |  AND NOT EXISTS (SELECT 1 FROM orders
              |                  WHERE o_custkey = c_custkey
              |                    AND o_totalprice > 300000.0)
              |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin),
    ),
    // Salted skew join: orders salted over 8 sub-keys, customer replicated —
    // the oracle is the PLAIN join, proving the salt changes the shuffle
    // layout but not the result. This is the manual tool for known-skewed
    // keys; AQE skew-join handles the reactive case.
    QuerySpec(
      "q67_salted_join",
      (s, d) =>
        Skew.saltedJoin(
            Tables(s, d, "orders"), "o_custkey",
            Tables(s, d, "customer"), "c_custkey",
            nSalts = 8, saltSrc = col("o_orderkey"))
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n_orders"), Exact.dsum(col("o_totalprice")).as("spend"))
          .orderBy("c_mktsegment"),
      Some(s"""SELECT c_mktsegment, COUNT(*) AS n_orders,
              |  ${Exact.sqlSum("o_totalprice")} AS spend
              |FROM orders JOIN customer ON o_custkey = c_custkey
              |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),
    ),
    // GROUPING SETS — finer than rollup/cube (q28/q42): an explicit lattice
    // of (returnflag), (linestatus), and () grand total in one pass.
    QuerySpec(
      "q68_grouping_sets",
      (s, d) => {
        Tables.registerAll(s, d)
        GraftExtensions.install(s) // sum_exact
        s.sql("""SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
                |  sum_exact(l_quantity) AS sum_qty
                |FROM lineitem
                |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
                |ORDER BY l_returnflag ASC NULLS FIRST,
                |         l_linestatus ASC NULLS FIRST""".stripMargin)
      },
      Some(s"""SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
              |  ${Exact.sqlSum("l_quantity")} AS sum_qty
              |FROM lineitem
              |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
              |ORDER BY l_returnflag ASC NULLS FIRST,
              |         l_linestatus ASC NULLS FIRST""".stripMargin),
    ),
    // BPE-ish regex tokenization: runs of letters, runs of digits, single
    // other non-space chars — the pre-tokenizer shape of byte-pair encoders.
    // Java regex and RE2 agree on this alternation (no backtracking corners).
    QuerySpec(
      "q69_regex_tokens",
      (s, d) =>
        Tables(s, d, "documents")
          .select(
            col("doc_id"),
            size(regexp_extract_all(col("text"),
              lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0)))
              .cast(LongType).as("n_bpe_tokens"),
            size(regexp_extract_all(col("text"), lit("[0-9]+"), lit(0)))
              .cast(LongType).as("n_number_runs"),
          )
          .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]'))
             |    AS BIGINT) AS n_bpe_tokens,
             |  CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT)
             |    AS n_number_runs
             |FROM documents ORDER BY doc_id""".stripMargin),
    ),
    // RANGE-frame rolling window: trailing-30-day order count and exact spend
    // per customer — a frame defined by VALUE distance, not row count (q23's
    // running totals are ROWS frames). Decimal accumulation keeps the window
    // sum order-independent; the VARCHAR hop on the DuckDB side matches
    // Spark's string-mediated decimal→double cast.
    QuerySpec(
      "q70_range_frame_window",
      (s, d) => {
        val day = datediff(col("o_orderdate").cast("date"), lit("1970-01-01").cast("date"))
          .cast(LongType)
        val w = Window.partitionBy("o_custkey").orderBy(col("day"))
          .rangeBetween(-30, Window.currentRow)
        Tables(s, d, "orders")
          .filter(col("o_custkey") < 200)
          .withColumn("day", day)
          .select(
            col("o_custkey"), col("o_orderkey"), col("day"),
            count(lit(1)).over(w).as("n_30d"),
            Exact.dsum(col("o_totalprice")).over(w).as("spend_30d"),
          )
          .orderBy("o_custkey", "day", "o_orderkey")
      },
      Some("""SELECT o_custkey, o_orderkey,
             |  CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
             |  COUNT(*) OVER w AS n_30d,
             |  CAST(CAST(SUM(CAST(CAST(o_totalprice AS VARCHAR) AS DECIMAL(38,10)))
             |    OVER w AS VARCHAR) AS DOUBLE) AS spend_30d
             |FROM orders WHERE o_custkey < 200
             |WINDOW w AS (PARTITION BY o_custkey
             |  ORDER BY CAST(o_orderdate AS DATE) - DATE '1970-01-01'
             |  RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)
             |ORDER BY o_custkey, day, o_orderkey""".stripMargin),
    ),
    // Grouped top-k through the CUSTOM OPERATOR (logical node + Strategy +
    // partial/final physical exec, graft.plans.TopKPerKey): top-3 orders per
    // customer. The window row_number plan this replaces shuffles and sorts
    // every row; this shuffles ≤ 3 rows per customer per map task. The
    // oracle is the window formulation — same rows, different plan.
    QuerySpec(
      "q71_topk_per_key",
      (s, d) =>
        TopK.perKey(
            Tables(s, d, "orders").select("o_custkey", "o_orderkey", "o_totalprice"),
            keys = Seq(col("o_custkey")),
            order = Seq(col("o_totalprice").desc, col("o_orderkey")),
            k = 3)
          .orderBy(col("o_custkey"), col("o_totalprice").desc, col("o_orderkey")),
      Some("""SELECT o_custkey, o_orderkey, o_totalprice FROM (
             |  SELECT o_custkey, o_orderkey, o_totalprice,
             |    ROW_NUMBER() OVER (PARTITION BY o_custkey
             |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
             |  FROM orders) t WHERE rn <= 3
             |ORDER BY o_custkey, o_totalprice DESC, o_orderkey""".stripMargin),
    ),
    // Q15 shape: top revenue supplier(s) — aggregate view + global-max
    // scalar subquery, kept exact by the decimal sum on both sides.
    QuerySpec(
      "q72_tpch_q15",
      (s, d) => {
        val rev = Tables(s, d, "lineitem")
          .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01")) &&
            col("l_shipdate") < to_timestamp(lit("1996-07-01")))
          .groupBy(col("l_suppkey").as("supplier_no"))
          .agg(Exact.dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("total_revenue"))
          // the revenue view feeds both the join and its own MAX; it is
          // supplier-sized, so checkpoint (the d21 pattern) = one lineitem
          // scan instead of two (r15 ScanAudit) — DuckDB's CTE
          // materialization does the same thing
          .localCheckpoint(true)
        val maxRev = rev.agg(max(col("total_revenue")).as("max_revenue"))
        Tables(s, d, "supplier")
          .join(rev, col("s_suppkey") === col("supplier_no"))
          .crossJoin(broadcast(maxRev))
          .filter(col("total_revenue") === col("max_revenue"))
          .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
          .orderBy("s_suppkey")
      },
      Some(s"""WITH revenue AS (
              |  SELECT l_suppkey AS supplier_no,
              |    ${Exact.sqlSum("l_extendedprice * (1.0 - l_discount)")} AS total_revenue
              |  FROM lineitem
              |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              |    AND l_shipdate < TIMESTAMP '1996-07-01'
              |  GROUP BY l_suppkey)
              |SELECT s_suppkey, s_name, total_revenue
              |FROM supplier JOIN revenue ON s_suppkey = supplier_no
              |WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
              |ORDER BY s_suppkey""".stripMargin),
    ),
    // Q16 shape: supplier diversity per part attribute — anti join against
    // an excluded-supplier set, then grouped COUNT(DISTINCT).
    QuerySpec(
      "q73_tpch_q16",
      (s, d) => {
        val excluded = Tables(s, d, "supplier")
          .filter(col("s_acctbal") < 0.0).select(col("s_suppkey").as("x_suppkey"))
        Tables(s, d, "lineitem")
          .join(broadcast(Tables(s, d, "part")), col("l_partkey") === col("p_partkey"))
          .join(excluded, col("l_suppkey") === col("x_suppkey"), "left_anti")
          .groupBy("p_brand", "p_type")
          .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
          .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"))
      },
      Some("""SELECT p_brand, p_type, COUNT(DISTINCT l_suppkey) AS supplier_cnt
             |FROM lineitem JOIN part ON l_partkey = p_partkey
             |WHERE l_suppkey NOT IN (
             |  SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
             |GROUP BY p_brand, p_type
             |ORDER BY supplier_cnt DESC, p_brand, p_type""".stripMargin),
    ),
    // Q17 shape: small-quantity-order revenue — correlated scalar aggregate
    // per part (decorrelated by Catalyst into an aggregate+join).
    QuerySpec(
      "q74_tpch_q17",
      (s, d) => {
        val avgQty = Tables(s, d, "lineitem")
          .groupBy(col("l_partkey").as("a_partkey"))
          .agg((Exact.dsum(col("l_quantity")) /
            count(col("l_quantity")).cast(DoubleType)).as("avg_qty"))
        Tables(s, d, "lineitem")
          .join(broadcast(Tables(s, d, "part").filter(col("p_brand") === "Brand#1")),
            col("l_partkey") === col("p_partkey"))
          .join(avgQty, col("l_partkey") === col("a_partkey"))
          .filter(col("l_quantity") < col("avg_qty") * 0.5)
          .agg(
            (Exact.dsum(col("l_extendedprice")) / 7.0).as("avg_yearly"),
            count(lit(1)).as("n"),
          )
      },
      Some(s"""WITH a AS (
              |  SELECT l_partkey AS a_partkey,
              |    ${Exact.sqlSum("l_quantity")} / CAST(COUNT(l_quantity) AS DOUBLE)
              |      AS avg_qty
              |  FROM lineitem GROUP BY l_partkey)
              |SELECT ${Exact.sqlSum("l_extendedprice")} / 7.0 AS avg_yearly,
              |  COUNT(*) AS n
              |FROM lineitem
              |JOIN part ON l_partkey = p_partkey AND p_brand = 'Brand#1'
              |JOIN a ON l_partkey = a_partkey
              |WHERE l_quantity < avg_qty * 0.5""".stripMargin),
    ),
    // Q21 shape: suppliers whose lineitems are the LAST shipped in
    // multi-supplier orders — EXISTS(other supplier) + NOT EXISTS(other
    // supplier shipped later): one semi and one anti join, both non-equi.
    QuerySpec(
      "q75_tpch_q21",
      (s, d) => {
        val l1 = Tables(s, d, "lineitem")
          .select(col("l_orderkey").as("o1"), col("l_suppkey").as("s1"),
            col("l_shipdate").as("d1"))
        val l2 = Tables(s, d, "lineitem")
          .select(col("l_orderkey").as("o2"), col("l_suppkey").as("s2"))
        val l3 = Tables(s, d, "lineitem")
          .select(col("l_orderkey").as("o3"), col("l_suppkey").as("s3"),
            col("l_shipdate").as("d3"))
        l1
          .join(l2, col("o2") === col("o1") && col("s2") =!= col("s1"), "left_semi")
          .join(l3, col("o3") === col("o1") && col("s3") =!= col("s1") &&
            col("d3") > col("d1"), "left_anti")
          .groupBy(col("s1").as("l_suppkey"))
          .agg(count(lit(1)).as("numwait"))
          .orderBy(col("numwait").desc, col("l_suppkey"))
          .limit(20)
      },
      Some("""SELECT l_suppkey, COUNT(*) AS numwait FROM lineitem l1
             |WHERE EXISTS (
             |    SELECT 1 FROM lineitem l2
             |    WHERE l2.l_orderkey = l1.l_orderkey
             |      AND l2.l_suppkey != l1.l_suppkey)
             |  AND NOT EXISTS (
             |    SELECT 1 FROM lineitem l3
             |    WHERE l3.l_orderkey = l1.l_orderkey
             |      AND l3.l_suppkey != l1.l_suppkey
             |      AND l3.l_shipdate > l1.l_shipdate)
             |GROUP BY l_suppkey ORDER BY numwait DESC, l_suppkey LIMIT 20""".stripMargin),
    ),
    // The CUSTOM DataSource V2 connector (graft.sources.GenSource): a
    // deterministic file-less corpus generator with column pruning and
    // doc_id-range partition pruning pushed into generation. Every row is a
    // pure function of doc_id over the same mix64 kernel as the dedup
    // hashes, so the DuckDB oracle REGENERATES the identical corpus in SQL
    // and must agree bit-for-bit on the aggregate.
    QuerySpec(
      "q76_gen_source",
      (s, _) =>
        s.read.format("graft-gen")
          .option("rows", "2000").option("parts", "8").load()
          .filter(col("doc_id") >= 100)
          .groupBy("lang")
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_tokens").cast(LongType)).as("sum_tokens"),
            sum(length(col("text")).cast(LongType)).as("sum_chars"),
          )
          .orderBy("lang"),
      Some {
        import graft.engine.DuckHash
        val langs = graft.sources.GenSource.Langs.map(l => s"'$l'").mkString(", ")
        s"""WITH ids AS (SELECT unnest(range(100, 2000)) AS id),
           |g AS (
           |  SELECT id AS doc_id,
           |    ([$langs])[CAST(${DuckHash.mix64("CAST(id AS HUGEINT)")} % 5
           |      AS BIGINT) + 1] AS lang,
           |    CAST(10 + ${DuckHash.mix64("CAST(xor(id, 24301) AS HUGEINT)")} % 90
           |      AS BIGINT) AS n_tokens,
           |    array_to_string(list_transform(
           |      range(0, CAST(10 + ${DuckHash.mix64("CAST(xor(id, 24301) AS HUGEINT)")} % 90 AS BIGINT)),
           |      t -> 'w' || CAST(${DuckHash.mix64("CAST(id*131 + t AS HUGEINT)")} % 100
           |        AS VARCHAR)), ' ') AS text
           |  FROM ids)
           |SELECT lang, COUNT(*) AS n_docs,
           |  CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
           |  CAST(SUM(length(text)) AS BIGINT) AS sum_chars
           |FROM g GROUP BY lang ORDER BY lang""".stripMargin
      },
    ),
    // Remaining window-function family: ntile / first_value / last_value /
    // nth_value. last_value and nth_value carry an explicit ROWS UNBOUNDED
    // frame — BOTH engines default to RANGE ... CURRENT ROW, under which
    // last_value degenerates to the current row; the explicit frame is the
    // portable (and useful) semantics. Orders are made total by the
    // (o_orderdate, o_orderkey) tiebreak so every function is deterministic.
    QuerySpec(
      "q77_window_suite",
      (s, d) =>
        Tables(s, d, "orders")
          .filter(col("o_custkey") < 50)
          .selectExpr(
            "o_custkey",
            "o_orderkey",
            "ntile(4) OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS price_quartile",
            "first_value(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS first_order",
            "last_value(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey " +
              "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_order",
            "nth_value(o_orderkey, 2) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey " +
              "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second_order",
          )
          .orderBy("o_custkey", "o_orderkey"),
      Some("""SELECT o_custkey, o_orderkey,
             |  ntile(4) OVER (PARTITION BY o_custkey
             |    ORDER BY o_totalprice DESC, o_orderkey) AS price_quartile,
             |  first_value(o_orderkey) OVER (PARTITION BY o_custkey
             |    ORDER BY o_orderdate, o_orderkey) AS first_order,
             |  last_value(o_orderkey) OVER (PARTITION BY o_custkey
             |    ORDER BY o_orderdate, o_orderkey
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_order,
             |  nth_value(o_orderkey, 2) OVER (PARTITION BY o_custkey
             |    ORDER BY o_orderdate, o_orderkey
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second_order
             |FROM orders WHERE o_custkey < 50
             |ORDER BY o_custkey, o_orderkey""".stripMargin),
    ),
    // CUBE aggregation with grouping markers — the OLAP subtotal surface
    // (reference ceiling is plain GROUP BY): all four grouping-set
    // combinations in ONE pass (Spark expands the sets before the same
    // partial+final hash agg; no extra scan per subtotal level).
    // grouping_id()'s bit order (leftmost column = MSB) matches DuckDB's
    // GROUPING(a, b); NULLS FIRST normalizes the subtotal rows' order.
    QuerySpec(
      "q85_cube",
      (s, d) =>
        Tables(s, d, "lineitem")
          .cube(col("l_returnflag"), col("l_linestatus"))
          .agg(count(lit(1)).as("n"),
            Exact.dsum(col("l_quantity")).as("sum_qty"),
            grouping_id().as("gid"))
          .orderBy(col("gid"), col("l_returnflag").asc_nulls_first,
            col("l_linestatus").asc_nulls_first),
      Some(s"""SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
              |  ${Exact.sqlSum("l_quantity")} AS sum_qty,
              |  GROUPING(l_returnflag, l_linestatus) AS gid
              |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
              |ORDER BY gid, l_returnflag NULLS FIRST,
              |  l_linestatus NULLS FIRST""".stripMargin),
    ),
    // The rank family (rank / dense_rank / percent_rank / cume_dist) —
    // completing q77's window suite. The window input is AGGREGATED
    // first (revenue per supplier), so partitions are dim-sized
    // (|suppliers per nation|), never lineitem-scale — the shape that
    // keeps ranking scale-safe at 100 TB. percent_rank/cume_dist are
    // IEEE divisions of integer rank/count — exact across engines;
    // revenue is decimal-exact, ties broken by key.
    QuerySpec(
      "q86_rank_suite",
      (s, d) => {
        val rev = Tables(s, d, "lineitem")
          .groupBy(col("l_suppkey").as("s_suppkey"))
          .agg(Exact.dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("revenue"))
        val sup = Tables(s, d, "supplier")
          .select(col("s_suppkey"), col("s_nationkey"))
        rev.join(broadcast(sup), "s_suppkey")
          .selectExpr("s_nationkey", "s_suppkey", "revenue",
            "rank() OVER (PARTITION BY s_nationkey ORDER BY revenue DESC, s_suppkey) AS rnk",
            "dense_rank() OVER (PARTITION BY s_nationkey ORDER BY revenue DESC, s_suppkey) AS drnk",
            "percent_rank() OVER (PARTITION BY s_nationkey ORDER BY revenue DESC, s_suppkey) AS prnk",
            "cume_dist() OVER (PARTITION BY s_nationkey ORDER BY revenue DESC, s_suppkey) AS cdist")
          .orderBy("s_nationkey", "rnk", "s_suppkey")
      },
      Some(s"""WITH rev AS (
              |  SELECT l_suppkey AS s_suppkey,
              |    ${Exact.sqlSum("l_extendedprice * (1.0 - l_discount)")}
              |      AS revenue
              |  FROM lineitem GROUP BY l_suppkey)
              |SELECT s_nationkey, s_suppkey, revenue,
              |  rank() OVER w AS rnk,
              |  dense_rank() OVER w AS drnk,
              |  percent_rank() OVER w AS prnk,
              |  cume_dist() OVER w AS cdist
              |FROM rev JOIN supplier USING (s_suppkey)
              |WINDOW w AS (PARTITION BY s_nationkey
              |  ORDER BY revenue DESC, s_suppkey)
              |ORDER BY s_nationkey, rnk, s_suppkey""".stripMargin),
    ),
    // PIVOT — wide-format reporting (quantity by return flag across
    // line status). Spark's pivot with EXPLICIT values compiles to one
    // partial+final agg with a CASE per output column — one pass, no
    // values-discovery scan; the oracle spells the same CASEs. NULL-sum
    // semantics match (an empty cell is NULL in both engines).
    QuerySpec(
      "q87_pivot",
      (s, d) =>
        Tables(s, d, "lineitem")
          .groupBy(col("l_linestatus"))
          .pivot("l_returnflag", Seq("A", "N", "R"))
          .agg(Exact.dsum(col("l_quantity")))
          .orderBy("l_linestatus"),
      Some(s"""SELECT l_linestatus,
              |  ${Exact.sqlSum("CASE WHEN l_returnflag = 'A' THEN l_quantity END")} AS "A",
              |  ${Exact.sqlSum("CASE WHEN l_returnflag = 'N' THEN l_quantity END")} AS "N",
              |  ${Exact.sqlSum("CASE WHEN l_returnflag = 'R' THEN l_quantity END")} AS "R"
              |FROM lineitem GROUP BY l_linestatus
              |ORDER BY l_linestatus""".stripMargin),
    ),
  )
}
