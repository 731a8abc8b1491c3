package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}

import graft.QuerySpec
import graft.engine.{Exact, Tables}

/** Relational operator surface.
  *
  * Parity queries (q01–q09) cover everything the reference executes:
  * scan → filter → project with arithmetic (reference: src/executor/filter.rs:12-27,
  * src/executor/project.rs:11-30, src/executor/array_compute.rs:47-67), global
  * aggregation (src/executor/aggregate/simple_agg.rs:26-65) and hash
  * aggregation with multi-column keys (src/executor/aggregate/hash_agg.rs:31-143),
  * over sum/count/min/max (src/binder/expression/agg_func.rs:10-15).
  *
  * q07–q08 additionally cover the surface the reference *binds* but panics on
  * at execution (`!=`, AND, OR, `%`, unary minus, aliases, casts —
  * src/executor/array_compute.rs:62-65, src/binder/expression/mod.rs:69).
  *
  * q10+ are beyond-parity relational operators (joins, sort/limit, distinct,
  * set ops, windows, having, case, subqueries, rollup, function library) —
  * the reference has none of these (SURVEY.md §2.4) but a complete engine
  * needs them; all are built-in Spark operators so Catalyst handles pushdown,
  * partial aggregation, and join-strategy selection.
  *
  * Scale notes are per-query; the common rules: every group-by/join key here
  * is high-cardinality-safe, dimension tables are broadcast explicitly, sums
  * over doubles go through DECIMAL(38,10) (see [[graft.engine.Exact]]) so the
  * result is partitioning-invariant — bit-identical whether computed on 32
  * local threads or 1000 executors.
  */
object Relational {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables(s, dir, n)

  private val sumQty  = Exact.sqlSum("l_quantity")

  lazy val specs: Vector[QuerySpec] = Vector(
    // ---------------------------------------------------------------- parity
    QuerySpec(
      "q01_scan_project",
      (s, d) =>
        t(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"))
          .orderBy("l_orderkey", "l_linenumber"),
      Some("""SELECT l_orderkey, l_linenumber, l_returnflag
             |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin),
    ),
    QuerySpec(
      "q02_filter",
      (s, d) =>
        t(s, d, "lineitem")
          .filter(col("l_quantity") > 30 && col("l_shipdate") < to_timestamp(lit("2000-01-01")))
          .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
          .orderBy("l_orderkey", "l_linenumber"),
      Some("""SELECT l_orderkey, l_linenumber, l_quantity
             |FROM lineitem
             |WHERE l_quantity > 30 AND l_shipdate < TIMESTAMP '2000-01-01'
             |ORDER BY l_orderkey, l_linenumber""".stripMargin),
    ),
    QuerySpec(
      "q03_arith",
      (s, d) =>
        t(s, d, "lineitem")
          .select(
            col("l_orderkey"),
            col("l_linenumber"),
            (col("l_quantity") + 5).as("qty_plus"),
            (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("disc_price"),
            (col("l_quantity") / 2).as("half_qty"),
            (col("l_linenumber") % 3).as("ln_mod"),
            expr("l_linenumber div 2").as("ln_div"),
          )
          .orderBy("l_orderkey", "l_linenumber"),
      Some("""SELECT l_orderkey, l_linenumber,
             |  l_quantity + 5 AS qty_plus,
             |  l_extendedprice * (1.0 - l_discount) AS disc_price,
             |  l_quantity / 2 AS half_qty,
             |  l_linenumber % 3 AS ln_mod,
             |  l_linenumber // 2 AS ln_div
             |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin),
    ),
    QuerySpec(
      "q04_global_agg",
      (s, d) =>
        t(s, d, "lineitem").agg(
          Exact.dsum(col("l_quantity")).as("sum_qty"),
          count(col("l_orderkey")).as("n"),
          min(col("l_quantity")).as("min_qty"),
          max(col("l_quantity")).as("max_qty"),
          Exact.davg(col("l_quantity")).as("avg_qty"),
        ),
      Some(s"""SELECT ${sumQty} AS sum_qty,
              |  COUNT(l_orderkey) AS n,
              |  MIN(l_quantity) AS min_qty,
              |  MAX(l_quantity) AS max_qty,
              |  ${Exact.sqlAvg("l_quantity")} AS avg_qty
              |FROM lineitem""".stripMargin),
    ),
    QuerySpec(
      "q05_group_agg",
      (s, d) =>
        t(s, d, "lineitem")
          .groupBy("l_returnflag")
          .agg(
            Exact.dsum(col("l_quantity")).as("sum_qty"),
            // agg over an arithmetic expression — reference README.md:23
            Exact.dsum(col("l_quantity") + 1).as("sum_qty1"),
            count(col("l_orderkey")).as("n"),
            min(col("l_extendedprice")).as("min_price"),
            max(col("l_extendedprice")).as("max_price"),
          )
          .orderBy("l_returnflag"),
      Some(s"""SELECT l_returnflag,
              |  ${sumQty} AS sum_qty,
              |  ${Exact.sqlSum("l_quantity + 1")} AS sum_qty1,
              |  COUNT(l_orderkey) AS n,
              |  MIN(l_extendedprice) AS min_price,
              |  MAX(l_extendedprice) AS max_price
              |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    ),
    QuerySpec(
      "q06_multi_group",
      (s, d) =>
        t(s, d, "lineitem")
          .filter(col("l_quantity") > 10)
          .groupBy("l_returnflag", "l_linestatus")
          .agg(
            Exact.dsum(col("l_quantity") * (lit(1.0) + col("l_tax"))).as("sum_taxed"),
            count(col("l_orderkey")).as("n"),
          )
          .orderBy("l_returnflag", "l_linestatus"),
      Some(s"""SELECT l_returnflag, l_linestatus,
              |  ${Exact.sqlSum("l_quantity * (1.0 + l_tax)")} AS sum_taxed,
              |  COUNT(l_orderkey) AS n
              |FROM lineitem WHERE l_quantity > 10
              |GROUP BY l_returnflag, l_linestatus
              |ORDER BY l_returnflag, l_linestatus""".stripMargin),
    ),
    // Surface the reference binds but panics on executing:
    // !=, AND, OR, %, NOT, unary minus, aliases (array_compute.rs:62-65).
    QuerySpec(
      "q07_bool_expr",
      (s, d) =>
        t(s, d, "lineitem")
          .filter(
            ((col("l_linenumber") % 2 === 1) && (col("l_quantity") =!= 5.0)) ||
              !(col("l_returnflag") === "A")
          )
          .select(
            col("l_orderkey"),
            col("l_linenumber"),
            (-col("l_quantity")).as("neg_qty"),
            (col("l_returnflag") =!= "N").as("not_n"),
          )
          .orderBy("l_orderkey", "l_linenumber"),
      Some("""SELECT l_orderkey, l_linenumber,
             |  -l_quantity AS neg_qty,
             |  l_returnflag != 'N' AS not_n
             |FROM lineitem
             |WHERE ((l_linenumber % 2) = 1 AND l_quantity != 5.0)
             |   OR NOT (l_returnflag = 'A')
             |ORDER BY l_orderkey, l_linenumber""".stripMargin),
    ),
    QuerySpec(
      "q08_cast",
      (s, d) =>
        t(s, d, "lineitem")
          .select(
            col("l_orderkey"),
            col("l_linenumber"),
            col("l_linenumber").cast(LongType).as("ln_big"),
            col("l_linenumber").cast(DoubleType).as("ln_dbl"),
            floor(col("l_quantity")).cast(LongType).as("qty_floor"),
          )
          .orderBy("l_orderkey", "l_linenumber"),
      Some("""SELECT l_orderkey, l_linenumber,
             |  CAST(l_linenumber AS BIGINT) AS ln_big,
             |  CAST(l_linenumber AS DOUBLE) AS ln_dbl,
             |  CAST(FLOOR(l_quantity) AS BIGINT) AS qty_floor
             |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin),
    ),
    // \dt equivalent (reference: src/cli.rs:118-119). Not DuckDB-comparable
    // (catalog contents differ) → rows-only check.
    // SHOW TABLES / `\dt` — run in a FRESH child session so the catalog
    // holds exactly the registered tables (the shared verify session also
    // carries transient views like q34's employee_csv, concurrently). The
    // oracle pins the full expected catalog as literals.
    QuerySpec(
      "q09_show_tables",
      (s, d) => {
        // fresh catalog; runtime confs do not carry over — and none are
        // needed: SHOW TABLES touches no data, so the child session stays
        // untuned (query paths are conf-read-only, r15 VERDICT item 7)
        val s2 = s.newSession()
        Tables.registerAll(s2, d)
        s2.sql("SHOW TABLES").select(col("tableName").as("table_name")).orderBy("table_name")
      },
      Some {
        val names = Tables.all.sorted.map(n => s"('$n')").mkString(", ")
        s"""SELECT * FROM (VALUES $names) AS t(table_name) ORDER BY table_name"""
      },
    ),
    // \load csv equivalent (reference: src/cli.rs:111-129): header + schema
    // inference + Arrow empty-string semantics, then query the loaded view.
    // Uses the reference's own employee fixture. The oracle reads the same
    // CSV with read_csv and restores the Arrow empty-vs-NULL convention
    // (empty field = "" for strings, NULL for numerics) with a COALESCE,
    // exactly like Tables.loadCsv does on the Spark side; SltSpec
    // additionally carries the reference's golden values.
    QuerySpec(
      "q34_load_csv",
      (s, _) => {
        Tables.loadCsv(s, "employee_csv", "/root/repo/src/test/resources/csv/employee.csv")
        s.sql("""SELECT state, count(state) AS n, sum(salary) AS sum_salary
                |FROM employee_csv GROUP BY state ORDER BY state""".stripMargin)
      },
      Some("""WITH e AS (
             |  SELECT COALESCE(state, '') AS state, salary
             |  FROM read_csv('/root/repo/src/test/resources/csv/employee.csv',
             |                header=true))
             |SELECT state, COUNT(state) AS n,
             |  CAST(SUM(salary) AS BIGINT) AS sum_salary
             |FROM e GROUP BY state ORDER BY state""".stripMargin),
    ),

    // ------------------------------------------------------------- headline
    // TPC-H Q1: the flagship scan+agg. One shuffle (partial→final agg);
    // 6 groups, so the exchange moves ~6 rows/partition at any scale.
    QuerySpec(
      "q10_tpch_q1",
      (s, d) =>
        t(s, d, "lineitem")
          .filter(col("l_shipdate") <= to_timestamp(lit("1998-09-02")))
          .groupBy("l_returnflag", "l_linestatus")
          .agg(
            Exact.dsum(col("l_quantity")).as("sum_qty"),
            Exact.dsum(col("l_extendedprice")).as("sum_base_price"),
            Exact.dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
            Exact.dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))).as("sum_charge"),
            Exact.davg(col("l_quantity")).as("avg_qty"),
            Exact.davg(col("l_extendedprice")).as("avg_price"),
            Exact.davg(col("l_discount")).as("avg_disc"),
            count(lit(1)).as("count_order"),
          )
          .orderBy("l_returnflag", "l_linestatus"),
      Some(s"""SELECT l_returnflag, l_linestatus,
              |  ${sumQty} AS sum_qty,
              |  ${Exact.sqlSum("l_extendedprice")} AS sum_base_price,
              |  ${Exact.sqlSum("l_extendedprice * (1.0 - l_discount)")} AS sum_disc_price,
              |  ${Exact.sqlSum("l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)")} AS sum_charge,
              |  ${Exact.sqlAvg("l_quantity")} AS avg_qty,
              |  ${Exact.sqlAvg("l_extendedprice")} AS avg_price,
              |  ${Exact.sqlAvg("l_discount")} AS avg_disc,
              |  COUNT(*) AS count_order
              |FROM lineitem
              |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
              |GROUP BY l_returnflag, l_linestatus
              |ORDER BY l_returnflag, l_linestatus""".stripMargin),
      headline = true,
    ),
    // Broadcast join: part is a dimension (200 rows at sf0.01; ~2M at sf100) —
    // broadcast() keeps the fact-table scan shuffle-free; the only exchange
    // is the 25-group aggregation.
    QuerySpec(
      "q11_join_broadcast",
      (s, d) =>
        t(s, d, "lineitem")
          .join(broadcast(t(s, d, "part")), col("l_partkey") === col("p_partkey"))
          .groupBy("p_brand")
          .agg(
            Exact.dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
            count(lit(1)).as("n_items"),
          )
          .orderBy("p_brand"),
      Some(s"""SELECT p_brand,
              |  ${Exact.sqlSum("l_extendedprice * (1.0 - l_discount)")} AS revenue,
              |  COUNT(*) AS n_items
              |FROM lineitem JOIN part ON l_partkey = p_partkey
              |GROUP BY p_brand ORDER BY p_brand""".stripMargin),
      headline = true,
    ),
    // TPC-H Q3 shape: one broadcastable dim (customer at this SF) + the
    // orders⋈lineitem shuffle join on orderkey. AQE handles skew; group key
    // o_orderkey is high-cardinality → partial agg does the heavy lifting.
    QuerySpec(
      "q12_tpch_q3",
      (s, d) => {
        val c = t(s, d, "customer").filter(col("c_mktsegment") === "BUILDING")
        val o = t(s, d, "orders").filter(col("o_orderdate") < to_timestamp(lit("1998-03-15")))
        val l = t(s, d, "lineitem").filter(col("l_shipdate") > to_timestamp(lit("1995-03-15")))
        l.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(c, col("o_custkey") === col("c_custkey"))
          .groupBy(col("l_orderkey"), date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"))
          .agg(Exact.dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
          .orderBy(col("revenue").desc, col("l_orderkey"))
          .limit(10)
      },
      Some(s"""SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
              |  ${Exact.sqlSum("l_extendedprice * (1.0 - l_discount)")} AS revenue
              |FROM lineitem
              |JOIN orders ON l_orderkey = o_orderkey
              |JOIN customer ON o_custkey = c_custkey
              |WHERE c_mktsegment = 'BUILDING'
              |  AND o_orderdate < TIMESTAMP '1998-03-15'
              |  AND l_shipdate > TIMESTAMP '1995-03-15'
              |GROUP BY l_orderkey, orderdate
              |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin),
      headline = true,
    ),
    // TPC-H Q5 shape: 5-way join. region/nation/supplier/customer are all
    // dims → broadcast chain; only orders⋈lineitem shuffles.
    QuerySpec(
      "q13_tpch_q5",
      (s, d) => {
        val r = t(s, d, "region").filter(col("r_name") === "ASIA")
        val n = t(s, d, "nation")
        val c = t(s, d, "customer")
        val o = t(s, d, "orders").filter(
          col("o_orderdate") >= to_timestamp(lit("1996-01-01")) &&
            col("o_orderdate") < to_timestamp(lit("1998-01-01")))
        val l = t(s, d, "lineitem")
        val sup = t(s, d, "supplier")
        l.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(c), col("o_custkey") === col("c_custkey") &&
            col("c_nationkey") === col("s_nationkey"))
          .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
          .groupBy("n_name")
          .agg(Exact.dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
          .orderBy(col("revenue").desc, col("n_name"))
      },
      Some(s"""SELECT n_name,
              |  ${Exact.sqlSum("l_extendedprice * (1.0 - l_discount)")} AS revenue
              |FROM lineitem
              |JOIN orders ON l_orderkey = o_orderkey
              |JOIN supplier ON l_suppkey = s_suppkey
              |JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
              |JOIN nation ON s_nationkey = n_nationkey
              |JOIN region ON n_regionkey = r_regionkey
              |WHERE r_name = 'ASIA'
              |  AND o_orderdate >= TIMESTAMP '1996-01-01'
              |  AND o_orderdate < TIMESTAMP '1998-01-01'
              |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin),
      headline = true,
    ),
    // Semi join = EXISTS. Spark plans left_semi; at scale the filter on the
    // probe side is pushed below the shuffle.
    QuerySpec(
      "q14_semi_join",
      (s, d) => {
        val o = t(s, d, "orders")
        val l = t(s, d, "lineitem").filter(col("l_quantity") >= 48)
        o.join(l, col("o_orderkey") === col("l_orderkey"), "left_semi")
          .select(col("o_orderkey"), col("o_totalprice"))
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_totalprice FROM orders
             |WHERE EXISTS (SELECT 1 FROM lineitem
             |              WHERE l_orderkey = o_orderkey AND l_quantity >= 48)
             |ORDER BY o_orderkey""".stripMargin),
    ),
    QuerySpec(
      "q15_anti_join",
      (s, d) => {
        val c = t(s, d, "customer")
        val o = t(s, d, "orders")
        c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
          .select(col("c_custkey"), col("c_name"))
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_name FROM customer
             |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
             |ORDER BY c_custkey""".stripMargin),
    ),
    QuerySpec(
      "q16_outer_join",
      (s, d) => {
        val c = t(s, d, "customer")
        val o = t(s, d, "orders")
        c.join(o, col("c_custkey") === col("o_custkey"), "left_outer")
          .groupBy("c_custkey")
          .agg(
            count(col("o_orderkey")).as("n_orders"),
            coalesce(Exact.dsum(col("o_totalprice")), lit(0.0)).as("total_spent"),
          )
          .orderBy("c_custkey")
      },
      Some(s"""SELECT c_custkey,
              |  COUNT(o_orderkey) AS n_orders,
              |  COALESCE(${Exact.sqlSum("o_totalprice")}, 0.0) AS total_spent
              |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
              |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin),
    ),
    // Top-K: Spark plans TakeOrderedAndProject — per-partition heap + driver
    // merge of K rows, no global sort. Exactly the 100 TB-safe pattern.
    QuerySpec(
      "q17_sort_limit",
      (s, d) =>
        t(s, d, "orders")
          .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
          .limit(15),
      Some("""SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
             |ORDER BY o_totalprice DESC, o_orderkey LIMIT 15""".stripMargin),
    ),
    QuerySpec(
      "q18_distinct",
      (s, d) =>
        t(s, d, "lineitem")
          .select(col("l_returnflag"), col("l_linestatus"))
          .distinct()
          .orderBy("l_returnflag", "l_linestatus"),
      Some("""SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
             |ORDER BY l_returnflag, l_linestatus""".stripMargin),
    ),
    QuerySpec(
      "q19_union",
      (s, d) => {
        val o = t(s, d, "orders")
        o.filter(col("o_totalprice") > 450000).select(col("o_custkey").as("custkey"))
          .union(o.filter(col("o_orderstatus") === "F").select(col("o_custkey").as("custkey")))
          .distinct()
          .orderBy("custkey")
      },
      Some("""SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 450000
             |UNION
             |SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
             |ORDER BY custkey""".stripMargin),
    ),
    QuerySpec(
      "q20_intersect",
      (s, d) => {
        val o = t(s, d, "orders")
        o.filter(col("o_totalprice") > 300000).select(col("o_custkey").as("custkey"))
          .intersect(o.filter(col("o_orderstatus") === "O").select(col("o_custkey").as("custkey")))
          .orderBy("custkey")
      },
      Some("""SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 300000
             |INTERSECT
             |SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
             |ORDER BY custkey""".stripMargin),
    ),
    QuerySpec(
      "q21_except",
      (s, d) => {
        val c = t(s, d, "customer")
        val o = t(s, d, "orders")
        c.select(col("c_custkey").as("custkey"))
          .except(o.filter(col("o_totalprice") > 100000).select(col("o_custkey").as("custkey")))
          .orderBy("custkey")
      },
      Some("""SELECT c_custkey AS custkey FROM customer
             |EXCEPT
             |SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 100000
             |ORDER BY custkey""".stripMargin),
    ),
    // Window functions: rank within partition. Shuffle on the partition key
    // only; no global sort.
    QuerySpec(
      "q22_window_rank",
      (s, d) => {
        val w = Window.partitionBy("o_orderstatus")
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        t(s, d, "orders")
          .select(
            col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
            rank().over(w).as("rnk"),
            row_number().over(w).as("rn"),
            dense_rank().over(w).as("drnk"),
          )
          .filter(col("rnk") <= 5)
          .orderBy("o_orderstatus", "rn")
      },
      Some("""SELECT * FROM (
             |  SELECT o_orderkey, o_orderstatus, o_totalprice,
             |    RANK() OVER w AS rnk,
             |    ROW_NUMBER() OVER w AS rn,
             |    DENSE_RANK() OVER w AS drnk
             |  FROM orders
             |  WINDOW w AS (PARTITION BY o_orderstatus
             |               ORDER BY o_totalprice DESC, o_orderkey)
             |) WHERE rnk <= 5 ORDER BY o_orderstatus, rn""".stripMargin),
    ),
    // Running aggregates + lag/lead per customer. Decimal-exact running sum
    // keeps the prefix-sum bit-stable across engines.
    QuerySpec(
      "q23_window_running",
      (s, d) => {
        val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
        t(s, d, "orders")
          .filter(col("o_custkey") < 50)
          .select(
            col("o_custkey"), col("o_orderkey"),
            Exact.dsum(col("o_totalprice"))
              .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
              .as("running_total"),
            lag(col("o_totalprice"), 1).over(w).as("prev_price"),
            lead(col("o_totalprice"), 1).over(w).as("next_price"),
          )
          .orderBy("o_custkey", "o_orderkey")
      },
      Some("""SELECT o_custkey, o_orderkey,
             |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,10))) OVER
             |    (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS VARCHAR) AS DOUBLE)
             |    AS running_total,
             |  LAG(o_totalprice, 1) OVER w AS prev_price,
             |  LEAD(o_totalprice, 1) OVER w AS next_price
             |FROM orders
             |WHERE o_custkey < 50
             |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
             |ORDER BY o_custkey, o_orderkey""".stripMargin),
    ),
    QuerySpec(
      "q24_having",
      (s, d) =>
        t(s, d, "orders")
          .groupBy("o_custkey")
          .agg(count(lit(1)).as("n_orders"),
            Exact.dsum(col("o_totalprice")).as("total"))
          .filter(col("n_orders") >= 5)
          .orderBy("o_custkey"),
      Some(s"""SELECT o_custkey, COUNT(*) AS n_orders,
              |  ${Exact.sqlSum("o_totalprice")} AS total
              |FROM orders GROUP BY o_custkey
              |HAVING COUNT(*) >= 5 ORDER BY o_custkey""".stripMargin),
    ),
    QuerySpec(
      "q25_case_when",
      (s, d) =>
        t(s, d, "orders")
          .select(
            col("o_orderkey"),
            when(col("o_totalprice") > 300000, "big")
              .when(col("o_totalprice") > 100000, "mid")
              .otherwise("small").as("bucket"),
          )
          .groupBy("bucket")
          .agg(count(lit(1)).as("n"))
          .orderBy("bucket"),
      Some("""SELECT CASE WHEN o_totalprice > 300000 THEN 'big'
             |            WHEN o_totalprice > 100000 THEN 'mid'
             |            ELSE 'small' END AS bucket,
             |  COUNT(*) AS n
             |FROM orders GROUP BY bucket ORDER BY bucket""".stripMargin),
    ),
    // Scalar subquery — via spark.sql to exercise the SQL entry point
    // (reference entry point 1, src/db.rs:50-92).
    QuerySpec(
      "q26_subquery_scalar",
      (s, d) => {
        Tables.registerAll(s, d)
        s.sql("""SELECT o_orderkey, o_totalprice FROM orders
                |WHERE o_totalprice > (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(38,10))) AS DOUBLE)
                |                             / CAST(COUNT(*) AS DOUBLE) * 1.8 FROM orders)
                |ORDER BY o_orderkey""".stripMargin)
      },
      Some("""SELECT o_orderkey, o_totalprice FROM orders
             |WHERE o_totalprice > (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(38,10))) AS DOUBLE)
             |                             / CAST(COUNT(*) AS DOUBLE) * 1.8 FROM orders)
             |ORDER BY o_orderkey""".stripMargin),
    ),
    QuerySpec(
      "q27_subquery_in",
      (s, d) => {
        Tables.registerAll(s, d)
        s.sql("""SELECT c_custkey, c_name FROM customer
                |WHERE c_custkey IN
                |  (SELECT o_custkey FROM orders WHERE o_totalprice > 480000)
                |ORDER BY c_custkey""".stripMargin)
      },
      Some("""SELECT c_custkey, c_name FROM customer
             |WHERE c_custkey IN
             |  (SELECT o_custkey FROM orders WHERE o_totalprice > 480000)
             |ORDER BY c_custkey""".stripMargin),
    ),
    QuerySpec(
      "q28_rollup",
      (s, d) =>
        t(s, d, "lineitem")
          .rollup("l_returnflag", "l_linestatus")
          .agg(count(lit(1)).as("n"))
          .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first),
      Some("""SELECT l_returnflag, l_linestatus, COUNT(*) AS n
             |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
             |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin),
    ),
    QuerySpec(
      "q29_string_funcs",
      (s, d) =>
        t(s, d, "part")
          .filter(col("p_name").like("%a%"))
          .select(
            col("p_partkey"),
            upper(col("p_type")).as("type_upper"),
            lower(col("p_name")).as("name_lower"),
            substring(col("p_name"), 1, 5).as("name_pfx"),
            length(col("p_name")).cast(LongType).as("name_len"),
            concat(col("p_brand"), lit("-"), col("p_type")).as("brand_type"),
            regexp_replace(col("p_name"), "a", "_").as("name_repl"),
          )
          .orderBy("p_partkey"),
      Some("""SELECT p_partkey,
             |  UPPER(p_type) AS type_upper,
             |  LOWER(p_name) AS name_lower,
             |  SUBSTRING(p_name, 1, 5) AS name_pfx,
             |  CAST(LENGTH(p_name) AS BIGINT) AS name_len,
             |  CONCAT(p_brand, '-', p_type) AS brand_type,
             |  REPLACE(p_name, 'a', '_') AS name_repl
             |FROM part WHERE p_name LIKE '%a%' ORDER BY p_partkey""".stripMargin),
    ),
    QuerySpec(
      "q30_date_funcs",
      (s, d) =>
        t(s, d, "orders")
          .select(
            col("o_orderkey"),
            year(col("o_orderdate")).as("yr"),
            month(col("o_orderdate")).as("mo"),
            dayofmonth(col("o_orderdate")).as("dom"),
            date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM-dd").as("month_start"),
            datediff(to_timestamp(lit("2002-01-01")), col("o_orderdate")).cast(LongType).as("days_to_2002"),
          )
          .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey,
             |  CAST(year(o_orderdate) AS INTEGER) AS yr,
             |  CAST(month(o_orderdate) AS INTEGER) AS mo,
             |  CAST(day(o_orderdate) AS INTEGER) AS dom,
             |  strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
             |  datediff('day', o_orderdate, TIMESTAMP '2002-01-01') AS days_to_2002
             |FROM orders ORDER BY o_orderkey""".stripMargin),
    ),
    QuerySpec(
      "q31_math_funcs",
      (s, d) =>
        t(s, d, "lineitem")
          .select(
            col("l_orderkey"),
            col("l_linenumber"),
            abs(col("l_tax") - 0.05).as("abs_tax"),
            floor(col("l_quantity") / 3).cast(LongType).as("qty_floor3"),
            ceil(col("l_quantity") / 3).cast(LongType).as("qty_ceil3"),
            sqrt(col("l_quantity")).as("qty_sqrt"),
            (col("l_discount") * col("l_discount")).as("disc_sq"),
            greatest(col("l_tax"), col("l_discount")).as("max_rate"),
            least(col("l_tax"), col("l_discount")).as("min_rate"),
          )
          .orderBy("l_orderkey", "l_linenumber"),
      Some("""SELECT l_orderkey, l_linenumber,
             |  ABS(l_tax - 0.05) AS abs_tax,
             |  CAST(FLOOR(l_quantity / 3) AS BIGINT) AS qty_floor3,
             |  CAST(CEIL(l_quantity / 3) AS BIGINT) AS qty_ceil3,
             |  SQRT(l_quantity) AS qty_sqrt,
             |  l_discount * l_discount AS disc_sq,
             |  GREATEST(l_tax, l_discount) AS max_rate,
             |  LEAST(l_tax, l_discount) AS min_rate
             |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin),
    ),
    QuerySpec(
      "q32_null_funcs",
      (s, d) =>
        t(s, d, "lineitem")
          .select(
            col("l_orderkey"),
            col("l_linenumber"),
            nullif(col("l_returnflag"), lit("N")).as("flag_or_null"),
            coalesce(nullif(col("l_returnflag"), lit("N")), lit("XX")).as("flag_coalesced"),
            nullif(col("l_returnflag"), lit("N")).isNull.as("is_n"),
          )
          .orderBy("l_orderkey", "l_linenumber"),
      Some("""SELECT l_orderkey, l_linenumber,
             |  NULLIF(l_returnflag, 'N') AS flag_or_null,
             |  COALESCE(NULLIF(l_returnflag, 'N'), 'XX') AS flag_coalesced,
             |  NULLIF(l_returnflag, 'N') IS NULL AS is_n
             |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin),
    ),
    QuerySpec(
      "q33_in_between",
      (s, d) =>
        t(s, d, "lineitem")
          .filter(
            col("l_quantity").between(10, 20) &&
              col("l_returnflag").isin("A", "R"))
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"), Exact.dsum(col("l_quantity")).as("sum_qty"))
          .orderBy("l_returnflag"),
      Some(s"""SELECT l_returnflag, COUNT(*) AS n, ${sumQty} AS sum_qty
              |FROM lineitem
              |WHERE l_quantity BETWEEN 10 AND 20 AND l_returnflag IN ('A', 'R')
              |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    ),
  )
}
