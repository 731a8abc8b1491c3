package graft.queries

import org.apache.spark.sql.functions._

import graft.QuerySpec
import graft.engine.{Exact, Tables}

/** More TPC-H query families (Q7/Q12/Q14/Q19 shapes, predicates adapted to
  * the synthetic dimension values). Each exercises a distinct plan shape:
  * bilateral nation join, case-inside-agg, conditional revenue share,
  * multi-bracket OR-of-ANDs predicate pushdown. The reference supports no
  * joins of any kind (reference: src/binder/table/mod.rs:15-20 ignores the
  * joins field; src/optimizer/plan_node/mod.rs:63-78 has no join node).
  */
object TpchMore {

  lazy val specs: Vector[QuerySpec] = Vector(
    // Q7 shape: supplier-nation ↔ customer-nation trade volume.
    QuerySpec(
      "q54_tpch_q7",
      (s, d) => {
        val n1 = Tables(s, d, "nation").select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
        val n2 = Tables(s, d, "nation").select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
        Tables(s, d, "lineitem")
          .join(Tables(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(Tables(s, d, "supplier")), col("l_suppkey") === col("s_suppkey"))
          .join(Tables(s, d, "customer"), col("o_custkey") === col("c_custkey"))
          .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
          .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
          .filter(col("supp_nation") < col("cust_nation")) // distinct pairs
          .groupBy(col("supp_nation"), col("cust_nation"), year(col("l_shipdate")).as("l_year"))
          .agg(Exact.dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
          .orderBy("supp_nation", "cust_nation", "l_year")
      },
      Some(s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
              |  CAST(year(l_shipdate) AS INTEGER) AS l_year,
              |  ${Exact.sqlSum("l_extendedprice * (1.0 - l_discount)")} AS revenue
              |FROM lineitem
              |JOIN orders ON l_orderkey = o_orderkey
              |JOIN supplier ON l_suppkey = s_suppkey
              |JOIN customer ON o_custkey = c_custkey
              |JOIN nation n1 ON s_nationkey = n1.n_nationkey
              |JOIN nation n2 ON c_nationkey = n2.n_nationkey
              |WHERE n1.n_name < n2.n_name
              |GROUP BY supp_nation, cust_nation, l_year
              |ORDER BY supp_nation, cust_nation, l_year""".stripMargin),
    ),
    // Q12 shape: CASE-inside-aggregate priority counting per group.
    QuerySpec(
      "q55_tpch_q12",
      (s, d) =>
        Tables(s, d, "lineitem")
          .join(Tables(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
          .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01")) &&
            col("l_shipdate") < to_timestamp(lit("1998-01-01")))
          .groupBy("l_returnflag")
          .agg(
            sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L).otherwise(0L))
              .as("high_line_count"),
            sum(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L).otherwise(0L))
              .as("low_line_count"),
          )
          .orderBy("l_returnflag"),
      // DuckDB SUM(int) yields HUGEINT, which pandas widens to float64 and
      // the driver's value-hash then sees 2260.0 != Spark's int64 2260.
      Some("""SELECT l_returnflag,
             |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
             |           THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
             |  CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
             |           THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
             |  AND l_shipdate < TIMESTAMP '1998-01-01'
             |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    ),
    // Q14 shape: conditional revenue share (promo = ECONOMY parts here).
    QuerySpec(
      "q56_tpch_q14",
      (s, d) =>
        Tables(s, d, "lineitem")
          .join(broadcast(Tables(s, d, "part")), col("l_partkey") === col("p_partkey"))
          .agg(
            (Exact.dsum(when(col("p_type") === "ECONOMY",
              col("l_extendedprice") * (lit(1.0) - col("l_discount"))).otherwise(0.0)) * 100.0 /
              Exact.dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
              .as("promo_revenue_pct"),
          ),
      Some(s"""SELECT
              |  ${Exact.sqlSum("CASE WHEN p_type = 'ECONOMY' THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END")}
              |    * 100.0 /
              |  ${Exact.sqlSum("l_extendedprice * (1.0 - l_discount)")}
              |    AS promo_revenue_pct
              |FROM lineitem JOIN part ON l_partkey = p_partkey""".stripMargin),
    ),
    // Q19 shape: OR of multi-condition brackets — the whole disjunction is
    // pushed below the join as a partial filter by Catalyst.
    QuerySpec(
      "q57_tpch_q19",
      (s, d) =>
        Tables(s, d, "lineitem")
          .join(broadcast(Tables(s, d, "part")), col("l_partkey") === col("p_partkey"))
          .filter(
            (col("p_brand") === "Brand#1" && col("p_size").between(1, 15) &&
              col("l_quantity").between(1, 20)) ||
              (col("p_brand") === "Brand#2" && col("p_size").between(10, 30) &&
                col("l_quantity").between(10, 30)) ||
              (col("p_brand") === "Brand#3" && col("p_size").between(20, 50) &&
                col("l_quantity").between(20, 50)))
          .agg(
            Exact.dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
            count(lit(1)).as("n"),
          ),
      Some(s"""SELECT
              |  ${Exact.sqlSum("l_extendedprice * (1.0 - l_discount)")} AS revenue,
              |  COUNT(*) AS n
              |FROM lineitem JOIN part ON l_partkey = p_partkey
              |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
              |       AND l_quantity BETWEEN 1 AND 20)
              |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
              |       AND l_quantity BETWEEN 10 AND 30)
              |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
              |       AND l_quantity BETWEEN 20 AND 50)""".stripMargin),
    ),
    // Q8 shape (national market share): nation-of-supplier revenue share
    // within a region's customer base, per year. Two ratios of decimal-
    // exact sums (numerator = conditional sum) — double division of two
    // deterministic doubles. Plan: one big-big shuffle (lineitem ⋈ orders);
    // part/supplier/nation/region all broadcast; customer is the one
    // sf-proportional dim, so it is pre-filtered to the region's customers
    // via the broadcast n1⋈region chain (two broadcast joins, no shuffle)
    // and then joined UNHINTED — AQE broadcasts the filtered set at bench
    // SFs and falls back to a shuffle join when it outgrows the threshold.
    QuerySpec(
      "q78_tpch_q8",
      (s, d) => {
        val n1 = Tables(s, d, "nation")
          .select(col("n_nationkey").as("c_nk"), col("n_regionkey"))
        val n2 = Tables(s, d, "nation")
          .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
        val asia = broadcast(Tables(s, d, "region").filter(col("r_name") === "ASIA"))
        val asiaCust = Tables(s, d, "customer")
          .join(broadcast(n1), col("c_nationkey") === col("c_nk"))
          .join(asia, col("n_regionkey") === col("r_regionkey"))
          .select(col("c_custkey"))
        Tables(s, d, "lineitem")
          .join(broadcast(Tables(s, d, "part").filter(col("p_type") === "STANDARD")),
            col("l_partkey") === col("p_partkey"))
          .join(Tables(s, d, "orders")
            .filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01")) &&
              col("o_orderdate") < to_timestamp(lit("1998-01-01"))),
            col("l_orderkey") === col("o_orderkey"))
          .join(asiaCust, col("o_custkey") === col("c_custkey"))
          .join(broadcast(Tables(s, d, "supplier")), col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(n2), col("s_nationkey") === col("s_nk"))
          .withColumn("volume", col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .groupBy(year(col("o_orderdate")).as("o_year"))
          .agg(
            (Exact.dsum(when(col("supp_nation") === "NATION_2", col("volume"))
              .otherwise(lit(0.0))) / Exact.dsum(col("volume"))).as("mkt_share"))
          .orderBy("o_year")
      },
      Some(s"""SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
              |  ${Exact.sqlSum("CASE WHEN n2.n_name = 'NATION_2' " +
                 "THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END")} /
              |  ${Exact.sqlSum("l_extendedprice * (1.0 - l_discount)")} AS mkt_share
              |FROM lineitem
              |JOIN part ON l_partkey = p_partkey
              |JOIN orders ON l_orderkey = o_orderkey
              |JOIN customer ON o_custkey = c_custkey
              |JOIN nation n1 ON c_nationkey = n1.n_nationkey
              |JOIN region ON n1.n_regionkey = r_regionkey
              |JOIN supplier ON l_suppkey = s_suppkey
              |JOIN nation n2 ON s_nationkey = n2.n_nationkey
              |WHERE r_name = 'ASIA' AND p_type = 'STANDARD'
              |  AND o_orderdate >= TIMESTAMP '1996-01-01'
              |  AND o_orderdate < TIMESTAMP '1998-01-01'
              |GROUP BY o_year ORDER BY o_year""".stripMargin),
    ),
    // Q13 shape (customer distribution): LEFT join with an ON-clause
    // residual (the classic not-the-WHERE-clause trap), count per customer
    // including zeros, then the distribution of those counts. Plan: one
    // shuffle keyed o_custkey for the outer join + partial+final counts.
    QuerySpec(
      "q79_tpch_q13",
      (s, d) =>
        Tables(s, d, "customer")
          .join(Tables(s, d, "orders").filter(col("o_orderpriority") =!= "1-URGENT"),
            col("c_custkey") === col("o_custkey"), "left")
          .groupBy(col("c_custkey"))
          .agg(count(col("o_orderkey")).as("c_count"))
          .groupBy(col("c_count"))
          .agg(count(lit(1)).as("custdist"))
          .orderBy(col("custdist").desc, col("c_count").desc),
      Some("""WITH per_cust AS (
             |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
             |  FROM customer LEFT JOIN orders
             |    ON c_custkey = o_custkey AND o_orderpriority != '1-URGENT'
             |  GROUP BY c_custkey)
             |SELECT CAST(c_count AS BIGINT) AS c_count,
             |  CAST(COUNT(*) AS BIGINT) AS custdist
             |FROM per_cust GROUP BY c_count
             |ORDER BY custdist DESC, c_count DESC""".stripMargin),
    ),
  )
}
