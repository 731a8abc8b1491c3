package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.QuerySpec
import graft.engine.{Exact, Tables}

/** Second tranche of relational surface: cube/grouping sets, the rest of the
  * window-function family, ordered-selection aggregates, richer string
  * functions, full outer join, union all. Everything oracled. All beyond the
  * reference, which has no set ops, windows, or string functions at all
  * (reference: src/binder/statement/mod.rs:25 todo!() on non-Select set
  * exprs; src/binder/expression/mod.rs:16-24 closed 6-variant expr enum).
  */
object Relational2 {

  lazy val specs: Vector[QuerySpec] = Vector(
    QuerySpec(
      "q42_cube",
      (s, d) =>
        Tables(s, d, "lineitem")
          .cube("l_returnflag", "l_linestatus")
          .agg(count(lit(1)).as("n"), Exact.dsum(col("l_quantity")).as("sum_qty"))
          .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first),
      Some(s"""SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
              |  ${Exact.sqlSum("l_quantity")} AS sum_qty
              |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
              |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin),
    ),
    QuerySpec(
      "q43_window_dist",
      (s, d) => {
        val w = Window.partitionBy("o_orderstatus")
          .orderBy(col("o_totalprice"), col("o_orderkey"))
        Tables(s, d, "orders")
          .filter(col("o_custkey") < 100)
          .select(
            col("o_orderkey"), col("o_orderstatus"),
            ntile(4).over(w).as("quartile"),
            percent_rank().over(w).as("pct_rank"),
            cume_dist().over(w).as("cdist"),
            first(col("o_orderkey")).over(
              w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("first_key"),
            last(col("o_orderkey")).over(
              w.rowsBetween(Window.currentRow, Window.unboundedFollowing)).as("last_key"),
          )
          .orderBy("o_orderstatus", "o_orderkey")
      },
      Some("""SELECT o_orderkey, o_orderstatus,
             |  NTILE(4) OVER w AS quartile,
             |  PERCENT_RANK() OVER w AS pct_rank,
             |  CUME_DIST() OVER w AS cdist,
             |  FIRST_VALUE(o_orderkey) OVER
             |    (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey
             |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_key,
             |  LAST_VALUE(o_orderkey) OVER
             |    (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey
             |     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS last_key
             |FROM orders WHERE o_custkey < 100
             |WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
             |ORDER BY o_orderstatus, o_orderkey""".stripMargin),
    ),
    // Ordered-selection aggregates: the row that attains an extreme.
    QuerySpec(
      "q44_arg_extremes",
      (s, d) =>
        Tables(s, d, "orders")
          .groupBy("o_orderstatus")
          .agg(
            // TIE-DETERMINISTIC arg-extremes (r10 — the sf1 gate caught
            // max_by/arg_max diverging: the sf1 tiling duplicates the
            // extremal price, and BOTH engines leave the tie-break
            // unspecified). Struct ordering pins the contract: among
            // max-price ties take the LARGEST key, among min-price ties
            // the SMALLEST — lexicographic (price, key) max/min, which
            // any engine can replicate exactly.
            max(struct(col("o_totalprice"), col("o_orderkey")))
              .getField("o_orderkey").as("key_of_max"),
            min(struct(col("o_totalprice"), col("o_orderkey")))
              .getField("o_orderkey").as("key_of_min"),
            count_if(col("o_totalprice") > 250000).as("n_big"),
            max(col("o_totalprice")).as("max_price"),
          )
          .orderBy("o_orderstatus"),
      // DuckDB 1.0's arg_max has no composite-key form, so the oracle
      // makes the tie rule explicit: join back on the extreme price and
      // take MAX/MIN of the qualifying keys
      Some("""WITH m AS (
             |  SELECT o_orderstatus, MAX(o_totalprice) AS max_price,
             |    MIN(o_totalprice) AS min_price,
             |    COUNT(*) FILTER (WHERE o_totalprice > 250000) AS n_big
             |  FROM orders GROUP BY o_orderstatus),
             |km AS (
             |  SELECT o_orderstatus, MAX(o_orderkey) AS key_of_max
             |  FROM orders JOIN m USING (o_orderstatus)
             |  WHERE o_totalprice = max_price GROUP BY o_orderstatus),
             |kn AS (
             |  SELECT o_orderstatus, MIN(o_orderkey) AS key_of_min
             |  FROM orders JOIN m USING (o_orderstatus)
             |  WHERE o_totalprice = min_price GROUP BY o_orderstatus)
             |SELECT m.o_orderstatus, key_of_max, key_of_min, n_big,
             |  max_price
             |FROM m JOIN km USING (o_orderstatus) JOIN kn USING (o_orderstatus)
             |ORDER BY m.o_orderstatus""".stripMargin),
    ),
    QuerySpec(
      "q45_string_funcs2",
      (s, d) =>
        Tables(s, d, "part")
          .select(
            col("p_partkey"),
            lpad(col("p_brand"), 12, "_").as("brand_pad"),
            reverse(col("p_type")).as("type_rev"),
            expr("left(p_name, 4)").as("name_l4"),
            expr("right(p_name, 4)").as("name_r4"),
            split_part(col("p_brand"), lit("#"), lit(2)).as("brand_num"),
            translate(col("p_type"), "AEIOU", "aeiou").as("type_tr"),
            repeat(lit("*"), col("p_size") % 5).as("stars"),
            instr(col("p_name"), "a").cast(LongType).as("first_a"),
          )
          .orderBy("p_partkey"),
      Some("""SELECT p_partkey,
             |  lpad(p_brand, 12, '_') AS brand_pad,
             |  reverse(p_type) AS type_rev,
             |  left(p_name, 4) AS name_l4,
             |  right(p_name, 4) AS name_r4,
             |  split_part(p_brand, '#', 2) AS brand_num,
             |  translate(p_type, 'AEIOU', 'aeiou') AS type_tr,
             |  repeat('*', p_size % 5) AS stars,
             |  CAST(instr(p_name, 'a') AS BIGINT) AS first_a
             |FROM part ORDER BY p_partkey""".stripMargin),
    ),
    QuerySpec(
      "q46_full_outer",
      (s, d) => {
        // keys engineered so both sides have unmatched rows
        val a = Tables(s, d, "orders").filter(col("o_orderkey") % 3 === 0)
          .groupBy(col("o_custkey").as("k")).agg(count(lit(1)).as("n_a"))
        val b = Tables(s, d, "orders").filter(col("o_orderkey") % 3 === 1)
          .groupBy(col("o_custkey").as("k2")).agg(count(lit(1)).as("n_b"))
        a.join(b, col("k") === col("k2"), "full_outer")
          .select(coalesce(col("k"), col("k2")).as("custkey"),
            coalesce(col("n_a"), lit(0L)).as("n_a"),
            coalesce(col("n_b"), lit(0L)).as("n_b"))
          .orderBy("custkey")
      },
      Some("""WITH a AS (
             |  SELECT o_custkey AS k, COUNT(*) AS n_a FROM orders
             |  WHERE o_orderkey % 3 = 0 GROUP BY 1),
             |b AS (
             |  SELECT o_custkey AS k2, COUNT(*) AS n_b FROM orders
             |  WHERE o_orderkey % 3 = 1 GROUP BY 1)
             |SELECT COALESCE(k, k2) AS custkey,
             |  COALESCE(n_a, 0) AS n_a, COALESCE(n_b, 0) AS n_b
             |FROM a FULL OUTER JOIN b ON k = k2 ORDER BY custkey""".stripMargin),
    ),
    QuerySpec(
      "q47_union_all",
      (s, d) => {
        val o = Tables(s, d, "orders")
        o.filter(col("o_totalprice") > 400000)
          .select(col("o_custkey").as("custkey"), lit("big").as("src"))
          .unionAll(o.filter(col("o_orderstatus") === "P")
            .select(col("o_custkey").as("custkey"), lit("pending").as("src")))
          .groupBy("src").agg(count(lit(1)).as("n"))
          .orderBy("src")
      },
      Some("""SELECT src, COUNT(*) AS n FROM (
             |  SELECT o_custkey AS custkey, 'big' AS src FROM orders
             |  WHERE o_totalprice > 400000
             |  UNION ALL
             |  SELECT o_custkey AS custkey, 'pending' AS src FROM orders
             |  WHERE o_orderstatus = 'P')
             |GROUP BY src ORDER BY src""".stripMargin),
    ),
    // Regular expressions: extraction, matching, counting. Patterns kept in
    // the RE2 ∩ java.util.regex common subset so both engines agree.
    QuerySpec(
      "q61_regexp",
      (s, d) =>
        Tables(s, d, "part")
          .select(
            col("p_partkey"),
            regexp_extract(col("p_brand"), "([0-9]+)", 1).as("brand_digits"),
            col("p_name").rlike("^[a-z]+ [a-z]+").as("two_words"),
            regexp_count(col("p_name"), lit("a")).as("n_a"),
          )
          .orderBy("p_partkey"),
      Some("""SELECT p_partkey,
             |  COALESCE(regexp_extract(p_brand, '([0-9]+)', 1), '') AS brand_digits,
             |  regexp_matches(p_name, '^[a-z]+ [a-z]+') AS two_words,
             |  CAST(len(regexp_extract_all(p_name, 'a')) AS BIGINT) AS n_a
             |FROM part ORDER BY p_partkey""".stripMargin),
    ),
  )
}
