package graft.queries

import org.apache.spark.sql.functions._

import graft.QuerySpec
import graft.engine.{Exact, GraftExtensions, Tables}

/** Third tranche: nested/correlated subquery shapes (TPC-H Q2/Q18/Q21
  * families) — these exercise Catalyst's subquery decorrelation, which
  * rewrites the correlated form into joins + aggregates; the plans contain
  * no per-row subquery execution. Plus the user-defined-function surface.
  * All beyond the reference: it binds only projection/from/selection/
  * group_by (reference: src/binder/statement/mod.rs:36-62) and has no UDF
  * registry beyond four hardcoded agg names
  * (src/binder/expression/agg_func.rs:53-75).
  */
object Relational3 {

  lazy val specs: Vector[QuerySpec] = Vector(
    // Q2 family: rows attaining a per-group minimum via correlated subquery.
    QuerySpec(
      "q48_corr_min",
      (s, d) => {
        Tables.registerAll(s, d)
        s.sql("""SELECT p_brand, p_partkey, p_retailprice
                |FROM part p
                |WHERE p_retailprice = (
                |  SELECT MIN(p2.p_retailprice) FROM part p2
                |  WHERE p2.p_brand = p.p_brand)
                |ORDER BY p_brand, p_partkey""".stripMargin)
      },
      Some("""SELECT p_brand, p_partkey, p_retailprice
             |FROM part p
             |WHERE p_retailprice = (
             |  SELECT MIN(p2.p_retailprice) FROM part p2
             |  WHERE p2.p_brand = p.p_brand)
             |ORDER BY p_brand, p_partkey""".stripMargin),
    ),
    // Q18 family: IN over a grouped HAVING subquery.
    QuerySpec(
      "q49_in_grouped",
      (s, d) => {
        Tables.registerAll(s, d)
        GraftExtensions.install(s) // sum_exact
        s.sql("""SELECT o_orderkey, o_custkey, o_totalprice
                |FROM orders
                |WHERE o_orderkey IN (
                |  SELECT l_orderkey FROM lineitem
                |  GROUP BY l_orderkey HAVING sum_exact(l_quantity) > 250)
                |ORDER BY o_orderkey""".stripMargin)
      },
      Some(s"""SELECT o_orderkey, o_custkey, o_totalprice
              |FROM orders
              |WHERE o_orderkey IN (
              |  SELECT l_orderkey FROM lineitem
              |  GROUP BY l_orderkey HAVING ${Exact.sqlSum("l_quantity")} > 250)
              |ORDER BY o_orderkey""".stripMargin),
    ),
    // Q21 family: EXISTS and NOT EXISTS against the same table.
    QuerySpec(
      "q50_exists_not_exists",
      (s, d) => {
        Tables.registerAll(s, d)
        s.sql("""SELECT DISTINCT l1.l_orderkey
                |FROM lineitem l1
                |WHERE l1.l_returnflag = 'R'
                |  AND EXISTS (SELECT 1 FROM lineitem l2
                |              WHERE l2.l_orderkey = l1.l_orderkey
                |                AND l2.l_suppkey <> l1.l_suppkey)
                |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                |                  WHERE l3.l_orderkey = l1.l_orderkey
                |                    AND l3.l_returnflag = 'A')
                |ORDER BY l_orderkey""".stripMargin)
      },
      Some("""SELECT DISTINCT l1.l_orderkey
             |FROM lineitem l1
             |WHERE l1.l_returnflag = 'R'
             |  AND EXISTS (SELECT 1 FROM lineitem l2
             |              WHERE l2.l_orderkey = l1.l_orderkey
             |                AND l2.l_suppkey <> l1.l_suppkey)
             |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
             |                  WHERE l3.l_orderkey = l1.l_orderkey
             |                    AND l3.l_returnflag = 'A')
             |ORDER BY l_orderkey""".stripMargin),
    ),
    // User-defined scalar function surface: spark.udf.register + SQL use.
    // The UDF body is mirrored by plain SQL in the oracle. (UDFs break
    // codegen — fine here, the point is the registration surface; hot-path
    // custom logic belongs in native expressions like functions/Hashing.)
    QuerySpec(
      "q51_scala_udf",
      (s, d) => {
        Tables.registerAll(s, d)
        s.udf.register("price_bucket", (p: Double) =>
          if (p > 300000) "big" else if (p > 100000) "mid" else "small")
        s.sql("""SELECT price_bucket(o_totalprice) AS bucket,
                |       COUNT(*) AS n
                |FROM orders GROUP BY bucket ORDER BY bucket""".stripMargin)
      },
      Some("""SELECT CASE WHEN o_totalprice > 300000 THEN 'big'
             |            WHEN o_totalprice > 100000 THEN 'mid'
             |            ELSE 'small' END AS bucket,
             |  COUNT(*) AS n
             |FROM orders GROUP BY bucket ORDER BY bucket""".stripMargin),
    ),
  )
}
