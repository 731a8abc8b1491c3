package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.QuerySpec
import graft.engine.{DuckHash, Exact, Tables}
import graft.functions.ghash

/** Synthesized `partsupp` + the four TPC-H shapes that need it (Q2/Q9/Q11/
  * Q20 → q80–q83).
  *
  * The shipped testdata has no partsupp table, which capped the TPC-H suite
  * at the 18 partsupp-free shapes. Rather than shipping data, partsupp is a
  * PURE FUNCTION of the tables that do exist — the q76 graft-gen pattern
  * (deterministic mix64 chains) applied relationally: every part gets 4
  * supplier links, TPC-H's own key-spreading formula picks the suppliers,
  * and availqty/supplycost come from disjoint bit ranges of one fmix64 of
  * (partkey, rank). Both engines regenerate the identical rows from SQL
  * ([[duckSql]]), so the oracle gate stays hash-exact — no files, no
  * collect, and at 100 TB the derivation is a narrow part-table scan × 4,
  * generated in parallel wherever the part rows live.
  *
  * Key-domain assumption (holds for every shipped SF): supplier keys are
  * contiguous 0-based, so `% count(supplier)` lands on a real supplier.
  * (The reference engine has no multi-table data model at all — its storage
  * is one CSV per table, reference: src/storage/csv.rs:88-167 — so this
  * whole family is north-star surface, not parity.)
  */
object Partsupp {

  /** TPC-H-style supplier spreading: supplier r of part p (r = 0..3) is
    * `(p + p/S + r·(S/4)) mod S` — the 4 links of a part land in distinct
    * quarters of the supplier space (offsets r·⌊S/4⌋ are 0, q, 2q, 3q with
    * 3q < S, so they're distinct mod S for ANY supplier count ≥ 4 — TPC-H's
    * own `r·(S/4 + wobble)` formula collides at small S, caught by
    * PartsuppSpec at sf0.001's 10 suppliers), and consecutive parts rotate
    * through the space via the `p + p/S` term.
    */
  def derive(part: DataFrame, supplier: DataFrame): DataFrame = {
    val sCnt = broadcast(supplier.agg(count(lit(1)).as("s_cnt")))
    val m = ghash.mix64(col("ps_partkey") * 4 + col("r"))
    part.select(col("p_partkey"))
      .crossJoin(sCnt)
      .select(col("p_partkey").as("ps_partkey"),
        explode(sequence(lit(0L), lit(3L))).as("r"), col("s_cnt"))
      .select(
        col("ps_partkey"),
        pmod(col("ps_partkey") +
          floor(col("ps_partkey") / col("s_cnt")).cast(LongType) +
          col("r") * floor(col("s_cnt") / lit(4.0)).cast(LongType),
          col("s_cnt")).as("ps_suppkey"),
        // bits 0–12 → availqty in 1..8192; bits 13–28 → supplycost in
        // 1.00..656.35 (mask + shift, not modulo of the signed long — bit
        // slices are identical between Spark's signed long and the
        // oracle's unsigned HUGEINT encoding)
        (m.bitwiseAND(lit(8191L)) + lit(1L)).as("ps_availqty"),
        (shiftrightunsigned(m, 13).bitwiseAND(lit(65535L)).cast(DoubleType)
          / lit(100.0) + lit(1.0)).as("ps_supplycost"))
  }

  def table(s: SparkSession, d: String): DataFrame =
    derive(Tables(s, d, "part"), Tables(s, d, "supplier"))

  /** DuckDB CTE body regenerating the identical rows (use as
    * `WITH ps AS (...)`). The mix64 replica is HUGEINT arithmetic in
    * [0, 2^64): `% 8192` = low 13 bits, `// 8192 % 65536` = bits 13–28 —
    * the same slices the Spark side masks out of the signed long.
    */
  val duckPs: String = {
    val mix = DuckHash.mix64("CAST(p_partkey*4 + r AS HUGEINT)")
    s"""SELECT p_partkey AS ps_partkey,
       |    (p_partkey + p_partkey//s_cnt + r * (s_cnt//4)) % s_cnt AS ps_suppkey,
       |    CAST($mix % 8192 + 1 AS BIGINT) AS ps_availqty,
       |    CAST(($mix // 8192) % 65536 AS DOUBLE)/100.0 + 1.0 AS ps_supplycost
       |  FROM part,
       |    (SELECT COUNT(*) AS s_cnt FROM supplier),
       |    (SELECT unnest(range(0, 4)) AS r)""".stripMargin
  }

  lazy val specs: Vector[QuerySpec] = Vector(
    // TPC-H Q2 (minimum-cost supplier): for the filtered parts, the
    // supplier(s) in EUROPE offering the region-wide minimum supplycost.
    // Plan: partsupp derives from the FILTERED part frame (generation-side
    // predicate pushdown — the 4× fan-out only happens for matching parts),
    // suppliers-in-region broadcasts, the per-part min is a narrow
    // two-column aggregation, and the equality join back is on (partkey,
    // cost) — no correlated re-scan, the classic decorrelated Q2.
    QuerySpec(
      "q80_tpch_q2",
      (s, d) => {
        val euSupp = broadcast(Tables(s, d, "supplier")
          .join(broadcast(Tables(s, d, "nation")
            .join(broadcast(Tables(s, d, "region").filter(col("r_name") === "EUROPE")),
              col("n_regionkey") === col("r_regionkey"))
            .select(col("n_nationkey"), col("n_name"))),
            col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), col("s_name"), col("s_acctbal"), col("n_name")))
        val parts = Tables(s, d, "part")
          .filter(col("p_type") === "LARGE" && col("p_size").between(10, 20))
          .select(col("p_partkey"), col("p_brand"))
        val ps = derive(parts.select(col("p_partkey")), Tables(s, d, "supplier"))
        val euPs = ps.join(euSupp, col("ps_suppkey") === col("s_suppkey"))
        val minCost = euPs.groupBy(col("ps_partkey").as("mc_partkey"))
          .agg(min(col("ps_supplycost")).as("min_cost"))
        euPs
          .join(minCost, col("ps_partkey") === col("mc_partkey") &&
            col("ps_supplycost") === col("min_cost"))
          .join(broadcast(parts), col("ps_partkey") === col("p_partkey"))
          .select(col("s_acctbal"), col("s_name"), col("n_name"),
            col("p_partkey"), col("p_brand"), col("ps_supplycost"))
          .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"), col("p_partkey"))
          .limit(100)
      },
      Some(s"""WITH ps AS ($duckPs),
              |eu AS (
              |  SELECT s_suppkey, s_name, s_acctbal, n_name
              |  FROM supplier JOIN nation ON s_nationkey = n_nationkey
              |  JOIN region ON n_regionkey = r_regionkey
              |  WHERE r_name = 'EUROPE'),
              |parts AS (
              |  SELECT p_partkey, p_brand FROM part
              |  WHERE p_type = 'LARGE' AND p_size BETWEEN 10 AND 20),
              |eups AS (
              |  SELECT ps.*, eu.s_name, eu.s_acctbal, eu.n_name,
              |    parts.p_partkey, parts.p_brand
              |  FROM ps JOIN eu ON ps_suppkey = s_suppkey
              |  JOIN parts ON ps_partkey = p_partkey),
              |mc AS (
              |  SELECT ps_partkey AS mc_partkey, MIN(ps_supplycost) AS min_cost
              |  FROM eups GROUP BY 1)
              |SELECT s_acctbal, s_name, n_name, p_partkey, p_brand, ps_supplycost
              |FROM eups JOIN mc ON ps_partkey = mc_partkey
              |  AND ps_supplycost = min_cost
              |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
              |LIMIT 100""".stripMargin),
    ),
    // TPC-H Q9 (product-type profit): per supplier-nation and order year,
    // Σ (revenue − supplycost·quantity) over lineitems of the matching
    // parts. Plan: the p_name filter prunes part BEFORE partsupp derivation
    // AND before the lineitem join fans out (PlanSpec gate); partsupp and
    // the filtered part broadcast; lineitem ⋈ orders is the one big-big
    // shuffle, keyed l_orderkey.
    QuerySpec(
      "q81_tpch_q9",
      (s, d) => {
        val parts = Tables(s, d, "part").filter(col("p_name").like("%red%"))
          .select(col("p_partkey"))
        val ps = derive(parts, Tables(s, d, "supplier"))
          .select(col("ps_partkey"), col("ps_suppkey"), col("ps_supplycost"))
        Tables(s, d, "lineitem")
          .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
          .join(broadcast(ps), col("l_partkey") === col("ps_partkey") &&
            col("l_suppkey") === col("ps_suppkey"))
          .join(Tables(s, d, "orders").select(col("o_orderkey"), col("o_orderdate")),
            col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(Tables(s, d, "supplier")
            .select(col("s_suppkey"), col("s_nationkey"))),
            col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(Tables(s, d, "nation")
            .select(col("n_nationkey"), col("n_name"))),
            col("s_nationkey") === col("n_nationkey"))
          .groupBy(col("n_name").as("nation"),
            year(col("o_orderdate")).as("o_year"))
          .agg(Exact.dsum(
            col("l_extendedprice") * (lit(1.0) - col("l_discount")) -
              col("ps_supplycost") * col("l_quantity")).as("sum_profit"))
          .orderBy(col("nation"), col("o_year").desc)
      },
      Some(s"""WITH ps AS ($duckPs)
              |SELECT n_name AS nation,
              |  CAST(year(o_orderdate) AS INTEGER) AS o_year,
              |  ${Exact.sqlSum("l_extendedprice * (1.0 - l_discount) " +
                 "- ps_supplycost * l_quantity")} AS sum_profit
              |FROM lineitem
              |JOIN part ON l_partkey = p_partkey
              |JOIN ps ON l_partkey = ps_partkey AND l_suppkey = ps_suppkey
              |JOIN orders ON l_orderkey = o_orderkey
              |JOIN supplier ON l_suppkey = s_suppkey
              |JOIN nation ON s_nationkey = n_nationkey
              |WHERE p_name LIKE '%red%'
              |GROUP BY 1, 2
              |ORDER BY 1, 2 DESC""".stripMargin),
    ),
    // TPC-H Q11 (important stock): per-part inventory value held by one
    // nation's suppliers, keeping parts above a fixed fraction of the
    // nation's total. Plan: the nation's suppliers broadcast into the
    // partsupp derivation; the grand total is ONE scalar row cross-joined
    // back (no second pass over partsupp — same frame, checkpointed);
    // the HAVING threshold compares two decimal-exact doubles.
    QuerySpec(
      "q82_tpch_q11",
      (s, d) => {
        val n7supp = broadcast(Tables(s, d, "supplier")
          .join(broadcast(Tables(s, d, "nation").filter(col("n_name") === "NATION_7")),
            col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey")))
        val natPs = table(s, d)
          .join(n7supp, col("ps_suppkey") === col("s_suppkey"))
          .select(col("ps_partkey"),
            (col("ps_supplycost") * col("ps_availqty").cast(DoubleType)).as("v"))
          .localCheckpoint(true)
        val total = broadcast(natPs.agg(Exact.dsum(col("v")).as("total")))
        natPs.groupBy(col("ps_partkey"))
          .agg(Exact.dsum(col("v")).as("value"))
          .crossJoin(total)
          .filter(col("value") > col("total") * lit(0.001))
          .select(col("ps_partkey"), col("value"))
          .orderBy(col("value").desc, col("ps_partkey"))
      },
      Some(s"""WITH ps AS ($duckPs),
              |n7 AS (
              |  SELECT s_suppkey FROM supplier JOIN nation ON s_nationkey = n_nationkey
              |  WHERE n_name = 'NATION_7'),
              |nat AS (
              |  SELECT ps_partkey, ps_supplycost * CAST(ps_availqty AS DOUBLE) AS v
              |  FROM ps JOIN n7 ON ps_suppkey = s_suppkey),
              |tot AS (SELECT ${Exact.sqlSum("v")} AS total FROM nat)
              |SELECT ps_partkey, ${Exact.sqlSum("v")} AS value
              |FROM nat, tot
              |GROUP BY ps_partkey, total
              |HAVING ${Exact.sqlSum("v")} > total * 0.001
              |ORDER BY value DESC, ps_partkey""".stripMargin),
    ),
    // TPC-H Q20 (potential part promotion): suppliers of 'blue' parts whose
    // stock exceeds half of what they actually shipped in 1997 — the
    // excess-inventory probe. Plan: lineitem pre-aggregates per (part,supp)
    // BEFORE any join (the one shuffle, map-side combined); partsupp
    // derives from the filtered blue parts only; the supplier list is a
    // semi-join (distinct suppkeys), then a broadcast attach of names.
    QuerySpec(
      "q83_tpch_q20",
      (s, d) => {
        val blue = Tables(s, d, "part").filter(col("p_name").like("blue%"))
          .select(col("p_partkey"))
        val ps = derive(blue, Tables(s, d, "supplier"))
        val shipped = Tables(s, d, "lineitem")
          .filter(col("l_shipdate") >= to_timestamp(lit("1997-01-01")) &&
            col("l_shipdate") < to_timestamp(lit("1998-01-01")))
          .join(broadcast(blue), col("l_partkey") === col("p_partkey"))
          .groupBy(col("l_partkey"), col("l_suppkey"))
          .agg(Exact.dsum(col("l_quantity")).as("qty"))
        val hoarders = ps
          .join(shipped, col("ps_partkey") === col("l_partkey") &&
            col("ps_suppkey") === col("l_suppkey"))
          .filter(col("ps_availqty").cast(DoubleType) > lit(0.5) * col("qty"))
          .select(col("ps_suppkey")).distinct()
        Tables(s, d, "supplier")
          .join(hoarders, col("s_suppkey") === col("ps_suppkey"), "left_semi")
          .select(col("s_name"), col("s_acctbal"))
          .orderBy(col("s_name"))
      },
      Some(s"""WITH ps AS ($duckPs),
              |blue AS (SELECT p_partkey FROM part WHERE p_name LIKE 'blue%'),
              |shipped AS (
              |  SELECT l_partkey, l_suppkey, ${Exact.sqlSum("l_quantity")} AS qty
              |  FROM lineitem JOIN blue ON l_partkey = p_partkey
              |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
              |    AND l_shipdate < TIMESTAMP '1998-01-01'
              |  GROUP BY l_partkey, l_suppkey),
              |hoarders AS (
              |  SELECT DISTINCT ps_suppkey
              |  FROM ps JOIN blue ON ps_partkey = p_partkey
              |  JOIN shipped ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
              |  WHERE CAST(ps_availqty AS DOUBLE) > 0.5 * qty)
              |SELECT s_name, s_acctbal FROM supplier
              |WHERE s_suppkey IN (SELECT ps_suppkey FROM hoarders)
              |ORDER BY s_name""".stripMargin),
    ),
  )
}
