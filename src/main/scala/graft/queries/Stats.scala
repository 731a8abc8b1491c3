package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.QuerySpec
import graft.engine.{Exact, Tables}

/** Statistics & reshaping operators — all beyond the reference (its agg
  * surface is sum/count/min/max only, reference:
  * src/binder/expression/agg_func.rs:10-15).
  *
  * Cross-engine-exact technique: engines disagree on streaming variance
  * (Welford vs naive) and on float accumulation order, so every moment here
  * is derived from DECIMAL(38,10)-exact Σx and Σx² and combined in double
  * with identical, fully-parenthesized expression order on both sides.
  * Partitioning-invariant by construction — the same property that makes the
  * results reproducible on a 1000-executor cluster.
  */
object Stats {

  lazy val specs: Vector[QuerySpec] = Vector(
    // Exact variance/stddev from decimal moments.
    QuerySpec(
      "q35_stats_exact",
      (s, d) => {
        val x = col("o_totalprice")
        val n = count(x).cast(DoubleType)
        val sx = Exact.dsum(x)
        val sx2 = Exact.dsum(x * x)
        Tables(s, d, "orders")
          .groupBy("o_orderstatus")
          .agg(
            count(x).as("n"),
            ((sx2 - ((sx * sx) / n)) / (n - 1.0)).as("var_samp"),
            sqrt((sx2 - ((sx * sx) / n)) / (n - 1.0)).as("stddev_samp"),
            (sx / n).as("mean"),
          )
          .orderBy("o_orderstatus")
      },
      Some(s"""WITH m AS (
              |  SELECT o_orderstatus,
              |    CAST(COUNT(o_totalprice) AS DOUBLE) AS n,
              |    COUNT(o_totalprice) AS n_out,
              |    ${Exact.sqlSum("o_totalprice")} AS sx,
              |    ${Exact.sqlSum("o_totalprice * o_totalprice")} AS sx2
              |  FROM orders GROUP BY o_orderstatus)
              |SELECT o_orderstatus, n_out AS n,
              |  ((sx2 - ((sx * sx) / n)) / (n - 1.0)) AS var_samp,
              |  sqrt((sx2 - ((sx * sx) / n)) / (n - 1.0)) AS stddev_samp,
              |  (sx / n) AS mean
              |FROM m ORDER BY o_orderstatus""".stripMargin),
    ),
    // Exact correlation from decimal cross-moments.
    QuerySpec(
      "q36_corr_exact",
      (s, d) => {
        val x = col("l_quantity")
        val y = col("l_extendedprice")
        val n = count(lit(1)).cast(DoubleType)
        val sx = Exact.dsum(x)
        val sy = Exact.dsum(y)
        val sxy = Exact.dsum(x * y)
        val sx2 = Exact.dsum(x * x)
        val sy2 = Exact.dsum(y * y)
        Tables(s, d, "lineitem")
          .groupBy("l_returnflag")
          .agg(
            count(lit(1)).as("n"),
            (((n * sxy) - (sx * sy)) /
              (sqrt((n * sx2) - (sx * sx)) * sqrt((n * sy2) - (sy * sy))))
              .as("corr_qty_price"),
          )
          .orderBy("l_returnflag")
      },
      Some(s"""WITH m AS (
              |  SELECT l_returnflag,
              |    CAST(COUNT(*) AS DOUBLE) AS n, COUNT(*) AS n_out,
              |    ${Exact.sqlSum("l_quantity")} AS sx,
              |    ${Exact.sqlSum("l_extendedprice")} AS sy,
              |    ${Exact.sqlSum("l_quantity * l_extendedprice")} AS sxy,
              |    ${Exact.sqlSum("l_quantity * l_quantity")} AS sx2,
              |    ${Exact.sqlSum("l_extendedprice * l_extendedprice")} AS sy2
              |  FROM lineitem GROUP BY l_returnflag)
              |SELECT l_returnflag, n_out AS n,
              |  (((n * sxy) - (sx * sy)) /
              |    (sqrt((n * sx2) - (sx * sx)) * sqrt((n * sy2) - (sy * sy))))
              |    AS corr_qty_price
              |FROM m ORDER BY l_returnflag""".stripMargin),
    ),
    // Pivot (wide reshaping) = conditional aggregation under the hood.
    QuerySpec(
      "q37_pivot",
      (s, d) =>
        Tables(s, d, "lineitem")
          .groupBy("l_returnflag")
          .pivot("l_linestatus", Seq("F", "O"))
          .agg(count(lit(1)))
          .na.fill(0L)
          .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
             |  COUNT(*) FILTER (WHERE l_linestatus = 'F') AS F,
             |  COUNT(*) FILTER (WHERE l_linestatus = 'O') AS O
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    ),
    // Distinct counting: exact (oracle-able). The approx variant
    // (approx_count_distinct / HLL) is engine-specific → rows-only q39.
    QuerySpec(
      "q38_count_distinct",
      (s, d) =>
        Tables(s, d, "lineitem")
          .groupBy("l_returnflag")
          .agg(
            countDistinct(col("l_partkey")).as("nd_parts"),
            countDistinct(col("l_suppkey")).as("nd_supps"),
            count(lit(1)).as("n"),
          )
          .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
             |  COUNT(DISTINCT l_partkey) AS nd_parts,
             |  COUNT(DISTINCT l_suppkey) AS nd_supps,
             |  COUNT(*) AS n
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    ),
    // HLL sketch counting — the 100 TB path for distinct counts (bounded
    // memory, mergeable partial sketches). The raw estimate is
    // engine-specific, so the ORACLE-ABLE output is the exact count plus a
    // boolean `within_tolerance` asserting the engine's HLL estimate landed
    // within 5% of it; DuckDB emits the same exact count and literal TRUE.
    // StatsSpec additionally bounds the relative error against q38.
    QuerySpec(
      "q39_approx_distinct",
      (s, d) =>
        Tables(s, d, "lineitem")
          .groupBy("l_returnflag")
          .agg(
            countDistinct(col("l_partkey")).as("nd_parts_exact"),
            approx_count_distinct(col("l_partkey"), 0.02).as("approx"),
            count(lit(1)).as("n"),
          )
          .select(
            col("l_returnflag"),
            col("nd_parts_exact"),
            col("n"),
            (abs(col("approx") - col("nd_parts_exact")).cast(DoubleType) /
              col("nd_parts_exact").cast(DoubleType) <= 0.05)
              .as("within_tolerance"),
          )
          .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
             |  COUNT(DISTINCT l_partkey) AS nd_parts_exact,
             |  COUNT(*) AS n,
             |  TRUE AS within_tolerance
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    ),
    // Sorted list aggregation. The list is emitted as a comma-joined string:
    // the driver's pandas compare cannot hash an array<long> column, and the
    // string form is order-deterministic on both engines.
    QuerySpec(
      "q40_collect_sorted",
      (s, d) =>
        Tables(s, d, "orders")
          .filter(col("o_custkey") < 20)
          .groupBy("o_custkey")
          .agg(concat_ws(",", sort_array(collect_list(col("o_orderkey")))).as("orderkeys"))
          .orderBy("o_custkey"),
      Some("""SELECT o_custkey,
             |  array_to_string(list_sort(list(o_orderkey)), ',') AS orderkeys
             |FROM orders WHERE o_custkey < 20
             |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin),
    ),
    // Explode/unnest: one row per (order, lineitem-number bucket).
    QuerySpec(
      "q41_explode",
      (s, d) =>
        Tables(s, d, "orders")
          .filter(col("o_orderkey") < 100)
          .select(col("o_orderkey"),
            explode(sequence(lit(1), col("o_orderkey") % 3 + 1)).as("copy_idx"))
          .orderBy("o_orderkey", "copy_idx"),
      Some("""SELECT o_orderkey, u.copy_idx FROM orders,
             |  UNNEST(range(1, o_orderkey % 3 + 2)) AS u(copy_idx)
             |WHERE o_orderkey < 100
             |ORDER BY o_orderkey, copy_idx""".stripMargin),
    ),
    // Table profiling: per-column null counts, distinct counts, extremes —
    // the standard data-validation pass before a training run. One scan,
    // all stats in a single aggregate.
    QuerySpec(
      "q52_profile",
      (s, d) =>
        Tables(s, d, "orders").agg(
          count(lit(1)).as("n_rows"),
          count(col("o_custkey")).as("nn_custkey"),
          countDistinct(col("o_custkey")).as("nd_custkey"),
          countDistinct(col("o_orderstatus")).as("nd_status"),
          min(col("o_totalprice")).as("min_price"),
          max(col("o_totalprice")).as("max_price"),
          min(col("o_orderkey")).as("min_key"),
          max(col("o_orderkey")).as("max_key"),
        ),
      Some("""SELECT COUNT(*) AS n_rows,
             |  COUNT(o_custkey) AS nn_custkey,
             |  COUNT(DISTINCT o_custkey) AS nd_custkey,
             |  COUNT(DISTINCT o_orderstatus) AS nd_status,
             |  MIN(o_totalprice) AS min_price,
             |  MAX(o_totalprice) AS max_price,
             |  MIN(o_orderkey) AS min_key,
             |  MAX(o_orderkey) AS max_key
             |FROM orders""".stripMargin),
    ),
    // Fixed-width histogram: integer bucket index = value div width. All
    // integer arithmetic → cross-engine exact; one shuffle of B buckets.
    QuerySpec(
      "q53_histogram",
      (s, d) =>
        Tables(s, d, "orders")
          .groupBy(floor(col("o_totalprice") / 50000).cast(LongType).as("bucket"))
          .agg(count(lit(1)).as("n"))
          .orderBy("bucket"),
      Some("""SELECT CAST(FLOOR(o_totalprice / 50000) AS BIGINT) AS bucket,
             |  COUNT(*) AS n
             |FROM orders GROUP BY bucket ORDER BY bucket""".stripMargin),
    ),
    // Z-order (Morton) data layout — the 100 TB table-layout primitive:
    // writing files sorted by the bit-interleave of two quantized columns
    // gives every file a NARROW min/max rectangle in BOTH dimensions, so
    // parquet zone maps prune 2-D predicates (a 1-D sort leaves the second
    // dimension spanning its full range in every file). The query computes
    // the 16-bit Morton code of (quantity, price-bucket) via the classic
    // shift-or-mask bit spread (pure integer ops — bit-exact everywhere),
    // groups rows into the 64 leading-bit z-ranges a writer would use as
    // file splits, and emits each range's per-dimension min/max + span:
    // the spans ARE the data-skipping evidence (≤31 of 256 in each dim,
    // asserted by StatsSpec). Shape: per-row map + one partial+final agg
    // with 64 groups.
    QuerySpec(
      "q84_zorder_layout",
      (s, d) => {
        def spread(c: Column): Column = {
          val v0 = c.bitwiseAND(lit(255L))
          val v1 = v0.bitwiseOR(shiftleft(v0, 4)).bitwiseAND(lit(0x0F0FL))
          val v2 = v1.bitwiseOR(shiftleft(v1, 2)).bitwiseAND(lit(0x3333L))
          v2.bitwiseOR(shiftleft(v2, 1)).bitwiseAND(lit(0x5555L))
        }
        val qx = col("l_quantity").cast(LongType) - 1
        val py = least(floor(col("l_extendedprice") / lit(409.0)), lit(255L))
        val z = spread(qx).bitwiseOR(shiftleft(spread(py), 1))
        Tables(s, d, "lineitem")
          .select(qx.as("qx"), py.as("py"),
            shiftrightunsigned(z, 10).as("zbucket"))
          .groupBy("zbucket")
          .agg(count(lit(1)).as("n"),
            min(col("qx")).as("min_qx"), max(col("qx")).as("max_qx"),
            min(col("py")).as("min_py"), max(col("py")).as("max_py"))
          .withColumn("qx_span", col("max_qx") - col("min_qx"))
          .withColumn("py_span", col("max_py") - col("min_py"))
          .orderBy("zbucket")
      },
      Some {
        def spread(e: String): String = {
          val v0 = s"(($e) & 255)"
          val v1 = s"((($v0 << 4) | $v0) & 3855)"
          val v2 = s"((($v1 << 2) | $v1) & 13107)"
          s"((($v2 << 1) | $v2) & 21845)"
        }
        val qx = "(CAST(l_quantity AS BIGINT) - 1)"
        val py = "least(CAST(floor(l_extendedprice / 409.0) AS BIGINT), 255)"
        val z = s"(${spread(qx)} | (${spread(py)} << 1))"
        s"""WITH m AS (
           |  SELECT $qx AS qx, $py AS py, ($z >> 10) AS zbucket
           |  FROM lineitem)
           |SELECT zbucket, COUNT(*) AS n,
           |  MIN(qx) AS min_qx, MAX(qx) AS max_qx,
           |  MIN(py) AS min_py, MAX(py) AS max_py,
           |  MAX(qx) - MIN(qx) AS qx_span,
           |  MAX(py) - MIN(py) AS py_span
           |FROM m GROUP BY zbucket ORDER BY zbucket""".stripMargin
      },
    ),
  )
}
