package graft.queries

import org.apache.spark.sql.functions.col

import graft.QuerySpec
import graft.engine.Tables

/** Typed Dataset surface: the same relational semantics through case-class
  * Encoders and groupByKey — compile-time field checks where the DataFrame
  * API is stringly-typed. The reference's closest analogue is its
  * programmatic executor-test entry point (reference:
  * src/executor/mod.rs:189-215); here the typed API is a first-class
  * alternative over the identical engine.
  *
  * Exactness note: the per-group sum folds java BigDecimal — exact and
  * associative, so the result is partition-order-invariant like the
  * DECIMAL(38,10) column path.
  */
object TypedOps {

  case class Line(l_returnflag: String, l_quantity: Double, l_extendedprice: Double)
  case class FlagStats(l_returnflag: String, n: Long, sum_qty: Double, max_price: Double)

  lazy val specs: Vector[QuerySpec] = Vector(
    QuerySpec(
      "q58_typed_agg",
      (s, d) => {
        import s.implicits._
        val ds = Tables(s, d, "lineitem")
          .select(col("l_returnflag"), col("l_quantity"), col("l_extendedprice"))
          .as[Line]
        ds.groupByKey(_.l_returnflag)
          .mapGroups { (flag, rows) =>
            var n = 0L
            var sum = java.math.BigDecimal.ZERO
            var maxP = Double.MinValue
            rows.foreach { r =>
              n += 1
              sum = sum.add(new java.math.BigDecimal(r.l_quantity.toString))
              if (r.l_extendedprice > maxP) maxP = r.l_extendedprice
            }
            FlagStats(flag, n, sum.doubleValue(), maxP)
          }
          .toDF()
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag, COUNT(*) AS n,
             |  CAST(CAST(SUM(CAST(CAST(l_quantity AS VARCHAR) AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) AS sum_qty,
             |  MAX(l_extendedprice) AS max_price
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    ),
  )
}
