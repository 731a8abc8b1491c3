package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Salting for skewed shuffle joins.
  *
  * When one join key carries a disproportionate share of rows (a celebrity
  * user, an empty-string default), the shuffle sends them all to one task and
  * the stage runs at the speed of that straggler. Salting splits each hot key
  * into `nSalts` sub-keys: the big side gets a deterministic salt derived
  * from its other columns, the small side is replicated once per salt. The
  * join result is identical; the hot key's rows now spread over `nSalts`
  * tasks.
  *
  * AQE's skew-join handling (on by default in GraftSession) solves the same
  * problem reactively at runtime; explicit salting remains the tool when the
  * skew is known ahead of time or the join sits under further shuffles AQE
  * won't re-split.
  *
  * Decision rule (gated by PlanSpec "AQE splits a planted skewed join";
  * split-vs-straggler wall at 1M rows is the `skewjoin` line of
  * dev/scaleprobe_r14.jsonl):
  *  1. DEFAULT: do nothing — AQE's `OptimizeSkewedJoin` splits oversized
  *     join partitions at runtime using the actual map-output sizes. It
  *     needs no foreknowledge of which key is hot, adds zero cost when data
  *     is uniform, and composes with partition coalescing.
  *  2. SALT (this object) only when AQE cannot act:
  *     - the skewed shuffle feeds an AGGREGATION, not a join (AQE skew
  *       handling only splits join partitions; a hot groupBy key still
  *       lands on one task — pre-aggregate by (key, salt), then merge);
  *     - the join's output partitioning must survive for a downstream
  *       stage (skew-split breaks the partitioning guarantee, so AQE
  *       refuses to split such joins — e.g. under a co-partitioned merge);
  *     - the hot key is known AND the small side is cheap to replicate,
  *       and you want deterministic task sizing rather than reactive
  *       re-planning (benchmark pinning).
  */
object Skew {

  /** Inner equi-join of `big` (skewed on `bigKey`) with `small`, salted.
    *
    * @param saltSrc column(s) of `big` that spread the hot key's rows —
    *                any deterministic value works (e.g. an id column)
    */
  def saltedJoin(
      big: DataFrame,
      bigKey: String,
      small: DataFrame,
      smallKey: String,
      nSalts: Int,
      saltSrc: Column,
  ): DataFrame = {
    val salted = big.withColumn("__salt", pmod(hash(saltSrc), lit(nSalts)))
    val replicated = small.withColumn("__salt",
      explode(sequence(lit(0), lit(nSalts - 1))))
    salted.join(replicated,
      salted(bigKey) === replicated(smallKey) &&
        salted("__salt") === replicated("__salt"))
      .drop("__salt")
  }
}
