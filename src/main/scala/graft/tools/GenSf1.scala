package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.GraftSession

/** Generates an sf1-equivalent dataset by tiling sf0.1 `tiles`× with
  * key remapping that preserves every join relationship: tile i of
  * `orders` references tile i of `customer`, tile i of `lineitem`
  * references tile i of `orders`/`part`/`supplier`. Strides are multiples
  * of 10 so `key % 10` filters (the dedup corpus planting) behave
  * identically in every tile; `documents.text` gets a per-tile suffix so
  * cross-tile texts are NOT spurious exact/near duplicates — dedup output
  * at sf1 scales linearly with the corpus instead of quadratically with
  * the tile count. Dimensions `region`/`nation` stay fixed (as in TPC-H).
  *
  * 10× sf0.1 = 6M lineitem rows = the same scale as TPC-H sf1.
  * Output goes under the repo (`local/` is gitignored); the driver's
  * testdata stays untouched.
  */
object GenSf1 {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dst = if (args.length > 1) args(1) else "/root/repo/local/sf1"
    val tiles = if (args.length > 2) args(2).toInt else 10
    val spark = GraftSession.build("graft-gen-sf1",
      extraConf = Map("spark.sql.shuffle.partitions" -> "32"))
    generate(spark, src, dst, tiles)
    spark.stop()
  }

  /** Deterministic tiling, callable from Bench when the sf1 dir is absent
    * (the r6 bench artifact carried a DuckDB sf1 total with no Spark sf1
    * series because this data didn't exist at driver bench time).
    * `events.ts` (µs-precision NTZ) round-trips losslessly through the copy.
    */
  def generate(spark: SparkSession, src: String, dst: String, tiles: Int = 10): Unit = {
    val O = 1000000L // orderkey stride   (max 149,999)
    val C = 100000L  // custkey stride    (max  14,999)
    val P = 100000L  // partkey stride    (max  19,999)
    val S = 10000L   // suppkey stride    (max     999)
    val D = 10000L   // doc_id stride     (max   4,999; stays far below the
                     //                    +1M/+2M dedup planting offsets)
    val U = 10000L   // user_id stride    (max   1,499)
    val E = 1000000L // event_id stride   (max  99,999)
    val V = 10000L   // vec_id stride     (max   1,999)

    def shift(c: String, stride: Long)(df: DataFrame, i: Int): DataFrame =
      df.withColumn(c, col(c) + lit(stride * i))

    def tiled(name: String)(remap: (DataFrame, Int) => DataFrame): Unit = {
      val base = spark.read.parquet(s"$src/$name.parquet")
      val out = (0 until tiles).map(i => remap(base, i)).reduce(_ unionByName _)
      out.write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"[gensf1] $name: ${tiles}x")
    }

    // fixed dimensions: copy once
    Seq("region", "nation").foreach { name =>
      spark.read.parquet(s"$src/$name.parquet")
        .write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"[gensf1] $name: 1x")
    }
    tiled("customer")(shift("c_custkey", C))
    tiled("supplier")(shift("s_suppkey", S))
    tiled("part")(shift("p_partkey", P))
    tiled("orders") { (df, i) =>
      shift("o_custkey", C)(shift("o_orderkey", O)(df, i), i)
    }
    tiled("lineitem") { (df, i) =>
      Seq("l_orderkey" -> O, "l_partkey" -> P, "l_suppkey" -> S)
        .foldLeft(df) { case (d, (c, st)) => shift(c, st)(d, i) }
    }
    tiled("events") { (df, i) =>
      shift("user_id", U)(shift("event_id", E)(df, i), i)
    }
    tiled("documents") { (df, i) =>
      // Tag every 3rd word with the tile id: every word-3-gram shingle then
      // contains ≥1 tile-specific token, so cross-tile texts share NO
      // shingles — near-dup structure at sf1 is tiles× the sf0.1 structure
      // (linear), not a tiles² web of cross-tile 0.95-Jaccard "duplicates".
      // (A plain appended suffix only breaks EXACT dedup; MinHash still sees
      // cross-tile copies as near-identical, which made d03 superlinear.)
      val suffixed =
        if (i == 0) df
        else df.withColumn("text",
          concat_ws(" ", transform(split(col("text"), " "),
            (w, j) => when(j % 3 === 0, concat(w, lit(s"t$i"))).otherwise(w))))
      shift("doc_id", D)(suffixed, i).withColumn("n_chars", length(col("text")).cast("long"))
    }
    tiled("embeddings")(shift("vec_id", V))
  }
}
