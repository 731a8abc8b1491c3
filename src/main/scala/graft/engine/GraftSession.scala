package graft.engine

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine, and the only place in `src/` that
  * calls `SparkSession.builder` (apart from `tools/Smoke`, which imitates a
  * bare external session on purpose).
  *
  * Mirrors the role of the reference's `Database::new_on_csv` entry point
  * (reference: src/db.rs:27-40) — one place that wires storage + catalog +
  * execution — except here "execution" is Spark itself.
  *
  * Scale posture: shuffle partitions default to the core count (local mode),
  * AQE is on so skewed shuffles re-plan at runtime, and the session timezone
  * is pinned to UTC so timestamp semantics are cluster-invariant.
  *
  * Compile once per JVM. Two static confs make each whole-stage-codegen
  * class compile once (Janino, then the JIT) instead of once per pass:
  *
  *  - `spark.sql.codegen.cache.maxEntries = 4096` (Spark's default is 100).
  *    Spark caches compiled classes in an LRU keyed by (class loader,
  *    generated source). One sf0.1 headline pass compiles ~150 distinct
  *    classes; in a cyclic order a 100-entry LRU evicts each before it
  *    comes round again, so every warm pass re-compiles ~144 of them
  *    (about 2 s of Janino on the query thread, and the JIT compiles each
  *    again). All 264 registry rows at sf0.01 compile ~3,000
  *    distinct classes, so 4096 holds the whole registry at one scale. On
  *    that registry-wide run (two passes, one JVM, 4-core VM) the second
  *    pass compiled 86 classes instead of 5,471, and metaspace ended at
  *    220 MB instead of 266 MB: evicted classes were loaded again.
  *  - `spark.sql.artifact.isolation.enabled = false`. With isolation each
  *    cloned session (every streaming query clones one) gets a fresh
  *    executor class loader, so the same classes recompile under a new
  *    cache key: the ingest daemon re-compiles ~35 classes per start. graft
  *    adds no session artifacts (no `addArtifact`/`addJar`), so one shared
  *    class loader loses nothing.
  *
  * Both are static: they act when the first session of a JVM is built, and
  * Spark sizes the cache when `CodeGenerator` first initializes. `extraConf` is applied last,
  * so `--conf spark.sql.codegen.cache.maxEntries=100` on a fresh JVM
  * reproduces the old behaviour.
  */
object GraftSession {

  def build(
      appName: String = "graft",
      cores: Int = Runtime.getRuntime.availableProcessors(),
      extraConf: Map[String, String] = Map.empty,
  ): SparkSession = {
    val b = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // lz4 shuffle/spill codec, kept after the r19 full-bench A/B: zstd
      // cut the KN count-shuffle bytes (652 → 462 MB) but lost the suite
      // (geomean zstd/lz4 = 1.225 over 79 sf1 rows) — the shuffle-light
      // majority pays its CPU for nothing on RAM-speed loopback. To repeat
      // the A/B, run Profile with `--conf spark.io.compression.codec=zstd`:
      // `extraConf` is applied after these lines.
      .config("spark.io.compression.codec", "lz4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.sql.artifact.isolation.enabled", "false")
    extraConf.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Apply graft-recommended runtime confs to a session graft did not
    * build (one passed in to `SparkEntry.entry`). Only touches
    * dynamic SQL confs: the static ones of [[build]] cannot be set on a
    * running session.
    */
  def tune(spark: SparkSession): SparkSession = {
    try spark.conf.set("spark.sql.adaptive.enabled", "true")
    catch { case _: Throwable => () }
    spark
  }
}
