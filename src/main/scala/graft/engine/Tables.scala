package graft.engine

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Table registry over the driver's parquet testdata plus a CSV loader.
  *
  * Plays the role of the reference's catalog + storage layer
  * (reference: src/catalog/mod.rs:10-12, src/storage/csv.rs:88-167): tables
  * are registered by name and resolved at query time. Spark's session catalog
  * is the real catalog; this object just centralizes path → DataFrame logic
  * and caches the (cheap, but not free) schema-inference step per table.
  */
object Tables {

  /** TPC-H-ish star schema tables the driver generates. */
  val tpch: Vector[String] =
    Vector("region", "nation", "customer", "supplier", "part", "orders", "lineitem")

  /** Pipeline tables: event stream + documents + embeddings. */
  val pipeline: Vector[String] = Vector("events", "documents", "embeddings")

  val all: Vector[String] = tpch ++ pipeline

  // Keyed by the SESSION INSTANCE (identity), not the application id: child
  // sessions (newSession()) share an appId but have their own catalogs, and
  // a cached DataFrame registers temp views on the session it was created
  // by. Identity keying also means a restarted session never sees a
  // DataFrame bound to a stopped SparkContext.
  private val cache = new ConcurrentHashMap[(SparkSession, String, String), DataFrame]()

  /** Load one testdata table (parquet). Column pruning + predicate pushdown
    * reach the scan because this is a plain declarative read.
    */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val key = (spark, dir, name)
    cache.computeIfAbsent(key, _ => spark.read.parquet(s"$dir/$name.parquet"))
  }

  /** Register every testdata table as a temp view so `spark.sql` queries can
    * name them directly — the equivalent of the reference harness that
    * auto-registers every tests/csv/\*.csv as a table
    * (reference: tests/sqllogictest/src/lib.rs:10-21).
    */
  def registerAll(spark: SparkSession, dir: String): Unit =
    all.foreach(n => apply(spark, dir, n).createOrReplaceTempView(n))

  /** `\load csv <name> <path>` equivalent (reference: src/cli.rs:111-129,
    * src/db.rs:27-40): header + schema inference, registered under `name`.
    * Spark samples the file for inference like the reference's
    * 10-record Arrow inference (reference: src/storage/csv.rs:103).
    */
  def loadCsv(spark: SparkSession, name: String, path: String): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    import org.apache.spark.sql.types.StringType
    val raw = spark.read
      .option("header", "true")
      .option("inferSchema", "true")
      .csv(path)
    // Arrow CSV semantics (reference: src/storage/csv.rs:133-141 via arrow's
    // ConvertOptions, strings_can_be_null=false): an empty field is the
    // empty STRING for utf8 columns but NULL for numeric columns. Spark's
    // univocity parser nulls both — restore "" for string columns.
    val df = raw.select(raw.schema.fields.map { f =>
      if (f.dataType == StringType) coalesce(col(f.name), lit("")).as(f.name)
      else col(f.name)
    }.toIndexedSeq: _*)
    df.createOrReplaceTempView(name)
    df
  }
}
