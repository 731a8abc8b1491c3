package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Random, Success, Try}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, xxhash64}

import graft.{QuerySpec, Registry}
import graft.engine.Tables
import graft.queries.Dedup

/** One timed operation of a pass: its wall time, and whether its output
  * passed the check made after the timing.
  */
final case class OpResult(name: String, seconds: Double, ok: Boolean, error: Option[String])

trait Workload {
  /** Stages the inputs and warms the page cache; part of set-up. */
  def stage(spark: SparkSession, root: Path): Unit

  /** Runs one pass. `index` seeds the order of operations. */
  def pass(spark: SparkSession, index: Int, spans: Spans): Vector[OpResult]

  /** Per-pass values only the workload can measure (added to the trace). */
  def passExtra(): Map[String, Double] = Map.empty
}

object Workload {
  val headline: Vector[String] = Registry.headline.map(_.name)
  val barriers: Vector[String] = Vector("c36_kn5_count_merge", "c37_kn5_ref_trained",
    "t20_classifier_train", "s17_semantic_survivors", "d08_dup_clusters")

  def apply(name: String, data: String, seed: Long, expected: Map[String, (Long, Long)]): Workload =
    name match {
      case "headline" => new Queries(headline, data, seed, expected)
      case "barriers" => new Queries(barriers, data, seed, expected)
      case "ingest" => new Ingest(data, seed)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }

  /** Row count and order-insensitive digest of a frame: the wrapping sum
    * of each row's xxhash64. Columns are renamed by position first, so
    * duplicate or dotted names hash like any other.
    */
  def digest(df: DataFrame): (Long, Long) = {
    val byPos = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val hashes = byPos.select(xxhash64(byPos.columns.map(col).toIndexedSeq: _*)).collect()
    (hashes.length.toLong, hashes.foldLeft(0L)(_ + _.getLong(0)))
  }

  def readFile(p: Path): Unit = {
    val in = Files.newInputStream(p)
    try { val buf = new Array[Byte](1 << 16); while (in.read(buf) >= 0) {} }
    finally in.close()
  }

  def seededOrder[T](xs: Vector[T], seed: Long, index: Int): Vector[T] =
    new Random(seed * 1000003L + index).shuffle(xs)

  def error(e: Throwable): String = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
}

/** The `headline` and `barriers` workloads: registry queries in a seeded
  * order each pass. The sink hashes every output row (see
  * [[Workload.digest]]), so each timed operation yields its row count and
  * digest without running the query twice; comparing them with the
  * expected values is untimed.
  */
final class Queries(names: Vector[String], data: String, seed: Long,
    expected: Map[String, (Long, Long)]) extends Workload {
  private val specs: Vector[QuerySpec] = names.map(Registry.byName)
  private val tables = Tables.all.filter(t => Files.exists(Path.of(data, s"$t.parquet")))

  /** Resolves every table (schema from the parquet footer) and reads each
    * file once into the page cache; no query runs before the cold pass.
    */
  def stage(spark: SparkSession, root: Path): Unit =
    tables.foreach { t =>
      Tables(spark, data, t)
      Workload.readFile(Path.of(data, s"$t.parquet"))
    }

  def pass(spark: SparkSession, index: Int, spans: Spans): Vector[OpResult] =
    Workload.seededOrder(specs, seed, index).map { spec =>
      val t0 = System.nanoTime()
      val got = Try(spans.span(spec.name) {
        val df = spans.span("run")(spec.run(spark, data))
        spans.span("sink")(Workload.digest(df))
      })
      val seconds = (System.nanoTime() - t0) / 1e9
      got match {
        case Success(d) if expected.get(spec.name).contains(d) =>
          OpResult(spec.name, seconds, ok = true, None)
        case Success((rows, dig)) =>
          OpResult(spec.name, seconds, ok = false,
            Some(s"output rows=$rows digest=$dig, expected ${expected.get(spec.name)}"))
        case Failure(e) => OpResult(spec.name, seconds, ok = false, Some(Workload.error(e)))
      }
    }
}

/** The `ingest` workload: the streaming near-duplicate ingest daemon
  * `Streams.lshDedupIngest` over a corpus seeded with a seeded half of
  * `documents`. The other half, plus planted exact copies (+2M ids) and
  * near copies (+1M ids, two tokens cut) of a seeded tenth, is split into
  * seeded micro-batch files. A pass starts a fresh daemon on a fresh copy
  * of the seed corpus and lands a window of those files; one operation
  * (a cycle) lands a file, runs `processAllAvailable()` and reads the
  * whole corpus back for an md5 exact-duplicate count.
  *
  * Checks, untimed: every cycle's corpus row count and duplicate-group
  * count, and at the end of a pass, that the streamed pair set equals
  * `Dedup.lshJaccardPairs` over the final corpus restricted to pairs that
  * touch a document streamed in this pass.
  */
final class Ingest(data: String, seed: Long) extends Workload {
  import org.apache.spark.sql.functions._
  import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

  private val files = 40
  private val perPass = 4
  private val schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))

  private var root: Path = _
  private var seedRows = Vector.empty[(Long, String)]
  private var batchRows = Vector.empty[Vector[(Long, String)]]
  private var lastExtra = Map.empty[String, Double]

  def stage(spark: SparkSession, dir: Path): Unit = {
    root = dir
    Files.createDirectories(root)
    val docs = spark.read.parquet(s"$data/documents.parquet").select(col("doc_id"), col("text"))
    def bucket(salt: Long, n: Int) = pmod(xxhash64(col("doc_id"), lit(seed * 7919L + salt)), lit(n))
    val tenth = docs.filter(bucket(1, 10) === 0)
    val streamed = docs.filter(bucket(0, 2) === 1)
      .unionByName(tenth.select((col("doc_id") + 2000000L).as("doc_id"), col("text")))
      .unionByName(tenth.select((col("doc_id") + 1000000L).as("doc_id"),
        concat_ws(" ", slice(split(col("text"), " "), lit(1),
          size(split(col("text"), " ")) - 2)).as("text")))
      .withColumn("batch", bucket(2, files))
    docs.filter(bucket(0, 2) === 0).coalesce(1).write.parquet(root.resolve("seed").toString)
    streamed.repartition(col("batch")).write.partitionBy("batch")
      .parquet(root.resolve("batches").toString)
    def rows(df: DataFrame) = df.collect().map(r => (r.getLong(0), r.getString(1))).toVector
    seedRows = rows(spark.read.parquet(root.resolve("seed").toString))
    val landed = spark.read.schema(schema.add("batch", "int"))
      .parquet(root.resolve("batches").toString).collect()
    batchRows = (0 until files).toVector.map(b =>
      landed.filter(_.getInt(2) == b).map(r => (r.getLong(0), r.getString(1))).toVector)
    require(batchRows.forall(_.nonEmpty), "an ingest micro-batch came out empty")
  }

  private def batchFile(b: Int): Path = {
    val s = Files.list(root.resolve("batches").resolve(s"batch=$b"))
    try s.iterator().asScala.find(_.getFileName.toString.endsWith(".parquet")).get
    finally s.close()
  }

  private def copyTree(from: Path, to: Path): Unit = {
    Files.createDirectories(to)
    val s = Files.list(from)
    try s.iterator().asScala.foreach(f => Files.copy(f, to.resolve(f.getFileName)))
    finally s.close()
  }

  def pass(spark: SparkSession, index: Int, spans: Spans): Vector[OpResult] = {
    val w = index % (files / perPass)
    val window = (w * perPass until (w + 1) * perPass).toVector
    val dir = root.resolve(s"pass$index")
    val (corpus, in) = (dir.resolve("corpus"), dir.resolve("in"))
    copyTree(root.resolve("seed"), corpus)
    Files.createDirectories(in)
    val pairs = mutable.Set[(Long, Long)]()
    val q = graft.streaming.Streams.lshDedupIngest(
      spark.readStream.schema(schema).parquet(in.toString), corpus.toString,
      (_, p) => pairs.synchronized { pairs ++= p.collect().map(r => (r.getLong(0), r.getLong(1))) })
      .option("checkpointLocation", dir.resolve("cp").toString).start()
    val order = Workload.seededOrder(window, seed, index)
    val results = try {
      order.zipWithIndex.map { case (b, k) =>
        val name = s"cycle$k"
        val t0 = System.nanoTime()
        val got = Try(spans.span(name) {
          spans.span("land") {
            val tmp = in.resolve(s".b$b.parquet")
            Files.copy(batchFile(b), tmp)
            Files.move(tmp, in.resolve(s"b$b.parquet"), java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          }
          spans.span("batch")(q.processAllAvailable())
          spans.span("read") {
            val r = spark.read.parquet(corpus.toString)
              .groupBy(md5(col("text"))).agg(count(lit(1)).as("n"))
              .agg(sum(col("n")), sum(when(col("n") > 1, 1).otherwise(0))).head()
            (r.getLong(0), r.getLong(1))
          }
        })
        val seconds = (System.nanoTime() - t0) / 1e9
        val rows = seedRows ++ order.take(k + 1).flatMap(batchRows)
        val want = (rows.size.toLong, rows.groupBy(_._2).count(_._2.size > 1).toLong)
        got match {
          case Success(v) if v == want => OpResult(name, seconds, ok = true, None)
          case Success(v) =>
            OpResult(name, seconds, ok = false, Some(s"corpus (rows, dup groups)=$v, expected $want"))
          case Failure(e) => OpResult(name, seconds, ok = false, Some(Workload.error(e)))
        }
      }
    } finally q.stop()

    val pairCheck = Try {
      val streamedIds = order.flatMap(batchRows).map(_._1).toSet
      val all = Dedup.lshJaccardPairs(spark.read.parquet(corpus.toString), k = 32, bands = 8,
        cap = 100, threshold = 0.3).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val want = all.filter(p => streamedIds(p._1) || streamedIds(p._2))
      val got = pairs.synchronized(pairs.toSet)
      if (got == want) None
      else Some(s"streamed pairs differ: ${(got -- want).size} extra, ${(want -- got).size} missing")
    }
    lastExtra = Map(
      "streaming.append_mb" -> (Sys.dirBytes(corpus) - Sys.dirBytes(root.resolve("seed"))) / 1048576.0,
      "streaming.corpus_files" -> Sys.dataFiles(corpus).toDouble)
    pairCheck match {
      case Success(None) => results
      case Success(Some(msg)) => results.map(_.copy(ok = false, error = Some(msg)))
      case Failure(e) => results.map(_.copy(ok = false, error = Some(Workload.error(e))))
    }
  }

  override def passExtra(): Map[String, Double] = lastExtra
}
