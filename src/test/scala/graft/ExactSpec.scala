package graft

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode, Literal}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => Check}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Exact

/** `Exact.dsum` (the native `sum_exact` aggregate) against the expression it
  * replaced, `sum(CAST(x AS DECIMAL(38,10)))` cast to double, written inline
  * here as the reference: first the per-value kernel against Spark's own
  * cast, then whole aggregates, then whole queries under different
  * partitionings.
  */
class ExactSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark

  private def reference(c: Column): Column =
    sum(c.cast(DecimalType(38, 10))).cast(DoubleType)

  // ---- the per-value kernel ----

  /** Spark's cast of one double to DECIMAL(38,10), as its unscaled value. */
  private def castUnscaled(x: Double): Option[BigInt] =
    Option(Cast(Literal(x), Exact.Dec, None, EvalMode.LEGACY).eval())
      .map(d => BigInt(d.asInstanceOf[Decimal].toJavaBigDecimal.unscaledValue))

  /** Why `Exact.scale(x)` disagrees with the cast, or None if it agrees: a
    * fast value must equal the cast, and the small marker promises a
    * non-null cast that fits a long. */
  private def scaleMismatch(x: Double): Option[String] = {
    val s = Exact.scale(x)
    val ref = castUnscaled(x)
    val ok =
      if (s > Exact.OffSmall) ref.contains(BigInt(s))
      else if (s == Exact.OffSmall) ref.exists(_.isValidLong)
      else !(math.abs(x) < 262144.0)
    if (ok) None else Some(s"x=$x (${java.lang.Double.doubleToRawLongBits(x)}) scale=$s cast=$ref")
  }

  private def checkScale(gen: Gen[Double], n: Int): Unit = {
    val params = Check.Parameters.default
      .withMinSuccessfulTests(n).withInitialSeed(Seed(20261017L))
    var bad: Option[String] = None
    val res = Check.check(params, Prop.forAll(gen) { x =>
      val m = scaleMismatch(x); if (m.isDefined) bad = m; m.isEmpty
    })
    assert(res.passed, bad.getOrElse(res.status.toString))
  }

  private def fastShare(xs: Seq[Double]): Double =
    xs.count(x => Exact.scale(x) > Exact.OffSmall).toDouble / xs.size

  private val anyMagnitude: Gen[Double] = for {
    e <- Gen.choose(-14.0, 30.0)
    m <- Gen.choose(1.0, 10.0)
    neg <- Gen.oneOf(true, false)
  } yield (if (neg) -1 else 1) * m * math.pow(10, e)

  test("scale equals Spark's cast on random doubles") {
    checkScale(Gen.oneOf(anyMagnitude, Gen.choose(-262144.0, 262144.0),
      Gen.choose(-1000.0, 1000.0)), 30000)
    val r = new scala.util.Random(7)
    assert(fastShare(Seq.fill(10000)(r.nextDouble() * 2000 - 1000)) > 0.99)
  }

  private val cents: Gen[Double] = Gen.choose(1L, 10000000L).map(_ / 100.0)
  private val tpchTerm: Gen[Double] = for {
    p <- cents
    disc <- Gen.choose(0, 10).map(_ / 100.0)
    tax <- Gen.choose(0, 8).map(_ / 100.0)
    shape <- Gen.choose(0, 2)
  } yield shape match {
    case 0 => p
    case 1 => p * (1.0 - disc)
    case _ => p * (1.0 - disc) * (1.0 + tax)
  }

  test("scale equals Spark's cast on cent prices and (1 − disc)·(1 + tax) products") {
    checkScale(tpchTerm, 30000)
    // every cent price stays on the fast path
    val r = new scala.util.Random(11)
    assert(fastShare(Seq.fill(10000)((1 + r.nextInt(10000000)) / 100.0)) == 1.0)
  }

  test("scale equals Spark's cast at rounding midpoints and their neighbours") {
    val mid: Gen[Double] = for {
      k <- Gen.oneOf(Gen.choose(0L, 100000L), Gen.choose(0L, 2621440000000000L))
      neg <- Gen.oneOf(true, false)
    } yield (if (neg) -1 else 1) * (k + 0.5) * 1e-10
    checkScale(Gen.oneOf(mid, mid.map(Math.nextUp), mid.map(Math.nextDown)), 30000)
  }

  test("scale equals Spark's cast on zeros, subnormals, 2^18, 9e8 and non-finite values") {
    val two18 = 262144.0
    val around = (v: Double) => Seq(v, Math.nextUp(v), Math.nextDown(v))
    val edges = Seq(0.0, -0.0, Double.MinPositiveValue, -Double.MinPositiveValue,
      java.lang.Double.MIN_NORMAL, Math.nextDown(java.lang.Double.MIN_NORMAL),
      Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
      Double.MaxValue, -Double.MaxValue, 5e-11, -5e-11, 1e-10, 0.1, 0.5, 1.0) ++
      around(two18) ++ around(-two18) ++ around(9e8) ++ around(-9e8) ++
      around(two18 - 0.5e-10) ++ around(1e28) ++ around(-1e28)
    edges.foreach(x => assert(scaleMismatch(x).isEmpty, scaleMismatch(x)))
    assert(Exact.scale(Double.NaN) == Exact.OffBig)
    assert(Exact.scale(Double.PositiveInfinity) == Exact.OffBig)
    assert(Exact.scale(-0.0) == 0L && Exact.scale(Double.MinPositiveValue) == 0L)
    val subnormal = Gen.choose(1L, (1L << 52) - 1).map(java.lang.Double.longBitsToDouble)
    checkScale(Gen.oneOf(subnormal, subnormal.map(-_)), 2000)
  }

  test("the 10^38 range bound and its words") {
    val lim = BigInt(10).pow(38)
    assert(BigInt(Exact.LimHi) == lim >> 64 && Exact.LimLo == lim.toLong)
    def words(v: BigInt): (Long, Long) = ((v >> 64).toLong, v.toLong)
    Seq(lim - 1, -(lim - 1), BigInt(0), BigInt(-1), BigInt(Long.MinValue))
      .foreach { v => val (h, l) = words(v); assert(Exact.inRange(h, l), v) }
    Seq(lim, -lim, lim + 1, -lim - 1, lim << 1)
      .foreach { v => val (h, l) = words(v); assert(!Exact.inRange(h, l), v) }
    assert(Exact.total(words(lim - 1)._1, words(lim - 1)._2).toJavaBigDecimal ==
      new java.math.BigDecimal((lim - 1).bigInteger, 10))
  }

  // ---- whole aggregates ----

  /** Row values with raw double bits, so −0.0/0.0 and last-ulp drift differ. */
  private def bits(rows: Seq[Row]): Seq[Seq[Any]] = rows.map(_.toSeq.map {
    case d: Double => java.lang.Double.doubleToRawLongBits(d)
    case o => o
  })

  private def assertSame(a: DataFrame, b: DataFrame): Unit = {
    val (x, y) = (a.collect().toSeq, b.collect().toSeq)
    assert(bits(x) == bits(y), s"\n$x\n$y")
  }

  /** Seeded frame: group 0 is all-null, groups mix signs and magnitudes, a
    * tenth of the doubles sit on a rounding midpoint, and group 7 holds
    * totals past 64 bits. */
  private def frame(seed: Int, n: Int = 4000): DataFrame = {
    val r = new scala.util.Random(seed)
    val rows = (0 until n).map { _ =>
      val g = r.nextInt(8)
      val base = r.nextInt(6) match {
        case 0 => (r.nextInt(2000000) - 1000000) / 100.0
        case 1 => r.nextGaussian() * 1e5
        case 2 => (r.nextLong() % 100000L + 0.5) * 1e-10
        case 3 => r.nextGaussian() * 1e9
        case 4 => r.nextDouble() * (1.0 - r.nextInt(10) / 100.0) * 3e5
        case _ => -r.nextDouble()
      }
      val d = if (g == 7) base * 1e8 else base
      val nul = g == 0 || r.nextInt(10) == 0
      Row(g, if (nul) null else d,
        if (nul) null else r.nextInt(),
        if (nul) null else r.nextLong() / 1000L,
        if (nul) null else r.nextFloat() * 1000f - 500f,
        if (nul) null else java.math.BigDecimal.valueOf(r.nextLong() % 100000000L, 4))
    }
    val schema = StructType(Seq(
      StructField("g", IntegerType), StructField("d", DoubleType),
      StructField("i", IntegerType), StructField("l", LongType),
      StructField("f", FloatType), StructField("dec", DecimalType(12, 4))))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
  }

  private val cols = Seq("d", "i", "l", "f", "dec")

  test("dsum equals the inline decimal sum on seeded frames, per group and globally") {
    Seq(1, 2, 3).foreach { seed =>
      val df = frame(seed)
      def agg(f: Column => Column, src: DataFrame) =
        src.groupBy("g").agg(f(col("d")), cols.tail.map(c => f(col(c))): _*).orderBy("g")
      assertSame(agg(Exact.dsum, df), agg(reference, df))
      val re = df.repartition(7)
      assertSame(agg(Exact.dsum, re), agg(reference, re))
      assertSame(df.agg(Exact.dsum(col("d")), cols.tail.map(c => Exact.dsum(col(c))): _*),
        df.agg(reference(col("d")), cols.tail.map(c => reference(col(c))): _*))
      assertSame(df.groupBy("g").agg(Exact.davg(col("d"))).orderBy("g"),
        df.groupBy("g").agg((reference(col("d")) /
          count(col("d")).cast(DoubleType))).orderBy("g"))
    }
  }

  test("dsum over all-null groups and empty input is null, like the decimal sum") {
    val df = frame(4)
    val empty = df.filter(col("g") < 0)
    assertSame(empty.agg(Exact.dsum(col("d"))), empty.agg(reference(col("d"))))
    assert(empty.agg(Exact.dsum(col("d"))).head().isNullAt(0))
    assert(empty.groupBy("g").agg(Exact.dsum(col("d"))).collect().isEmpty)
    val nulls = df.filter(col("g") === 0).groupBy("g").agg(Exact.dsum(col("d")))
    assert(nulls.head().isNullAt(1))
    assertSame(df.select(lit(null).cast(DoubleType).as("z")).agg(Exact.dsum(col("z"))),
      df.select(lit(null).cast(DoubleType).as("z")).agg(reference(col("z"))))
  }

  test("dsum over a window equals the inline decimal window sum") {
    val df = frame(5).withColumn("k", monotonically_increasing_id())
    val running = Window.partitionBy("g").orderBy("k")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sliding = Window.partitionBy("g").orderBy("k").rowsBetween(-3, 2)
    Seq(running, sliding).foreach { w =>
      assertSame(df.select(col("k"), Exact.dsum(col("d")).over(w)).orderBy("k"),
        df.select(col("k"), sum(col("d").cast(DecimalType(38, 10))).over(w)
          .cast(DoubleType)).orderBy("k"))
    }
  }

  private def overflowError(df: => DataFrame): SparkThrowable =
    intercept[ArithmeticException](df.collect()).asInstanceOf[SparkThrowable]

  test("a total past 10^28 raises the same ANSI error as the decimal sum") {
    def one(vals: Seq[Double]) =
      spark.createDataFrame(spark.sparkContext.parallelize(vals.map(Row(1, _)), 1),
        StructType(Seq(StructField("g", IntegerType), StructField("x", DoubleType))))
    def same(df: DataFrame, agg: (DataFrame, Column) => DataFrame): Unit = {
      val got = overflowError(agg(df, Exact.dsum(col("x"))))
      val want = overflowError(agg(df, reference(col("x"))))
      assert(got.getCondition == "ARITHMETIC_OVERFLOW", got)
      assert(got.getCondition == want.getCondition, got)
      assert(got.getMessageParameters == want.getMessageParameters, got)
    }
    val global = (df: DataFrame, c: Column) => df.agg(c)
    val grouped = (df: DataFrame, c: Column) => df.groupBy("g").agg(c)
    Seq(Seq(6e27, 6e27), Seq(-6e27, 1.0, -6e27)).foreach { vals =>
      same(one(vals), global)
      same(one(vals), grouped)
    }
    // Past the bound only mid-partition: the grouped decimal buffer goes
    // null there and stays null, and so does the exact total, grouped or
    // not. (The ungrouped decimal sum keeps its buffer in a local variable
    // and checks only the end: 9e27 there.)
    same(one(Seq(9e27, 9e27, -9e27)), grouped)
    overflowError(one(Seq(9e27, 9e27, -9e27)).agg(Exact.dsum(col("x"))))
    assert(one(Seq(9e27, -9e27, 9e27)).agg(Exact.dsum(col("x"))).head().getDouble(0) == 9e27)
    val prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try {
      Seq(Seq(6e27, 6e27, Double.NaN), Seq(Double.NaN, 1.5), Seq(Double.NaN)).foreach { vals =>
        assertSame(one(vals).groupBy("g").agg(Exact.dsum(col("x"))),
          one(vals).groupBy("g").agg(reference(col("x"))))
      }
      assert(one(Seq(6e27, 6e27)).agg(Exact.dsum(col("x"))).head().isNullAt(0))
    } finally spark.conf.set("spark.sql.ansi.enabled", prev)
  }

  // ---- whole queries ----

  test("q10, q11 and e01 are identical under shuffle partitions {1, 7, 64} and AQE on/off") {
    val keys = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    val saved = keys.map(k => k -> spark.conf.get(k))
    def run(name: String) =
      bits(Registry.byName(name).run(spark, SharedSpark.sf).collect().toSeq)
    val names = Seq("q10_tpch_q1", "q11_join_broadcast", "e01_sessionize")
    val base = names.map(n => n -> run(n)).toMap
    try {
      for (parts <- Seq("1", "7", "64"); aqe <- Seq("true", "false")) {
        spark.conf.set("spark.sql.shuffle.partitions", parts)
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
        names.foreach(n => assert(run(n) == base(n), s"$n partitions=$parts aqe=$aqe"))
      }
    } finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
  }
}
