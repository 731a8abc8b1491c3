package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{HashAlgos, ghash}

class HashingSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  test("fnv1a64 matches the published FNV-1a test vectors") {
    // Public FNV-1a 64 vectors: fnv1a64("") = offset basis; fnv1a64("a").
    assert(HashAlgos.fnv1a64(Array.emptyByteArray) == 0xcbf29ce484222325L)
    assert(HashAlgos.fnv1a64("a".getBytes("UTF-8")) == 0xaf63dc4c8601ec8cL)
    assert(HashAlgos.fnv1a64("foobar".getBytes("UTF-8")) == 0x85944171f73967e8L)
  }

  test("Fnv1a64 expression agrees with the kernel, survives codegen, nulls are null") {
    val df = Seq(Some("foobar"), Some(""), None).toDF("s")
      .select(ghash.fnv1a64(col("s")).as("h"))
    val got = df.collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    assert(got(0).contains(0x85944171f73967e8L))
    assert(got(1).contains(0xcbf29ce484222325L))
    assert(got(2).isEmpty)
  }

  test("shingle_hash is registered for SQL and matches the column API") {
    graft.engine.GraftExtensions.install(spark)
    val sql = spark.sql(
      "SELECT shingle_hash(array('a','b','c','d'), 3) h").head().getSeq[Long](0)
    import spark.implicits._
    val col = Seq(Seq("a", "b", "c", "d")).toDF("t")
      .select(ghash.shingleHash(org.apache.spark.sql.functions.col("t"), 3))
      .head().getSeq[Long](0)
    assert(sql == col)
  }

  test("fnv1a64 is registered for SQL") {
    graft.engine.GraftExtensions.install(spark)
    val r = spark.sql("SELECT fnv1a64('foobar') h").head().getLong(0)
    assert(r == 0x85944171f73967e8L)
  }

  test("minhash signature: identical inputs identical, containment raises overlap") {
    val a = (1 to 50).map(i => s"tok$i")
    val b = (1 to 45).map(i => s"tok$i") // 90% containment
    val c = (100 to 150).map(i => s"zzz$i") // disjoint
    def sig(xs: Seq[String]) =
      HashAlgos.minHashSig(xs.map(_.getBytes("UTF-8")).toArray, 64)
    val (sa, sa2, sb, sc) = (sig(a), sig(a), sig(b), sig(c))
    assert(sa.sameElements(sa2))
    val simAB = sa.zip(sb).count { case (x, y) => x == y } / 64.0
    val simAC = sa.zip(sc).count { case (x, y) => x == y } / 64.0
    assert(simAB > 0.6, s"near-dup minhash sim $simAB")
    assert(simAC < 0.2, s"disjoint minhash sim $simAC")
  }

  test("shingle_hash equals sorted-distinct fnv of the string shingles, incl. edges") {
    import org.apache.spark.sql.functions._
    val spark = SharedSpark.spark
    import spark.implicits._
    // edge shapes: empty text, 1 token, 2 tokens, exactly 3, repeats
    // (distinct must fold them), and a long text
    val texts = Seq("", "a", "a b", "a b c", "x y x y x y x y",
      (1 to 200).map(i => s"w${i % 37}").mkString(" "))
    val df = texts.toDF("text")
    val got = df.select(graft.queries.Dedup.shingleHashes(col("text")).as("h"))
      .collect().map(_.getSeq[Long](0))
    val want = df.select(graft.queries.Dedup.shingles(col("text")).as("sh"))
      .collect().map(_.getSeq[String](0)
        .map(s => HashAlgos.fnv1a64(s.getBytes("UTF-8"))).distinct.sorted)
    got.zip(want).zip(texts).foreach { case ((g, w), t) =>
      assert(g == w, s"shingle_hash mismatch for text '$t'")
    }
    // minhash over pre-hashed longs == minhash over the string shingles
    val sigL = df.select(graft.functions.ghash
      .minhashSig(graft.queries.Dedup.shingleHashes(col("text")), 16).as("s"))
      .collect().map(_.getSeq[Long](0))
    val sigS = df.select(graft.functions.ghash
      .minhashSig(graft.queries.Dedup.shingles(col("text")), 16).as("s"))
      .collect().map(_.getSeq[Long](0))
    sigL.zip(sigS).foreach { case (l, s) => assert(l == s) }
  }

  test("simhash: near-identical token sets within small hamming, disjoint far") {
    val a = (1 to 60).map(i => s"tok$i")
    val b = (1 to 58).map(i => s"tok$i")
    val c = (1 to 60).map(i => s"other$i")
    def h(xs: Seq[String]) = HashAlgos.simHash64(xs.map(_.getBytes("UTF-8")).toArray)
    val dAB = java.lang.Long.bitCount(h(a) ^ h(b))
    val dAC = java.lang.Long.bitCount(h(a) ^ h(c))
    assert(dAB <= 8, s"near-dup simhash hamming $dAB")
    assert(dAC >= 20, s"disjoint simhash hamming $dAC")
  }

  test("phash64: hand-computed vectors and locality") {
    // bytes 0..127: cell i holds bytes {2i, 2i+1}, mean 2i+0.5; global mean
    // 63.5 → bit i set iff 2i+0.5 > 63.5 iff i >= 32 → high 32 bits
    val ramp = Array.tabulate(128)(_.toByte)
    assert(HashAlgos.pHash64(ramp) == 0xffffffff00000000L)
    // empty → 0; single byte → its cell mean equals the global mean → 0
    assert(HashAlgos.pHash64(Array.emptyByteArray) == 0L)
    assert(HashAlgos.pHash64(Array(42.toByte)) == 0L)
    // locality: flipping a few bytes in one region flips few bits
    val base = Array.tabulate(640)(i => ((i * 31) % 97 + 30).toByte)
    val tweaked = base.clone()
    (300 until 310).foreach(i => tweaked(i) = 127.toByte)
    val d = java.lang.Long.bitCount(
      HashAlgos.pHash64(base) ^ HashAlgos.pHash64(tweaked))
    assert(d <= 6, s"local tweak flipped $d fingerprint bits")
  }

  test("gram_hash_pos: positional windows, equal grams collide, variants decorrelate") {
    def toks(s: String) = s.split(" ").map(_.getBytes("UTF-8"))
    val a = HashAlgos.gramHashesPos(toks("a b c d e"), 3, 0)
    assert(a.length == 3, "len - n + 1 windows")
    // window i of one doc equals window j of another iff the token
    // sequences match
    val b = HashAlgos.gramHashesPos(toks("x b c d y"), 3, 0)
    assert(a(1) == b(1), "shared gram 'b c d' must collide")
    assert(a(0) != b(0) && a(2) != b(2))
    // short input → empty (mirrors the size(tk) >= w filter)
    assert(HashAlgos.gramHashesPos(toks("a b"), 3, 0).isEmpty)
    // variant family is a different function of the same gram (guard key)
    val a1 = HashAlgos.gramHashesPos(toks("a b c d e"), 3, 1)
    assert(a1.length == 3 && a.indices.forall(i => a(i) != a1(i)))
    val b1 = HashAlgos.gramHashesPos(toks("x b c d y"), 3, 1)
    assert(a1(1) == b1(1), "equal grams collide in every variant")
    // SQL registration parity with the column API
    val spark2 = SharedSpark.spark
    import spark2.implicits._
    val df = Seq("a b c d e").toDF("t")
      .selectExpr("gram_hash_pos(split(t, ' '), 3) AS g",
        "gram_hash_pos(split(t, ' '), 3, 1) AS g1")
    val r = df.head()
    assert(r.getSeq[Long](0).toArray.sameElements(a))
    assert(r.getSeq[Long](1).toArray.sameElements(a1))
  }
}
