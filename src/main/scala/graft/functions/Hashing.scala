package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.{GraftColumnBridge => ExpressionUtils}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Pure hash kernels, shared by interpreted eval and generated code.
  * Deterministic across JVMs/partitions — a hard requirement for
  * dedup at scale (the same document must hash identically on every
  * executor of a 1000-node cluster and on every retry).
  */
object HashAlgos {
  final val FnvOffset = 0xcbf29ce484222325L
  final val FnvPrime = 0x100000001b3L

  /** FNV-1a 64-bit over raw bytes. */
  def fnv1a64(bytes: Array[Byte]): Long = {
    var h = FnvOffset
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= FnvPrime
      i += 1
    }
    h
  }

  /** FNV-1a 64 continuation: fold `bytes` into running state `h0`. */
  def fnv1a64(bytes: Array[Byte], h0: Long): Long = {
    var h = h0
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= FnvPrime
      i += 1
    }
    h
  }

  /** Distinct FNV-1a-64 hashes of the n-word shingles of `toks`, sorted
    * ascending. Each window's hash equals
    * `fnv1a64(concat_ws(" ", slice(toks, i, n)))` bit-exactly — the
    * separator byte is folded between tokens and null tokens are skipped
    * without a separator, matching concat_ws — but no shingle string is
    * ever materialized: one fused pass, zero per-window allocation.
    * Window count is max(len - n + 1, 1), mirroring the
    * `sequence(1, greatest(size - (n-1), 1))` shape of the string form
    * (a short input yields one truncated shingle; empty input hashes "").
    * Output order is sorted, not first-occurrence: every consumer
    * (set intersection, minhash) is order-independent.
    */
  def shingleHashes(toks: Array[Array[Byte]], n: Int): Array[Long] = {
    val m = toks.length
    val count = math.max(m - n + 1, 1)
    val out = new Array[Long](count)
    var i = 0
    while (i < count) {
      var h = FnvOffset
      var first = true
      var j = i
      val end = math.min(i + n, m)
      while (j < end) {
        val t = toks(j)
        if (t != null) {
          if (!first) { h ^= (' ' & 0xffL); h *= FnvPrime }
          h = fnv1a64(t, h)
          first = false
        }
        j += 1
      }
      out(i) = h
      i += 1
    }
    java.util.Arrays.sort(out)
    var w = 0
    var r = 1
    while (r < count) {
      if (out(r) != out(w)) { w += 1; out(w) = out(r) }
      r += 1
    }
    if (w + 1 == count) out else java.util.Arrays.copyOf(out, w + 1)
  }

  /** MinHash signature over pre-hashed elements: for permutation i, min
    * over elements of mix64(elem ^ seed_i) — the tail of [[minHashSig]]
    * with the per-element base hash already computed.
    */
  def minHashSigLong(elems: Array[Long], k: Int): Array[Long] = {
    val sig = Array.fill(k)(Long.MaxValue)
    var e = 0
    while (e < elems.length) {
      val base = elems(e)
      var i = 0
      while (i < k) {
        val h = mix64(base ^ (i * 0x9e3779b97f4a7c15L))
        if (h < sig(i)) sig(i) = h
        i += 1
      }
      e += 1
    }
    sig
  }

  /** Murmur3 fmix64 finalizer — decorrelates fnv output per seed so k
    * minhash "permutations" come from one base hash (standard one-hash
    * minhash construction).
    */
  def mix64(v0: Long): Long = {
    var v = v0
    v ^= v >>> 33
    v *= 0xff51afd7ed558ccdL
    v ^= v >>> 33
    v *= 0xc4ceb9fe1a85ec53L
    v ^= v >>> 33
    v
  }

  /** MinHash signature: for permutation i, min over elements of
    * mix64(fnv(elem) ^ seed_i). One pass over the elements.
    */
  def minHashSig(elems: Array[Array[Byte]], k: Int): Array[Long] = {
    val sig = Array.fill(k)(Long.MaxValue)
    var e = 0
    while (e < elems.length) {
      val base = fnv1a64(elems(e))
      var i = 0
      while (i < k) {
        val h = mix64(base ^ (i * 0x9e3779b97f4a7c15L))
        if (h < sig(i)) sig(i) = h
        i += 1
      }
      e += 1
    }
    sig
  }

  /** 64-bit SimHash over element hashes: per bit, +1 if set else -1;
    * result bit = (counter > 0).
    */
  def simHash64(elems: Array[Array[Byte]]): Long = {
    val counters = new Array[Int](64)
    var e = 0
    while (e < elems.length) {
      val h = mix64(fnv1a64(elems(e)))
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) counters(b) += 1 else counters(b) -= 1
        b += 1
      }
      e += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (counters(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  /** pHash-style block-mean fingerprint of a byte payload: the payload is
    * cut into 64 contiguous cells (byte k → cell ⌊k·64/n⌋), and bit i is
    * set iff cell i's mean byte value strictly exceeds the payload-wide
    * mean — the block-mean variant of the classic DCT pHash. One pass,
    * O(1) state. Empty payload (and cells the payload is too short to
    * reach) → bit 0. Means are IEEE double divisions of exact long sums,
    * so the DuckDB relational replica (m04's oracle) is bit-identical for
    * ASCII payloads (the DuckHash caveat: SQL reads code points, this
    * kernel reads raw bytes).
    */
  def pHash64(bytes: Array[Byte]): Long = {
    val n = bytes.length
    if (n == 0) return 0L
    val sums = new Array[Long](64)
    val cnts = new Array[Int](64)
    var total = 0L
    var k = 0
    while (k < n) {
      val cell = ((k.toLong * 64L) / n).toInt
      val b = bytes(k) & 0xff
      sums(cell) += b
      cnts(cell) += 1
      total += b
      k += 1
    }
    val gm = total.toDouble / n.toDouble
    var out = 0L
    var i = 0
    while (i < 64) {
      if (cnts(i) > 0 && sums(i).toDouble / cnts(i).toDouble > gm) out |= (1L << i)
      i += 1
    }
    out
  }

  // ---- ArrayData-level entry points for generated code ----
  // The sketch expressions were CodegenFallback (the O(k·n) inner loop
  // dominates), but fallback does more than skip inlining: generated code
  // calls `expr.eval(row)`, which re-evaluates the WHOLE child subtree
  // interpreted — the upstream split()/transform() drops out of
  // whole-stage codegen too. These helpers keep the kernels in one place
  // and give doGenCode a single static call, so only the kernel itself
  // stays out-of-line.

  private def utf8Elems(arr: ArrayData, nullAsEmpty: Boolean): Array[Array[Byte]] = {
    val elems = new Array[Array[Byte]](arr.numElements())
    var i = 0
    while (i < elems.length) {
      val s = arr.getUTF8String(i)
      elems(i) =
        if (s == null) { if (nullAsEmpty) Array.emptyByteArray else null }
        else s.getBytes
      i += 1
    }
    elems
  }

  /** POSITIONAL n-gram hashes: out(i) = hash of the window starting at
    * token i, for i in 0..len−n (empty if len < n) — the ExactSubstr
    * (d15/d18) key kernel. Unlike [[shingleHashes]] the output is NOT
    * sorted (the span logic needs positions) and no gram string is ever
    * materialized: each token is hashed once, each window folds n 8-byte
    * word hashes. `variant` selects an independent family (word hashes
    * pushed through mix64 with a distinct offset), giving the d15
    * collision guard a second key whose collisions don't track the
    * first's (two polynomials over DIFFERENT word images).
    */
  def gramHashesPos(toks: Array[Array[Byte]], n: Int, variant: Int): Array[Long] = {
    val m = toks.length
    if (m < n) return Array.emptyLongArray
    val wh = new Array[Long](m)
    var i = 0
    while (i < m) {
      var h = fnv1a64(toks(i))
      if (variant != 0) h = mix64(h ^ (variant * 0x9e3779b97f4a7c15L))
      wh(i) = h
      i += 1
    }
    val out = new Array[Long](m - n + 1)
    i = 0
    while (i < out.length) {
      var h = FnvOffset
      var j = i
      val end = i + n
      while (j < end) {
        val w = wh(j)
        var b = 0
        while (b < 8) {
          h ^= ((w >>> (b * 8)) & 0xffL)
          h *= FnvPrime
          b += 1
        }
        j += 1
      }
      out(i) = h
      i += 1
    }
    out
  }

  def gramHashesPosData(arr: ArrayData, n: Int, variant: Int): ArrayData =
    new GenericArrayData(
      gramHashesPos(utf8Elems(arr, nullAsEmpty = true), n, variant))

  /** ALL window hashes the order-n Kneser–Ney recursion needs, fused into
    * one pass (the KN-family analog of [[gramHashesPos]]): out(i) is a
    * 3n−1-long array for the gram starting at token i, laid out as
    *
    *   [ h,  x2..xn,  s1..s{n-1},  u1..un ]
    *
    * where h hashes gram positions 1..n, x{k} hashes n−k+1..n−1 (the
    * order-k context), s{k} hashes n−k+1..n (the order-k suffix), and
    * u{k} is the INDEPENDENT variant-1 hash of position n−k+1 alone (the
    * collision-guard witness family). h/x/s values are bit-identical to
    * the corresponding variant-0 [[gramHashesPos]] windows; u{k} is the
    * raw variant-1 word image itself (mix64 of the word's fnv xor the
    * golden ratio — a different FAMILY from the FNV window folds, which
    * is exactly what a collision witness wants). Cost sharing: each word is
    * fnv-hashed once per family; x{k} is the pre-final FNV state of
    * s{k}'s fold (and x{n} of h's), so the n−1 distinct start offsets
    * cost n(n+1)/2 word-folds per position instead of ~n² for separate
    * kernel passes, and u{k} are direct word-hash lookups. One explode
    * consumes the output — no arrays_zip of 3n−1 slices, no per-gram
    * struct allocation (measured 1.8× end-to-end on the r18 200k probe
    * vs the slice-and-zip form this replaces).
    */
  def knGramHashes(toks: Array[Array[Byte]], n: Int): ArrayData = {
    val m = toks.length
    val cnt = m - n + 1
    if (cnt <= 0) return new GenericArrayData(Array.empty[Any])
    val wh = new Array[Long](m)
    val whv = new Array[Long](m)
    var i = 0
    while (i < m) {
      val h0 = fnv1a64(toks(i))
      wh(i) = h0
      whv(i) = mix64(h0 ^ 0x9e3779b97f4a7c15L)
      i += 1
    }
    val width = 3 * n - 1
    val out = new Array[Any](cnt)
    i = 0
    while (i < cnt) {
      val row = new Array[Long](width)
      var k = 1
      while (k <= n) { row(2 * n - 2 + k) = whv(i + n - k); k += 1 }
      var d = 0
      while (d < n) {
        val kk = n - d // final fold state = s{kk} (h when kk==n), pre-final = x{kk}
        var h = FnvOffset
        var pre = h
        var j = i + d
        val end = i + n
        while (j < end) {
          pre = h
          val w = wh(j)
          var b = 0
          while (b < 8) {
            h ^= ((w >>> (b * 8)) & 0xffL)
            h *= FnvPrime
            b += 1
          }
          j += 1
        }
        if (kk == n) row(0) = h else row(n - 1 + kk) = h
        if (kk >= 2) row(kk - 1) = pre
        d += 1
      }
      out(i) = new GenericArrayData(row)
      i += 1
    }
    new GenericArrayData(out)
  }

  def knGramHashesData(arr: ArrayData, n: Int): ArrayData =
    knGramHashes(utf8Elems(arr, nullAsEmpty = true), n)

  def shingleHashData(arr: ArrayData, n: Int): ArrayData =
    new GenericArrayData(shingleHashes(utf8Elems(arr, nullAsEmpty = false), n))

  def minHashSigData(arr: ArrayData, k: Int, longInput: Boolean): ArrayData =
    if (longInput) new GenericArrayData(minHashSigLong(arr.toLongArray(), k))
    else new GenericArrayData(minHashSig(utf8Elems(arr, nullAsEmpty = true), k))

  def simHash64Data(arr: ArrayData): Long =
    simHash64(utf8Elems(arr, nullAsEmpty = true))
}

/** fnv1a64(string) → long. Native Catalyst expression with full codegen —
  * stays inside whole-stage codegen (vs. a Scala UDF which breaks it and
  * pays serialization per row).
  *
  * Plays the role the reference's row-hash plays for group keys
  * (reference: src/executor/aggregate/hash_utils.rs:163-222), but as a
  * user-facing function for content fingerprinting.
  */
case class Fnv1a64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires string input")
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "fnv1a64"

  override protected def nullSafeEval(input: Any): Any =
    HashAlgos.fnv1a64(input.asInstanceOf[UTF8String].getBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashAlgos.fnv1a64(($c).getBytes())")

  override protected def withNewChildInternal(newChild: Expression): Fnv1a64 =
    copy(child = newChild)
}

/** mix64(long) → long: the Murmur3 fmix64 finalizer as a standalone
  * expression. Full codegen. Used where a column-level integer needs
  * avalanche-quality mixing (e.g. sign-LSH hyperplane weights): every
  * output bit depends on every input bit, so structurally related inputs
  * (consecutive packed (dim, bit, table) indices) yield independent bits —
  * a single multiply provably does not (see [[graft.queries.Similarity
  * .lshProj]] history).
  */
case class Mix64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires bigint input")
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "mix64"

  override protected def nullSafeEval(input: Any): Any =
    HashAlgos.mix64(input.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashAlgos.mix64($c)")

  override protected def withNewChildInternal(newChild: Expression): Mix64 =
    copy(child = newChild)
}

/** phash64(binary) → long: perceptual block-mean fingerprint
  * ([[HashAlgos.pHash64]]) as a native expression with full codegen — the
  * payload reduces to 8 bytes IN THE SCAN STAGE, so media near-dup (m04)
  * never moves payload bytes through an exchange (the earlier relational
  * form shuffled 64 (doc, cell, sum, count) rows per payload; this
  * shuffles none).
  */
case class PHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires binary input")
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "phash64"

  override protected def nullSafeEval(input: Any): Any =
    HashAlgos.pHash64(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashAlgos.pHash64($c)")

  override protected def withNewChildInternal(newChild: Expression): PHash64 =
    copy(child = newChild)
}

/** minhash_sig(array<string> | array<long>, k) → array<long>. String
  * elements are FNV-hashed first; long elements are taken as the base hash
  * directly (the pre-hashed-shingle path — see [[ShingleHash]]). Empty
  * input → all Long.MaxValue (no elements seen). Full codegen via a
  * static kernel call: CodegenFallback would not just skip inlining the
  * O(k·n) loop — it re-evaluates the whole child subtree interpreted,
  * dragging the upstream tokenize/shingle out of whole-stage codegen.
  */
case class MinHashSig(child: Expression, k: Int)
    extends UnaryExpression {
  require(k > 0 && k <= 1024, "minhash k out of range")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) | ArrayType(LongType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string> or array<long> input")
  }
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "minhash_sig"

  private lazy val longInput = child.dataType match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  override protected def nullSafeEval(input: Any): Any =
    HashAlgos.minHashSigData(input.asInstanceOf[ArrayData], k, longInput)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.HashAlgos.minHashSigData($c, $k, $longInput);")

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

/** shingle_hash(array<string>, n) → array<long>: distinct sorted FNV-1a-64
  * hashes of the n-word shingles (see [[HashAlgos.shingleHashes]]). The
  * fused scale form of `array_distinct(transform(... concat_ws ...))` +
  * per-shingle hashing: one pass, no shingle strings materialized, and the
  * downstream set arithmetic (Jaccard) runs on 8-byte longs instead of
  * ~24-byte strings. Bit-compatible with hashing the string shingles —
  * the DuckDB oracle replicates it as
  * `list_distinct(list_transform(<shingles>, s -> fnv(s)))`.
  */
case class ShingleHash(child: Expression, n: Int)
    extends UnaryExpression {
  require(n > 0 && n <= 64, "shingle width out of range")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(s"$prettyName requires array<string> input")
  }
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "shingle_hash"

  override protected def nullSafeEval(input: Any): Any =
    HashAlgos.shingleHashData(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.HashAlgos.shingleHashData($c, $n);")

  override protected def withNewChildInternal(newChild: Expression): ShingleHash =
    copy(child = newChild)
}

/** gram_hash_pos(array<string>, n, variant) → array<long>: positional
  * n-gram window hashes (index = start position, no sort, no gram-string
  * materialization) — the ExactSubstr key kernel; see
  * [[HashAlgos.gramHashesPos]].
  */
case class GramHashPos(child: Expression, n: Int, variant: Int)
    extends UnaryExpression {
  require(n > 0 && n <= 256, "gram width out of range")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(s"$prettyName requires array<string> input")
  }
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "gram_hash_pos"

  override protected def nullSafeEval(input: Any): Any =
    HashAlgos.gramHashesPosData(input.asInstanceOf[ArrayData], n, variant)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.HashAlgos.gramHashesPosData($c, $n, $variant);")

  override protected def withNewChildInternal(newChild: Expression): GramHashPos =
    copy(child = newChild)
}

/** kn_gram_hashes(array<string>, n) → array<array<long>>: the fused
  * KN-family window-hash kernel — one 3n−1-long row per gram position,
  * layout [h, x2..xn, s1..s{n-1}, u1..un]; see
  * [[HashAlgos.knGramHashes]]. One kernel pass replaces n+1 GramHashPos
  * passes + arrays_zip + per-gram struct allocation in the order-n KN
  * stream.
  */
case class KnGramHashes(child: Expression, n: Int)
    extends UnaryExpression {
  require(n >= 2 && n <= 64, "KN order out of range")
  override def dataType: DataType =
    ArrayType(ArrayType(LongType, containsNull = false), containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(s"$prettyName requires array<string> input")
  }
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "kn_gram_hashes"

  override protected def nullSafeEval(input: Any): Any =
    HashAlgos.knGramHashesData(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.HashAlgos.knGramHashesData($c, $n);")

  override protected def withNewChildInternal(newChild: Expression): KnGramHashes =
    copy(child = newChild)
}

/** simhash64(array<string>) → long. */
case class SimHash64(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(s"$prettyName requires array<string> input")
  }
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "simhash64"

  override protected def nullSafeEval(input: Any): Any =
    java.lang.Long.valueOf(HashAlgos.simHash64Data(input.asInstanceOf[ArrayData]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.HashAlgos.simHash64Data($c);")

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** Column-level API + SQL registration for the custom expressions. */
object ghash {
  def fnv1a64(c: Column): Column = ExpressionUtils.column(Fnv1a64(ExpressionUtils.expression(c)))
  def mix64(c: Column): Column = ExpressionUtils.column(Mix64(ExpressionUtils.expression(c)))
  def minhashSig(c: Column, k: Int): Column =
    ExpressionUtils.column(MinHashSig(ExpressionUtils.expression(c), k))
  def simhash64(c: Column): Column =
    ExpressionUtils.column(SimHash64(ExpressionUtils.expression(c)))
  def phash64(c: Column): Column =
    ExpressionUtils.column(PHash64(ExpressionUtils.expression(c)))
  def shingleHash(c: Column, n: Int): Column =
    ExpressionUtils.column(ShingleHash(ExpressionUtils.expression(c), n))
  def gramHashPos(c: Column, n: Int, variant: Int = 0): Column =
    ExpressionUtils.column(GramHashPos(ExpressionUtils.expression(c), n, variant))
  def knGramHashes(c: Column, n: Int): Column =
    ExpressionUtils.column(KnGramHashes(ExpressionUtils.expression(c), n))

  /** A literal-int function argument (minhash_sig's k, shingle_hash's n)
    * with a clean error instead of an obscure eval-time crash on a
    * non-literal, non-numeric, or missing argument.
    */
  private[graft] def litInt(es: Seq[Expression], idx: Int, fn: String): Int = {
    require(es.length > idx, s"$fn: missing literal integer argument ${idx + 1}")
    val e = es(idx)
    require(e.foldable, s"$fn: argument ${idx + 1} must be a literal integer, got ${e.sql}")
    e.eval() match {
      case n: Number => n.intValue()
      case other => throw new IllegalArgumentException(
        s"$fn: argument ${idx + 1} must be a literal integer, got $other")
    }
  }
}
