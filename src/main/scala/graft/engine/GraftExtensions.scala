package graft.engine

import org.apache.spark.sql.{GraftColumnBridge, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{CosineSim, Fnv1a64, GramHashPos, IntersectCountSorted, MinHashSig, Mix64, PHash64, ShingleHash, SimHash64}
import graft.plans.TopKStrategy

/** Config-time injection point for everything graft adds to Spark:
  *
  *   spark.sql.extensions=graft.engine.GraftExtensions
  *
  * registers graft's native expressions as SQL functions (the hashes, the
  * vector kernels and the `sum_exact` aggregate) and the grouped top-k
  * planner strategy on every session built from that config — the
  * deployment path for a cluster where user code never touches the builder.
  * This is the one list of graft SQL functions; [[GraftExtensions.install]]
  * replays it onto an already-running session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "")

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("fnv1a64"),
      info("fnv1a64", "fnv1a64(str) - FNV-1a 64-bit hash of a string"),
      (es: Seq[Expression]) => Fnv1a64(es.head)))
    ext.injectFunction((
      FunctionIdentifier("mix64"),
      info("mix64", "mix64(x) - Murmur3 fmix64 finalizer of a bigint"),
      (es: Seq[Expression]) => Mix64(es.head)))
    ext.injectFunction((
      FunctionIdentifier("minhash_sig"),
      info("minhash_sig", "minhash_sig(arr, k) - k-permutation MinHash signature"),
      (es: Seq[Expression]) =>
        MinHashSig(es.head, graft.functions.ghash.litInt(es, 1, "minhash_sig"))))
    ext.injectFunction((
      FunctionIdentifier("simhash64"),
      info("simhash64", "simhash64(arr) - 64-bit SimHash sketch"),
      (es: Seq[Expression]) => SimHash64(es.head)))
    ext.injectFunction((
      FunctionIdentifier("shingle_hash"),
      info("shingle_hash", "shingle_hash(arr, n) - sorted distinct FNV hashes of n-word shingles"),
      (es: Seq[Expression]) =>
        ShingleHash(es.head, graft.functions.ghash.litInt(es, 1, "shingle_hash"))))
    ext.injectFunction((
      FunctionIdentifier("gram_hash_pos"),
      info("gram_hash_pos",
        "gram_hash_pos(arr, n[, variant]) - positional n-gram window hashes"),
      (es: Seq[Expression]) => GramHashPos(es.head,
        graft.functions.ghash.litInt(es, 1, "gram_hash_pos"),
        if (es.length > 2) graft.functions.ghash.litInt(es, 2, "gram_hash_pos") else 0)))
    ext.injectFunction((
      FunctionIdentifier("phash64"),
      info("phash64", "phash64(bin) - block-mean perceptual fingerprint"),
      (es: Seq[Expression]) => PHash64(es.head)))
    ext.injectFunction((
      FunctionIdentifier("cosine_sim"),
      info("cosine_sim", "cosine_sim(a, b) - cosine similarity of float/double vectors"),
      (es: Seq[Expression]) => CosineSim(es.head, es(1))))
    ext.injectFunction((
      FunctionIdentifier("intersect_count_sorted"),
      info("intersect_count_sorted", "intersect_count_sorted(a, b) - |a \u2229 b| of sorted bigint arrays"),
      (es: Seq[Expression]) => IntersectCountSorted(es.head, es(1))))
    ext.injectFunction((
      FunctionIdentifier("sum_exact"),
      info("sum_exact", "sum_exact(x) - exact sum as double: the bits of " +
        "CAST(SUM(CAST(x AS DECIMAL(38,10))) AS DOUBLE)"),
      (es: Seq[Expression]) => ExactSum(es.head)))
    ext.injectPlannerStrategy(_ => TopKStrategy)
  }
}

object GraftExtensions {

  /** Install every graft SQL function and strategy on a running session;
    * what the session already has is left as it is. */
  def install(spark: SparkSession): Unit =
    GraftColumnBridge.applyExtensions(spark, new GraftExtensions)
}
