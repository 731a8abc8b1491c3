package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.QuerySpec
import graft.engine.Tables
import graft.functions.ghash
import graft.plans.TopK

/** Similarity search over the `embeddings` table (64-dim float vectors).
  *
  * s01 is the exact brute-force baseline: broadcast the (small) query set,
  * linear scan the corpus — at 100 TB this is one shuffle-free pass, the
  * correct exact-kNN shape. s02/s03 are the scale path: sign-random-
  * projection LSH buckets shrink the candidate set so the exact rerank
  * touches a fraction of the corpus; d06-style cosine near-dup pairing uses
  * the same buckets.
  *
  * All dot products are computed in double from the float inputs with a
  * sequential left fold — bit-identical between Spark's `aggregate` and
  * DuckDB's `list_sum` (verified by the oracle gate).
  */
object Similarity {

  private def emb(s: SparkSession, d: String): DataFrame = Tables(s, d, "embeddings")
  private def vecs(s: SparkSession, d: String): DataFrame =
    emb(s, d).select(col("vec_id"), col("embedding"))

  /** Quantizer-training sample bound for the s18b/s19b deployment-config
    * contract rows: train on vec_id < 200 — a deterministic prefix (plain
    * SQL on both engines), a genuine subsample at every test SF (500 /
    * 2000 / 20000 embeddings), and a superset of both seed prefixes
    * (vec_id < 16 IVF seeds, vec_id < 8 PQ seeds). At deployment scale
    * the analogous bound is ~40·k training points (FAISS's guidance) —
    * the probes time that configuration at 200k/1M.
    */
  private[graft] val SampledTrainN = 200

  // The ANN contract: one set of values read by the s04/s08/s18–s20 and
  // c24 rows, their oracles and the streaming ingest twin
  // (Streams.annIndexEncode), so no side can drift from another.
  private[graft] val IvfK = 16 // coarse cells
  private[graft] val IvfNprobe = 4 // cells probed per query
  private[graft] val IvfIters = 3 // Lloyd rounds of the coarse quantizer
  private[graft] val PqM = 4 // PQ subspaces
  private[graft] val PqSubDim = 16 // dims per subspace
  private[graft] val PqKsub = 8 // codes per subspace
  private[graft] val PqIters = 2 // Lloyd rounds per codebook
  private[graft] val AnnNQ = 5 // the PQ rows' queries: vec_id < AnnNQ
  private[graft] val AnnShortlist = 32 // ADC shortlist per query
  private[graft] val AnnTopK = 5 // neighbors per query after the rerank
  private[graft] val SearchNQ = 10 // s02/s04 queries: vec_id < SearchNQ

  // The sign-LSH contracts, read by the rows and their oracles: the search
  // index of s02 and the s10/s11/s13/s17 kNN graphs, and the near-dup
  // banding of s03/s06/d23.
  private[graft] val LshTables = 4 // hash tables of every sign-LSH row
  private[graft] val LshBits = 8 // bits per table of s02/s10/s11/s17
  private[graft] val LshCap = 1000 // search bucket cap: the smallest ids kept
  private[graft] val DupBits = 10 // bits per table of s03/s06/d23
  private[graft] val DupCap = 100 // near-dup hot-bucket guard: larger dropped
  private[graft] val DupThreshold = 0.99 // s03/s06 exact-cosine verify

  /** Σ aᵢ·bᵢ in double precision, sequential fold. */
  def ddot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast(DoubleType) * y.cast(DoubleType)),
      lit(0.0),
      (acc, x) => acc + x)

  /** Fused native kernel ([[graft.functions.CosineSim]]): one pass, three
    * accumulators, zero allocation — bit-identical to the composed
    * `ddot/sqrt` form (same index-order folds, same final expression
    * shape), which remains above as the readable specification.
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.gvec.cosineSim(a, b)

  /** DuckDB equivalent of [[cosine]] with identical evaluation order. */
  private def duckCos(a: String, b: String): String = {
    def dot(x: String, y: String) =
      s"""list_sum(list_transform(list_zip($x, $y),
         |    p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))""".stripMargin
    s"(${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)})))"
  }

  /** DuckDB equivalent of [[ddot]]: the LUT and residual qc dot products. */
  private def duckDot(a: String, b: String): String =
    s"""list_sum(list_transform(list_zip($a, $b),
       |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))""".stripMargin

  // ---- Product quantization (s08) ----

  /** Σ (aᵢ−bᵢ)² in double precision, sequential fold — the PQ training
    * metric. Same fold shape as [[ddot]] so the oracle's `list_sum` text
    * reproduces it bit-for-bit.
    */
  private def l2(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, x) => acc + x)

  /** Subvector `si` (0-based) of width [[PqSubDim]], cast elementwise to
    * double. Oracle: `list_transform(embedding[si*PqSubDim+1:(si+1)*PqSubDim],
    * x -> CAST(x AS DOUBLE))`.
    */
  private def subVec(e: Column, si: Column): Column =
    transform(slice(e, si * PqSubDim + 1, lit(PqSubDim)), x => x.cast(DoubleType))

  /** PQ codebooks: [[PqM]] subspaces × [[PqKsub]] codes, each subspace
    * trained by [[PqIters]] Lloyd rounds (L2 metric, decimal-exact means —
    * the s04 exactness contract) over the corpus subvectors; seeds are the
    * [[PqKsub]] lowest vec_ids' subvectors. Returns ONE broadcast-ready row
    * `cb: array<struct<sub, codes: array<struct<code, cvec>>>>`, sorted by
    * sub (cb[sub] is positional) and each codes array by code id.
    *
    * Scale shape: the training frame is corpus×m NARROW rows (subDim
    * doubles each, checkpointed once); each round is one broadcast join +
    * per-row argmin (zero corpus shuffle) and one (sub, code, dim)-keyed
    * mean with m·ksub·subDim groups of state. Loop discipline is the d08
    * pattern (eager localCheckpoint per round, O(1)-deep plans). An empty
    * cell simply drops out of the codebook (all lookups key by `code`, not
    * by array position, so a sparse codebook stays correct).
    */
  def pqCodebooks(e: DataFrame): DataFrame = {
    import graft.engine.Exact
    val subs = e
      .select(col("vec_id"), explode(transform(sequence(lit(0), lit(PqM - 1)),
        si => struct(si.as("sub"),
          subVec(col("embedding"), si).as("svec")))).as("sv"))
      .select(col("vec_id"), col("sv.sub").as("sub"), col("sv.svec").as("svec"))
      .localCheckpoint(true)
    var cb = subs.filter(col("vec_id") < PqKsub)
      .select(col("sub"), col("vec_id").cast("int").as("code"),
        col("svec").as("cvec"))
      .groupBy("sub")
      .agg(array_sort(collect_list(struct(col("code"), col("cvec")))).as("codes"))
      .localCheckpoint(true)
    for (_ <- 1 to PqIters) {
      val assigned = subs.join(broadcast(cb), "sub")
        .select(col("sub"), col("svec"),
          array_min(transform(col("codes"), c =>
            struct(l2(col("svec"), c.getField("cvec")).as("d"),
              c.getField("code").as("code")))).getField("code").as("code"))
      cb = assigned
        .select(col("sub"), col("code"), posexplode(col("svec")).as(Seq("dim", "v")))
        .groupBy("sub", "code", "dim")
        .agg((Exact.dsum(col("v")) / count(lit(1)).cast(DoubleType)).as("mv"))
        .groupBy("sub", "code")
        .agg(array_sort(collect_list(struct(col("dim"), col("mv")))).as("dm"))
        .select(col("sub"), col("code"),
          transform(col("dm"), x => x.getField("mv")).as("cvec"))
        .groupBy("sub")
        .agg(array_sort(collect_list(struct(col("code"), col("cvec")))).as("codes"))
        .localCheckpoint(true)
    }
    cb.agg(array_sort(collect_list(struct(col("sub"), col("codes")))).as("cb"))
  }

  /** The [[PqM]] PQ codes of `vec` against the in-scope `cb` codebook row: per
    * subspace the nearest code by L2, (dist, code) tie-break. The one
    * encode of the flat (s08), IVF (s18/s20 and the streaming twin) and
    * residual (s19, where `vec` is the residual) indexes.
    */
  private def pqCodes(vec: Column): Column =
    transform(sequence(lit(0), lit(PqM - 1)), si =>
      array_min(transform(
        element_at(col("cb"), si + 1).getField("codes"), c =>
          struct(l2(subVec(vec, si), c.getField("cvec")).as("d"),
            c.getField("code").as("code")))).getField("code")).as("codes")

  /** The query set `(q_id, q_emb)`: the vectors with vec_id < `n`. */
  private def annQueries(e: DataFrame, n: Int): DataFrame =
    e.filter(col("vec_id") < n)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))

  /** Per-query ADC lookup tables `(q_id, q_emb, lut)`, densified BY CODE
    * ID (slot j = dot(q_sub, cvec of code j); a code that dropped out of
    * the codebook leaves a never-referenced -Inf slot), so scoring does
    * O(1) positional lookups per subspace — the ADC hot loop — instead of
    * an O(ksub) filter per row. Built from the RAW query subvectors, also
    * against residual codebooks (s19).
    */
  private def pqLut(q: DataFrame, cbRow: DataFrame): DataFrame =
    q.crossJoin(broadcast(cbRow))
      .select(col("q_id"), col("q_emb"),
        transform(col("cb"), sc =>
          transform(sequence(lit(0), lit(PqKsub - 1)), codeId => {
            val hit = filter(sc.getField("codes"),
              c => c.getField("code") === codeId)
            when(size(hit) > 0,
              ddot(subVec(col("q_emb"), sc.getField("sub")),
                element_at(hit, 1).getField("cvec")))
              .otherwise(lit(Double.NegativeInfinity))
          })).as("lut"))

  /** ADC serve over `cands(q_id, q_emb, lut, vec_id, codes)`: each score
    * folds the candidate's m LUT lookups in subspace order from `seed`
    * (0.0, or the residual index's per-cell `qc`), the bounded
    * [[TopK.perKey]] partial top-k keeps ≤[[AnnShortlist]] rows per query per
    * map task (never the candidates×queries scored frame), and the
    * shortlist gets the exact-cosine rerank to [[AnnTopK]]. The one serve tail
    * of flat (s08), IVF-routed (s18/s20) and residual (s19) ADC.
    */
  private def adcTopK(e: DataFrame, cands: DataFrame, seed: Column): DataFrame = {
    val scored = cands
      .select(col("q_id"), col("q_emb"), col("vec_id"),
        aggregate(sequence(lit(0), lit(PqM - 1)), seed, (acc, si) =>
          acc + element_at(element_at(col("lut"), si + 1),
            element_at(col("codes"), si + 1) + 1)).as("adc"))
    val short = TopK.perKey(scored,
      keys = Seq(col("q_id")),
      order = Seq(col("adc").desc, col("vec_id")),
      k = AnnShortlist)
    e.select(col("vec_id"), col("embedding").as("n_emb"))
      .join(broadcast(short), "vec_id")
      .select(col("q_id"), col("vec_id").as("neighbor_id"), col("adc"),
        cosine(col("q_emb"), col("n_emb")).as("cos"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("q_id").orderBy(col("cos").desc, col("neighbor_id"))))
      .filter(col("rank") <= AnnTopK)
      .select(col("q_id"), col("rank"), col("neighbor_id"), col("adc"), col("cos"))
      .orderBy("q_id", "rank")
  }

  /** PQ-ADC approximate nearest neighbors: train codebooks
    * ([[pqCodebooks]]), encode every corpus vector as [[PqM]] small code ids
    * (the 100 TB memory story: m bytes leave the scan instead of the
    * full float vector — 64× compression at m=4, dim=64), precompute each
    * query's asymmetric-distance lookup table ([[pqLut]]), then score the
    * whole corpus with O(m) LUT lookups per row, shortlist and rerank
    * ([[adcTopK]]).
    *
    * Everything downstream of the codebooks is shuffle-free over the
    * corpus: encode and ADC scoring are per-row expressions against the
    * broadcast codebook/LUT rows; the only corpus-wide exchange is the
    * TopK partial aggregation's ≤(queries·shortlist) rows per task.
    */
  def pqAdcAnn(e: DataFrame): DataFrame = {
    val cbRow = pqCodebooks(e)
    val enc = e.crossJoin(broadcast(cbRow))
      .select(col("vec_id"), pqCodes(col("embedding")))
    val qlut = pqLut(annQueries(e, AnnNQ), cbRow)
    adcTopK(e, enc.crossJoin(broadcast(qlut)).filter(col("vec_id") =!= col("q_id")),
      lit(0.0))
  }

  // ---- IVF coarse quantizer (s04) ----

  /** Nearest-centroid assignment as a PER-ROW argmax over the broadcast
    * centroid array — zero shuffle. (The round-1 shape exploded corpus×k
    * and Window-argmin'd per vec_id: a 16×-corpus shuffle, twice. With only
    * k broadcastable centroids that work belongs inside the row.)
    * Tie-break: struct max on (cos, -cell) = cos DESC, cell ASC — matches
    * the oracle's ROW_NUMBER ordering.
    */
  private[graft] def nearestCell(cents: Column, vec: Column): Column =
    array_max(transform(cents, c =>
      struct(
        cosine(vec, c.getField("cvec")).as("cos"),
        (-c.getField("cell")).as("neg_cell"),
        c.getField("cell").as("cell"))))
      .getField("cell")

  /** Lloyd-refined IVF centroids: seeds = the [[IvfK]] lowest vec_ids, then
    * exactly `iters` rounds of (per-row nearest-centroid assignment → decimal-exact
    * mean per cell & dim) — a fixed count, so the DuckDB oracle unrolls the
    * identical steps. Returns ONE array row `cents: array<struct<cell,cvec>>`
    * ready to broadcast.
    *
    * Loop discipline is the d08 pattern: every round's centroid frame is
    * EAGERLY localCheckpoint'ed, so the plan stays O(1) deep (round n reads
    * round n−1's materialized blocks, not a 3-deep re-derivation that AQE
    * could recompute with different partial-agg groupings), and the
    * ContextCleaner reclaims each round's blocks when the frame goes out of
    * scope — unlike `persist()`, nothing leaks past the computation.
    *
    * Means are decimal-exact ([[graft.engine.Exact.dsum]]), not `avg`:
    * order-independent, so centroids — and every downstream assignment —
    * are identical on any partitioning AND bit-reproducible by the oracle.
    */
  def ivfCentroids(e: DataFrame, iters: Int = IvfIters): DataFrame = {
    import graft.engine.Exact
    var centArr = e.filter(col("vec_id") < IvfK)
      .agg(collect_list(struct(col("vec_id").as("cell"),
        col("embedding").as("cvec"))).as("cents"))
      .localCheckpoint(true)
    for (_ <- 1 to iters) {
      centArr = e.crossJoin(broadcast(centArr))
        .select(col("embedding"),
          nearestCell(col("cents"), col("embedding")).as("cell"))
        .select(col("cell"), posexplode(col("embedding")).as(Seq("dim", "v")))
        .groupBy("cell", "dim")
        .agg((Exact.dsum(col("v").cast(DoubleType)) /
          count(lit(1)).cast(DoubleType)).as("m"))
        .groupBy("cell")
        .agg(array_sort(collect_list(struct(col("dim"), col("m")))).as("dm"))
        .select(col("cell"), transform(col("dm"), x => x.getField("m")).as("cvec"))
        .agg(collect_list(struct(col("cell"), col("cvec"))).as("cents"))
        .localCheckpoint(true)
    }
    centArr
  }

  /** IVF routing: each query's `nprobe` nearest cells — a per-row
    * array_sort on (-cos, cell) over the broadcast centroids (ascending =
    * cos DESC, cell ASC), then explode. With `qc` each probe also carries
    * dot(q, centroid), the residual decomposition's per-cell scalar (s19);
    * the sort never reaches it, cells being unique. Returns
    * `(q_id, q_emb, cell[, qc])`.
    */
  private def probeCells(q: DataFrame, centArr: DataFrame, nprobe: Int,
      qc: Boolean): DataFrame = {
    val fields = (c: Column) => Seq(
        (-cosine(col("q_emb"), c.getField("cvec"))).as("neg_cos"),
        c.getField("cell").as("cell")) ++
      (if (qc) Seq(ddot(col("q_emb"), c.getField("cvec")).as("qc")) else Nil)
    q.crossJoin(broadcast(centArr))
      .select(col("q_id"), col("q_emb"),
        explode(slice(array_sort(transform(col("cents"), c =>
          struct(fields(c): _*))), 1, nprobe)).as("pc"))
      .select(col("q_id"), col("q_emb"), col("pc.*"))
      .drop("neg_cos")
  }

  /** IVF ANN end-to-end: build centroids ([[ivfCentroids]]), index the
    * corpus by nearest cell, probe the [[IvfNprobe]] closest cells per
    * query (vec_id < [[SearchNQ]]), exact-cosine rerank to [[AnnTopK]].
    */
  def ivfAnn(e: DataFrame): DataFrame = {
    val centArr = ivfCentroids(e)
    // index: per-row assignment of the corpus to its final centroid.
    // localCheckpoint (not persist): eager, and the ContextCleaner reclaims
    // it when the frame goes out of scope — the house pattern from d03/d08
    // (a bare persist leaks until session shutdown).
    val index = e.crossJoin(broadcast(centArr))
      .select(col("vec_id"), col("embedding"),
        nearestCell(col("cents"), col("embedding")).as("cell"))
      .localCheckpoint(true)
    rerankTopK(probeCells(annQueries(e, SearchNQ), centArr, IvfNprobe, qc = false)
      .join(index, "cell")
      .filter(col("vec_id") =!= col("q_id")), AnnTopK)
  }

  /** IVF-PQ quantizer training: coarse centroids ([[ivfCentroids]]) + the
    * PQ codebook row ([[pqCodebooks]]) the encode pass consumes. Split out
    * so [[ivfPqAnn]] (train = encode corpus) and [[ivfPqIndexAppend]]
    * (train frozen on the BASE, encode also the append batch) share one
    * training definition.
    */
  private[graft] def ivfPqQuantizers(trainE: DataFrame): (DataFrame, DataFrame) =
    (ivfCentroids(trainE), pqCodebooks(trainE))

  /** The IVF-PQ encode pass: one map-side sweep stamping each vector with
    * its coarse cell and m PQ codes against ALREADY-TRAINED quantizers.
    * ONE definition for the s18 full build, the s20 base/delta append
    * passes, and the streaming ingest twin ([[graft.streaming.Streams]]
    * annIndexEncode) — which is why the 1-row quantizer frames attach via
    * broadcast EQUI-joins on a literal key rather than crossJoin: the
    * semantics are identical for batch, and stream-static equi-joins are
    * supported where stream crossJoins are not. No shuffle, no state:
    * encoding cost is proportional to the batch, never to the standing
    * index — the property that makes appends cheap at 100 TB.
    */
  private[graft] def ivfPqEncode(e: DataFrame, centArr: DataFrame,
      cbRow: DataFrame): DataFrame =
    e.withColumn("_j", lit(1))
      .join(broadcast(centArr.withColumn("_j", lit(1))), "_j")
      .join(broadcast(cbRow.withColumn("_j", lit(1))), "_j")
      .select(col("vec_id"),
        nearestCell(col("cents"), col("embedding")).as("cell"),
        pqCodes(col("embedding")))

  /** Composed IVF-PQ ANN — the production FAISS index shape (r15 VERDICT
    * item 4): route each query to its [[IvfNprobe]] nearest IVF cells
    * ([[ivfCentroids]], the s04 coarse quantizer), ADC-score with the PQ
    * lookup table ([[pqCodebooks]], the s08 compressed codes) ONLY the
    * vectors indexed in those cells, then exact-cosine rerank the
    * shortlist. At 100 TB a query touches |corpus|·nprobe/k COMPRESSED
    * rows (m bytes each) instead of the whole float corpus — the two
    * operators' scale stories multiplied.
    *
    * Composition law (SimilaritySpec, via [[ivfPqServe]]'s `nprobe`):
    * with nprobe = [[IvfK]] this degenerates
    * to EXACTLY s08's flat ADC ranking — the cell routing only ever
    * restricts the candidate set, never changes a score. Index build is
    * ONE corpus pass computing cell + PQ codes together (both
    * quantizers are broadcast); candidates join on `cell` (each vector
    * lives in exactly one cell, so no candidate dedup is needed); the
    * shortlist is the bounded TopK.perKey partial top-k.
    */
  def ivfPqAnn(e: DataFrame, trainPred: Option[Column] = None): DataFrame = {
    // trainPred bounds QUANTIZER TRAINING to a sample (t20b's sampled-
    // training pattern — and FAISS's own recommendation: ~O(k) training
    // points suffice); encode/route/serve stay corpus-wide and
    // structurally identical. The oracle-gated contract trains full
    // (trainPred = None); s18b runs the sampled deployment.
    val trainE = trainPred.map(e.filter).getOrElse(e)
    val (centArr, cbRow) = ivfPqQuantizers(trainE)
    // ONE pass over the corpus: coarse cell + m PQ codes per vector —
    // the narrow index rows (vec_id, cell, m codes) are all that any
    // downstream stage touches until the final rerank
    val index = ivfPqEncode(e, centArr, cbRow).localCheckpoint(true)
    ivfPqServe(e, index, centArr, cbRow, residual = false)
  }

  /** The IVF-PQ serve path over a built `index(vec_id, cell, codes)`:
    * per-query LUT ([[pqLut]]) + nprobe cell routing ([[probeCells]]) +
    * ADC scoring, bounded shortlist and exact-cosine rerank ([[adcTopK]]).
    * Shared by [[ivfPqAnn]], [[ivfPqIndexAppend]] and
    * [[ivfPqResidualAnn]] — the append op must serve through the SAME
    * path as the full build or its equivalence row proves nothing. A
    * `residual` index seeds each score at its probe's qc. `nprobe` is
    * settable for SimilaritySpec's s18 composition law (nprobe = [[IvfK]]
    * reproduces flat ADC); every row probes [[IvfNprobe]] cells.
    */
  private[graft] def ivfPqServe(e: DataFrame, index: DataFrame,
      centArr: DataFrame, cbRow: DataFrame, residual: Boolean,
      nprobe: Int = IvfNprobe): DataFrame = {
    val q = annQueries(e, AnnNQ)
    val cands = probeCells(q, centArr, nprobe, qc = residual).drop("q_emb")
      .join(index, "cell")
      .filter(col("vec_id") =!= col("q_id"))
      .join(broadcast(pqLut(q, cbRow)), "q_id")
    adcTopK(e, cands, if (residual) col("qc") else lit(0.0))
  }

  /** Incremental ANN index maintenance (r16 VERDICT item 3): a standing
    * IVF-PQ index absorbs an APPEND batch without retraining or
    * re-encoding the base. Quantizers are trained on the BASE corpus
    * only and FROZEN (the real-world constraint: a 100 TB store can't
    * retrain per append — FAISS's `add()` contract); the base index is
    * built once (checkpointed, simulating the persisted artifact); the
    * append batch is encoded against the frozen quantizers in one
    * map-side pass ([[ivfPqEncode]] — cost proportional to the BATCH,
    * never the standing index); the merged index is the flat union of
    * postings (a vector lives in exactly one cell, so merge is
    * concatenation — no rebucketing). Serving reads the merged index
    * through the unchanged [[ivfPqServe]] path.
    *
    * The oracle is the FULL-REBUILD SQL — train on base, encode
    * EVERYTHING in one pass — so a green row proves
    * `encode(base) ∪ encode(delta) ≡ encode(base ∪ delta)` under frozen
    * quantizers: the d10/p15 incremental-equivalence pattern, here a
    * theorem of per-row encoding. The streaming twin
    * ([[graft.streaming.Streams]] annIndexEncode) runs the identical
    * encode pass over the ingest stream; StreamingSpec pins parity.
    */
  def ivfPqIndexAppend(e: DataFrame,
      deletes: Option[DataFrame] = None): DataFrame = {
    val cut = Pipeline.appendCutoff(e, "vec_id")
    val base = e.filter(col("vec_id") <= cut)
    val delta = e.filter(col("vec_id") > cut)
    val (centArr, cbRow) = ivfPqQuantizers(base)
    // the persisted artifacts: base index checkpointed once; the delta
    // encode stays lazy — it is the per-append work
    val baseIdx = ivfPqEncode(base, centArr, cbRow).localCheckpoint(true)
    val merged = baseIdx.union(ivfPqEncode(delta, centArr, cbRow))
    // tombstone deletion (s20b — FAISS remove_ids semantics): the
    // delete list is a RELATION anti-joined against the postings;
    // quantizers stay frozen, nothing re-encodes, and the per-delete
    // cost is one broadcast anti-join over the narrow index rows. The
    // s20b oracle proves delete ≡ rebuild-encode-over-survivors.
    val live = deletes.map(dl =>
        merged.join(broadcast(dl.select("vec_id")), Seq("vec_id"), "left_anti"))
      .getOrElse(merged)
    ivfPqServe(e, live, centArr, cbRow, residual = false)
  }

  /** Residual IVF-PQ ANN — the ACTUAL FAISS `IVFPQ` encoding (s18 is
    * `IVF,PQ` on raw vectors): each vector is PQ-encoded as its RESIDUAL
    * r = x − c(x) against its assigned coarse centroid. Residuals
    * concentrate near the origin (the coarse quantizer absorbed the
    * between-cell variance), so the same m×ksub code budget spends its
    * resolution on a much smaller ball — the reconstruction and
    * therefore the ADC approximation is strictly finer at equal bytes
    * (SimilaritySpec measures it: mean |adc − exact dot| below s18's).
    *
    * ADC with residuals under an inner-product score decomposes exactly:
    * dot(q, c + r̂) = dot(q, c) + dot(q, r̂) — so the score is the
    * per-(query, probed-cell) scalar `qc = dot(q, c)` (computed at probe
    * time, nprobe scalars per query) plus the SAME m LUT lookups as
    * s18, with the LUT built from RAW query subvectors against the
    * RESIDUAL codebooks. The fold seeds at qc so both engines sum
    * (((qc + l0) + l1) + l2) + l3 in lockstep.
    */
  def ivfPqResidualAnn(e: DataFrame,
      trainPred: Option[Column] = None): DataFrame = {
    // sampled quantizer training (the ivfPqAnn knob): centroids fit on
    // the sample; the residual codebooks fit on the SAMPLE's residuals
    // (sliced from the corpus-wide assignment frame, which encoding
    // needs anyway). Contract trains full (None).
    val centArr = ivfCentroids(trainPred.map(e.filter).getOrElse(e))
    // assignment keeping BOTH the cell id and its centroid vector (the
    // struct-argmax tiebreak never reaches cvec — cell is unique)
    val assigned = e.crossJoin(broadcast(centArr))
      .select(col("vec_id"), col("embedding"),
        array_max(transform(col("cents"), c =>
          struct(
            cosine(col("embedding"), c.getField("cvec")).as("cos"),
            (-c.getField("cell")).as("neg_cell"),
            c.getField("cell").as("cell"),
            c.getField("cvec").as("cvec")))).as("best"))
      .select(col("vec_id"), col("embedding"),
        col("best.cell").as("cell"),
        zip_with(col("embedding"), col("best.cvec"),
          (x, c) => x.cast(DoubleType) - c).as("residual"))
      .localCheckpoint(true)
    val resFrame = assigned.select(col("vec_id"),
      col("residual").as("embedding"))
    val cbRow = pqCodebooks(trainPred.map(resFrame.filter).getOrElse(resFrame))
    val index = assigned.crossJoin(broadcast(cbRow))
      .select(col("vec_id"), col("cell"), pqCodes(col("residual")))
      .localCheckpoint(true)
    ivfPqServe(e, index, centArr, cbRow, residual = true)
  }

  // ---- DuckDB replicas of the sign-LSH pipeline (oracles for s02/s03) ----

  /** All `nBits` signed projections for table column `tbl` — mirrors
    * [[lshProjs]]: per bit j, Σ over dims of v·(±1) where the sign is the
    * low bit of fmix64 of the packed (dim, bit, table) index
    * ([[graft.engine.DuckHash.mix64]] replicates the finalizer in HUGEINT
    * arithmetic bit-exactly).
    */
  /** Hyperplane sign matrix as a CTE: one row per table, `sgns` = list of
    * `nBits` lists of 64 ±1.0 doubles. The mix64 sign depends ONLY on
    * (tbl, bit, dim) — ≤ 4·16·64 = 4096 values — but the previous oracle
    * text re-derived it per CORPUS ROW through the ~72×-expanded HUGEINT
    * chain, which made the s02/s03/s06/s10/s11/s13 DuckDB replicas the
    * wall-clock of the whole driver gate (s13 alone 103 s at sf0.01; the
    * r8–r10 CORRECTNESS harvests plausibly died on exactly this). Sign
    * values and the per-row multiply-sum order are unchanged, so every
    * projection double is bit-identical to the inline form.
    */
  private def duckHypCte(nBits: Int): String =
    s"""hyp AS MATERIALIZED (
       |  SELECT tbl,
       |    list_transform(range(0, $nBits), j ->
       |      list_transform(range(0, 64), d ->
       |        CASE WHEN ${graft.engine.DuckHash.mix64(
                  "CAST(d + 64 * j + 1024 * tbl AS HUGEINT)")} % 2 = 0
       |             THEN CAST(1.0 AS DOUBLE)
       |             ELSE CAST(-1.0 AS DOUBLE) END)) AS sgns
       |  FROM (SELECT unnest(range(0, $LshTables)) AS tbl))""".stripMargin

  /** Mirrors [[lshProj]] against the `sgns` column of [[duckHypCte]]:
    * per-dim double multiply + left-to-right list_sum, the same float
    * evaluation order as the Spark kernel.
    */
  private def duckProjs(vec: String): String =
    s"""list_transform(sgns, sgn ->
       |      list_sum(list_transform(list_zip($vec, sgn), p ->
       |        CAST(p[1] AS DOUBLE) * p[2])))""".stripMargin

  /** Mirrors [[codeOf]]: bit j set iff projs[j] > 0. */
  private def duckCode(projs: String, nBits: Int): String =
    s"""CAST(list_sum(list_transform(range(0, $nBits), j ->
       |      CASE WHEN ($projs)[j+1] > 0 THEN 1 << j ELSE 0 END)) AS BIGINT)""".stripMargin

  /** Mirrors [[probeCodeOf]]: flip the rank-th-lowest-|projection| bit.
    * Ties degrade identically on both engines: `list_position` finds the
    * first occurrence of the rank-th-smallest |projection|, so equal
    * magnitudes collapse to a duplicate probe code (harmless — candidates
    * are DISTINCT'd) rather than diverging between Spark and DuckDB.
    */
  private def duckProbe(projs: String, nBits: Int, rank: Int): String =
    s"""xor(${duckCode(projs, nBits)},
       |    CAST(2 ** (list_position(list_transform($projs, p -> abs(p)),
       |      list_sort(list_transform($projs, p -> abs(p)))[$rank]) - 1) AS BIGINT))""".stripMargin

  /** Replica of [[probeCode12Of]]: XOR the rank-1 and rank-2 flips onto
    * the primary; a value tie makes both list_positions resolve to the
    * same first occurrence and the double XOR cancels — identically to
    * the Spark side.
    */
  private def duckProbe12(projs: String, nBits: Int): String =
    s"""xor(${duckProbe(projs, nBits, 1)},
       |    CAST(2 ** (list_position(list_transform($projs, p -> abs(p)),
       |      list_sort(list_transform($projs, p -> abs(p)))[2]) - 1) AS BIGINT))""".stripMargin

  /** Sign-random-projection bucket code: `nBits` hyperplanes whose ±1
    * weights come from a deterministic integer mix of (table, bit, dim).
    * Pure column expressions — codegen'd, no UDF.
    */
  def lshCode(vec: Column, table: Int, nBits: Int): Column = {
    val bits = (0 until nBits).map { j =>
      when(lshProj(vec, table, j) > 0, 1 << j).otherwise(0)
    }
    bits.reduce(_ + _)
  }

  /** Signed projection of `vec` onto hyperplane (table, bit).
    *
    * The ±1 weight is the LOW BIT OF fmix64 of the packed (dim, bit, table)
    * index ([[graft.functions.Mix64]], full codegen). A full-avalanche
    * finalizer, not a single multiply, is load-bearing: the weight history
    * here is two collapses. (r1–r3) parity of `x · odd` is linear in x —
    * every hyperplane of a table equal up to sign, LSH degenerates to 2
    * buckets. (r4–r5) bit 16 of the Knuth multiply fixed full-table
    * collapse but leaves PAIRWISE correlation between adjacent hyperplanes
    * (x and x+64 differ by a constant, so their product's bit 16 flips
    * with probability ≈ (64c mod 2¹⁷)/2¹⁷, far from ½) — harmless at ≤ 8
    * bits/table, but at 16 bits/table correlated sign patterns concentrate
    * iid-random vectors into mega-buckets (measured at 1M vectors: 90k
    * spurious candidates per 20k vectors, and the hot-bucket cap then
    * drops planted pairs with them). fmix64's avalanche makes every weight
    * bit depend on every index bit — hyperplanes become independent at any
    * supported nBits.
    */
  private def lshProj(vec: Column, table: Int, j: Int): Column = {
    // the (dim, bit, table) → x packing below is x = i + 64·j + 1024·table
    // with i < 64: injective only while 64·j < 1024, i.e. ≤ 16 bits per
    // table. Past that, hyperplane (table, j) aliases (table+1, j−16).
    require(j >= 0 && j < 16, s"sign-LSH supports at most 16 bits/table (got bit $j)")
    require(table >= 0 && table < (1 << 20), s"table index out of range: $table")
    aggregate(
      zip_with(vec, sequence(lit(0), lit(63)), (v, i) => {
        val h = ghash.mix64(i.cast("long") + lit(64L * j + 1024L * table))
        v.cast(DoubleType) * when(pmod(h, lit(2)) === 0, 1.0).otherwise(-1.0)
      }),
      lit(0.0),
      (acc, x) => acc + x)
  }

  /** All `nBits` projections for one table as an array column. */
  def lshProjs(vec: Column, table: Int, nBits: Int): Column =
    array((0 until nBits).map(j => lshProj(vec, table, j)): _*)

  /** Bits-per-table sized to the corpus: the smallest b in [4, 16] with
    * `16 · 2^b >= n`, i.e. expected bucket occupancy ≤ 16 under uniform
    * codes. Integer arithmetic only — a float log2 could round
    * differently from the oracle's replica at exact powers of two.
    * This is the s10b deployment rule: candidate volume per query stays
    * O(16 · probes) as the corpus grows, instead of growing
    * linearly with n at a pinned code width.
    */
  def scaledBits(n: Long): Int =
    (4 to 16).find(b => (16L << b) >= n).getOrElse(16)

  /** Code from a materialized projection array. */
  def codeOf(projs: Column, nBits: Int): Column =
    (0 until nBits)
      .map(j => when(element_at(projs, j + 1) > 0, 1 << j).otherwise(0))
      .reduce(_ + _)

  /** Multi-probe code: flip the bit whose projection magnitude is the
    * `rank`-th smallest — the hyperplanes the vector is closest to are the
    * flips a near-neighbor is most likely to differ in. rank=1 is the
    * classic single probe; probing rank 1 and 2 widens each query to the 3
    * most likely buckets per table at zero extra index size. Tie-break
    * matches the DuckDB oracle: first occurrence of the rank-th value.
    */
  def probeCodeOf(projs: Column, nBits: Int, rank: Int): Column = {
    val absArr = transform(projs, p => abs(p))
    val idx = array_position(absArr, element_at(array_sort(absArr), rank)) // 1-based
    codeOf(projs, nBits)
      .bitwiseXOR(pow(lit(2.0), (idx - 1).cast(DoubleType)).cast("int"))
  }

  /** Combined multi-probe code: flip the rank-1 AND rank-2 lowest-margin
    * bits TOGETHER (the {1,2} perturbation set of classic multi-probe LSH,
    * Lv et al. 2007) — the cheapest probe that catches 2-bit
    * disagreements, which single-bit probes provably cannot (measured:
    * the post-T=4 recall plateau in SimilaritySpec's d23 test is entirely
    * ≥2-bit misses). Under a rank-1/rank-2 VALUE tie both positions
    * resolve to the same first occurrence and the double XOR cancels back
    * to the primary code — a harmless duplicate the caller's
    * array_distinct removes; the DuckDB replica cancels identically.
    */
  def probeCode12Of(projs: Column, nBits: Int): Column = {
    val absArr = transform(projs, p => abs(p))
    val sorted = array_sort(absArr)
    val i1 = array_position(absArr, element_at(sorted, 1))
    val i2 = array_position(absArr, element_at(sorted, 2))
    codeOf(projs, nBits)
      .bitwiseXOR(pow(lit(2.0), (i1 - 1).cast(DoubleType)).cast("int"))
      .bitwiseXOR(pow(lit(2.0), (i2 - 1).cast(DoubleType)).cast("int"))
  }

  /** Sign-LSH candidates `(q_id, vec_id)`: index every corpus vector under
    * its primary code per table; rows matching `queryPred` (a predicate
    * over `vec_id`) are the query set and probe their primary code plus
    * the two lowest-margin flips per table (multi-probe T=2).
    *
    * Scale shape: the index is a NARROW (tbl, code, vec_id) table — the
    * 64-float embeddings never enter the bucket shuffle (the r5 shape
    * carried them through every (vector, table) row, 4× vector duplication);
    * callers re-attach them once per confirmed candidate, the d03 pattern.
    * And the index is BOUNDED: one min-`cap` aggregation ([[graft.functions
    * .BoundedCollect]], ≤ cap ids of state per key at every point of the
    * partial/final lifecycle) truncates each bucket to its `cap` smallest
    * vec_ids, so one degenerate code (a boilerplate-doc embedding cluster)
    * costs a probing query at most `cap` candidates instead of degrading
    * the query to a corpus scan. Truncation (vs s03's drop-whole-bucket) is
    * the right guard for SEARCH: the bucket stays probe-able, recall inside
    * it degrades gracefully, and the kept-ids rule (cap smallest) is
    * deterministic so the DuckDB oracle replicates it exactly.
    */
  private def lshCandidates(corpus: DataFrame, queryPred: Column,
      nBits: Int, cap: Int): DataFrame = {
    // one row per (vector, table); code and probe codes derived from the
    // SAME materialized projection array. Eager local checkpoint, not
    // persist: index + query sides are independent stages AQE submits
    // concurrently (the d03 lesson), and nothing leaks past the call.
    val codes = corpus.select(
      col("vec_id"),
      posexplode(array((0 until LshTables).map(t =>
        lshProjs(col("embedding"), t, nBits)): _*)).as(Seq("tbl", "projs")))
      .select(col("vec_id"), col("tbl"),
        codeOf(col("projs"), nBits).as("code"),
        probeCodeOf(col("projs"), nBits, 1).as("probe"),
        probeCodeOf(col("projs"), nBits, 2).as("probe2"))
      .localCheckpoint(true)
    val index = codes.groupBy("tbl", "code")
      .agg(graft.functions.BoundedCollect.minK(col("vec_id"), cap).as("ids"))
      .select(col("tbl"), col("code"), explode(col("ids")).as("vec_id"))
    val qcodes = codes.filter(queryPred)
      .select(col("tbl"),
        explode(array(col("code"), col("probe"), col("probe2"))).as("code"),
        col("vec_id").as("q_id"))
    index.join(qcodes, Seq("tbl", "code"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"))
      .distinct()
  }

  /** Exact-cosine top-`k` per query over `cands(q_id, q_emb, vec_id,
    * embedding)`, ties to the smaller vec_id: the rerank of s02, s04 and
    * the kNN graph.
    */
  private def rerankTopK(cands: DataFrame, k: Int): DataFrame =
    cands
      .withColumn("cos", cosine(col("q_emb"), col("embedding")))
      .withColumn("rank",
        row_number().over(
          Window.partitionBy("q_id").orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("vec_id").as("neighbor_id"), col("rank"), col("cos"))
      .orderBy("q_id", "rank")

  /** Sign-LSH approximate top-k ([[lshCandidates]] for the vec_id <
    * [[SearchNQ]] queries, then an exact cosine rerank over candidates
    * only) — at 100 TB the bucket join touches |corpus|·(buckets
    * probed)/2^nBits vectors instead of all of them. `k` and `cap` are
    * settable for SimilaritySpec: its k = corpus-size sweep reads the
    * candidate set, and its cap = 50 plant pins the bucket guard.
    */
  def lshAnn(corpus: DataFrame, k: Int, cap: Int = LshCap): DataFrame = {
    val queryPred = col("vec_id") < SearchNQ
    // embeddings attach per candidate: query side is tiny → broadcast;
    // corpus side is one shuffle of (vec_id → embedding) against the
    // candidate list, each vector moving once
    rerankTopK(lshCandidates(corpus, queryPred, LshBits, cap)
      .join(broadcast(corpus.filter(queryPred)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))), "q_id")
      .join(corpus.select(col("vec_id"), col("embedding")), "vec_id"), k)
  }

  /** kNN GRAPH — [[lshAnn]] with every vector as a query (the structure
    * SemDeDup-style semantic clustering, kNN-graph community detection,
    * and recall audits all consume). Two deltas from lshAnn's shape, both
    * load-bearing at graph scale: the query side is the whole corpus, so
    * (a) nothing is broadcast — both embedding attaches are vec_id-keyed
    * shuffle joins where each vector moves once per confirmed candidate
    * (the d03 re-attach pattern), and (b) the candidate volume is bounded
    * by the SAME capped bucket index (≤ cap ids per (tbl, code)), so the
    * graph build is O(|corpus| · probes · occupancy), never quadratic.
    */
  def knnGraph(corpus: DataFrame, nBits: Int, k: Int): DataFrame =
    // DECISION RECORD (r10, measured): the serve cut stays a row_number
    // window, NOT plans/TopKPerKey. At the 1M probe (dev/scaleprobe_r10.jsonl,
    // identical corpus/params), the TopKPerKey variant ran 424 s vs 44 s
    // for this shape — in an ALL-queries build the bucket cap leaves only
    // ~tens of candidates per q_id, so a 32-task run sees ≈1 row per
    // (task, key): partial heaps reduce nothing while paying per-key map
    // state for ~|corpus| keys per task (the variant also OOMed an 8 GiB
    // driver). The window here is not a full per-partition sort anyway:
    // Spark plans rank<=k filters as WindowGroupLimit (partial map-side
    // group limit before the exchange + final limit after), i.e. the
    // bounded streaming cut TopKPerKey would hand-roll — gated in
    // PlanSpec. s08 keeps TopKPerKey, where per-task rows-per-key ≫ k
    // (corpus-wide scoring against a broadcast shortlist) makes the
    // partial phase genuinely reductive.
    rerankTopK(lshCandidates(corpus, lit(true), nBits, LshCap)
      .join(corpus.select(col("vec_id").as("q_id"), col("embedding").as("q_emb")), "q_id")
      .join(corpus.select(col("vec_id"), col("embedding")), "vec_id"), k)

  /** Embedding near-dup pairs over an arbitrary (vec_id, embedding) corpus:
    * sign-LSH codes per table index the corpus; candidate pairs come from
    * the SAME bounded hot-bucket guard as d03/d04
    * ([[Dedup.bucketCandidates]] — ≤ cap+1 ids of per-key state, buckets
    * above cap dropped whole), so one degenerate code (a cluster of
    * near-identical embeddings, the boilerplate-doc case of vector space)
    * can never turn candidate generation quadratic. Embeddings move only
    * per confirmed candidate — the bucket shuffle carries (tbl, code,
    * vec_id), never the 64-float vectors. Pairs clear [[DupThreshold]].
    */
  def nearDupPairs(corpus: DataFrame): DataFrame = {
    val coded = corpus.select(
      col("vec_id").as("doc_id"),
      posexplode(array((0 until LshTables).map(t =>
        lshCode(col("embedding"), t, DupBits)): _*)).as(Seq("tbl", "code")))
    val candidates = Dedup.bucketCandidates(coded, Seq("tbl", "code"), DupCap)
    candidates
      .join(corpus.select(col("vec_id").as("a_id"), col("embedding").as("a_emb")), "a_id")
      .join(corpus.select(col("vec_id").as("b_id"), col("embedding").as("b_emb")), "b_id")
      .withColumn("cos", cosine(col("a_emb"), col("b_emb")))
      .filter(col("cos") >= DupThreshold)
      .select(col("a_id"), col("b_id"), col("cos"))
      .orderBy("a_id", "b_id")
  }

  /** The s03 corpus: embeddings ∪ planted perturbed copies (id+1M,
    * v·0.98 + 0.01 per element — cos ≈ 0.9999 to the original), then
    * [[nearDupPairs]].
    */
  /** embeddings ∪ planted perturbed copies in ONE scan (the
    * Dedup.plantedCorpus explode pattern — the 2-branch union read the
    * embeddings twice, and nearDupPairs attaches this corpus three times).
    */
  def perturbedCorpus(e: DataFrame): DataFrame = {
    val self = struct(col("vec_id"), col("embedding"))
    val copy = struct((col("vec_id") + 1000000L).as("vec_id"),
      transform(col("embedding"),
        v => (v.cast(DoubleType) * 0.98 + 0.01).cast("float")).as("embedding"))
    e.select(col("vec_id"), col("embedding"))
      .select(explode(when(col("vec_id") % 10 === 0,
        array(self, copy)).otherwise(array(self))).as("r"))
      .select(col("r.vec_id").as("vec_id"), col("r.embedding").as("embedding"))
  }

  def embeddingNearDup(e: DataFrame): DataFrame =
    nearDupPairs(perturbedCorpus(e))

  /** d23's engine — CROSS-corpus embedding near-dup (semantic
    * decontamination): given a corpus tagged `is_new` (false = train,
    * true = benchmark), emit every (train, bench) pair whose exact cosine
    * clears `threshold`, with candidates from the same sign-LSH banding +
    * bounded hot-bucket guard as s03 — but restricted ROW-LOCALLY to
    * pairs touching a benchmark vector via
    * [[Dedup.bucketCandidatesIncremental]] (the d10/d20 incremental
    * contract): train×train pairs are discarded inside the explode,
    * before anything shuffles, so the cost scales with the BENCHMARK,
    * never train². Embeddings move only per surviving candidate; the
    * bucket shuffle carries (tbl, code, tagged id) only. Same-side
    * benchmark pairs are dropped by the flag inequality after the
    * re-attach.
    */
  def crossCorpusEmbeddingNearDup(corpus: DataFrame, nTables: Int,
      nBits: Int, cap: Int, threshold: Double,
      benchProbes: Int = 0): DataFrame = {
    // benchProbes > 0 = BENCHMARK-SIDE multi-probe (s02's T-probe trick,
    // r14 verdict ask #2): bench vectors additionally probe the codes
    // with their `benchProbes` lowest-margin bits flipped — the flips a
    // paraphrase-drifted original is most likely to differ in. The
    // recall lever costs ONLY bench-side rows (|bench|·probes extra
    // bucket entries): the train side still indexes under its primary
    // code alone, so train-side cost is unchanged at any corpus size.
    // Probe codes derive from the SAME materialized projection array as
    // the primary (the r13 lambda-materialization rule); array_distinct
    // keeps bucket occupancy counts well-defined when a probe ties.
    val proj = corpus.select(
      col("vec_id").as("doc_id"), col("is_new"),
      posexplode(array((0 until nTables).map(t =>
        lshProjs(col("embedding"), t, nBits)): _*)).as(Seq("tbl", "projs")))
    val primary = codeOf(col("projs"), nBits)
    val codes =
      if (benchProbes <= 0) array(primary)
      else {
        // probe set: the primary, `benchProbes` single-bit lowest-margin
        // flips, and — from T=2 up — the {1,2} pair flip (the only way
        // to reach a 2-bit disagreement; single-bit probes plateau)
        val probes =
          (1 to benchProbes).map(r => probeCodeOf(col("projs"), nBits, r)) ++
            (if (benchProbes >= 2)
               Seq(probeCode12Of(col("projs"), nBits)) else Nil)
        when(col("is_new"), array_distinct(array(primary +: probes: _*)))
          .otherwise(array(primary))
      }
    val coded = proj.select(col("doc_id"), col("is_new"), col("tbl"),
      explode(codes).as("code"))
    val cand = Dedup.bucketCandidatesIncremental(coded, Seq("tbl", "code"), cap)
    cand
      .join(corpus.select(col("vec_id").as("a_id"),
        col("embedding").as("a_emb"), col("is_new").as("a_new")), "a_id")
      .join(corpus.select(col("vec_id").as("b_id"),
        col("embedding").as("b_emb"), col("is_new").as("b_new")), "b_id")
      .filter(col("a_new") =!= col("b_new"))
      .withColumn("cos", cosine(col("a_emb"), col("b_emb")))
      .filter(col("cos") >= threshold)
      .select(
        when(col("a_new"), col("b_id")).otherwise(col("a_id")).as("train_id"),
        when(col("a_new"), col("a_id")).otherwise(col("b_id")).as("bench_id"),
        col("cos"))
  }

  /** d23's planted corpus: embeddings ∪ a benchmark side (every 23rd
    * vector — d20's rhythm — re-embedded through the deterministic
    * "paraphrase" drift v·0.95 + 0.02, id +5M) built in ONE scan via the
    * explode pattern.
    */
  def decontamCorpus(e: DataFrame): DataFrame = {
    val self = struct(col("vec_id"), col("embedding"), lit(false).as("is_new"))
    val bench = struct((col("vec_id") + 5000000L).as("vec_id"),
      transform(col("embedding"),
        v => (v.cast(DoubleType) * 0.95 + 0.02).cast("float")).as("embedding"),
      lit(true).as("is_new"))
    e.select(col("vec_id"), col("embedding"))
      .select(explode(when(col("vec_id") % 23 === 0,
        array(self, bench)).otherwise(array(self))).as("r"))
      .select(col("r.vec_id").as("vec_id"),
        col("r.embedding").as("embedding"), col("r.is_new").as("is_new"))
  }

  // ---- s14: PCA projection ------------------------------------------
  // Shared constants (engine default AND oracle builder — hoisted per the
  // r14 lazy-val lesson so the two sides cannot drift).
  private[graft] val S14Dim = 64
  private[graft] val S14K = 4
  private[graft] val S14Rounds = 24

  /** Quantize a double at decimal scale 10, exactly as Spark's
    * double→DECIMAL(38,10) cast (shortest-string, HALF_UP) and DuckDB's
    * VARCHAR-hopped cast do — the driver-side leg of the [[graft.engine.Exact]]
    * mechanism, so eigen math done on the driver reproduces the oracle's
    * CTE arithmetic bit-for-bit.
    */
  private def decQ(d: Double): java.math.BigDecimal =
    java.math.BigDecimal.valueOf(d).setScale(10, java.math.RoundingMode.HALF_UP)

  /** Partitioning-invariant decimal-exact sum of already-computed double
    * terms; mirrors Exact.dsum / Exact.sqlSumNarrow at scale 10.
    */
  private def decSum(ts: Iterable[Double]): Double =
    ts.foldLeft(java.math.BigDecimal.ZERO)((a, t) => a.add(decQ(t))).doubleValue

  /** s14's fit: per-dim mean and covariance (both decimal-exact Spark
    * aggregations — a 2-pass fit, the canonical PCA dataflow), then top-`k`
    * eigenpairs by POWER ITERATION with deflation on the collected 64×64
    * matrix. The collects are bounded by construction (64 and 64² values —
    * the BPE-argmax precedent), never corpus-sized. Every driver-side
    * operation (multiply, subtract, divide, sqrt = IEEE exactly rounded;
    * sums = [[decSum]]) matches the oracle's unrolled CTE chain term for
    * term, so the eigenvectors — and therefore the projections — are
    * bit-identical cross-engine (the t20 unrolled-rounds pattern applied
    * to eigendecomposition).
    *
    * Start vector is the constant 1/8 = 1/√64 (exactly representable);
    * [[S14Rounds]] is FIXED — parity needs identical arithmetic, not
    * convergence tests. Sign convention: flip so the largest-|component|
    * coordinate (ties → smallest index) is positive. Deflation uses the
    * UNFLIPPED vector (vvᵀ is sign-invariant) — the oracle does the same.
    */
  private[graft] def pcaFit(
      e: DataFrame): (Array[Double], Array[Array[Double]], Array[Double]) = {
    val xv = e.select(col("vec_id"),
      posexplode(col("embedding").cast("array<double>")).as(Seq("i", "v")))
    val muRows = xv.groupBy("i")
      .agg((graft.engine.Exact.dsum(col("v")) /
        count(lit(1)).cast(DoubleType)).as("mu"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val mu = Array.tabulate(S14Dim)(muRows)
    val muLit = array(mu.map(lit(_)): _*)
    // centered frame built map-side from the scan (no mean join needed —
    // mu is a literal); the self-join on vec_id expands to n·d² product
    // rows which partial aggregation absorbs to d² per partition.
    val xc = e.select(col("vec_id"),
        posexplode(zip_with(col("embedding").cast("array<double>"), muLit,
          (x, m) => x - m)).as(Seq("i", "xc")))
    val n = lit(e.count().toDouble)
    val cRows = xc.join(xc.select(col("vec_id"),
          col("i").as("j"), col("xc").as("yc")), "vec_id")
      .groupBy("i", "j")
      .agg((graft.engine.Exact.dsum(col("xc") * col("yc")) / n).as("cv"))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    val c = Array.tabulate(S14Dim, S14Dim)((i, j) => cRows((i, j)))
    val (evecs, lambdas) = pcaEigen(c)
    (mu, evecs, lambdas)
  }

  /** The eigen stage shared by the exact (s14) and deployable (s14b)
    * fits: deflated power iteration + one modified Gram-Schmidt pass +
    * Rayleigh quotients on the original matrix + the sign convention.
    * Deterministic given `cIn` (decimal-quantized sums, IEEE-exact
    * everything else); `cIn` is not mutated.
    */
  private[graft] def pcaEigen(
      cIn: Array[Array[Double]]): (Array[Array[Double]], Array[Double]) = {
    val (dim, k) = (S14Dim, S14K)
    val c = Array.tabulate(dim, dim)((i, j) => cIn(i)(j))
    val c0 = Array.tabulate(dim, dim)((i, j) => c(i)(j))
    // phase 1: deflated power iteration — drives each vector toward a
    // DISTINCT leading direction. On a densely-spaced (Marchenko-Pastur-
    // like) spectrum a fixed round count cannot also deliver strict
    // orthogonality, so that is enforced structurally in phase 2.
    val vs = Array.ofDim[Array[Double]](k)
    for (comp <- 0 until k) {
      var v = Array.fill(dim)(0.125)
      for (_ <- 1 to S14Rounds) {
        val w = Array.tabulate(dim)(i => decSum((0 until dim).map(j => c(i)(j) * v(j))))
        val norm = math.sqrt(decSum(w.map(x => x * x)))
        v = w.map(_ / norm)
      }
      val m = Array.tabulate(dim)(i => decSum((0 until dim).map(j => c(i)(j) * v(j))))
      val lam = decSum((0 until dim).map(i => v(i) * m(i)))
      for (i <- 0 until dim; j <- 0 until dim)
        c(i)(j) = c(i)(j) - (lam * v(i)) * v(j)
      vs(comp) = v
    }
    // phase 2: one Gram-Schmidt pass — orthogonality BY CONSTRUCTION
    // (up to the decimal quantization, ~1e-7), spectrum-independent.
    val gs = Array.ofDim[Array[Double]](k)
    for (comp <- 0 until k) {
      var u = vs(comp)
      for (j <- 0 until comp) {
        val d = decSum((0 until dim).map(i => u(i) * gs(j)(i)))
        u = Array.tabulate(dim)(i => u(i) - (d * gs(j)(i)))
      }
      val norm = math.sqrt(decSum(u.map(x => x * x)))
      gs(comp) = u.map(_ / norm)
    }
    // reported λ_k = gᵀ C₀ g, the Rayleigh quotient on the ORIGINAL
    // covariance — definitionally the variance of the data projected on
    // g_k (SimilaritySpec pins projection variance == λ).
    val evecs = Array.ofDim[Array[Double]](k)
    val lambdas = Array.ofDim[Double](k)
    for (comp <- 0 until k) {
      val g = gs(comp)
      val m = Array.tabulate(dim)(i => decSum((0 until dim).map(j => c0(i)(j) * g(j))))
      lambdas(comp) = decSum((0 until dim).map(i => g(i) * m(i)))
      val kmax = (0 until dim).maxBy(i => (math.abs(g(i)), -i))
      evecs(comp) = if (g(kmax) < 0) g.map(x => -x) else g
    }
    (evecs, lambdas)
  }

  /** s14's engine — project every embedding onto the top-k principal
    * components (the standard dimension-reduction step in front of
    * PQ/IVF indexes: Jégou et al.'s OPQ lineage starts from exactly this
    * rotation). Serving is MAP-SIDE: μ and the eigenvectors are literals
    * folded into the scan, each projection a decimal-exact fold over the
    * centered vector (the t13 accumulator shape) — scan-speed at 100 TB.
    * The fit is two corpus passes + the projection pass (PCA's canonical
    * 3-scan dataflow; ScanAudit-whitelisted).
    */
  def pcaProject(e: DataFrame): DataFrame = {
    val (mu, evecs, _) = pcaFit(e)
    pcaProjected(e, mu, evecs)
  }

  /** The shared serving stage: map-side decimal-exact fold projection
    * with μ and the eigenvectors as literals (the t13 accumulator shape).
    */
  private def pcaProjected(e: DataFrame, mu: Array[Double],
      evecs: Array[Array[Double]]): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val accT = DecimalType(27, 10)
    val wT = DecimalType(11, 10)
    val muLit = array(mu.map(lit(_)): _*)
    val xcArr = zip_with(col("embedding").cast("array<double>"), muLit,
      (x, m) => x - m)
    def proj(ev: Array[Double]): Column = {
      val terms = zip_with(xcArr, array(ev.map(lit(_)): _*), (a, b) => a * b)
      aggregate(terms, lit(0).cast(accT),
        (acc, t) => (acc + t.cast(wT)).cast(accT)).cast(DoubleType)
    }
    e.select(col("vec_id") +:
      evecs.zipWithIndex.map { case (ev, i) => proj(ev).as(s"p${i + 1}") }: _*)
      .orderBy("vec_id")
  }

  /** s14b's engine — the DEPLOYABLE PCA twin (the c27 exact/approx
    * pairing): ONE corpus pass through [[graft.functions.GramAgg]]
    * accumulates count, per-dim sums, and upper-triangle raw moments in
    * a single ≈17 KB buffer per map partition (the treeAggregate shape
    * Spark ML's RowMatrix uses), then C = M/n − μμᵀ on the driver and
    * the SAME eigen + serving machinery as s14. At 1M×64f the exact
    * path's n·d² exploded covariance costs 470 s; this pass is
    * scan-speed. fp accumulation is partition-order-dependent ⇒
    * rows-only contract, with subspace quality pinned against the exact
    * path by SimilaritySpec (captured variance on the EXACT covariance,
    * fast basis vs exact basis).
    */
  def pcaProjectFast(e: DataFrame): DataFrame = {
    val dim = S14Dim
    val buf = e.agg(graft.functions.GramAgg.gram(col("embedding"), dim))
      .head().getSeq[Double](0)
    val n = buf(0)
    val mu = Array.tabulate(dim)(i => buf(1 + i) / n)
    val c = Array.ofDim[Double](dim, dim)
    var p = 1 + dim
    for (i <- 0 until dim; j <- i until dim) {
      val v = buf(p) / n - mu(i) * mu(j)
      c(i)(j) = v
      c(j)(i) = v
      p += 1
    }
    val (evecs, _) = pcaEigen(c)
    pcaProjected(e, mu, evecs)
  }

  /** The s11/s17 shared graph stage: s10's capped kNN graph restricted to
    * MUTUAL edges (both endpoints rank each other — the symmetrization
    * that kills hub artifacts), then d08's connected components. Returns
    * (id, label) — one row per vector that belongs to a mutual cluster.
    */
  private[graft] def mutualComponents(e: DataFrame,
      nBits: Int = LshBits): DataFrame = {
    val g = knnGraph(e.select(col("vec_id"), col("embedding")), nBits, k = 3)
    // mutual edge: the unordered pair appears in both directions
    val mutual = g.select(
        least(col("q_id"), col("neighbor_id")).as("a_id"),
        greatest(col("q_id"), col("neighbor_id")).as("b_id"))
      .groupBy("a_id", "b_id").agg(count(lit(1)).as("c"))
      .filter(col("c") === 2)
      .select("a_id", "b_id")
    Dedup.connectedComponents(mutual)
  }

  /** s17's engine — SemDeDup survivors (Abbas et al. 2023): the keep-mask
    * that CONSUMES s11's semantic clusters. Every vector outside a mutual
    * cluster keeps itself; inside a cluster exactly ONE member survives —
    * min vec_id, the d01/d21 survivor convention (deterministic, and at
    * 100 TB it means the keep decision needs no quality join; swapping in
    * a quality-argmax is one max(struct) away, the d21 shape). This is
    * the final artifact a semantic-dedup pipeline actually ships: a
    * per-row keep mask a trainer's reader applies as a filter. The
    * contract default nBits=8 matches s11's oracle; a deployment passes
    * [[scaledBits]] (the s13-vs-s10 precedent — the probe measures that
    * configuration).
    *
    * Scale shape: s11's bounded graph + CC over 16-byte edge rows, one
    * cluster-keyed min, then narrow joins back to the id column — vectors
    * themselves never enter any join.
    */
  def semanticSurvivors(e: DataFrame, nBits: Int = LshBits): DataFrame = {
    val comp = mutualComponents(e, nBits).withColumnRenamed("id", "vec_id")
    val keepers = comp.groupBy("label").agg(min(col("vec_id")).as("keeper"))
    e.select(col("vec_id"))
      .join(comp, Seq("vec_id"), "left")
      .join(keepers, Seq("label"), "left")
      .select(col("vec_id"), col("label").as("cluster"),
        (col("label").isNull || col("vec_id") === col("keeper")).as("keep"))
      .orderBy("vec_id")
  }

  /** s16's engine — int8 scalar quantization (SQ8) of the embedding
    * corpus: per-dimension global [min, max] (one scan, 2·dim mergeable
    * accumulators — NO shuffle of vectors), broadcast into a map-only
    * encode pass `code_i = floor((x_i − mn_i)/(mx_i − mn_i)·255)`. This
    * is the index-compression layer every production vector store ships
    * (FAISS `SQ8`, Lucene/HNSW int8): 4 bytes/dim → 1, so a 100 TB float
    * corpus serves from 25 TB with distance error bounded by half a
    * quantization step per dim — and unlike PQ (s08) it needs no
    * codebook training, making it the default first rung on the
    * compression ladder.
    *
    * Cross-engine exactness: min/max pick existing values (no fp
    * accumulation ⇒ partition-invariant); the encode arithmetic is a
    * fixed IEEE expression evaluated in the same order by both engines;
    * no clamp is needed because GLOBAL bounds make (x−mn)/(mx−mn) ∈
    * [0,1] exactly (IEEE division is monotone), so floor lands in
    * 0..255 with 255 exactly at x = mx. The reconstruction SSE is the
    * [[ddot]]/`list_sum` sequential-fold pairing. Degenerate dims
    * (mx = mn) encode as 0 and reconstruct at mn, contributing 0 error —
    * guarded identically in both engines.
    */
  def sq8Quantize(e: DataFrame, dim: Int = S14Dim): DataFrame = {
    val v = e.select(col("vec_id"),
      transform(col("embedding"), x => x.cast(DoubleType)).as("v"))
    val statAggs = (0 until dim).flatMap(i => Seq(
      min(element_at(col("v"), i + 1)).as(s"mn$i"),
      max(element_at(col("v"), i + 1)).as(s"mx$i")))
    val stats = v.agg(statAggs.head, statAggs.tail: _*)
      .select(
        array((0 until dim).map(i => col(s"mn$i")): _*).as("mns"),
        array((0 until dim).map(i => col(s"mx$i")): _*).as("mxs"))
    val withCodes = v.crossJoin(broadcast(stats))
      .withColumn("codes", transform(col("v"), (x, i) => {
        val mn = element_at(col("mns"), i + 1)
        val mx = element_at(col("mxs"), i + 1)
        when(mx === mn, lit(0L))
          .otherwise(floor((x - mn) / (mx - mn) * 255.0))
      }))
    val sse = aggregate(
      zip_with(col("v"),
        zip_with(col("codes"),
          zip_with(col("mns"), col("mxs"), (a, b) => struct(a.as("mn"), b.as("mx"))),
          (c, s) => struct(c.as("c"), s.getField("mn").as("mn"), s.getField("mx").as("mx"))),
        (x, s) => {
          val deq = s.getField("mn") +
            s.getField("c").cast(DoubleType) / 255.0 *
              (s.getField("mx") - s.getField("mn"))
          (x - deq) * (x - deq)
        }),
      lit(0.0), (acc, x) => acc + x)
    withCodes
      .select(col("vec_id"),
        element_at(col("codes"), 1).as("code_first"),
        element_at(col("codes"), dim).as("code_last"),
        md5(concat_ws(",", transform(col("codes"), _.cast("string"))))
          .as("code_md5"),
        sse.as("sse"),
        (sse / dim.toDouble).as("mse"))
      .orderBy("vec_id")
  }

  /** s16's oracle — the same per-dim bounds (dim explicit MIN/MAX pairs,
    * packed into list literals) and the same fixed-order encode/SSE
    * expressions via list_zip/list_sum.
    */
  private def sq8OracleSql(dim: Int): String = {
    val mins = (1 to dim).map(i => s"MIN(v[$i])").mkString(",\n|    ")
    val maxs = (1 to dim).map(i => s"MAX(v[$i])").mkString(",\n|    ")
    s"""WITH v AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |s AS (
       |  SELECT [$mins] AS mns,
       |    [$maxs] AS mxs
       |  FROM v),
       |q AS (
       |  SELECT vec_id, v, mns, mxs,
       |    list_transform(list_zip(v, mns, mxs),
       |      p -> CASE WHEN p[3] = p[2] THEN 0
       |                ELSE CAST(floor((p[1] - p[2]) / (p[3] - p[2]) * 255.0)
       |                     AS BIGINT) END) AS codes
       |  FROM v, s)
       |SELECT vec_id, codes[1] AS code_first, codes[$dim] AS code_last,
       |  md5(array_to_string(codes, ',')) AS code_md5,
       |  list_sum(list_transform(list_zip(v, codes, mns, mxs),
       |    p -> (p[1] - (p[3] + CAST(p[2] AS DOUBLE) / 255.0 * (p[4] - p[3])))
       |       * (p[1] - (p[3] + CAST(p[2] AS DOUBLE) / 255.0 * (p[4] - p[3])))))
       |    AS sse,
       |  list_sum(list_transform(list_zip(v, codes, mns, mxs),
       |    p -> (p[1] - (p[3] + CAST(p[2] AS DOUBLE) / 255.0 * (p[4] - p[3])))
       |       * (p[1] - (p[3] + CAST(p[2] AS DOUBLE) / 255.0 * (p[4] - p[3])))))
       |    / $dim.0 AS mse
       |FROM q ORDER BY vec_id""".stripMargin
  }

  lazy val specs: Vector[QuerySpec] = Vector(
    // Exact brute-force top-5 cosine neighbors for 10 query vectors.
    QuerySpec(
      "s01_ann_brute",
      (s, d) => {
        val e = emb(s, d)
        val q = e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
        e.crossJoin(broadcast(q))
          .filter(col("vec_id") =!= col("q_id"))
          .withColumn("cos", cosine(col("q_emb"), col("embedding")))
          .withColumn("rank",
            row_number().over(
              Window.partitionBy("q_id").orderBy(col("cos").desc, col("vec_id"))))
          .filter(col("rank") <= 5)
          .select(col("q_id"), col("vec_id").as("neighbor_id"), col("rank"), col("cos"))
          .orderBy("q_id", "rank")
      },
      Some(s"""WITH q AS (
              |  SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 10),
              |scored AS (
              |  SELECT q.q_id, e.vec_id AS neighbor_id,
              |    ${duckCos("q.q_emb", "e.embedding")} AS cos
              |  FROM embeddings e CROSS JOIN q
              |  WHERE e.vec_id != q.q_id),
              |ranked AS (
              |  SELECT q_id, neighbor_id, cos,
              |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id)
              |      AS rank
              |  FROM scored)
              |SELECT q_id, neighbor_id, rank, cos FROM ranked
              |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin),
      headline = true,
    ),
    // LSH-bucketed ANN: 4 tables × 8-bit codes; the corpus is indexed under
    // its primary code per table, queries additionally probe the codes with
    // the two lowest-margin bits flipped (multi-probe T=2 — the recall of
    // extra tables at zero extra index size). Exact cosine rerank on
    // candidates. Full SQL oracle; SimilaritySpec measures recall lift over
    // random scanning (this corpus is near-orthogonal — 5th-neighbor cos
    // ≈ 0.35 — so absolute recall tracks scan fraction by construction) and
    // ≥0.9 recall on planted genuinely-near neighbors.
    QuerySpec(
      "s02_ann_lsh",
      (s, d) => lshAnn(emb(s, d), k = AnnTopK),
      // full SQL oracle: the whole sign-LSH pipeline (projections, codes,
      // multi-probe, BOUNDED bucket index, exact rerank) replicated in
      // DuckDB with identical float evaluation order — s10's graph CTEs
      // with the query side restricted to vec_id < SearchNQ.
      Some(s"""WITH ${knnGraphCtes(duckHypCte(LshBits),
                duckCode("projs", LshBits), duckProbe("projs", LshBits, _),
                "proj", s" WHERE vec_id < $SearchNQ")}
              |SELECT q_id, neighbor_id, rank, cos FROM ranked
              |WHERE rank <= $AnnTopK ORDER BY q_id, rank""".stripMargin),
    ),
    // IVF (inverted-file) ANN: deterministic coarse quantizer (centroids =
    // THREE Lloyd iterations from hash-picked seeds — see [[ivfCentroids]]),
    // vectors indexed by nearest centroid, queries probe the nprobe closest
    // cells and rerank exactly. At 100 TB the index build is `iters` passes
    // + a tiny per-cell state, and a query touches |corpus| · nprobe/k
    // vectors instead of all of them. The iteration count is FIXED in the
    // contract (not convergence-driven) so the DuckDB oracle can unroll the
    // identical three steps and stay bit-exact.
    QuerySpec(
      "s04_ann_ivf",
      (s, d) => ivfAnn(vecs(s, d)),
      // full SQL oracle: each Lloyd step uses the decimal-exact mean, so the
      // centroids — and every assignment, probe, and rerank after them —
      // are bit-identical across engines. The iterations are UNROLLED
      // (seeds → cent1 → … → cent{IvfIters}), mirroring the fixed
      // iteration count in the Spark contract query.
      Some {
        s"""${lloydOracleCtes(None)},
           |idx AS MATERIALIZED (
           |  SELECT vec_id, embedding, cell FROM (
           |    SELECT e.vec_id, e.embedding, c.cell,
           |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
           |        ORDER BY ${duckCos("e.embedding", "c.cvec")} DESC, c.cell) AS rn
           |    FROM e CROSS JOIN cent$IvfIters c) t WHERE rn = 1),
           |probes AS (
           |  SELECT q_id, q_emb, cell FROM (
           |    SELECT e.vec_id AS q_id, e.embedding AS q_emb, c.cell,
           |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
           |        ORDER BY ${duckCos("e.embedding", "c.cvec")} DESC, c.cell) AS rn
           |    FROM e CROSS JOIN cent$IvfIters c WHERE e.vec_id < $SearchNQ) t WHERE rn <= $IvfNprobe),
           |ranked AS (
           |  SELECT q_id, i.vec_id AS neighbor_id,
           |    ${duckCos("q_emb", "i.embedding")} AS cos,
           |    ROW_NUMBER() OVER (PARTITION BY q_id
           |      ORDER BY ${duckCos("q_emb", "i.embedding")} DESC, i.vec_id) AS rank
           |  FROM probes p JOIN idx i USING (cell) WHERE i.vec_id != p.q_id)
           |SELECT q_id, neighbor_id, rank, cos FROM ranked WHERE rank <= $AnnTopK
           |ORDER BY q_id, rank""".stripMargin
      },
    ),
    // Per-label centroid scoring: decimal-exact mean vector per label (the
    // s04 Lloyd-step shape — partitioning-invariant, oracle-reproducible),
    // then every vector's cosine to its own label's centroid. The per-class
    // outlier/quality score of an embedding pipeline: low cos_to_centroid =
    // mislabeled or noisy. One explode+agg pass for centroids (k·64 rows of
    // state), then a broadcast join — no shuffle of the corpus itself.
    QuerySpec(
      "s05_label_centroid_score",
      (s, d) => {
        import graft.engine.Exact
        val e = emb(s, d).select(col("vec_id"), col("label"), col("embedding"))
        val cents = e
          .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
          .groupBy("label", "dim")
          .agg((Exact.dsum(col("v").cast(DoubleType)) /
            count(lit(1)).cast(DoubleType)).as("m"))
          .groupBy("label")
          .agg(array_sort(collect_list(struct(col("dim"), col("m")))).as("dm"))
          .select(col("label"), transform(col("dm"), x => x.getField("m")).as("cvec"))
        e.join(broadcast(cents), "label")
          .select(col("vec_id"), col("label"),
            cosine(col("embedding"), col("cvec")).as("cos_to_centroid"))
          .orderBy("vec_id")
      },
      Some {
        import graft.engine.Exact
        s"""WITH cd AS (
           |  SELECT label, dim,
           |    ${Exact.sqlSum("CAST(embedding[dim+1] AS DOUBLE)")}
           |      / CAST(COUNT(*) AS DOUBLE) AS m
           |  FROM embeddings, UNNEST(range(0, 64)) AS t(dim) GROUP BY label, dim),
           |cent AS (SELECT label, list(m ORDER BY dim) AS cvec FROM cd GROUP BY label)
           |SELECT vec_id, e.label AS label,
           |  ${duckCos("e.embedding", "c.cvec")} AS cos_to_centroid
           |FROM embeddings e JOIN cent c USING (label)
           |ORDER BY vec_id""".stripMargin
      },
    ),
    // Embedding-cosine near-duplicate pairs: planted perturbed copies
    // (id+1M, v*0.98 + 0.01 per element) must pair with their originals.
    // LSH buckets generate candidates; exact cosine ≥ 0.99 verifies.
    QuerySpec(
      "s03_embedding_neardup",
      (s, d) => embeddingNearDup(emb(s, d)),
      // full SQL oracle: planted perturbation (same float rounding), codes,
      // the SAME hot-bucket guard (codes above cap dropped whole), bucket
      // self-join, exact cosine verify
      Some(s03OracleSql),
    ),
    // SEMANTIC decontamination — the embedding-side half of the
    // benchmark-contamination story: d09 catches verbatim 8-gram overlap,
    // d20 catches lexical near-paraphrase (MinHash on word 3-grams), but
    // a benchmark item REWRITTEN in different words shares no shingles at
    // all and sails through both — while its embedding barely moves.
    // This query runs d20's cross-corpus contract through s03's cosine
    // machinery: benchmark = every 23rd vector pushed through a
    // deterministic embedding drift (v·0.95 + 0.02 — a paraphrase-sized
    // cosine shift, not s03's near-identity), candidates restricted
    // row-locally to bench-touching pairs (ingest-proportional, never
    // train²), exact-cosine verified at 0.98. DedupSpec plants a
    // same-meaning/different-words pair and asserts d20's lexical pass
    // provably misses it while this query catches it.
    QuerySpec(
      "d23_semantic_decontam",
      (s, d) => crossCorpusEmbeddingNearDup(decontamCorpus(emb(s, d)),
          nTables = LshTables, nBits = DupBits, cap = DupCap,
          threshold = 0.98, benchProbes = 2)
        .select(col("train_id"),
          (col("bench_id") - 5000000L).as("bench_src"), col("cos"))
        .orderBy("train_id", "bench_src"),
      Some(d23OracleSql),
    ),
    // SEMANTIC dedup — the apply step over embeddings: cluster the s03
    // cosine-near-dup pairs (min-label CC, the d08/d11 machinery reused
    // across families), drop every non-canonical cluster member, pin the
    // exact survivor set with an md5 of the sorted kept ids. At 100 TB:
    // pairs are narrow (id, id) rows, labels are (id, label), the drop-set
    // attaches with one anti join — embeddings only move inside s03's
    // already-bounded bucket pipeline.
    QuerySpec(
      "s06_semantic_dedup",
      (s, d) => {
        val corpus = perturbedCorpus(emb(s, d))
        val pairs = nearDupPairs(corpus).select(col("a_id"), col("b_id"))
        val losers = graft.queries.Dedup.connectedComponents(pairs)
          .filter(col("id") =!= col("label"))
          .select(col("id").as("drop_id"))
        corpus.join(losers, col("vec_id") === col("drop_id"), "left_anti")
          .agg(count(lit(1)).as("n_kept"),
            md5(concat_ws(",", sort_array(collect_list(col("vec_id")))))
              .as("kept_digest"))
      },
      Some {
        s"""WITH RECURSIVE pairs AS MATERIALIZED (
           |$s03OracleSql
           |),
           |ids AS (
           |  SELECT vec_id FROM embeddings
           |  UNION ALL
           |  SELECT vec_id + 1000000 FROM embeddings WHERE vec_id % 10 = 0),
           |${Dedup.componentSqlCtes},
           |losers AS (SELECT id FROM comp WHERE id != component)
           |SELECT COUNT(*) AS n_kept,
           |  md5(array_to_string(list_sort(list(vec_id)), ',')) AS kept_digest
           |FROM ids ANTI JOIN losers ON vec_id = id""".stripMargin
      },
    ),
    // MMR diverse top-k — retrieval that penalizes redundancy (Carbonell &
    // Goldstein 1998): greedily pick argmax λ·rel(d) − (1−λ)·max_{s∈S}
    // sim(d, s) until K results. The two-stage shape is the one that
    // scales: stage 1 is the DISTRIBUTED top-C relevance scan (s01's
    // broadcast-query, shuffle-free plan, C=100); stage 2 is the greedy
    // argmax over the C-row shortlist — O(K·C) driver math on ~25 KB,
    // the same bounded driver materialization as d16's bloom or any
    // top-k presentation. At 100 TB only stage 1 grows.
    //
    // Cross-engine exactness: rel and pairwise sims go through the SAME
    // float→double fold (VectorAlgos.cosineFF == the CosineSim kernel ==
    // duckCos's CAST-to-DOUBLE list_sum — s01/s03 prove the pair), the
    // score weights are written as the double literals 0.7/0.3 on both
    // sides (NOT 1−λ, which is 0.30000000000000004; and ::DOUBLE in SQL
    // because DuckDB parses bare 0.7 as DECIMAL), and ties break on
    // vec_id — so the greedy selections coincide decision-for-decision.
    // The oracle unrolls the K greedy steps as chained CTEs — each
    // MATERIALIZED, because sel_i references sel_{i-1} three times and
    // inlining would re-expand the chain 3^K-fold.
    QuerySpec(
      "s07_mmr_diverse_topk",
      (s, d) => {
        val C = 100; val K = 20
        val q = emb(s, d).filter(col("vec_id") === 0)
          .select(col("embedding").as("q_emb"))
        val cands = emb(s, d).crossJoin(broadcast(q))
          .filter(col("vec_id") =!= 0)
          .select(col("vec_id"), col("embedding"),
            cosine(col("q_emb"), col("embedding")).as("rel"))
          .orderBy(col("rel").desc, col("vec_id")).limit(C)
          .collect() // bounded shortlist: C rows × 64 floats
          .map(r => (r.getLong(0),
            r.getSeq[Float](1).toArray, r.getDouble(2)))
        import graft.functions.VectorAlgos
        val selected = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
        val selEmb = scala.collection.mutable.ArrayBuffer.empty[Array[Float]]
        var remaining = cands.toVector
        while (selected.size < K && remaining.nonEmpty) {
          val pick =
            if (selected.isEmpty) remaining.head // already (rel desc, id asc)
            else remaining.map { c =>
              var maxSim = Double.NegativeInfinity
              selEmb.foreach { sv =>
                val sim = VectorAlgos.cosineFF(c._2, sv)
                if (sim > maxSim) maxSim = sim
              }
              (c, 0.7 * c._3 - 0.3 * maxSim)
            }.reduceLeft { (a, b) => // max score, tie → smaller vec_id
              if (b._2 > a._2 || (b._2 == a._2 && b._1._1 < a._1._1)) b else a
            }._1
          selected += ((pick._1, pick._3))
          selEmb += pick._2
          remaining = remaining.filterNot(_._1 == pick._1)
        }
        import s.implicits._
        selected.toVector.zipWithIndex
          .map { case ((id, rel), i) => ((i + 1).toLong, id, rel) }
          .toDF("rnk", "vec_id", "rel")
      },
      Some {
        val C = 100; val K = 20
        val steps = (2 to K).map { i =>
          s"""sel$i AS MATERIALIZED (
             |  SELECT * FROM sel${i - 1}
             |  UNION ALL
             |  (SELECT c.vec_id, c.rel, CAST($i AS BIGINT) AS rnk
             |   FROM cands c
             |   WHERE c.vec_id NOT IN (SELECT vec_id FROM sel${i - 1})
             |   ORDER BY 0.7::DOUBLE * c.rel - 0.3::DOUBLE * (
             |       SELECT MAX(s) FROM ps
             |       JOIN sel${i - 1} sl ON ps.b_id = sl.vec_id
             |       WHERE ps.a_id = c.vec_id) DESC,
             |     c.vec_id
             |   LIMIT 1))""".stripMargin
        }.mkString(",\n")
        s"""WITH q AS (
           |  SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0),
           |cands AS MATERIALIZED (
           |  SELECT e.vec_id, e.embedding,
           |    ${duckCos("q.q_emb", "e.embedding")} AS rel
           |  FROM embeddings e CROSS JOIN q
           |  WHERE e.vec_id != 0
           |  ORDER BY rel DESC, e.vec_id LIMIT $C),
           |ps AS MATERIALIZED (
           |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
           |    ${duckCos("a.embedding", "b.embedding")} AS s
           |  FROM cands a JOIN cands b ON a.vec_id <> b.vec_id),
           |sel1 AS MATERIALIZED (
           |  SELECT vec_id, rel, CAST(1 AS BIGINT) AS rnk FROM cands
           |  ORDER BY rel DESC, vec_id LIMIT 1),
           |$steps
           |SELECT rnk, vec_id, rel FROM sel$K ORDER BY rnk""".stripMargin
      },
    ),
    // PQ-ADC ANN — the compressed-index serve path that complements s04's
    // IVF: 4 subspaces × 8 codes quantize each 64-dim vector to 4 code
    // ids, queries score the corpus through per-query lookup tables
    // (asymmetric distance), and only the per-query shortlist gets the
    // exact-cosine rerank. Codebook training is per-subspace Lloyd with
    // the s04 exactness contract (fixed 2 iterations, decimal-exact
    // means, (dist, code) tie-break), so every code assignment, LUT
    // value, ADC sum (fixed subspace fold order) and rerank is
    // bit-reproducible by the oracle, which unrolls all 4 subspaces × 2
    // iterations as generated CTEs. The shortlist is the custom
    // TopK.perKey partial top-k — the corpus×queries scored frame never
    // reaches an exchange.
    QuerySpec(
      "s08_pq_adc",
      (s, d) => pqAdcAnn(vecs(s, d)),
      Some {
        val subs = 1 until PqM
        s"""WITH ${pqOracleSubCtes().mkString(",\n")},
           |scored AS (
           |  SELECT l0.q_id, e0.vec_id,
           |    $pqLvSum AS adc
           |  FROM s0e e0
           |${subs.map(s => s"  JOIN s${s}e e$s USING (vec_id)").mkString("\n")}
           |  JOIN s0l l0 ON l0.code = e0.code
           |${subs.map(s => s"  JOIN s${s}l l$s ON l$s.code = e$s.code AND l$s.q_id = l0.q_id")
              .mkString("\n")}
           |  WHERE e0.vec_id != l0.q_id),
           |$pqRerankOracleTail""".stripMargin
      },
    ),
    // Composed IVF-PQ ANN — see [[ivfPqAnn]]: s04's nprobe cell routing
    // gates which PQ-compressed rows s08's per-query LUT scores; exact
    // rerank on the shortlist. The oracle IS the two existing oracles
    // composed: the Lloyd CTEs (cent3, idx, probes) feed the PQ sub-CTE
    // chain's scored stage through a `probes ⋈ idx` candidate join —
    // the only new SQL is that one join.
    QuerySpec(
      "s18_ivfpq_ann",
      (s, d) => ivfPqAnn(vecs(s, d)),
      Some(ivfPqOracleSql(None, idxWhere = "")),
    ),
    // SAMPLED-training IVF-PQ — the configuration a 100 TB deployment
    // actually ships (r16 VERDICT item 2): quantizers train on the
    // deterministic vec_id-prefix sample (FAISS's own guidance — ~O(k)
    // training points suffice; full-corpus quantizer training is the one
    // stage of s18 that does NOT scale), while encode, routing and serve
    // stay corpus-wide and bit-identical in structure to s18. Until this
    // row the sampled config was only probe-timed; now the shipped
    // config is itself hash-verified (the s17b precedent). The oracle is
    // s18's with the training CTEs re-pointed at the sample: Lloyd reads
    // `tr`, PQ seeds/rounds read `t{s}v`, everything downstream is
    // unchanged SQL. SimilaritySpec pins the recall-vs-full law.
    QuerySpec(
      "s18b_ivfpq_sampled",
      (s, d) => ivfPqAnn(vecs(s, d),
        trainPred = Some(col("vec_id") < SampledTrainN)),
      Some(ivfPqOracleSql(Some(s"vec_id < $SampledTrainN"), idxWhere = "")),
    ),
    // Residual IVF-PQ — see [[ivfPqResidualAnn]]: the actual FAISS IVFPQ
    // encoding (PQ over residuals against the assigned coarse centroid;
    // ADC decomposes exactly as dot(q,c) + LUT lookups). The oracle is
    // s18's composition with a residual CTE spliced between the coarse
    // assignment and the PQ chains (src = residuals, LUT qsrc = raw
    // query subvectors) and the per-(query, cell) qc scalar seeding the
    // ADC sum.
    QuerySpec(
      "s19_ivfpq_residual",
      (s, d) => ivfPqResidualAnn(vecs(s, d)),
      Some(ivfPqResidualOracleSql(None)),
    ),
    // SAMPLED-training residual IVF-PQ — s19's deployment config (r16
    // VERDICT item 2, same adjudication as s18b): coarse centroids train
    // on the vec_id-prefix sample, residual codebooks train on the
    // SAMPLE's residuals (sliced from the corpus-wide assignment frame,
    // which encoding needs anyway); encode/probe/serve corpus-wide. The
    // oracle re-points Lloyd at `tr` and the PQ chains' training at
    // `rtr` (the residual rows of the sample); the serve SQL is s19's
    // verbatim.
    QuerySpec(
      "s19b_ivfpq_residual_sampled",
      (s, d) => ivfPqResidualAnn(vecs(s, d),
        trainPred = Some(col("vec_id") < SampledTrainN)),
      Some(ivfPqResidualOracleSql(Some(s"vec_id < $SampledTrainN"))),
    ),
    // Incremental ANN index maintenance — see [[ivfPqIndexAppend]]: the
    // engine trains quantizers on the BASE (vec_id ≤ 80% cutoff),
    // freezes them, encodes the append batch separately, and serves the
    // union; the oracle trains on the same base but encodes EVERYTHING
    // in one pass (the full rebuild). Green row = append ≡ rebuild (the
    // d10/p15 equivalence pattern). The cutoff is derived in both
    // engines from MAX(vec_id)*4/5 under floor division.
    QuerySpec(
      "s20_ann_index_append",
      (s, d) => ivfPqIndexAppend(vecs(s, d)),
      Some(ivfPqOracleSql(Some(appendBaseSql), idxWhere = "")),
    ),
    // Tombstone deletion on the maintained index — s20 with a delete
    // LIST (vec_id % 17 = 3, a deterministic relation both engines
    // derive in SQL) anti-joined against the merged postings: FAISS
    // remove_ids semantics — quantizers frozen, nothing re-encodes,
    // per-delete cost one broadcast anti-join over narrow index rows.
    // The oracle rebuilds from scratch and encodes only the SURVIVORS
    // into the candidate set, so the green row proves tombstone-delete
    // ≡ survivor rebuild (append + delete close the index-maintenance
    // lifecycle: a 100 TB store does both per ingest cycle).
    QuerySpec(
      "s20b_ann_index_delete",
      (s, d) => {
        val e = vecs(s, d)
        ivfPqIndexAppend(e,
          deletes = Some(e.filter(pmod(col("vec_id"), lit(17)) === 3)))
      },
      Some(ivfPqOracleSql(Some(appendBaseSql),
        idxWhere = "\n    WHERE e.vec_id % 17 != 3")),
    ),
    // Range (radius) search — the similarity-ball primitive top-k can't
    // express: EVERYTHING with cos >= tau per query, however many that
    // is (what a semantic-dedup threshold sweep or a recall audit asks
    // for). tau=0.25 sits just under this corpus's p99 pair similarity,
    // so each query returns a real but selective neighbor set. Scale
    // shape: query side broadcasts, the corpus scan scores+filters
    // map-side through the fused CosineSim kernel, and only (q_id,
    // vec_id, cos) survivors reach the per-query aggregation — no
    // window, no corpus shuffle, no top-k bias. The neighbor SET is
    // md5-pinned (the d11 digest contract) and the cos mass is
    // decimal-summed so the row stays narrow at any match count.
    QuerySpec(
      "s09_range_search",
      (s, d) => {
        val e = emb(s, d)
        val q = e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
        e.crossJoin(broadcast(q))
          .filter(col("vec_id") =!= col("q_id"))
          .withColumn("cos", cosine(col("q_emb"), col("embedding")))
          .filter(col("cos") >= 0.25)
          .groupBy("q_id")
          .agg(count(lit(1)).as("n_in_range"),
            md5(concat_ws(",", sort_array(collect_list(col("vec_id")))))
              .as("ids_digest"),
            graft.engine.Exact.dsum(col("cos")).as("sum_cos"))
          .orderBy("q_id")
      },
      Some(s"""WITH q AS (
              |  SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
              |  WHERE vec_id < 5),
              |s AS (
              |  SELECT q.q_id, e.vec_id,
              |    ${duckCos("q.q_emb", "e.embedding")} AS cos
              |  FROM embeddings e CROSS JOIN q
              |  WHERE e.vec_id != q.q_id)
              |SELECT q_id, COUNT(*) AS n_in_range,
              |  md5(array_to_string(list_sort(list(vec_id)), ',')) AS ids_digest,
              |  ${graft.engine.Exact.sqlSum("cos")} AS sum_cos
              |FROM s WHERE cos >= 0.25
              |GROUP BY q_id ORDER BY q_id""".stripMargin),
    ),
    // kNN graph — every vector's top-5 cosine neighbors through the
    // capped sign-LSH index ([[knnGraph]]): the adjacency structure
    // SemDeDup-style clustering and recall audits consume. Unlike s02
    // (10 queries, query side broadcast) this is all-pairs-shaped, so
    // nothing broadcasts and candidate volume is bounded by the bucket
    // cap. The oracle is s02's pipeline with the query restriction
    // removed; SimilaritySpec checks graph recall against brute force.
    QuerySpec(
      "s10_knn_graph",
      (s, d) => knnGraph(vecs(s, d), LshBits, k = 5),
      Some(s"""WITH $knnGraphOracleCtes
              |SELECT q_id, neighbor_id, rank, cos FROM ranked
              |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin),
    ),
    // s13 = s10 with the code width SIZED TO THE CORPUS ([[scaledBits]]: smallest
    // b with 16·2^b ≥ n, clamped to [4,16]) — the deployment configuration.
    // s10's pinned nBits=8 is a fixed contract: at sf1 its 256 buckets/table
    // hold ~78 vectors each and the graph build burns ~47M cosines; the
    // scaled width keeps expected occupancy ≤ 16 at ANY corpus size, so
    // candidate volume per query stays O(occupancy · probes). The oracle
    // computes the same width from the same COUNT (integer rule, no float
    // log2), generates the full 16 projections, and masks code/probes to
    // the first nb — so ONE static SQL text follows the Spark side across
    // every SF. This is the config the sf1 bench times (Bench extNames).
    QuerySpec(
      "s13_knn_graph_scaled",
      (s, d) => {
        val e = vecs(s, d)
        val nb = scaledBits(e.count())
        knnGraph(e, nb, k = 5)
      },
      Some(s"""WITH $knnGraphScaledOracleCtes
              |SELECT q_id, neighbor_id, rank, cos FROM ranked
              |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin),
    ),
    // Cluster-balanced mixing weights — the semantic counterpart of c12's
    // per-source mixing: cluster the corpus in embedding space (the s04
    // Lloyd quantizer, same fixed 16-seed/3-iteration contract), then
    // compute temperature-scaled sampling so over-represented clusters
    // (boilerplate modes, template families) are down-sampled toward a
    // sqrt-flattened distribution — the DoReMi/SlimPajama-style data
    // balancing knob, driven by CONTENT rather than source labels.
    // τ = 0.5 via sqrt keeps every double IEEE-exact (no pow); the ≤16
    // cluster sums are decimal-exact; the per-vector keep decision is the
    // deterministic c01-style hash threshold (mix64(vec_id) mapped to
    // [0,1) by exact scaling). Lives in Similarity.scala to share the
    // Lloyd machinery; the c-name keeps it in the corpus-ops family.
    // Scale shape: 3 Lloyd passes + one broadcast assignment pass + two
    // dashboard-sized aggregates — the corpus shuffles nothing.
    QuerySpec(
      "c24_cluster_mix",
      (s, d) => {
        import graft.engine.Exact
        val e = vecs(s, d)
        val centArr = ivfCentroids(e)
        val assigned = e.crossJoin(broadcast(centArr))
          .select(col("vec_id"),
            nearestCell(col("cents"), col("embedding")).as("cell"))
          .localCheckpoint(true)
        val counts = assigned.groupBy("cell").agg(count(lit(1)).as("n_vecs"))
        val tot = counts.agg(
          Exact.dsum(sqrt(col("n_vecs").cast(DoubleType))).as("sum_sqrt"),
          sum(col("n_vecs")).as("n_total"))
        val rates = counts.crossJoin(broadcast(tot))
          .withColumn("target_share",
            sqrt(col("n_vecs").cast(DoubleType)) / col("sum_sqrt"))
          .withColumn("p_keep",
            least(lit(1.0), col("target_share") *
              col("n_total").cast(DoubleType) /
              col("n_vecs").cast(DoubleType)))
        val r = ghash.mix64(col("vec_id")).cast(DoubleType) /
          lit(9.223372036854775808e18) * lit(0.5) + lit(0.5)
        val kept = assigned
          .join(broadcast(rates.select("cell", "p_keep")), "cell")
          .filter(r < col("p_keep"))
          .groupBy("cell").agg(count(lit(1)).as("n_kept"))
        rates.join(kept, Seq("cell"), "left_outer")
          .select(col("cell"), col("n_vecs"), col("target_share"),
            col("p_keep"), coalesce(col("n_kept"), lit(0L)).as("n_kept"))
          .orderBy("cell")
      },
      Some {
        import graft.engine.{DuckHash, Exact}
        val rScaled =
          s"CAST(${DuckHash.signed(DuckHash.mix64("CAST(vec_id AS HUGEINT)"))} " +
            "AS DOUBLE) / 9.223372036854775808e18 * 0.5 + 0.5"
        s"""${lloydOracleCtes(None)},
           |${nearestCellOracleCte("asg", "")},
           |counts AS (SELECT cell, COUNT(*) AS n_vecs FROM asg GROUP BY cell),
           |tot AS (
           |  SELECT ${Exact.sqlSum("sqrt(CAST(n_vecs AS DOUBLE))")} AS sum_sqrt,
           |    CAST(SUM(n_vecs) AS BIGINT) AS n_total
           |  FROM counts),
           |rates AS (
           |  SELECT cell, n_vecs,
           |    sqrt(CAST(n_vecs AS DOUBLE)) / sum_sqrt AS target_share,
           |    least(1.0, sqrt(CAST(n_vecs AS DOUBLE)) / sum_sqrt
           |      * CAST(n_total AS DOUBLE) / CAST(n_vecs AS DOUBLE)) AS p_keep
           |  FROM counts, tot),
           |kept AS (
           |  SELECT a.cell, COUNT(*) AS n_kept
           |  FROM asg a JOIN rates r USING (cell)
           |  WHERE $rScaled < r.p_keep
           |  GROUP BY a.cell)
           |SELECT r.cell, r.n_vecs, r.target_share, r.p_keep,
           |  COALESCE(k.n_kept, 0) AS n_kept
           |FROM rates r LEFT JOIN kept k USING (cell)
           |ORDER BY r.cell""".stripMargin
      },
    ),
    // Semantic clusters from the kNN graph — the SemDeDup/semantic-
    // curation extraction step that CONSUMES s10: restrict the directed
    // top-3 graph to MUTUAL edges (both endpoints rank each other — the
    // standard symmetrization that kills hub artifacts), then connected
    // components (d08's machinery: iterative min-label, sum-probe
    // convergence, throwing round cap). Output is per-cluster size + the
    // md5-pinned member set, the d08/d11 digest contract. Scale shape:
    // s10's bounded graph build + CC over a ≤|V|·k edge list of 16-byte
    // rows — the corpus vectors never enter the loop.
    QuerySpec(
      "s11_semantic_clusters",
      (s, d) =>
        mutualComponents(emb(s, d))
          .groupBy(col("label").as("cluster"))
          .agg(count(lit(1)).as("n_members"),
            md5(concat_ws(",", sort_array(collect_list(col("id")))))
              .as("members_md5"))
          .orderBy("cluster"),
      Some(s"""WITH RECURSIVE $knnGraphOracleCtes,
              |$mutualComponentSqlCtes
              |SELECT component AS cluster, COUNT(*) AS n_members,
              |  md5(array_to_string(list_sort(list(id)), ','))
              |    AS members_md5
              |FROM comp GROUP BY component ORDER BY cluster""".stripMargin),
    ),
    // Hybrid retrieval — BM25 sparse ranks fused with dense cosine ranks
    // by reciprocal-rank fusion (RRF, k=60, Cormack et al.): the
    // retrieval stack of a RAG / curation pipeline, where neither
    // lexical match nor embedding similarity alone is trustworthy. The
    // sparse arm is EXACTLY c11's scorer ([[Corpus.bm25Scores]] — one
    // shared definition, house rule); the dense arm is the s01
    // broadcast-query brute-force scan against doc 0's embedding. Both
    // arms shortlist top-20 through partial per-partition top-k
    // (TakeOrderedAndProject — never a global sort); ranks are then
    // assigned by a window over the 20-row shortlist, so the
    // unpartitioned window is bounded by the constant k, not the corpus.
    // RRF scores are exact by IEEE division on integer ranks — no
    // transcendental — and the summation order (sparse + dense) is
    // pinned on both engines. Fusion itself is a 20∪20-row full outer
    // join: at 100 TB the fused stage costs nothing beyond the two scans
    // the arms already do. The fusion contract is ARM-AGNOSTIC: the
    // exact brute-force dense arm here is the oracle-able baseline
    // (s01's contract); a deployment at corpus scale swaps in the
    // s02/s04/s08 bucketed shortlists — RRF consumes only (doc_id,
    // rank) lists, so the swap can't change the fusion semantics.
    QuerySpec(
      "s12_hybrid_rrf",
      (s, d) => {
        val sparse = Corpus.bm25Scores(
            Tables(s, d, "documents"), Corpus.BmQueryTerms)
          .orderBy(col("score").desc, col("doc_id")).limit(20)
          .withColumn("sparse_rank", row_number().over(
            Window.orderBy(col("score").desc, col("doc_id"))))
          .select(col("doc_id"), col("sparse_rank"))
        val e = emb(s, d)
        val qv = broadcast(e.filter(col("vec_id") === 0)
          .select(col("embedding").as("q_emb")))
        val dense = e.crossJoin(qv)
          .filter(col("vec_id") =!= 0)
          .withColumn("cos", cosine(col("q_emb"), col("embedding")))
          .orderBy(col("cos").desc, col("vec_id")).limit(20)
          .withColumn("dense_rank", row_number().over(
            Window.orderBy(col("cos").desc, col("vec_id"))))
          .select(col("vec_id").as("doc_id"), col("dense_rank"))
        sparse.join(dense, Seq("doc_id"), "full_outer")
          .select(col("doc_id"), col("sparse_rank"), col("dense_rank"),
            (coalesce(lit(1.0) /
                (lit(60.0) + col("sparse_rank").cast(DoubleType)), lit(0.0)) +
              coalesce(lit(1.0) /
                (lit(60.0) + col("dense_rank").cast(DoubleType)), lit(0.0)))
              .as("rrf"))
          .orderBy(col("rrf").desc, col("doc_id"))
          .limit(10)
      },
      Some(s"""WITH ${Corpus.bm25Sql(Corpus.BmQueryTerms)},
              |sparse AS (
              |  SELECT doc_id,
              |    ROW_NUMBER() OVER (ORDER BY score DESC, doc_id)
              |      AS sparse_rank
              |  FROM bm25
              |  QUALIFY ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) <= 20),
              |q AS (SELECT embedding AS q_emb FROM embeddings
              |      WHERE vec_id = 0),
              |scored AS (
              |  SELECT vec_id, ${duckCos("q.q_emb", "e.embedding")} AS cos
              |  FROM embeddings e CROSS JOIN q WHERE e.vec_id != 0),
              |dense AS (
              |  SELECT vec_id AS doc_id,
              |    ROW_NUMBER() OVER (ORDER BY cos DESC, vec_id) AS dense_rank
              |  FROM scored
              |  QUALIFY ROW_NUMBER() OVER (ORDER BY cos DESC, vec_id) <= 20)
              |SELECT COALESCE(s.doc_id, de.doc_id) AS doc_id,
              |  sparse_rank, dense_rank,
              |  COALESCE(1.0 / (60.0 + CAST(sparse_rank AS DOUBLE)), 0.0) +
              |    COALESCE(1.0 / (60.0 + CAST(dense_rank AS DOUBLE)), 0.0)
              |    AS rrf
              |FROM sparse s FULL OUTER JOIN dense de ON s.doc_id = de.doc_id
              |ORDER BY rrf DESC, COALESCE(s.doc_id, de.doc_id)
              |LIMIT 10""".stripMargin),
    ),
    // PCA projection — see [[pcaProject]]/[[pcaFit]]. The oracle unrolls
    // the ENTIRE fit (decimal-exact mean + covariance, then 24 power-
    // iteration rounds × 4 deflated components) in generated CTEs — the
    // t20 unrolled-rounds pattern applied to eigendecomposition — so the
    // per-vector projections are compared bit-for-bit, not approximately.
    QuerySpec(
      "s14_pca_project",
      (s, d) => pcaProject(emb(s, d)),
      Some(s14OracleSql(S14Dim, S14K, S14Rounds)),
    ),
    // The deployable single-pass twin — see [[pcaProjectFast]]. fp Gram
    // accumulation is partition-order-dependent, so: rows-only contract
    // (the c17/c18/c26 precedent), subspace quality spec-pinned against
    // the oracled exact path s14.
    QuerySpec(
      "s14b_pca_fast",
      (s, d) => pcaProjectFast(emb(s, d)),
      None,
    ),
    // Int8 scalar quantization — see [[sq8Quantize]]: per-dim global
    // bounds (one mergeable-agg scan, no vector shuffle), map-only
    // encode, exact per-vector code digest + reconstruction SSE on both
    // engines (global bounds ⇒ no clamp needed; min/max pick values, so
    // the stats are partition-invariant unlike s14b's fp Gram sums).
    QuerySpec(
      "s16_sq8_quantize",
      (s, d) => sq8Quantize(emb(s, d)),
      Some(sq8OracleSql(S14Dim)),
    ),
    // SemDeDup survivors — see [[semanticSurvivors]]: the keep-mask over
    // s11's mutual clusters (singletons keep themselves, one survivor per
    // cluster). Oracle: s11's recursive-CC CTEs + a keeper argmin.
    QuerySpec(
      "s17_semantic_survivors",
      (s, d) => semanticSurvivors(emb(s, d)),
      Some(s"""WITH RECURSIVE $knnGraphOracleCtes,
              |$survivorsOracleTail""".stripMargin),
    ),
    // SemDeDup survivors AT DEPLOYMENT WIDTH (r15 VERDICT item 3): the
    // SAME keep-mask with the code width sized to the corpus by
    // [[scaledBits]] — the configuration the 1M probe times and a 100 TB
    // run ships is now itself hash-verified, not just the pinned-width
    // contract (the s13-vs-s10 lesson applied to s17). Oracle: the
    // COUNT-derived dynamic-width graph CTEs + the identical survivor
    // tail.
    QuerySpec(
      "s17b_survivors_scaled",
      (s, d) => {
        val e = emb(s, d)
        semanticSurvivors(e, scaledBits(e.count()))
      },
      Some(s"""WITH RECURSIVE $knnGraphScaledOracleCtes,
              |$survivorsOracleTail""".stripMargin),
    ),
  )

  /** [[mutualComponents]] as DuckDB CTEs over an in-scope
    * `ranked(q_id, neighbor_id, cos, rank)` CTE: the mutual top-3 edges as
    * `pairs`, then `comp(id, component)` — shared by the s11, s17 and
    * s17b oracles.
    */
  private def mutualComponentSqlCtes: String =
    s"""pairs AS (
       |  SELECT LEAST(q_id, neighbor_id) AS a_id,
       |         GREATEST(q_id, neighbor_id) AS b_id
       |  FROM ranked WHERE rank <= 3
       |  GROUP BY 1, 2 HAVING COUNT(*) = 2),
       |${Dedup.componentSqlCtes}""".stripMargin

  /** The mutual-edge → connected-components → keeper-argmin survivor
    * tail, reading an in-scope `ranked(q_id, neighbor_id, cos, rank)`
    * CTE — ONE definition shared by s17 (pinned width) and s17b
    * (deployment width) so the keep semantics can never drift between
    * the two configurations.
    */
  private def survivorsOracleTail: String =
    s"""$mutualComponentSqlCtes,
      |keepers AS (SELECT component, MIN(id) AS keeper FROM comp
      |            GROUP BY component)
      |SELECT emb.vec_id, c.component AS cluster,
      |  (c.component IS NULL OR emb.vec_id = k.keeper) AS keep
      |FROM embeddings emb
      |LEFT JOIN comp c ON emb.vec_id = c.id
      |LEFT JOIN keepers k ON c.component = k.component
      |ORDER BY emb.vec_id""".stripMargin

  /** s14's oracle: the full PCA fit+transform as one generated DuckDB
    * query — mean and covariance through the narrow decimal-exact
    * accumulator (every term bounded ≪ 10⁸), then `rounds` power-iteration
    * steps per component with deflation, unrolled as chained MATERIALIZED
    * CTEs (without MATERIALIZED DuckDB would inline each round into the
    * next and the 24-round chain would blow up exponentially). Every
    * arithmetic step mirrors [[pcaFit]]'s driver loop term for term —
    * same quantization, same association, same sign rule — so the final
    * projections hash-match exactly.
    */
  private def s14OracleSql(dim: Int, k: Int, rounds: Int): String = {
    // Every decimal-quantized term goes through a sub-quantum flush:
    // DuckDB's VARCHAR→DECIMAL cast mis-rounds values below 1e-11 (it
    // rounds UP whenever the leading significant digit is ≥5, regardless
    // of its position — 6e-12 → 1E-10 where HALF_UP gives 0; measured,
    // r15). Under correct HALF_UP every |t| < 1e-11 rounds to 0 anyway,
    // so the flush is semantically the IDENTITY — it only routes around
    // the DuckDB bug. The Spark side rounds correctly and needs nothing.
    def sqlSumNarrow(expr: String): String = graft.engine.Exact
      .sqlSumNarrow(s"CASE WHEN abs($expr) < 1e-11 THEN 0.0 ELSE ($expr) END")
    val sb = new StringBuilder
    sb ++= s"""WITH xv AS MATERIALIZED (
              |  SELECT vec_id, i, CAST(embedding[i+1] AS DOUBLE) AS v
              |  FROM embeddings, UNNEST(range(0, $dim)) AS t(i)),
              |nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM embeddings),
              |mu AS MATERIALIZED (
              |  SELECT i, ${sqlSumNarrow("v")} / (SELECT n FROM nn) AS mu
              |  FROM xv GROUP BY i),
              |xc AS MATERIALIZED (
              |  SELECT x.vec_id, x.i, x.v - m.mu AS xc
              |  FROM xv x JOIN mu m USING (i)),
              |cm0 AS MATERIALIZED (
              |  SELECT a.i AS i, b.i AS j,
              |    ${sqlSumNarrow("a.xc * b.xc")} / (SELECT n FROM nn) AS cv
              |  FROM xc a JOIN xc b USING (vec_id) GROUP BY a.i, b.i),
              |""".stripMargin
    for (comp <- 0 until k) {
      sb ++= s"v${comp}_0 AS (SELECT i, 0.125 AS v " +
        s"FROM UNNEST(range(0, $dim)) AS t(i)),\n"
      for (r <- 1 to rounds) {
        sb ++= s"""w${comp}_$r AS MATERIALIZED (
                  |  SELECT c.i, ${sqlSumNarrow("c.cv * v.v")} AS w
                  |  FROM cm$comp c JOIN v${comp}_${r - 1} v ON c.j = v.i
                  |  GROUP BY c.i),
                  |v${comp}_$r AS MATERIALIZED (
                  |  SELECT i, w / (SELECT sqrt(${sqlSumNarrow("w * w")})
                  |    FROM w${comp}_$r) AS v
                  |  FROM w${comp}_$r),
                  |""".stripMargin
      }
      if (comp < k - 1)
        sb ++= s"""m$comp AS MATERIALIZED (
                  |  SELECT c.i, ${sqlSumNarrow("c.cv * v.v")} AS w
                  |  FROM cm$comp c JOIN v${comp}_$rounds v ON c.j = v.i
                  |  GROUP BY c.i),
                  |l$comp AS (SELECT ${sqlSumNarrow("v.v * m.w")} AS lam
                  |  FROM v${comp}_$rounds v JOIN m$comp m USING (i)),
                  |cm${comp + 1} AS MATERIALIZED (
                  |  SELECT c.i, c.j,
                  |    c.cv - ((SELECT lam FROM l$comp) * va.v) * vb.v AS cv
                  |  FROM cm$comp c JOIN v${comp}_$rounds va ON va.i = c.i
                  |    JOIN v${comp}_$rounds vb ON vb.i = c.j),
                  |""".stripMargin
    }
    // modified Gram-Schmidt over the deflated iterates (orthogonality by
    // construction — each d is computed on the ALREADY-UPDATED u, exactly
    // as the driver loop does), then the sign flip per convention.
    for (comp <- 0 until k) {
      sb ++= s"u${comp}_0 AS (SELECT i, v FROM v${comp}_$rounds),\n"
      for (j <- 0 until comp) {
        sb ++= s"""d${comp}_$j AS (SELECT ${sqlSumNarrow("u.v * g.v")} AS d
                  |  FROM u${comp}_$j u JOIN g$j g USING (i)),
                  |u${comp}_${j + 1} AS MATERIALIZED (
                  |  SELECT u.i, u.v - ((SELECT d FROM d${comp}_$j) * g.v) AS v
                  |  FROM u${comp}_$j u JOIN g$j g USING (i)),
                  |""".stripMargin
      }
      sb ++= s"""g$comp AS MATERIALIZED (
                |  SELECT i, v / (SELECT sqrt(${sqlSumNarrow("v * v")})
                |    FROM u${comp}_$comp) AS v
                |  FROM u${comp}_$comp),
                |e$comp AS MATERIALIZED (
                |  SELECT i, v * (CASE WHEN (SELECT v FROM g$comp
                |      ORDER BY abs(v) DESC, i ASC LIMIT 1) < 0
                |    THEN -1.0 ELSE 1.0 END) AS v
                |  FROM g$comp),
                |""".stripMargin
    }
    val joins = (0 until k)
      .map(c => s"JOIN e$c ON e$c.i = x.i").mkString(" ")
    val ps = (0 until k)
      .map(c => s"    ${sqlSumNarrow(s"x.xc * e$c.v")} AS p${c + 1}")
      .mkString(",\n")
    sb ++= s"""proj AS (
              |  SELECT x.vec_id,
              |$ps
              |  FROM xc x $joins GROUP BY x.vec_id)
              |SELECT vec_id, ${(1 to k).map("p" + _).mkString(", ")}
              |FROM proj ORDER BY vec_id""".stripMargin
    sb.toString
  }

  /** One DuckDB Lloyd step: assign to `prev`'s centroids (cosine argmax,
    * cell tie-break), recompute decimal-exact means — mirrors one
    * [[ivfCentroids]] iteration over the `src` training rows.
    */
  private def lloydStepSql(n: Int, prev: String, src: String): String = {
    import graft.engine.Exact
    s"""a$n AS (
       |  SELECT vec_id, embedding, cell FROM (
       |    SELECT e.vec_id, e.embedding, c.cell,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${duckCos("e.embedding", "c.cvec")} DESC, c.cell) AS rn
       |    FROM $src e CROSS JOIN $prev c) t WHERE rn = 1),
       |cd$n AS (
       |  SELECT cell, dim,
       |    ${Exact.sqlSum("CAST(embedding[dim+1] AS DOUBLE)")}
       |      / CAST(COUNT(*) AS DOUBLE) AS m
       |  FROM a$n, UNNEST(range(0, 64)) AS t(dim) GROUP BY cell, dim),
       |cent$n AS MATERIALIZED (
       |  SELECT cell, list(m ORDER BY dim) AS cvec FROM cd$n GROUP BY cell)""".stripMargin
  }

  /** The PQ training/encode/LUT chain as generated CTEs — ONE definition
    * shared by the s08 (flat ADC), s18/s20 (IVF-routed ADC) and s19
    * (residual) oracles: per subspace `s`, `s{s}v` (subvectors),
    * `s{s}c0..c{PqIters}` (Lloyd rounds, decimal-exact means), `s{s}e`
    * (corpus codes), `s{s}l` (per-query LUT rows for vec_id < AnnNQ). The
    * consumer composes a `scored` stage over `s*e` ⋈ `s*l` — flat for
    * s08, candidate-gated for s18 — then [[pqRerankOracleTail]].
    */
  private def pqOracleSubCtes(src: String = "embeddings",
      tsrc: String = ""): Seq[String] = {
    import graft.engine.Exact
    def sl(s: Int) =
      s"list_transform(embedding[${s * PqSubDim + 1}:${(s + 1) * PqSubDim}], x -> CAST(x AS DOUBLE))"
    def dL2(a: String, b: String) =
      s"""list_sum(list_transform(list_zip($a, $b),
         |      p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))))""".stripMargin
    (0 until PqM).flatMap { s =>
      val v = s"s${s}v"
      // when the LUT's query side differs from the train/encode source
      // (s19: codebooks over RESIDUALS, LUT over RAW query subvectors),
      // an extra q{s}v CTE carries the query subvectors
      val qv = if (src == "embeddings") v else s"q${s}v"
      val qvCte =
        if (src == "embeddings") Seq.empty
        else Seq(s"$qv AS (SELECT vec_id, ${sl(s)} AS svec FROM embeddings)")
      // when codebook TRAINING reads a sample while encoding stays
      // corpus-wide (s18b/s19b sampled-training deployment config), an
      // extra t{s}v CTE carries the training subvectors; seeds and every
      // Lloyd round read it, s{s}e (encode) and s{s}l (LUT) do not
      val tv = if (tsrc.isEmpty || tsrc == src) v else s"t${s}v"
      val tvCte =
        if (tv == v) Seq.empty
        else Seq(s"$tv AS MATERIALIZED (SELECT vec_id, ${sl(s)} AS svec FROM $tsrc)")
      Seq(
        s"$v AS MATERIALIZED (SELECT vec_id, ${sl(s)} AS svec FROM $src)") ++
        tvCte ++ Seq(
        s"s${s}c0 AS (SELECT vec_id AS code, svec AS cvec FROM $tv WHERE vec_id < $PqKsub)") ++
        qvCte ++
        (1 to PqIters).flatMap { n =>
          Seq(
            s"""s${s}a$n AS (
               |  SELECT vec_id, svec, code FROM (
               |    SELECT v.vec_id, v.svec, c.code,
               |      ROW_NUMBER() OVER (PARTITION BY v.vec_id
               |        ORDER BY ${dL2("v.svec", "c.cvec")}, c.code) AS rn
               |    FROM $tv v CROSS JOIN s${s}c${n - 1} c) t WHERE rn = 1)""".stripMargin,
            s"""s${s}m$n AS (
               |  SELECT code, dim,
               |    ${Exact.sqlSum("svec[dim+1]")} / CAST(COUNT(*) AS DOUBLE) AS mv
               |  FROM s${s}a$n, UNNEST(range(0, $PqSubDim)) AS t(dim)
               |  GROUP BY code, dim)""".stripMargin,
            s"""s${s}c$n AS MATERIALIZED (
               |  SELECT code, list(mv ORDER BY dim) AS cvec
               |  FROM s${s}m$n GROUP BY code)""".stripMargin)
        } ++ Seq(
        s"""s${s}e AS MATERIALIZED (
           |  SELECT vec_id, code FROM (
           |    SELECT v.vec_id, c.code,
           |      ROW_NUMBER() OVER (PARTITION BY v.vec_id
           |        ORDER BY ${dL2("v.svec", "c.cvec")}, c.code) AS rn
           |    FROM $v v CROSS JOIN s${s}c$PqIters c) t WHERE rn = 1)""".stripMargin,
        s"""s${s}l AS MATERIALIZED (
           |  SELECT qv.vec_id AS q_id, c.code, ${duckDot("qv.svec", "c.cvec")} AS lv
           |  FROM $qv qv CROSS JOIN s${s}c$PqIters c
           |  WHERE qv.vec_id < $AnnNQ)""".stripMargin)
    }
  }

  /** `l0.lv + … + l{PqM-1}.lv`: the ADC sum of the per-subspace LUT rows
    * in subspace order — the Spark fold's order.
    */
  private def pqLvSum: String = (0 until PqM).map(s => s"l$s.lv").mkString(" + ")

  /** The shortlist + exact-cosine rerank tail reading an in-scope
    * `scored(q_id, vec_id, adc)` CTE — shared by every PQ oracle.
    */
  private def pqRerankOracleTail: String =
    s"""short AS MATERIALIZED (
       |  SELECT q_id, vec_id, adc FROM (
       |    SELECT q_id, vec_id, adc,
       |      ROW_NUMBER() OVER (PARTITION BY q_id
       |        ORDER BY adc DESC, vec_id) AS srank
       |    FROM scored) t WHERE srank <= $AnnShortlist),
       |rer AS (
       |  SELECT s.q_id, s.vec_id AS neighbor_id, s.adc,
       |    ${duckCos("q.embedding", "n.embedding")} AS cos
       |  FROM short s
       |  JOIN embeddings q ON q.vec_id = s.q_id
       |  JOIN embeddings n ON n.vec_id = s.vec_id)
       |SELECT q_id, rank, neighbor_id, adc, cos FROM (
       |  SELECT q_id, neighbor_id, adc, cos,
       |    ROW_NUMBER() OVER (PARTITION BY q_id
       |      ORDER BY cos DESC, neighbor_id) AS rank
       |  FROM rer) t WHERE rank <= $AnnTopK
       |ORDER BY q_id, rank""".stripMargin

  /** The fixed IvfK-seed, IvfIters-round Lloyd unrolling (s04's contract)
    * as a WITH prefix ending at `cent{IvfIters}`. With `trainWhere` Lloyd
    * TRAINS on `tr` = e WHERE trainWhere (s18b/s19b: the vec_id-prefix
    * sample; s20: the base slice below the append cutoff) while everything
    * downstream (encode, probes) still reads the full `e`.
    */
  private def lloydOracleCtes(trainWhere: Option[String]): String = {
    val src = if (trainWhere.isEmpty) "e" else "tr"
    (Seq("WITH e AS (SELECT vec_id, embedding FROM embeddings)") ++
      trainWhere.map(w => s"tr AS MATERIALIZED (SELECT vec_id, embedding FROM e WHERE $w)") ++
      Seq(s"seeds AS (SELECT vec_id AS cell, embedding AS cvec FROM $src WHERE vec_id < $IvfK)") ++
      (1 to IvfIters).map(n =>
        lloydStepSql(n, if (n == 1) "seeds" else s"cent${n - 1}", src)))
      .mkString(",\n")
  }

  /** s20's base slice in SQL: [[ivfPqIndexAppend]]'s cut, MAX(vec_id)·4/5
    * under floor division.
    */
  private def appendBaseSql: String =
    "vec_id <= (SELECT (MAX(vec_id) * 4) // 5 FROM embeddings)"

  /** `name(vec_id, cell)`: each vector's nearest final centroid (cosine
    * argmax, cell tie-break), over the `e` rows passing `where`.
    */
  private def nearestCellOracleCte(name: String, where: String): String =
    s"""$name AS MATERIALIZED (
       |  SELECT vec_id, cell FROM (
       |    SELECT e.vec_id, c.cell,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${duckCos("e.embedding", "c.cvec")} DESC, c.cell) AS rn
       |    FROM e CROSS JOIN cent$IvfIters c$where) t WHERE rn = 1)""".stripMargin

  /** The IVF-PQ serve CTEs over an in-scope index (`idx`, or the residual
    * rows `res`): `probes` (IvfNprobe cells per query, carrying qc when
    * `residual`), the probe-gated ADC `scored` stage (seeded at qc when
    * `residual`) and the rerank tail — the oracle of [[ivfPqServe]].
    */
  private def ivfPqServeOracleSql(residual: Boolean): String = {
    val (qcCol, qcExpr, qcSeed, index) =
      if (residual) (", qc", s"\n      ${duckDot("e.embedding", "c.cvec")} AS qc,", "p.qc + ", "res")
      else ("", "", "", "idx")
    val subs = 0 until PqM
    s"""probes AS (
       |  SELECT q_id, cell$qcCol FROM (
       |    SELECT e.vec_id AS q_id, c.cell,$qcExpr
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${duckCos("e.embedding", "c.cvec")} DESC, c.cell) AS rn
       |    FROM e CROSS JOIN cent$IvfIters c WHERE e.vec_id < $AnnNQ) t WHERE rn <= $IvfNprobe),
       |scored AS (
       |  SELECT p.q_id, i.vec_id,
       |    $qcSeed$pqLvSum AS adc
       |  FROM probes p
       |  JOIN $index i USING (cell)
       |${subs.map(s => s"  JOIN s${s}e e$s ON e$s.vec_id = i.vec_id").mkString("\n")}
       |${subs.map(s => s"  JOIN s${s}l l$s ON l$s.code = e$s.code AND l$s.q_id = p.q_id")
          .mkString("\n")}
       |  WHERE i.vec_id != p.q_id),
       |$pqRerankOracleTail""".stripMargin
  }

  /** The s18/s18b/s20/s20b oracle: Lloyd (trained on `trainWhere`, see
    * [[lloydOracleCtes]]), the PQ chains trained on the same rows, `idx`
    * over the vectors passing `idxWhere` (s20b: the tombstone survivors),
    * then the serve CTEs.
    */
  private def ivfPqOracleSql(trainWhere: Option[String], idxWhere: String): String =
    s"""${lloydOracleCtes(trainWhere)},
       |${pqOracleSubCtes(tsrc = if (trainWhere.isEmpty) "" else "tr").mkString(",\n")},
       |${nearestCellOracleCte("idx", idxWhere)},
       |${ivfPqServeOracleSql(residual = false)}""".stripMargin

  /** The s19/s19b oracle: s18's composition with a residual CTE spliced
    * between the coarse assignment and the PQ chains (src = residuals,
    * LUT qsrc = raw query subvectors; with `trainWhere` the chains train
    * on `rtr`, the sample's residual rows), serving with the per-(query,
    * cell) qc scalar seeding the ADC sum.
    */
  private def ivfPqResidualOracleSql(trainWhere: Option[String]): String = {
    val rtr = trainWhere.map(w =>
      s"""rtr AS MATERIALIZED (
         |  SELECT vec_id, cell, embedding FROM res WHERE $w),
         |""".stripMargin).getOrElse("")
    s"""${lloydOracleCtes(trainWhere)},
       |${nearestCellOracleCte("idx0", "")},
       |res AS MATERIALIZED (
       |  SELECT i.vec_id, i.cell,
       |    list_transform(list_zip(e.embedding, c.cvec),
       |      p -> CAST(p[1] AS DOUBLE) - p[2]) AS embedding
       |  FROM idx0 i JOIN e ON e.vec_id = i.vec_id
       |  JOIN cent$IvfIters c ON c.cell = i.cell),
       |$rtr${pqOracleSubCtes(src = "res",
              tsrc = if (trainWhere.isEmpty) "" else "rtr").mkString(",\n")},
       |${ivfPqServeOracleSql(residual = true)}""".stripMargin
  }

  /** The all-queries sign-LSH kNN pipeline (3 probes, cap 1000) as a WITH
    * body ending at `ranked` (q_id, neighbor_id, cos, rank), over the
    * hyperplane CTEs `hyp` and a `coded` stage selecting `code`/`probe(r)`
    * from `codedFrom`. Shared by the pinned-width (s10/s11/s17) and
    * count-sized (s13/s17b) oracles.
    */
  private def knnGraphCtes(hyp: String, code: String, probe: Int => String,
      codedFrom: String, queryWhere: String): String =
    s"""$hyp,
       |proj AS MATERIALIZED (
       |  SELECT vec_id, embedding, tbl,
       |    ${duckProjs("embedding")} AS projs
       |  FROM embeddings CROSS JOIN hyp),
       |coded AS MATERIALIZED (
       |  SELECT vec_id, tbl,
       |    $code AS code,
       |    ${probe(1)} AS probe,
       |    ${probe(2)} AS probe2
       |  FROM $codedFrom),
       |idx AS (
       |  SELECT tbl, code, vec_id FROM coded
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY tbl, code
       |    ORDER BY vec_id) <= $LshCap),
       |q AS (
       |  SELECT tbl, code AS qcode, vec_id AS q_id FROM coded$queryWhere
       |  UNION ALL
       |  SELECT tbl, probe AS qcode, vec_id AS q_id FROM coded$queryWhere
       |  UNION ALL
       |  SELECT tbl, probe2 AS qcode, vec_id AS q_id FROM coded$queryWhere),
       |cand AS (
       |  SELECT DISTINCT q.q_id, i.vec_id
       |  FROM idx i JOIN q ON i.tbl = q.tbl AND i.code = q.qcode
       |  WHERE i.vec_id != q.q_id),
       |ranked AS MATERIALIZED (
       |  SELECT c.q_id, c.vec_id AS neighbor_id,
       |    ${duckCos("qe.embedding", "ne.embedding")} AS cos,
       |    ROW_NUMBER() OVER (PARTITION BY c.q_id
       |      ORDER BY ${duckCos("qe.embedding", "ne.embedding")} DESC,
       |        c.vec_id) AS rank
       |  FROM cand c
       |  JOIN embeddings qe ON qe.vec_id = c.q_id
       |  JOIN embeddings ne ON ne.vec_id = c.vec_id)""".stripMargin

  /** s10's contract ([[LshTables]] tables, [[LshBits]] bits) through
    * [[knnGraphCtes]], every vector a query.
    */
  private def knnGraphOracleCtes: String =
    knnGraphCtes(duckHypCte(LshBits), duckCode("projs", LshBits),
      duckProbe("projs", LshBits, _), "proj", queryWhere = "")

  /** The s10b oracle: [[knnGraphOracleCtes]] with the code width computed
    * from the corpus COUNT by the same integer rule as [[scaledBits]]
    * (occupancy 16, clamp [4,16]). All 16 projections are generated and
    * code/probes mask to the first `nb` — `nb` is a scalar CTE, so the SQL
    * text is static while the effective width follows the data, exactly
    * like the Spark side's count-then-build.
    */
  private def knnGraphScaledOracleCtes: String = {
    val dynCode =
      """CAST(list_sum(list_transform(range(0, nb), j ->
        |      CASE WHEN projs[j+1] > 0 THEN 1 << j ELSE 0 END)) AS BIGINT)"""
        .stripMargin
    def dynProbe(rank: Int): String =
      s"""xor($dynCode,
         |    CAST(2 ** (list_position(list_transform(projs[1:nb], p -> abs(p)),
         |      list_sort(list_transform(projs[1:nb], p -> abs(p)))[$rank]) - 1)
         |      AS BIGINT))""".stripMargin
    knnGraphCtes(
      s"""nbv AS MATERIALIZED (
         |  SELECT COALESCE(MIN(b), 16) AS nb
         |  FROM range(4, 17) t(b), (SELECT COUNT(*) AS n FROM embeddings)
         |  WHERE (16 * (1 << b)) >= n),
         |${duckHypCte(16)}""".stripMargin,
      dynCode, dynProbe, "proj, nbv", queryWhere = "")
  }

  /** d23's oracle: union corpus (train + drifted bench), sign-LSH codes,
    * the SAME hot-bucket guard, bucket join restricted to cross-corpus
    * pairs (bench ids sort above all train ids, so a<b ∧ flags differ ⇒
    * a = train), exact cosine verify at 0.98.
    */
  private val d23OracleSql: String =
    s"""WITH corpus AS (
       |  SELECT vec_id, embedding, FALSE AS is_new FROM embeddings
       |  UNION ALL
       |  SELECT vec_id + 5000000,
       |    list_transform(embedding,
       |      v -> CAST(CAST(v AS DOUBLE) * 0.95 + 0.02 AS FLOAT)),
       |    TRUE
       |  FROM embeddings WHERE vec_id % 23 = 0),
       |${duckHypCte(DupBits)},
       |proj AS MATERIALIZED (
       |  SELECT vec_id, embedding, is_new, tbl,
       |    ${duckProjs("embedding")} AS projs
       |  FROM corpus CROSS JOIN hyp),
       |coded AS MATERIALIZED (
       |  SELECT vec_id, embedding, is_new, tbl, u.code AS code
       |  FROM (
       |    SELECT vec_id, embedding, is_new, tbl,
       |      CASE WHEN is_new
       |        THEN list_distinct([${duckCode("projs", DupBits)},
       |          ${duckProbe("projs", DupBits, 1)},
       |          ${duckProbe("projs", DupBits, 2)},
       |          ${duckProbe12("projs", DupBits)}])
       |        ELSE [${duckCode("projs", DupBits)}] END AS cs
       |    FROM proj) c, UNNEST(c.cs) AS u(code)),
       |hot AS (
       |  SELECT tbl, code FROM coded GROUP BY tbl, code
       |  HAVING COUNT(*) > $DupCap),
       |pruned AS MATERIALIZED (
       |  SELECT c.* FROM coded c ANTI JOIN hot h USING (tbl, code)),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS a_id, a.embedding AS a_emb,
       |    b.vec_id AS b_id, b.embedding AS b_emb
       |  FROM pruned a JOIN pruned b USING (tbl, code)
       |  WHERE a.vec_id < b.vec_id AND a.is_new != b.is_new)
       |SELECT a_id AS train_id, b_id - 5000000 AS bench_src,
       |  ${duckCos("a_emb", "b_emb")} AS cos
       |FROM cand
       |WHERE ${duckCos("a_emb", "b_emb")} >= 0.98
       |ORDER BY train_id, bench_src""".stripMargin

  /** s03's full SQL oracle, shared with s06 (which nests it as the pairs
    * CTE of the survivor computation).
    */
  private val s03OracleSql: String =
    s"""WITH corpus AS (
       |  SELECT vec_id, embedding FROM embeddings
       |  UNION ALL
       |  SELECT vec_id + 1000000,
       |    list_transform(embedding,
       |      v -> CAST(CAST(v AS DOUBLE) * 0.98 + 0.01 AS FLOAT))
       |  FROM embeddings WHERE vec_id % 10 = 0),
       |${duckHypCte(DupBits)},
       |proj AS MATERIALIZED (
       |  SELECT vec_id, embedding, tbl,
       |    ${duckProjs("embedding")} AS projs
       |  FROM corpus CROSS JOIN hyp),
       |coded AS MATERIALIZED (
       |  SELECT vec_id, embedding, tbl, ${duckCode("projs", DupBits)} AS code
       |  FROM proj),
       |hot AS (
       |  SELECT tbl, code FROM coded GROUP BY tbl, code
       |  HAVING COUNT(*) > $DupCap),
       |pruned AS MATERIALIZED (
       |  SELECT c.* FROM coded c ANTI JOIN hot h USING (tbl, code)),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS a_id, a.embedding AS a_emb,
       |    b.vec_id AS b_id, b.embedding AS b_emb
       |  FROM pruned a JOIN pruned b USING (tbl, code)
       |  WHERE a.vec_id < b.vec_id)
       |SELECT a_id, b_id, ${duckCos("a_emb", "b_emb")} AS cos
       |FROM cand
       |WHERE ${duckCos("a_emb", "b_emb")} >= $DupThreshold
       |ORDER BY a_id, b_id""".stripMargin
}
