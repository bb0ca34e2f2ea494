package graft.similarity

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.VecFns
import graft.plans.TopKPerKey

/** Product-quantization ANN (Jégou et al. 2011, the Faiss `PQ` stage) —
  * the third scale path next to [[LshAnn]] (hash blocking) and [[IvfAnn]]
  * (inverted lists), attacking a different resource: MEMORY. LSH and IVF
  * shrink the candidate COUNT but still compare full vectors; PQ shrinks
  * the candidate REPRESENTATION — each vector becomes `m` one-byte codes
  * (64 dims × 8 B = 512 B → 8 B, 64×), so a 100 TB embedding corpus
  * scans its codes from a table a fraction of the size, and the scan is
  * additions from a lookup table instead of d-dim multiplies.
  *
  * Structure: split the (L2-normalized) vector into `m` subspaces; train
  * a tiny per-subspace codebook (`ksub` centroids, MLlib k-means — the
  * offline job of a real deployment); encoding stores each subvector's
  * nearest code. Search is asymmetric distance computation (ADC): the
  * query's exact per-(subspace, code) partial dot products form an
  * `m × ksub` lookup table, broadcast; each corpus vector's approximate
  * cosine is the sum of its `m` looked-up partials — an equi-join on
  * (sub_id, code) plus one map-side-combinable aggregate, never a
  * full-vector comparison. Approximation error comes only from
  * quantizing the CORPUS side (the query side is exact), so recall
  * degrades gracefully with `m`/`ksub` — measured in the recall spec,
  * rows-only like d07/d08.
  */
object PqAnn {

  /** (id → m subvectors) decomposition: one row per (idCol, sub_id, sv). */
  private def subvectors(df: DataFrame, idCol: String, vecCol: String,
                         m: Int, dsub: Int): DataFrame =
    VecFns.unitNormalized(df, col(idCol), col(vecCol), "__nv")
      .select(col(idCol),
        posexplode(transform(sequence(lit(0), lit(m - 1)),
          s => slice(col("__nv"), s * dsub + 1, lit(dsub)))))
      .select(col(idCol), col("pos").cast("int").as("sub_id"), col("col").as("sv"))

  // per-(corpusTag, m, ksub, maxIter, seed) codebook memo — same shape
  // and rationale as IvfAnn.trainedMemo: training is deterministic and
  // tiny (m × ksub × dsub doubles), the offline-job + published-dim-table
  // pattern of a real deployment.
  private val codebookMemo =
    new java.util.concurrent.ConcurrentHashMap[(String, Int, Int, Int, Int, Long),
      Seq[(Int, Int, Seq[Double])]]

  /** Training-sample size: ~128 points per centroid — inside the
    * published Faiss regime (30–256 per centroid); beyond it more data
    * adds cost, not centroid quality.
    */
  private def trainSampleFor(ksub: Int): Int = 128 * ksub

  /** Train per-subspace codebooks: (sub_id, code, ce). `m` subspaces of
    * dim/m dims each, `ksub` centroids per subspace via k-means
    * (euclidean — PQ quantizes subvectors as points, not directions;
    * the COSINE of the full vector is recovered because the vectors are
    * normalized before splitting and dot sums over subspaces).
    *
    * Scale shape (the Faiss training recipe): the fit runs over a
    * BOUNDED deterministic hash-sample of ~[[trainSampleFor]] vectors —
    * one cheap count + one sampled collect (a few MB), then
    * [[LocalKmeans]] on the driver — so training cost is INDEPENDENT of
    * corpus size. The previous shape (m sequential MLlib fits, each
    * re-reading the full subvector explode) scheduled m × maxIter
    * distributed jobs over the whole corpus: measured 36× on 10× data
    * in the round-9 sf1 sweep; this is the fix. The corpus-sized work
    * that remains is [[encode]] — one pass, inherently.
    */
  def trainCodebooks(embeddings: DataFrame, dim: Int, m: Int, ksub: Int,
                     maxIter: Int = 10, seed: Long = 42L): DataFrame = {
    require(m >= 1 && dim % m == 0, s"dim $dim must split into m=$m subspaces")
    val dsub = dim / m
    val target = trainSampleFor(ksub)
    val n = embeddings.count()
    val sampled =
      if (n <= target) embeddings
      else {
        // deterministic hash-gate at the target fraction (slightly over
        // via ceil; exactness is irrelevant — any ~target-sized sample
        // trains the same quality)
        val gate = math.min(1000000L,
          (target.toDouble / n * 1000000L).ceil.toLong + 1L)
        embeddings.filter(
          pmod(xxhash64(col("vec_id"), lit(seed)), lit(1000000L)) < gate)
      }
    val pts: Array[Array[Double]] =
      VecFns.unitNormalized(sampled, col("vec_id"), col("embedding"), "__nv")
        .orderBy("vec_id") // stable order => deterministic fit
        .collect()
        .map(_.getSeq[Double](1).toArray)
    require(pts.nonEmpty, "trainCodebooks: empty corpus")
    val rows = (0 until m).flatMap { s =>
      val sub = pts.map(p => java.util.Arrays.copyOfRange(p, s * dsub, (s + 1) * dsub))
      LocalKmeans.fit(sub, ksub, maxIter, seed + s).zipWithIndex.map {
        case (c, code) => (s, code, c.toSeq)
      }
    }
    embeddings.sparkSession.createDataFrame(rows).toDF("sub_id", "code", "ce")
  }

  /** [[trainCodebooks]] memoized per (corpusTag, dim, m, ksub, maxIter, seed). */
  def codebooksFor(embeddings: DataFrame, corpusTag: String, dim: Int, m: Int,
                   ksub: Int, maxIter: Int = 10, seed: Long = 42L): DataFrame = {
    val rows = codebookMemo.computeIfAbsent(
      (corpusTag, dim, m, ksub, maxIter, seed),
      _ => trainCodebooks(embeddings, dim, m, ksub, maxIter, seed)
        .collect().toSeq.map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2))))
    embeddings.sparkSession.createDataFrame(rows).toDF("sub_id", "code", "ce")
  }

  /** Deterministic SEED codebooks — code `k` of subspace `s` is the
    * normalized `s`-th subvector of the embedding with `vec_id = k`
    * (`k < ksub`). Zero training, so the whole construction is
    * re-expressible in plain SQL: this is what lets [[encode]]'s
    * argmin arithmetic (the exact path d22/d24's trained codebooks run
    * through) be ORACLE-CHECKED end-to-end, leaving only the k-means
    * fit itself outside the hash gate.
    */
  def seedCodebooks(embeddings: DataFrame, dim: Int, m: Int,
                    ksub: Int): DataFrame = {
    require(m >= 1 && dim % m == 0, s"dim $dim must split into m=$m subspaces")
    subvectors(embeddings.filter(col("vec_id") < ksub),
        "vec_id", "embedding", m, dim / m)
      .select(col("sub_id"), col("vec_id").cast("int").as("code"),
        col("sv").as("ce"))
  }

  /** Encode the corpus: (vec_id, sub_id, code) — each subvector's
    * nearest-codebook-entry id (squared-L2 argmin, ties to the lower
    * code). One broadcast join + one map-side-combinable min-struct
    * aggregate; at 100 TB this is the one full read the index build
    * pays, and its OUTPUT is the 64×-smaller table searches scan.
    */
  def encode(embeddings: DataFrame, codebooks: DataFrame,
             dim: Int, m: Int): DataFrame = {
    val dsub = dim / m
    val d2 = VecFns.norm2(col("sv")) - lit(2.0) * VecFns.dot(col("sv"), col("ce")) +
      VecFns.norm2(col("ce"))
    subvectors(embeddings, "vec_id", "embedding", m, dsub)
      .join(broadcast(codebooks), Seq("sub_id"))
      .groupBy("vec_id", "sub_id")
      .agg(min(struct(d2.as("d2"), col("code").as("code"))).as("__best"))
      .select(col("vec_id"), col("sub_id"), col("__best.code").as("code"))
  }

  /** ADC top-k: per query, the `k` highest approximate cosines over the
    * coded corpus (query side exact, corpus side quantized). `queries`
    * is (q_id, qe). Output: (q_id, c_id, rank, approx_cos) — rank by
    * (approx desc, c_id), self-matches excluded.
    */
  def search(queries: DataFrame, codebooks: DataFrame, codes: DataFrame,
             dim: Int, m: Int, k: Int): DataFrame = {
    val dsub = dim / m
    // the m × ksub × nq lookup table of exact query-to-code partials —
    // metadata-sized, broadcast to every code scan task
    val lut = subvectors(queries, "q_id", "qe", m, dsub)
      .join(broadcast(codebooks), Seq("sub_id"))
      .select(col("q_id"), col("sub_id"), col("code"),
        VecFns.dot(col("sv"), col("ce")).as("pdot"))
    val scored = codes
      .join(broadcast(lut), Seq("sub_id", "code"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("vec_id").as("c_id"))
      .agg(sum("pdot").as("approx_cos"))
    TopKPerKey.withRank(scored, Seq(col("q_id")),
        Seq(col("approx_cos").desc, col("c_id")), k = k, rankCol = "rank")
      .select(col("q_id"), col("c_id"), col("rank"), col("approx_cos"))
  }

  /** ADC restricted to an explicit candidate set (`(q_id, vec_id)`
    * pairs): the scoring join runs over ONLY the candidates' codes —
    * `|candidates| × m` lookup-table additions — instead of the whole
    * codes table. This is the scan [[IvfPqAnn]] pays after IVF probing
    * winnows the corpus to nprobe lists per query.
    */
  def searchCandidates(queries: DataFrame, codebooks: DataFrame,
                       codes: DataFrame, candidates: DataFrame,
                       dim: Int, m: Int, k: Int): DataFrame = {
    val dsub = dim / m
    val lut = subvectors(queries, "q_id", "qe", m, dsub)
      .join(broadcast(codebooks), Seq("sub_id"))
      .select(col("q_id"), col("sub_id"), col("code"),
        VecFns.dot(col("sv"), col("ce")).as("pdot"))
    val scored = candidates
      .join(codes, Seq("vec_id"))
      .join(broadcast(lut), Seq("q_id", "sub_id", "code"))
      .groupBy(col("q_id"), col("vec_id").as("c_id"))
      .agg(sum("pdot").as("approx_cos"))
    TopKPerKey.withRank(scored, Seq(col("q_id")),
        Seq(col("approx_cos").desc, col("c_id")), k = k, rankCol = "rank")
      .select(col("q_id"), col("c_id"), col("rank"), col("approx_cos"))
  }

  /** Exact-cosine re-rank of a `(q_id, c_id)` shortlist: fetch ONLY the
    * shortlisted candidates' raw embeddings (shortlist broadcast against
    * the corpus scan — the raw-vector table is read once, never
    * shuffled) and let the exact score pick the final top-k.
    */
  private[similarity] def rerank(queries: DataFrame, corpus: DataFrame,
                                 shortlist: DataFrame, k: Int): DataFrame = {
    val cand =
      VecFns.unitNormalized(corpus, col("vec_id").as("c_id"), col("embedding"), "cv")
        .join(broadcast(shortlist), Seq("c_id"))
    val exact = cand
      .join(broadcast(VecFns.unitNormalized(queries, col("q_id"), col("qe"), "qv")),
        Seq("q_id"))
      .select(col("q_id"), col("c_id"), VecFns.dot(col("cv"), col("qv")).as("cos"))
    TopKPerKey.withRank(exact, Seq(col("q_id")),
        Seq(col("cos").desc, col("c_id")), k = k, rankCol = "rank")
      .select(col("q_id"), col("c_id"), col("rank"), col("cos"))
  }

  /** ADC shortlist + exact re-rank (the Faiss `IndexRefineFlat` recipe):
    * [[search]] retrieves `refine × k` candidates per query from the
    * codes table, then [[rerank]] scores ONLY those with the exact
    * cosine. Recall@k becomes ADC's recall@(refine·k) — the cheap
    * quantized scan does the winnowing, the expensive exact math runs on
    * `nq × refine × k` rows total. Output: (q_id, c_id, rank, cos)
    * with `cos` exact.
    */
  def searchRefined(queries: DataFrame, codebooks: DataFrame, codes: DataFrame,
                    corpus: DataFrame, dim: Int, m: Int, k: Int,
                    refine: Int = 8): DataFrame = {
    require(refine >= 1, s"refine factor must be >= 1, got $refine")
    val shortlist = search(queries, codebooks, codes, dim, m, k * refine)
      .select(col("q_id"), col("c_id"))
    rerank(queries, corpus, shortlist, k)
  }
}
