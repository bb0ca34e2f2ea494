package graft.similarity

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VecFns

/** IVF-style approximate-nearest-neighbor search (inverted-file index):
  * the second scale path next to [[LshAnn]].
  *
  * Structure of a production IVF: a small coarse quantizer (nlist
  * centroids) partitions the corpus into inverted lists; a query probes
  * only its `nprobe` closest lists. The quantizer is k-means||-trained
  * ([[trainCentroids]], MLlib KMeans with cosine distance — the offline
  * training job a 100 TB deployment runs on a corpus sample), broadcast
  * to assign every vector via `nlist` cosine comparisons; search is then
  * an equi-join on the centroid id — candidate count shrinks by
  * ~nprobe/nlist versus brute force, with recall < 1 by construction
  * (rows-only check, like LSH ANN). [[sampleCentroids]] keeps the
  * cheaper deterministic-sample quantizer for comparison (the recall
  * spec measures trained vs sample at equal nlist/nprobe).
  */
object IvfAnn {

  /** K-means||-trained coarse quantizer: `nlist` centroids over the
    * corpus, cosine distance (matching the cosine list assignment),
    * fixed seed. Training cost is O(maxIter · n · nlist · dim) over the
    * TRAINING set — at 100 TB this runs on a corpus sample as an
    * offline job and the centroids are published as a tiny dim table;
    * here the corpus itself is small enough to train on directly.
    * Output: (cent_id, ce array<double>) — broadcast-sized.
    */
  def trainCentroids(embeddings: DataFrame, nlist: Int,
                     maxIter: Int = 10, seed: Long = 42L): DataFrame = {
    // Scale shape (the Faiss training recipe, same as PqAnn): the fit
    // runs over a BOUNDED deterministic hash-sample (~128·nlist
    // vectors; more points add cost, not centroid quality), collected
    // and fitted on the driver by spherical [[LocalKmeans]] — cosine
    // k-means on unit-normalized inputs. Training cost is INDEPENDENT
    // of corpus size; the corpus-sized pass that remains is the one
    // list ASSIGNMENT every index build pays. Zero vectors carry no
    // direction and are dropped from TRAINING only (assignment still
    // sees every row).
    val target = 128 * nlist
    val nz = embeddings
      .filter(VecFns.norm2(VecFns.asDouble(col("embedding"))) > 0)
    val n = nz.count()
    val sampled =
      if (n <= target) nz
      else {
        val gate = math.min(1000000L,
          (target.toDouble / n * 1000000L).ceil.toLong + 1L)
        nz.filter(pmod(xxhash64(col("vec_id"), lit(seed)), lit(1000000L)) < gate)
      }
    // nz holds only non-zero vectors, so the zero guard never fires here
    val pts = VecFns.unitNormalized(sampled, col("vec_id"), col("embedding"), "__nv")
      .orderBy("vec_id") // stable order => deterministic fit
      .collect()
      .map(_.getSeq[Double](1).toArray)
    require(pts.nonEmpty, "trainCentroids: no non-zero training vectors")
    val centers = LocalKmeans.fit(pts, nlist, maxIter, seed, spherical = true)
      .zipWithIndex.map { case (c, i) => (i.toLong, c.toSeq) }.toSeq
    embeddings.sparkSession.createDataFrame(centers).toDF("cent_id", "ce")
  }

  // trained-centroid memo: keyed by a caller-supplied corpus tag (the
  // data directory) + training params. The centroids are a tiny local
  // Seq (nlist × dim doubles), so caching them is the in-process
  // equivalent of the offline-training-job + published-dim-table shape a
  // 100 TB deployment uses — retraining identical, fixed-seed k-means on
  // every query invocation is pure waste (it cost ~5% of bench
  // wall-clock). Deliberately JVM-lifetime: training is deterministic,
  // so the memo can never go stale for a given (corpus, params) key.
  private val trainedMemo =
    new java.util.concurrent.ConcurrentHashMap[(String, Int, Int, Long),
      Seq[(Long, Seq[Double])]]

  /** [[trainCentroids]] memoized per (corpusTag, nlist, maxIter, seed);
    * the tag must uniquely identify the embedding corpus (e.g. its data
    * directory).
    */
  def trainedCentroidsFor(embeddings: DataFrame, corpusTag: String, nlist: Int,
                          maxIter: Int = 10, seed: Long = 42L): DataFrame = {
    val rows = trainedMemo.computeIfAbsent(
      (corpusTag, nlist, maxIter, seed),
      _ => trainCentroids(embeddings, nlist, maxIter, seed)
        .collect().toSeq.map(r => (r.getLong(0), r.getSeq[Double](1))))
    embeddings.sparkSession.createDataFrame(rows).toDF("cent_id", "ce")
  }

  /** Deterministic-sample quantizer (first `nlist` vectors by id): the
    * zero-training stand-in, kept for recall comparison against
    * [[trainCentroids]].
    */
  def sampleCentroids(embeddings: DataFrame, nlist: Int): DataFrame =
    embeddings.filter(col("vec_id") < nlist)
      .select(col("vec_id").as("cent_id"), col("embedding").as("ce"))

  /** Assign each vector to its nearest centroid id.
    *
    * Argmax via `max_by` over the ×nlist exploded stream instead of the
    * previous row_number window: max_by is a DeclarativeAggregate with
    * MAP-SIDE partial aggregation, so each vector's nlist candidate rows
    * collapse to one before the exchange and nothing is sorted — the
    * window shape shuffled all nlist rows per vector and sorted every
    * partition (guide §2.3 "aggregate before you shuffle"). The key
    * struct (__sim, -cent_id) reproduces the window's exact order —
    * cosine desc, then LOWEST centroid id (cent ids are distinct, so the
    * winner is unique; NaN sims rank greatest under both formulations).
    */
  def assign(embeddings: DataFrame, centroids: DataFrame): DataFrame =
    embeddings
      .crossJoin(broadcast(centroids))
      .select(col("vec_id"), col("embedding"), col("cent_id"),
        VecFns.cosine(col("embedding"), col("ce")).as("__sim"))
      .groupBy("vec_id")
      .agg(max_by(struct(col("cent_id"), col("embedding")),
        struct(col("__sim"), (-col("cent_id")).as("__t"))).as("__w"))
      .select(col("vec_id"), col("__w.embedding").as("embedding"),
        col("__w.cent_id").as("cent_id"))

  /** Probe assignment: each query's `nprobe` nearest centroid ids —
    * bounded-heap top-nprobe per query (plans/TopKPerKey, the same
    * operator the q58 rewrite proves identical to the row_number
    * window), so the probe set never sorts the exploded stream.
    */
  def probes(queries: DataFrame, centroids: DataFrame, nprobe: Int): DataFrame =
    graft.plans.TopKPerKey.withRank(
      queries
        .crossJoin(broadcast(centroids))
        .select(col("q_id"), col("qe"), col("cent_id"),
          VecFns.cosine(col("qe"), col("ce")).as("__sim")),
      Seq(col("q_id")), Seq(col("__sim").desc, col("cent_id")), nprobe,
      rankCol = "__rk")
      .select(col("q_id"), col("qe"), col("cent_id"))

  /** SemDeDup-style embedding dedup (Abbas et al. 2023 pattern): block
    * the corpus by inverted list (nearest centroid), then within each
    * list flag every vector that has a LOWER-id neighbor with cosine ≥
    * `tau` — the greedy keep-lowest-id canonicalization, decided by one
    * self-equi-join on the list id. Cost is O(Σ list_size²), bounded by
    * the quantizer: nlist grows with the corpus so list size stays
    * ~n/nlist (k-means-trained lists are also balanced, unlike a raw
    * sample's Voronoi cells — at 100 TB [[trainCentroids]] runs as an
    * offline job over a corpus sample).
    *
    * Versus d06's banded-LSH blocking: LSH bounds candidates
    * probabilistically per signature band; inverted-list blocking bounds
    * them geometrically per Voronoi cell — the variant every
    * embedding-curation pipeline ships, because the same cluster
    * assignment is reused for diversity sampling.
    *
    * Output: (vec_id, cent_id, is_dup) for EVERY vector — the curation
    * verdict, not just the pairs.
    */
  def semDedup(embeddings: DataFrame, nlist: Int, tau: Double,
               centroids: Option[DataFrame] = None): DataFrame = {
    val cents = centroids.getOrElse(trainCentroids(embeddings, nlist))
    val nrm = (v: org.apache.spark.sql.Column) => sqrt(VecFns.norm2(VecFns.asDouble(v)))
    val lists = graft.CacheRegistry.track(
      assign(embeddings, cents)
        .withColumn("nrm", nrm(col("embedding")))
        .cache())
    val dups = lists.as("a")
      .join(lists.as("b"),
        col("a.cent_id") === col("b.cent_id") && col("a.vec_id") < col("b.vec_id"))
      .filter(
        VecFns.dot(VecFns.asDouble(col("a.embedding")), VecFns.asDouble(col("b.embedding"))) /
          (col("a.nrm") * col("b.nrm")) >= tau)
      .select(col("b.vec_id").as("vec_id")).distinct()
    lists.select(col("vec_id"), col("cent_id"))
      .join(dups.withColumn("__d", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cent_id"),
        coalesce(col("__d"), lit(false)).as("is_dup"))
  }

  /** IVF ANN top-k: queries = vectors with vec_id < nQueries (mirroring
    * the brute-force d05 query set). Output (q_id, c_id, rank, cos).
    *
    * The list-search phase (the O(candidates) hot path) carries
    * precomputed norms, so scoring is 1 dot + 1 divide per candidate
    * instead of cosine's 3 dots; the quantizer phases keep plain cosine
    * (only nlist comparisons per vector). Same double association, so
    * scores are bit-identical to the cosine formulation.
    */
  def topK(embeddings: DataFrame, nQueries: Int, k: Int,
           nlist: Int, nprobe: Int,
           centroids: Option[DataFrame] = None): DataFrame = {
    val cents = centroids.getOrElse(trainCentroids(embeddings, nlist))
    val nrm = (v: org.apache.spark.sql.Column) => sqrt(VecFns.norm2(VecFns.asDouble(v)))
    val lists = assign(embeddings, cents)
      .withColumn("c_nrm", nrm(col("embedding")))
    val qs = probes(
      embeddings.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("q_id"), col("embedding").as("qe")),
      cents, nprobe)
      .withColumn("q_nrm", nrm(col("qe")))
    val scored = qs
      .join(lists, Seq("cent_id"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("c_id"),
        (VecFns.dot(VecFns.asDouble(col("qe")), VecFns.asDouble(col("embedding"))) /
          (col("q_nrm") * col("c_nrm"))).as("cos"))
    // bounded-heap top-k (plans/TopKPerKey): no sort of the probed lists
    graft.plans.TopKPerKey.withRank(scored, Seq(col("q_id")),
        Seq(col("cos").desc, col("c_id")), k, rankCol = "rank")
      .select(col("q_id"), col("c_id"), col("rank"), round(col("cos"), 4).as("cos"))
  }
}
