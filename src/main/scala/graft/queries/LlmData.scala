package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{CacheRegistry, Tables}
import graft.functions.{BloomFns, HashFns, TextFns, VecFns}
import graft.plans.TopKPerKey
import graft.similarity.{ConnectedComponents, IvfAnn, IvfPqAnn, LshAnn, NgramJaccard, ParagraphDedup, PqAnn, SubstringDedup}
import graft.multimodal.{BinaryColumns, Bmp, MediaFeatures, Wav}

/** LLM-training-data pipeline queries (SURVEY.md §2: d01–d07, t01–t04, m01):
  * dedup (exact / n-gram Jaccard / MinHash-LSH / SimHash / embedding),
  * similarity search, text analysis, multimodal column plumbing.
  *
  * Scale notes: candidate generation is always equi-join on
  * shingle/band/label/bucket keys — never an unbounded cross join. Exact
  * dedup and fingerprints are single hash-aggregates. All hashing is md5
  * (portable to the SQL oracle).
  */
object LlmData {

  private def docs(s: SparkSession, dir: String): DataFrame = Tables.documents(s, dir)
  private def emb(s: SparkSession, dir: String): DataFrame = Tables.embeddings(s, dir)
  /** Tie-nudged 4dp rounding: integer ratios and cosines of identical
    * doubles can sit exactly on 4dp ties where Spark and DuckDB double
    * rounding structurally differ; the shared +1e-7 nudge (applied in the
    * oracle SQL too) moves ties off the boundary consistently.
    */
  private def r4(c: Column): Column = Parity.r4e(c)

  /** Shared shingle-set SQL (word 3-grams, distinct per doc). */
  private val shinglesSql =
    """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
      |  FROM tok, LATERAL (SELECT unnest(range(1, len(t) - 1)) AS i) _
      |  WHERE len(t) >= 3)""".stripMargin

  /** Pairwise doc cosine via explicit double dot product (index order, so
    * it reproduces Spark's left-to-right `aggregate` fold bit-for-bit).
    */
  private def cosSql(a: String, b: String): String =
    s"""list_sum(list_transform(range(1, len($a)+1), i -> $a[i]::DOUBLE * $b[i]::DOUBLE)) /
       | (sqrt(list_sum(list_transform(range(1, len($a)+1), i -> $a[i]::DOUBLE * $a[i]::DOUBLE))) *
       |  sqrt(list_sum(list_transform(range(1, len($b)+1), i -> $b[i]::DOUBLE * $b[i]::DOUBLE))))""".stripMargin

  private val minhashK = 8
  private val bands = 4
  private val bandRows = 2
  /** d06 LSH blocking: 6 tables × 3 planes (see d06 comment). */
  private val d06Bands = 6
  private val d06PlanesPerBand = 3

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d01_exact_dedup" -> ((s, dir) =>
      docs(s, dir)
        .groupBy(md5(col("text").cast("binary")).as("h"))
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_dups"))),

    "d02_ngram_jaccard" -> ((s, dir) => {
      // Join candidate shingles on a fixed 16-hex-char md5 prefix, not the
      // raw shingle string: the pair join shuffles ~50 shingle rows per
      // doc, and fixed-width keys shuffle/compare cheaper than arbitrary
      // shingle text. The oracle hashes identically, so even a (≈2^-32)
      // collision would affect both engines the same way.
      //
      // Hot-shingle bound: stop-shingle filtering at df > 100 (see
      // NgramJaccard scaladoc for the O(Σ df²) scale argument); the
      // oracle mirrors the cap, so results stay hash-checked.
      NgramJaccard.pairs(docs(s, dir), minJaccard = 0.6, maxDf = 100)
        .select(col("doc_a"), col("doc_b"), r4(col("jaccard")).as("jaccard"))
    }),

    "d03_minhash" -> ((s, dir) => {
      val sig = HashFns.minhashSignatures(docs(s, dir), minhashK)
      // Cache the band keys: the self-join evaluates its input once per
      // side, and the upstream shingle-explode + 8-way md5 aggregation is
      // the expensive part of this query.
      val bk = CacheRegistry.track(HashFns.bandKeys(sig, bands, bandRows).cache())
      bk.as("a").join(bk.as("b"),
          col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
    }),

    "d04_simhash" -> ((s, dir) => HashFns.simhash(docs(s, dir), 16)),

    "d05_cosine_topk" -> ((s, dir) => {
      // Top-k via the custom bounded-heap operator (plans/TopKPerKey):
      // the window row_number formulation sorts EVERY candidate pair per
      // query; the heap keeps k and the rank window only sorts the k
      // survivors. Identical result under the (cos desc, c_id) total
      // order, so the oracle is unchanged.
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
      val c = e.select(col("vec_id").as("c_id"), col("embedding").as("ce"))
      val scored = broadcast(q).join(c, col("c_id") =!= col("q_id"))
        .withColumn("cos_raw", VecFns.cosine(col("qe"), col("ce")))
      TopKPerKey.withRank(scored, Seq(col("q_id")),
          Seq(col("cos_raw").desc, col("c_id")), k = 5, rankCol = "rank")
        .select(col("q_id"), col("c_id"), col("rank"), r4(col("cos_raw")).as("cos"))
    }),

    "d30_ivf_route" -> ((s, dir) => {
      // IVF ROUTING under the hash gate (VERDICT r7 #6): the
      // nearest-centroid assignment d08/d24 run their corpora through
      // (IvfAnn.assign — broadcast centroids, fused-cosine argmax, ties
      // to the lower centroid id), made oracle-checkable by using the
      // deterministic zero-training quantizer (sampleCentroids: the
      // first nlist vectors) instead of the k-means fit. Only the
      // TRAINING now lives outside the gate; the routing arithmetic —
      // the part a wrong plan or a broken cosine would corrupt — is
      // hash-checked per vector.
      val e = emb(s, dir)
      IvfAnn.assign(e, IvfAnn.sampleCentroids(e, 16))
        .select(col("vec_id"), col("cent_id"))
    }),

    "d31_pq_code" -> ((s, dir) => {
      // PQ ENCODING under the hash gate (VERDICT r7 #6): the
      // per-subvector code assignment d22/d24 build their indexes with
      // (PqAnn.encode — normalize, slice into m subspaces, broadcast
      // codebook join, squared-L2 min-struct argmin with ties to the
      // lower code), oracle-checked via the deterministic seed
      // codebooks. The oracle recomputes normalize→slice→d2→argmin in
      // SQL with the IDENTICAL expansion (‖sv‖² − 2·sv·ce + ‖ce‖², same
      // fold order), so the hash pins the exact arithmetic the trained
      // path executes.
      val e = emb(s, dir)
      PqAnn.encode(e, PqAnn.seedCodebooks(e, dim = 64, m = 4, ksub = 8),
        dim = 64, m = 4)
    }),

    "d06_embedding_neardup" -> ((s, dir) => {
      // Near-dup pairs (cos >= 0.35) with LSH-signature blocking, NOT
      // label blocking: label blocks are O(Σ n_label²) — one big label is
      // quadratic at 100 TB — while bucket population is bounded by
      // planesPerBand (grow with corpus size) and recall is bought back
      // with independent bands (1-(1-p^k)^L; ~0.8 at cos exactly 0.35 and
      // higher for closer pairs at k=3, L=6). Candidate pairs come from an
      // equi-join on (band, bkt), dedup, then one exact-cosine pass. The
      // oracle embeds the SAME hyperplanes (literal doubles, index-order
      // dot products), so the result is exactly hash-checked — the
      // approximation is in the blocking, mirrored on both sides.
      val cand = LshAnn.bandedCandidates(
        emb(s, dir), d06Bands, d06PlanesPerBand, 64, ordered = true)
      val v = emb(s, dir).select(col("vec_id"), col("embedding"))
      cand
        .join(v.select(col("vec_id").as("a_id"), col("embedding").as("ae")), "a_id")
        .join(v.select(col("vec_id").as("b_id"), col("embedding").as("be")), "b_id")
        .withColumn("cos_raw", VecFns.cosine(col("ae"), col("be")))
        .filter(col("cos_raw") >= 0.35)
        .select(col("a_id"), col("b_id"), r4(col("cos_raw")).as("cos"))
    }),

    // Banded multi-table LSH (6×3): single-table recall at these corpus
    // stats is ~0.04 (see NearDupSpec plane sweep), banding restores ~0.8.
    "d07_ann_lsh" -> ((s, dir) => {
      // planesPerBand sized to the corpus (see LshAnn.autoPlanesPerBand):
      // at sf0.01 (500 vecs) this resolves to 3 — identical to the fixed
      // setting the recall specs measure — and grows to 7 at sf0.1
      // (5k vecs), keeping within-bucket population ~64 instead of
      // letting candidate pairs go quadratic. The count() is one cheap
      // column-pruned scan, the same pattern an offline ANN indexer uses
      // to pick its parameters.
      val e = emb(s, dir)
      val planes = LshAnn.autoPlanesPerBand(e.count())
      LshAnn.topKBanded(e, bands = 6, planesPerBand = planes, k = 3)
    }),

    "d08_ann_ivf" -> ((s, dir) => {
      // trained quantizer, memoized per data dir (IvfAnn scaladoc: the
      // in-process stand-in for the offline training job)
      val e = emb(s, dir)
      IvfAnn.topK(e, nQueries = 10, k = 5, nlist = 16, nprobe = 4,
        centroids = Some(IvfAnn.trainedCentroidsFor(e, dir, nlist = 16)))
    }),

    "d15_semdedup" -> ((s, dir) => {
      // SemDeDup-style curation verdict: inverted-list (nearest-centroid)
      // blocking + within-list cosine >= tau, keep-lowest-id. Rows-only
      // (like d07/d08: the centroid argmax depends on ulp-level cosine
      // comparisons no portable SQL reproduces); differential spec
      // asserts verdict correctness against an in-list brute force.
      val e = emb(s, dir)
      IvfAnn.semDedup(e, nlist = 16, tau = 0.35,
        centroids = Some(IvfAnn.trainedCentroidsFor(e, dir, nlist = 16)))
    }),

    "d11_dup_clusters" -> ((s, dir) =>
      // Transitive closure of the MinHash candidate pairs: the cluster-
      // canonicalization step a real dedup pipeline runs after pairing
      // (one representative per duplicate cluster). Distributed min-label
      // propagation (ConnectedComponents scaladoc has the scale story);
      // the oracle computes the same closure with a recursive CTE.
      ConnectedComponents.dupClusters(docs(s, dir), defs("d03_minhash")(s, dir))),

    "d12_contamination" -> ((s, dir) => {
      // Benchmark decontamination: flag corpus docs sharing any verbatim
      // word 8-gram with a held-out benchmark set (stand-in: every 50th
      // doc), the standard n-gram-overlap check run before pretraining.
      // The benchmark's distinct 8-gram hashes are broadcast (eval sets
      // are tiny vs the corpus); one equi-join + count per doc — the
      // corpus side is never self-joined. Filter-before-explode: the
      // doc_id % 50 split pushes to the parquet scan on BOTH sides, so
      // the benchmark derivation explodes only ~2% of docs and the
      // corpus 8-gram stream is produced exactly once and never cached
      // (materializing the full corpus n-gram stream is a non-starter
      // at 100 TB; the probe side stays a streamed scan→explode→join).
      val base = docs(s, dir)
      def grams(df: DataFrame): DataFrame =
        HashFns.explodedNgrams(df, 8)
          .select(col("doc_id"), md5(col("s").cast("binary")).as("h"))
      val bench = grams(base.filter(col("doc_id") % 50 === 0)).select("h").distinct()
      grams(base.filter(col("doc_id") % 50 =!= 0))
        .join(broadcast(bench), "h")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_hits"))
    }),

    "d16_bloom_decontaminate" -> ((s, dir) => {
      // Decontamination again (cf. d12) but through a broadcast
      // Bloom-filter pre-filter (BloomFns scaladoc has the scale story)
      // and a different benchmark split (doc_id % 25, 4%) so the two
      // queries' outputs are independently checkable. The filter is
      // built over the benchmark's distinct 8-grams — one mergeable
      // aggregate job, only the sketch bytes reach the driver — then its
      // codegen'd might_contain probe runs INSIDE the corpus-side
      // scan→explode stage, so only the ~fpp false-positive fraction of
      // non-benchmark grams ever reaches the confirm join. The exact
      // broadcast equi-join on the gram itself kills those false
      // positives: the final result is exact (no false negatives by
      // construction), hence oracle-checked like d12.
      val base = docs(s, dir)
      def grams(df: DataFrame): DataFrame =
        HashFns.explodedNgrams(df, 8).select(col("doc_id"), col("s"))
      val bench = CacheRegistry.track(
        grams(base.filter(col("doc_id") % 25 === 0)).select("s").distinct().cache())
      // Size the filter from the real benchmark cardinality (cheap on
      // the cached frame); floored so tiny test SFs don't degenerate.
      val nKeys = math.max(bench.count(), 1024L)
      val filter = BloomFns.buildFilter(bench, col("s"), nKeys, 0.01)
      grams(base.filter(col("doc_id") % 25 =!= 0))
        .filter(BloomFns.mightContain(filter, col("s")))
        .join(broadcast(bench), "s")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_hits"))
    }),

    "d17_paragraph_dedup" -> ((s, dir) =>
      // Span-grain fuzzy dedup between d01 (doc-exact) and d03
      // (doc-fuzzy): 20-token chunks, k=4 md5-sliced MinHash signature
      // per chunk, duplicate iff the full signature recurs in another
      // doc (ParagraphDedup scaladoc). Output is the per-doc curation
      // verdict: chunk counts, duplicate fraction, keep decision.
      ParagraphDedup.verdict(docs(s, dir), paraSize = 20, keepBelow = 0.5)
        .select(col("doc_id"), col("n_paras"), col("n_dup_paras"),
          r4(col("dup_frac")).as("dup_frac"), col("keep"))),

    "d21_substring_dedup" -> ((s, dir) =>
      // Exact-substring pass (windowed ExactSubstr, SubstringDedup
      // scaladoc): overlapping 15-token windows, duplicate iff the
      // exact window recurs in another doc; consecutive duplicated
      // positions merge into spans. Catches cross-doc repeats d17's
      // chunk grid misses when they straddle a chunk boundary.
      SubstringDedup.verdict(docs(s, dir), w = 15, keepBelow = 0.5)
        .select(col("doc_id"), col("n_windows"), col("n_dup_windows"),
          col("n_spans"), col("max_span_tokens"),
          r4(col("dup_frac")).as("dup_frac"), col("keep"))),

    "d18_sequence_pack" -> ((s, dir) => {
      // Sequence packing (pretraining batch prep): documents packed in
      // doc_id order into fixed token-budget training sequences via an
      // EXCLUSIVE running token sum — seq = floor(prior_tokens/budget).
      // Deliberately shard-local: the global prefix sum a naive pack
      // wants is a single-partition window (the 100 TB scale-killer);
      // md5-sharding first (same determinism story as d10) lets every
      // worker pack its shard independently, which is exactly how real
      // pipelines parallelize packing. Output is per-sequence occupancy.
      val shard = (conv(substring(md5(col("doc_id").cast("string")
        .cast("binary")), 1, 8), 16, 10).cast("long") % 8).cast("int")
      val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      docs(s, dir)
        .select(col("doc_id"), shard.as("shard"),
          size(TextFns.tokens(col("text"))).cast("long").as("n_tok"))
        .withColumn("prior", coalesce(sum(col("n_tok")).over(w), lit(0L)))
        .groupBy(col("shard"),
          floor(col("prior") / lit(512.0)).cast("long").as("seq"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("tok_sum"))
    }),

    "d19_domain_mix" -> ((s, dir) => {
      // Token-BUDGETED training mixture (operators/Mixture scaladoc):
      // four curated domains get 60% of their tokens, the rest 25%,
      // filled exact-greedily in md5 order. The running sum is the
      // two-phase hash-sliced prefix scan — never one task per domain —
      // and the kept set plus cum_tok hash-match DuckDB's plain global
      // window, proving the distributed scan equals the single-window
      // semantics exactly.
      val pct = when(col("source").isin("src0", "src1", "src2", "src3"), 60)
        .otherwise(25)
      val hash = md5(col("doc_id").cast("string").cast("binary"))
      graft.operators.Mixture.budgetFill(
          docs(s, dir).select(col("doc_id"), col("source"),
            size(TextFns.tokens(col("text"))).cast("long").as("n_tok")),
          "source", hash, col("doc_id"), col("n_tok"), pct)
        .select(col("doc_id"), col("source"), col("n_tok"),
          col("__cum").as("cum_tok"))
    }),

    "d20_epoch_mix" -> ((s, dir) => {
      // Epoch-based mixture materialization (the counterpart of d19's
      // budget TRUNCATION): a mix spec also UPSAMPLES — "2.5 epochs of
      // curated, 0.8 of web". Fractional epochs are deterministic, not
      // sampled: every doc repeats floor(epochs) times, and the same
      // md5 %100 bucket d10/d13 split on decides which docs carry the
      // fractional extra epoch — reproducible under any partitioning,
      // and each output row carries its epoch index (downstream
      // shuffling/packing treats copies as distinct rows). explode of a
      // per-row sequence is flatMap-shaped: no shuffle, no join, output
      // ∝ Σ copies — the 100 TB cost is the data you asked for, never
      // an all-pairs blowup.
      val bucket = (conv(substring(md5(col("doc_id").cast("string")
        .cast("binary")), 1, 8), 16, 10).cast("long") % 100).cast("int")
      val pctEpochs = when(col("source").isin("src0", "src1", "src2", "src3"),
        250).otherwise(80) // percent: 250 = 2.5 epochs, 80 = 0.8
      val copies = (floor(pctEpochs / 100) +
        when(bucket < pctEpochs % 100, 1).otherwise(0)).cast("int")
      docs(s, dir)
        .select(col("doc_id"), col("source"), copies.as("copies"))
        .filter(col("copies") > 0)
        .select(col("doc_id"), col("source"), col("copies"),
          explode(sequence(lit(1), col("copies"))).as("epoch"))
    }),

    "d27_vocab_oov" -> ((s, dir) => {
      // Tokenizer-prep vocabulary + OOV audit: the frequency-ranked
      // top-V vocabulary (the first step of training any BPE/WordPiece
      // tokenizer: count, rank, truncate) and every document's
      // out-of-vocabulary fraction under it — the coverage metric that
      // decides V. Global top-V is orderBy+limit, which Spark plans as
      // TakeOrderedAndProject: per-partition bounded top-V heaps merged
      // on the driver — V rows of driver state, never a global sort,
      // never a single-task funnel (the count table at 100 TB is
      // |vocabulary types|, millions of rows — the heap merge reduces
      // each partition to V before anything moves). The tiny vocabulary
      // broadcasts back over one token scan.
      val toks = docs(s, dir).select(col("doc_id"),
        explode(TextFns.tokens(col("text"))).as("tok"))
      val vocab = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("tok")).limit(16)
        .select(col("tok"), lit(true).as("__in"))
      toks.join(broadcast(vocab), Seq("tok"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tok"),
          sum(when(col("__in").isNull, 1L).otherwise(0L)).as("n_oov"))
        .select(col("doc_id"), col("n_tok"), col("n_oov"),
          r4(col("n_oov").cast("double") / col("n_tok")).as("oov_rate"))
    }),

    "t12_perplexity_filter" -> ((s, dir) => {
      // The CCNet head/middle/tail split — the published recipe behind
      // most public pretraining corpora: score every document's
      // perplexity under an LM, cut the corpus at the perplexity
      // terciles, keep head+middle. The LM here is the self-derived
      // Jelinek-Mercer-interpolated bigram model (0.7·P_bigram +
      // 0.3·P_unigram — interpolation is what t11's pure bigram lacks:
      // a rare-but-valid transition no longer scores -inf-ish, the
      // unigram floor carries it). Shapes are all t08/t11 machinery:
      // two map-side-combinable count aggregates, one equi-join on the
      // bigram key, exact DECIMAL(18,8) contribution sums. The tercile
      // thresholds are one exact-percentile aggregate over the PER-DOC
      // score table (corpus-metadata-sized: one row per document;
      // at larger scale substitute a sampled quantile) broadcast back
      // over it. Threshold compares need no extra rounding: ppl values
      // sit on the 4dp grid and interpolated terciles land ≥3.3e-5
      // from any grid point (or exactly ON a tied data value, where
      // both engines produce the identical double), so Spark and
      // DuckDB bucket identically.
      val t = TextFns.tokens(col("text"))
      val bigrams = docs(s, dir).select(col("doc_id"),
          explode(zip_with(
            slice(t, lit(1), size(t) - 1), slice(t, lit(2), size(t) - 1),
            (a, b) => struct(a.as("prev"), b.as("cur")))).as("bg"))
        .select(col("doc_id"), col("bg.prev").as("prev"), col("bg.cur").as("cur"))
      val perDoc = CacheRegistry.track(bigrams
        .groupBy("doc_id", "prev", "cur").agg(count(lit(1)).as("c"))
        .cache())
      // bigram-vocabulary counts feed BOTH the context aggregate and the
      // scoring join — cache the (much smaller than perDoc) table so the
      // aggregate over the cached perDoc runs once
      val bc = CacheRegistry.track(perDoc.groupBy("prev", "cur")
        .agg(sum("c").as("cbg")).cache())
      val ctx = bc.groupBy("prev").agg(sum("cbg").as("cctx"))
      // Unigram counts DERIVED from the cached bigram table instead of a
      // second corpus-wide explode+aggregate (guide §1.2 step 1): every
      // token occurrence is either some bigram's `cur` (w_2..w_n) or its
      // document's FIRST token (w_1), so count(tok) = Σ cbg over
      // cur=tok + first-token occurrences. The first-token pass is one
      // cheap per-doc projection (no explode, one row per doc); the
      // heavy token stream is scanned exactly once for the whole query.
      val firstTok = docs(s, dir)
        .select(element_at(TextFns.tokens(col("text")), 1).as("cur"))
        .filter(col("cur").isNotNull)
        .groupBy("cur").agg(count(lit(1)).as("cu"))
      val uni = bc.groupBy("cur").agg(sum("cbg").as("cu"))
        .unionAll(firstTok)
        .groupBy("cur").agg(sum("cu").as("cu"))
      val tot = uni.agg(sum("cu").cast("double").as("n"))
      val lp = bc.join(ctx, "prev").join(uni, "cur")
        .crossJoin(broadcast(tot))
        .select(col("prev"), col("cur"),
          round(log(lit(0.7) * col("cbg").cast("double") / col("cctx") +
            lit(0.3) * col("cu").cast("double") / col("n")), 8).as("lp"))
      // cache the per-doc score table: it feeds BOTH the tercile
      // aggregate and the final bucketing select, and it is
      // corpus-metadata-sized (one row per document) — without the cache
      // the perDoc⋈lp join and its aggregate run twice
      val ppl = CacheRegistry.track(perDoc.join(lp, Seq("prev", "cur"))
        .withColumn("contrib", (col("c") * col("lp")).cast("decimal(18,8)"))
        .groupBy("doc_id")
        .agg(sum("c").as("n_bigrams"), sum("contrib").as("lp_sum"))
        .select(col("doc_id"), col("n_bigrams"),
          r4(exp(-(col("lp_sum").cast("double") / col("n_bigrams")))).as("ppl"))
        .cache())
      val th = ppl.agg(
        expr("percentile(ppl, 1.0D/3.0D)").as("t1"),
        expr("percentile(ppl, 2.0D/3.0D)").as("t2"))
      ppl.crossJoin(broadcast(th))
        .select(col("doc_id"), col("n_bigrams"), col("ppl"),
          when(col("ppl") <= col("t1"), "head")
            .when(col("ppl") <= col("t2"), "middle")
            .otherwise("tail").as("bucket"),
          when(col("ppl") <= col("t2"), 1).otherwise(0).as("keep"))
    }),

    "d28_knn_classify" -> ((s, dir) => {
      // kNN quality/domain classifier — the fastText-classifier stage of
      // the public pretraining recipes (label a small human-curated seed
      // set, classify the corpus by similarity to it), expressed as
      // 5-NN majority vote over the embedding space. Seeds (vec_id < 50,
      // true labels from the table) BROADCAST — the labeled sample is
      // tiny by construction — so classification is ONE corpus scan with
      // a per-row bounded top-5 (TopKPerKey heap), no shuffle that grows
      // with the corpus; the vote is a (vec, label) count aggregate.
      // `correct` compares the vote to the held-back true label, so the
      // result doubles as the classifier's accuracy audit.
      val e = emb(s, dir)
      val seeds = e.filter(col("vec_id") < 50)
        .select(col("vec_id").as("s_id"), col("embedding").as("se"),
          col("label").as("s_label"))
      val rest = e.filter(col("vec_id") >= 50)
        .select(col("vec_id"), col("embedding").as("ve"), col("label"))
      val scored = rest.join(broadcast(seeds), col("vec_id") =!= col("s_id"))
        .withColumn("cos_raw", VecFns.cosine(col("ve"), col("se")))
      val nn = TopKPerKey.withRank(scored, Seq(col("vec_id")),
        Seq(col("cos_raw").desc, col("s_id")), k = 5, rankCol = "rank")
      val votes = nn.groupBy(col("vec_id"), col("label"), col("s_label"))
        .agg(count(lit(1)).as("votes"))
      TopKPerKey.withRank(votes, Seq(col("vec_id")),
          Seq(col("votes").desc, col("s_label")), k = 1, rankCol = "__r")
        .select(col("vec_id"), col("label"),
          col("s_label").as("pred_label"), col("votes"),
          when(col("label") === col("s_label"), 1).otherwise(0).as("correct"))
    }),

    "d29_split_leakage" -> ((s, dir) => {
      // Split-hygiene audit — d10's deterministic split composed with
      // d12's verbatim-8-gram overlap: which val/test documents share
      // ANY 8-gram with the train split (leakage there silently
      // inflates every eval score; this audit runs after each
      // re-split). Unlike d12, whose benchmark side is tiny and
      // broadcast, BOTH sides here are corpus-scale — so the shape is
      // one shuffled equi-join on the gram hash with each side deduped
      // first: cost ∝ total distinct grams, never a broadcast bet that
      // a 20% split fits in memory. The held-out side keys by
      // (doc, gram) distinct, so n_shared counts distinct leaked grams.
      val bucket = (conv(substring(
        md5(col("doc_id").cast("string").cast("binary")), 1, 8),
        16, 10).cast("long") % 100).cast("int")
      val d = docs(s, dir).withColumn("bucket", bucket)
      def grams(df: DataFrame): DataFrame =
        HashFns.explodedNgrams(df, 8)
          .select(col("doc_id"), md5(col("s").cast("binary")).as("h"))
      val train = grams(d.filter(col("bucket") < 80)).select("h").distinct()
      val held = grams(d.filter(col("bucket") >= 80))
      held.join(train, "h")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shared"))
        .join(d.select(col("doc_id"),
          when(col("bucket") < 90, "val").otherwise("test").as("split")),
          "doc_id")
        .select(col("doc_id"), col("split"), col("n_shared"))
    }),

    "d26_boilerplate_removal" -> ((s, dir) =>
      // Boilerplate REMOVAL (ParagraphDedup.removeBoilerplate scaladoc):
      // where d17 SCORES a document by its duplicated-chunk fraction,
      // this REWRITES it — chunks whose MinHash signature recurs in ≥2
      // distinct documents are dropped, the survivors re-joined in
      // order (the CCNet salvage pass: strip the templated spans, keep
      // the document). Oracle rebuilds the cleaned text in SQL —
      // hash equality proves chunking, signature, hot-set, and ordered
      // reassembly all match bit-for-bit.
      ParagraphDedup.removeBoilerplate(docs(s, dir), paraSize = 20,
          minDocs = 2)
        .select(col("doc_id"), col("n_paras"), col("n_removed"),
          col("text_clean"), col("n_tok_clean"))),

    "d32_chunk_windows" -> ((s, dir) => {
      // Context-window CHUNKING (the retrieval / pretraining chunker
      // d18's packer consumes): each document becomes fixed-size
      // character windows with overlap — 400-char chunks on a 300-char
      // stride, so consecutive chunks share 100 chars and no byte is
      // lost (the last window is allowed to run short). Pure built-ins
      // (sequence -> transform -> posexplode over SUBSTRINGS — one
      // narrow codegen'd projection, no shuffle at all until a consumer
      // asks for one), cost linear in corpus bytes x overlap factor.
      // The oracle recomputes every chunk in DuckDB and md5-hashes it —
      // boundary arithmetic is hash-exact per chunk, both engines
      // CHARACTER-indexed on UTF-8.
      val C = 400; val S = 300
      val d = docs(s, dir).select(col("doc_id"), col("text"))
        .withColumn("n", length(col("text")))
        .filter(col("n") > 0)
      val k = greatest(ceil((col("n") - lit(C)).cast("double") / S)
        .cast("int"), lit(0))
      d.select(col("doc_id"),
          posexplode(transform(sequence(lit(0), k),
            i => substring(col("text"), i * S + 1, lit(C)))))
        .select(col("doc_id"), col("pos").cast("long").as("chunk_id"),
          length(col("col")).cast("long").as("chunk_chars"),
          md5(col("col")).as("chunk_md5"))
    }),

    "d25_global_shuffle" -> ((s, dir) => {
      // Deterministic global training-order shuffle — the last stage of
      // the pretraining chain (mix d19/d20 → pack d18 → SHUFFLE): every
      // example gets a seeded pseudorandom position, identical under any
      // partitioning or cluster size. Spark's own rand()/repartition
      // shuffles are NOT replay-stable (task retries resample); a seeded
      // hash order is — and position-in-order is computed by the same
      // two-phase hash-sliced prefix scan as d19 (Mixture.hashPrefixSum
      // with one constant domain and weight 1): global row_number in
      // (md5(seed ‖ doc_id), doc_id) order with NO single-partition
      // window — the slice offsets are a broadcast metadata table, the
      // only per-row window is slice-local. The oracle is DuckDB's plain
      // global row_number over the same order: hash equality proves the
      // distributed scan IS the global permutation.
      val hash = md5(concat(lit("shuffle-42:"),
        col("doc_id").cast("string")).cast("binary"))
      graft.operators.Mixture.hashPrefixSum(
          docs(s, dir).select(col("doc_id"), col("source"))
            .withColumn("part", lit(0)),
          "part", hash, col("doc_id"), lit(1L))
        .select(col("doc_id"), col("source"),
          (col("__cum") - 1).cast("long").as("pos"))
    }),

    "d22_ann_pq" -> ((s, dir) => {
      // Product-quantization ANN (PqAnn scaladoc): 64-dim vectors → 16
      // subspaces × 32-entry trained codebooks (16 B/vector, 16× smaller
      // than the raw corpus — the memory scale path, vs d07's hash
      // blocking and d08's inverted lists); search = broadcast
      // query-LUT + equi-join + one sum aggregate, then an exact
      // re-rank of the ADC top-(8·k) shortlist (searchRefined — the
      // Faiss refine stage). m/ksub picked by a measured recall sweep
      // (ADC-only: 8×16 → 0.16 recall@5, 16×32 → 0.42 — the synthetic
      // embeddings are near-isotropic, the hard case for PQ); the
      // refine stage lifts final recall@5 to ADC's recall@40 at a cost
      // of nq × 40 exact dot products. Approximate by construction →
      // rows-only; PqAnnSpec measures recall vs exact.
      val e = emb(s, dir)
      val cb = PqAnn.codebooksFor(e, dir, dim = 64, m = 16, ksub = 32)
      val codes = PqAnn.encode(e, cb, dim = 64, m = 16)
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
      PqAnn.searchRefined(q, cb, codes, e, dim = 64, m = 16, k = 5)
        .select(col("q_id"), col("c_id"), col("rank"),
          r4(col("cos")).as("cos"))
    }),

    "d24_ann_ivfpq" -> ((s, dir) => {
      // IVF routing × PQ scanning × exact re-rank composed (IvfPqAnn
      // scaladoc) — the production billion-vector configuration: probe
      // 4 of 16 inverted lists (d08's winnowing), ADC-score only those
      // lists' 16-byte codes (d22's representation), re-rank the
      // shortlist exactly. Same nlist/nprobe as d08 and the same m/ksub
      // as d22, so the recall spec isolates what each composition stage
      // costs. Approximate by construction → rows-only; AnnSpec
      // measures recall vs exhaustive probing.
      IvfPqAnn.topK(emb(s, dir), dir, nQueries = 10, k = 5,
          nlist = 16, nprobe = 4, dim = 64, m = 16, ksub = 32)
        .select(col("q_id"), col("c_id"), col("rank"),
          r4(col("cos")).as("cos"))
    }),

    "d23_incremental_dedup" -> ((s, dir) => {
      // Dedup-on-ingest — the nightly shape of a GROWING pretraining
      // corpus: the already-ingested 75% of documents has its MinHash
      // signatures INDEXED in a transactional table; the new 25% batch
      // deduplicates by probing that index, so the base corpus text is
      // never re-read, re-hashed, or self-joined — per-ingest cost is
      // ∝ batch size plus one index probe, not corpus size. A batch
      // doc is a CROSS dup if its full 8-hash signature matches an
      // index entry, a WITHIN dup if a lower-doc_id batch doc shares
      // its signature; survivors' signatures are appended to the index
      // in the same run (one atomic TxLog commit), and idx_rows —
      // answered metadata-only by statsAggregate — proves the index is
      // ready for the next batch. The probe broadcasts the BATCH
      // signature set against the streamed index scan (batch ≪ index
      // at scale): the index is read once, never shuffled.
      val d = docs(s, dir)
      val isNew = col("doc_id") % 4 === 0
      // ONE signature pass over the corpus, split afterwards: the index
      // build and the batch probe previously each ran the full
      // shingle-explode + 8-way-md5 aggregation over their disjoint
      // slice — two scans, two explode/agg pipelines. Hashing once and
      // filtering the cached signature table yields byte-identical
      // index and batch rows for half the signature work (guide §1.2
      // step 1: don't compute things twice).
      val sigAll = CacheRegistry.track(
        HashFns.minhashSignatures(d, minhashK)
          .select(col("doc_id"),
            concat_ws("|", (0 until minhashK).map(i => col(s"h$i")): _*).as("sig"))
          .cache())
      val t = Lakehouse.tmpTable("d23-idx")
      graft.sources.TxLog.overwrite(sigAll.filter(!isNew), t)
      val batch = sigAll.filter(isNew)
      val hits = graft.sources.TxLog.read(s, t)
        .join(broadcast(batch.select("sig").distinct()), Seq("sig"))
        .select("sig").distinct()
      val flagged = batch
        .join(broadcast(hits.withColumn("__hit", lit(true))), Seq("sig"), "left")
        .withColumn("dup_cross", coalesce(col("__hit"), lit(false)))
        .withColumn("dup_within",
          row_number().over(Window.partitionBy("sig").orderBy("doc_id")) > 1)
        .withColumn("keep", !(col("dup_cross") || col("dup_within")))
      graft.sources.TxLog.append(
        flagged.filter(col("keep")).select("doc_id", "sig"), t)
      flagged.select("doc_id", "dup_cross", "dup_within", "keep")
        .crossJoin(broadcast(graft.sources.TxLog.statsAggregate(s, t)
          .select(col("n_rows").as("idx_rows"))))
    }),

    "d09_editdist_neardup" -> ((s, dir) => {
      // Edit-distance near-dup pairs with prefix blocking (string
      // similarity join pattern, cf. ICDE 2022 compressed-index joins in
      // PAPERS.md): candidates share a 32-char prefix (equi-join — never
      // all pairs), then exact Levenshtein filters. The oracle mirrors the
      // blocking, so results are identical by construction.
      val d = docs(s, dir).select(
        col("doc_id"), col("text"),
        substring(col("text"), 1, 32).as("pfx"))
      d.as("a").join(d.as("b"),
          col("a.pfx") === col("b.pfx") && col("a.doc_id") < col("b.doc_id"))
        .withColumn("dist", levenshtein(col("a.text"), col("b.text")))
        .filter(col("dist") <= 30)
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"), col("dist"))
    }),

    "q28_approx_stats" -> ((s, dir) =>
      // Sketch aggregates (rows-only: sketch internals are engine-
      // specific): HLL distinct users and approximate value percentiles
      // per event type — the O(1)-memory path for 100 TB cardinality and
      // distribution questions. Accuracy is spec-asserted vs exact.
      Tables.events(s, dir)
        .groupBy("event_type")
        .agg(
          approx_count_distinct(col("user_id"), 0.02).as("approx_users"),
          round(percentile_approx(col("value"), lit(0.5), lit(1000)), 4).as("p50"),
          round(percentile_approx(col("value"), lit(0.95), lit(1000)), 4).as("p95"),
          count(lit(1)).as("n"))),

    "d10_split_assign" -> ((s, dir) => {
      // Deterministic 80/10/10 train/val/test assignment: md5-bucket of
      // the doc id — stable under any partitioning/cluster size (unlike
      // rand()/sampleBy, whose draw depends on partition layout), so the
      // split is reproducible forever and portable to the SQL oracle.
      val bucket = (conv(substring(md5(col("doc_id").cast("string").cast("binary")), 1, 8),
        16, 10).cast("long") % 100).cast("int")
      docs(s, dir).select(
        col("doc_id"), col("lang"),
        bucket.as("bucket"),
        when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test").as("split"))
    }),

    "t01_lang_id" -> ((s, dir) =>
      docs(s, dir)
        .withColumn("pred_lang", TextFns.predictLang(col("text")))
        .select(
          col("doc_id"), col("lang"), col("pred_lang"),
          when(col("pred_lang") === col("lang"), 1).otherwise(0).as("correct"))),

    "t02_quality" -> ((s, dir) => {
      val toks = TextFns.tokens(col("text"))
      val nTok = size(toks)
      val avgTokLen = length(translate(col("text"), " ", "")) / nTok
      val punctN = length(col("text")) - length(translate(col("text"), ".,;:!?", ""))
      val stopRatio = TextFns.tokenCountIn(toks, TextFns.markers("en")) / nTok
      docs(s, dir).select(
        col("doc_id"),
        length(col("text")).as("n_chars_calc"),
        nTok.as("n_tok"),
        r4(avgTokLen).as("avg_tok_len"),
        punctN.as("punct_n"),
        r4(stopRatio).as("stop_ratio"),
        (when(nTok >= 20, 1).otherwise(0) +
          when(avgTokLen >= 3.0 && avgTokLen <= 8.0, 1).otherwise(0) +
          when(stopRatio > 0.01, 1).otherwise(0)).as("quality_score"))
    }),

    "t03_token_count" -> ((s, dir) => {
      val ws = size(TextFns.tokens(col("text")))
      val re = size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))
      docs(s, dir).select(
        col("doc_id"), ws.as("ws_tokens"), re.as("re_tokens"),
        r4(re.cast("double") / ws).as("tok_ratio"))
    }),

    "t05_tfidf" -> ((s, dir) => {
      // Top-3 TF-IDF terms per doc. idf is rounded to 8dp before scoring:
      // ln() differs by ulps between engines, and the round pins scores to
      // identical doubles so the rank ordering is cross-engine stable.
      val d = docs(s, dir)
      // Cache tf: it feeds both the df derivation and the scoring join, and
      // the explode+aggregate upstream is the expensive part of this query
      // (without the cache the whole pipeline evaluates twice).
      val tf = CacheRegistry.track(d
        .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        .cache())
      val nDocs = d.agg(countDistinct("doc_id").as("n_docs"))
      // (doc_id, term) is unique in tf, so count(*) == count(distinct doc_id).
      val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
        .crossJoin(broadcast(nDocs))
        .withColumn("idf", round(log(col("n_docs").cast("double") / col("df")), 8))
      val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("term"))
      tf.join(df.select("term", "idf"), "term")
        .withColumn("score", col("tf") * col("idf"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("doc_id"), col("term"), col("rank"), r4(col("score")).as("tfidf"))
    }),

    "t04_fingerprint" -> ((s, dir) =>
      docs(s, dir)
        .groupBy(TextFns.fingerprint(col("text")).as("fp"))
        .agg(count(lit(1)).as("n_docs"), min("doc_id").as("min_doc_id"))),

    "t06_repetition" -> ((s, dir) => {
      // Repetition-based quality stats (the Gopher/RefinedWeb-style
      // filters): type-token ratio, most-frequent-token fraction, and
      // most-frequent-bigram fraction, plus a composite flag. Duplicates
      // KEPT in the n-gram streams (repetition is the signal); all three
      // are explode -> hash-aggregate pipelines, joined back per doc.
      val toks = TextFns.tokens(col("text"))
      val base = docs(s, dir).select(
        col("doc_id"), size(toks).as("n_tok"),
        size(array_distinct(toks)).as("n_dist"))
      val tokTop = docs(s, dir)
        .select(col("doc_id"), explode(toks).as("t"))
        .groupBy("doc_id", "t").agg(count(lit(1)).as("c"))
        .groupBy("doc_id").agg(max("c").as("t_max"), sum("c").as("t_tot"))
      val bgTop = HashFns.tokenized(docs(s, dir), 2)
        .select(col("doc_id"), explode(HashFns.ngrams(col("toks"), 2)).as("b"))
        .groupBy("doc_id", "b").agg(count(lit(1)).as("c"))
        .groupBy("doc_id").agg(max("c").as("b_max"), sum("c").as("b_tot"))
      val dr = col("n_dist").cast("double") / col("n_tok")
      val bf = col("b_max").cast("double") / col("b_tot")
      base.join(tokTop, "doc_id").join(bgTop, Seq("doc_id"), "left")
        .select(
          col("doc_id"), col("n_tok"),
          r4(dr).as("distinct_ratio"),
          r4(col("t_max").cast("double") / col("t_tot")).as("top_tok_frac"),
          r4(bf).as("top_bigram_frac"),
          when(dr < 0.3 || coalesce(bf, lit(0.0)) > 0.1, 1).otherwise(0).as("flagged"))
    }),

    "t07_pii_redact" -> ((s, dir) => {
      // PII scrub (pre-training redaction pass). The synthetic corpus
      // carries no PII, so each doc gets a deterministic doc_id-derived
      // email + phone APPENDED first — the operator under test is
      // TextFns.redactPii (pure codegen'd regexp_replace, patterns valid
      // in both Java regex and RE2), and the oracle builds the identical
      // input, so counts and the redacted fingerprint are hash-checked.
      val pii = concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@mail.example.com or call 555-"), col("doc_id").cast("string"),
        lit(" today"))
      val red = TextFns.redactPii(pii)
      docs(s, dir).select(
        col("doc_id"),
        TextFns.matchCount(pii, TextFns.EmailRe).as("n_emails"),
        TextFns.matchCount(pii, TextFns.PhoneRe).as("n_phones"),
        length(red).as("n_chars_red"),
        md5(red.cast("binary")).as("redacted_fp"))
    }),

    "t08_unigram_lm" -> ((s, dir) => {
      // Perplexity-proxy quality score from a SELF-derived unigram LM:
      // corpus token frequencies → per-token ln p(t) (8dp-pinned, the t05
      // idf convention) → per-doc mean log-prob. Low mean log-prob =
      // unusual token distribution — the classic cheap LM-quality filter
      // when no external model is available. Per-term contributions are
      // cast to DECIMAL(18,8) so the per-doc sum is exact and
      // order-independent (a raw double sum's order differs between
      // engines); only the final mean is rounded.
      val d = docs(s, dir)
      // tf feeds both the global frequency table and the scoring join
      val tf = CacheRegistry.track(d
        .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("c"))
        .cache())
      val freq = tf.groupBy("term").agg(sum("c").as("cnt"))
      val total = freq.agg(sum("cnt").cast("double").as("total_tokens"))
      val lp = freq.crossJoin(broadcast(total))
        .select(col("term"),
          round(log(col("cnt").cast("double") / col("total_tokens")), 8).as("lp"))
      tf.join(lp, "term")
        .withColumn("contrib", (col("c") * col("lp")).cast("decimal(18,8)"))
        .groupBy("doc_id")
        .agg(sum("c").as("n_tok"), sum("contrib").as("lp_sum"),
          count(lit(1)).as("n_terms"))
        .select(col("doc_id"), col("n_tok"), col("n_terms"),
          r4(col("lp_sum").cast("double") / col("n_tok")).as("avg_logprob"))
    }),

    "t14_bpe_encode" -> ((s, dir) => {
      // Tokenizer APPLY (BpeTrainer.encodeCorpus scaladoc): train the
      // t13 merges, then encode the WHOLE corpus with them — per-doc
      // word/token counts under the real trained tokenizer (what d19's
      // token budgets should count at 100 TB). Vocabulary-sized encode
      // + one join + one aggregate. Rows-only like t13 (the merges are
      // sequential training state); BpeTrainerSpec gates encodeCorpus
      // differentially against a single-node whole-pipeline reference.
      val d = docs(s, dir)
      val words = d
        .select(explode(TextFns.tokens(col("text"))).as("word"))
        .filter(length(col("word")) > 0)
        .groupBy("word").agg(count(lit(1)).as("freq"))
      val merges = graft.operators.BpeTrainer.train(words, numMerges = 30)
      graft.operators.BpeTrainer.encodeCorpus(d, merges)
        .orderBy("doc_id")
    }),

    "t13_bpe_merges" -> ((s, dir) => {
      // BPE tokenizer TRAINING (operators/BpeTrainer scaladoc): the
      // iterative pair-merge loop d27's frequency-ranked vocabulary is
      // the first step of. Rows-only by design (the loop is sequential
      // state, not a single SQL expression); BpeTrainerSpec gates it
      // differentially against a single-node reference implementation
      // (same merges, same order). Output: the ordered merge table a
      // BPE tokenizer ships.
      import s.implicits._
      val words = docs(s, dir)
        .select(explode(TextFns.tokens(col("text"))).as("word"))
        .filter(length(col("word")) > 0)
        .groupBy("word").agg(count(lit(1)).as("freq"))
      graft.operators.BpeTrainer.train(words, numMerges = 30)
        .zipWithIndex
        .map { case ((l, r), i) => (i + 1, l, r) }
        .toDF("rank", "left", "right")
    }),

    "t11_bigram_lm" -> ((s, dir) => {
      // Bigram-LM quality score — t08's unigram proxy upgraded one
      // order: per-doc mean ln P(w_i | w_{i-1}) under the self-derived
      // bigram model (P = c(prev,cur) / c(prev-as-context)). Docs whose
      // transitions are corpus-typical score high; shuffled or templated
      // token streams score low even when their unigram mix is normal —
      // the signal the unigram filter cannot see. Bigrams come from one
      // zip_with over the token array (flatMap-shaped, no join, no
      // window); counts are two map-side-combinable aggregates; scoring
      // is one equi-join on the bigram key. Per-bigram ln p is 8dp-pinned
      // and contributions sum in DECIMAL(18,8) (exact, order-independent
      // — the t08 parity recipe), only the final mean rounds.
      val t = TextFns.tokens(col("text"))
      val bigrams = docs(s, dir).select(col("doc_id"),
          explode(zip_with(
            slice(t, lit(1), size(t) - 1), slice(t, lit(2), size(t) - 1),
            (a, b) => struct(a.as("prev"), b.as("cur")))).as("bg"))
        .select(col("doc_id"), col("bg.prev").as("prev"), col("bg.cur").as("cur"))
      val perDoc = CacheRegistry.track(bigrams
        .groupBy("doc_id", "prev", "cur").agg(count(lit(1)).as("c"))
        .cache())
      // bigram-vocabulary counts feed BOTH the context aggregate and the
      // scoring join — cache the (much smaller than perDoc) table so the
      // aggregate over the cached perDoc runs once
      val bc = CacheRegistry.track(perDoc.groupBy("prev", "cur")
        .agg(sum("c").as("cbg")).cache())
      val ctx = bc.groupBy("prev").agg(sum("cbg").as("cctx"))
      val lp = bc.join(ctx, "prev").select(col("prev"), col("cur"),
        round(log(col("cbg").cast("double") / col("cctx")), 8).as("lp"))
      perDoc.join(lp, Seq("prev", "cur"))
        .withColumn("contrib", (col("c") * col("lp")).cast("decimal(18,8)"))
        .groupBy("doc_id")
        .agg(sum("c").as("n_bigrams"), sum("contrib").as("lp_sum"))
        .select(col("doc_id"), col("n_bigrams"),
          r4(col("lp_sum").cast("double") / col("n_bigrams")).as("avg_logprob"))
    }),

    "t10_bm25" -> ((s, dir) => {
      // BM25 retrieval (k1=1.2, b=0.75, Lucene-style idf): the ranked
      // lexical-search pass a curation/eval pipeline runs next to the
      // embedding paths (d05/d07/d08). The "query" is data-derived for
      // determinism: the corpus' top-3 document-frequency terms. Shape:
      // two hash aggregates (tf, df) + broadcast of the 3-term query +
      // one equi-join — the per-term posting scan of a 100 TB search,
      // never a vocabulary-wide shuffle. Cross-engine double parity:
      // idf rounded to 8dp (t05 recipe), per-term contributions pivoted
      // to fixed columns so the 3-term sum associates left-to-right
      // identically in both engines.
      val d = docs(s, dir)
      val dl = d.select(col("doc_id"), size(TextFns.tokens(col("text"))).cast("long").as("dl"))
      val tf = CacheRegistry.track(d
        .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        .cache())
      val stats = dl.agg(sum("dl").cast("double").as("sumdl"),
        count(lit(1)).cast("double").as("n"))
      val qterms = tf.groupBy("term").agg(count(lit(1)).as("df"))
        .orderBy(col("df").desc, col("term")).limit(3)
        .withColumn("qrank", row_number().over(
          Window.orderBy(col("df").desc, col("term"))))
      val contrib = tf.join(broadcast(qterms), "term")
        .join(dl, "doc_id")
        .crossJoin(broadcast(stats))
        .withColumn("idf",
          round(log((col("n") - col("df") + 0.5) / (col("df") + 0.5) + 1.0), 8))
        .withColumn("contrib", col("idf") * (col("tf") * lit(2.2)) /
          (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / (col("sumdl") / col("n")))))
      val scored = contrib.groupBy("doc_id").agg(
        coalesce(max(when(col("qrank") === 1, col("contrib"))), lit(0.0)).as("c1"),
        coalesce(max(when(col("qrank") === 2, col("contrib"))), lit(0.0)).as("c2"),
        coalesce(max(when(col("qrank") === 3, col("contrib"))), lit(0.0)).as("c3"))
        .withColumn("score", col("c1") + col("c2") + col("c3"))
      scored.orderBy(col("score").desc, col("doc_id")).limit(20)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("score").desc, col("doc_id"))))
        .select(col("doc_id"), col("rank"), r4(col("score")).as("bm25"))
    }),

    "t09_heavy_hitters" -> ((s, dir) =>
      // Dominant corpus tokens via the custom Misra-Gries aggregate
      // (functions/HeavyHitters): O(capacity) state per partial buffer
      // instead of a full-vocabulary shuffle. Rows-only (estimates depend
      // on the partition layout by construction); the spec asserts the
      // sketch guarantees against exact counts.
      docs(s, dir)
        .select(explode(TextFns.tokens(col("text"))).as("term"))
        .agg(graft.functions.HeavyHitters
          .heavyHitters(col("term"), capacity = 64, emit = 20).as("hh"))
        .select(explode(col("hh")).as("h"))
        .select(col("h.term").as("term"), col("h.est").as("est"))),

    "d13_stratified_sample" -> ((s, dir) => {
      // Deterministic stratified downsampling: per-lang keep rates (the
      // dominant 'en' stratum at 20%, the rest at 60% — the standard
      // rebalancing move for a skewed corpus), decided by the same
      // md5-bucket as d10 so the sample is stable under any partitioning
      // and reproducible in SQL. A filter over a hash — no shuffle at all.
      val bucket = (conv(substring(md5(col("doc_id").cast("string").cast("binary")), 1, 8),
        16, 10).cast("long") % 100).cast("int")
      docs(s, dir)
        .select(col("doc_id"), col("lang"), bucket.as("bucket"))
        .filter(col("bucket") < when(col("lang") === "en", 20).otherwise(60))
    }),

    "d14_curation" -> ((s, dir) => {
      // End-to-end corpus curation: exact-dup canonicalization (keep the
      // lowest doc_id per normalized fingerprint — via the bounded-heap
      // dedup operator, k=1), quality gate (t02's composite score ≥ 2),
      // then the deterministic d10 split assignment. One composition a
      // real pre-training pipeline runs nightly; every stage reuses a
      // library operator.
      val toks = TextFns.tokens(col("text"))
      val nTok = size(toks)
      val avgTokLen = length(translate(col("text"), " ", "")) / nTok
      val stopRatio = TextFns.tokenCountIn(toks, TextFns.markers("en")) / nTok
      val q = when(nTok >= 20, 1).otherwise(0) +
        when(avgTokLen >= 3.0 && avgTokLen <= 8.0, 1).otherwise(0) +
        when(stopRatio > 0.01, 1).otherwise(0)
      val scored = docs(s, dir).select(
        col("doc_id"), col("lang"),
        TextFns.fingerprint(col("text")).as("fp"),
        q.as("quality_score"))
      val bucket = (conv(substring(md5(col("doc_id").cast("string").cast("binary")), 1, 8),
        16, 10).cast("long") % 100).cast("int")
      graft.operators.Cleaning.dedupLatest(scored, Seq("fp"), Seq(col("doc_id")))
        .filter(col("quality_score") >= 2)
        .select(col("doc_id"), col("lang"), col("quality_score"),
          when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test").as("split"))
    }),

    "m03_wav_features" -> ((s, dir) =>
      // REAL audio decode (multimodal/Wav scaladoc): per-doc synthesized
      // square-wave WAV bytes, genuinely RIFF-parsed back (magic, chunk
      // walk, PCM demux) into format fields + peak/RMS. The synth is
      // closed-form, so the oracle PREDICTS every decoded value from
      // doc_id/n_chars alone — hash equality proves the encoder,
      // decoder, and feature math compose exactly. ORACLE-CHECKED,
      // unlike the deliberately-stubbed m01/m02 plumbing.
      MediaFeatures.wavFeatures(docs(s, dir))
        .select(col("doc_id"), col("n_bytes"), col("channels"),
          col("sample_rate"), col("bits"), col("n_frames"),
          col("duration_ms"), col("peak"), r4(col("rms")).as("rms"))),

    "m04_image_dhash" -> ((s, dir) =>
      // REAL image decode (multimodal/Bmp scaladoc): per-doc synthesized
      // 24bpp BMP (bottom-up rows, BGR, 4-byte padding — the format's
      // real quirks), decoded back into channel means and the 56-bit
      // perceptual difference hash over an 8×8 nearest-neighbor luma
      // thumbnail — the image near-dup key (image dedup becomes the
      // same equi-join shape as d03 text MinHash). Integer pattern math
      // end-to-end lets the oracle recompute mean_r/g/b AND the dhash
      // without touching a byte.
      MediaFeatures.imageFeatures(docs(s, dir))
        .select(col("doc_id"), col("n_bytes"), col("width"), col("height"),
          r4(col("mean_r")).as("mean_r"), r4(col("mean_g")).as("mean_g"),
          r4(col("mean_b")).as("mean_b"), col("dhash"))),

    "m06_audio_neardup" -> ((s, dir) => {
      // Audio dedup over a ZERO-CROSSING fingerprint — the audio leg of
      // the perceptual-dedup family (m05 images, d03 text): every doc's
      // clip is REALLY RIFF-decoded, the decoder counts channel-0 sign
      // changes (the classic O(1)-state periodicity feature), and the
      // fingerprint packs (peak, estimated period = (frames-1)/crossings,
      // channels, frames) into one 64-bit key. Dedup is then a hash
      // aggregate + equi-join on that key — never a sample-by-sample
      // compare. The synth keys params off doc_id % 23, so ~23 distinct
      // clips recur across the corpus (the re-encoded-jingle reality);
      // closed-form square waves let the oracle PREDICT the decoder's
      // crossing count ((frames-1) div period) without touching a byte —
      // hash equality proves encode → decode → DSP → fingerprint → dedup
      // compose exactly.
      val spark = s
      import org.apache.spark.sql.types._
      val rdd = docs(s, dir).select(col("doc_id"))
        .rdd.mapPartitions(_.map { r =>
          val d = r.getLong(0)
          val seed = d % 23L
          val amp = (1000L + seed * 800L).toInt
          val frames = (300L + seed * 16L).toInt
          val ch = (1L + seed % 2L).toInt
          val period = (6L + seed % 13L).toInt
          val dec = Wav.decode(Wav.encode(
            Wav.squareWave(amp, frames, ch, period), ch, sampleRate = 8000))
          org.apache.spark.sql.Row(d, dec.peak, dec.channels, dec.nFrames,
            dec.transitions)
        })
      val feat = spark.createDataFrame(rdd, StructType(Seq(
        StructField("doc_id", LongType, nullable = false),
        StructField("peak", IntegerType, nullable = false),
        StructField("channels", IntegerType, nullable = false),
        StructField("n_frames", LongType, nullable = false),
        StructField("transitions", IntegerType, nullable = false))))
      val est = when(col("transitions") > 0,
        floor((col("n_frames") - 1).cast("double") / col("transitions"))
          .cast("long")).otherwise(0L)
      val keyed = feat.select(col("doc_id"), est.as("est_period"),
        (col("peak").cast("long") * 1099511627776L +
          est * 1048576L + col("channels").cast("long") * 65536L +
          col("n_frames")).as("afp"))
      val groups = keyed.groupBy("afp")
        .agg(min("doc_id").as("canonical"), count(lit(1)).as("group_size"))
      keyed.join(groups, "afp")
        .select(col("doc_id"), col("afp"), col("est_period"),
          col("group_size"), col("canonical"),
          when(col("doc_id") =!= col("canonical"), 1).otherwise(0).as("is_dup"))
    }),

    "m05_image_neardup" -> ((s, dir) => {
      // Image dedup over the perceptual hash (m04's dhash as the join
      // key): each doc renders the pattern of its doc_id mod 37, so the
      // corpus contains ~37 distinct images with many re-encodes — the
      // common-crawl reality of one logo/banner under thousands of
      // URLs. Every image is REALLY decoded (BMP parse + thumbnail +
      // dhash); dedup is then one hash aggregate + equi-join on the
      // 56-bit key — the d03 MinHash shape, NOT an all-pairs pixel
      // compare — keeping the lowest doc_id per perceptual identity.
      // The oracle recomputes the dhash arithmetic per doc and applies
      // the same keep rule: hash equality proves decode + key + dedup
      // agree end-to-end.
      val spark = s
      import org.apache.spark.sql.types._
      val rdd = docs(s, dir).select(col("doc_id"))
        .rdd.mapPartitions(_.map { r =>
          val d = r.getLong(0)
          val seed = d % 37L
          val w = 24 + (seed % 41L).toInt
          val h = 16 + (seed % 29L).toInt
          val dec = Bmp.decode(Bmp.encode(w, h, Bmp.pattern(seed)))
          org.apache.spark.sql.Row(d, dec.dhash)
        })
      val hashed = spark.createDataFrame(rdd, StructType(Seq(
        StructField("doc_id", LongType, nullable = false),
        StructField("dhash", LongType, nullable = false))))
      val groups = hashed.groupBy("dhash")
        .agg(min("doc_id").as("canonical"), count(lit(1)).as("group_size"))
      hashed.join(groups, "dhash")
        .select(col("doc_id"), col("dhash"), col("group_size"),
          (col("doc_id") === col("canonical")).as("keep"))
    }),

    "m01_multimodal_meta" -> ((s, dir) =>
      // COMPRESSED-image decode under the oracle gate (multimodal/Png
      // scaladoc): each doc's payload column carries a real PNG —
      // zlib-deflated scanlines cycling through all five filters,
      // CRC-validated chunks — decoded executor-side back into channel
      // means + the 56-bit dhash, joined with the typed metadata
      // struct. The pattern math is integer end-to-end, so the oracle
      // recomputes every feature without touching a byte: hash equality
      // proves deflate → unfilter → features compose exactly (the m04
      // BMP gate, upgraded to a genuinely compressed format).
      BinaryColumns.extractMeta(docs(s, dir))),

    "m02_frame_sample" -> ((s, dir) => {
      // Frame-sample + resize plumbing over the decoded assets
      // (rows-only: the decode is a stub; the explode/resize column
      // mechanics are the real surface).
      val decoded = BinaryColumns.decode(BinaryColumns.assets(docs(s, dir)))
      val (rw, rh) = BinaryColumns.resizedDims(col("width"), col("height"), 512)
      BinaryColumns.sampleFrames(decoded, step = 4)
        .withColumn("resized_w", rw)
        .withColumn("resized_h", rh)
        .select("doc_id", "frame_idx", "frame_fp", "n_frames",
          "width", "height", "resized_w", "resized_h")
    }))

  private val simhashBits = 16

  private def simhashSql: String = {
    val sums = (0 until simhashBits)
      .map(j => s"sum(CASE WHEN (hv >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS s$j")
      .mkString(",\n   ")
    val assemble = (0 until simhashBits)
      .map(j => s"(CASE WHEN s$j > 0 THEN ${1L << j} ELSE 0 END)")
      .mkString(" + ")
    s"""WITH tok AS (
       |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
       |h AS (SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::BIGINT AS hv FROM tok),
       |sb AS (SELECT doc_id,
       |   $sums
       |  FROM h GROUP BY 1)
       |SELECT doc_id, CAST($assemble AS BIGINT) AS simhash FROM sb""".stripMargin
  }

  private def minhashSigSql: String = {
    val mins = (0 until minhashK).map { i =>
      val src = if (i < 4) "d" else "d2"
      s"min(substr($src, ${1 + 8 * (i % 4)}, 8)) AS h$i"
    }.mkString(",\n   ")
    s"""$shinglesSql,
       |shd AS (SELECT doc_id, md5(s) AS d, md5(md5(s)) AS d2 FROM sh),
       |sig AS (
       |  SELECT doc_id,
       |   $mins
       |  FROM shd GROUP BY 1)""".stripMargin
  }

  /** MinHash band CTE chain ending in `mpairs` (doc_a, doc_b) — shared by
    * the d03 oracle and d11's recursive-closure oracle.
    */
  private def minhashPairCtes: String = minhashSigSql + {
    val bandSelects = (0 until bands).map { b =>
      val cols = (b * bandRows until (b + 1) * bandRows).map(i => s"h$i").mkString(" || '|' || ")
      s"SELECT doc_id, $b AS band, md5($cols) AS key FROM sig"
    }.mkString("\n  UNION ALL\n  ")
    s""",
       |bk AS (
       |  $bandSelects),
       |mpairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bk a JOIN bk b
       |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "d01_exact_dedup" ->
      """SELECT md5(text) AS h, min(doc_id) AS keep_id, count(*) AS n_dups
        |FROM documents GROUP BY 1""".stripMargin,

    "d02_ngram_jaccard" -> (shinglesSql +
      """,
        |shk AS (SELECT doc_id, substr(md5(s), 1, 16) AS sk FROM sh),
        |shf AS (
        |  SELECT doc_id, sk FROM (
        |    SELECT doc_id, sk, count(*) OVER (PARTITION BY sk) AS df FROM shk)
        |  WHERE df <= 100),
        |sz AS (SELECT doc_id, count(*) AS sz FROM shf GROUP BY 1),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
        |  FROM shf a JOIN shf b ON a.sk = b.sk AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b,
        | round(common / (x.sz + y.sz - common) + 1e-7, 4) + 0 AS jaccard
        |FROM pairs JOIN sz x ON x.doc_id = doc_a JOIN sz y ON y.doc_id = doc_b
        |WHERE common / (x.sz + y.sz - common) >= 0.6""".stripMargin),

    "d03_minhash" -> (minhashPairCtes + "\nSELECT doc_a, doc_b FROM mpairs"),

    "d23_incremental_dedup" -> (minhashSigSql + {
      val cat = (0 until minhashK).map(i => s"h$i").mkString(" || '|' || ")
      s""",
         |sigc AS (SELECT doc_id, $cat AS sig FROM sig),
         |base AS (SELECT sig FROM sigc WHERE doc_id % 4 <> 0),
         |batch AS (SELECT doc_id, sig FROM sigc WHERE doc_id % 4 = 0),
         |flags AS (
         |  SELECT doc_id, sig,
         |    sig IN (SELECT sig FROM base) AS dup_cross,
         |    row_number() OVER (PARTITION BY sig ORDER BY doc_id) > 1 AS dup_within
         |  FROM batch)
         |SELECT doc_id, dup_cross, dup_within,
         |  NOT (dup_cross OR dup_within) AS keep,
         |  CAST((SELECT count(*) FROM base) +
         |       (SELECT count(*) FROM flags
         |        WHERE NOT (dup_cross OR dup_within)) AS BIGINT) AS idx_rows
         |FROM flags""".stripMargin
    }),

    "d11_dup_clusters" -> (minhashPairCtes.replaceFirst("WITH tok", "WITH RECURSIVE tok") +
      """,
        |edges AS (
        |  SELECT doc_a AS src, doc_b AS dst FROM mpairs
        |  UNION ALL
        |  SELECT doc_b AS src, doc_a AS dst FROM mpairs),
        |reach(doc_id, r) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.src, reach.r FROM edges e JOIN reach ON reach.doc_id = e.dst),
        |cl AS (SELECT doc_id, min(r) AS cluster_id FROM reach GROUP BY 1),
        |sz AS (SELECT cluster_id, count(*) AS cluster_size FROM cl GROUP BY 1)
        |SELECT cl.doc_id, cl.cluster_id, sz.cluster_size
        |FROM cl JOIN sz USING (cluster_id)""".stripMargin),

    "d12_contamination" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |   t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' ||
        |   t[i+4] || ' ' || t[i+5] || ' ' || t[i+6] || ' ' || t[i+7] AS s
        |  FROM tok, LATERAL (SELECT unnest(range(1, len(t) - 6)) AS i) _
        |  WHERE len(t) >= 8),
        |h AS (SELECT doc_id, md5(s) AS h FROM sh),
        |bench AS (SELECT DISTINCT h FROM h WHERE doc_id % 50 = 0)
        |SELECT doc_id, count(*) AS n_hits
        |FROM h JOIN bench USING (h)
        |WHERE doc_id % 50 <> 0
        |GROUP BY 1""".stripMargin,

    "d29_split_leakage" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |   t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' ||
        |   t[i+4] || ' ' || t[i+5] || ' ' || t[i+6] || ' ' || t[i+7] AS s
        |  FROM tok, LATERAL (SELECT unnest(range(1, len(t) - 6)) AS i) _
        |  WHERE len(t) >= 8),
        |h AS (SELECT doc_id, md5(s) AS h FROM sh),
        |b AS (
        |  SELECT doc_id,
        |   ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100 AS bucket
        |  FROM documents),
        |tr AS (
        |  SELECT DISTINCT h.h FROM h JOIN b USING (doc_id) WHERE bucket < 80),
        |held AS (
        |  SELECT h.doc_id, h.h,
        |   CASE WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
        |  FROM h JOIN b USING (doc_id) WHERE bucket >= 80)
        |SELECT doc_id, split, CAST(count(*) AS BIGINT) AS n_shared
        |FROM held JOIN tr USING (h)
        |GROUP BY 1, 2""".stripMargin,

    "d16_bloom_decontaminate" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |   t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' ||
        |   t[i+4] || ' ' || t[i+5] || ' ' || t[i+6] || ' ' || t[i+7] AS s
        |  FROM tok, LATERAL (SELECT unnest(range(1, len(t) - 6)) AS i) _
        |  WHERE len(t) >= 8),
        |bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 25 = 0)
        |SELECT doc_id, count(*) AS n_hits
        |FROM sh JOIN bench USING (s)
        |WHERE doc_id % 25 <> 0
        |GROUP BY 1""".stripMargin,

    "d17_paragraph_dedup" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |p AS (
        |  SELECT doc_id, unnest(range(0, (len(t) + 19) // 20)) AS para_idx, t
        |  FROM tok),
        |p2 AS (
        |  SELECT doc_id, para_idx, t[(para_idx*20+1):(para_idx*20+20)] AS pt
        |  FROM p),
        |psh AS (
        |  SELECT DISTINCT doc_id, para_idx,
        |    unnest(list_transform(range(1, len(pt) - 1),
        |           i -> pt[i] || ' ' || pt[i+1] || ' ' || pt[i+2])) AS s
        |  FROM p2 WHERE len(pt) >= 3),
        |sig AS (
        |  SELECT doc_id, para_idx,
        |    min(substr(d,1,8)) || min(substr(d,9,8)) ||
        |    min(substr(d,17,8)) || min(substr(d,25,8)) AS sig
        |  FROM (SELECT doc_id, para_idx, md5(s) AS d FROM psh) GROUP BY 1, 2),
        |dup AS (
        |  SELECT doc_id, para_idx,
        |    count(DISTINCT doc_id) OVER (PARTITION BY sig) >= 2 AS is_dup
        |  FROM sig)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_paras,
        | CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_paras,
        | round(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) / count(*) + 1e-7, 4) + 0 AS dup_frac,
        | (sum(CASE WHEN is_dup THEN 1 ELSE 0 END) / count(*)) < 0.5 AS keep
        |FROM dup GROUP BY 1""".stripMargin,

    "d21_substring_dedup" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |w AS (
        |  SELECT doc_id, i AS pos, md5(array_to_string(t[i:i+14], ' ')) AS h
        |  FROM tok, LATERAL (SELECT unnest(range(1, len(t) - 13)) AS i) _
        |  WHERE len(t) >= 15),
        |marked AS (
        |  SELECT doc_id, pos,
        |    count(DISTINCT doc_id) OVER (PARTITION BY h) >= 2 AS is_dup
        |  FROM w),
        |totals AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_windows,
        |    CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_windows
        |  FROM marked GROUP BY 1),
        |runs AS (
        |  SELECT doc_id,
        |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS g
        |  FROM marked WHERE is_dup),
        |spans AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
        |    CAST(max(run) + 14 AS BIGINT) AS max_span_tokens
        |  FROM (SELECT doc_id, g, count(*) AS run FROM runs GROUP BY 1, 2)
        |  GROUP BY 1)
        |SELECT t.doc_id, t.n_windows, t.n_dup_windows,
        | coalesce(s.n_spans, 0) AS n_spans,
        | coalesce(s.max_span_tokens, 0) AS max_span_tokens,
        | round(t.n_dup_windows::DOUBLE / t.n_windows + 1e-7, 4) + 0 AS dup_frac,
        | (t.n_dup_windows::DOUBLE / t.n_windows) < 0.5 AS keep
        |FROM totals t LEFT JOIN spans s ON t.doc_id = s.doc_id""".stripMargin,

    "d18_sequence_pack" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 8 AS INT) AS shard,
        |    len(string_split(text, ' ')) AS n_tok
        |  FROM documents),
        |c AS (
        |  SELECT shard, n_tok,
        |    COALESCE(SUM(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior
        |  FROM t)
        |SELECT shard, CAST(floor(prior / 512.0) AS BIGINT) AS seq,
        | CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS tok_sum
        |FROM c GROUP BY 1, 2""".stripMargin,

    "d19_domain_mix" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        |    md5(doc_id::VARCHAR) AS h
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source, n_tok,
        |    CAST(SUM(n_tok) OVER (PARTITION BY source ORDER BY h, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tok,
        |    CAST(SUM(n_tok) OVER (PARTITION BY source) AS BIGINT) AS tot
        |  FROM t)
        |SELECT doc_id, source, n_tok, cum_tok
        |FROM c
        |WHERE cum_tok * 100 <=
        |  (CASE WHEN source IN ('src0','src1','src2','src3') THEN 60 ELSE 25 END) * tot""".stripMargin,

    "m03_wav_features" ->
      """SELECT doc_id,
        | CAST(44 + (200 + n_chars % 800) * (1 + doc_id % 2) * 2 AS INT) AS n_bytes,
        | CAST(1 + doc_id % 2 AS INT) AS channels,
        | CAST(8000 AS INT) AS sample_rate,
        | CAST(16 AS INT) AS bits,
        | CAST(200 + n_chars % 800 AS BIGINT) AS n_frames,
        | CAST((200 + n_chars % 800) * 1000 // 8000 AS BIGINT) AS duration_ms,
        | CAST(1000 + (doc_id * 37) % 20000 AS INT) AS peak,
        | round(CAST(1000 + (doc_id * 37) % 20000 AS DOUBLE) + 1e-7, 4) + 0 AS rms
        |FROM documents""".stripMargin,

    // the m04 pattern-replication gate over the PNG codec's dims
    "m01_multimodal_meta" ->
      """WITH dims AS (
        |  SELECT doc_id, source, lang, n_chars,
        |    CAST(24 + doc_id % 37 AS INT) AS w,
        |    CAST(16 + doc_id % 31 AS INT) AS h
        |  FROM documents),
        |pix AS (
        |  SELECT doc_id, w, h, x, y,
        |    (3*x + 7*y + doc_id) % 256 AS r,
        |    (5*x + 11*y + 2*doc_id) % 256 AS g,
        |    (13*x + 17*y + 3*doc_id) % 256 AS b
        |  FROM dims,
        |    LATERAL (SELECT unnest(range(0, w)) AS x) _x,
        |    LATERAL (SELECT unnest(range(0, h)) AS y) _y),
        |means AS (
        |  SELECT doc_id,
        |    round(avg(r) + 1e-7, 4) + 0 AS mean_r,
        |    round(avg(g) + 1e-7, 4) + 0 AS mean_g,
        |    round(avg(b) + 1e-7, 4) + 0 AS mean_b
        |  FROM pix GROUP BY 1),
        |th AS (
        |  SELECT doc_id, i, j,
        |    (299*((3*x0 + 7*yy + doc_id) % 256)
        |     + 587*((5*x0 + 11*yy + 2*doc_id) % 256)
        |     + 114*((13*x0 + 17*yy + 3*doc_id) % 256)) // 1000 AS l0,
        |    (299*((3*x1 + 7*yy + doc_id) % 256)
        |     + 587*((5*x1 + 11*yy + 2*doc_id) % 256)
        |     + 114*((13*x1 + 17*yy + 3*doc_id) % 256)) // 1000 AS l1
        |  FROM dims,
        |    LATERAL (SELECT unnest(range(0, 8)) AS i) _i,
        |    LATERAL (SELECT unnest(range(0, 7)) AS j) _j,
        |    LATERAL (SELECT (j*w) // 8 AS x0, ((j+1)*w) // 8 AS x1,
        |                    (i*h) // 8 AS yy) _c),
        |dh AS (
        |  SELECT doc_id,
        |    CAST(sum(CASE WHEN l1 > l0
        |      THEN (1::BIGINT << (i*7 + j)) ELSE 0 END) AS BIGINT) AS dhash
        |  FROM th GROUP BY 1)
        |SELECT d.doc_id, 'image/png' AS mime, d.w AS width, d.h AS height,
        | m.mean_r, m.mean_g, m.mean_b, dh.dhash,
        | d.source AS origin, d.lang AS tag,
        | CAST(d.n_chars AS BIGINT) AS declared_size
        |FROM dims d
        |JOIN means m ON d.doc_id = m.doc_id
        |JOIN dh ON d.doc_id = dh.doc_id""".stripMargin,

    "m04_image_dhash" ->
      """WITH dims AS (
        |  SELECT doc_id,
        |    CAST(24 + doc_id % 41 AS INT) AS w,
        |    CAST(16 + doc_id % 29 AS INT) AS h
        |  FROM documents),
        |pix AS (
        |  SELECT doc_id, w, h, x, y,
        |    (3*x + 7*y + doc_id) % 256 AS r,
        |    (5*x + 11*y + 2*doc_id) % 256 AS g,
        |    (13*x + 17*y + 3*doc_id) % 256 AS b
        |  FROM dims,
        |    LATERAL (SELECT unnest(range(0, w)) AS x) _x,
        |    LATERAL (SELECT unnest(range(0, h)) AS y) _y),
        |means AS (
        |  SELECT doc_id,
        |    round(avg(r) + 1e-7, 4) + 0 AS mean_r,
        |    round(avg(g) + 1e-7, 4) + 0 AS mean_g,
        |    round(avg(b) + 1e-7, 4) + 0 AS mean_b
        |  FROM pix GROUP BY 1),
        |th AS (
        |  SELECT doc_id, i, j,
        |    (299*((3*x0 + 7*yy + doc_id) % 256)
        |     + 587*((5*x0 + 11*yy + 2*doc_id) % 256)
        |     + 114*((13*x0 + 17*yy + 3*doc_id) % 256)) // 1000 AS l0,
        |    (299*((3*x1 + 7*yy + doc_id) % 256)
        |     + 587*((5*x1 + 11*yy + 2*doc_id) % 256)
        |     + 114*((13*x1 + 17*yy + 3*doc_id) % 256)) // 1000 AS l1
        |  FROM dims,
        |    LATERAL (SELECT unnest(range(0, 8)) AS i) _i,
        |    LATERAL (SELECT unnest(range(0, 7)) AS j) _j,
        |    LATERAL (SELECT (j*w) // 8 AS x0, ((j+1)*w) // 8 AS x1,
        |                    (i*h) // 8 AS yy) _c),
        |dh AS (
        |  SELECT doc_id,
        |    CAST(sum(CASE WHEN l1 > l0
        |      THEN (1::BIGINT << (i*7 + j)) ELSE 0 END) AS BIGINT) AS dhash
        |  FROM th GROUP BY 1)
        |SELECT d.doc_id,
        | CAST(54 + (3*d.w + (4 - (3*d.w) % 4) % 4) * d.h AS INT) AS n_bytes,
        | d.w AS width, d.h AS height,
        | m.mean_r, m.mean_g, m.mean_b, dh.dhash
        |FROM dims d
        |JOIN means m ON d.doc_id = m.doc_id
        |JOIN dh ON d.doc_id = dh.doc_id""".stripMargin,

    "m06_audio_neardup" ->
      """WITH f AS (
        |  SELECT doc_id,
        |   1000 + (doc_id % 23) * 800 AS peak,
        |   300 + (doc_id % 23) * 16 AS frames,
        |   1 + (doc_id % 23) % 2 AS ch,
        |   6 + (doc_id % 23) % 13 AS period
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, peak, frames, ch,
        |   CAST(floor((frames - 1)::DOUBLE / period) AS BIGINT) AS flips
        |  FROM f),
        |h AS (
        |  SELECT doc_id,
        |   CAST(floor((frames - 1)::DOUBLE / flips) AS BIGINT) AS est_period,
        |   CAST(peak AS BIGINT) * 1099511627776
        |     + CAST(floor((frames - 1)::DOUBLE / flips) AS BIGINT) * 1048576
        |     + CAST(ch AS BIGINT) * 65536 + CAST(frames AS BIGINT) AS afp
        |  FROM g),
        |gr AS (
        |  SELECT afp, min(doc_id) AS canonical, count(*) AS group_size
        |  FROM h GROUP BY 1)
        |SELECT doc_id, afp, est_period,
        | CAST(group_size AS BIGINT) AS group_size, canonical,
        | CAST(CASE WHEN doc_id <> canonical THEN 1 ELSE 0 END AS INT) AS is_dup
        |FROM h JOIN gr USING (afp)""".stripMargin,

    "m05_image_neardup" ->
      """WITH seeds AS (SELECT DISTINCT doc_id % 37 AS seed FROM documents),
        |dims AS (
        |  SELECT seed, CAST(24 + seed % 41 AS INT) AS w,
        |         CAST(16 + seed % 29 AS INT) AS h
        |  FROM seeds),
        |th AS (
        |  SELECT seed, i, j,
        |    (299*((3*x0 + 7*yy + seed) % 256)
        |     + 587*((5*x0 + 11*yy + 2*seed) % 256)
        |     + 114*((13*x0 + 17*yy + 3*seed) % 256)) // 1000 AS l0,
        |    (299*((3*x1 + 7*yy + seed) % 256)
        |     + 587*((5*x1 + 11*yy + 2*seed) % 256)
        |     + 114*((13*x1 + 17*yy + 3*seed) % 256)) // 1000 AS l1
        |  FROM dims,
        |    LATERAL (SELECT unnest(range(0, 8)) AS i) _i,
        |    LATERAL (SELECT unnest(range(0, 7)) AS j) _j,
        |    LATERAL (SELECT (j*w) // 8 AS x0, ((j+1)*w) // 8 AS x1,
        |                    (i*h) // 8 AS yy) _c),
        |dh AS (
        |  SELECT seed,
        |    CAST(sum(CASE WHEN l1 > l0
        |      THEN (1::BIGINT << (i*7 + j)) ELSE 0 END) AS BIGINT) AS dhash
        |  FROM th GROUP BY 1),
        |hashed AS (
        |  SELECT d.doc_id, dh.dhash
        |  FROM (SELECT doc_id, doc_id % 37 AS seed FROM documents) d
        |  JOIN dh USING (seed)),
        |groups AS (
        |  SELECT dhash, min(doc_id) AS canonical,
        |         CAST(count(*) AS BIGINT) AS group_size
        |  FROM hashed GROUP BY 1)
        |SELECT h.doc_id, h.dhash, g.group_size,
        | h.doc_id = g.canonical AS keep
        |FROM hashed h JOIN groups g USING (dhash)""".stripMargin,

    "t11_bigram_lm" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |bg AS (
        |  SELECT doc_id, t[i] AS prev, t[i+1] AS cur
        |  FROM tok, LATERAL (SELECT unnest(range(1, len(t))) AS i) _
        |  WHERE len(t) >= 2),
        |pd AS (
        |  SELECT doc_id, prev, cur, CAST(count(*) AS BIGINT) AS c
        |  FROM bg GROUP BY 1, 2, 3),
        |bc AS (SELECT prev, cur, sum(c) AS cbg FROM pd GROUP BY 1, 2),
        |ctx AS (SELECT prev, sum(cbg) AS cctx FROM bc GROUP BY 1),
        |lp AS (
        |  SELECT prev, cur, round(ln(cbg::DOUBLE / cctx), 8) AS lp
        |  FROM bc JOIN ctx USING (prev))
        |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
        | round(sum(CAST(c * lp AS DECIMAL(18,8)))::DOUBLE / sum(c) + 1e-7, 4)
        |   + 0 AS avg_logprob
        |FROM pd JOIN lp USING (prev, cur) GROUP BY 1""".stripMargin,

    "d27_vocab_oov" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |vocab AS (
        |  SELECT tok FROM (
        |    SELECT tok, count(*) AS cnt FROM toks GROUP BY 1)
        |  ORDER BY cnt DESC, tok LIMIT 16)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
        | CAST(sum(CASE WHEN tok IN (SELECT tok FROM vocab)
        |   THEN 0 ELSE 1 END) AS BIGINT) AS n_oov,
        | round(sum(CASE WHEN tok IN (SELECT tok FROM vocab)
        |   THEN 0 ELSE 1 END)::DOUBLE / count(*) + 1e-7, 4) + 0 AS oov_rate
        |FROM toks GROUP BY 1""".stripMargin,

    "t12_perplexity_filter" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |bg AS (
        |  SELECT doc_id, t[i] AS prev, t[i+1] AS cur
        |  FROM tok, LATERAL (SELECT unnest(range(1, len(t))) AS i) _
        |  WHERE len(t) >= 2),
        |pd AS (SELECT doc_id, prev, cur, count(*) AS c FROM bg GROUP BY 1, 2, 3),
        |bc AS (SELECT prev, cur, sum(c) AS cbg FROM pd GROUP BY 1, 2),
        |ctx AS (SELECT prev, sum(cbg) AS cctx FROM bc GROUP BY 1),
        |uni AS (
        |  SELECT cur, count(*) AS cu
        |  FROM (SELECT unnest(t) AS cur FROM tok) GROUP BY 1),
        |tot AS (SELECT sum(cu)::DOUBLE AS n FROM uni),
        |lp AS (
        |  SELECT b.prev, b.cur,
        |   round(ln(0.7 * b.cbg::DOUBLE / c.cctx::DOUBLE
        |            + 0.3 * u.cu::DOUBLE / t2.n), 8) AS lp
        |  FROM bc b JOIN ctx c ON b.prev = c.prev
        |            JOIN uni u ON b.cur = u.cur, tot t2),
        |sc AS (
        |  SELECT doc_id, sum(c) AS n_bigrams,
        |   sum(CAST(c * lp AS DECIMAL(18,8))) AS lp_sum
        |  FROM pd JOIN lp USING (prev, cur) GROUP BY 1),
        |pp AS (
        |  SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams,
        |   round(exp(-(lp_sum::DOUBLE / n_bigrams)) + 1e-7, 4) + 0 AS ppl
        |  FROM sc),
        |th AS (SELECT quantile_cont(ppl, 1.0/3) AS t1,
        |              quantile_cont(ppl, 2.0/3) AS t2 FROM pp)
        |SELECT doc_id, n_bigrams, ppl,
        | CASE WHEN ppl <= t1 THEN 'head'
        |      WHEN ppl <= t2 THEN 'middle' ELSE 'tail' END AS bucket,
        | CAST(CASE WHEN ppl <= t2 THEN 1 ELSE 0 END AS INT) AS keep
        |FROM pp, th""".stripMargin,

    "d28_knn_classify" ->
      s"""WITH seeds AS (
         |  SELECT vec_id AS s_id, embedding AS se, label AS s_label
         |  FROM embeddings WHERE vec_id < 50),
         |r AS (
         |  SELECT vec_id, embedding AS ve, label
         |  FROM embeddings WHERE vec_id >= 50),
         |p AS (
         |  SELECT vec_id, label, s_id, s_label,
         |   ${cosSql("ve", "se")} AS cos
         |  FROM r, seeds),
         |nn AS (
         |  SELECT * FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id
         |                                 ORDER BY cos DESC, s_id) AS rnk
         |    FROM p) WHERE rnk <= 5),
         |v AS (
         |  SELECT vec_id, label, s_label, count(*) AS votes
         |  FROM nn GROUP BY 1, 2, 3)
         |SELECT vec_id, label, s_label AS pred_label,
         | CAST(votes AS BIGINT) AS votes,
         | CAST(CASE WHEN label = s_label THEN 1 ELSE 0 END AS INT) AS correct
         |FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
         |                                   ORDER BY votes DESC, s_label) AS r2
         |      FROM v) WHERE r2 = 1""".stripMargin,

    "d26_boilerplate_removal" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |p AS (
        |  SELECT doc_id, unnest(range(0, (len(t) + 19) // 20)) AS para_idx, t
        |  FROM tok),
        |p2 AS (
        |  SELECT doc_id, para_idx, t[(para_idx*20+1):(para_idx*20+20)] AS pt
        |  FROM p),
        |psh AS (
        |  SELECT DISTINCT doc_id, para_idx,
        |    unnest(list_transform(range(1, len(pt) - 1),
        |           i -> pt[i] || ' ' || pt[i+1] || ' ' || pt[i+2])) AS s
        |  FROM p2 WHERE len(pt) >= 3),
        |sig AS (
        |  SELECT doc_id, para_idx,
        |    min(substr(d,1,8)) || min(substr(d,9,8)) ||
        |    min(substr(d,17,8)) || min(substr(d,25,8)) AS sig
        |  FROM (SELECT doc_id, para_idx, md5(s) AS d FROM psh) GROUP BY 1, 2),
        |hot AS (
        |  SELECT sig FROM sig GROUP BY sig
        |  HAVING count(DISTINCT doc_id) >= 2),
        |marked AS (
        |  SELECT p2.doc_id, p2.para_idx, p2.pt,
        |    (s.sig IS NOT NULL AND s.sig IN (SELECT sig FROM hot)) AS dropit
        |  FROM p2 LEFT JOIN sig s
        |    ON p2.doc_id = s.doc_id AND p2.para_idx = s.para_idx)
        |SELECT doc_id,
        | CAST(count(*) AS BIGINT) AS n_paras,
        | CAST(sum(CASE WHEN dropit THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
        | coalesce(string_agg(CASE WHEN NOT dropit
        |   THEN array_to_string(pt, ' ') END, ' ' ORDER BY para_idx), '')
        |   AS text_clean,
        | CAST(coalesce(sum(CASE WHEN NOT dropit THEN len(pt) END), 0)
        |   AS BIGINT) AS n_tok_clean
        |FROM marked GROUP BY doc_id""".stripMargin,

    "d32_chunk_windows" ->
      """WITH k AS (
        |  SELECT doc_id, text,
        |   greatest(CAST(ceil((length(text) - 400) / 300.0) AS INT), 0) AS kk
        |  FROM documents WHERE length(text) > 0),
        |e AS (
        |  SELECT doc_id, text, unnest(generate_series(0, kk)) AS i FROM k)
        |SELECT doc_id, CAST(i AS BIGINT) AS chunk_id,
        | CAST(length(substr(text, CAST(i AS INT) * 300 + 1, 400)) AS BIGINT)
        |   AS chunk_chars,
        | md5(substr(text, CAST(i AS INT) * 300 + 1, 400)) AS chunk_md5
        |FROM e""".stripMargin,

    "d25_global_shuffle" ->
      """SELECT doc_id, source,
        | CAST(row_number() OVER (
        |   ORDER BY md5('shuffle-42:' || doc_id::VARCHAR), doc_id) - 1
        |   AS BIGINT) AS pos
        |FROM documents""".stripMargin,

    "d20_epoch_mix" ->
      """WITH c AS (
        |  SELECT doc_id, source,
        |    CAST(
        |      (CASE WHEN source IN ('src0','src1','src2','src3')
        |            THEN 250 ELSE 80 END) // 100
        |      + CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100
        |             < (CASE WHEN source IN ('src0','src1','src2','src3')
        |                     THEN 250 ELSE 80 END) % 100
        |             THEN 1 ELSE 0 END AS INT) AS copies
        |  FROM documents)
        |SELECT doc_id, source, copies, e AS epoch
        |FROM c, (VALUES (1), (2), (3)) v(e)
        |WHERE e <= copies""".stripMargin,

    "d04_simhash" -> simhashSql,

    "d05_cosine_topk" ->
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings WHERE vec_id < 10),
         |c AS (SELECT vec_id AS c_id, embedding AS ce FROM embeddings),
         |p AS (
         |  SELECT q_id, c_id,
         |   ${cosSql("qe", "ce")} AS cos_raw
         |  FROM q, c WHERE c_id <> q_id)
         |SELECT q_id, c_id, CAST(rnk AS INT) AS rank, round(cos_raw + 1e-7, 4) + 0 AS cos
         |FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos_raw DESC, c_id) AS rnk
         |      FROM p)
         |WHERE rnk <= 5""".stripMargin,

    "d30_ivf_route" ->
      s"""WITH c AS (SELECT vec_id AS cent_id, embedding AS ce FROM embeddings WHERE vec_id < 16),
         |p AS (
         |  SELECT e.vec_id, c.cent_id,
         |   ${cosSql("e.embedding", "ce")} AS sim
         |  FROM embeddings e, c)
         |SELECT vec_id, cent_id
         |FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cent_id) AS rk
         |      FROM p)
         |WHERE rk = 1""".stripMargin,

    // normalize -> slice m=4 subspaces of 16 dims -> seed codebook
    // (vec_id < 8) -> d2 = n2(sv) - 2 dot(sv,ce) + n2(ce) -> argmin,
    // ties to the lower code — term-for-term the encode path's algebra
    "d31_pq_code" ->
      """WITH nv AS (
        |  SELECT vec_id,
        |    CASE WHEN sqrt(list_sum(list_transform(range(1, len(embedding)+1),
        |                    i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE))) > 0
        |      THEN list_transform(range(1, len(embedding)+1),
        |             i -> embedding[i]::DOUBLE /
        |                  sqrt(list_sum(list_transform(range(1, len(embedding)+1),
        |                    j -> embedding[j]::DOUBLE * embedding[j]::DOUBLE))))
        |      ELSE list_transform(range(1, len(embedding)+1), i -> embedding[i]::DOUBLE)
        |    END AS v
        |  FROM embeddings),
        |subs AS (
        |  SELECT vec_id, s.sub_id, v[s.sub_id*16+1 : s.sub_id*16+16] AS sv
        |  FROM nv, (SELECT unnest(range(0, 4))::INT AS sub_id) s),
        |cb AS (SELECT sub_id, vec_id::INT AS code, sv AS ce FROM subs WHERE vec_id < 8),
        |d AS (
        |  SELECT t.vec_id, t.sub_id, cb.code,
        |    list_sum(list_transform(range(1, 17), i -> t.sv[i] * t.sv[i]))
        |    - 2.0 * list_sum(list_transform(range(1, 17), i -> t.sv[i] * cb.ce[i]))
        |    + list_sum(list_transform(range(1, 17), i -> cb.ce[i] * cb.ce[i])) AS d2
        |  FROM subs t JOIN cb ON t.sub_id = cb.sub_id)
        |SELECT vec_id, sub_id, code
        |FROM (SELECT *, row_number() OVER (PARTITION BY vec_id, sub_id ORDER BY d2, code) AS rk
        |      FROM d)
        |WHERE rk = 1""".stripMargin,

    "d06_embedding_neardup" -> {
      val bandSelects = LshAnn.bandedBucketSql("embedding", d06Bands, d06PlanesPerBand, 64)
        .zipWithIndex
        .map { case (bktSql, b) => s"SELECT vec_id, $b AS band, $bktSql AS bkt FROM embeddings" }
        .mkString("\n  UNION ALL\n  ")
      s"""WITH eb AS (
         |  $bandSelects),
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
         |  FROM eb a JOIN eb b
         |    ON a.band = b.band AND a.bkt = b.bkt AND a.vec_id < b.vec_id),
         |p AS (
         |  SELECT a_id, b_id,
         |   ${cosSql("x.embedding", "y.embedding")} AS cos_raw
         |  FROM cand JOIN embeddings x ON x.vec_id = a_id
         |            JOIN embeddings y ON y.vec_id = b_id)
         |SELECT a_id, b_id, round(cos_raw + 1e-7, 4) + 0 AS cos FROM p WHERE cos_raw >= 0.35""".stripMargin
    },

    "d09_editdist_neardup" ->
      """WITH d AS (SELECT doc_id, text, substr(text, 1, 32) AS pfx FROM documents)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        | CAST(levenshtein(a.text, b.text) AS INT) AS dist
        |FROM d a JOIN d b ON a.pfx = b.pfx AND a.doc_id < b.doc_id
        |WHERE levenshtein(a.text, b.text) <= 30""".stripMargin,

    "d10_split_assign" ->
      """SELECT doc_id, lang,
        | CAST(('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100 AS INT) AS bucket,
        | CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100 < 80 THEN 'train'
        |      WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100 < 90 THEN 'val'
        |      ELSE 'test' END AS split
        |FROM documents""".stripMargin,

    "t01_lang_id" ->
      """WITH sc AS (
        |  SELECT doc_id, lang, text,
        |   len(list_filter(string_split(text, ' '), x -> x IN ('the','and','of','a'))) AS s_en,
        |   len(list_filter(string_split(text, ' '), x -> x IN ('der','die','und','ein'))) AS s_de,
        |   len(list_filter(string_split(text, ' '), x -> x IN ('el','la','los','y'))) AS s_es,
        |   len(list_filter(string_split(text, ' '), x -> x IN ('le','les','et','une'))) AS s_fr
        |  FROM documents),
        |pred AS (
        |  SELECT doc_id, lang,
        |   CASE WHEN regexp_matches(text, '[\x{4e00}-\x{9fff}]') THEN 'zh'
        |        WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
        |        WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
        |        WHEN s_es >= s_fr THEN 'es'
        |        ELSE 'fr' END AS pred_lang
        |  FROM sc)
        |SELECT doc_id, lang, pred_lang,
        | CASE WHEN pred_lang = lang THEN 1 ELSE 0 END AS correct
        |FROM pred""".stripMargin,

    "t02_quality" ->
      """WITH m AS (
        |  SELECT doc_id, length(text) AS n_chars_calc,
        |   len(string_split(text, ' ')) AS n_tok,
        |   length(replace(text, ' ', '')) AS n_nonspace,
        |   length(text) - length(replace(replace(replace(replace(replace(replace(
        |     text, '.', ''), ',', ''), ';', ''), ':', ''), '!', ''), '?', '')) AS punct_n,
        |   len(list_filter(string_split(text, ' '), x -> x IN ('the','and','of','a'))) AS stop_n
        |  FROM documents)
        |SELECT doc_id, n_chars_calc, n_tok,
        | round(n_nonspace / n_tok + 1e-7, 4) + 0 AS avg_tok_len,
        | punct_n,
        | round(stop_n / n_tok + 1e-7, 4) + 0 AS stop_ratio,
        | (CASE WHEN n_tok >= 20 THEN 1 ELSE 0 END +
        |  CASE WHEN n_nonspace / n_tok >= 3.0 AND n_nonspace / n_tok <= 8.0 THEN 1 ELSE 0 END +
        |  CASE WHEN stop_n / n_tok > 0.01 THEN 1 ELSE 0 END) AS quality_score
        |FROM m""".stripMargin,

    "t03_token_count" ->
      """SELECT doc_id,
        | len(string_split(text, ' ')) AS ws_tokens,
        | len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS re_tokens,
        | round(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))::DOUBLE /
        |   len(string_split(text, ' ')) + 1e-7, 4) + 0 AS tok_ratio
        |FROM documents""".stripMargin,

    "t05_tfidf" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
        |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
        |idf AS (
        |  SELECT term, round(ln(n.n_docs::DOUBLE / count(DISTINCT doc_id)), 8) AS idf
        |  FROM tf, n GROUP BY term, n.n_docs),
        |scored AS (
        |  SELECT tf.doc_id, tf.term, tf.tf * idf.idf AS score
        |  FROM tf JOIN idf ON tf.term = idf.term)
        |SELECT doc_id, term, CAST(rnk AS INT) AS rank, round(score + 1e-7, 4) + 0 AS tfidf
        |FROM (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rnk
        |      FROM scored)
        |WHERE rnk <= 3""".stripMargin,

    "t04_fingerprint" ->
      """SELECT md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp,
        | count(*) AS n_docs, min(doc_id) AS min_doc_id
        |FROM documents GROUP BY 1""".stripMargin,

    "t07_pii_redact" ->
      """WITH p AS (
        |  SELECT doc_id,
        |   text || ' contact user' || doc_id::VARCHAR ||
        |     '@mail.example.com or call 555-' || doc_id::VARCHAR || ' today' AS pii
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, pii,
        |   regexp_replace(
        |     regexp_replace(pii,
        |       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |     '555-[0-9]+', '[PHONE]', 'g') AS red
        |  FROM p)
        |SELECT doc_id,
        | len(regexp_extract_all(pii, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
        | len(regexp_extract_all(pii, '555-[0-9]+')) AS n_phones,
        | length(red) AS n_chars_red,
        | md5(red) AS redacted_fp
        |FROM r""".stripMargin,

    "t08_unigram_lm" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS c FROM tok GROUP BY 1, 2),
        |freq AS (SELECT term, sum(c) AS cnt FROM tf GROUP BY 1),
        |tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total_tokens FROM freq),
        |lp AS (
        |  SELECT term, round(ln(CAST(cnt AS DOUBLE) / tot.total_tokens), 8) AS lp
        |  FROM freq, tot),
        |j AS (
        |  SELECT tf.doc_id, tf.c, CAST(tf.c * lp.lp AS DECIMAL(18,8)) AS contrib
        |  FROM tf JOIN lp USING (term))
        |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tok, count(*) AS n_terms,
        | round(CAST(sum(contrib) AS DOUBLE) / sum(c) + 1e-7, 4) + 0 AS avg_logprob
        |FROM j GROUP BY 1""".stripMargin,

    "t10_bm25" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |dl AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM tok),
        |tf AS (
        |  SELECT doc_id, term, count(*) AS tf
        |  FROM (SELECT doc_id, unnest(t) AS term FROM tok) GROUP BY 1, 2),
        |stats AS (SELECT sum(dl)::DOUBLE AS sumdl, count(*)::DOUBLE AS n FROM dl),
        |qterms AS (
        |  SELECT term, df, row_number() OVER (ORDER BY df DESC, term) AS qrank
        |  FROM (SELECT term, count(*) AS df FROM tf GROUP BY 1)
        |  ORDER BY df DESC, term LIMIT 3),
        |contrib AS (
        |  SELECT tf.doc_id, q.qrank,
        |    round(ln((s.n - q.df + 0.5) / (q.df + 0.5) + 1.0), 8) *
        |      (tf.tf * 2.2) /
        |      (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / (s.sumdl / s.n))) AS contrib
        |  FROM tf JOIN qterms q USING (term)
        |  JOIN dl ON tf.doc_id = dl.doc_id, stats s),
        |scored AS (
        |  SELECT doc_id,
        |    coalesce(max(CASE WHEN qrank = 1 THEN contrib END), 0.0) +
        |    coalesce(max(CASE WHEN qrank = 2 THEN contrib END), 0.0) +
        |    coalesce(max(CASE WHEN qrank = 3 THEN contrib END), 0.0) AS score
        |  FROM contrib GROUP BY 1)
        |SELECT doc_id, CAST(rnk AS INT) AS rank, round(score + 1e-7, 4) + 0 AS bm25
        |FROM (SELECT doc_id, score,
        |        row_number() OVER (ORDER BY score DESC, doc_id) AS rnk
        |      FROM scored)
        |WHERE rnk <= 20""".stripMargin,

    "d13_stratified_sample" ->
      """SELECT doc_id, lang,
        | CAST(('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100 AS INT) AS bucket
        |FROM documents
        |WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100
        |      < CASE WHEN lang = 'en' THEN 20 ELSE 60 END""".stripMargin,

    "d14_curation" ->
      """WITH m AS (
        |  SELECT doc_id, lang,
        |   md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp,
        |   len(string_split(text, ' ')) AS n_tok,
        |   length(replace(text, ' ', '')) AS n_nonspace,
        |   len(list_filter(string_split(text, ' '), x -> x IN ('the','and','of','a'))) AS stop_n
        |  FROM documents),
        |q AS (
        |  SELECT doc_id, lang, fp,
        |   (CASE WHEN n_tok >= 20 THEN 1 ELSE 0 END +
        |    CASE WHEN n_nonspace / n_tok >= 3.0 AND n_nonspace / n_tok <= 8.0 THEN 1 ELSE 0 END +
        |    CASE WHEN stop_n / n_tok > 0.01 THEN 1 ELSE 0 END) AS quality_score
        |  FROM m),
        |k AS (SELECT *, min(doc_id) OVER (PARTITION BY fp) AS keep_id FROM q)
        |SELECT doc_id, lang, quality_score,
        | CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100 < 80 THEN 'train'
        |      WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100 < 90 THEN 'val'
        |      ELSE 'test' END AS split
        |FROM k WHERE doc_id = keep_id AND quality_score >= 2""".stripMargin,

    "t06_repetition" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |base AS (
        |  SELECT doc_id, len(t) AS n_tok, len(list_distinct(t)) AS n_dist FROM tok),
        |tf AS (
        |  SELECT doc_id, u, count(*) AS c
        |  FROM (SELECT doc_id, unnest(t) AS u FROM tok) GROUP BY 1, 2),
        |t1 AS (SELECT doc_id, max(c) AS t_max, sum(c) AS t_tot FROM tf GROUP BY 1),
        |bg AS (
        |  SELECT doc_id, t[i] || ' ' || t[i+1] AS b
        |  FROM tok, LATERAL (SELECT unnest(range(1, len(t))) AS i) _
        |  WHERE len(t) >= 2),
        |bgc AS (SELECT doc_id, b, count(*) AS c FROM bg GROUP BY 1, 2),
        |b1 AS (SELECT doc_id, max(c) AS b_max, sum(c) AS b_tot FROM bgc GROUP BY 1)
        |SELECT base.doc_id, CAST(n_tok AS INT) AS n_tok,
        | round(n_dist::DOUBLE / n_tok + 1e-7, 4) + 0 AS distinct_ratio,
        | round(t1.t_max::DOUBLE / t1.t_tot + 1e-7, 4) + 0 AS top_tok_frac,
        | round(b1.b_max::DOUBLE / b1.b_tot + 1e-7, 4) + 0 AS top_bigram_frac,
        | CASE WHEN n_dist::DOUBLE / n_tok < 0.3
        |        OR coalesce(b1.b_max::DOUBLE / b1.b_tot, 0) > 0.1
        |      THEN 1 ELSE 0 END AS flagged
        |FROM base JOIN t1 USING (doc_id) LEFT JOIN b1 USING (doc_id)""".stripMargin)
}
