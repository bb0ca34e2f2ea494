package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Hash-based dedup primitives: shingling, MinHash, SimHash.
  *
  * All hashing routes through md5 (portable: identical hex output in every
  * engine) rather than engine-private hash functions, so oracle SQL can
  * reproduce signatures bit-for-bit. At 100 TB these run as
  * explode → hash-aggregate pipelines with map-side partial aggregation;
  * candidate generation is always via equi-join on shingle/band keys —
  * never an all-pairs cross join.
  *
  * Lambda rule: a higher-order-function lambda (`transform`, `aggregate`,
  * ...) reads only attributes and its own lambda variables. Spark runs
  * lambda bodies interpretively, once per element, and subexpression
  * elimination does not reach into them, so a row-invariant input such
  * as `split(text, " ")` written inside the lambda is recomputed for
  * every element: O(n²) per row. Project row-invariant work to a column
  * first ([[tokenized]]). `PlanAuditSpec` checks this on every query's
  * optimized plan.
  */
object HashFns {

  /** Word 3-gram shingles (distinct), as an array column. Caller must
    * filter docs with fewer than 3 tokens first (sequence() needs a
    * non-negative range).
    */
  def shingles3(toks: Column): Column = array_distinct(ngrams(toks, 3))

  /** Exploded (doc_id, shingle) pairs for docs with >= 3 tokens. */
  def explodedShingles(documents: DataFrame): DataFrame =
    explodedNgrams(documents, 3)

  /** Word n-grams in order, duplicates kept (for repetition counting).
    * Caller must ensure size(toks) >= n (sequence() needs a non-negative
    * range), and pass `toks` as a projected column (see [[tokenized]]):
    * the lambda reads it once per n-gram element.
    */
  def ngrams(toks: Column, n: Int): Column =
    transform(
      sequence(lit(0), size(toks) - n),
      i => concat_ws(" ", (1 to n).map(k => element_at(toks, i + k)): _*))

  /** (doc_id, toks) for docs with >= `minTokens` tokens: the token array
    * projected once per row, for the [[ngrams]] lambda to read.
    */
  def tokenized(documents: DataFrame, minTokens: Int): DataFrame =
    documents
      .select(col("doc_id"), TextFns.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= minTokens)

  /** Exploded distinct (doc_id, n-gram) pairs for docs with >= n tokens. */
  def explodedNgrams(documents: DataFrame, n: Int): DataFrame =
    tokenized(documents, n)
      .select(col("doc_id"), explode(array_distinct(ngrams(col("toks"), n))).as("s"))

  /** MinHash signatures: one row per doc, long columns h0..h<k-1> (k <= 8).
    *
    * Hash-family construction tuned for scan cost at scale: TWO md5
    * digests per (doc, shingle) row — d = md5(s), d2 = md5(d) — sliced
    * into k 32-bit big-endian chunks, instead of k independent
    * md5("<i>|"+s) digests (k/2× less hashing on the exploded shingle
    * stream, which dominates this operator). Signatures aggregate as
    * numeric `min` over longs — cheaper shuffles and comparisons than
    * 32-char hex strings, same minima (fixed-width hex is order-isomorphic
    * to its value). Fully md5-based so a SQL oracle reproduces it
    * bit-for-bit.
    */
  def minhashSignatures(documents: DataFrame, k: Int): DataFrame = {
    require(k <= 8, "signature slicing yields at most 8 chunks from 2 digests")
    val d = md5(col("s").cast("binary"))
    val d2 = md5(d.cast("binary"))
    // Chunks stay fixed-width lowercase hex: lexicographic min == numeric
    // min, and substring is far cheaper than a per-row hex->decimal conv
    // (BigInteger churn) on the exploded shingle stream.
    def h(i: Int): Column = {
      val src = if (i < 4) d else d2
      substring(src, 1 + 8 * (i % 4), 8)
    }
    explodedShingles(documents)
      .groupBy("doc_id")
      .agg(min(h(0)).as("h0"), (1 until k).map(i => min(h(i)).as(s"h$i")): _*)
  }

  /** LSH band keys from a signature frame: `bands` bands of `rows` hashes
    * each; band key = md5(h_i + "|" + .. + h_j). Output:
    * (doc_id, band, key) — join on (band, key) to get candidate pairs.
    *
    * Built as one `explode(array(struct(..)))` pass rather than a
    * `bands`-way union: a union would re-evaluate the whole upstream
    * shingle→minhash pipeline once per band (measured 4× the scan/agg
    * work at bands=4), while the explode emits all band rows from a
    * single evaluation of the signature.
    */
  def bandKeys(sig: DataFrame, bands: Int, rows: Int): DataFrame = {
    val bandStructs = (0 until bands).map { b =>
      val cols = (b * rows until (b + 1) * rows).map(i => col(s"h$i"))
      struct(
        lit(b).as("band"),
        md5(concat_ws("|", cols: _*).cast("binary")).as("key"))
    }
    sig
      .select(col("doc_id"), explode(array(bandStructs: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))
  }

  /** 60-bit integer hash of a token from its md5 prefix (15 hex chars) —
    * `conv(hex,16,10)`; SQL mirror: `('0x' || substr(md5(t),1,15))::BIGINT`.
    */
  def tokenHash60(tok: Column): Column =
    conv(substring(md5(tok.cast("binary")), 1, 15), 16, 10).cast("long")

  /** `bits`-bit SimHash over the distinct tokens of each doc: per bit
    * position sum +1/-1 over token-hash bits, set the bit if the sum is
    * positive. Returns (doc_id, simhash) with one hash-aggregate pass.
    */
  def simhash(documents: DataFrame, bits: Int): DataFrame = {
    val hv = tokenHash60(col("t"))
    val sums = (0 until bits).map { j =>
      sum(when(shiftright(hv, j).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"s$j")
    }
    val sim = (0 until bits)
      .map(j => when(col(s"s$j") > 0, lit(1L << j)).otherwise(0L))
      .reduce(_ + _)
    documents
      .select(col("doc_id"), explode(array_distinct(TextFns.tokens(col("text")))).as("t"))
      .groupBy("doc_id")
      .agg(sums.head, sums.tail: _*)
      .select(col("doc_id"), sim.as("simhash"))
  }
}
