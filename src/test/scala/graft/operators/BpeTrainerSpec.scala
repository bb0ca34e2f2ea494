package graft.operators

import graft.SparkSpec

/** BPE training differential: the distributed pair-merge loop must
  * reproduce a plain single-node reference implementation (the
  * Sennrich-style dict-of-words algorithm) exactly — same merges, same
  * order — under the (freq desc, then lexicographic) tie-break.
  */
class BpeTrainerSpec extends SparkSpec {
  import spark.implicits._

  /** Reference BPE: count adjacent pairs over (word→freq), merge the
    * argmax greedily left-to-right, repeat.
    */
  private def referenceBpe(words: Map[String, Long], numMerges: Int,
      minCount: Long = 2L): Seq[(String, String)] = {
    var vocab: Map[Vector[String], Long] =
      words.map { case (w, f) => (w.map(_.toString).toVector :+ "</w>") -> f }
    val merges = Vector.newBuilder[(String, String)]
    var done = false
    var round = 0
    while (!done && round < numMerges) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      vocab.foreach { case (syms, f) =>
        syms.sliding(2).foreach {
          case Seq(a, b) => counts((a, b)) = counts.getOrElse((a, b), 0L) + f
          case _ => ()
        }
      }
      val best = counts.toSeq.sortBy { case ((l, r), n) => (-n, l, r) }.headOption
      best match {
        case Some(((l, r), n)) if n >= minCount =>
          merges += l -> r
          vocab = vocab.map { case (syms, f) =>
            val out = Vector.newBuilder[String]
            var i = 0
            while (i < syms.length) {
              if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
                out += l + r; i += 2
              } else { out += syms(i); i += 1 }
            }
            out.result() -> f
          }.groupMapReduce(_._1)(_._2)(_ + _)
          round += 1
        case _ => done = true
      }
    }
    merges.result()
  }

  private def freqs(corpus: Seq[String]): Map[String, Long] =
    corpus.flatMap(_.split(" ")).groupBy(identity)
      .map { case (w, ws) => w -> ws.size.toLong }

  test("distributed merges == reference merges, order included") {
    val corpus = Seq(
      "low low low low low", "lower lower", "newest newest newest",
      "newest newest newest", "widest widest widest",
      "the sort sort merge merge merge", "sorted sorted sorting")
    val wf = freqs(corpus)
    val wordsDf = wf.toSeq.toDF("word", "freq")
    val got = BpeTrainer.train(wordsDf, numMerges = 25)
    val want = referenceBpe(wf, numMerges = 25)
    assert(got == want, s"\n got: $got\nwant: $want")
    assert(got.nonEmpty && got.size >= 8) // actually learned something
  }

  test("driver-local path ≡ distributed loop, merge for merge") {
    // the threshold conf routes small vocabularies driver-side; forcing
    // it to 0 forces the distributed loop — both must produce the exact
    // merge sequence (same counts, same (n desc, l, r) tie-break)
    val corpus = Seq(
      "pair pair pairs paired un un under understand stand stands",
      "low lower lowest slow slower slowest", "a ab abc abcd abcde")
    val wordsDf = freqs(corpus).toSeq.toDF("word", "freq")
    val local = BpeTrainer.train(wordsDf, numMerges = 20)
    val saved = BpeTrainer.localVocabThreshold
    BpeTrainer.localVocabThreshold = 0
    try {
      val dist = BpeTrainer.train(wordsDf, numMerges = 20)
      assert(local == dist, s"\nlocal: $local\n dist: $dist")
    } finally BpeTrainer.localVocabThreshold = saved
  }

  test("early stop when no pair reaches minCount; repeats merge greedily") {
    val wordsDf = Seq(("aaaa", 3L), ("ab", 1L)).toDF("word", "freq")
    val got = BpeTrainer.train(wordsDf, numMerges = 10, minCount = 2L)
    val want = referenceBpe(Map("aaaa" -> 3L, "ab" -> 1L), 10)
    assert(got == want)
    assert(got.head == ("a" -> "a"))
    // the (a,a) merge pairs non-overlapping left-to-right:
    // "aaaa" -> [aa, aa], never [aa, a, a]
    assert(BpeTrainer.encode("aaaa", Seq("a" -> "a")) ==
      Seq("aa", "aa", "</w>"))
  }

  test("driver-side encode agrees with the trained segmentation") {
    val wf = freqs(Seq("hug hug hug hugs hugs pug pug pun bun hugging"))
    val merges = BpeTrainer.train(wf.toSeq.toDF("word", "freq"), 12)
    // every trained word re-encodes to a segmentation that concatenates
    // back to word + marker (lossless), and frequent words compress
    wf.keys.foreach { w =>
      val toks = BpeTrainer.encode(w, merges)
      assert(toks.mkString == w + "</w>", s"$w -> $toks")
    }
    assert(BpeTrainer.encode("hug", merges).size < "hug</w>".length)
  }

  test("encodeCorpus == single-node whole-pipeline reference") {
    import org.apache.spark.sql.functions._
    val docs = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the catalog of cats concatenates"),
      (3L, "low lower lowest newest widest"),
      (4L, ""),
      (5L, "aaaa aaa aa a")
    ).toDF("doc_id", "text")
    val words = docs
      .select(explode(graft.functions.TextFns.tokens(col("text"))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("freq"))
    val merges = BpeTrainer.train(words, numMerges = 12, minCount = 1L)
    val got = BpeTrainer.encodeCorpus(docs, merges)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // reference: tokenize + encode each word on the driver
    val tok = docs.select(col("doc_id"),
        graft.functions.TextFns.tokens(col("text")).as("ws"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).filter(_.nonEmpty))
    val want = tok.filter(_._2.nonEmpty).map { case (id, ws) =>
      id -> (ws.size.toLong,
        ws.map(w => BpeTrainer.encode(w, merges).size.toLong).sum)
    }.toMap
    assert(got == want, s"got $got want $want")
    // the trained merges actually compress: fewer tokens than chars+1
    assert(got.values.map(_._2).sum <
      tok.flatMap(_._2).map(_.length + 1).sum)
  }
}
