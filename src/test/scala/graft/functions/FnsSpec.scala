package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}
import graft.similarity.{LshAnn, PqAnn}

class FnsSpec extends SparkSpec {
  import spark.implicits._

  test("tokens + shingles3 build word 3-grams") {
    val df = Seq("a b c d").toDF("text")
    val out = df.select(HashFns.shingles3(TextFns.tokens(col("text"))).as("s"))
      .as[Seq[String]].head()
    assert(out == Seq("a b c", "b c d"))
  }

  test("predictLang picks the dominant stopword profile") {
    val df = Seq(
      ("the cat and the dog of a house", "en"),
      ("der hund und die katze ein haus", "de"),
      ("el perro y la casa los gatos", "es"),
      ("le chien et les chats une maison", "fr")
    ).toDF("text", "expected")
    val out = df.select(TextFns.predictLang(col("text")).as("p"), col("expected"))
      .as[(String, String)].collect()
    out.foreach { case (p, e) => assert(p == e, s"predicted $p expected $e") }
  }

  test("fingerprint collapses case and punctuation") {
    val df = Seq(("Hello, World!", "hello   world"), ("a", "b")).toDF("x", "y")
    val out = df.select(
      (TextFns.fingerprint(col("x")) === TextFns.fingerprint(col("y"))).as("eq"))
      .as[Boolean].collect().toSeq
    assert(out == Seq(true, false))
  }

  test("cosine similarity: identical vectors = 1, orthogonal = 0") {
    val df = Seq(
      (Seq(1.0f, 2.0f, 3.0f), Seq(1.0f, 2.0f, 3.0f)),
      (Seq(1.0f, 0.0f, 0.0f), Seq(0.0f, 1.0f, 0.0f))
    ).toDF("a", "b")
    val out = df.select(round(VecFns.cosine(col("a"), col("b")), 9).as("c"))
      .as[Double].collect().toSeq
    assert(out == Seq(1.0, 0.0))
  }

  test("fused CosineSim is bit-identical to the composed dot/sqrt formulation") {
    val rnd = new scala.util.Random(7L)
    val df = Seq.fill(50)((Seq.fill(64)(rnd.nextFloat() - 0.5f),
      Seq.fill(64)(rnd.nextFloat() - 0.5f))).toDF("a", "b")
    val ad = VecFns.asDouble(col("a"))
    val bd = VecFns.asDouble(col("b"))
    val composed = VecFns.dot(ad, bd) /
      (sqrt(VecFns.norm2(ad)) * sqrt(VecFns.norm2(bd)))
    val out = df.select(VecFns.cosine(col("a"), col("b")).as("f"), composed.as("c"))
      .as[(Double, Double)].collect()
    // bit-for-bit, not approximate: same fold order per accumulator
    out.foreach { case (f, c) =>
      assert(java.lang.Double.doubleToLongBits(f) == java.lang.Double.doubleToLongBits(c))
    }
  }

  test("CosineSim matches the composed form on ragged (unequal-length) arrays") {
    // norms must run over each FULL array (dot over the overlap), like the
    // composed dot/sqrt form — not all three accumulators over min(len)
    val df = Seq((Seq(1.0, 2.0, 3.0), Seq(1.0, 2.0))).toDF("a", "b")
    val composed = VecFns.dot(col("a"), col("b")) /
      (sqrt(VecFns.norm2(col("a"))) * sqrt(VecFns.norm2(col("b"))))
    val out = df.select(VecFns.cosine(col("a"), col("b")).as("f"), composed.as("c"))
      .as[(Double, Double)].head()
    assert(java.lang.Double.doubleToLongBits(out._1) == java.lang.Double.doubleToLongBits(out._2))
    assert(math.abs(out._1 - 5.0 / (math.sqrt(14.0) * math.sqrt(5.0))) < 1e-12)
  }

  test("graft_cosine SQL function registers and coerces float arrays like the DataFrame path") {
    val df = Seq((Seq(1.0f, 2.0f), Seq(2.0f, 1.0f))).toDF("a", "b")
    df.createOrReplaceTempView("cos_in")
    // no hand-cast: the registration builder coerces array<float> itself
    val sql = spark.sql("SELECT graft_cosine(a, b) FROM cos_in").as[Double].head()
    val api = df.select(VecFns.cosine(col("a"), col("b"))).as[Double].head()
    assert(sql == api)
    assert(math.abs(sql - 4.0 / 5.0) < 1e-12) // (2+2)/(sqrt5*sqrt5)
  }

  test("simhash is deterministic and within bit range") {
    val docs = Seq((1L, "alpha beta gamma"), (2L, "alpha beta gamma"), (3L, "delta"))
      .toDF("doc_id", "text")
    val out = HashFns.simhash(docs, 16).as[(Long, Long)].collect().toMap
    assert(out(1L) == out(2L))
    assert(out.values.forall(v => v >= 0 && v < (1L << 16)))
  }

  test("minhash signatures identical for identical docs") {
    val docs = Seq((1L, "a b c d e"), (2L, "a b c d e"), (3L, "x y z w v"))
      .toDF("doc_id", "text")
    val sig = HashFns.minhashSignatures(docs, 4).collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    assert(sig(1L) == sig(2L))
    assert(sig(1L) != sig(3L))
  }

  test("redactPii replaces every email and phone occurrence, counts match") {
    val df = Seq(
      (1L, "mail a@b.com and c.d@e.org plus 555-123 and 555-9"),
      (2L, "no pii here at all")
    ).toDF("doc_id", "text")
    val out = df.select(
        col("doc_id"),
        TextFns.redactPii(col("text")).as("red"),
        TextFns.matchCount(col("text"), TextFns.EmailRe).as("ne"),
        TextFns.matchCount(col("text"), TextFns.PhoneRe).as("np"))
      .as[(Long, String, Int, Int)].collect().map(r => r._1 -> r).toMap
    assert(out(1L)._2 == "mail [EMAIL] and [EMAIL] plus [PHONE] and [PHONE]")
    assert(out(1L)._3 == 2 && out(1L)._4 == 2)
    assert(out(2L)._2 == "no pii here at all")
    assert(out(2L)._3 == 0 && out(2L)._4 == 0)
  }

  test("autoPlanesPerBand grows with corpus size and clamps") {
    import graft.similarity.LshAnn.autoPlanesPerBand
    assert(autoPlanesPerBand(500) == 3)
    assert(autoPlanesPerBand(5000) == 7)
    assert(autoPlanesPerBand(5000000) == 17)
    assert(autoPlanesPerBand(Long.MaxValue) == 24) // clamp high
    assert(autoPlanesPerBand(1) == 3) // clamp low
  }

  test("LSH bucket is deterministic and identical vectors collide") {
    val df = Seq(
      (1L, Seq.fill(8)(0.5f)),
      (2L, Seq.fill(8)(0.5f))
    ).toDF("vec_id", "embedding")
    val out = df.select(LshAnn.bucket(col("embedding"), 6, 8).as("b"))
      .as[Long].collect().toSeq
    assert(out(0) == out(1))
    assert(out(0) >= 0 && out(0) < 64)
  }

  // --- lambda kernels: projected inputs vs the inline formulation ------

  /** The n-gram stream as written before its tokens were projected: the
    * lambda re-splits `text` for every element.
    */
  private def inlineNgrams(documents: DataFrame, n: Int): DataFrame = {
    val toks = split(col("text"), " ")
    documents
      .filter(size(toks) >= n)
      .select(col("doc_id"), explode(array_distinct(transform(
        sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", (1 to n).map(k => element_at(toks, i + k)): _*)))).as("s"))
  }

  test("explodedShingles and explodedNgrams(8) equal the inline formulation on edge cases") {
    val docs = Seq[(Long, String)](
      (1L, "a b"),                                  // fewer than 3 tokens
      (2L, "a b c"),                                // exactly 3
      (3L, "a b c d e f g"),                        // fewer than 8
      (4L, "a b c d e f g h"),                      // exactly 8
      (5L, "x y z x y z x y z x y z"),              // repeated n-grams
      (6L, "a  b c  d e f g h i"),                  // double spaces: empty tokens
      (7L, ""),
      (8L, null)).toDF("doc_id", "text")
    def rows(df: DataFrame) = df.as[(Long, String)].collect().toSeq.sorted
    val shingles = rows(HashFns.explodedShingles(docs))
    assert(shingles == rows(inlineNgrams(docs, 3)))
    assert(shingles.filter(_._1 == 2L).map(_._2) == Seq("a b c"))
    assert(shingles.filter(_._1 == 5L).map(_._2) == Seq("x y z", "y z x", "z x y"))
    assert(shingles.filter(_._1 == 6L).map(_._2).contains("a  b"))
    assert(!shingles.exists(r => Set(1L, 7L, 8L)(r._1)))
    val eights = rows(HashFns.explodedNgrams(docs, 8))
    assert(eights == rows(inlineNgrams(docs, 8)))
    assert(eights.map(_._1).distinct == Seq(4L, 5L, 6L))
  }

  test("unitNormalized is bit-identical to the per-element norm formulation") {
    val vecs = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))
      .union(Seq[(Long, Seq[Float])]((-1L, Seq.fill(64)(0.0f)), (-2L, null))
        .toDF("vec_id", "embedding"))
    val inline: Column = {
      val d = VecFns.asDouble(col("embedding"))
      val n = sqrt(VecFns.norm2(d))
      when(n > 0, transform(d, x => x / n)).otherwise(d)
    }
    def bits(df: DataFrame) = df.as[(Long, Option[Seq[Double]])].collect()
      .map { case (id, v) => id -> v.map(_.map(java.lang.Double.doubleToLongBits)) }.toMap
    val got = bits(VecFns.unitNormalized(vecs, col("vec_id"), col("embedding"), "nv"))
    assert(got.size == vecs.count())
    assert(got == bits(vecs.select(col("vec_id"), inline.as("nv"))))
  }

  test("PqAnn codes on the test embeddings are unchanged") {
    val corpus = Tables.embeddings(spark, sfDir)
    val cb = PqAnn.codebooksFor(corpus, sfDir, dim = 64, m = 8, ksub = 16)
    val codes = PqAnn.encode(corpus, cb, dim = 64, m = 8)
      .as[(Long, Int, Int)].collect().sorted
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(codes.mkString(";").getBytes("UTF-8")).map("%02x".format(_)).mkString
    // digest of the code table built with the per-element norm formulation
    assert(codes.length == 4000)
    assert(md5 == "38c89fbcc328b4498421c9df4ca00cb5")
  }
}
