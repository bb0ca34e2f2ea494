package graft.sources

import org.json4s.NoTypeHints
import org.json4s.jackson.Serialization

import graft.sources.TxLog.{ColStats, DeltaRec, DvEntry, FileEntry, IdentitySpec, Manifest}

/** Differential gate for the streaming log-record decoder: for every
  * record the json4s WRITER can produce, `ManifestCodec.decode` must
  * return the IDENTICAL case class the json4s reader would — the
  * decoder may only ever be faster, never different.
  */
class ManifestCodecSpec extends graft.SparkSpec {

  private implicit val fmts: org.json4s.Formats =
    Serialization.formats(NoTypeHints)

  private def viaJson4s(str: String): Either[DeltaRec, Manifest] = {
    val jv = org.json4s.jackson.JsonMethods.parse(str)
    jv \ "kind" match {
      case org.json4s.JString("delta") => Left(jv.extract[DeltaRec])
      case _ => Right(jv.extract[Manifest])
    }
  }

  private def check(m: Manifest): Unit = {
    val js = Serialization.write(m)
    assert(ManifestCodec.decode(js) == Right(m), js.take(400))
    assert(ManifestCodec.decode(js) == viaJson4s(js))
  }

  private def checkDelta(d: DeltaRec): Unit = {
    val js = Serialization.write(d)
    assert(ManifestCodec.decode(js) == Left(d), js.take(400))
    assert(ManifestCodec.decode(js) == viaJson4s(js))
  }

  private val fullEntry = FileEntry("data/u1/part-0.parquet", 42L,
    Map("k" -> ColStats(Some("1"), Some("9"), 3L),
        "v" -> ColStats(None, None, 0L),
        "weird \"quoted\" ✓" -> ColStats(Some("a\nb"), Some("z\\t"), 1L)),
    parts = Some(Map("y" -> "2020", "cat" -> "a b")),
    bytes = Some(1234567L))

  test("minimal manifest (every optional field absent)") {
    check(Manifest(1L, "overwrite", Seq("data/u/p.parquet"),
      """{"type":"struct"}""", 1700000000000L))
  }

  test("maximal manifest (every field populated)") {
    check(Manifest(7L, "merge",
      Seq("data/u1/part-0.parquet", "adopted.parquet", "a b/c=d.parquet"),
      """{"type":"struct","fields":[]}""", 1700000000123L,
      stats = Some(Seq(fullEntry, FileEntry("adopted.parquet", 0L, Map.empty))),
      txn = Some(Map("app-1" -> 17L, "app 2" -> -3L)),
      cdf = Some(Seq("data/u1/_cdf/c.parquet")),
      constraints = Some(Map("pos" -> "n > 0", "q" -> "v <> 'x\"y'")),
      partitionBy = Some(Seq("y", "m")),
      bloomIndex = Some(Seq("k")),
      dvs = Some(Seq(DvEntry("data/u1/part-0.parquet", "_dv/d.bin", 5L))),
      generated = Some(Map("g" -> "k + 1")),
      dropped = Some(Seq("old_col")),
      identity = Some(Map("id" -> IdentitySpec(2L, 1001L))),
      renames = Some(Map("phys" -> "logical")),
      properties = Some(Map("graft.clusterBy" -> "k,n", "x" -> "")),
      features = Some(Seq("column-mapping", "deletion-vectors"))))
  }

  test("minimal and maximal delta records") {
    checkDelta(DeltaRec("delta", 9L, 8L, "append", 1700000001000L,
      add = Seq("data/u2/p.parquet"), remove = Seq.empty))
    checkDelta(DeltaRec("delta", 10L, 9L, "delete", 1700000002000L,
      add = Seq("data/u3/p.parquet"), remove = Seq("data/u2/p.parquet"),
      schemaJson = Some("""{"type":"struct"}"""),
      addStats = Some(Seq(fullEntry)),
      dvPut = Some(Seq(DvEntry("f.parquet", "_dv/x.bin", 2L))),
      dvDrop = Some(Seq("g.parquet")),
      txn = Some(Map("a" -> 1L)),
      txnPut = Some(Map("copyInto:/land/f1.parquet" -> 123L)),
      txnDrop = Some(Seq("stale-app")),
      cdf = Some(Seq("data/u3/_cdf/c.parquet")),
      constraints = Some(Map("c" -> "k > 0")),
      partitionBy = Some(Seq("y")),
      bloomIndex = Some(Seq("k", "v")),
      generated = Some(Map("g" -> "1")),
      dropped = Some(Seq("d")),
      identity = Some(Map("i" -> IdentitySpec(1L, 5L))),
      renames = Some(Map("p" -> "l")),
      properties = Some(Map("k" -> "v")),
      features = Some(Seq("column-mapping"))))
  }

  test("every record in a REAL mixed-DML log decodes identically") {
    // belt over the synthetic braces: the actual writer's bytes
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val t = java.nio.file.Files.createTempDirectory("codec").resolve("t").toString
    TxLog.overwrite(Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30))
      .toDF("k", "v", "n"), t, partitionBy = Some(Seq("n")))
    TxLog.setProperty(spark, t, TxLog.cfPropertyKey, "true")
    TxLog.append(Seq((4L, "d", 20)).toDF("k", "v", "n"), t)
    TxLog.delete(spark, t, col("k") === 2L, deletionVectors = true,
      changeFeed = true)
    TxLog.addConstraint(spark, t, "pos", "n > 0")
    TxLog.compact(spark, t)
    val dir = new java.io.File(t, "_txlog")
    val recs = dir.listFiles().filter(_.getName.endsWith(".json"))
      .filterNot(_.getName.startsWith("_"))
    assert(recs.length >= 5)
    recs.foreach { f =>
      val str = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      assert(ManifestCodec.decode(str) == viaJson4s(str), f.getName)
    }
  }

  test("property: random manifests round-trip identically (300 cases)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // hostile-ish strings: unicode, quotes, backslashes, newlines,
    // empty, long — everything a path/value/schema could legally hold
    val str: Gen[String] = Gen.oneOf(
      Gen.alphaNumStr.map(_.take(20)),
      Gen.oneOf("", "a b", "q\"uote", "back\\slash", "nl\nnl",
        "tab\tx", "u\u00e9\u4e2d\u6587", "=eq/slash", "%20enc"),
      Gen.listOfN(5, Gen.choose(32, 0x2FFF)).map(
        _.map(_.toChar).mkString))
    val colStats: Gen[ColStats] = for {
      mn <- Gen.option(str); mx <- Gen.option(str); n <- Gen.choose(0L, 99L)
    } yield ColStats(mn, mx, n)
    val entry: Gen[FileEntry] = for {
      path <- str; rows <- Gen.choose(0L, 1L << 40)
      nS <- Gen.choose(0, 3)
      ks <- Gen.listOfN(nS, str); vs <- Gen.listOfN(nS, colStats)
      parts <- Gen.option(Gen.mapOfN(2, Gen.zip(str, str)))
      bytes <- Gen.option(Gen.choose(0L, 1L << 40))
    } yield FileEntry(path, rows, ks.zip(vs).toMap, parts, bytes)
    val strMap = Gen.option(Gen.mapOfN(3, Gen.zip(str, str)))
    val manifest: Gen[Manifest] = for {
      v <- Gen.choose(1L, 1L << 30); action <- str; files <- Gen.listOfN(3, str)
      schema <- str; ts <- Gen.choose(0L, 4L << 40)
      stats <- Gen.option(Gen.listOfN(3, entry))
      txn <- Gen.option(Gen.mapOfN(2, Gen.zip(str, Gen.choose(-9L, 1L << 40))))
      cdf <- Gen.option(Gen.listOfN(2, str))
      cons <- strMap; pby <- Gen.option(Gen.listOfN(2, str))
      bl <- Gen.option(Gen.listOfN(2, str))
      dvs <- Gen.option(Gen.listOfN(2, for {
        a <- str; b <- str; d <- Gen.choose(0L, 99L) } yield DvEntry(a, b, d)))
      gen0 <- strMap; dropped <- Gen.option(Gen.listOfN(2, str))
      ident <- Gen.option(Gen.mapOfN(2, Gen.zip(str, for {
        st <- Gen.choose(-5L, 5L).suchThat(_ != 0); nx <- Gen.choose(0L, 1L << 40)
      } yield IdentitySpec(st, nx))))
      ren <- strMap; props <- strMap
    } yield Manifest(v, action, files, schema, ts, stats, txn, cdf, cons,
      pby, bl, dvs, gen0, dropped, ident, ren, props)
    val prop = Prop.forAll(manifest) { m =>
      ManifestCodec.decode(Serialization.write(m)) == Right(m)
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(300), prop)
    assert(res.passed, res.status.toString)
  }
}
