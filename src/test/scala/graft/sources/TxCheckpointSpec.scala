package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.SparkSpec

/** The checkpointed transaction log: commits append O(changed-files)
  * delta records, every Nth version is a full snapshot (checkpoint),
  * readers resolve by replaying the tail from the nearest checkpoint.
  * These specs pin (1) the on-disk cadence, (2) bit-exact resolution
  * across a mixed DML lifecycle by differential against an
  * every-version-checkpointed twin, (3) vacuum re-anchoring the kept
  * range on a materialized checkpoint, (4) the flat-commit-bytes
  * property that is the point of the feature, and (5) the
  * `_last_checkpoint` pointer moving on the cadence only.
  */
class TxCheckpointSpec extends SparkSpec {
  import spark.implicits._

  private def tmpTable(): String =
    Files.createTempDirectory("graft-ckpt").resolve("t").toString

  private def withInterval[A](n: Int)(body: => A): A = {
    val prev = TxLog.checkpointInterval
    TxLog.checkpointInterval = n
    try body finally TxLog.checkpointInterval = prev
  }

  private def manifestBytes(t: String, v: Long): Long =
    new java.io.File(s"$t/_txlog/" + f"$v%020d.json").length()

  test("cadence: deltas between checkpoints, full snapshot every Nth version") {
    withInterval(5) {
      val t = tmpTable()
      TxLog.overwrite(Seq((1L, "a")).toDF("k", "v"), t) // v1: no parent → full
      (2 to 12).foreach(i => TxLog.append(Seq((i.toLong, "x")).toDF("k", "v"), t))
      assert(TxLog.versions(spark, t) == (1L to 12L))
      val kinds = (1L to 12L).map(v => v -> TxLog.isCheckpointOnDisk(spark, t, v)).toMap
      assert(kinds(1L) && kinds(5L) && kinds(10L), "v1 + multiples of 5 are checkpoints")
      Seq(2L, 3L, 4L, 6L, 7L, 8L, 9L, 11L, 12L).foreach(v =>
        assert(!kinds(v), s"v$v should be a delta record"))
      // resolution from disk alone (no in-process memo)
      TxLog.clearSnapshotCache()
      assert(TxLog.read(spark, t).count() == 12L)
      assert(TxLog.readAsOf(spark, t, 7L).count() == 7L)
      // _last_checkpoint advisory pointer names the latest checkpoint
      val lc = new String(Files.readAllBytes(
        java.nio.file.Paths.get(s"$t/_txlog/_last_checkpoint")), "UTF-8")
      assert(lc == """{"version":10}""")
    }
  }

  test("an overwrite replacing most files falls back to a full snapshot") {
    withInterval(1000) {
      val t = tmpTable()
      TxLog.overwrite(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), t)
      TxLog.append(Seq((3L, "c")).toDF("k", "v"), t)
      // v3 replaces every file: delta (add all + remove all) is larger
      // than the snapshot — the size gate must choose full
      TxLog.overwrite(Seq((9L, "z")).toDF("k", "v"), t)
      assert(!TxLog.isCheckpointOnDisk(spark, t, 2L))
      assert(TxLog.isCheckpointOnDisk(spark, t, 3L))
      TxLog.clearSnapshotCache()
      assert(TxLog.read(spark, t).as[(Long, String)].collect().toSeq ==
        Seq((9L, "z")))
    }
  }

  /** Run one mixed lifecycle against a table; returns it. Exercises the
    * fields a delta record must carry: adds, removes (compact/update
    * rewrite), DV puts (delete via DVs), properties, constraints,
    * restore (file resurrection), schema evolution (mergeSchema append).
    */
  private def lifecycle(t: String): Unit = {
    val base = (1L to 40L).map(i => (i, i % 4, s"r$i")).toDF("k", "g", "v")
    TxLog.overwrite(base, t) //                                v1
    TxLog.append((41L to 50L).map(i => (i, i % 4, s"r$i")).toDF("k", "g", "v"), t) // v2
    TxLog.setProperty(spark, t, "graft.dml.deletionVectors", "true") // v3
    TxLog.delete(spark, t, col("k") === 7L, deletionVectors = true) // v4 (DV put)
    TxLog.addConstraint(spark, t, "k_pos", "k > 0") //         v5
    TxLog.update(spark, t, col("k") === 8L,
      Seq("v" -> org.apache.spark.sql.functions.lit("upd"))) // v6
    TxLog.append((51L to 55L).map(i => (i, i % 4, s"r$i")).toDF("k", "g", "v"), t) // v7
    TxLog.compact(spark, t) //                                 v8 (remove+add)
    TxLog.unsetProperty(spark, t, "graft.dml.deletionVectors") // v9
    TxLog.delete(spark, t, col("k") === 9L) //                 v10 (rewrite delete)
    TxLog.restore(spark, t, 7L) //                             v11 (resurrect files)
    TxLog.append((56L to 60L).map(i => (i, i % 4, s"r$i")).toDF("k", "g", "v"), t) // v12
  }

  test("differential: delta-encoded log resolves identically to an all-checkpoint log") {
    val tAll = withInterval(1) { val t = tmpTable(); lifecycle(t); t }
    val tDelta = withInterval(1000) { val t = tmpTable(); lifecycle(t); t }
    TxLog.clearSnapshotCache()
    assert(TxLog.versions(spark, tAll) == TxLog.versions(spark, tDelta))
    // every version under interval=1000 past v1 must really be a delta
    // record, except where the encoder's size gate forces a snapshot
    // compact (v8) and the rewrite-delete (v10) replace most of a
    // small table's files, so the size gate rightly picks snapshots
    // there; everything else must be a delta record
    assert((2L to 12L).count(v => !TxLog.isCheckpointOnDisk(spark, tDelta, v)) >= 8,
      "the lifecycle should delta-encode nearly every commit")
    def canon(df: DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    TxLog.versions(spark, tAll).foreach { v =>
      assert(canon(TxLog.readAsOf(spark, tAll, v)) ==
        canon(TxLog.readAsOf(spark, tDelta, v)), s"version $v diverged")
      val a = TxLog.manifestAt(spark, tAll, v)
      val d = TxLog.manifestAt(spark, tDelta, v)
      // resolved snapshots agree on everything environment-independent
      assert(a.files.map(_.split('/').length) == d.files.map(_.split('/').length))
      assert(a.action == d.action && a.schemaJson == d.schemaJson)
      assert(a.stats.map(_.map(e => (e.rows, e.stats)).toSet) ==
        d.stats.map(_.map(e => (e.rows, e.stats)).toSet), s"stats at $v")
      assert(a.dvs.map(_.map(_.deleted).sorted) == d.dvs.map(_.map(_.deleted).sorted))
      assert(a.constraints == d.constraints && a.properties == d.properties)
    }
    // metadata-only surfaces ride the same resolved snapshots
    assert(TxLog.history(spark, tAll).drop("ts").collect().toSeq ==
      TxLog.history(spark, tDelta).drop("ts").collect().toSeq)
  }

  test("vacuum materializes the oldest kept version, then resolution survives the drop") {
    withInterval(1000) {
      val t = tmpTable()
      TxLog.overwrite(Seq((1L, "a")).toDF("k", "v"), t)
      (2 to 10).foreach(i => TxLog.append(Seq((i.toLong, "x")).toDF("k", "v"), t))
      assert(!TxLog.isCheckpointOnDisk(spark, t, 8L))
      TxLog.vacuum(spark, t, keepVersions = 3)
      assert(TxLog.versions(spark, t) == Seq(8L, 9L, 10L))
      // the kept range re-anchored: v8 is now a full snapshot on disk
      assert(TxLog.isCheckpointOnDisk(spark, t, 8L))
      assert(!TxLog.isCheckpointOnDisk(spark, t, 9L))
      TxLog.clearSnapshotCache() // force resolution from the disk state
      assert(TxLog.readAsOf(spark, t, 8L).count() == 8L)
      assert(TxLog.readAsOf(spark, t, 9L).count() == 9L)
      assert(TxLog.read(spark, t).count() == 10L)
      intercept[IllegalArgumentException] { TxLog.readAsOf(spark, t, 7L) }
    }
  }

  test("commit bytes are O(changed files), not O(table files)") {
    withInterval(10) {
      val t = tmpTable()
      TxLog.overwrite(Seq((0L, "seed")).toDF("k", "v"), t)
      (1 to 39).foreach(i =>
        TxLog.append(Seq((i.toLong, "x")).toDF("k", "v"), t, mergeSchema = false))
      val deltas = (2L to 39L).filterNot(_ % 10 == 0)
      val deltaSizes = deltas.map(v => manifestBytes(t, v))
      val ckptSizes = Seq(10L, 20L, 30L).map(v => manifestBytes(t, v))
      // flat: the 38th delta is no bigger than 1.5× the first — commit
      // cost did not grow with the table's accumulated file count
      assert(deltaSizes.last <= deltaSizes.head * 3 / 2,
        s"delta record grew with table size: $deltaSizes")
      // checkpoints DO grow with the table — that is what they are
      assert(ckptSizes.last > ckptSizes.head,
        s"checkpoint sizes should grow: $ckptSizes")
      // and a late delta is far smaller than a late checkpoint
      assert(deltaSizes.last * 4 < ckptSizes.last,
        s"delta ${deltaSizes.last}B should be ≪ checkpoint ${ckptSizes.last}B")
      TxLog.clearSnapshotCache()
      assert(TxLog.read(spark, t).count() == 40L)
    }
  }

  test("the copyInto ledger rides delta records as a DIFF, not verbatim") {
    withInterval(1000) {
      val t = tmpTable()
      val land = Files.createTempDirectory("graft-ckpt-land").toString
      (0 until 10).map(i => (i.toLong, s"v$i")).toDF("k", "v")
        .repartition(3).write.mode("append").parquet(land)
      TxLog.copyInto(spark, land, t) // v1 full: 3 ledger keys
      TxLog.append(Seq((100L, "x")).toDF("k", "v"), t) // v2 delta
      val rec2 = new String(Files.readAllBytes(
        java.nio.file.Paths.get(s"$t/_txlog/" + f"${2L}%020d.json")), "UTF-8")
      assert(!rec2.contains("copyInto:"),
        "an append's delta record must not re-serialize the ingest ledger")
      // the resolved snapshot still carries the full ledger
      TxLog.clearSnapshotCache()
      assert(TxLog.manifest(spark, t).txn.getOrElse(Map.empty)
        .count(_._1.startsWith("copyInto:")) == 3)
      // a later copy's delta carries ONLY its new file's ledger entry
      (10 until 15).map(i => (i.toLong, s"w$i")).toDF("k", "v")
        .coalesce(1).write.mode("append").parquet(land)
      TxLog.copyInto(spark, land, t) // v3 delta
      val rec3 = new String(Files.readAllBytes(
        java.nio.file.Paths.get(s"$t/_txlog/" + f"${3L}%020d.json")), "UTF-8")
      assert("copyInto:".r.findAllIn(rec3).size == 1,
        s"v3's delta must carry exactly its ONE new ledger entry")
      TxLog.clearSnapshotCache()
      assert(TxLog.manifest(spark, t).txn.getOrElse(Map.empty)
        .count(_._1.startsWith("copyInto:")) == 4)
      assert(TxLog.read(spark, t).count() == 16L)
    }
  }

  test("parquet checkpoint census: distributed file facts ≡ the manifest") {
    withInterval(2) {
      val saved = TxLog.censusMinFiles
      TxLog.censusMinFiles = 1
      try {
        val t = tmpTable()
        TxLog.overwrite((0 until 40).map(i => (i.toLong, s"v$i"))
          .toDF("k", "v").repartition(4, col("k")), t) // v1: checkpoint
        TxLog.append(Seq((100L, "x")).toDF("k", "v"), t) // v2: checkpoint
        TxLog.delete(spark, t, col("k") < 5, deletionVectors = true) // v3: delta
        TxLog.append(Seq((101L, "y")).toDF("k", "v"), t) // v4: checkpoint
        val m = TxLog.manifest(spark, t)
        assert(m.version == 4L)
        assert(Files.exists(java.nio.file.Paths.get(
          s"$t/_txlog/" + f"${4L}%020d" + ".checkpoint.parquet/_SUCCESS")))
        val census = TxLog.fileCensus(spark, t).collect()
        assert(census.length == m.files.size)
        val byPath = census.map(r => r.getString(0) -> r).toMap
        val stats = m.stats.get.map(e => e.path -> e).toMap
        m.files.foreach { p =>
          val r = byPath(p)
          assert(r.getLong(1) == stats(p).rows, s"rows of $p")
          assert(r.getLong(2) == stats(p).bytes.get, s"bytes of $p")
        }
        // the DV survives into the census
        val dvDebt = TxLog.fileCensus(spark, t)
          .agg(org.apache.spark.sql.functions.sum("dv_deleted")).head.getLong(0)
        assert(dvDebt == m.dvs.get.map(_.deleted).sum)
        // a DELTA version (no census dir) serves from its manifest
        val c3 = TxLog.fileCensus(spark, t, Some(3L))
        assert(c3.count().toInt == TxLog.filesAt(spark, t, 3L).size)
        // the SQL TVF — compaction-candidate shape included
        assert(spark.sql(s"SELECT count(*) FROM graft_tx_files('$t')")
          .head.getLong(0) == m.files.size.toLong)
        assert(spark.sql(s"SELECT path FROM graft_tx_files('$t') " +
          "WHERE bytes < 100000000").count() == m.files.size.toLong)
        // a TORN census (no _SUCCESS) is ignored — manifest fallback
        Files.deleteIfExists(java.nio.file.Paths.get(
          s"$t/_txlog/" + f"${4L}%020d" + ".checkpoint.parquet/_SUCCESS"))
        assert(TxLog.fileCensus(spark, t).count() == m.files.size.toLong)
        // vacuum reaps dropped censuses with their manifests
        TxLog.vacuum(spark, t, keepVersions = 1)
        assert(!Files.exists(java.nio.file.Paths.get(
          s"$t/_txlog/" + f"${2L}%020d" + ".checkpoint.parquet")))
        assert(TxLog.fileCensus(spark, t).count() == m.files.size.toLong)
      } finally TxLog.censusMinFiles = saved
    }
  }

  test("census is size-gated and never required: small tables skip it") {
    withInterval(2) {
      val t = tmpTable() // default minFiles = 1000: no census written
      TxLog.overwrite(Seq((1L, "a")).toDF("k", "v"), t)
      TxLog.append(Seq((2L, "b")).toDF("k", "v"), t) // v2: checkpoint
      assert(!Files.exists(java.nio.file.Paths.get(
        s"$t/_txlog/" + f"${2L}%020d" + ".checkpoint.parquet")))
      // fileCensus serves from the manifest all the same
      assert(TxLog.fileCensus(spark, t).count() ==
        TxLog.manifest(spark, t).files.size.toLong)
    }
  }

  test("_last_checkpoint guides latestVersion; corrupt/stale hints fall back") {
    withInterval(5) {
      val t = tmpTable()
      TxLog.overwrite(Seq((1L, "a")).toDF("k", "v"), t)
      (2 to 12).foreach(i => TxLog.append(Seq((i.toLong, "x")).toDF("k", "v"), t))
      // pointer names v10; the forward probe must find v12
      assert(TxLog.latestVersion(spark, t).contains(12L))
      val lcPath = java.nio.file.Paths.get(s"$t/_txlog/_last_checkpoint")
      // corrupt pointer: resolution falls back to the listing
      Files.write(lcPath, "garbage".getBytes("UTF-8"))
      assert(TxLog.latestVersion(spark, t).contains(12L))
      // stale-but-valid pointer (names an old checkpoint): probe walks up
      Files.write(lcPath, """{"version":5}""".getBytes("UTF-8"))
      assert(TxLog.latestVersion(spark, t).contains(12L))
      // pointer naming a MISSING version: falls back to the listing
      Files.write(lcPath, """{"version":99}""".getBytes("UTF-8"))
      assert(TxLog.latestVersion(spark, t).contains(12L))
      // and commits on top still work (publish reads latest through this)
      TxLog.append(Seq((13L, "y")).toDF("k", "v"), t)
      assert(TxLog.read(spark, t).count() == 13L)
    }
  }

  test("_last_checkpoint moves on the cadence only, not on size-forced snapshots") {
    assert(TxLog.checkpointInterval == 10, "this spec pins the default interval")
    val t = tmpTable()
    val lc = java.nio.file.Paths.get(s"$t/_txlog/_last_checkpoint")
    val aside = Files.createTempDirectory("graft-ckpt-lc").resolve("lc")
    // the pointer's bytes and mtime, or None while it is absent
    def pointer(): Option[(String, java.nio.file.attribute.FileTime)] =
      if (!Files.exists(lc)) None
      else Some((new String(Files.readAllBytes(lc), "UTF-8"),
        Files.getLastModifiedTime(lc)))
    def latestIsExact(v: Long): Unit = {
      assert(TxLog.latestVersion(spark, t).contains(v), s"v$v, pointer as left")
      TxLog.clearSnapshotCache()
      assert(TxLog.latestVersion(spark, t).contains(v), s"v$v, cold cache")
      // a move keeps the pointer's mtime, so the next step still sees it
      // exactly as the commits left it
      val had = Files.exists(lc)
      if (had) Files.move(lc, aside)
      try assert(TxLog.latestVersion(spark, t).contains(v), s"v$v, no pointer")
      finally if (had) Files.move(aside, lc)
    }
    // a 2-file table: rewriting one file (remove 1 + add 1) is no
    // smaller than the 2-file snapshot, so every copy-on-write DML and
    // compact below writes a full snapshot; appends stay deltas
    TxLog.overwrite((1L to 20L).map(i => (i, s"r$i")).toDF("k", "v")
      .repartition(2), t)
    assert(TxLog.manifest(spark, t).files.size == 2)
    latestIsExact(1L)
    // v2..v13: delete, update, compact, append, three times over; each
    // DML statement hits the base row keyed by its own version
    def step(v: Long): (String, Long) = (v - 2) % 4 match {
      case 0 => "delete" -> TxLog.delete(spark, t, col("k") === v)
      case 1 => "update" -> TxLog.update(spark, t, col("k") === v,
        Seq("v" -> org.apache.spark.sql.functions.lit("u")))
      case 2 => "compact" -> TxLog.compact(spark, t)
      case _ =>
        TxLog.append(Seq((100L + v, "a")).toDF("k", "v"), t)
        "append" -> TxLog.latestVersion(spark, t).get
    }
    (2L to 13L).foreach { v =>
      val before = pointer()
      val (op, landed) = step(v)
      assert(landed == v, s"$op should commit v$v")
      latestIsExact(v)
      if (op == "append") assert(!TxLog.isCheckpointOnDisk(spark, t, v))
      else assert(TxLog.isCheckpointOnDisk(spark, t, v),
        s"$op at v$v should be a size-forced full snapshot")
      if (v == 10L)
        assert(pointer().map(_._1).contains("""{"version":10}"""),
          s"$op at v10 is on the cadence and moves the pointer")
      else assert(pointer() == before,
        s"$op at v$v is off the cadence and must leave the pointer as it was")
    }
    // three deletes, three appends
    TxLog.clearSnapshotCache()
    assert(TxLog.read(spark, t).count() == 20L)
  }

  test("pre-checkpointing logs (all-full records, no pointer) read unchanged") {
    // simulate an old log: interval=1 writes every version full and we
    // delete the advisory pointer — resolution must not require it
    withInterval(1) {
      val t = tmpTable()
      TxLog.overwrite(Seq((1L, "a")).toDF("k", "v"), t)
      TxLog.append(Seq((2L, "b")).toDF("k", "v"), t)
      Files.deleteIfExists(java.nio.file.Paths.get(s"$t/_txlog/_last_checkpoint"))
      TxLog.clearSnapshotCache()
      assert(TxLog.read(spark, t).count() == 2L)
      assert(TxLog.readAsOf(spark, t, 1L).count() == 1L)
    }
  }
}
