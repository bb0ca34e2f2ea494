package graft.sources

import java.nio.file.Files

import java.util.concurrent.CountDownLatch

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.{col, expr, lit, udf}

import graft.SparkSpec

/** Round-8 hardening of the transactional layer's edges:
  *   - rewrites (compact/zorder) must abort when a concurrent DV DML
  *     changed a planned file's deletion vectors (files-present alone
  *     misses it and would resurrect the concurrently-deleted rows);
  *   - scan-reported file paths are URI-encoded while manifest rel paths
  *     are raw — DV DML on a partition dir containing a space must still
  *     resolve (`g=a b/` scans back as `g=a%20b/`);
  *   - identity tables must not silently drop mergeSchema-evolved columns;
  *   - overwritePartitions CDF post-images must carry LOGICAL names on a
  *     renamed table;
  *   - clone's borrowed entries record the full URI (scheme intact), so a
  *     cross-filesystem clone can't mis-resolve against the destination.
  */
class TxLogHardeningSpec extends SparkSpec {
  import spark.implicits._

  private def tmpTable(): String =
    Files.createTempDirectory("graft-hard").resolve("t").toString

  // --- compact/zorder vs concurrent DV DML -----------------------------

  private def mf(files: Seq[String], dvs: Seq[TxLog.DvEntry],
      version: Long = 1L): TxLog.Manifest =
    TxLog.Manifest(version, "test", files, "{}", 0L,
      dvs = Some(dvs).filter(_.nonEmpty))

  test("rewrite guard: a DV added to a planned file between plan and commit aborts") {
    val planned = Set("data/u/a.parquet", "data/u/b.parquet")
    val snap = mf(planned.toSeq, Seq.empty)
    val racer = mf(planned.toSeq,
      Seq(TxLog.DvEntry("data/u/a.parquet", "dv/x", 3L)), version = 2L)
    intercept[java.util.ConcurrentModificationException] {
      TxLog.requireDvsUnchanged("t", "compaction", planned, snap, Some(racer))
    }
    // symmetric: a vector the plan READ that the racer removed also aborts
    intercept[java.util.ConcurrentModificationException] {
      TxLog.requireDvsUnchanged("t", "compaction", planned, racer.copy(version = 1L),
        Some(snap.copy(version = 2L)))
    }
  }

  test("rewrite guard: unchanged DVs and non-planned-file DV churn pass") {
    val planned = Set("data/u/a.parquet")
    val dv = TxLog.DvEntry("data/u/a.parquet", "dv/x", 3L)
    val snap = mf(Seq("data/u/a.parquet", "data/u/c.parquet"), Seq(dv))
    // identical planned-file DVs: fine
    TxLog.requireDvsUnchanged("t", "compaction", planned, snap,
      Some(snap.copy(version = 2L)))
    // a concurrent DV on a file OUTSIDE the plan: fine (appends-tolerant)
    val other = snap.copy(version = 2L, dvs = Some(Seq(dv,
      TxLog.DvEntry("data/u/c.parquet", "dv/y", 1L))))
    TxLog.requireDvsUnchanged("t", "compaction", planned, snap, Some(other))
  }

  // --- URI-encoded scan paths vs raw manifest rel paths ----------------

  test("DV DML works on a partition dir that URI-encodes (space in value)") {
    val t = tmpTable()
    // partition value 'a b' → dir `g=a b/`, which the scan reports as
    // `g=a%20b/` — the raw last2 key alone never matches it
    val df = (0 until 40).map(i => (i.toLong, if (i % 2 == 0) "a b" else "plain"))
      .toDF("k", "g")
    // one file per partition dir, so a partial delete VECTORS instead of
    // hitting the full-file-drop tier (the test needs live DVs)
    TxLog.overwrite(df.coalesce(1), t, partitionBy = Some(Seq("g")))
    TxLog.delete(spark, t, col("k") < 10L, deletionVectors = true)
    val m = TxLog.manifest(spark, t)
    assert(m.dvs.exists(_.nonEmpty), "delete must have vectored, not dropped")
    val got = TxLog.read(spark, t).as[(Long, String)].collect()
    assert(got.length == 30 && got.forall(_._1 >= 10L))
    // a SECOND vectored delete re-reads through the existing DVs (the
    // anti-join side of the same encoding trap) and unions positions
    TxLog.delete(spark, t, col("k") < 20L, deletionVectors = true)
    assert(TxLog.read(spark, t).count() == 20L)
    // vectored UPDATE goes through the same keyed scan
    TxLog.update(spark, t, col("k") === 25L, Seq("k" -> lit(250L)),
      deletionVectors = true)
    val ks = TxLog.read(spark, t).as[(Long, String)].collect().map(_._1).toSet
    assert(ks.contains(250L) && !ks.contains(25L))
  }

  // --- identity + mergeSchema -------------------------------------------

  test("mergeSchema append to an identity table keeps the evolved column's data") {
    val t = tmpTable()
    TxLog.overwrite(Seq((0L, "seed")).toDF("id", "v"), t)
    TxLog.setIdentityColumn(spark, t, "id", start = 100L)
    TxLog.append(Seq(("a", 1.5), ("b", 2.5)).toDF("v", "score"), t,
      mergeSchema = true)
    val m = TxLog.manifest(spark, t)
    val fields = org.apache.spark.sql.types.DataType.fromJson(m.schemaJson)
      .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames.toSeq
    assert(fields.contains("score"), s"schema did not evolve: $fields")
    val got = TxLog.read(spark, t).as[(Long, String, Option[Double])]
      .collect().map(r => r._2 -> r._3).toMap
    assert(got("a").contains(1.5) && got("b").contains(2.5),
      "evolved column's values were dropped on the identity path")
    assert(got("seed").isEmpty) // old rows read NULL for the new column
    // identity ids were still assigned
    val ids = TxLog.read(spark, t).as[(Long, String, Option[Double])]
      .collect().map(_._1).toSet
    assert(ids == Set(0L, 100L, 101L))
  }

  // --- overwritePartitions CDF on a renamed table ----------------------

  test("overwritePartitions(changeFeed) post-images carry logical names on a renamed table") {
    val t = tmpTable()
    TxLog.overwrite(Seq((1L, "x", 2024), (2L, "y", 2025)).toDF("k", "v", "yr"),
      t, partitionBy = Some(Seq("yr")))
    TxLog.renameColumn(spark, t, "v", "val")
    val v = TxLog.overwritePartitions(
      Seq((9L, "z", 2025)).toDF("k", "val", "yr"), t, changeFeed = true)
    val cdf = TxLog.readChangeFeed(spark, t, sinceVersion = v - 1) // (since, until]
    assert(cdf.columns.contains("val") && !cdf.columns.contains("v"))
    val byType = cdf.groupBy("_change_type").count().as[(String, Long)]
      .collect().toMap
    assert(byType.get("delete").contains(1L)) // the replaced 2025 row
    assert(byType.get("insert").contains(1L)) // the new 2025 row
    // untouched partition intact, logical names on the read
    val rows = TxLog.read(spark, t).select("k", "val").as[(Long, String)]
      .collect().toSet
    assert(rows == Set(1L -> "x", 9L -> "z"))
  }

  // --- clone borrowed entries keep their scheme -------------------------

  test("clone records full-URI borrowed entries and vacuum never reaps them") {
    val src = tmpTable(); val dst = tmpTable()
    TxLog.overwrite((0 until 20).map(i => (i.toLong, s"v$i")).toDF("k", "v"), src)
    TxLog.delete(spark, src, col("k") === 3L, deletionVectors = true)
    TxLog.clone(spark, src, dst)
    val m = TxLog.manifest(spark, dst)
    // scheme survives (file:/…), so a cross-filesystem source would
    // resolve against ITS OWN filesystem, not the destination's
    assert(m.files.nonEmpty && m.files.forall(_.startsWith("file:/")),
      s"borrowed entries lost their scheme: ${m.files.take(2)}")
    m.dvs.getOrElse(Seq.empty).foreach { e =>
      assert(e.path.startsWith("file:/") && e.dv.startsWith("file:/"))
    }
    assert(TxLog.read(spark, dst).count() == 19L)
    // churn the clone past retention, vacuum it: borrowed files must
    // survive (they are the SOURCE's data)
    TxLog.append(Seq((100L, "n")).toDF("k", "v"), dst)
    TxLog.overwrite(Seq((200L, "o")).toDF("k", "v"), dst)
    TxLog.vacuum(spark, dst, keepVersions = 1)
    assert(TxLog.read(spark, src).count() == 19L,
      "vacuuming the clone reaped the source's data files")
  }

  // --- interrupts during a change-feed commit --------------------------

  test("change-feed DELETE: an interrupt while a failed data write drains the CDF job is kept") {
    // the CDF job blocks on a latch, the data write fails at once, so the
    // caller waits in overlapCdf's drain when the interrupt arrives
    val gate = udf { (i: Long) => CdfGate.started.countDown(); CdfGate.release.await(); i }
    val changes = spark.range(0, 1, 1, 1)
      .select(gate(col("id")).as("id"), lit("delete").as("_change_type"))
    @volatile var failure: Throwable = null
    @volatile var interrupted = false
    val caller = new Thread(() => {
      try TxLog.overlapCdf(spark, tmpTable(), Some(changes), "data/drain") {
        throw new IllegalStateException("data write failed")
      }
      catch { case e: Throwable => failure = e }
      interrupted = Thread.currentThread().isInterrupted
    })
    try {
      caller.start()
      CdfGate.started.await()
      while (caller.isAlive && caller.getState != Thread.State.WAITING) Thread.sleep(10)
      caller.interrupt()
      caller.join(500)
      assert(caller.isAlive, "the drain must outlast the interrupt while the CDF job runs")
    } finally CdfGate.release.countDown()
    caller.join(60000)
    assert(!caller.isAlive)
    assert(failure.getMessage == "data write failed")
    assert(interrupted, "the interrupt delivered during the drain was lost")
  }

  test("change-feed DELETE and MERGE run every job under the caller's job group") {
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    /** The job groups of the jobs `body` ran under `group`. */
    def jobGroups(group: String)(body: => Unit): Seq[String] = {
      org.apache.spark.graftprobe.ListenerBusProbe.drain(sc)
      groups.clear()
      sc.setJobGroup(group, s"spec: $group")
      try body finally sc.clearJobGroup()
      org.apache.spark.graftprobe.ListenerBusProbe.drain(sc)
      import scala.jdk.CollectionConverters._
      groups.asScala.toSeq
    }
    val t = tmpTable()
    TxLog.overwrite((0L until 40L).map(i => (i, s"v$i")).toDF("k", "v")
      .repartition(4, col("k")), t)
    val since = TxLog.latestVersion(spark, t).get
    sc.addSparkListener(listener)
    try {
      // more change-feed commits than the pool has threads, each under its
      // own group: a thread that kept the group it was created under shows
      // up as a foreign group on a later commit
      (1 to 2).foreach { round =>
        val del = jobGroups(s"cdf-delete-$round") {
          TxLog.delete(spark, t, col("k") === round.toLong, changeFeed = true)
        }
        assert(del.nonEmpty && del.forall(_ == s"cdf-delete-$round"), del)
        val mrg = jobGroups(s"cdf-merge-$round") {
          TxLog.mergeInto(spark, t,
            Seq((10L + round, "u"), (100L + round, "i")).toDF("k", "sv"),
            on = expr("t.k = s.k"),
            matched = Seq(TxLog.MergeUpdate(Map("v" -> expr("s.sv")))),
            notMatched = Seq(TxLog.MergeInsert(Map("k" -> expr("s.k"),
              "v" -> expr("s.sv")))),
            changeFeed = true)
        }
        assert(mrg.nonEmpty && mrg.forall(_ == s"cdf-merge-$round"), mrg)
      }
      assert(TxLog.readChangeFeed(spark, t, since).count() == 2L * (1 + 2 + 1))
    } finally sc.removeSparkListener(listener)
  }
}

/** Latches the CDF job of the interrupt spec waits on (executor tasks run
  * in this JVM under local mode).
  */
private object CdfGate {
  val started = new CountDownLatch(1)
  val release = new CountDownLatch(1)
}
