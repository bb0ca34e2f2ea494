package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions.{col, expr, lit}

import graft.SparkSpec

/** Every retrying writer shares one optimistic-commit loop: a writer
  * that loses the commit race on each of its `maxAttempts` attempts
  * fails with one message naming the operation and the table, publishes
  * nothing, and leaves no data directory of its abandoned attempts
  * behind; `maxAttempts < 1` is refused up front. The race is landed
  * deterministically through TxLog.casRaceHook, which runs at the start
  * of every publish.
  */
class CommitRaceExhaustionSpec extends SparkSpec {
  import spark.implicits._
  import TxLog.{MergeInsert, MergeUpdate}

  private def tmpDir(tag: String): String =
    Files.createTempDirectory(s"graft-$tag").toString

  private def seedRows = (0L until 8L).map(k => (k, s"v$k", (k % 2).toInt))

  /** A table of 8 rows over two `g` partitions. */
  private def seeded(): String = {
    val t = Paths.get(tmpDir("exhaust"), "t").toString
    TxLog.overwrite(seedRows.toDF("k", "v", "g"), t, partitionBy = Some(Seq("g")))
    t
  }

  /** Overwrite `t` with its seed rows: a commit that conflicts with
    * every writer's attempt (new files everywhere, so no DML rebases).
    */
  private def reseed(t: String): Unit =
    TxLog.overwrite(seedRows.toDF("k", "v", "g"), t)

  /** Run `body` with `racer` landing a commit in the CAS gap of every
    * publish that `body` makes (the racer's own publishes do not re-enter
    * it); returns how many racer commits landed.
    */
  private def racing(racer: => Unit)(body: => Unit): Int = {
    var inRace = false
    var landed = 0
    TxLog.casRaceHook = () =>
      if (!inRace) {
        inRace = true
        try { racer; landed += 1 } finally inRace = false
      }
    try body finally TxLog.casRaceHook = () => ()
    landed
  }

  /** The `data/<uuid>` dirs under `t` that no version references. */
  private def orphanDataDirs(t: String): Set[String] = {
    val dataDir = Paths.get(t, "data")
    val onDisk =
      if (!Files.exists(dataDir)) Set.empty[String]
      else {
        val it = Files.list(dataDir)
        try it.toArray.map(p => "data/" + p.asInstanceOf[java.nio.file.Path]
          .getFileName.toString).toSet
        finally it.close()
      }
    val referenced = TxLog.versions(spark, t).flatMap { v =>
      val m = TxLog.manifestAt(spark, t, v)
      m.files ++ m.cdf.getOrElse(Seq.empty) ++
        m.dvs.getOrElse(Seq.empty).flatMap(e => Seq(e.path, e.dv))
    }.map(_.split('/').take(2).mkString("/")).toSet
    onDisk -- referenced
  }

  /** One retrying writer: `op` is the name its lost-race message uses,
    * `setup` makes its table, `racer` lands a conflicting commit, and
    * `run` calls the writer with the given `maxAttempts`.
    */
  private final class Writer(val name: String, val op: String,
      val setup: () => String, val racer: String => Unit,
      val run: (String, Int) => Unit)

  private def writer(name: String, op: String, run: (String, Int) => Unit,
      setup: () => String = () => seeded(), racer: String => Unit = reseed) =
    new Writer(name, op, setup, racer, run)

  private val upsert = MergeUpdate(Map("v" -> expr("s.v")))
  private val insert = MergeInsert(Map("k" -> expr("s.k"), "v" -> expr("s.v"),
    "g" -> expr("s.g")))

  private def cdc(t: String, dv: Boolean, n: Int): Unit =
    TxLog.merge(spark, t, Seq((1L, "m", 1, "U"), (9L, "i", 1, "U"))
      .toDF("k", "v", "g", "op"), keys = Seq("k"), ordering = Seq(col("k")),
      opCol = "op", maxAttempts = n, deletionVectors = dv)

  /** `copyInto`'s landing dir per table: each racer ingests what is
    * there, then lands one more file for the writer's next attempt.
    */
  private val landings = scala.collection.mutable.Map.empty[String, String]

  private def land(dir: String, k: Long): Unit =
    Seq((k, s"l$k")).toDF("k", "v").coalesce(1).write.mode("append").parquet(dir)

  private val writers: Seq[Writer] = Seq(
    writer("identity append", "append",
      (t, n) => TxLog.appendWithIdentity(Seq("mine").toDF("v"), t,
        mergeSchema = false, maxAttempts = n),
      () => {
        val t = Paths.get(tmpDir("exhaust-id"), "t").toString
        TxLog.overwrite(Seq((1L, "a")).toDF("k", "v"), t)
        TxLog.setIdentityColumn(spark, t, "k")
        t
      },
      t => TxLog.append(Seq("race").toDF("v"), t)),
    writer("copyInto", "copyInto",
      (t, n) => TxLog.copyInto(spark, landings(t), t, maxAttempts = n),
      () => {
        val t = Paths.get(tmpDir("exhaust-copy"), "t").toString
        TxLog.overwrite(Seq((1L, "a")).toDF("k", "v"), t)
        val dir = tmpDir("exhaust-landing")
        land(dir, 100L)
        landings(t) = dir
        t
      },
      t => {
        TxLog.copyInto(spark, landings(t), t)
        land(landings(t), 200L + TxLog.latestVersion(spark, t).get)
      }),
    writer("merge", "merge", (t, n) => cdc(t, dv = false, n)),
    writer("merge with deletion vectors", "merge", (t, n) => cdc(t, dv = true, n)),
    writer("mergeInto", "mergeInto", (t, n) =>
      TxLog.mergeInto(spark, t, Seq((1L, "m", 1), (9L, "i", 1)).toDF("k", "v", "g"),
        on = expr("t.k = s.k"), matched = Seq(upsert), notMatched = Seq(insert),
        maxAttempts = n)),
    writer("overwritePartitions", "overwritePartitions", (t, n) =>
      TxLog.overwritePartitions(Seq((20L, "p", 0)).toDF("k", "v", "g"), t,
        maxAttempts = n)),
    writer("dropPartitions", "dropPartitions", (t, n) =>
      TxLog.dropPartitions(spark, t, Map("g" -> 0), maxAttempts = n)),
    writer("delete", "delete", (t, n) =>
      TxLog.delete(spark, t, col("k") === 3L, maxAttempts = n)),
    writer("delete with deletion vectors", "delete", (t, n) =>
      TxLog.delete(spark, t, col("k") === 3L, maxAttempts = n,
        deletionVectors = true)),
    writer("replaceWhere", "replaceWhere", (t, n) =>
      TxLog.replaceWhere(Seq((4L, "r", 0)).toDF("k", "v", "g"), t,
        col("k") === 4L, maxAttempts = n)),
    writer("update", "update", (t, n) =>
      TxLog.update(spark, t, col("k") === 5L, Seq("v" -> lit("u")),
        maxAttempts = n)),
    writer("update with deletion vectors", "update", (t, n) =>
      TxLog.update(spark, t, col("k") === 5L, Seq("v" -> lit("u")),
        maxAttempts = n, deletionVectors = true)))

  writers.foreach { w =>
    test(s"${w.name}: exhausted retries fail once, publish nothing, " +
        "orphan nothing") {
      val t = w.setup()
      val v0 = TxLog.latestVersion(spark, t).get
      var err: RuntimeException = null
      val landed = racing(w.racer(t)) {
        err = intercept[RuntimeException](w.run(t, 2))
      }
      assert(err.getMessage.contains(
        s"${w.op} on $t lost the commit race 2 times"), err.getMessage)
      assert(landed == 2, "one racer commit per attempt")
      // every version since v0 is a racer's: the writer published nothing
      assert(TxLog.latestVersion(spark, t).contains(v0 + landed))
      assert(orphanDataDirs(t).isEmpty,
        s"abandoned attempts left data dirs: ${orphanDataDirs(t)}")
    }

    test(s"${w.name}: maxAttempts = 0 is refused") {
      val t = w.setup()
      val v0 = TxLog.latestVersion(spark, t)
      val e = intercept[IllegalArgumentException](w.run(t, 0))
      assert(e.getMessage.contains("maxAttempts must be >= 1"))
      assert(TxLog.latestVersion(spark, t) == v0)
    }
  }
}
