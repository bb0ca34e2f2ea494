package graft.plans

import org.apache.spark.sql.functions.col

import graft.SparkSpec
import graft.sources.TxLog

/** The maintenance + schema-DDL SQL surface (GraftSqlParser +
  * TxSqlDmlStrategy): OPTIMIZE / VACUUM / RESTORE / DESCRIBE
  * HISTORY|DETAIL / ALTER TABLE ADD|DROP|RENAME COLUMN, each routed to
  * the SAME TxLog operator the Scala API calls — a SQL-only user can
  * now maintain and evolve a transactional table end to end.
  */
class TxSqlMaintenanceSpec extends SparkSpec {
  import spark.implicits._

  private var n = 0
  private def freshTable(): (String, String) = synchronized {
    n += 1
    val name = s"sqlmaint_$n"
    val path = java.nio.file.Files.createTempDirectory("graft-sqlmaint")
      .resolve("t").toString
    (name, path)
  }

  private def mk(): (String, String) = {
    val (name, path) = freshTable()
    TxLog.overwrite(Seq(
      (1L, "a", 10), (2L, "b", 20), (3L, "c", 30), (4L, "d", 40)
    ).toDF("k", "v", "n").repartition(2, col("k")), path)
    spark.sql(s"CREATE TABLE $name USING `graft-txlog` OPTIONS (path '$path')")
    (name, path)
  }

  test("OPTIMIZE compacts small files and returns the committed version") {
    val (name, path) = mk()
    TxLog.append(Seq((5L, "e", 50)).toDF("k", "v", "n"), path)
    TxLog.append(Seq((6L, "f", 60)).toDF("k", "v", "n"), path)
    val before = TxLog.manifest(spark, path).files.size
    val out = spark.sql(s"OPTIMIZE $name").collect()
    assert(out.length == 1 && out.head.getLong(0) > 3L,
      "OPTIMIZE must return the new commit version")
    assert(TxLog.manifest(spark, path).action == "compact")
    assert(TxLog.manifest(spark, path).files.size < before)
    assert(TxLog.read(spark, path).count() == 6L, "rows survive compaction")
  }

  test("OPTIMIZE ZORDER BY re-clusters; HILBERT BY takes the hilbert curve") {
    val (name, path) = mk()
    spark.sql(s"OPTIMIZE $name ZORDER BY (k, n)")
    assert(TxLog.manifest(spark, path).action == "zorder")
    assert(TxLog.read(spark, path).count() == 4L)
    spark.sql(s"OPTIMIZE $name HILBERT BY (k, n)")
    assert(TxLog.manifest(spark, path).action == "zorder")
    assert(spark.sql(s"SELECT sum(n) FROM $name").as[Long].head() == 100L)
  }

  test("VACUUM RETAIN n VERSIONS drops history; RESTORE goes back") {
    val (name, path) = mk()
    spark.sql(s"UPDATE $name SET n = n + 1 WHERE k = 1") // v2
    spark.sql(s"DELETE FROM $name WHERE k = 4") //          v3
    // RESTORE back to v1: all four original rows
    val restored = spark.sql(s"RESTORE TABLE $name TO VERSION AS OF 1")
      .collect().head.getLong(0)
    assert(restored == 4L)
    assert(spark.sql(s"SELECT * FROM $name").count() == 4L)
    assert(TxLog.read(spark, path).as[(Long, String, Int)].collect().toSet
      .contains((1L, "a", 10)), "v1 content restored (pre-update)")
    // VACUUM keeping 2 versions: v1/v2 manifests go away
    val deleted = spark.sql(s"VACUUM $name RETAIN 2 VERSIONS")
      .collect().head.getLong(0)
    assert(deleted >= 0L)
    assert(TxLog.versions(spark, path) == Seq(3L, 4L))
    intercept[Exception] { TxLog.readAsOf(spark, path, 1L).collect() }
    assert(spark.sql(s"SELECT * FROM $name").count() == 4L,
      "the live snapshot survives vacuum")
  }

  test("DESCRIBE HISTORY / DESCRIBE DETAIL answer from the manifests") {
    val (name, path) = mk()
    spark.sql(s"DELETE FROM $name WHERE k = 4")
    val hist = spark.sql(s"DESCRIBE HISTORY $name")
    assert(hist.columns.toSeq == Seq("version", "action", "ts", "num_files", "rows"))
    assert(hist.select("action").as[String].collect().toSeq ==
      Seq("overwrite", "delete"))
    val detail = spark.sql(s"DESC DETAIL $name").collect()
    assert(detail.length == 1)
    assert(detail.head.getAs[Long]("num_rows") == 3L)
  }

  test("maintenance statements accept a quoted path literal") {
    val (_, path) = freshTable()
    TxLog.overwrite(Seq((1L, 1), (2L, 2)).toDF("k", "n"), path)
    TxLog.append(Seq((3L, 3)).toDF("k", "n"), path)
    spark.sql(s"OPTIMIZE '$path'")
    assert(TxLog.manifest(spark, path).action == "compact")
    assert(spark.sql(s"DESCRIBE HISTORY '$path'").count() == 3L)
  }

  test("ALTER TABLE ADD COLUMN widens the schema metadata-only") {
    val (name, path) = mk()
    val filesBefore = TxLog.manifest(spark, path).files
    spark.sql(s"ALTER TABLE $name ADD COLUMN extra INT")
    assert(TxLog.manifest(spark, path).action == "add_columns")
    assert(TxLog.manifest(spark, path).files == filesBefore,
      "ADD COLUMN must not touch data files")
    val got = TxLog.read(spark, path)
    assert(got.columns.toSeq == Seq("k", "v", "n", "extra"))
    assert(got.where(col("extra").isNull).count() == 4L, "old rows null-fill")
    // the widened schema is live for writes
    TxLog.append(Seq((5L, "e", 50, 99)).toDF("k", "v", "n", "extra"), path)
    assert(TxLog.read(spark, path).where(col("extra") === 99).count() == 1L)
    // NOT NULL adds and duplicate names fail loudly
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $name ADD COLUMN n INT") }
  }

  test("ALTER TABLE DROP/RENAME COLUMN route to the transactional DDL") {
    val (name, path) = mk()
    spark.sql(s"ALTER TABLE $name RENAME COLUMN v TO label")
    assert(TxLog.read(spark, path).columns.toSeq == Seq("k", "label", "n"))
    assert(TxLog.manifest(spark, path).action == "rename_column")
    spark.sql(s"ALTER TABLE $name DROP COLUMN label")
    assert(TxLog.read(spark, path).columns.toSeq == Seq("k", "n"))
    assert(TxLog.manifest(spark, path).action == "drop_column")
    assert(TxLog.read(spark, path).count() == 4L)
  }

  test("ALTER COLUMN on a non-graft table keeps Spark's native behavior") {
    val dir = java.nio.file.Files.createTempDirectory("graft-native").toString
    Seq((1, "x")).toDF("a", "b").write.mode("overwrite").parquet(s"$dir/p")
    spark.sql(s"CREATE TABLE native_parq_tbl USING parquet LOCATION '$dir/p'")
    // v1 parquet tables do not support RENAME COLUMN — the statement
    // must DELEGATE to Spark and surface Spark's own error, proving the
    // parser did not hijack foreign tables
    val e = intercept[Exception] {
      spark.sql("ALTER TABLE native_parq_tbl RENAME COLUMN b TO c") }
    assert(e.getMessage.contains("RENAME COLUMN"))
  }

  test("VACUUM DRY RUN lists the doomed files without touching disk") {
    val (name, path) = mk()
    TxLog.overwrite(Seq((9L, "z", 90)).toDF("k", "v", "n"), path) // v2
    val dry = spark.sql(s"VACUUM $name RETAIN 1 VERSIONS DRY RUN")
      .collect().map(_.getString(0)).toSeq
    assert(dry.nonEmpty, "v1's files are doomed")
    dry.foreach(rel => assert(
      java.nio.file.Files.exists(java.nio.file.Paths.get(path, rel)),
      s"dry run must not delete $rel"))
    assert(TxLog.versions(spark, path) == Seq(1L, 2L), "no version dropped")
    // the real vacuum deletes EXACTLY the dry run's list
    val reaped = spark.sql(s"VACUUM $name RETAIN 1 VERSIONS")
      .head.getLong(0)
    assert(reaped == dry.size.toLong)
    dry.foreach(rel => assert(
      !java.nio.file.Files.exists(java.nio.file.Paths.get(path, rel))))
  }

  test("DRY RUN reports dropped versions' census dirs (reap parity)") {
    val (name, path) = freshTable()
    val saved = TxLog.censusMinFiles
    TxLog.censusMinFiles = 1
    try {
      TxLog.overwrite(Seq((0L, "s", 0)).toDF("k", "v", "n"), path)
      // reach the 10th version, whose checkpoint writes a parquet census
      (1 to 10).foreach(i =>
        TxLog.append(Seq((i.toLong, s"r$i", i)).toDF("k", "v", "n"), path))
      spark.sql(s"CREATE TABLE $name USING `graft-txlog` OPTIONS (path '$path')")
      val censusRel = "_txlog/%020d.checkpoint.parquet".format(10)
      assert(java.nio.file.Files.exists(
        java.nio.file.Paths.get(path, censusRel)), "census written at v10")
      val dry = spark.sql(s"VACUUM $name RETAIN 1 VERSIONS DRY RUN")
        .collect().map(_.getString(0)).toSeq
      assert(dry.contains(censusRel),
        s"dry run must report the doomed census dir; got ${dry.mkString(", ")}")
      val reaped = spark.sql(s"VACUUM $name RETAIN 1 VERSIONS").head.getLong(0)
      assert(reaped == dry.size.toLong, "the reap deletes the dry list exactly")
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(path, censusRel)))
    } finally TxLog.censusMinFiles = saved
  }

  test("COPY INTO ingests a landing dir idempotently from SQL") {
    val (name, path) = mk() // 4 rows
    val land = java.nio.file.Files.createTempDirectory("graft-sqlcopy").toString
    Seq((10L, "x", 100), (11L, "y", 110)).toDF("k", "v", "n")
      .coalesce(1).write.mode("append").parquet(land)
    val r1 = spark.sql(s"COPY INTO $name FROM '$land'").collect().head
    assert(r1.getLong(1) == 1L && r1.getLong(2) == 2L) // 1 file, 2 rows
    assert(spark.sql(s"SELECT count(*) FROM $name").head.getLong(0) == 6L)
    // re-run: nothing new, nothing committed
    val r2 = spark.sql(s"COPY INTO $name FROM '$land'").collect().head
    assert(r2.getLong(1) == 0L && r2.getLong(0) == r1.getLong(0))
    // json/csv read with the TARGET's declared schema; this fresh
    // landing is parquet bytes, so every row is malformed and — with
    // no quarantine — the run refuses loudly instead of dropping data
    val land2 = java.nio.file.Files.createTempDirectory("graft-sqlcopy2").toString
    Seq((12L, "z", 120)).toDF("k", "v", "n")
      .coalesce(1).write.mode("append").parquet(land2)
    val e = intercept[Exception] {
      spark.sql(s"COPY INTO $name FROM '$land2' FILEFORMAT = JSON").collect()
    }
    assert(e.getMessage.contains("malformed"))
    // an unknown format is still a parse-time error
    val e2 = intercept[Exception] {
      spark.sql(s"COPY INTO $name FROM '$land' FILEFORMAT = AVRO")
    }
    assert(e2.getMessage.contains("FILEFORMAT"))
  }

  test("OPTIMIZE on an unregistered identifier fails with a clear message") {
    val e = intercept[Exception] { spark.sql("OPTIMIZE no_such_graft_table") }
    assert(e.getMessage.contains("not a graft-txlog table"))
  }

  test("CONVERT TO GRAFT adopts a plain parquet dir; NO STATISTICS skips min/max") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sqlconv")
      .resolve("t").toString
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
      .repartition(2, col("k")).write.parquet(dir)
    val out = spark.sql(s"CONVERT TO GRAFT '$dir'").collect()
    assert(out.length == 1 && out.head.getLong(0) == 1L)
    val m = TxLog.manifest(spark, dir)
    assert(m.action == "convert" && m.stats.get.exists(_.stats.nonEmpty))
    assert(TxLog.read(spark, dir).count() == 3L)

    val dir2 = java.nio.file.Files.createTempDirectory("graft-sqlconv")
      .resolve("t").toString
    Seq((1L, "a")).toDF("k", "v").write.parquet(dir2)
    spark.sql(s"CONVERT TO GRAFT '$dir2' NO STATISTICS")
    val m2 = TxLog.manifest(spark, dir2)
    assert(m2.stats.get.forall(_.stats.isEmpty), "NO STATISTICS skips min/max")
    assert(m2.stats.get.map(_.rows).sum == 1L, "row counts stay complete")
  }

  test("CREATE TABLE dst SHALLOW CLONE src: path and catalog destinations") {
    val (name, path) = mk()
    // path-literal destination
    val dst = java.nio.file.Files.createTempDirectory("graft-sqlclone")
      .resolve("t").toString
    val out = spark.sql(s"CREATE TABLE '$dst' SHALLOW CLONE $name").collect()
    assert(out.length == 1 && out.head.getLong(0) == 1L)
    assert(TxLog.manifest(spark, dst).action == "clone")
    assert(TxLog.read(spark, dst).count() == 4L)
    // catalog-identifier destination: default location + registration
    val cname = name + "_fork"
    spark.sql(s"CREATE TABLE $cname SHALLOW CLONE $name")
    assert(spark.sql(s"SELECT count(*) FROM $cname").collect()(0).getLong(0) == 4L)
    // the fork is independent: a source delete does not change it
    spark.sql(s"DELETE FROM $name WHERE k <= 2")
    assert(spark.sql(s"SELECT count(*) FROM $cname").collect()(0).getLong(0) == 4L)
    // an existing destination refuses
    val e = intercept[Exception](
      spark.sql(s"CREATE TABLE $cname SHALLOW CLONE $name").collect())
    assert(e.getMessage.contains("already exists"))
  }

  test("CREATE TABLE dst CLONE src copies the data (deep, the default)") {
    val (name, path) = mk()
    val dst = java.nio.file.Files.createTempDirectory("graft-sqldeep")
      .resolve("t").toString
    // bare CLONE (no SHALLOW) = deep, the Delta default; DEEP also spells
    val out = spark.sql(s"CREATE TABLE '$dst' CLONE $name").collect()
    assert(out.length == 1 && out.head.getLong(0) == 1L)
    val m = TxLog.manifest(spark, dst)
    assert(m.action == "deep_clone")
    m.files.foreach(rel => assert(!rel.startsWith("/") && !rel.contains(":"),
      s"a deep clone owns every entry: $rel"))
    assert(TxLog.read(spark, dst).count() == 4L)
    val dst2 = java.nio.file.Files.createTempDirectory("graft-sqldeep2")
      .resolve("t").toString
    spark.sql(s"CREATE TABLE '$dst2' DEEP CLONE $name")
    assert(TxLog.manifest(spark, dst2).action == "deep_clone")
  }

  test("RESTORE TO TIMESTAMP AS OF / VACUUM RETAIN HOURS / OPTIMIZE WHERE") {
    val (name, path) = mk() // v1
    spark.sql(s"UPDATE $name SET v = 'X'") // v2
    val tsV1 = new java.sql.Timestamp(
      TxLog.manifestAt(spark, path, 1L).tsMillis).toString
    spark.sql(s"RESTORE TABLE $name TO TIMESTAMP AS OF '$tsV1'")
    assert(TxLog.read(spark, path).filter(col("v") === "X").count() == 0L,
      "timestamp restore must land on v1's state")
    // RETAIN 1000 HOURS keeps everything; RETAIN 0 HOURS keeps only latest
    spark.sql(s"VACUUM $name RETAIN 1000 HOURS")
    assert(TxLog.versions(spark, path).size == 3)
    spark.sql(s"VACUUM $name RETAIN 0 HOURS")
    assert(TxLog.versions(spark, path).size == 1)

    // partition-scoped OPTIMIZE: only the named partition's files move
    val (name2, path2) = freshTable()
    import spark.implicits._
    TxLog.overwrite(Seq((1L, "a", 2020), (2L, "b", 2021)).toDF("k", "v", "y"),
      path2, partitionBy = Some(Seq("y")))
    TxLog.append(Seq((3L, "c", 2020)).toDF("k", "v", "y"), path2)
    TxLog.append(Seq((4L, "d", 2020)).toDF("k", "v", "y"), path2)
    spark.sql(s"CREATE TABLE $name2 USING `graft-txlog` OPTIONS (path '$path2')")
    val before = TxLog.manifest(spark, path2).files.toSet
    spark.sql(s"OPTIMIZE $name2 WHERE y = 2020")
    val after = TxLog.manifest(spark, path2).files.toSet
    val untouched2021 = before.filter(_.contains("=2021"))
    assert(untouched2021.subsetOf(after), "2021's files must not move")
    assert(after.count(_.contains("=2020")) < before.count(_.contains("=2020")),
      "2020's small files must have been packed")
    assert(TxLog.read(spark, path2).count() == 4L)

    // partition-scoped RE-CLUSTERING: WHERE composes with ZORDER BY
    TxLog.append(Seq((5L, "e", 2020), (6L, "f", 2020)).toDF("k", "v", "y"),
      path2)
    val pre = TxLog.manifest(spark, path2).files.toSet
    spark.sql(s"OPTIMIZE $name2 WHERE y = 2020 ZORDER BY (k)")
    val m3 = TxLog.manifest(spark, path2)
    assert(m3.action == "zorder")
    assert(pre.filter(_.contains("=2021")).subsetOf(m3.files.toSet),
      "2021's files must not move under a 2020-scoped ZORDER")
    assert(TxLog.read(spark, path2).count() == 6L)
  }

  test("CREATE TABLE ... USING graft-txlog AS SELECT (CTAS) and INSERT INTO") {
    val (name, path) = freshTable()
    spark.sql(
      s"""CREATE TABLE $name USING `graft-txlog` OPTIONS (path '$path')
         |AS SELECT id AS k, concat('v', id) AS v FROM range(3)""".stripMargin)
    assert(TxLog.latestVersion(spark, path).contains(1L), "CTAS = one commit")
    assert(spark.sql(s"SELECT count(*) FROM $name").collect()(0).getLong(0) == 3L)
    spark.sql(s"INSERT INTO $name SELECT id AS k, 'x' AS v FROM range(3, 5)")
    assert(TxLog.latestVersion(spark, path).contains(2L), "INSERT = one append commit")
    assert(TxLog.read(spark, path).count() == 5L)
    spark.sql(s"INSERT OVERWRITE TABLE $name SELECT id AS k, 'y' AS v FROM range(2)")
    assert(TxLog.read(spark, path).count() == 2L, "INSERT OVERWRITE replaces")
    assert(TxLog.manifest(spark, path).action == "overwrite")
  }

  test("ALTER TABLE ADD/DROP CONSTRAINT and CLUSTER BY as SQL") {
    val (name, path) = mk()
    spark.sql(s"ALTER TABLE $name ADD CONSTRAINT pos_n CHECK (n > 0)")
    // enforced on the next row-adding write
    val e = intercept[Exception](
      TxLog.append(Seq((9L, "bad", -5)).toDF("k", "v", "n"), path))
    assert(e.getMessage.contains("pos_n") || e.getCause != null)
    // a violating ADD refuses (existing rows scanned)
    val e2 = intercept[IllegalArgumentException](
      spark.sql(s"ALTER TABLE $name ADD CONSTRAINT small CHECK (n < 20)"))
    assert(e2.getMessage.contains("violate"))
    spark.sql(s"ALTER TABLE $name DROP CONSTRAINT pos_n")
    TxLog.append(Seq((9L, "ok", -5)).toDF("k", "v", "n"), path) // now fine
    assert(TxLog.read(spark, path).count() == 5L)

    // CLUSTER BY maps onto the cluster-on-write property
    spark.sql(s"ALTER TABLE $name CLUSTER BY (k, n)")
    assert(TxLog.manifest(spark, path).properties
      .getOrElse(Map.empty).get(TxLog.clusterByKey).contains("k,n"))
    spark.sql(s"ALTER TABLE $name CLUSTER BY NONE")
    assert(!TxLog.manifest(spark, path).properties
      .getOrElse(Map.empty).contains(TxLog.clusterByKey))
  }

  test("SELECT ... FROM t VERSION AS OF / TIMESTAMP AS OF (v1 time travel)") {
    val (name, path) = mk() // v1: 4 rows
    spark.sql(s"DELETE FROM $name WHERE k <= 2") // v2: 2 rows
    assert(spark.sql(s"SELECT count(*) FROM $name VERSION AS OF 1")
      .collect()(0).getLong(0) == 4L)
    assert(spark.sql(s"SELECT count(*) FROM $name VERSION AS OF 2")
      .collect()(0).getLong(0) == 2L)
    val tsV1 = new java.sql.Timestamp(
      TxLog.manifestAt(spark, path, 1L).tsMillis).toString
    assert(spark.sql(
      s"SELECT count(*) FROM $name TIMESTAMP AS OF '$tsV1'")
      .collect()(0).getLong(0) == 4L)
    // the live read is unaffected
    assert(spark.sql(s"SELECT count(*) FROM $name").collect()(0).getLong(0) == 2L)
    val e = intercept[Exception](
      spark.sql(s"SELECT * FROM $name VERSION AS OF 99").collect())
    assert(e.getMessage.contains("99"))
  }
}
