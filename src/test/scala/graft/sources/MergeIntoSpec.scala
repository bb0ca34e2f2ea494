package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.{FullOuter, Inner, JoinType, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.functions.{col, expr, lit, when}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkSpec

/** General MERGE INTO (q123): conditional WHEN MATCHED UPDATE/DELETE,
  * WHEN NOT MATCHED INSERT, WHEN NOT MATCHED BY SOURCE, clause order,
  * multi-match rejection, cost-shape guarantees (insert-only appends
  * without rewriting; the DV path rewrites nothing), and the change feed:
  * one projection of the acted join, equal to the three-way union it
  * replaced and planned with a single join.
  */
class MergeIntoSpec extends SparkSpec {
  import spark.implicits._
  import TxLog.{MergeDelete, MergeInsert, MergeUpdate}

  private def tmpTable(): String =
    Files.createTempDirectory("graft-mi").resolve("t").toString

  // target: (k, v, n); source: (k, sv, op)
  private def seed(t: String): Unit =
    TxLog.overwrite(Seq(
      (1L, "a", 10), (2L, "b", 20), (3L, "c", 30), (4L, "d", 40)
    ).toDF("k", "v", "n").repartition(2, col("k")), t)

  private val src = Seq(
    (2L, "B", "upd"), (3L, "C", "del"), (9L, "I", "ins"), (10L, "J", "skip"))

  private def run(t: String, dv: Boolean): Unit = {
    seed(t)
    TxLog.mergeInto(spark, t, src.toDF("k", "sv", "op"),
      on = expr("t.k = s.k"),
      matched = Seq(
        MergeDelete(cond = Some(expr("s.op = 'del'"))),
        MergeUpdate(Map("v" -> expr("s.sv"), "n" -> expr("t.n + 1")),
          cond = Some(expr("s.op = 'upd'")))),
      notMatched = Seq(
        MergeInsert(Map("k" -> expr("s.k"), "v" -> expr("s.sv")),
          cond = Some(expr("s.op = 'ins'")))),
      deletionVectors = dv)
    val got = TxLog.read(spark, t).as[(Long, String, Option[Int])]
      .collect().toSet
    assert(got == Set(
      (1L, "a", Some(10)),          // untouched
      (2L, "B", Some(21)),          // matched upd clause
      // 3 deleted by the first matched clause
      (4L, "d", Some(40)),          // untouched
      (9L, "I", None)),             // inserted (n unlisted -> NULL)
      s"got $got")
  }

  test("conditional matched update/delete + conditional insert (copy-on-write)") {
    run(tmpTable(), dv = false)
  }

  test("conditional matched update/delete + conditional insert (deletion vectors)") {
    val t = tmpTable()
    val before = { seed(t); TxLog.manifest(spark, t).files.toSet }
    TxLog.mergeInto(spark, t, src.toDF("k", "sv", "op"),
      on = expr("t.k = s.k"),
      matched = Seq(
        MergeDelete(cond = Some(expr("s.op = 'del'"))),
        MergeUpdate(Map("v" -> expr("s.sv"), "n" -> expr("t.n + 1")),
          cond = Some(expr("s.op = 'upd'")))),
      notMatched = Seq(
        MergeInsert(Map("k" -> expr("s.k"), "v" -> expr("s.sv")),
          cond = Some(expr("s.op = 'ins'")))),
      deletionVectors = true)
    val m = TxLog.manifest(spark, t)
    // DV path: every pre-merge file still referenced (none rewritten),
    // vectors cover the updated+deleted rows
    assert(before.subsetOf(m.files.toSet), "DV merge rewrote a file")
    assert(m.dvs.exists(_.map(_.deleted).sum == 2L))
    val got = TxLog.read(spark, t).as[(Long, String, Option[Int])]
      .collect().toSet
    assert(got == Set((1L, "a", Some(10)), (2L, "B", Some(21)),
      (4L, "d", Some(40)), (9L, "I", None)))
  }

  test("clause ORDER decides: first applicable clause wins") {
    val t = tmpTable(); seed(t)
    // both clauses' conditions hold for k=2; the DELETE is first
    TxLog.mergeInto(spark, t, Seq((2L, "B")).toDF("k", "sv"),
      on = expr("t.k = s.k"),
      matched = Seq(
        MergeDelete(cond = Some(expr("t.n >= 20"))),
        MergeUpdate(Map("v" -> expr("s.sv")))))
    assert(!TxLog.read(spark, t).as[(Long, String, Int)].collect()
      .exists(_._1 == 2L))
    // now the same shape with UPDATE first
    TxLog.mergeInto(spark, t, Seq((3L, "C")).toDF("k", "sv"),
      on = expr("t.k = s.k"),
      matched = Seq(
        MergeUpdate(Map("v" -> expr("s.sv")), cond = Some(expr("t.n >= 20"))),
        MergeDelete()))
    val r3 = TxLog.read(spark, t).as[(Long, String, Int)].collect()
      .find(_._1 == 3L)
    assert(r3.contains((3L, "C", 30)))
  }

  test("unconditional matched clause catches what earlier clauses skip") {
    val t = tmpTable(); seed(t)
    // first clause updates op='upd' rows; trailing DELETE removes every
    // OTHER matched row
    TxLog.mergeInto(spark, t,
      Seq((1L, "A1", "upd"), (2L, "B1", "other")).toDF("k", "sv", "op"),
      on = expr("t.k = s.k"),
      matched = Seq(
        MergeUpdate(Map("v" -> expr("s.sv")), cond = Some(expr("s.op = 'upd'"))),
        MergeDelete()))
    val got = TxLog.read(spark, t).as[(Long, String, Int)].collect().toSet
    assert(got == Set((1L, "A1", 10), (3L, "c", 30), (4L, "d", 40)))
  }

  test("WHEN NOT MATCHED BY SOURCE update and delete") {
    val t = tmpTable(); seed(t)
    // source covers k=1,2; by-source clauses act on k=3,4
    TxLog.mergeInto(spark, t, Seq((1L, "x"), (2L, "y")).toDF("k", "sv"),
      on = expr("t.k = s.k"),
      matched = Seq(MergeUpdate(Map("v" -> expr("s.sv")))),
      notMatchedBySource = Seq(
        MergeDelete(cond = Some(expr("t.n >= 40"))),
        MergeUpdate(Map("v" -> lit("stale")))))
    val got = TxLog.read(spark, t).as[(Long, String, Int)].collect().toSet
    assert(got == Set((1L, "x", 10), (2L, "y", 20), (3L, "stale", 30)))
  }

  test("insert-only merge appends without rewriting a single file") {
    val t = tmpTable(); seed(t)
    val before = TxLog.manifest(spark, t).files.toSet
    TxLog.mergeInto(spark, t,
      Seq((2L, "dup"), (7L, "new")).toDF("k", "sv"),
      on = expr("t.k = s.k"),
      notMatched = Seq(MergeInsert(Map("k" -> expr("s.k"),
        "v" -> expr("s.sv"), "n" -> lit(0)))))
    val m = TxLog.manifest(spark, t)
    assert(before.subsetOf(m.files.toSet),
      "insert-only merge must never rewrite existing files")
    val got = TxLog.read(spark, t).as[(Long, String, Int)].collect().toSet
    assert(got.contains((7L, "new", 0)) && got.contains((2L, "b", 20)))
    assert(got.size == 5) // the matched source row did NOT insert
  }

  test("changeFeed records pre/post/insert rows the feed can fold") {
    Seq(false, true).foreach { dv =>
      val t = tmpTable(); seed(t)
      val v = TxLog.mergeInto(spark, t, src.toDF("k", "sv", "op"),
        on = expr("t.k = s.k"),
        matched = Seq(
          MergeDelete(cond = Some(expr("s.op = 'del'"))),
          MergeUpdate(Map("v" -> expr("s.sv"), "n" -> expr("t.n + 1")),
            cond = Some(expr("s.op = 'upd'")))),
        notMatched = Seq(
          MergeInsert(Map("k" -> expr("s.k"), "v" -> expr("s.sv")),
            cond = Some(expr("s.op = 'ins'")))),
        deletionVectors = dv, changeFeed = true)
      val cdf = TxLog.readChangeFeed(spark, t, sinceVersion = v - 1)
        .select("k", "v", "_change_type")
        .as[(Long, String, String)].collect().toSet
      assert(cdf == Set(
        (3L, "c", "delete"),
        (2L, "b", "update_preimage"),
        (2L, "B", "update_postimage"),
        (9L, "I", "insert")), s"dv=$dv got $cdf")
    }
  }

  test("insert-only changeFeed records just the inserts") {
    val t = tmpTable(); seed(t)
    val v = TxLog.mergeInto(spark, t, Seq((2L, "dup"), (7L, "new")).toDF("k", "sv"),
      on = expr("t.k = s.k"),
      notMatched = Seq(MergeInsert(Map("k" -> expr("s.k"),
        "v" -> expr("s.sv"), "n" -> lit(0)))),
      changeFeed = true)
    val cdf = TxLog.readChangeFeed(spark, t, sinceVersion = v - 1)
      .select("k", "_change_type").as[(Long, String)].collect().toSet
    assert(cdf == Set((7L, "insert")))
  }

  test("IVM folds a merge's change feed to exactly the recompute") {
    import graft.operators.Incremental
    val t = tmpTable(); seed(t)
    val base = TxLog.latestVersion(spark, t).get
    val state = Incremental.aggRetractState(
      TxLog.readAsOf(spark, t, base), Seq("v"), col("n"))
    TxLog.mergeInto(spark, t, src.toDF("k", "sv", "op"),
      on = expr("t.k = s.k"),
      matched = Seq(
        MergeDelete(cond = Some(expr("s.op = 'del'"))),
        MergeUpdate(Map("n" -> expr("t.n + 1")),
          cond = Some(expr("s.op = 'upd'")))),
      notMatched = Seq(
        MergeInsert(Map("k" -> expr("s.k"), "v" -> expr("s.sv"), "n" -> lit(5)),
          cond = Some(expr("s.op = 'ins'")))),
      changeFeed = true)
    val delta = Incremental.cdfDelta(
      TxLog.readChangeFeed(spark, t, base), Seq("v"), col("n"))
    val folded = Incremental.mergeRetract(state, delta, Seq("v"))
      .select("v", "rows", "sum_v")
      .as[(String, Long, java.math.BigDecimal)].collect().toSet
    val recomputed = Incremental.aggRetractState(
        TxLog.read(spark, t), Seq("v"), col("n"))
      .select("v", "rows", "sum_v")
      .as[(String, Long, java.math.BigDecimal)].collect().toSet
    assert(folded == recomputed,
      s"\nfolded:     $folded\nrecomputed: $recomputed")
  }

  test("txn watermark makes a replayed merge commit nothing (exactly-once)") {
    val t = tmpTable(); seed(t)
    def bump(batch: Long): Long = TxLog.mergeInto(spark, t,
      Seq((2L, 0)).toDF("k", "ignore"),
      on = expr("t.k = s.k"),
      matched = Seq(MergeUpdate(Map("n" -> expr("t.n + 1")))), // NOT idempotent
      txnAppId = Some("upserter"), txnBatchId = batch)
    val v1 = bump(0L)
    val v2 = bump(0L) // replay of the same batch: no commit
    assert(v2 == v1, "replayed batch committed a new version")
    assert(TxLog.read(spark, t).as[(Long, String, Int)].collect()
      .find(_._1 == 2L).get._3 == 21, "replay double-applied t.n + 1")
    val v3 = bump(1L) // the NEXT batch applies
    assert(v3 > v2)
    assert(TxLog.read(spark, t).as[(Long, String, Int)].collect()
      .find(_._1 == 2L).get._3 == 22)
    // a LOWER batch id after a higher watermark is also skipped
    assert(bump(0L) == v3)
  }

  test("a target row matching multiple source rows fails loudly") {
    val t = tmpTable(); seed(t)
    val e = intercept[RuntimeException] {
      TxLog.mergeInto(spark, t,
        Seq((2L, "B1"), (2L, "B2")).toDF("k", "sv"),
        on = expr("t.k = s.k"),
        matched = Seq(MergeUpdate(Map("v" -> expr("s.sv")))))
    }
    assert(e.getMessage.contains("multiple source rows"))
  }

  test("multi-match is fine when no update/delete clause applies to the row") {
    // the Delta scoping: ambiguity exists only when an UPDATE/DELETE
    // would act through ≥2 source rows — not on the mere join fanout
    val t = tmpTable(); seed(t)
    // (a) matched clause whose condition is false for every pair
    TxLog.mergeInto(spark, t,
      Seq((2L, "B1"), (2L, "B2")).toDF("k", "sv"),
      on = expr("t.k = s.k"),
      matched = Seq(MergeUpdate(Map("v" -> expr("s.sv")),
        cond = Some(expr("s.sv = 'never'")))))
    // (a') ... and the kept row appears ONCE, not once per join pair
    val afterA = TxLog.read(spark, t).as[(Long, String, Int)].collect()
    assert(afterA.length == 4, s"pair fanout duplicated rows: ${afterA.toSeq}")
    assert(afterA.count(_._1 == 2L) == 1)
    // (b) only a by-source clause: matched rows are untouched entirely
    TxLog.mergeInto(spark, t,
      Seq((2L, "B1"), (2L, "B2")).toDF("k", "sv"),
      on = expr("t.k = s.k"),
      notMatchedBySource = Seq(MergeUpdate(Map("v" -> lit("stale")))))
    val all = TxLog.read(spark, t).as[(Long, String, Int)].collect()
    assert(all.length == 4, s"pair fanout duplicated rows: ${all.toSeq}")
    val rows = all.map(r => r._1 -> r._2).toMap
    assert(rows(2L) == "b", "multi-matched row must be untouched")
    assert(rows.view.filterKeys(_ != 2L).values.forall(_ == "stale"),
      "by-source clause must still update non-matching rows")
    // (c) but a CONDITIONAL update applying through ≥2 pairs still fails
    val e = intercept[RuntimeException] {
      TxLog.mergeInto(spark, t,
        Seq((2L, "B1"), (2L, "B2")).toDF("k", "sv"),
        on = expr("t.k = s.k"),
        matched = Seq(MergeUpdate(Map("v" -> expr("s.sv")),
          cond = Some(expr("s.sv like 'B%'")))))
    }
    assert(e.getMessage.contains("multiple source rows"))
  }

  test("multi-match with exactly ONE firing pair: CoW matches the DV semantics") {
    for (dv <- Seq(false, true)) {
      // one firing UPDATE among the pairs: exactly one post-image row,
      // no stale sibling copy of the pre-image
      val tu = tmpTable(); seed(tu)
      TxLog.mergeInto(spark, tu,
        Seq((2L, "B1"), (2L, "B2")).toDF("k", "sv"),
        on = expr("t.k = s.k"),
        matched = Seq(MergeUpdate(Map("v" -> expr("s.sv")),
          cond = Some(expr("s.sv = 'B1'")))),
        deletionVectors = dv)
      val u = TxLog.read(spark, tu).as[(Long, String, Int)].collect()
      assert(u.length == 4, s"dv=$dv: duplicated rows: ${u.toSeq}")
      assert(u.filter(_._1 == 2L).toSeq == Seq((2L, "B1", 20)),
        s"dv=$dv: expected the single fired update, got ${u.toSeq}")

      // one firing DELETE among the pairs: the row is gone (the
      // non-acting sibling pair must not rewrite it back)
      val td = tmpTable(); seed(td)
      TxLog.mergeInto(spark, td,
        Seq((2L, "B1"), (2L, "B2")).toDF("k", "sv"),
        on = expr("t.k = s.k"),
        matched = Seq(MergeDelete(cond = Some(expr("s.sv = 'B1'")))),
        deletionVectors = dv)
      val d = TxLog.read(spark, td).as[(Long, String, Int)].collect()
      assert(d.length == 3 && !d.exists(_._1 == 2L),
        s"dv=$dv: fired delete must remove the row, got ${d.toSeq}")
    }
  }

  test("identity table: NOT MATCHED inserts receive fresh ids in the merge commit") {
    for (dv <- Seq(false, true)) {
      val t = tmpTable()
      TxLog.overwrite(Seq((0L, 1L, "a"), (0L, 2L, "b")).toDF("id", "k", "v"), t)
      TxLog.setIdentityColumn(spark, t, "id", start = 100L)
      TxLog.mergeInto(spark, t,
        Seq((2L, "B"), (9L, "I"), (10L, "J")).toDF("sk", "sv"),
        on = expr("t.k = s.sk"),
        matched = Seq(MergeUpdate(Map("v" -> expr("s.sv")))),
        notMatched = Seq(MergeInsert(Map("k" -> expr("s.sk"),
          "v" -> expr("s.sv")))),
        deletionVectors = dv)
      val got = TxLog.read(spark, t).as[(Long, Long, String)].collect()
        .map(r => r._2 -> (r._1, r._3)).toMap
      assert(got(1L) == (0L, "a") && got(2L) == (0L, "B"),
        s"dv=$dv: matched/kept rows keep their existing ids")
      assert(Set(got(9L)._1, got(10L)._1) == Set(100L, 101L),
        s"dv=$dv: inserts got fresh contiguous ids, got $got")
      assert(TxLog.identityOf(spark, t)("id") == TxLog.IdentitySpec(1L, 102L),
        s"dv=$dv: the commit advanced the high-water mark")
      // a second merge continues the sequence — the mark is transactional
      TxLog.mergeInto(spark, t, Seq((20L, "K")).toDF("sk", "sv"),
        on = expr("t.k = s.sk"),
        notMatched = Seq(MergeInsert(Map("k" -> expr("s.sk"),
          "v" -> expr("s.sv")))), deletionVectors = dv)
      assert(TxLog.read(spark, t).where(expr("k = 20")).select("id")
        .as[Long].head() == 102L, s"dv=$dv")
    }
  }

  test("identity table: clause assignment of the id column is rejected; CDF carries real ids") {
    val t = tmpTable()
    TxLog.overwrite(Seq((0L, 1L, "a")).toDF("id", "k", "v"), t)
    TxLog.setIdentityColumn(spark, t, "id", start = 50L)
    val e = intercept[IllegalArgumentException] {
      TxLog.mergeInto(spark, t, Seq((9L, "I")).toDF("sk", "sv"),
        on = expr("t.k = s.sk"),
        notMatched = Seq(MergeInsert(Map("id" -> lit(999L),
          "k" -> expr("s.sk"), "v" -> expr("s.sv")))))
    }
    assert(e.getMessage.contains("identity column"))
    // CDF insert post-images must carry the ids the table actually holds
    val since = TxLog.latestVersion(spark, t).get
    TxLog.mergeInto(spark, t, Seq((9L, "I")).toDF("sk", "sv"),
      on = expr("t.k = s.sk"),
      matched = Seq(MergeUpdate(Map("v" -> expr("s.sv")))),
      notMatched = Seq(MergeInsert(Map("k" -> expr("s.sk"),
        "v" -> expr("s.sv")))), changeFeed = true)
    val feedIds = TxLog.readChangeFeed(spark, t, since)
      .where(expr("_change_type = 'insert'"))
      .select("id").as[Long].collect().toSet
    val tableIds = TxLog.read(spark, t).where(expr("k = 9"))
      .select("id").as[Long].collect().toSet
    assert(feedIds == tableIds && feedIds == Set(50L),
      s"feed $feedIds must equal table $tableIds")
  }

  test("identity race: concurrent merge and append never share an id") {
    val t = tmpTable()
    TxLog.overwrite(Seq((0L, 0L, "seed")).toDF("id", "k", "v"), t)
    TxLog.setIdentityColumn(spark, t, "id", start = 1000L)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    val merges = Future {
      (1 to 3).foreach { i =>
        TxLog.mergeInto(spark, t,
          Seq((100L + i, s"m$i")).toDF("sk", "sv"), on = expr("t.k = s.sk"),
          notMatched = Seq(MergeInsert(Map("k" -> expr("s.sk"),
            "v" -> expr("s.sv")))))
      }
    }
    val appends = Future {
      (1 to 3).foreach { i =>
        TxLog.append(Seq((200L + i, s"a$i")).toDF("k", "v"), t)
      }
    }
    Await.result(merges, 120.seconds); Await.result(appends, 120.seconds)
    pool.shutdown()
    val ids = TxLog.read(spark, t).select("id").as[Long].collect().toSeq
    assert(ids.size == 7 && ids.distinct.size == 7,
      s"duplicate identity values handed out: $ids")
    assert(TxLog.identityOf(spark, t)("id").next == 1006L,
      "6 allocations from 1000 → next must be 1006")
  }

  test("WITH SCHEMA EVOLUTION: source-only columns widen the table in the merge commit") {
    for (dv <- Seq(false, true)) {
      val t = tmpTable(); seed(t) // (k, v, n)
      val v0 = TxLog.latestVersion(spark, t).get
      TxLog.mergeInto(spark, t,
        Seq((2L, "B", "x2"), (9L, "I", "x9")).toDF("sk", "sv", "extra"),
        on = expr("t.k = s.sk"),
        matched = Seq(MergeUpdate(Map("v" -> expr("s.sv"),
          "extra" -> expr("s.extra")))),
        notMatched = Seq(MergeInsert(Map("k" -> expr("s.sk"),
          "v" -> expr("s.sv"), "extra" -> expr("s.extra")))),
        deletionVectors = dv, evolveSchema = true)
      assert(TxLog.latestVersion(spark, t).get == v0 + 1,
        s"dv=$dv: evolution + merge must be ONE commit")
      val got = TxLog.read(spark, t)
      assert(got.columns.toSeq == Seq("k", "v", "n", "extra"), s"dv=$dv")
      val byK = got.collect().map(r => r.getLong(0) ->
        (r.getString(1), Option(r.get(3)).map(_.toString))).toMap
      assert(byK(2L) == ("B", Some("x2")), s"dv=$dv: updated row evolved")
      assert(byK(9L) == ("I", Some("x9")), s"dv=$dv: inserted row evolved")
      assert(byK(1L) == ("a", None) && byK(3L) == ("c", None),
        s"dv=$dv: untouched rows null-fill the new column")
    }
  }

  test("schema evolution + change feed: the feed carries the new column") {
    for (dv <- Seq(false, true)) {
      val t = tmpTable(); seed(t)
      val v = TxLog.mergeInto(spark, t,
        Seq((2L, "B", "x2"), (9L, "I", "x9")).toDF("sk", "sv", "extra"),
        on = expr("t.k = s.sk"),
        matched = Seq(MergeUpdate(Map("v" -> expr("s.sv"),
          "extra" -> expr("s.extra")))),
        notMatched = Seq(MergeInsert(Map("k" -> expr("s.sk"),
          "v" -> expr("s.sv"), "extra" -> expr("s.extra")))),
        deletionVectors = dv, changeFeed = true, evolveSchema = true)
      val cdf = TxLog.readChangeFeed(spark, t, sinceVersion = v - 1)
        .select(col("k"), col("v"), col("extra"), col("_change_type"))
        .collect().map(r => (r.getLong(0), r.getString(1),
          Option(r.getString(2)), r.getString(3))).toSet
      assert(cdf == Set(
        (2L, "b", None, "update_preimage"), // pre-image predates the column
        (2L, "B", Some("x2"), "update_postimage"),
        (9L, "I", Some("x9"), "insert")), s"dv=$dv got $cdf")
    }
  }

  test("schema evolution refuses resurrecting a dropped name; off by default") {
    val t = tmpTable(); seed(t)
    // without the flag, an unknown assignment stays a loud error
    val e0 = intercept[IllegalArgumentException] {
      TxLog.mergeInto(spark, t, Seq((2L, "B")).toDF("sk", "extra"),
        on = expr("t.k = s.sk"),
        matched = Seq(MergeUpdate(Map("extra" -> expr("s.extra")))))
    }
    assert(e0.getMessage.contains("no such column"))
    TxLog.dropColumn(spark, t, "n")
    val e = intercept[IllegalArgumentException] {
      TxLog.mergeInto(spark, t, Seq((2L, "B", 7)).toDF("sk", "sv", "n"),
        on = expr("t.k = s.sk"),
        matched = Seq(MergeUpdate(Map("v" -> expr("s.sv"), "n" -> expr("s.n")))),
        evolveSchema = true)
    }
    assert(e.getMessage.contains("previously dropped"))
    // a source column NO clause assigns does not evolve the schema
    TxLog.mergeInto(spark, t, Seq((2L, "B", "zz")).toDF("sk", "sv", "ignored"),
      on = expr("t.k = s.sk"),
      matched = Seq(MergeUpdate(Map("v" -> expr("s.sv")))),
      evolveSchema = true)
    assert(TxLog.read(spark, t).columns.toSeq == Seq("k", "v"),
      "unassigned source columns must not widen the table")
  }

  test("merge into an empty-ish table: only inserts fire") {
    val t = tmpTable()
    TxLog.overwrite(Seq.empty[(Long, String, Int)].toDF("k", "v", "n"), t)
    TxLog.mergeInto(spark, t, Seq((5L, "e")).toDF("k", "sv"),
      on = expr("t.k = s.k"),
      matched = Seq(MergeUpdate(Map("v" -> expr("s.sv")))),
      notMatched = Seq(MergeInsert(Map("k" -> expr("s.k"),
        "v" -> expr("s.sv"), "n" -> lit(1)))))
    assert(TxLog.read(spark, t).as[(Long, String, Int)].collect().toSet ==
      Set((5L, "e", 1)))
  }

  test("generated columns recompute under merge updates; constraints enforce") {
    val t = tmpTable()
    TxLog.overwrite(Seq((1L, 5, 50), (2L, 7, 70)).toDF("k", "n", "n10"), t)
    TxLog.setGeneratedColumn(spark, t, "n10", "n * 10")
    TxLog.addConstraint(spark, t, "n_pos", "n > 0")
    TxLog.mergeInto(spark, t, Seq((1L, 9)).toDF("k", "sn"),
      on = expr("t.k = s.k"),
      matched = Seq(MergeUpdate(Map("n" -> expr("s.sn")))))
    val got = TxLog.read(spark, t).as[(Long, Int, Int)].collect().toSet
    assert(got == Set((1L, 9, 90), (2L, 7, 70))) // n10 recomputed
    // a violating update fails the commit
    intercept[Exception] {
      TxLog.mergeInto(spark, t, Seq((2L, -1)).toDF("k", "sn"),
        on = expr("t.k = s.k"),
        matched = Seq(MergeUpdate(Map("n" -> expr("s.sn")))))
    }
    assert(TxLog.read(spark, t).as[(Long, Int, Int)].collect().toSet == got)
  }

  test("assigning a generated column or unknown column is rejected") {
    val t = tmpTable()
    TxLog.overwrite(Seq((1L, 5, 50)).toDF("k", "n", "n10"), t)
    TxLog.setGeneratedColumn(spark, t, "n10", "n * 10")
    intercept[IllegalArgumentException] {
      TxLog.mergeInto(spark, t, Seq((1L, 1)).toDF("k", "sn"),
        on = expr("t.k = s.k"),
        matched = Seq(MergeUpdate(Map("n10" -> lit(1)))))
    }
    intercept[IllegalArgumentException] {
      TxLog.mergeInto(spark, t, Seq((1L, 1)).toDF("k", "sn"),
        on = expr("t.k = s.k"),
        matched = Seq(MergeUpdate(Map("nope" -> lit(1)))))
    }
  }

  test("merge preserves a partitioned layout and prunes post-merge reads") {
    val t = tmpTable()
    TxLog.overwrite(Seq(
      (1L, "x", 2024), (2L, "y", 2024), (3L, "z", 2025), (4L, "w", 2025)
    ).toDF("k", "v", "yr"), t, partitionBy = Some(Seq("yr")))
    TxLog.mergeInto(spark, t, Seq((2L, "Y2"), (8L, "NEW")).toDF("k", "sv"),
      on = expr("t.k = s.k"),
      matched = Seq(MergeUpdate(Map("v" -> expr("s.sv")))),
      notMatched = Seq(MergeInsert(Map("k" -> expr("s.k"),
        "v" -> expr("s.sv"), "yr" -> lit(2026)))))
    val m = TxLog.manifest(spark, t)
    assert(m.partitionBy.contains(Seq("yr")), "merge dropped the layout")
    // every live file still carries partition metadata (the rewrite and
    // the fresh write both landed Hive-partitioned)
    val byPath = m.stats.getOrElse(Seq.empty).map(e => e.path -> e).toMap
    m.files.foreach(f => assert(byPath(f).parts.exists(_.contains("yr")),
      s"file $f lost partition metadata"))
    // partition read plans only that partition and sees the merge result
    val got = TxLog.readPartition(spark, t, Map("yr" -> 2024))
      .select("k", "v").as[(Long, String)].collect().toSet
    assert(got == Set(1L -> "x", 2L -> "Y2"))
    assert(TxLog.readPartition(spark, t, Map("yr" -> 2026))
      .select("k").as[Long].collect().toSet == Set(8L))
  }

  test("merge works through renamed columns (logical names everywhere)") {
    val t = tmpTable(); seed(t)
    TxLog.renameColumn(spark, t, "v", "val")
    TxLog.mergeInto(spark, t, Seq((2L, "B")).toDF("k", "sv"),
      on = expr("t.k = s.k"),
      matched = Seq(MergeUpdate(Map("val" -> expr("s.sv")))),
      notMatchedBySource = Seq(
        MergeUpdate(Map("val" -> lit("old")), cond = Some(expr("t.k = 4")))))
    val got = TxLog.read(spark, t).select("k", "val")
      .as[(Long, String)].collect().toSet
    assert(got == Set(1L -> "a", 2L -> "B", 3L -> "c", 4L -> "old"))
    // the physical name is refused (it no longer exists logically)
    intercept[IllegalArgumentException] {
      TxLog.mergeInto(spark, t, Seq((1L, "q")).toDF("k", "sv"),
        on = expr("t.k = s.k"),
        matched = Seq(MergeUpdate(Map("v" -> expr("s.sv")))))
    }
  }

  test("a concurrent append between find and publish re-derives, never loses rows") {
    val t = tmpTable(); seed(t)
    // inject the race deterministically: the SOURCE frame's first
    // evaluation triggers an append (lazily, during merge's find scan),
    // so merge's CAS must lose once and re-derive against the appended
    // snapshot
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    val appendOnce = org.apache.spark.sql.functions.udf { (k: Long) =>
      if (fired.compareAndSet(false, true))
        TxLog.append(Seq((100L, "race", 0)).toDF("k", "v", "n"), t)
      k
    }
    TxLog.mergeInto(spark, t,
      Seq((2L, "B")).toDF("k", "sv").withColumn("k", appendOnce(col("k"))),
      on = expr("t.k = s.k"),
      matched = Seq(MergeUpdate(Map("v" -> expr("s.sv")))))
    val got = TxLog.read(spark, t).as[(Long, String, Int)].collect().toSet
    assert(got.contains((100L, "race", 0)), "merge's commit dropped the racer")
    assert(got.contains((2L, "B", 20)))
    assert(got.size == 5)
  }

  test("DV merge with by-source delete vectors unmatched rows, rewrites nothing") {
    val t = tmpTable(); seed(t)
    val before = TxLog.manifest(spark, t).files.toSet
    TxLog.mergeInto(spark, t, Seq((1L, "x")).toDF("k", "sv"),
      on = expr("t.k = s.k"),
      matched = Seq(MergeUpdate(Map("v" -> expr("s.sv")))),
      notMatchedBySource = Seq(MergeDelete(cond = Some(expr("t.n > 25")))),
      deletionVectors = true)
    val m = TxLog.manifest(spark, t)
    // nothing REWRITTEN: the only fresh rows are the single update
    // post-image (a pre-merge file may legitimately be DROPPED when every
    // live row in it got vectored — that is metadata-only, not a rewrite)
    val freshRows = m.stats.getOrElse(Seq.empty)
      .filterNot(e => before(e.path)).map(_.rows).sum
    assert(freshRows == 1L, s"DV merge rewrote data: $freshRows fresh rows")
    val got = TxLog.read(spark, t).as[(Long, String, Int)].collect().toSet
    assert(got == Set((1L, "x", 10), (2L, "b", 20)))
  }

  // --- the change feed: one projection of `acted` ---------------------

  /** The general MERGE's change feed as it was first built: a union of
    * three branches over `acted` (pre-images, update post-images,
    * inserts), each its own filter of the join. The reference that
    * [[TxLog.mergeFeed]] must equal.
    */
  private def unionFeed(in: TxLog.MergeFeedInputs): DataFrame = {
    val act = col("__act")
    val pre = in.acted.filter(act.isin((in.updTags ++ in.delTags): _*))
      .select(in.preImage :+ when(act.isin(in.updTags: _*), lit("update_preimage"))
        .otherwise(lit("delete")).as("_change_type"): _*)
    val post = in.acted.filter(act.isin(in.updTags: _*))
      .select(in.postImage :+ lit("update_postimage").as("_change_type"): _*)
    val ins = in.inserts
      .getOrElse(in.acted.filter(act.isin(in.insTags: _*)).select(in.postImage: _*))
      .withColumn("_change_type", lit("insert"))
    pre.unionByName(post).unionByName(ins)
  }

  /** `df`'s rows over `cols`, as sorted strings (an order-free compare). */
  private def rowsOf(df: DataFrame, cols: Seq[String]): Seq[String] =
    df.select(cols.map(c => col(s"`$c`")): _*).collect().map(_.toString).toSeq.sorted

  /** Runs `merge` (a change-feed merge into `t` returning its version) and
    * checks that the feed it committed, [[TxLog.mergeFeed]] and the
    * reference union agree row for row; returns the committed rows.
    */
  private def feedAgrees(t: String)(merge: => Long): Seq[String] = {
    var seen = Option.empty[TxLog.MergeFeedInputs]
    TxLog.mergeFeedHook = in => seen = Some(in)
    val v = try merge finally TxLog.mergeFeedHook = _ => ()
    val in = seen.getOrElse(fail("the merge built no general change feed"))
    val ref = unionFeed(in)
    val cols = ref.columns.toSeq
    val want = rowsOf(ref, cols)
    assert(want.nonEmpty)
    assert(rowsOf(TxLog.mergeFeed(in), cols) == want, "one-projection feed")
    val committed = rowsOf(TxLog.readChangeFeed(spark, t, v - 1, Some(v)), cols)
    assert(committed == want, "committed feed")
    committed
  }

  test("change feed equals the three-way union: conditional matched update/delete + insert") {
    for (dv <- Seq(false, true)) {
      val t = tmpTable(); seed(t)
      val got = feedAgrees(t)(TxLog.mergeInto(spark, t, src.toDF("k", "sv", "op"),
        on = expr("t.k = s.k"),
        matched = Seq(
          MergeDelete(cond = Some(expr("s.op = 'del'"))),
          MergeUpdate(Map("v" -> expr("s.sv"), "n" -> expr("t.n + 1")),
            cond = Some(expr("s.op = 'upd'")))),
        notMatched = Seq(
          MergeInsert(Map("k" -> expr("s.k"), "v" -> expr("s.sv")),
            cond = Some(expr("s.op = 'ins'")))),
        deletionVectors = dv, changeFeed = true))
      assert(got.size == 4, s"dv=$dv: $got")
    }
  }

  test("change feed equals the three-way union: by-source update and delete") {
    for (dv <- Seq(false, true)) {
      val t = tmpTable(); seed(t)
      val got = feedAgrees(t)(TxLog.mergeInto(spark, t,
        Seq((1L, "x"), (2L, "y")).toDF("k", "sv"),
        on = expr("t.k = s.k"),
        matched = Seq(MergeUpdate(Map("v" -> expr("s.sv")))),
        notMatchedBySource = Seq(
          MergeDelete(cond = Some(expr("t.n >= 40"))),
          MergeUpdate(Map("v" -> lit("stale")))),
        deletionVectors = dv, changeFeed = true))
      // two matched updates, one by-source update (pre + post each), one delete
      assert(got.size == 7, s"dv=$dv: $got")
    }
  }

  test("change feed equals the three-way union: unconditional update + insert") {
    val t = tmpTable(); seed(t)
    val got = feedAgrees(t)(TxLog.mergeInto(spark, t,
      Seq((2L, "B"), (7L, "G"), (8L, "H")).toDF("k", "sv"),
      on = expr("t.k = s.k"),
      matched = Seq(MergeUpdate(Map("v" -> expr("s.sv")))),
      notMatched = Seq(MergeInsert(Map("k" -> expr("s.k"), "v" -> expr("s.sv"),
        "n" -> lit(0)))),
      changeFeed = true))
    assert(got.size == 4, got)
  }

  test("change feed equals the three-way union: no insert clause") {
    val t = tmpTable(); seed(t)
    val got = feedAgrees(t)(TxLog.mergeInto(spark, t, src.toDF("k", "sv", "op"),
      on = expr("t.k = s.k"),
      matched = Seq(
        MergeUpdate(Map("v" -> expr("s.sv")), cond = Some(expr("s.op = 'upd'"))),
        MergeDelete(cond = Some(expr("s.op = 'del'")))),
      changeFeed = true))
    assert(got.size == 3, got)
  }

  test("change feed equals the three-way union: multi-pair copy-on-write") {
    val t = tmpTable(); seed(t)
    val got = feedAgrees(t)(TxLog.mergeInto(spark, t,
      Seq((2L, "B1"), (2L, "B2"), (3L, "C1"), (3L, "C2")).toDF("k", "sv"),
      on = expr("t.k = s.k"),
      matched = Seq(
        MergeUpdate(Map("v" -> expr("s.sv")), cond = Some(expr("s.sv = 'B1'"))),
        MergeDelete(cond = Some(expr("s.sv = 'C2'")))),
      changeFeed = true))
    assert(got.size == 3, got)
    assert(TxLog.read(spark, t).as[(Long, String, Int)].collect().toSet ==
      Set((1L, "a", 10), (2L, "B1", 20), (4L, "d", 40)))
  }

  test("change feed equals the three-way union: schema evolution") {
    for (dv <- Seq(false, true)) {
      val t = tmpTable(); seed(t)
      val got = feedAgrees(t)(TxLog.mergeInto(spark, t,
        Seq((2L, "B", "x2"), (9L, "I", "x9")).toDF("sk", "sv", "extra"),
        on = expr("t.k = s.sk"),
        matched = Seq(MergeUpdate(Map("v" -> expr("s.sv"),
          "extra" -> expr("s.extra")))),
        notMatched = Seq(MergeInsert(Map("k" -> expr("s.sk"),
          "v" -> expr("s.sv"), "extra" -> expr("s.extra")))),
        deletionVectors = dv, changeFeed = true, evolveSchema = true))
      assert(got.size == 3, s"dv=$dv: $got")
    }
  }

  test("change feed equals the three-way union: renamed columns") {
    val t = tmpTable(); seed(t)
    TxLog.renameColumn(spark, t, "v", "val")
    val got = feedAgrees(t)(TxLog.mergeInto(spark, t, Seq((2L, "B"), (6L, "F")).toDF("k", "sv"),
      on = expr("t.k = s.k"),
      matched = Seq(MergeUpdate(Map("val" -> expr("s.sv")))),
      notMatched = Seq(MergeInsert(Map("k" -> expr("s.k"), "val" -> expr("s.sv")))),
      notMatchedBySource = Seq(
        MergeUpdate(Map("val" -> lit("old")), cond = Some(expr("t.k = 4")))),
      changeFeed = true))
    assert(got.size == 5, got)
    assert(got.exists(_.contains("old")), got)
  }

  test("identity table: the change feed's inserts carry the data's ids") {
    for (dv <- Seq(false, true)) {
      val t = tmpTable()
      TxLog.overwrite(Seq((0L, 1L, "a"), (0L, 2L, "b")).toDF("id", "k", "v"), t)
      TxLog.setIdentityColumn(spark, t, "id", start = 100L)
      val since = TxLog.latestVersion(spark, t).get
      feedAgrees(t)(TxLog.mergeInto(spark, t,
        Seq((2L, "B"), (9L, "I"), (10L, "J"), (11L, "K")).toDF("sk", "sv"),
        on = expr("t.k = s.sk"),
        matched = Seq(MergeUpdate(Map("v" -> expr("s.sv")))),
        notMatched = Seq(MergeInsert(Map("k" -> expr("s.sk"), "v" -> expr("s.sv")))),
        deletionVectors = dv, changeFeed = true))
      val feedIds = TxLog.readChangeFeed(spark, t, since)
        .where(expr("_change_type = 'insert'"))
        .select("k", "id").as[(Long, Long)].collect().toSet
      val tableIds = TxLog.read(spark, t).where(expr("k >= 9"))
        .select("k", "id").as[(Long, Long)].collect().toSet
      assert(feedIds == tableIds && tableIds.map(_._2) == Set(100L, 101L, 102L),
        s"dv=$dv: feed $feedIds must equal table $tableIds")
    }
  }

  /** The logical joins in the query of every CDF write `body` commits. */
  private def cdfWriteJoins(body: => Unit): Seq[Seq[JoinType]] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[LogicalPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        qe.optimizedPlan match {
          case w: InsertIntoHadoopFsRelationCommand
              if w.outputPath.getName == "_cdf" => plans.add(w.query)
          case _ => ()
        }
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      org.apache.spark.graftprobe.ListenerBusProbe.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    plans.asScala.toSeq.map(_.collect { case j: Join => j.joinType })
  }

  test("a change-feed merge's CDF write plans one join, weakened from full outer") {
    def joinsOf(matched: Seq[TxLog.MergeMatchedClause],
        notMatched: Seq[MergeInsert]): Seq[JoinType] = {
      val t = tmpTable(); seed(t)
      val writes = cdfWriteJoins(TxLog.mergeInto(spark, t, src.toDF("k", "sv", "op"),
        on = expr("t.k = s.k"), matched = matched, notMatched = notMatched,
        changeFeed = true))
      assert(writes.size == 1, s"expected one CDF write, saw ${writes.size}")
      writes.head
    }
    val update = MergeUpdate(Map("v" -> expr("s.sv")), cond = Some(expr("s.op = 'upd'")))
    val insert = MergeInsert(Map("k" -> expr("s.k"), "v" -> expr("s.sv")))
    // updates and inserts need the source side only
    assert(joinsOf(Seq(update), Seq(insert)) == Seq(RightOuter))
    // updates and deletes need both sides
    assert(joinsOf(Seq(update, MergeDelete()), Seq.empty) == Seq(Inner))
    assert(!joinsOf(Seq(MergeDelete()), Seq(insert)).contains(FullOuter))
  }
}
