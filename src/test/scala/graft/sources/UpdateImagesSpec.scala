package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{col, expr, lit}

import graft.SparkSpec

/** UPDATE evaluates every assignment and its condition against the
  * PRE-update row, on every path (copy-on-write, deletion vectors, SQL),
  * and its change feed's images equal the parent's matched rows and the
  * committed rows.
  */
class UpdateImagesSpec extends SparkSpec {
  import spark.implicits._

  private def tmpTable(): String =
    Files.createTempDirectory("graft-upd").resolve("t").toString

  private val rows = Seq(
    (1L, "open", 10L, 1L, 2L), (2L, "open", 20L, 3L, 4L),
    (3L, "closed", 30L, 5L, 6L), (4L, "closed", 40L, 7L, 8L))

  private def seed(t: String): Unit =
    TxLog.overwrite(rows.toDF("k", "status", "price", "a", "b")
      .repartition(2, col("k")), t)

  private def table(t: String): Set[(Long, String, Long, Long, Long)] =
    TxLog.read(spark, t).as[(Long, String, Long, Long, Long)].collect().toSet

  /** The two statements, run through `run(table, sql-ish statement)`. */
  private def checkAssignments(run: (String, String) => Unit): Unit = {
    val t = tmpTable(); seed(t)
    // the second assignment must see the PRE-update status: the row
    // still matches for it even though the first assignment moved status
    run(t, "SET status = 'done', price = price + 1 WHERE status = 'open'")
    assert(table(t) == Set((1L, "done", 11L, 1L, 2L), (2L, "done", 21L, 3L, 4L),
      (3L, "closed", 30L, 5L, 6L), (4L, "closed", 40L, 7L, 8L)))
    // both right-hand sides read the pre-update row: a swap
    run(t, "SET a = b, b = a WHERE k >= 2")
    assert(table(t) == Set((1L, "done", 11L, 1L, 2L), (2L, "done", 21L, 4L, 3L),
      (3L, "closed", 30L, 6L, 5L), (4L, "closed", 40L, 8L, 7L)))
  }

  /** `SET x = e, y = f WHERE c` through [[TxLog.update]]. */
  private def viaApi(dv: Boolean)(t: String, stmt: String): Unit = {
    val Array(sets, where) = stmt.stripPrefix("SET ").split(" WHERE ")
    val set = sets.split(", ").toSeq.map { a =>
      val Array(k, v) = a.split(" = ")
      k -> expr(v)
    }
    TxLog.update(spark, t, expr(where), set, deletionVectors = dv)
  }

  test("UPDATE assignments read the pre-update row: copy-on-write and DV") {
    checkAssignments(viaApi(dv = false))
    checkAssignments(viaApi(dv = true))
  }

  test("SQL UPDATE assignments read the pre-update row: copy-on-write and DV") {
    Seq(false, true).zipWithIndex.foreach { case (dv, i) =>
      val name = s"upd_images_$i"
      var created = false
      var vectored = false
      checkAssignments { (t, stmt) =>
        if (!created) {
          created = true
          if (dv) TxLog.setProperty(spark, t, TxLog.dvPropertyKey, "true")
          spark.sql(s"CREATE TABLE $name USING `graft-txlog` OPTIONS (path '$t')")
        }
        spark.sql(s"UPDATE $name $stmt")
        vectored ||= TxLog.manifest(spark, t).dvs.exists(_.nonEmpty)
      }
      assert(vectored == dv, s"dv=$dv: the table property picks the UPDATE path")
    }
  }

  test("an assignment listed twice is refused") {
    val t = tmpTable(); seed(t)
    val e = intercept[IllegalArgumentException] {
      TxLog.update(spark, t, lit(true), Seq("a" -> lit(1L), "a" -> lit(2L)))
    }
    assert(e.getMessage.contains("more than once"))
  }

  test("the UPDATE feed's images equal the parent's matched rows and the committed rows") {
    Seq(false, true).foreach { dv =>
      val t = tmpTable()
      // state: NULL for k = 5, so the condition is NULL there (no match)
      TxLog.overwrite(Seq[(Long, String, Long, Long)](
        (1L, "open", 10L, 20L), (2L, "open", 20L, 40L), (3L, "closed", 30L, 60L),
        (4L, "open", 40L, 80L), (5L, null, 50L, 100L))
        .toDF("k", "status", "price", "p2").repartition(2, col("k")), t)
      TxLog.setGeneratedColumn(spark, t, "p2", "price * 2")
      TxLog.addConstraint(spark, t, "price_pos", "price > 0")
      TxLog.renameColumn(spark, t, "status", "state")
      val cond = expr("state = 'open' AND k < 4")
      val set = Seq("state" -> lit("done"), "price" -> expr("price + 1"))
      val parent = TxLog.latestVersion(spark, t).get
      val v = TxLog.update(spark, t, cond, set, changeFeed = true, deletionVectors = dv)
      val feed = TxLog.readChangeFeed(spark, t, parent, Some(v))
      def images(kind: String): Set[Row] =
        feed.where(col("_change_type") === kind)
          .select("k", "state", "price", "p2").collect().toSet
      val matchedBefore = TxLog.readAsOf(spark, t, parent).where(cond)
        .select("k", "state", "price", "p2").collect().toSet
      assert(matchedBefore.map(_.getLong(0)) == Set(1L, 2L), s"dv=$dv")
      assert(images("update_preimage") == matchedBefore, s"dv=$dv")
      val committed = TxLog.read(spark, t).where(col("k") < 3L)
        .select("k", "state", "price", "p2").collect().toSet
      assert(committed == Set(Row(1L, "done", 11L, 22L), Row(2L, "done", 21L, 42L)),
        s"dv=$dv: the generated column derives from the post-update price")
      assert(images("update_postimage") == committed, s"dv=$dv")
      assert(feed.count() == 4L, s"dv=$dv: one pre/post pair per matched row")
      assert(TxLog.read(spark, t).where(col("k") === 5L).count() == 1L)
      // the CHECK constraint still guards the rewritten rows: nothing commits
      val e = intercept[Exception] {
        TxLog.update(spark, t, col("k") < 3L, Seq("price" -> lit(-1L)),
          changeFeed = true, deletionVectors = dv)
      }
      assert(e.toString.contains("price_pos") ||
        Option(e.getCause).exists(_.toString.contains("price_pos")), s"dv=$dv: $e")
      assert(TxLog.latestVersion(spark, t).get == v, s"dv=$dv")
    }
  }
}
