package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.types.{StringType, StructField}

import graft.SparkSpec

/** A metadata-only commit that loses the CAS race re-composes against
  * the winner and carries the winner's schema with its files: a racing
  * ADD COLUMNS or overwrite landing between the metadata commit's own
  * snapshot read and its publish is never undone by a stale schema.
  * Raced deterministically via TxLog.casRaceHook.
  */
class MetadataCommitRaceSpec extends SparkSpec {
  import spark.implicits._

  private def seeded(): String = {
    val t = Files.createTempDirectory("graft-mdrace").resolve("t").toString
    TxLog.overwrite((0L until 6L).map(k => (k, s"v$k")).toDF("k", "v"), t)
    t
  }

  /** Arm the hook to run `f` exactly once, then disarm itself. */
  private def once(f: => Unit): Unit =
    TxLog.casRaceHook = () => { TxLog.casRaceHook = () => (); f }

  private def rtest(name: String)(body: => Unit): Unit =
    test(name)(try body finally { TxLog.casRaceHook = () => () })

  private val metadataCommits: Seq[(String, String => Long)] = Seq(
    "setProperty" -> (t => TxLog.setProperty(spark, t, "owner", "ops")),
    "setBloomIndex" -> (t => TxLog.setBloomIndex(spark, t, Seq("k"))))

  metadataCommits.foreach { case (name, commit) =>
    rtest(s"$name racing addColumns keeps the added column") {
      val t = seeded()
      once { TxLog.addColumns(spark, t, Seq(StructField("note", StringType))) }
      val v = commit(t)
      assert(TxLog.manifest(spark, t).version == v)
      assert(TxLog.read(spark, t).columns.toSeq == Seq("k", "v", "note"),
        "the concurrently added column was dropped from the schema")
      TxLog.append(Seq((9L, "w", "n9")).toDF("k", "v", "note"), t)
      assert(TxLog.read(spark, t).filter($"k" === 9L).as[(Long, String, String)]
        .collect().toSeq == Seq((9L, "w", "n9")))
    }

    rtest(s"$name racing an overwrite keeps the new schema") {
      val t = seeded()
      once {
        TxLog.overwrite(Seq((1L, 2.5, "x"), (2L, 3.5, "y")).toDF("k", "d", "s"), t)
      }
      val v = commit(t)
      val m = TxLog.manifest(spark, t)
      assert(m.version == v)
      assert(TxLog.read(spark, t).columns.toSeq == Seq("k", "d", "s"),
        "the overwrite's schema was replaced by the pre-race one")
      assert(TxLog.read(spark, t).as[(Long, Double, String)].collect().toSet ==
        Set((1L, 2.5, "x"), (2L, 3.5, "y")))
    }
  }
}
