package graft.sources

import org.apache.spark.sql.functions.col
import org.scalatest.concurrent.Eventually.{eventually, interval, timeout}
import org.scalatest.time.{Millis, Seconds, Span}

import graft.SparkSpec

/** The distributed `TxLog` paths ship the Hadoop conf to executors in a
  * broadcast; each must destroy it once its job is done, or every
  * vacuum, DV delete, clone, bloom build and symlink-manifest write
  * leaves one more conf copy on the driver's block manager. The
  * distribution threshold is lowered to 0 so every path fans out. The
  * deletion-vector read path returns a lazy frame no `finally` could
  * release a broadcast from, so it ships the conf in its task closure.
  */
class ConfBroadcastSpec extends SparkSpec {
  import spark.implicits._

  private def tmpTable(): String =
    java.nio.file.Files.createTempDirectory("graft-confbc").resolve("t").toString

  private def confBroadcasts(): Set[Long] =
    org.apache.spark.graftprobe.BroadcastProbe
      .live(_.isInstanceOf[SerializableHadoopConf])

  /** Runs `body` on the distributed paths; fails if it leaves a conf
    * broadcast behind.
    */
  private def assertReleases(body: => Unit): Unit = {
    val saved = TxLog.vacuumDistributeThreshold
    TxLog.vacuumDistributeThreshold = 0
    try {
      val before = confBroadcasts()
      body
      // `Broadcast.destroy()` drops the driver's copy asynchronously, so a
      // released broadcast can stay listed for a moment after the call
      eventually(timeout(Span(5, Seconds)), interval(Span(20, Millis))) {
        val leaked = confBroadcasts() -- before
        assert(leaked.isEmpty, s"conf broadcasts left on the block manager: $leaked")
      }
    } finally TxLog.vacuumDistributeThreshold = saved
  }

  private def table(): String = {
    val t = tmpTable()
    TxLog.overwrite((0L until 40L).map(i => (i, s"v$i", (i % 4).toInt))
      .toDF("k", "v", "p").repartition(4, col("k")), t,
      partitionBy = Some(Seq("p")))
    t
  }

  test("vacuum and bloom-index build release their conf broadcasts") {
    val t = table()
    assertReleases {
      TxLog.setBloomIndex(spark, t, Seq("k"))
      assert(TxLog.lastBloomBuildMode.get() == "distributed")
      TxLog.overwrite(Seq((99L, "z", 1)).toDF("k", "v", "p"), t)
      val deleted = TxLog.vacuum(spark, t, keepVersions = 1)
      assert(deleted.exists(!_.startsWith("_txlog/")), deleted)
    }
  }

  test("deletion-vector delete releases its conf broadcast") {
    val t = table()
    assertReleases {
      TxLog.delete(spark, t, col("k") < 3L, deletionVectors = true)
      assert(TxLog.manifest(spark, t).dvs.exists(_.nonEmpty))
    }
  }

  test("deep clone and symlink manifest release their conf broadcasts") {
    val t = table()
    val dst = tmpTable()
    assertReleases {
      assert(TxLog.deepClone(spark, t, dst) == 1L)
      assert(TxLog.generateSymlinkManifest(spark, t).size == 4)
    }
  }

  test("reads of a deletion-vector table leave no conf broadcast") {
    val t = table()
    TxLog.delete(spark, t, col("k") < 3L, deletionVectors = true)
    // the frames stay reachable through the check, so a broadcast they
    // held cannot have been dropped by garbage collection meanwhile
    val reads = scala.collection.mutable.Buffer.empty[org.apache.spark.sql.DataFrame]
    assertReleases {
      (1 to 3).foreach { _ =>
        reads += TxLog.read(spark, t)
        assert(reads.last.count() == 37L)
      }
    }
    assert(reads.size == 3)
  }
}
