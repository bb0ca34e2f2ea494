package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.streaming.Trigger

import graft.{GraftExtensions, Tables}

/** Runnable demo of the streaming surface: replays a testdata events table
  * through a file stream, runs the watermarked tumbling aggregation and the
  * gap sessionizer, and prints result counts.
  *
  * Usage: runMain graft.streaming.StreamDemo [sfDir]
  */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = GraftExtensions.builder(4).getOrCreate()
    import spark.implicits._
    spark.sparkContext.setLogLevel("WARN")

    val dir = Files.createTempDirectory("stream-demo").toString
    Tables.events(spark, sfDir).write.mode("overwrite").parquet(dir)

    val tumble = EventStream.tumbling(EventStream.read(spark, dir))
      .writeStream.format("memory").queryName("demo_tumble")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    tumble.awaitTermination(120000)
    println(s"tumbling windows: ${spark.table("demo_tumble").count()}")

    val sessions = Sessionize.sessionize(
      EventStream.read(spark, dir)
        .selectExpr("event_id", "ts", "user_id", "event_type", "value")
        .as[Sessionize.Event]
        .withWatermark("ts", "1 hour"),
      gapSeconds = 3600)
    val sq = sessions.writeStream.format("memory").queryName("demo_sessions")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    sq.awaitTermination(120000)
    println(s"closed sessions: ${spark.table("demo_sessions").count()}")

    val ssj = EventStream.purchaseClickJoin(EventStream.read(spark, dir))
      .writeStream.format("memory").queryName("demo_ssj")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    ssj.awaitTermination(120000)
    println(s"stream-stream joined pairs: ${spark.table("demo_ssj").count()}")
    spark.stop()
  }
}
