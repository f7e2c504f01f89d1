package graft.streaming

import org.apache.spark.sql.functions._
import graft.operators.Multimodal
import graft.operators.Multimodal._

/** Runnable example for the streaming + multimodal surfaces:
  * file-source stream → watermarked tumbling windows → memory sink;
  * stateful sessionization; binary-column decode/feature/frame-sample
  * plumbing. sbt "runMain graft.streaming.StreamingDemo"
  */
object StreamingDemo {
  def main(args: Array[String]): Unit = {
    val spark = graft.LocalSession(4)
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val dir = java.nio.file.Files.createTempDirectory("ev").toString
    graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
      .write.mode("overwrite").parquet(dir)

    val stream = EventStreams.readEventStream(spark, dir)
    val windows = EventStreams.runToMemory(
      EventStreams.tumblingCounts(stream), "demo_windows")
    println(s"[stream] emitted_windows=${windows.count()}")

    val ev = spark.read.parquet(dir)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[EventStreams.Event]
    println(s"[sessionize] closed_sessions=${EventStreams.sessionize(ev, 30).count()}")

    val media = (1 to 10).map(i => MediaFile(i, "s", s"payload-$i".getBytes,
      MediaMeta("video", 640, 480, 4000, "fake"))).toDS()
    val decoded = Multimodal.decodeAndFeaturize(media, new StubCodec(4))
    println(s"[multimodal] decoded=${decoded.count()} " +
      s"sampled=${Multimodal.frameSamplePlan(decoded.toDF(), 10, 5).count()}")
    spark.stop()
  }
}
