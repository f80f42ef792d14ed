package graft.tools

import org.apache.spark.sql.functions._

/** Live smoke-drive of the streaming surface: rate source → synthetic
  * events → [[graft.streaming.Streams.tumblingCounts]] → memory sink.
  * Prints the first windows it observed; exercises watermarking + windowed
  * state against a genuinely unbounded source (not MemoryStream). */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.builder(2).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val events = spark.readStream.format("rate").option("rowsPerSecond", 500).load()
      .select(col("value").as("event_id"), col("timestamp").as("ts"),
        (col("value") % 7).as("user_id"),
        when(col("value") % 3 === 0, "click").otherwise("view").as("event_type"),
        (col("value") % 10).cast("double").as("value"))

    val q = graft.streaming.Streams
      .tumblingCounts(events, window_ = "5 seconds", watermark = "30 seconds")
      .writeStream.format("memory").queryName("live").outputMode("complete").start()
    Thread.sleep(8000)
    q.processAllAvailable()
    val rows = spark.table("live").orderBy(col("window.start"), col("event_type")).collect()
    println(s"[stream-demo] windows observed: ${rows.length}")
    rows.take(6).foreach(r => println(s"[stream-demo] $r"))
    q.stop()
    spark.stop()
  }
}
