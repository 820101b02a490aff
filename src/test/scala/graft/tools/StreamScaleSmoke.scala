package graft.tools

import org.apache.spark.sql.functions._
import graft.streaming.EventsStream

/** Scale smoke for the Structured Streaming surface: synthesize a
  * multi-million-row event history as MANY parquet files, replay it as
  * a genuine multi-micro-batch stream (`maxFilesPerTrigger`), and
  * check the streaming results against their batch twins — the
  * evidence that the incremental operators' state stays bounded and
  * their folds stay correct when the input arrives in pieces, which
  * is the contract a 100 TB backfill + live tail runs on. Also drives
  * the exactly-once graft-table sink with one commit per micro-batch.
  * Args: [scaleMillions] (default 20M events / 16 files).
  */
object StreamScaleSmoke {
  def main(args: Array[String]): Unit = {
    val m = if (args.nonEmpty) args(0).toDouble else 1.0
    val spark = graft.LocalSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def timed[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      graft.CacheScope.drain()
      println(f"[streamscale] $label: ${(System.nanoTime() - t0) / 1e9}%.1fs")
      r
    }

    val n = (20e6 * m).toLong
    val files = 16
    val dir = java.nio.file.Files
      .createTempDirectory("graft-streamscale-").toString
    timed(s"synthesize ${n / 1000000}M events / $files files") {
      spark.range(n).selectExpr(
        "id AS event_id",
        // ~55 hours of history, one event per 10ms
        "timestamp_micros(1700000000000000 + id * 10000) AS ts",
        "id % 1000000 AS user_id",
        s"element_at(array('view','click','purchase','signup','error'), " +
          "CAST(id % 5 AS INT) + 1) AS event_type",
        "CAST(id % 997 AS DOUBLE) / 10.0 AS value")
        .repartition(files)
        .write.mode("overwrite").parquet(dir)
    }
    val schema = spark.read.parquet(dir).schema
    def stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "2") // 8 genuine micro-batches
      .parquet(dir)

    // ---- incremental windowed agg across micro-batches == batch agg
    val batchWindows = spark.read.parquet(dir)
      .groupBy(window(col("ts"), "1 hour"), col("event_type")).count()
      .count()
    val streamed = timed(s"windowedAgg ${n / 1000000}M events x8 batches") {
      val out = EventsStream.windowedAgg(stream)
      val q = out.writeStream.format("memory").queryName("ss_win")
        .outputMode("complete").start()
      q.processAllAvailable(); q.stop()
      spark.table("ss_win").count()
    }
    require(streamed == batchWindows,
      s"streaming windows $streamed != batch $batchWindows")

    // ---- watermark-bounded dedup state == batch DISTINCT
    val distinctPairs = spark.read.parquet(dir)
      .select("user_id", "event_type").distinct().count()
    val deduped = timed(f"streamingDedupKeyed ${n / 1000000}M events " +
        f"(${distinctPairs / 1e6}%.1fM state keys)") {
      val out = EventsStream.streamingDedupKeyed(stream, horizon = "10 days")
      val q = out.writeStream.format("memory").queryName("ss_dedup")
        .outputMode("append").start()
      q.processAllAvailable(); q.stop()
      spark.table("ss_dedup").count()
    }
    require(deduped == distinctPairs,
      s"streaming dedup $deduped != batch distinct $distinctPairs")

    // ---- exactly-once sink: one snapshot commit per micro-batch,
    // lossless readback through the MOR scan
    val root = java.nio.file.Files
      .createTempDirectory("graft-streamscale-tbl-").toString
    timed(s"graft-table sink ingest ${n / 1000000}M events") {
      val ckpt = java.nio.file.Files
        .createTempDirectory("graft-streamscale-ckpt-").toString
      val q = stream.writeStream.format(graft.streaming.GraftTableSource.Format)
        .option("root", root).option("namespace", "ss")
        .option("table", "events").option("statsColumns", "event_id")
        .option("checkpointLocation", ckpt)
        .outputMode("append").start()
      q.processAllAvailable(); q.stop()
    }
    val versions = graft.plans.TableIO.currentVersion(root, "ss", "events")
    val readBack = timed("MOR readback count") {
      graft.plans.Mor.read(spark, root, "ss", "events").count()
    }
    require(versions == 8L, s"expected 8 snapshot commits, got $versions")
    require(readBack == n, s"ingest readback $readBack != $n")
    println(s"[streamscale] OK: $versions commits, $readBack rows, " +
      s"$streamed windows, $deduped deduped pairs")
    spark.stop()
  }
}
