package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.streaming.EventsStream
import graft.streaming.EventsStream.{Event, SessionOut}

/** Structured Streaming specs: the incremental windowed aggregation must
  * agree with its batch twin on the same bounded input, and the stateful
  * sessionizer must split on time gaps across micro-batches.
  */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("streaming windowed agg equals the batch aggregation") {
    val sfDir = "/root/testdata/sf0.001"
    val streamed = EventsStream.runWindowedOverParquet(spark, sfDir, "ws_spec")
      .orderBy("bucket", "event_type")
      .collect()
    val batch = graft.queries.Util.rdEvents(spark, sfDir)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"))
      .select(col("w.start").as("bucket"), col("event_type"), col("n"),
        col("sum_value"))
      .orderBy("bucket", "event_type")
      .collect()
    assert(streamed.length == batch.length && streamed.length > 0)
    streamed.zip(batch).foreach { case (s, b) => assert(s == b) }
  }

  test("one-shot drains delete their scratch checkpoints, even on tmpfs") {
    // scratchCheckpoint prefers /dev/shm: a leaked checkpoint there is
    // a RAM leak that accumulates across bench/smoke iterations
    // (ADVICE r13 — three of the four drain paths never cleaned up).
    // Count prefix-matched dirs in the scratch base before and after a
    // drain: the drain must not leave a new one behind.
    val base = EventsStream.scratchCheckpoint("graft-ckpt-probe-")
    val scratchDir = base.getParent
    java.nio.file.Files.delete(base)
    def count(prefix: String): Long = {
      val s = java.nio.file.Files.list(scratchDir)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala
          .count(_.getFileName.toString.startsWith(prefix)).toLong
      } finally s.close()
    }
    val before = count("graft-win-ckpt-")
    EventsStream.runWindowedOverParquet(spark, "/root/testdata/sf0.001",
      "ws_ckpt_probe")
    assert(count("graft-win-ckpt-") == before,
      s"runWindowedOverParquet leaked a checkpoint under $scratchDir")
    val beforeDrain = count("stream_dedup_")
    EventsStream.replayDedupCounts(spark, "/root/testdata/sf0.001").collect()
    assert(count("stream_dedup_") == beforeDrain,
      s"drainToTable leaked a checkpoint under $scratchDir")
  }

  test("bounded replays reuse ONE cached session clone per base session") {
    // a session's first streaming query permanently registers a
    // listener on the shared LiveListenerBus; a clone per drain leaked
    // one registration per bench/smoke iteration (r14 review finding).
    // The clone must be reused, distinct from the caller's session,
    // and carry the replay state-partition sizing.
    val basePartsBefore = spark.conf.get("spark.sql.shuffle.partitions")
    val a = EventsStream.replaySession(spark)
    val b = EventsStream.replaySession(spark)
    assert(a eq b, "replaySession must reuse the cached clone")
    assert(!(a eq spark), "the replay clone must not be the base session")
    assert(a.conf.get("spark.sql.shuffle.partitions") == "8")
    assert(a.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    // the base session's own conf is untouched by the clone's sizing
    assert(spark.conf.get("spark.sql.shuffle.partitions") == basePartsBefore)
  }

  test("stream-stream interval join attributes purchases to prior clicks") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val clicks = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val purchases = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val ts = (s: Long) => new java.sql.Timestamp(1700000000000L + s * 1000L)
    val joined = EventsStream.clickPurchaseJoin(
      clicks.toDF().toDF("user_id", "ts", "event_id"),
      purchases.toDF().toDF("user_id", "ts", "value"))
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ssjoin_spec").start()
    // user 1: click at t=0, purchases at t=30 (in window) and t=90 (out);
    // user 2: purchase at t=10 with no click — never emitted
    clicks.addData((1L, ts(0), 100L))
    purchases.addData((1L, ts(30), 5.0), (1L, ts(90), 7.0), (2L, ts(10), 9.0))
    q.processAllAvailable()
    // second click catches the t=90 purchase arriving earlier — late
    // cross-batch matches still join while inside the watermark
    clicks.addData((1L, ts(80), 101L))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("ssjoin_spec").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).sorted.toSeq
    assert(rows == Seq((100L, 1L, 5.0), (101L, 1L, 7.0)))
  }

  test("streaming dedup suppresses duplicate fingerprints across batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val src = MemoryStream[(java.sql.Timestamp, String)]
    val ts = (m: Long) => new java.sql.Timestamp(1700000000000L + m * 60000L)
    val deduped = EventsStream.streamingDedup(
      src.toDF().toDF("ts", "text"))
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("dedup_spec").start()
    src.addData((ts(0), "alpha"), (ts(1), "beta"), (ts(1), "alpha"))
    q.processAllAvailable()
    src.addData((ts(2), "alpha"), (ts(3), "gamma")) // alpha within horizon
    q.processAllAvailable()
    q.stop()
    val texts = spark.table("dedup_spec").collect().map(_.getString(1)).sorted
    assert(texts.toSeq == Seq("alpha", "beta", "gamma"))
  }

  test("event-time timeout closes idle sessions when the watermark passes") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.EventsStream.TimedEvent
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = 1700000000000L
    val ts = (m: Long) => new java.sql.Timestamp(base + m * 60000L)
    val src = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val sessions = EventsStream.sessionizeEventTime(
      src.toDF().toDF("user_id", "ts", "value").as[TimedEvent],
      gapMs = 30L * 60000L)
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("et_sessions").start()
    // user 10 is active, then goes idle forever
    src.addData((10L, ts(0), 1.0), (10L, ts(1), 2.0))
    q.processAllAvailable()
    assert(spark.table("et_sessions").isEmpty) // session still open
    // a LATER event from another user advances the watermark past
    // user 10's lastTs + gap; the no-data batch then fires the timeout
    src.addData((20L, ts(100), 8.0))
    q.processAllAvailable()
    val afterTimeout = spark.table("et_sessions").as[SessionOut].collect()
    assert(afterTimeout.toSeq == Seq(SessionOut(10, 2, 3.0)))
    q.stop()
  }

  test("fixed-point sessionizer: gap-closed sessions emit eagerly, the " +
      "watermark closes idle ones, tied timestamps cannot reorder sums") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.EventsStream.{FpSession, FpTimed}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = 1700000000000L
    val ts = (m: Long) => new java.sql.Timestamp(base + m * 60000L)
    val src = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val sessions = EventsStream.sessionizeEventTimeFp(
      src.toDF().toDF("user_id", "ts", "value_fp").as[FpTimed],
      gapMs = 30L * 60000L)
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("fp_sessions").start()
    // user 1: two TIED timestamps (long sums are order-free), then a
    // 40-min gap closes the session when the next event arrives
    src.addData((1L, ts(0), 10L), (1L, ts(0), 7L), (1L, ts(40), 1L))
    q.processAllAvailable()
    val eager = spark.table("fp_sessions").as[FpSession].collect().toSeq
    assert(eager == Seq(FpSession(1L, 2L, 17L)))
    // a far-future event advances the watermark past user 1's open
    // session; the no-data batch fires the event-time timeout
    src.addData((2L, ts(1000), 3L))
    q.processAllAvailable()
    q.stop()
    val all = spark.table("fp_sessions").as[FpSession].collect().toSeq
    assert(all.contains(FpSession(1L, 1L, 1L)))
    // user 2's own session reached end-of-stream still open: not emitted
    assert(!all.exists(_.user_id == 2L))
  }

  test("fixed-point sessionizer survives cross-batch disorder: rows " +
      "behind the watermark are dropped, the query keeps running") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.EventsStream.{FpSession, FpTimed}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = 1700000000000L
    val ts = (m: Long) => new java.sql.Timestamp(base + m * 60000L)
    val src = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val sessions = EventsStream.sessionizeEventTimeFp(
      src.toDF().toDF("user_id", "ts", "value_fp").as[FpTimed],
      gapMs = 30L * 60000L)
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("fp_disorder").start()
    src.addData((30L, ts(100), 5L)) // batch 1: watermark -> ts(100)
    q.processAllAvailable()
    // batch 2: user 10's events are ALL older than the watermark — the
    // stateful operator drops late rows (the watermark contract), so
    // no session forms for user 10 and the query keeps running
    src.addData((10L, ts(0), 2L), (10L, ts(1), 3L))
    q.processAllAvailable()
    // batch 3: the 100-min gap splits user 30's sessions eagerly
    src.addData((30L, ts(200), 1L))
    q.processAllAvailable()
    q.stop()
    val all = spark.table("fp_disorder").as[FpSession].collect().toSeq
    assert(!all.exists(_.user_id == 10L)) // late rows dropped, not folded
    assert(all.contains(FpSession(30L, 1L, 5L)))
  }

  test("sessionize splits on gaps and accumulates state") {
    val m = 60L * 1000000L // one minute in micros
    val events = Seq(
      Event(1, 10, 0 * m, 1.0), Event(2, 10, 1 * m, 2.0),
      Event(3, 10, 45 * m, 4.0), // 44-min gap -> closes session 1
      Event(4, 20, 0 * m, 8.0)).toDS()
    val out = EventsStream.sessionize(events, gapMicros = 30 * m).collect()
    // only the closed session is emitted; open sessions stay in state
    assert(out.toSeq == Seq(SessionOut(10, 2, 3.0)))
  }
}

/** Streaming ingestion: micro-batches become snapshot commits; the
  * catalog registrar exposes the result to spark.sql.
  */
class StreamIngestSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("streamIntoTable commits one snapshot per micro-batch") {
    import graft.plans.{Catalog, Mor, TableIO}
    val root = java.nio.file.Files.createTempDirectory("graft-ingest-").toString
    val sfDir = "/root/testdata/sf0.001"
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(s"$sfDir/events.parquet").schema
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$sfDir/events.*")
    val commits = EventsStream.streamIntoTable(spark, src, root, "ns", "ev")
    assert(commits >= 1)
    val n = Mor.read(spark, root, "ns", "ev").count()
    assert(n == 1000L) // all sf0.001 events ingested
    assert(TableIO.currentVersion(root, "ns", "ev") == commits)
    // catalog integration: query the ingested table through spark.sql
    val names = Catalog.registerAll(spark, root)
    assert(names.contains("ns_ev"))
    assert(spark.sql("SELECT count(*) AS n FROM ns_ev").head().getLong(0) == 1000L)
  }

  test("a streaming-materialized aggregate folds each ingest commit") {
    // streaming ingest -> committed snapshots -> Ivm folds the change
    // feed: the streaming-materialized-view loop, end to end
    import graft.plans.{Ivm, Mor, TableIO}
    val root = java.nio.file.Files.createTempDirectory("graft-mv-").toString
    val sfDir = "/root/testdata/sf0.001"
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(s"$sfDir/events.parquet").schema
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$sfDir/events.*")
    val commits = EventsStream.streamIntoTable(spark, src, root, "ns", "ev")
    val ckpt = java.nio.file.Paths.get(root, "mv.ckpt")
    Ivm.catchUp(spark, root, "ns", "ev", "ev_agg", ckpt,
      pmod(col("user_id"), lit(8)), "user_id")
    // one state snapshot per ingest commit; offset at the head
    assert(TableIO.currentVersion(root, "ns", "ev_agg") == commits)
    val got = Mor.read(spark, root, "ns", "ev_agg").orderBy("k")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val want = Mor.read(spark, root, "ns", "ev")
      .groupBy(pmod(col("user_id"), lit(8)).cast("long").as("k"))
      .agg(count(lit(1)).as("n"), sum(col("user_id").cast("long")).as("s"))
      .orderBy("k")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == want)
  }

  test("streaming ingest into a partitioned table prunes like batch writes") {
    import graft.plans.{Mor, PartitionSpec, Partitioning, TableIO}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft-pingest-").toString
    val spec = PartitionSpec("bucket", "k", 4)
    val src = MemoryStream[(Long, String)](
      org.apache.spark.sql.Encoders.product[(Long, String)], sqlCtx)
    val df = src.toDF().toDF("k", "v")
    // declare the spec before ingest starts
    TableIO.createNamespace(root, "ns")
    TableIO.createTableIfNotExists(root, "ns", "pv", df.schema)
    Partitioning.writeSpec(root, "ns", "pv", spec)
    src.addData((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"))
    val commits = EventsStream.streamIntoTable(spark, df, root, "ns", "pv")
    assert(commits == 1L)
    // every file carries its partition value; a one-bucket read skips
    // the others exactly like a batch-partitioned table
    val m = TableIO.readManifest(root, "ns", "pv")
    assert(m.forall(_.bounds.contains(spec.fieldName)))
    val pruned = Mor.read(spark, root, "ns", "pv")
      .filter(org.apache.spark.sql.functions.col("k") === 3L)
    assert(OpenedFiles.count(pruned) < m.size)
    assert(pruned.count() == 1L)
  }
}
