package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.plans.{Partitioning, Pipeline, TableIO}
import graft.plans.PartitionSpec
import graft.sources.{FixSchemaGen, GenConfig}
import graft.streaming.GraftTableSink

/** `readStream.format("graft-table")` — the snapshot log as a stream.
  * Each committed version is a micro-batch; offsets are snapshot
  * versions, so a restart from the checkpoint resumes exactly where the
  * last batch ended.
  */
class TableStreamSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val cfgRef = GenConfig.reference
  private val N = cfgRef.data.totalRows
  private val P = cfgRef.actualPosDeletes
  private val E = cfgRef.actualEqDeletes

  private def appendRange(root: String, ns: String, t: String, fileIdx: Int,
      lo: Long, hi: Long): Unit = {
    val df = spark.range(lo, hi).select(
      col("id").cast("string").as("foo"), col("id").cast("int").as("bar"),
      lit(true).as("baz"))
    TableIO.commit(root, ns, t, Seq(TableIO.writeExactFile(spark, root, ns, t,
      FixSchemaGen.dataFilePath(fileIdx), df, "data",
      TableIO.nextSeq(root, ns, t), recordCount = hi - lo)))
  }

  test("append-mode stream tails inserts across commits, skips deletes") {
    val cfg = cfgRef.copy(tableName = "stream_src_spec")
    val root = java.nio.file.Files.createTempDirectory("graft-ssrc-").toString
    val (ns, t) = (cfg.namespace, cfg.tableName)
    Pipeline.prepare(spark, root, cfg) // v1 insert, v2 pos-del, v3 eq-del

    val stream = spark.readStream.format("graft-table")
      .option("root", root).option("namespace", ns).option("table", t)
      .load()
    assert(stream.isStreaming)
    assert(stream.schema.fieldNames.toSeq == Seq("foo", "bar", "baz"))
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("tsrc_spec").start()
    q.processAllAvailable()
    // v1's inserts arrive; the two delete commits contribute no rows
    assert(spark.table("tsrc_spec").count() == N)

    // a live append lands as its own micro-batch
    val rpf = cfg.data.rowsPerFile
    appendRange(root, ns, t, 5, 5L * rpf, 5L * rpf + 17)
    q.processAllAvailable()
    assert(spark.table("tsrc_spec").count() == N + 17)
    val tail = spark.table("tsrc_spec")
      .filter(col("bar") >= 5 * rpf).agg(count(lit(1)), min("bar"), max("bar"))
      .collect().head
    assert((tail.getLong(0), tail.getInt(1), tail.getInt(2)) ==
      (17L, 5 * rpf.toInt, 5 * rpf.toInt + 16))
    q.stop()
  }

  test("cdc-mode stream emits the changelog; checkpoint restart resumes") {
    val cfg = cfgRef.copy(tableName = "stream_cdc_spec")
    val root = java.nio.file.Files.createTempDirectory("graft-scdc-").toString
    val (ns, t) = (cfg.namespace, cfg.tableName)
    Pipeline.prepare(spark, root, cfg)
    val ckpt = s"$root/_ckpt"

    // foreachBatch sink: supports checkpoint recovery, and lets the spec
    // observe exactly which (version, type) pairs each RUN delivered
    val seen = scala.collection.mutable.ArrayBuffer[((Int, String), Long)]()
    def startQuery() = spark.readStream.format("graft-table")
      .option("root", root).option("namespace", ns).option("table", t)
      .option("mode", "cdc").load()
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        seen ++= df.groupBy("_change_version", "_change_type").count()
          .collect().map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2))
        ()
      }.start()

    val q1 = startQuery()
    q1.processAllAvailable()
    assert(seen.toMap == Map((1, "insert") -> N, (2, "delete") -> P,
      (3, "delete") -> E))
    q1.stop()

    // restart from the checkpoint: only the NEW commit is delivered
    val rpf = cfg.data.rowsPerFile
    appendRange(root, ns, t, 5, 5L * rpf, 5L * rpf + 9)
    seen.clear()
    val q2 = startQuery()
    q2.processAllAvailable()
    assert(seen.toMap == Map((4, "insert") -> 9L))
    q2.stop()
  }

  test("maxVersionsPerBatch bounds backlog catch-up; restart keeps capping") {
    val ns = "sns"; val t = "paced"
    val root = java.nio.file.Files.createTempDirectory("graft-pace-").toString
    TableIO.createNamespace(root, ns)
    val schema = spark.range(0, 1).select(
      col("id").cast("string").as("foo"), col("id").cast("int").as("bar"),
      lit(true).as("baz")).schema
    TableIO.createTableIfNotExists(root, ns, t, schema)
    // a 6-commit backlog BEFORE the stream starts
    (0 until 6).foreach(i => appendRange(root, ns, t, i, i * 10L, i * 10L + 10))
    val ckpt = s"$root/_ckpt"

    val batches = scala.collection.mutable.ArrayBuffer[Long]()
    def startQuery() = spark.readStream.format("graft-table")
      .option("root", root).option("namespace", ns).option("table", t)
      .option("maxVersionsPerBatch", "2").load()
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        batches += df.count(); ()
      }.start()

    val q1 = startQuery()
    q1.processAllAvailable()
    // 6 backlog versions at <=2 per batch: 3 batches of 2 commits each,
    // never one batch spanning the whole history
    assert(batches.toSeq == Seq(20L, 20L, 20L),
      s"expected three 2-version batches, got $batches")
    q1.stop()

    // restart: 3 more commits arrive while down -> capped again (2 + 1)
    (6 until 9).foreach(i => appendRange(root, ns, t, i, i * 10L, i * 10L + 10))
    batches.clear()
    val q2 = startQuery()
    q2.processAllAvailable()
    assert(batches.toSeq == Seq(20L, 10L),
      s"expected a 2-version then 1-version batch after restart, got $batches")
    q2.stop()
  }

  test("CDC offsets survive a concurrent compactSmall + expireSnapshots " +
      "cycle: the replace commit delivers zero rows, later appends flow") {
    import graft.plans.Maintenance
    val ns = "mns"; val t = "cdc_maint"
    val root = java.nio.file.Files.createTempDirectory("graft-cdcm-").toString
    TableIO.createNamespace(root, ns)
    val schema = spark.range(0, 1).select(
      col("id").cast("string").as("foo"), col("id").cast("int").as("bar"),
      lit(true).as("baz")).schema
    TableIO.createTableIfNotExists(root, ns, t, schema)
    // v1: ONE commit carrying TWO small same-seq files — the shape
    // compactSmall merges (it groups by commit seq, minGroup 2)
    def sliceDf(lo: Long, hi: Long) = spark.range(lo, hi).select(
      col("id").cast("string").as("foo"), col("id").cast("int").as("bar"),
      lit(true).as("baz"))
    TableIO.commit(root, ns, t, (0 until 2).map(i =>
      TableIO.writeExactFile(spark, root, ns, t, FixSchemaGen.dataFilePath(i),
        sliceDf(i * 10L, i * 10L + 10), "data", seq = 1L, recordCount = 10)))
    // v2: a second append, so the consumed history spans two offsets
    appendRange(root, ns, t, 2, 100L, 110L)

    val ckpt = s"$root/_ckpt"
    val seen = scala.collection.mutable.ArrayBuffer[(Long, Long)]() // (batch rows, batch id)
    def startQuery() = spark.readStream.format("graft-table")
      .option("root", root).option("namespace", ns).option("table", t)
      .option("mode", "cdc").load()
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        seen += ((df.count(), id)); ()
      }.start()

    val q = startQuery()
    q.processAllAvailable()
    assert(seen.map(_._1).sum == 30L, s"initial backlog: $seen")

    // maintenance WHILE the consumer is live: compaction publishes a
    // replace-marked v3 (two v1 files merged, content preserved) and
    // expiry drops everything before the consumer's committed offset
    val v3 = Maintenance.compactSmall(spark, root, ns, t)
    assert(v3 == 3L)
    Maintenance.expireSnapshots(root, ns, t, keepFromVersion = 2L)
    // plus a real append AFTER the maintenance cycle
    appendRange(root, ns, t, 3, 200L, 207L)
    seen.clear()
    q.processAllAvailable()
    // exactly the append's rows arrive; the replace commit contributes
    // ZERO change rows (content-preserving rewrite must be invisible
    // to CDC), and the expired v1 never disturbs the live offsets
    assert(seen.map(_._1).sum == 7L,
      s"post-maintenance batches should carry only the append: $seen")
    q.stop()

    // restart from the checkpoint across the maintenance boundary:
    // only NEW commits are delivered — offsets survived intact
    appendRange(root, ns, t, 4, 300L, 305L)
    seen.clear()
    val q2 = startQuery()
    q2.processAllAvailable()
    assert(seen.map(_._1).sum == 5L,
      s"restart should deliver only the new append: $seen")
    q2.stop()
    // and the merged view agrees with all appends (20 + 10 + 7 + 5)
    assert(graft.plans.Mor.read(spark, root, ns, t).count() == 42L)
  }

  test("sink commits micro-batches as snapshots; replayed batch id drops") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-tsink-").toString
    val (ns, t) = ("stream", "sunk")

    val src = MemoryStream[(Long, String)]
    val q = src.toDF().toDF("k", "v").writeStream.outputMode("append")
      .format("graft-table")
      .option("root", root).option("namespace", ns).option("table", t)
      .option("statsColumns", "k")
      .option("checkpointLocation", s"$root/_ckpt")
      .start()
    src.addData((1L, "a"), (2L, "b"))
    q.processAllAvailable()
    src.addData((3L, "c"))
    q.processAllAvailable()
    q.stop()

    assert(TableIO.currentVersion(root, ns, t) == 2L) // one commit per batch
    val rows = graft.plans.Mor.read(spark, root, ns, t)
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows == Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // per-batch manifest bounds on k landed (streamed files bounds-prune)
    val manifest = TableIO.readManifest(root, ns, t)
    assert(manifest.forall(_.bounds.contains("k")))

    // a REPLAYED batch id (crash between sink commit and offset-log
    // write) must be a no-op: the marker is inside the manifest
    val replay = Seq((9L, "dup")).toDF("k", "v")
    new GraftTableSink(root, ns, t, "s0", Nil).addBatch(1L, replay)
    assert(TableIO.currentVersion(root, ns, t) == 2L)
    // a genuinely new batch id still lands
    new GraftTableSink(root, ns, t, "s0", Nil).addBatch(2L, replay)
    assert(TableIO.currentVersion(root, ns, t) == 3L)
    assert(graft.plans.Mor.read(spark, root, ns, t).count() == 4L)
  }

  test("sink routes through the partitioned writer when the table has a spec") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-psink-").toString
    val (ns, t) = ("stream", "sunk_part")
    TableIO.createNamespace(root, ns)
    TableIO.createTableIfNotExists(root, ns, t,
      Seq((0L, "x")).toDF("k", "v").schema)
    Partitioning.writeSpec(root, ns, t, PartitionSpec("bucket", "k", 4))

    val src = MemoryStream[(Long, String)]
    val q = src.toDF().toDF("k", "v").writeStream.outputMode("append")
      .format("graft-table")
      .option("root", root).option("namespace", ns).option("table", t)
      .option("checkpointLocation", s"$root/_ckpt")
      .start()
    src.addData((0L until 20L).map(i => (i, s"r$i")): _*)
    q.processAllAvailable()
    q.stop()

    // one file per live bucket, partition values in the manifest — the
    // streamed files prune exactly like batch-written ones
    val entries = TableIO.readManifest(root, ns, t)
    assert(entries.nonEmpty &&
      entries.forall(_.bounds.contains(PartitionSpec("bucket", "k", 4).fieldName)))
    assert(entries.forall(_.path.contains("stream-s0-b")))
    assert(graft.plans.Mor.read(spark, root, ns, t).count() == 20L)
  }

  test("table-to-table streaming pipeline: source -> transform -> sink") {
    val cfg = cfgRef.copy(tableName = "pipe_src")
    val root = java.nio.file.Files.createTempDirectory("graft-t2t-").toString
    val (ns, t) = (cfg.namespace, cfg.tableName)
    Pipeline.prepareData(spark, root, cfg) // insert-only source table

    val q = spark.readStream.format("graft-table")
      .option("root", root).option("namespace", ns).option("table", t)
      .load()
      .filter(col("bar") % 2 === 0)
      .writeStream.outputMode("append")
      .format("graft-table")
      .option("root", root).option("namespace", ns).option("table", "pipe_dst")
      .option("checkpointLocation", s"$root/_ckpt")
      .start()
    q.processAllAvailable()
    val expected = spark.range(0, N).filter(col("id") % 2 === 0).count()
    assert(graft.plans.Mor.read(spark, root, ns, "pipe_dst").count() == expected)

    // incremental: a late append to the source flows through
    val rpf = cfg.data.rowsPerFile
    appendRange(root, ns, t, 5, 5L * rpf, 5L * rpf + 10)
    q.processAllAvailable()
    q.stop()
    assert(graft.plans.Mor.read(spark, root, ns, "pipe_dst").count() ==
      expected + 5)
  }

  test("CDC replication: target converges to source across upserts/deletes") {
    import graft.plans.{Dml, Mor, Upsert}
    import graft.streaming.Replication
    val root = java.nio.file.Files.createTempDirectory("graft-repl-").toString
    val ns = "replns"
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.StringType, nullable = false)))
    TableIO.createNamespace(root, ns)
    TableIO.createTableIfNotExists(root, ns, "src", schema)
    TableIO.createTableIfNotExists(root, ns, "dst", schema)
    def srcRows(lo: Long, hi: Long, tag: String) =
      spark.range(lo, hi).select(col("id").as("k"),
        concat(lit(tag), col("id")).as("v"))
    // v1: initial load
    TableIO.commit(root, ns, "src", Seq(TableIO.writeExactFile(spark, root,
      ns, "src", "data/part-0.parquet", srcRows(0, 100, "a"), "data",
      TableIO.nextSeq(root, ns, "src"))))

    val q = Replication.replicate(spark, root, ns, "src", root, ns, "dst",
      keyCols = Seq("k"), checkpoint = s"$root/_repl_ckpt")
    q.processAllAvailable()
    def content(t: String): Set[(Long, String)] =
      Mor.read(spark, root, ns, t).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(content("dst") == content("src") && content("dst").size == 100)

    // v2: source-side upsert rewrites keys 40..59 (delete+insert in one
    // change version) — the replica must not duplicate or lose them
    Upsert.upsert(spark, root, ns, "src", srcRows(40, 60, "b"), Seq("k"))
    q.processAllAvailable()
    assert(content("dst") == content("src"))
    assert(content("dst").count(_._2.startsWith("b")) == 20)

    // v3: source-side delete of keys 0..9
    Dml.deleteWhere(spark, root, ns, "src", "k", 0L, 9L)
    q.processAllAvailable()
    assert(content("dst") == content("src") && content("dst").size == 90)

    // v4+v5: a METADATA-ONLY delete — the appended file's bounds fully
    // cover the range, so deleteWhere drops the file from the manifest
    // without writing a single delete row. The pre-marker changelog
    // emitted nothing for such commits and the replica diverged
    // forever; now the deletes are synthesized from the prior snapshot
    // and the replica must converge.
    TableIO.commit(root, ns, "src", Seq(TableIO.writeExactFile(spark, root,
      ns, "src", "data/part-ext.parquet", srcRows(100, 150, "c"), "data",
      TableIO.nextSeq(root, ns, "src"),
      bounds = Map("k" -> (100L, 149L)))))
    q.processAllAvailable()
    assert(content("dst") == content("src") && content("dst").size == 140)
    Dml.deleteWhere(spark, root, ns, "src", "k", 100L, 149L)
    q.processAllAvailable()
    q.stop()
    assert(content("dst") == content("src") && content("dst").size == 90)

    // replaying the last batch is content-idempotent: re-apply the same
    // change rows directly and compare
    val last = TableIO.currentVersion(root, ns, "src")
    Replication.applyChanges(spark, root, ns, "dst",
      Mor.readChanges(spark, root, ns, "src", last - 1, last), Seq("k"))
    assert(content("dst") == content("src"))
  }

  test("replication collapses a multi-version batch: late delete wins, " +
      "double-upsert lands once") {
    import graft.plans.Mor
    import graft.streaming.Replication
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-replv-").toString
    val ns = "replns"
    // pre-populate the target: k=1 and k=2 hold stale rows, k=9 is
    // untouched by the batch and must survive
    val initial = Seq((1L, "old1"), (2L, "old2"), (9L, "keep"))
      .toDF("k", "v")
    TableIO.createNamespace(root, ns)
    TableIO.createTableIfNotExists(root, ns, "dst", initial.schema)
    TableIO.commit(root, ns, "dst", Seq(TableIO.writeExactFile(spark, root,
      ns, "dst", "data/init.parquet", initial, "data",
      TableIO.nextSeq(root, ns, "dst"))))

    // ONE micro-batch spanning three source versions — the restart
    // catch-up / multi-commit-per-trigger shape:
    //   k=1: insert@1 then delete@2          -> must NOT survive
    //   k=2: upsert@2 then upsert again@3    -> exactly one row, "b3"
    //   k=3: plain insert@3
    val batch = Seq(
      (1L, "a1", "insert", 1), (1L, "a1", "delete", 2),
      (2L, "old2", "delete", 2), (2L, "b2", "insert", 2),
      (2L, "b2", "delete", 3), (2L, "b3", "insert", 3),
      (3L, "c1", "insert", 3)
    ).toDF("k", "v", "_change_type", "_change_version")
    Replication.applyChanges(spark, root, ns, "dst", batch, Seq("k"))

    val got = Mor.read(spark, root, ns, "dst").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got.size == got.toSet.size, s"duplicate rows: $got")
    assert(got.toSet == Set((2L, "b3"), (3L, "c1"), (9L, "keep")), got)
  }

  test("a replication re-apply after a rollback leaves the rolled-back " +
      "version readable") {
    import graft.plans.Mor
    import graft.streaming.Replication
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-replrb-").toString
    val ns = "replns"
    val initial = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    TableIO.createNamespace(root, ns)
    TableIO.createTableIfNotExists(root, ns, "dst", initial.schema)
    TableIO.commit(root, ns, "dst", Seq(TableIO.writeExactFile(spark, root,
      ns, "dst", "data/init.parquet", initial, "data", 1L)))
    def content(v: Long) = Mor.readAt(spark, root, ns, "dst", v).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    def batch(v: String) = Seq((1L, v, "insert", 1)).toDF("k", "v",
      "_change_type", "_change_version")
    val v2 = Replication.applyChanges(spark, root, ns, "dst", batch("x"),
      Seq("k"))
    val first = content(v2)
    assert(first == Set((1L, "x"), (2L, "b")))
    // the re-apply lands at the same sequence number as the first apply
    TableIO.rollback(root, ns, "dst", 1L)
    val v4 = Replication.applyChanges(spark, root, ns, "dst", batch("y"),
      Seq("k"))
    assert(content(v2) == first)
    assert(content(v4) == Set((1L, "y"), (2L, "b")))
  }

  test("fresh-checkpoint query into a pre-populated table fails loudly, " +
      "never silently drops") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-fsink-").toString
    val (ns, t) = ("stream", "fresh_ckpt")

    val src1 = MemoryStream[(Long, String)]
    val q1 = src1.toDF().toDF("k", "v").writeStream.outputMode("append")
      .format("graft-table")
      .option("root", root).option("namespace", ns).option("table", t)
      .option("checkpointLocation", s"$root/_ckpt1")
      .start()
    src1.addData((1L, "a")); q1.processAllAvailable()
    src1.addData((2L, "b")); q1.processAllAvailable()
    q1.stop()
    assert(TableIO.currentVersion(root, ns, t) == 2L)

    // a NEW query with a FRESH checkpoint restarts batch ids at 0; its
    // batches collide with the committed high-water mark and must fail
    // loudly (the old guard swallowed them as "replays" — data loss)
    val src2 = MemoryStream[(Long, String)]
    val q2 = src2.toDF().toDF("k", "v").writeStream.outputMode("append")
      .format("graft-table")
      .option("root", root).option("namespace", ns).option("table", t)
      .option("checkpointLocation", s"$root/_ckpt2")
      .start()
    src2.addData((3L, "c"))
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q2.processAllAvailable()
    }
    def messages(e: Throwable): Seq[String] =
      Option(e).toSeq.flatMap(x => Option(x.getMessage).toSeq ++
        messages(x.getCause))
    assert(messages(ex).exists(_.contains("behind")), ex.getMessage)
    q2.stop()
    assert(TableIO.currentVersion(root, ns, t) == 2L) // nothing half-landed

    // a distinct streamId is the sanctioned way to add a second writer:
    // same fresh checkpoint situation, lands cleanly
    val src3 = MemoryStream[(Long, String)]
    val q3 = src3.toDF().toDF("k", "v").writeStream.outputMode("append")
      .format("graft-table")
      .option("root", root).option("namespace", ns).option("table", t)
      .option("streamId", "s1")
      .option("checkpointLocation", s"$root/_ckpt3")
      .start()
    src3.addData((4L, "d")); q3.processAllAvailable()
    q3.stop()
    assert(TableIO.currentVersion(root, ns, t) == 3L)
    assert(graft.plans.Mor.read(spark, root, ns, t).count() == 3L)
  }
}
