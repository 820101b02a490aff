package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.plans.{Mor, PartitionSpec, Partitioning, TableIO}

/** Hidden partitioning: transform routing at write time, file skipping
  * at scan time, driver/executor transform agreement.
  */
class PartitioningSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def freshTable(spec: PartitionSpec, n: Long = 5000L): String = {
    val root = java.nio.file.Files.createTempDirectory("graft-part-").toString
    val df = spark.range(0, n).select(
      col("id").cast("string").as("foo"),
      col("id").cast("int").as("bar"),
      lit(true).as("baz"))
    Partitioning.preparePartitioned(spark, root, "ns", "t", df, spec)
    root
  }

  test("bucket write routes every row to its transform's file") {
    val spec = PartitionSpec("bucket", "bar", 4)
    val root = freshTable(spec)
    val entries = TableIO.readManifest(root, "ns", "t")
    assert(entries.size == 4 && entries.map(_.recordCount).sum == 5000L)
    // each file holds exactly the rows whose computed bucket matches its
    // recorded partition value
    entries.foreach { e =>
      val pv = e.bounds(spec.fieldName)._1
      assert(e.bounds(spec.fieldName) == (pv, pv))
      val rows = spark.read.parquet(
        TableIO.tableDir(root, "ns", "t").resolve(e.path).toString)
      val offBucket = rows
        .filter(spec.sparkValue(col("bar")) =!= pv).count()
      assert(offBucket == 0L, s"file ${e.path} holds foreign-bucket rows")
      assert(rows.count() == e.recordCount)
    }
  }

  test("partition prune opens exactly one of four bucket files") {
    val spec = PartitionSpec("bucket", "bar", 4)
    val root = freshTable(spec)
    val pruned = Mor.read(spark, root, "ns", "t")
      .filter(spec.sparkValue(col("bar")) === 2L)
    val scanned = OpenedFiles.count(pruned)
    assert(scanned == 1, s"scanned $scanned files")
    // pruned scan == the bucket's rows exactly
    val expected = spark.range(0, 5000).select(col("id").cast("int").as("bar"))
      .filter(spec.sparkValue(col("bar")) === 2L).count()
    assert(pruned.count() == expected)
  }

  test("driver-side valueOf agrees with the executor expression") {
    val spec = PartitionSpec("bucket", "bar", 7)
    val got = spark.range(0, 2000)
      .select(col("id"), spec.sparkValue(col("id")).as("pv")).collect()
    got.foreach { r =>
      assert(spec.valueOf(r.getLong(0)) == r.getLong(1),
        s"mismatch at key ${r.getLong(0)}")
    }
  }

  test("calendar transforms: driver valueOf agrees with executor on " +
      "random timestamps incl. leap years and boundaries") {
    // deterministic pseudo-random epoch seconds across 1968-2106
    // (negative pre-1970 included), plus exact boundary instants
    val keys = (0 until 2000).map { i =>
      ((i.toLong * 2654435761L) % 4300000000L) - 60000000L
    } ++ Seq(
      -1L, 0L, 1L,
      951782399L, 951782400L,   // 2000-02-29 boundary (leap)
      1709251199L, 1709251200L, // 2024-02-29 -> 03-01 (leap)
      978307199L, 978307200L)   // 2000-12-31 -> 2001-01-01
    import spark.implicits._
    for (t <- Seq("day", "hour", "month", "year")) {
      val spec = PartitionSpec(t, "ts")
      val got = keys.toDF("sec")
        .select(col("sec"),
          spec.sparkValue(expr("timestamp_seconds(sec)")).as("pv"))
        .collect()
      got.foreach { r =>
        assert(spec.valueOf(r.getLong(0)) == r.getLong(1),
          s"$t mismatch at epoch ${r.getLong(0)}")
      }
    }
  }

  test("calendar transforms route and prune identically in a non-UTC " +
      "session timezone") {
    import spark.implicits._
    val prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try {
      val spec = PartitionSpec("month", "ts")
      val root = java.nio.file.Files.createTempDirectory("graft-tz-").toString
      // 2024-03-01T02:00Z is 2024-02-29T21:00 in New York: a session-tz
      // month() would route it to February while its manifest bounds say
      // March, and a March prune would silently drop it
      val secs = Seq(
        1709258400L, // 2024-03-01 02:00:00 UTC (still Feb 29 in NY)
        1709164800L, // 2024-02-29 00:00:00 UTC
        1706745600L, // 2024-02-01 00:00:00 UTC
        1711929599L, // 2024-03-31 23:59:59 UTC
        1704067200L) // 2024-01-01 00:00:00 UTC
      val df = secs.toDF("sec")
        .select(expr("timestamp_seconds(sec)").as("ts"), col("sec"))
      Partitioning.preparePartitioned(spark, root, "ns", "t", df, spec)
      val entries = TableIO.readManifest(root, "ns", "t")
      assert(entries.size == 3) // Jan, Feb, Mar 2024
      // every row sits inside its file's recorded epoch-second bounds
      entries.foreach { e =>
        val (lo, hi) = e.bounds("ts")
        val out = spark.read.parquet(
          TableIO.tableDir(root, "ns", "t").resolve(e.path).toString)
          .filter(col("sec") < lo || col("sec") > hi).count()
        assert(out == 0L, s"${e.path} holds rows outside [$lo,$hi]")
      }
      // pruning March 2024 opens one file and finds the 02:00Z row
      val pruned = Mor.read(spark, root, "ns", "t").filter(col("ts").between(
        lit(java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(1709251200L))),
        lit(java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(1711929599L)))))
      assert(OpenedFiles.count(pruned) == 1)
      assert(pruned.select("sec").as[Long].collect().toSet ==
        Set(1709258400L, 1711929599L))
    } finally spark.conf.set("spark.sql.session.timeZone", prev)
  }

  test("truncate spec prunes a key range and implies key bounds") {
    val spec = PartitionSpec("truncate", "bar", 1000)
    val root = freshTable(spec)
    val entries = TableIO.readManifest(root, "ns", "t")
    assert(entries.size == 5)
    entries.foreach { e =>
      val pv = e.bounds(spec.fieldName)._1
      assert(e.bounds("bar") == (pv * 1000L, pv * 1000L + 999L))
    }
    val pruned = Mor.read(spark, root, "ns", "t")
      .filter(col("bar").between(1500, 2500))
    assert(OpenedFiles.count(pruned) == 2)
    assert(pruned.count() == 1001L)
  }

  test("bucket transform cannot prune a multi-key range") {
    val root = freshTable(PartitionSpec("bucket", "bar", 4))
    val read = Mor.read(spark, root, "ns", "t")
    // hash buckets scatter adjacent keys: a range keeps every file, a
    // point on the source column keeps its one bucket
    assert(OpenedFiles.count(read.filter(col("bar").between(1, 2))) == 4)
    assert(OpenedFiles.count(read.filter(col("bar") === 5)) == 1)
    assert(read.filter(col("bar").between(1, 2)).count() == 2L)
  }

  test("identity spec round-trips through partition-spec.json") {
    val spec = PartitionSpec("identity", "bar")
    val root = java.nio.file.Files.createTempDirectory("graft-part-").toString
    val df = spark.range(0, 40).select(
      col("id").cast("string").as("foo"),
      (col("id") % 4).cast("int").as("bar"),
      lit(true).as("baz"))
    Partitioning.preparePartitioned(spark, root, "ns", "t", df, spec)
    assert(Partitioning.readSpec(root, "ns", "t").contains(spec))
    val entries = TableIO.readManifest(root, "ns", "t")
    assert(entries.size == 4 && entries.forall(_.recordCount == 10L))
  }

  test("hive-layout partition filter opens only the matching directory") {
    val sfDir = "/root/testdata/sf0.001"
    val pruned = graft.sources.FormatRoundtrip
      .hivePartitionedEvents(spark, sfDir)
      .filter(org.apache.spark.sql.functions.col("event_type") === "purchase")
    // df.inputFiles lists the RELATION's files (pre-pruning); the
    // partition prune shows in the executed scan's file partitions
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.datasources.FilePartition
    pruned.count() // materialize the adaptive plan
    val scans = pruned.queryExecution.executedPlan.collectLeaves()
      .collect { case s: FileSourceScanExec => s }
    val files = scans.flatMap(_.inputRDDs().head.partitions.toSeq.flatMap {
      case fp: FilePartition => fp.files.map(_.filePath.toString).toSeq
      case _ => Seq.empty[String]
    })
    assert(files.nonEmpty &&
      files.forall(_.contains("event_type=purchase")),
      s"scan leaked past the partition: ${files.take(3).toSeq}")
  }
}
