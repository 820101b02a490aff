package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import graft.plans.{Dml, Maintenance, ManifestEntry, Mor, Pipeline, TableIO, Upsert}
import graft.sources.{FileConfig, GenConfig}
import org.apache.spark.sql.types._

/** Optimistic-concurrency commit protocol + ref-protected expiry. */
class CommitProtocolSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val schema = StructType(Seq(
    StructField("foo", StringType, nullable = false),
    StructField("bar", IntegerType, nullable = false)))

  private def newTable(): String = {
    val root = Files.createTempDirectory("graft-race-").toString
    TableIO.createNamespace(root, "ns")
    TableIO.createTableIfNotExists(root, "ns", "t", schema)
    root
  }

  test("concurrent fast-appends all land as consecutive versions") {
    val root = newTable()
    val threads = 4; val per = 10
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val ts = (0 until threads).map { t =>
      new Thread(() => {
        try {
          (0 until per).foreach { i =>
            TableIO.commit(root, "ns", "t", Seq(ManifestEntry(
              s"data/part-t$t-$i.parquet", "data", 1L, 10L)))
          }
        } catch { case e: Throwable => errs.add(e) }
      })
    }
    ts.foreach(_.start()); ts.foreach(_.join())
    assert(errs.isEmpty, s"commit threw: ${errs.peek()}")
    // every append landed exactly once, each as its own snapshot
    assert(TableIO.currentVersion(root, "ns", "t") == threads * per)
    val paths = TableIO.readManifest(root, "ns", "t").map(_.path)
    assert(paths.size == threads * per && paths.distinct.size == paths.size)
  }

  test("a lost publish race retries against the interloper's manifest") {
    val root = newTable()
    TableIO.commit(root, "ns", "t",
      Seq(ManifestEntry("data/a.parquet", "data", 1L, 10L)))
    // simulate a racing committer that published v2 between our read
    // and our publish: pre-create v2 (the interloper's snapshot)
    val dir = TableIO.tableDir(root, "ns", "t")
    Files.copy(dir.resolve("manifest/v1.json"), dir.resolve("manifest/v2.json"))
    val v = TableIO.commit(root, "ns", "t",
      Seq(ManifestEntry("data/b.parquet", "data", 2L, 10L)))
    assert(v == 3L) // landed AFTER the interloper, not over it
    val paths = TableIO.readManifest(root, "ns", "t").map(_.path).toSet
    assert(paths == Set("data/a.parquet", "data/b.parquet"))
  }

  test("commitAppendExpecting: exactly one of two same-expected racers " +
      "lands, and row ids never overlap the base — even with a stale " +
      "row-id mark") {
    val root = newTable()
    // two racers both planned against v0, started together: the
    // manifest hard-link is the CAS, so exactly one Right(1)
    val gate = new java.util.concurrent.CountDownLatch(1)
    val results =
      new java.util.concurrent.ConcurrentLinkedQueue[Either[Long, Long]]()
    val ts = (0 until 2).map { t =>
      new Thread(() => {
        gate.await()
        results.add(TableIO.commitAppendExpecting(root, "ns", "t",
          Seq(ManifestEntry(s"data/r$t.parquet", "data", 1L, 10L)),
          expected = 0L))
      })
    }
    ts.foreach(_.start()); gate.countDown(); ts.foreach(_.join())
    val rs = results.iterator().asScala.toSeq
    assert(rs.count(_ == Right(1L)) == 1, s"results: $rs")
    assert(rs.count(_.isLeft) == 1, s"results: $rs")
    assert(TableIO.currentVersion(root, "ns", "t") == 1L)

    // stale-mark scenario: a hand-written base manifest
    // whose header mark lags its entries. The next expecting-append
    // must still assign ids ABOVE the base manifest's high-water mark —
    // non-overlap is a property of the commit's inputs, not of what the
    // header claims.
    val mdir = TableIO.tableDir(root, "ns", "t").resolve("manifest")
    val entryLines = Files.readAllLines(mdir.resolve("v1.json")).asScala
      .filterNot(_.startsWith("{\"commit\""))
    Files.writeString(mdir.resolve("v2.json"),
      ("{\"commit\":{\"next_row_id\":0}}" +: entryLines).mkString("\n"))
    assert(TableIO.commitAppendExpecting(root, "ns", "t",
      Seq(ManifestEntry("data/next.parquet", "data", 2L, 10L)),
      expected = 2L) == Right(3L))
    def ranges = TableIO.readManifest(root, "ns", "t")
      .flatMap(e => e.firstRowId.map(id => (id, id + e.recordCount)))
      .sortBy(_._1)
    assert(ranges.size == 2)
    ranges.sliding(2).foreach { case Seq((_, hiA), (loB, _)) =>
      assert(loB >= hiA, s"overlapping firstRowId ranges: $ranges")
    }
    // and a base manifest with no header line at all
    Files.writeString(mdir.resolve("v4.json"),
      Files.readAllLines(mdir.resolve("v3.json")).asScala
        .filterNot(_.startsWith("{\"commit\"")).mkString("\n"))
    assert(TableIO.commitAppendExpecting(root, "ns", "t",
      Seq(ManifestEntry("data/last.parquet", "data", 3L, 10L)),
      expected = 4L) == Right(5L))
    assert(ranges.size == 3)
    ranges.sliding(2).foreach { case Seq((_, hiA), (loB, _)) =>
      assert(loB >= hiA, s"overlapping firstRowId ranges: $ranges")
    }
  }

  test("an append after a rollback to v1 assigns ids above the " +
      "pre-rollback mark") {
    val root = newTable()
    Seq("a", "b", "c").foreach(n => TableIO.commit(root, "ns", "t",
      Seq(ManifestEntry(s"data/$n.parquet", "data", 1L, 10L))))
    val mark = TableIO.readManifest(root, "ns", "t")
      .flatMap(e => e.firstRowId.map(_ + e.recordCount)).max
    assert(mark == 30L)
    TableIO.rollback(root, "ns", "t", 1L)
    TableIO.commit(root, "ns", "t",
      Seq(ManifestEntry("data/d.parquet", "data", 2L, 10L)))
    val ids = TableIO.readManifest(root, "ns", "t")
      .map(e => e.path -> e.firstRowId).toMap
    assert(ids == Map("data/a.parquet" -> Some(0L),
      "data/d.parquet" -> Some(mark)))
  }

  test("replacing commit refuses when the base snapshot moved") {
    val root = newTable()
    TableIO.commit(root, "ns", "t",
      Seq(ManifestEntry("data/a.parquet", "data", 1L, 10L)))
    val dir = TableIO.tableDir(root, "ns", "t")
    // the rewrite was planned from v1; an interloper publishes v2
    // before the rewrite commits
    Files.copy(dir.resolve("manifest/v1.json"), dir.resolve("manifest/v2.json"))
    intercept[java.util.ConcurrentModificationException] {
      TableIO.commitReplacing(root, "ns", "t",
        Seq(ManifestEntry("data/rewrite.parquet", "data", 1L, 15L)),
        expectedVersion = Some(1L))
    }
  }

  test("compaction never erases a concurrent append (CAS + retry)") {
    // The lost-update race: compact plans its rewritten manifest from
    // version v; an append lands at v+1 while the rewrite runs; a commit
    // NOT CASed on v would publish the rewrite as v+2 with the appended
    // file silently missing. compact CASes on its planned version now,
    // so whatever the interleaving, every appended row must survive.
    import org.apache.spark.sql.functions._
    val root = newTable()
    def append(idx: Int, lo: Int, n: Int): Unit = {
      val df = spark.range(lo, lo + n).select(
        col("id").cast("string").as("foo"), col("id").cast("int").as("bar"))
      TableIO.commit(root, "ns", "t", Seq(TableIO.writeExactFile(spark, root,
        "ns", "t", s"data/app-$idx.parquet", df, "data",
        TableIO.nextSeq(root, "ns", "t"), recordCount = n)))
    }
    append(0, 0, 50); append(1, 50, 50)
    val appender = new Thread(() => (2 until 7).foreach { i =>
      append(i, i * 50, 50); Thread.sleep(20)
    })
    appender.start()
    try {
      // retry on CAS failure exactly as a production maintenance job
      // would; every attempt that loses the race must leave the table
      // byte-identical (its staged files are never referenced)
      var done = false; var tries = 0
      while (!done && tries < 25) {
        tries += 1
        try { Maintenance.compact(spark, root, "ns", "t"); done = true }
        catch { case _: java.util.ConcurrentModificationException => }
      }
      assert(done, "compact never won the CAS in 25 tries")
    } finally appender.join()
    val rows = Mor.read(spark, root, "ns", "t")
    assert(rows.count() == 350L)
    assert(rows.agg(sum(col("bar"))).head().getLong(0) == (0L until 350L).sum)
  }

  test("expiry never removes a snapshot a ref pins") {
    val root = Files.createTempDirectory("graft-expire-").toString
    val cfg = GenConfig("ns", "t", FileConfig(50, 4),
      FileConfig(50, 1), FileConfig(50, 1))
    Pipeline.prepare(spark, root, cfg) // v1 data, v2 pos, v3 eq
    TableIO.setRef(root, "ns", "t", "audit", "tag", 1L)
    val removed = Maintenance.expireSnapshots(root, "ns", "t", 3L)
    // v2's manifest is gone (time travel below the horizon)...
    assert(TableIO.readManifestAt(root, "ns", "t", 2L).isEmpty)
    // ...but the tagged v1 still reads in full, every file intact
    assert(Mor.readRef(spark, root, "ns", "t", "audit").count() == 200L)
    // and nothing the tag references was deleted
    val tagged = TableIO.readManifestAt(root, "ns", "t", 1L).map(_.path).toSet
    assert(removed.toSet.intersect(tagged).isEmpty)
  }

  test("deleteWhere never erases a concurrent append (CAS on its version)") {
    // deleteWhere plans its replacing manifest from version v; an append
    // landing while it scans and writes must either survive in the
    // published manifest or make deleteWhere throw
    // ConcurrentModificationException — never vanish.
    import org.apache.spark.sql.functions._
    val root = newTable()
    def append(name: String, lo: Int, n: Int): Unit = {
      val df = spark.range(lo, lo + n).select(
        col("id").cast("string").as("foo"), col("id").cast("int").as("bar"))
      TableIO.commit(root, "ns", "t", Seq(TableIO.writeExactFile(spark, root,
        "ns", "t", s"data/$name.parquet", df, "data",
        TableIO.nextSeq(root, "ns", "t"), recordCount = n,
        bounds = Map("bar" -> (lo.toLong, (lo + n - 1).toLong)))))
    }
    (0 until 4).foreach(i => append(s"base-$i", i * 50, 50))
    val appended = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    @volatile var stop = false
    val appender = new Thread(() => {
      var i = 0
      while (!stop) {
        append(s"app-$i", 10000 + i * 10, 10); appended.add(s"data/app-$i.parquet")
        i += 1; Thread.sleep(5)
      }
    })
    appender.start()
    var conflicts = 0
    try (0 until 12).foreach { i =>
      // boundary ranges inside the base files: each writes pos deletes
      try Dml.deleteWhere(spark, root, "ns", "t", "bar", i * 15L + 1, i * 15L + 3)
      catch { case _: java.util.ConcurrentModificationException => conflicts += 1 }
    } finally { stop = true; appender.join() }
    val live = TableIO.readManifest(root, "ns", "t").map(_.path).toSet
    val lost = appended.toArray.toSeq.map(_.toString).filterNot(live)
    assert(lost.isEmpty, s"${lost.size} of ${appended.size} appends lost " +
      s"($conflicts deleteWhere conflicts)")
    assert(Mor.read(spark, root, "ns", "t").filter(col("bar") >= 10000)
      .count() == appended.size * 10L)
    // a call that lost its CAS leaves no delete file behind
    val named = (0L to TableIO.currentVersion(root, "ns", "t"))
      .flatMap(TableIO.readManifestAt(root, "ns", "t", _)).map(_.path).toSet
    val dir = TableIO.tableDir(root, "ns", "t")
    val orphans = Files.list(dir.resolve("deletes")).toArray.toSeq
      .map(p => dir.relativize(p.asInstanceOf[java.nio.file.Path]).toString)
      .filterNot(named)
    assert(orphans.isEmpty, s"unreferenced delete files: $orphans")
  }

  test("a zero-match deleteWhere after a rollback keeps the rolled-back " +
      "version readable") {
    // After a rollback the next deleteWhere plans the sequence number of
    // the commit rolled back; its delete file must not take that commit's
    // file name, or writing and dropping it would break time travel.
    import org.apache.spark.sql.functions._
    val root = newTable()
    // even bar values only: [5, 5] lies inside the file's bounds and
    // matches nothing
    val df = spark.range(0, 50).select(
      col("id").cast("string").as("foo"), (col("id") * 2).cast("int").as("bar"))
    TableIO.commit(root, "ns", "t", Seq(TableIO.writeExactFile(spark, root,
      "ns", "t", "data/base.parquet", df, "data", 1L, recordCount = 50,
      bounds = Map("bar" -> (0L, 98L)))))
    val v0 = TableIO.currentVersion(root, "ns", "t")
    val v1 = Dml.deleteWhere(spark, root, "ns", "t", "bar", 10, 14)
    assert(v1 == v0 + 1)
    def bars(d: org.apache.spark.sql.DataFrame): Seq[Int] =
      d.select("bar").collect().map(_.getInt(0)).toSeq.sorted
    val atV1 = (0 until 100 by 2).filterNot(b => b >= 10 && b <= 14)
    assert(bars(Mor.readAt(spark, root, "ns", "t", v1)) == atV1)
    TableIO.rollback(root, "ns", "t", v0)
    assert(TableIO.nextSeq(root, "ns", "t") ==
      TableIO.readManifestAt(root, "ns", "t", v1).map(_.seq).max)
    val v3 = Dml.deleteWhere(spark, root, "ns", "t", "bar", 5, 5)
    assert(v3 == TableIO.currentVersion(root, "ns", "t"))
    assert(bars(Mor.readAt(spark, root, "ns", "t", v1)) == atV1)
    assert(bars(Mor.read(spark, root, "ns", "t")) == (0 until 100 by 2))
  }

  test("a MOR read sees one snapshot while upserts of its key land") {
    // Each upsert commits an eq delete of key 7 and its new row at one
    // sequence. A read that took its data files from version N and its
    // deletes from N+1 would drop both the old and the new row.
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("graft-snapiso-").toString
    Pipeline.prepareBulkData(spark, root, GenConfig("ns", "t",
      FileConfig(50, 2), FileConfig(0, 0), FileConfig(0, 0)))
    val row = spark.createDataFrame(java.util.List.of(
      org.apache.spark.sql.Row("7", 7, false)),
      graft.sources.FixSchemaGen.dataSchema)
    @volatile var done = false
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val upserter = new Thread(() => {
      try (1 to 50).foreach(_ =>
        Upsert.upsert(spark, root, "ns", "t", row, Seq("bar")))
      catch { case t: Throwable => errs.add(t) }
      finally done = true
    })
    upserter.start()
    val counts = scala.collection.mutable.ArrayBuffer.empty[Long]
    try while (!done)
      counts += Mor.read(spark, root, "ns", "t").filter(col("bar") === 7).count()
    finally upserter.join()
    assert(errs.isEmpty, errs.toString)
    val bad = counts.count(_ != 1L)
    assert(counts.nonEmpty && bad == 0,
      s"$bad of ${counts.size} reads saw key 7 ${counts.filter(_ != 1L).distinct} times")
    assert(Mor.read(spark, root, "ns", "t").filter(col("bar") === 7).count() == 1L)
  }
}
