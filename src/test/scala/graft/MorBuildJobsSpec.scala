package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.LeftAnti
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.plans.{Mor, Pipeline, TableIO}
import graft.sources.{FileConfig, GenConfig}

/** Building a MOR read runs no Spark job: every file list, schema and
  * equality-identifier set comes from one manifest snapshot, so the
  * first job is the caller's action. Each build runs under a job group
  * and the status tracker must report no job for it; the rows must
  * equal a reference anti-join computed from the raw files, on the
  * broadcast path and with broadcasting off. The action itself is
  * budgeted too: with small delete groups one broadcast job per group,
  * then the scan, and no shuffle. */
class MorBuildJobsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val Files0 = 200
  private val Rpf = 10

  /** `body`'s result and the ids of the jobs it ran on this thread. */
  private def jobsOf[T](body: => T): (T, Seq[Int]) = {
    val sc = spark.sparkContext
    val group = s"mor-build-${java.util.UUID.randomUUID()}"
    sc.setJobGroup(group, "MOR build")
    try {
      val r = body
      org.apache.spark.ListenerBusDrain.drain(sc)
      (r, sc.statusTracker.getJobIdsForGroup(group).toSeq)
    } finally sc.clearJobGroup()
  }

  private def zeroJobs(what: String)(build: => DataFrame): DataFrame = {
    val (df, jobs) = jobsOf(build)
    assert(jobs.isEmpty, s"$what ran ${jobs.size} Spark job(s) before the action")
    df
  }

  private def rows(df: DataFrame): Seq[(String, Int, Boolean)] =
    tuples(df.select("foo", "bar", "baz").collect())

  private def tuples(rs: Array[Row]): Seq[(String, Int, Boolean)] =
    rs.toSeq.map(r => (r.getAs[String]("foo"), r.getAs[Number]("bar").intValue,
      r.getAs[Boolean]("baz"))).sorted

  /** The merged view at `version` computed by hand: every data row minus
    * the rows a position delete names (data_seq <= delete_seq) minus the
    * rows whose key an equality delete holds (data_seq < delete_seq). */
  private val references =
    scala.collection.mutable.Map.empty[(String, Long), Seq[(String, Int, Boolean)]]
  private def reference(root: String, version: Long): Seq[(String, Int, Boolean)] =
    references.getOrElseUpdate((root, version), referenceOf(root, version))

  private def referenceOf(root: String, version: Long): Seq[(String, Int, Boolean)] = {
    val m = TableIO.readManifestAt(root, "ns", "t", version)
    val dir = TableIO.tableDir(root, "ns", "t")
    def read(content: String): Seq[(Row, Long)] = {
      val es = m.filter(_.content == content)
      if (es.isEmpty) Nil
      else {
        val seq = es.map(e => e.path.split('/').last -> e.seq).toMap
        spark.read.parquet(es.map(e => dir.resolve(e.path).toString): _*)
          .select(col("*"), col("_metadata.file_name").as("_fn"),
            col("_metadata.row_index").as("_ri"))
          .collect().toSeq.map(r => (r, seq(r.getAs[String]("_fn"))))
      }
    }
    val pos = read("pos_delete").map { case (r, s) =>
      (r.getAs[String]("file_path"), r.getAs[Long]("pos"), s) }
    val eq = read("eq_delete").map { case (r, s) =>
      (r.getAs[Number]("bar").intValue, s) }
    read("data").filterNot { case (r, s) =>
      val file = "data/" + r.getAs[String]("_fn")
      pos.exists { case (f, p, ds) => f == file && p == r.getAs[Long]("_ri") && s <= ds } ||
        eq.exists { case (k, ds) => k == r.getAs[Number]("bar").intValue && s < ds }
    }.map { case (r, _) =>
      (r.getAs[String]("foo"), r.getAs[Number]("bar").intValue, r.getAs[Boolean]("baz"))
    }.sorted
  }

  private def commitEqDelete(root: String, key: Int): Long = {
    val seq = TableIO.nextSeq(root, "ns", "t")
    val keys = spark.range(key, key + 1L).select(col("id").cast("int").as("bar"))
    TableIO.commit(root, "ns", "t", Seq(TableIO.writeExactFile(spark, root,
      "ns", "t", f"deletes/eq-$key%05d.parquet", keys, "eq_delete", seq)))
  }

  /** Every build path over the current snapshot: zero jobs each, rows
    * equal to the reference; the changelog over (from, current] equals
    * the reference views' differences. */
  private def checkBuilds(root: String, from: Long, label: String): Unit = {
    val v = TableIO.currentVersion(root, "ns", "t")
    val expect = reference(root, v)
    assert(rows(zeroJobs(s"$label read")(Mor.read(spark, root, "ns", "t"))) == expect)
    assert(rows(zeroJobs(s"$label anti-join read")(Mor.read(spark, root, "ns", "t",
      bitmapThreshold = 0L))) == expect)
    val pruned = zeroJobs(s"$label pruned read")(Mor.read(spark, root, "ns", "t")
      .filter(col("bar").between(0, 499)))
    assert(rows(pruned) == expect.filter(_._2 <= 499))
    assert(rows(zeroJobs(s"$label readAt")(Mor.readAt(spark, root, "ns", "t", from))) ==
      reference(root, from))
    val lineage = zeroJobs(s"$label readLineage")(Mor.readLineage(spark, root, "ns", "t"))
    assert(rows(lineage) == expect)
    assert(lineage.filter(col("_row_id").isNull).count() == 0L)
    val changes = zeroJobs(s"$label readChanges")(
      Mor.readChanges(spark, root, "ns", "t", from, v))
    val expectChanges = ((from + 1) to v).flatMap { w =>
      val (before, after) = (reference(root, w - 1), reference(root, w))
      before.diff(after).map((_, "delete", w.toInt)) ++
        after.diff(before).map((_, "insert", w.toInt))
    }.sorted
    val gotChanges = changes.collect().toSeq.map(r =>
      ((r.getAs[String]("foo"), r.getAs[Number]("bar").intValue,
        r.getAs[Boolean]("baz")), r.getAs[String]("_change_type"),
        r.getAs[Int]("_change_version"))).sorted
    assert(gotChanges == expectChanges, s"$label changelog")
  }

  /** [[checkBuilds]] on the default (broadcast) route, then with
    * broadcasting off: deletion vectors, the shuffled anti-join and
    * `shuffle_hash` equality joins. */
  private def checkRoutes(root: String, from: Long, label: String): Unit = {
    checkBuilds(root, from, label)
    NoBroadcast(spark)(checkBuilds(root, from, s"$label, no broadcast"))
  }

  test("the job-group probe sees a job when one runs") {
    val (_, jobs) = jobsOf(spark.range(10).count())
    assert(jobs.nonEmpty)
  }

  test("building Mor.read/readAt/readLineage/readChanges over 200 files " +
    "runs no Spark job with 0, 1 and 50 equality-delete files") {
    val root = Files.createTempDirectory("graft-morjobs-").toString
    Pipeline.prepareBulkData(spark, root, GenConfig("ns", "t",
      FileConfig(Rpf, Files0), FileConfig(0, 0), FileConfig(0, 0)))
    // position deletes: row 0 and row 3 of every 7th file
    val posSeq = TableIO.nextSeq(root, "ns", "t")
    val posRows = spark.range(0, Files0, 7).select(
      format_string("data/part-%05d.parquet", col("id").cast("int")).as("file_path"),
      explode(array(lit(0L), lit(3L))).as("pos")).orderBy("file_path", "pos")
    TableIO.commit(root, "ns", "t", Seq(TableIO.writeExactFile(spark, root,
      "ns", "t", "deletes/pos-0.parquet", posRows, "pos_delete", posSeq)))
    checkRoutes(root, 1L, "0 eq-delete files")

    // one eq delete, then a re-insert of its key at a higher sequence
    val v1 = TableIO.currentVersion(root, "ns", "t")
    commitEqDelete(root, 15)
    val reins = spark.range(15, 16).select(col("id").cast("string").as("foo"),
      col("id").cast("int").as("bar"), lit(false).as("baz"))
    TableIO.commit(root, "ns", "t", Seq(TableIO.writeExactFile(spark, root,
      "ns", "t", "data/reinsert-15.parquet", reins, "data",
      TableIO.nextSeq(root, "ns", "t"))))
    checkRoutes(root, v1, "1 eq-delete file")
    assert(TableIO.readManifest(root, "ns", "t")
      .filter(_.content == "eq_delete").forall(_.equalityIds == Seq(2L)))

    val v2 = TableIO.currentVersion(root, "ns", "t")
    (1 until 50).foreach(i => commitEqDelete(root, 15 + 37 * i))
    checkRoutes(root, v2, "50 eq-delete files")
  }

  test("a read with small delete groups runs one broadcast job per group, " +
    "then the scan, and no shuffle; a delete-free read runs one job") {
    val root = Files.createTempDirectory("graft-morbudget-").toString
    Pipeline.prepareBulkData(spark, root, GenConfig("ns", "t",
      FileConfig(Rpf, 20), FileConfig(0, 0), FileConfig(0, 0)))
    def budget(label: String, groups: Int): Unit = {
      val df = zeroJobs(s"$label build")(Mor.read(spark, root, "ns", "t"))
      val (got, jobs) = jobsOf(df.collect())
      assert(tuples(got) == reference(root, TableIO.currentVersion(root, "ns", "t")),
        label)
      assert(jobs.size <= groups + 1,
        s"$label: ${jobs.size} jobs for $groups delete group(s)")
      val plan = df.queryExecution.executedPlan
      assert(PlanNodes.collect(plan) { case e: ShuffleExchangeExec => e }.isEmpty,
        s"$label shuffles:\n$plan")
      assert(PlanNodes.collect(plan) {
        case j: BroadcastHashJoinExec if j.joinType == LeftAnti => j
      }.size == groups, s"$label:\n$plan")
    }
    budget("no deletes", 0)
    val posRows = spark.range(0, 20, 3).select(
      format_string("data/part-%05d.parquet", col("id").cast("int")).as("file_path"),
      lit(4L).as("pos"))
    TableIO.commit(root, "ns", "t", Seq(TableIO.writeExactFile(spark, root,
      "ns", "t", "deletes/pos-0.parquet", posRows, "pos_delete",
      TableIO.nextSeq(root, "ns", "t"))))
    budget("position deletes", 1)
    Seq(8, 52, 133).foreach(commitEqDelete(root, _))
    budget("position and equality deletes", 2)
  }

  test("a manifest line without equality_ids is refused, naming its manifest") {
    val root = Files.createTempDirectory("graft-morlegacy-").toString
    Pipeline.prepareBulkData(spark, root, GenConfig("ns", "t",
      FileConfig(Rpf, 20), FileConfig(0, 0), FileConfig(0, 0)))
    Seq(3, 44, 105).foreach(commitEqDelete(root, _))
    val v = TableIO.currentVersion(root, "ns", "t")
    val mdir = TableIO.tableDir(root, "ns", "t").resolve("manifest")
    val current = Files.readString(mdir.resolve(s"v$v.json"))
    assert(current.contains("\"equality_ids\":[2]"))
    // the same entries with their identifier ids stripped by hand
    Files.writeString(mdir.resolve(s"v${v + 1}.json"),
      current.replace(",\"equality_ids\":[2]", ""))
    Seq[(String, () => Any)](
      "readManifest" -> (() => TableIO.readManifest(root, "ns", "t")),
      "read" -> (() => Mor.read(spark, root, "ns", "t"))).foreach {
      case (label, f) =>
        val err = intercept[IllegalStateException](f())
        assert(err.getMessage.contains(s"manifest/v${v + 1}.json") &&
          err.getMessage.contains("bad manifest line"), s"$label: $err")
    }
  }

  /** The table-relative data files the scans of `df`'s plan read. */
  private def scannedDataFiles(df: DataFrame): Set[String] =
    df.queryExecution.optimizedPlan.collect { case l: LogicalRelation =>
      l.relation match {
        case r: HadoopFsRelation => r.location.inputFiles.toSeq
        case _ => Nil
      }
    }.flatten.map(_.split('/').takeRight(2).mkString("/"))
      .filter(_.startsWith("data/")).toSet

  test("a pos-only commit's changelog scans only the data files its deletes name") {
    val root = Files.createTempDirectory("graft-morposnamed-").toString
    Pipeline.prepareBulkData(spark, root, GenConfig("ns", "t",
      FileConfig(Rpf, Files0), FileConfig(0, 0), FileConfig(0, 0)))
    val from = TableIO.currentVersion(root, "ns", "t")
    // two files far apart in path order: a range over the named paths
    // would span 188 files
    val named = Seq(3, 190).map(i => f"data/part-$i%05d.parquet")
    val posRows = spark.range(0, 4).select(
      when(col("id") < 2, lit(named(0))).otherwise(lit(named(1))).as("file_path"),
      (col("id") % 2 * 5).as("pos"))
    TableIO.commit(root, "ns", "t", Seq(TableIO.writeExactFile(spark, root,
      "ns", "t", "deletes/pos-named.parquet", posRows, "pos_delete",
      TableIO.nextSeq(root, "ns", "t"))))
    val v = TableIO.currentVersion(root, "ns", "t")
    assert(TableIO.readManifest(root, "ns", "t").filter(_.content == "pos_delete")
      .map(_.referencedFiles) == Seq(named))
    val expect = reference(root, from).diff(reference(root, v))
    assert(expect.size == 4)
    def check(label: String): Unit = {
      val changes = zeroJobs(s"$label readChanges")(
        Mor.readChanges(spark, root, "ns", "t", from, v))
      assert(scannedDataFiles(changes) == named.toSet, label)
      assert(rows(changes.filter(col("_change_type") === "delete")) == expect, label)
      assert(changes.count() == 4L, label)
    }
    check("recorded")
    // the same entry with its named files stripped by hand is refused
    val mfile = TableIO.tableDir(root, "ns", "t").resolve(s"manifest/v$v.json")
    val current = Files.readString(mfile)
    val recorded = named.map(p => s"\"$p\"").mkString(",\"referenced_data_files\":[", ",", "]")
    assert(current.contains(recorded))
    Files.writeString(mfile, current.replace(recorded, ""))
    val err = intercept[IllegalStateException](
      Mor.readChanges(spark, root, "ns", "t", from, v))
    assert(err.getMessage.contains(s"manifest/v$v.json") &&
      err.getMessage.contains("bad manifest line"), err.toString)
  }

  test("widening an identifier column keeps its live equality deletes") {
    val root = Files.createTempDirectory("graft-morwiden-").toString
    Pipeline.prepareBulkData(spark, root, GenConfig("ns", "t",
      FileConfig(Rpf, 20), FileConfig(0, 0), FileConfig(0, 0)))
    Seq(7, 70, 170).foreach(commitEqDelete(root, _))
    val before = reference(root, TableIO.currentVersion(root, "ns", "t"))
    TableIO.widenColumn(root, "ns", "t", "bar", LongType)
    val df = zeroJobs("read after widening")(Mor.read(spark, root, "ns", "t"))
    assert(df.schema("bar").dataType == LongType)
    assert(rows(df) == before)
    assert(df.filter(col("bar").isin(7L, 70L, 170L)).count() == 0L)
  }
}
