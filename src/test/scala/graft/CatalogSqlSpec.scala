package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.plans.{Maintenance, Pipeline, TableIO}
import graft.sources.{FileConfig, GenConfig}

/** The SQL front door: DDL/DML/queries against the governed tables
  * through the DataSourceV2 catalog plugin.
  */
class CatalogSqlSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private lazy val root: String = {
    val r = Files.createTempDirectory("graft-sqlcat-").toString
    spark.conf.set("spark.sql.catalog.g", "graft.plans.GraftCatalog")
    spark.conf.set("spark.sql.catalog.g.root", r)
    r
  }

  test("CREATE / INSERT / SELECT / SHOW / DROP round-trip") {
    root
    spark.sql("CREATE NAMESPACE IF NOT EXISTS g.sqlns")
    spark.sql("CREATE TABLE g.sqlns.t (foo STRING, bar INT, baz BOOLEAN)")
    spark.sql(
      """INSERT INTO g.sqlns.t
        |SELECT CAST(id AS STRING), CAST(id AS INT), true
        |FROM range(0, 100)""".stripMargin)
    // each INSERT is one snapshot commit
    spark.sql(
      """INSERT INTO g.sqlns.t
        |SELECT CAST(id AS STRING), CAST(id AS INT), false
        |FROM range(100, 150)""".stripMargin)
    assert(TableIO.currentVersion(root, "sqlns", "t") == 2L)
    val got = spark.sql(
      "SELECT count(*) AS n, sum(bar) AS s FROM g.sqlns.t").head()
    assert(got.getLong(0) == 150L && got.getLong(1) == (0 until 150).sum)
    // pushed filters prune + evaluate correctly
    assert(spark.sql(
      "SELECT count(*) FROM g.sqlns.t WHERE bar >= 100").head().getLong(0) == 50L)
    val tables = spark.sql("SHOW TABLES IN g.sqlns")
      .collect().map(_.getString(1))
    assert(tables.contains("t"))
    // INSERT OVERWRITE publishes a replacing snapshot
    spark.sql(
      """INSERT OVERWRITE g.sqlns.t
        |SELECT CAST(id AS STRING), CAST(id AS INT), true
        |FROM range(0, 10)""".stripMargin)
    assert(spark.sql("SELECT count(*) FROM g.sqlns.t").head().getLong(0) == 10L)
    // the SQL-written table is a normal governed table underneath
    assert(graft.plans.Mor.read(spark, root, "sqlns", "t").count() == 10L)
    spark.sql("DROP TABLE g.sqlns.t")
    assert(!TableIO.tableExists(root, "sqlns", "t"))
  }

  test("DELETE FROM and TRUNCATE TABLE route to the metadata DML") {
    root
    spark.sql("CREATE NAMESPACE IF NOT EXISTS g.dmlns")
    spark.sql("CREATE TABLE g.dmlns.t (foo STRING, bar INT, baz BOOLEAN)")
    spark.sql(
      """INSERT INTO g.dmlns.t
        |SELECT CAST(id AS STRING), CAST(id AS INT), true
        |FROM range(0, 100)""".stripMargin)
    spark.sql("DELETE FROM g.dmlns.t WHERE bar >= 20 AND bar < 40")
    assert(spark.sql("SELECT count(*) FROM g.dmlns.t").head().getLong(0) == 80L)
    assert(spark.sql("SELECT count(*) FROM g.dmlns.t WHERE bar < 40")
      .head().getLong(0) == 20L)
    spark.sql("TRUNCATE TABLE g.dmlns.t")
    assert(spark.sql("SELECT count(*) FROM g.dmlns.t").head().getLong(0) == 0L)
    // truncate is a snapshot like any other: history stays readable
    assert(graft.plans.Mor.readAt(spark, root, "dmlns", "t", 1L).count() == 100L)
  }

  test("MERGE INTO / UPDATE / predicate DELETE execute merge-on-read") {
    root
    spark.sql("CREATE NAMESPACE IF NOT EXISTS g.rlns")
    spark.sql("CREATE TABLE g.rlns.t (foo STRING, bar INT, baz BOOLEAN)")
    spark.sql(
      """INSERT INTO g.rlns.t
        |SELECT CAST(id AS STRING), CAST(id AS INT), true
        |FROM range(0, 100)""".stripMargin)
    // all three WHEN branches in one statement
    spark.sql(
      """MERGE INTO g.rlns.t t
        |USING (SELECT id FROM range(50, 120)) s
        |ON t.bar = s.id
        |WHEN MATCHED AND s.id % 10 = 0 THEN DELETE
        |WHEN MATCHED THEN UPDATE SET baz = false
        |WHEN NOT MATCHED THEN INSERT (foo, bar, baz)
        |  VALUES (concat('m', CAST(s.id AS STRING)), CAST(s.id AS INT), true)
        |""".stripMargin)
    // 0..49 untouched (50), 50..99 updated minus the 5 deleted tens
    // (45, baz=false), 100..119 inserted as 'm<id>' (20)
    val agg = spark.sql(
      """SELECT count(*),
        |  sum(CASE WHEN baz THEN 0 ELSE 1 END),
        |  sum(CASE WHEN foo LIKE 'm%' THEN 1 ELSE 0 END)
        |FROM g.rlns.t""".stripMargin).head()
    assert(agg.getLong(0) == 115L && agg.getLong(1) == 45L &&
      agg.getLong(2) == 20L)
    // merge-on-read, not copy-on-write: the statement committed exactly
    // one pos-delete file + one data file; the original file survives
    val added = TableIO.readManifest(root, "rlns", "t").filter(_.seq == 2L)
    assert(added.map(_.content).sorted == Seq("data", "pos_delete"))
    // UPDATE with an arbitrary predicate and expression assignment
    spark.sql(
      "UPDATE g.rlns.t SET foo = concat('u', foo) WHERE bar % 7 = 3 AND baz")
    assert(spark.sql(
      "SELECT count(*) FROM g.rlns.t WHERE foo LIKE 'u%'")
      .head().getLong(0) == 10L) // {3,10,..,45} (7) + {101,108,115} (3)
    // non-range DELETE routes through the row-level path (the range
    // metadata path cannot express a LIKE)
    spark.sql("DELETE FROM g.rlns.t WHERE foo LIKE 'm11%'")
    assert(spark.sql("SELECT count(*) FROM g.rlns.t").head().getLong(0) ==
      106L) // 115 - {m110..m119 minus the updated um115} = 115 - 9
    // SQL MERGE cardinality rule: two source rows hitting one target row
    intercept[Exception] {
      spark.sql(
        """MERGE INTO g.rlns.t t
          |USING (SELECT 5 AS id UNION ALL SELECT 5 AS id) s
          |ON t.bar = s.id
          |WHEN MATCHED THEN UPDATE SET baz = false""".stripMargin)
    }
  }

  test("concurrent SQL INSERTs all land through the commit CAS") {
    root
    spark.sql("CREATE NAMESPACE IF NOT EXISTS g.racens")
    spark.sql("CREATE TABLE g.racens.t (foo STRING, bar INT, baz BOOLEAN)")
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val ts = (0 until 4).map { t =>
      new Thread(() => {
        try (0 until 3).foreach { i =>
          spark.sql(
            s"""INSERT INTO g.racens.t
               |SELECT CAST(id AS STRING), CAST(id AS INT), true
               |FROM range(${(t * 3 + i) * 10}, ${(t * 3 + i) * 10 + 10})"""
              .stripMargin)
        } catch { case e: Throwable => errs.add(e) }
      })
    }
    ts.foreach(_.start()); ts.foreach(_.join())
    assert(errs.isEmpty, s"INSERT threw: ${errs.peek()}")
    // 12 INSERTs -> 12 snapshots, every row exactly once
    assert(TableIO.currentVersion(root, "racens", "t") == 12L)
    val r = spark.sql(
      "SELECT count(*), count(DISTINCT bar), sum(bar) FROM g.racens.t").head()
    assert(r.getLong(0) == 120L && r.getLong(1) == 120L &&
      r.getLong(2) == (0 until 120).sum)
  }

  test("an UPDATE racing a compaction fails instead of keeping both rows") {
    root
    spark.sql("CREATE NAMESPACE IF NOT EXISTS g.uracens")
    spark.sql("CREATE TABLE g.uracens.t (foo STRING, bar INT, baz BOOLEAN)")
    Seq(0, 50).foreach(lo => spark.sql(
      s"""INSERT INTO g.uracens.t
         |SELECT CAST(id AS STRING), CAST(id AS INT), true
         |FROM range($lo, ${lo + 50})""".stripMargin))
    spark.udf.register("update_race_gate", (bar: Int) => UpdateRaceGate.pass(bar))
    var outcome: scala.util.Try[Unit] = null
    val update = new Thread(() => outcome = scala.util.Try(spark.sql(
      "UPDATE g.uracens.t SET foo = 'u' WHERE update_race_gate(bar)")))
    update.start()
    // the UPDATE has planned and is scanning: rewrite its files now
    assert(UpdateRaceGate.reached.await(120, java.util.concurrent.TimeUnit.SECONDS))
    Maintenance.compact(spark, root, "uracens", "t", targetFileCount = 1)
    UpdateRaceGate.release.countDown()
    update.join()
    val lost = Iterator.iterate(outcome.failed.toOption.orNull)(_.getCause)
      .takeWhile(_ != null)
      .exists(_.isInstanceOf[java.util.ConcurrentModificationException])
    assert(lost, s"UPDATE outcome: $outcome")
    val r = spark.sql("SELECT count(*), count(DISTINCT bar), " +
      "sum(CASE WHEN foo = 'u' THEN 1 ELSE 0 END) FROM g.uracens.t").head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((100L, 100L, 0L)))
    // the losing statement's files are gone again
    val dir = TableIO.tableDir(root, "uracens", "t")
    assert(Seq("data", "deletes").flatMap(d => Option(dir.resolve(d).toFile.list())
      .toSeq.flatten).forall(!_.startsWith("sqlrl")))
  }

  test("SQL reads apply MOR deletes on tables with delete files") {
    root
    val cfg = GenConfig("mor_ns", "t", FileConfig(50, 4),
      FileConfig(50, 1), FileConfig(50, 1))
    Pipeline.prepare(spark, root, cfg) // 200 data - 50 pos - 50 eq = 100
    val n = spark.sql("SELECT count(*) FROM g.mor_ns.t").head().getLong(0)
    assert(n == 100L)
    // the delete boundary is exact: survivors are bar in [100, 200)
    val mm = spark.sql(
      "SELECT min(bar), max(bar) FROM g.mor_ns.t").head()
    assert(mm.getInt(0) == 100 && mm.getInt(1) == 199)
  }

  test("VERSION AS OF time-travels through SQL, by version and by ref") {
    root // (relies on the mor_ns.t table built by the previous test)
    val cfg = GenConfig("tt_ns", "t", FileConfig(50, 4),
      FileConfig(50, 1), FileConfig(50, 1))
    Pipeline.prepare(spark, root, cfg)
    TableIO.setRef(root, "tt_ns", "t", "after_data", "tag", 1L)
    def n(q: String) = spark.sql(q).head().getLong(0)
    assert(n("SELECT count(*) FROM g.tt_ns.t VERSION AS OF 1") == 200L)
    assert(n("SELECT count(*) FROM g.tt_ns.t VERSION AS OF 2") == 150L)
    assert(n("SELECT count(*) FROM g.tt_ns.t VERSION AS OF 3") == 100L)
    assert(n("SELECT count(*) FROM g.tt_ns.t VERSION AS OF 'after_data'") == 200L)
    intercept[Exception] {
      spark.sql("INSERT INTO g.tt_ns.t VERSION AS OF 1 VALUES ('x', 1, true)")
    }
  }

  test("ALTER TABLE add/rename/drop column evolves schema through SQL") {
    root
    spark.sql("CREATE NAMESPACE IF NOT EXISTS g.ddlns")
    spark.sql("CREATE TABLE g.ddlns.t (foo STRING, bar INT, baz BOOLEAN)")
    spark.sql(
      """INSERT INTO g.ddlns.t
        |SELECT CAST(id AS STRING), CAST(id AS INT), true FROM range(0, 10)""".stripMargin)
    spark.sql("ALTER TABLE g.ddlns.t ADD COLUMN qux BIGINT")
    // old files fill the new column with null (schema-on-read)
    assert(spark.sql("SELECT count(*) FROM g.ddlns.t WHERE qux IS NULL")
      .head().getLong(0) == 10L)
    spark.sql(
      """INSERT INTO g.ddlns.t
        |SELECT CAST(id AS STRING), CAST(id AS INT), false, id * 2
        |FROM range(10, 20)""".stripMargin)
    assert(spark.sql("SELECT sum(qux) FROM g.ddlns.t").head().getLong(0) ==
      (10 until 20).map(_ * 2).sum)
    spark.sql("ALTER TABLE g.ddlns.t RENAME COLUMN foo TO label")
    // values written under the old name survive the rename (field ids)
    assert(spark.sql("SELECT count(*) FROM g.ddlns.t WHERE label = '5'")
      .head().getLong(0) == 1L)
    spark.sql("ALTER TABLE g.ddlns.t DROP COLUMN baz")
    assert(!spark.table("g.ddlns.t").columns.contains("baz"))
  }

  test("COUNT/MIN/MAX answered from metadata through SQL — no file scan") {
    root
    spark.sql("CREATE NAMESPACE IF NOT EXISTS g.aggp")
    spark.sql("CREATE TABLE g.aggp.t (k STRING, v INT)")
    spark.sql(
      """INSERT INTO g.aggp.t
        |SELECT CAST(id AS STRING), CAST(id AS INT) FROM range(0, 1000)""".stripMargin)
    spark.sql(
      """INSERT INTO g.aggp.t
        |SELECT CAST(id AS STRING), CAST(id AS INT)
        |FROM range(1000, 2000)""".stripMargin)
    // destroy the physical files: only a metadata-only answer can
    // succeed from here (the IvmMetaSpec no-scan proof)
    TableIO.filesOf(root, "aggp", "t", "data").foreach(f =>
      Files.delete(java.nio.file.Paths.get(f._1)))
    val row = spark.sql(
      "SELECT count(*), min(v), max(v) FROM g.aggp.t").head()
    assert(row.getLong(0) == 2000L)
    assert(row.getInt(1) == 0 && row.getInt(2) == 1999)
    // a residual filter disables the pushdown — the ordinary scan runs
    // and fails on the missing files where metadata would say 1989:
    // proof the two paths are distinct
    val ex = intercept[Exception](
      spark.sql("SELECT count(*) FROM g.aggp.t WHERE v > 10").head())
    assert(Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[java.io.FileNotFoundException]), ex)
  }

  test("PARTITIONED BY bucket DDL routes INSERTs through the partitioned writer") {
    root
    spark.sql("CREATE NAMESPACE IF NOT EXISTS g.pddl")
    spark.sql(
      "CREATE TABLE g.pddl.t (k BIGINT, v STRING) PARTITIONED BY (bucket(4, k))")
    spark.sql(
      """INSERT INTO g.pddl.t
        |SELECT id, concat('v', id) FROM range(0, 400)""".stripMargin)
    // one file per bucket, each carrying its partition value in bounds
    val files = TableIO.filesOf(root, "pddl", "t", "data")
    assert(files.size == 4, s"expected 4 bucket files, got ${files.size}")
    assert(spark.sql("SELECT count(*) FROM g.pddl.t WHERE k = 123")
      .head().getLong(0) == 1L)
    assert(spark.table("g.pddl.t").count() == 400L)
    // identity + truncate transforms parse too; unsupported ones refuse
    spark.sql(
      "CREATE TABLE g.pddl.ti (d BIGINT, v STRING) PARTITIONED BY (d)")
    spark.sql(
      "CREATE TABLE g.pddl.tt (d BIGINT, v STRING) PARTITIONED BY (truncate(100, d))")
    assert(graft.plans.Partitioning.readSpec(root, "pddl", "ti")
      .exists(_.transform == "identity"))
    assert(graft.plans.Partitioning.readSpec(root, "pddl", "tt")
      .exists(s => s.transform == "truncate" && s.param == 100))
    // calendar transforms parse onto the spec too
    spark.sql(
      "CREATE TABLE g.pddl.ty (ts TIMESTAMP, v STRING) PARTITIONED BY (years(ts))")
    spark.sql(
      "CREATE TABLE g.pddl.tm (ts TIMESTAMP, v STRING) PARTITIONED BY (months(ts))")
    assert(graft.plans.Partitioning.readSpec(root, "pddl", "ty")
      .exists(_.transform == "year"))
    assert(graft.plans.Partitioning.readSpec(root, "pddl", "tm")
      .exists(_.transform == "month"))
    // an unknown transform function still refuses loudly
    intercept[Exception] {
      spark.sql(
        "CREATE TABLE g.pddl.tz (ts TIMESTAMP, v STRING) PARTITIONED BY (zigzag(ts))")
    }
  }

  test("months(ts) partitioning: calendar routing and month-range pruning") {
    root
    spark.sql("CREATE NAMESPACE IF NOT EXISTS g.mddl")
    spark.sql(
      "CREATE TABLE g.mddl.ev (ts TIMESTAMP, v BIGINT) PARTITIONED BY (months(ts))")
    // 3 months of 2024 (leap year — February has 29 days), 50 rows each
    spark.sql(
      """INSERT INTO g.mddl.ev
        |SELECT timestamp_seconds(1704067200 + (id % 3) * 2678400 + (id DIV 3) * 86400), id
        |FROM range(0, 150)""".stripMargin)
    val files = TableIO.filesOf(root, "mddl", "ev", "data")
    // rows spread across jan/feb/mar boundaries by the 31-day stride;
    // what matters: every row lands in a month file and reads back
    assert(files.nonEmpty && files.size <= 4)
    assert(spark.table("g.mddl.ev").count() == 150L)
    // February 2024 prune: the ts range [Feb 1, Mar 1) opens only files
    // whose recorded ts range intersects it
    import org.apache.spark.sql.functions.{col => c, lit}
    def at(sec: Long) = lit(java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(sec)))
    val feb = graft.plans.Mor.read(spark, root, "mddl", "ev")
      .filter(c("ts").between(at(1706745600L), at(1709251199L)))
    assert(OpenedFiles.count(feb) < files.size)
    // correctness of the pruned read vs an unpruned filter
    val expected = spark.table("g.mddl.ev").collect()
      .count(r => r.getTimestamp(0).getTime / 1000L >= 1706745600L &&
        r.getTimestamp(0).getTime / 1000L <= 1709251199L)
    assert(feb.count() == expected)
  }

  test("days(ts) partitioning: one file per day, ts-range prunes files") {
    root
    spark.sql("CREATE NAMESPACE IF NOT EXISTS g.tddl")
    spark.sql(
      "CREATE TABLE g.tddl.ev (ts TIMESTAMP, v BIGINT) PARTITIONED BY (days(ts))")
    // 4 days x 100 events (hourly-ish spacing inside each day)
    spark.sql(
      """INSERT INTO g.tddl.ev
        |SELECT timestamp_seconds(86400 * (id % 4) + (id DIV 4) * 864), id
        |FROM range(0, 400)""".stripMargin)
    val files = TableIO.filesOf(root, "tddl", "ev", "data")
    assert(files.size == 4, s"expected 4 day files, got ${files.size}")
    assert(spark.table("g.tddl.ev").count() == 400L)
    // ts-range prune through the manifest bounds: day 2 only
    import org.apache.spark.sql.functions.{col => c, lit}
    def at(sec: Long) = lit(java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(sec)))
    val pruned = graft.plans.Mor.read(spark, root, "tddl", "ev")
      .filter(c("ts").between(at(2L * 86400), at(3L * 86400 - 1)))
    val scanned = OpenedFiles.count(pruned)
    assert(scanned == 1, s"expected 1 file after day prune, got $scanned")
    assert(pruned.count() == 100L)
  }

  test("manifest statistics auto-broadcast small catalog tables") {
    root
    spark.sql("CREATE NAMESPACE IF NOT EXISTS g.statns")
    spark.sql("CREATE TABLE g.statns.dim (k BIGINT, name STRING)")
    spark.sql(
      """INSERT INTO g.statns.dim
        |SELECT id, concat('n', id) FROM range(0, 100)""".stripMargin)
    val fact = spark.range(0, 100000).toDF("k")
    // no broadcast hint: the planner must pick BHJ from the reported
    // manifest statistics (without them a DSv2 relation defaults to
    // defaultSizeInBytes = huge and can never auto-broadcast)
    val j = fact.join(spark.table("g.statns.dim"), "k")
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"expected stats-driven auto-broadcast in:\n$plan")
    assert(j.count() == 100)
  }

  test("ALTER COLUMN TYPE widens int->long through SQL, old files upcast") {
    root
    spark.sql("CREATE NAMESPACE IF NOT EXISTS g.widens")
    spark.sql("CREATE TABLE g.widens.t (k STRING, v INT)")
    spark.sql(
      """INSERT INTO g.widens.t
        |SELECT CAST(id AS STRING), CAST(id AS INT) FROM range(0, 10)""".stripMargin)
    spark.sql("ALTER TABLE g.widens.t ALTER COLUMN v TYPE BIGINT")
    assert(spark.table("g.widens.t").schema("v").dataType ==
      org.apache.spark.sql.types.LongType)
    // post-promotion insert holds values unrepresentable pre-widen;
    // the one scan reads old INT32 and new INT64 files together
    spark.sql(
      """INSERT INTO g.widens.t
        |SELECT CAST(id AS STRING), id + 3000000000 FROM range(0, 5)""".stripMargin)
    assert(spark.sql("SELECT count(*) FROM g.widens.t WHERE v > 2147483647")
      .head().getLong(0) == 5L)
    assert(spark.sql("SELECT sum(v) FROM g.widens.t").head().getLong(0) ==
      (0L until 10L).sum + (0L until 5L).map(_ + 3000000000L).sum)
    // narrowing through SQL is rejected
    intercept[Exception] {
      spark.sql("ALTER TABLE g.widens.t ALTER COLUMN v TYPE INT")
    }
  }

  test("CALL procedures: bm25_search / ann_topk / dedup_fingerprint " +
      "expose the LLM operator families to SQL") {
    root
    import org.apache.spark.sql.functions._
    val docsPath = "/root/testdata/sf0.001/documents.parquet"
    val embPath = "/root/testdata/sf0.001/embeddings.parquet"
    val docs = spark.read.parquet(docsPath)
    val emb = spark.read.parquet(embPath)

    // bm25_search over a parquet path == the Scala operator
    val terms = "the and data"
    val viaSql = spark.sql(
      s"CALL g.system.bm25_search('$docsPath', '$terms', 5)")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val direct = graft.operators.Retrieval
      .bm25TopK(docs, terms.split(' ').toSeq, 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(viaSql == direct && viaSql.size == 5)

    // ann_topk == bruteTopK's (vec_id, sim) projection
    val annSql = spark.sql(s"CALL g.system.ann_topk('$embPath', 0, 7)")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val annDirect = graft.operators.Similarity.bruteTopK(emb, 0L, 7)
      .select("vec_id", "sim")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(annSql == annDirect && annSql.size == 7)

    // dedup_fingerprint returns the census head by keeper id
    val fpSql = spark.sql(
      s"CALL g.system.dedup_fingerprint('$docsPath', 10)")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    val fpDirect = graft.operators.Dedup.fingerprint(docs).limit(10)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(fpSql == fpDirect && fpSql.size == 10)

    // governed-table source: the same corpus committed through the
    // catalog resolves by 'ns.table' and scores identically
    spark.sql("CREATE NAMESPACE IF NOT EXISTS g.procsrc")
    docs.select("doc_id", "text").limit(200)
      .createOrReplaceTempView("proc_docs_src")
    spark.sql("CREATE TABLE g.procsrc.docs AS SELECT * FROM proc_docs_src")
    val govSql = spark.sql(
      s"CALL g.system.bm25_search('procsrc.docs', '$terms', 5)")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val govDirect = graft.operators.Retrieval
      .bm25TopK(spark.table("proc_docs_src"), terms.split(' ').toSeq, 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(govSql == govDirect)
  }

  test("CALL procedures: create_ref / drop_ref / rollback through SQL") {
    root
    spark.sql("CREATE NAMESPACE IF NOT EXISTS g.procns")
    spark.sql("CREATE TABLE g.procns.t (foo STRING, bar INT, baz BOOLEAN)")
    (0 until 2).foreach { i =>
      spark.sql(
        s"""INSERT INTO g.procns.t
           |SELECT CAST(id AS STRING), CAST(id AS INT), true
           |FROM range(${i * 10}, ${i * 10 + 10})""".stripMargin)
    }
    // tag v1, branch at current (-1), both readable via VERSION AS OF
    val tag = spark.sql(
      "CALL g.system.create_ref('procns.t', 'v1-release', 'tag', 1)").head()
    assert(tag.getString(0) == "v1-release" && tag.getLong(2) == 1L)
    spark.sql("CALL g.system.create_ref('procns.t', 'dev', 'branch', -1)")
    def n(q: String) = spark.sql(q).head().getLong(0)
    assert(n("SELECT count(*) FROM g.procns.t VERSION AS OF 'v1-release'") == 10L)
    assert(n("SELECT count(*) FROM g.procns.t VERSION AS OF 'dev'") == 20L)
    // tags are immutable (Iceberg rule); branches re-point freely
    intercept[Exception] {
      spark.sql("CALL g.system.create_ref('procns.t', 'v1-release', 'tag', 2)")
    }
    spark.sql("CALL g.system.create_ref('procns.t', 'dev', 'branch', 1)")
    assert(n("SELECT count(*) FROM g.procns.t VERSION AS OF 'dev'") == 10L)
    // rollback publishes a NEW snapshot equal to v1; history survives
    val rb = spark.sql("CALL g.system.rollback('procns.t', 1)").head()
    assert(rb.getLong(0) == 1L && rb.getLong(1) == 3L)
    assert(n("SELECT count(*) FROM g.procns.t") == 10L)
    assert(n("SELECT count(*) FROM g.procns.t VERSION AS OF 2") == 20L)
    spark.sql("CALL g.system.drop_ref('procns.t', 'dev')")
    val refs = spark.sql("SELECT name FROM g.procns.`t$refs`")
      .collect().map(_.getString(0)).sorted
    assert(refs.toSeq == Seq("main", "v1-release"))
  }

  test("CALL procedures: full maintenance lifecycle through SQL") {
    root
    spark.sql("CREATE NAMESPACE IF NOT EXISTS g.maintns")
    spark.sql("CREATE TABLE g.maintns.t (foo STRING, bar INT, baz BOOLEAN)")
    (0 until 3).foreach { i =>
      spark.sql(
        s"""INSERT INTO g.maintns.t
           |SELECT CAST(id AS STRING), CAST(id AS INT), true
           |FROM range(${i * 100}, ${i * 100 + 100})""".stripMargin)
    }
    spark.sql("DELETE FROM g.maintns.t WHERE bar % 3 = 1")
    def n(q: String) = spark.sql(q).head().getLong(0)
    val survivors = (0 until 300).count(_ % 3 != 1)
    assert(n("SELECT count(*) FROM g.maintns.t") == survivors)
    // fold pos-delete lists into DVs, then compact everything to 2 files
    spark.sql("CALL g.system.rewrite_position_deletes('maintns.t')")
    spark.sql("CALL g.system.rewrite_data_files('maintns.t', 2)")
    val files = spark.sql(
      "SELECT content, count(*) FROM g.maintns.`t$files` GROUP BY 1 ORDER BY 1")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(files.toSeq == Seq(("data", 2L)), s"got ${files.toSeq}")
    assert(n("SELECT count(*) FROM g.maintns.t") == survivors)
    // expiry drops pre-compaction manifests AND the files only they
    // referenced — physical data dir shrinks to the 2 live files
    val cur = TableIO.currentVersion(root, "maintns", "t")
    val deleted = spark.sql(
      s"CALL g.system.expire_snapshots('maintns.t', $cur)").head().getLong(0)
    assert(deleted > 0, "expiry should collect the pre-compaction files")
    val dataDir = TableIO.tableDir(root, "maintns", "t").resolve("data")
    assert(Files.list(dataDir).count() == 2L)
    // nothing uncommitted remains -> orphan scan finds zero
    assert(spark.sql("CALL g.system.remove_orphan_files('maintns.t')")
      .head().getLong(0) == 0L)
    // time travel below the horizon is gone, current read unaffected
    assert(n("SELECT count(*) FROM g.maintns.t") == survivors)
  }

  test("CREATE TABLE AS SELECT works against the catalog") {
    root
    spark.sql("CREATE NAMESPACE IF NOT EXISTS g.ctasns")
    spark.sql(
      """CREATE TABLE g.ctasns.t AS
        |SELECT CAST(id AS STRING) AS foo, CAST(id AS INT) AS bar
        |FROM range(0, 25)""".stripMargin)
    assert(spark.sql("SELECT count(*), sum(bar) FROM g.ctasns.t").head()
      .toSeq == Seq(25L, 300L))
  }

  test("metadata tables are queryable through SQL") {
    root
    val rows = spark.sql(
      "SELECT version, operation, added_files FROM g.tt_ns.`t$snapshots` ORDER BY version")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    assert(rows.toSeq == Seq((1, "append", 4L), (2, "append", 1L),
      (3, "append", 1L)))
    val contents = spark.sql(
      "SELECT content, count(*) AS n FROM g.tt_ns.`t$files` GROUP BY content ORDER BY content")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(contents.toSeq == Seq(("data", 4L), ("eq_delete", 1L),
      ("pos_delete", 1L)))
    val refs = spark.sql("SELECT name, type FROM g.tt_ns.`t$refs` ORDER BY name")
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(refs.toSeq == Seq(("after_data", "tag"), ("main", "branch")))
    // row lineage through SQL: survivors of the 3-commit table keep
    // _row_id == bar (global row number by construction)
    val lin = spark.sql(
      "SELECT count(*), sum(CASE WHEN _row_id = bar THEN 1 ELSE 0 END) " +
        "FROM g.tt_ns.`t$lineage`").head()
    assert(lin.getLong(0) == 100L && lin.getLong(1) == 100L)
  }
}

/** Holds the first row a racing UPDATE's predicate sees until the test
  * releases it, so a commit can land between its read and its commit. */
private object UpdateRaceGate {
  val reached = new java.util.concurrent.CountDownLatch(1)
  val release = new java.util.concurrent.CountDownLatch(1)
  private val first = new java.util.concurrent.atomic.AtomicBoolean(true)

  def pass(bar: Int): Boolean = {
    if (first.getAndSet(false)) {
      reached.countDown()
      release.await(120, java.util.concurrent.TimeUnit.SECONDS)
    }
    bar < 10
  }
}
