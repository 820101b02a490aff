package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField}
import graft.plans.{Mor, Pipeline, TableIO}
import graft.sources.GenConfig

/** Field-id-based schema evolution: rename and drop without rewriting
  * files, id-based parquet resolution, and the no-resurrection rule
  * for re-added column names.
  */
class FieldIdSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def freshTable(): (String, String, String) = {
    val root = java.nio.file.Files.createTempDirectory("graft-fid-").toString
    val df = spark.range(0, 100).select(
      col("id").cast("string").as("foo"),
      col("id").cast("int").as("bar"), lit(true).as("baz"))
    TableIO.createNamespace(root, "ns")
    TableIO.createTableIfNotExists(root, "ns", "t", df.schema)
    TableIO.commit(root, "ns", "t", Seq(TableIO.writeExactFile(spark, root,
      "ns", "t", "data/part-00000.parquet", df, "data", 1L,
      recordCount = 100L)))
    (root, "ns", "t")
  }

  test("rename surfaces old files' values under the new name, no rewrite") {
    val (root, ns, t) = freshTable()
    val p = TableIO.tableDir(root, ns, t).resolve("data/part-00000.parquet")
    val mtime = java.nio.file.Files.getLastModifiedTime(p)
    TableIO.renameColumn(root, ns, t, "foo", "label")
    val df = Mor.read(spark, root, ns, t)
    assert(df.columns.toSeq == Seq("label", "bar", "baz"))
    // the crux: values resolved BY ID from the pre-rename file
    assert(df.filter(col("label").isNull).count() == 0)
    assert(df.filter(col("label") === "42").count() == 1)
    assert(java.nio.file.Files.getLastModifiedTime(p) == mtime)
    // guards: duplicate/missing names
    intercept[IllegalArgumentException] {
      TableIO.renameColumn(root, ns, t, "bar", "label")
    }
    intercept[IllegalArgumentException] {
      TableIO.renameColumn(root, ns, t, "nope", "x")
    }
  }

  test("drop + re-add the same name never resurrects old values") {
    val (root, ns, t) = freshTable()
    TableIO.dropColumn(root, ns, t, "baz")
    assert(Mor.read(spark, root, ns, t).columns.toSeq == Seq("foo", "bar"))
    // re-added name gets a FRESH id: the old file's baz (id 3) must
    // NOT come back — Iceberg id semantics
    TableIO.addColumn(root, ns, t,
      StructField("baz", org.apache.spark.sql.types.BooleanType,
        nullable = true))
    val df = Mor.read(spark, root, ns, t)
    assert(df.filter(col("baz").isNotNull).count() == 0)
  }

  test("identifier columns of live eq-delete files cannot be renamed or dropped") {
    val cfg = GenConfig.reference.copy(tableName = "fid_guard")
    val root = java.nio.file.Files.createTempDirectory("graft-fid2-").toString
    Pipeline.prepare(spark, root, cfg)
    val (ns, t) = (cfg.namespace, cfg.tableName)
    intercept[IllegalArgumentException] {
      TableIO.renameColumn(root, ns, t, "foo", "label")
    }
    intercept[IllegalArgumentException] {
      TableIO.dropColumn(root, ns, t, "bar")
    }
    // baz is no identifier: rename allowed, MOR still fully gated
    TableIO.renameColumn(root, ns, t, "baz", "flag")
    val df = Mor.read(spark, root, ns, t)
    assert(df.columns.toSeq == Seq("foo", "bar", "flag"))
    assert(df.count() == cfg.expectedSurvivingRows)
    assert(df.filter(col("flag").isNull).count() == 0)
  }
}
