package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.plans.{Mor, PartitionSpec, Partitioning, TableIO}

/** Partition evolution: files written under different specs coexist;
  * each is pruned by its OWN spec's recorded partition values (absent
  * bounds key = keep), no file is rewritten at evolution time.
  */
class PartitionEvolutionSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("evolved specs prune per file; point lookup opens one file per spec") {
    val root = java.nio.file.Files.createTempDirectory("graft-pevolve-").toString
    val (ns, t) = ("ns", "t")
    val spec1 = PartitionSpec("truncate", "bar", 1000)
    val spec2 = PartitionSpec("bucket", "bar", 4)
    def half(lo: Long, hi: Long) = spark.range(lo, hi).select(
      col("id").cast("string").as("foo"),
      col("id").cast("int").as("bar"), lit(true).as("baz"))

    Partitioning.preparePartitioned(spark, root, ns, t, half(0, 2500), spec1)
    val filesBefore = TableIO.filesOf(root, ns, t, "data").map(_._1)
    val mtimes = filesBefore.map(p =>
      p -> java.nio.file.Files.getLastModifiedTime(java.nio.file.Paths.get(p)))
    Partitioning.evolveSpec(root, ns, t, spec2)
    Partitioning.appendPartitioned(spark, root, ns, t, half(2500, 5000))

    // spec history kept; 3 truncate files + 4 bucket files; no rewrite
    assert(Partitioning.readSpecs(root, ns, t) == Seq(spec1, spec2))
    assert(Partitioning.readSpec(root, ns, t).contains(spec2))
    assert(TableIO.readManifest(root, ns, t).size == 7)
    mtimes.foreach { case (p, mt) =>
      assert(java.nio.file.Files.getLastModifiedTime(
        java.nio.file.Paths.get(p)) == mt, s"file rewritten: $p")
    }

    // point lookups from each half: each file is pruned by its own
    // spec's metadata => exactly 1 truncate + 1 bucket file opened
    for (k <- Seq(1234L, 2600L)) {
      val df = Mor.read(spark, root, ns, t).filter(col("bar") === k)
      val scanned = OpenedFiles.count(df)
      assert(scanned == 2, s"k=$k scanned $scanned files")
      assert(df.count() == 1L)
    }

    // full scan still sees every row across both specs
    assert(Mor.read(spark, root, ns, t).count() == 5000L)
  }
}
