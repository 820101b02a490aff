package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.functions.ZOrder
import graft.plans.{Maintenance, Mor, TableIO}

/** Z-order clustering: multi-dimensional bounds stay tight per file, so
  * predicates on either clustered column (or both) skip files —
  * lexicographic clustering only ever prunes the leading column.
  */
class ZOrderSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** 64x64 grid of (x, y) points, one table clustered each way. */
  private def grid(zorder: Boolean, hilbert: Boolean = false): String = {
    val root = java.nio.file.Files.createTempDirectory("graft-z-").toString
    val df = spark.range(0, 4096).select(
      col("id").as("pid"),
      (col("id") % 64).as("x"),
      (col("id") / 64).cast("long").as("y"))
    TableIO.createNamespace(root, "ns")
    TableIO.createTableIfNotExists(root, "ns", "t", df.schema)
    val e = TableIO.writeExactFile(spark, root, "ns", "t",
      "data/part-00000.parquet", df, "data", seq = 1L, recordCount = 4096L)
    TableIO.commit(root, "ns", "t", Seq(e))
    Maintenance.compact(spark, root, "ns", "t", targetFileCount = 16,
      clusterBy = Seq("x", "y"), zorder = zorder, hilbert = hilbert)
    root
  }

  private val quadrant = col("x").between(0, 15) && col("y").between(0, 15)
  private val strip = col("y").between(0, 15) // y is the SECOND sort column

  private def scannedData(root: String, filter: Column): Long =
    OpenedFiles.count(Mor.read(spark, root, "ns", "t").filter(filter))

  test("zvalue interleaves bits of both dimensions") {
    val got = spark.range(0, 1).select(
      ZOrder.zvalue(Seq(lit(0b101L), lit(0b011L))).as("z")).head().getLong(0)
    // x bits at even positions, y bits at odd: x=5(101), y=3(011)
    // -> z = 1<<0 | 0<<2 | 1<<4 | 1<<1 | 1<<3 | 0<<5 = 0b011011
    assert(got == 0x1bL)
  }

  test("quadrant query prunes z-ordered files on both dimensions") {
    val root = grid(zorder = true)
    val nScanned = scannedData(root, quadrant)
    assert(nScanned <= 2, s"expected <=2 of 16 files, scanned $nScanned")
    // correctness: the pruned read holds the quadrant's 256 points
    assert(Mor.read(spark, root, "ns", "t").filter(quadrant).count() == 256L)
  }

  test("non-leading-column query prunes z-order but not lex clustering") {
    val zRoot = grid(zorder = true)
    val lexRoot = grid(zorder = false)
    val zScanned = scannedData(zRoot, strip)
    val lexScanned = scannedData(lexRoot, strip)
    // z-order: y's bounds are tight per file -> ~1/4 of files survive.
    // lex (x, y): every x-range file spans all y -> nothing skipped.
    assert(zScanned <= 8, s"z-order scanned $zScanned of 16")
    assert(lexScanned == 16, s"lex scanned $lexScanned, expected all 16")
    assert(zScanned < lexScanned)
  }

  test("hilbertXY walks the canonical curve and stays a bijection") {
    // the order-1 curve visits (0,0) (0,1) (1,1) (1,0)
    assert(ZOrder.hilbertXY(0, 0, 1) == 0L)
    assert(ZOrder.hilbertXY(0, 1, 1) == 1L)
    assert(ZOrder.hilbertXY(1, 1, 1) == 2L)
    assert(ZOrder.hilbertXY(1, 0, 1) == 3L)
    // bijection on the 32x32 grid, and every consecutive pair of curve
    // positions is a GRID neighBOR (|dx|+|dy| == 1) — the locality
    // property Morton codes lack at quadrant boundaries
    val byD = (for { x <- 0 until 32; y <- 0 until 32 }
      yield ZOrder.hilbertXY(x, y, 5) -> ((x, y))).sortBy(_._1)
    assert(byD.map(_._1) == (0L until 1024L))
    byD.map(_._2).sliding(2).foreach { case Seq((x1, y1), (x2, y2)) =>
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) == 1)
    }
  }

  test("hilbert clustering prunes like z-order on both query shapes") {
    val hRoot = grid(zorder = false, hilbert = true)
    val hQuad = scannedData(hRoot, quadrant)
    assert(hQuad <= 2, s"hilbert scanned $hQuad of 16 for the quadrant")
    assert(Mor.read(spark, hRoot, "ns", "t").filter(quadrant).count() == 256L)
    val hStrip = scannedData(hRoot, strip)
    assert(hStrip <= 8, s"hilbert scanned $hStrip of 16 for the strip")
  }

  test("hilbert with != 2 cluster columns fails loudly, never falls " +
      "through to another layout") {
    val hRoot = grid(zorder = false, hilbert = true)
    val ex = intercept[IllegalArgumentException] {
      Maintenance.compact(spark, hRoot, "ns", "t", targetFileCount = 16,
        clusterBy = Seq("x"), hilbert = true)
    }
    assert(ex.getMessage.contains("hilbert"))
    val ex3 = intercept[IllegalArgumentException] {
      Maintenance.compact(spark, hRoot, "ns", "t", targetFileCount = 16,
        clusterBy = Seq("x", "y", "pid"), hilbert = true)
    }
    assert(ex3.getMessage.contains("exactly 2"))
  }
}
