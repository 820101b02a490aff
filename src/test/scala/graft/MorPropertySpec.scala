package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.rng.Seed
import graft.plans.{Mor, Pipeline}
import graft.sources.{FileConfig, GenConfig}

/** Property test (SURVEY.md §5.3): for random (rowsPerFile, fileCount,
  * P, E) configs — including cursor-exhaustion shapes where the
  * reference's printed summary would go negative (`main.rs:334-345`
  * quirk) — the MOR count equals the corrected closed form
  * max(0, N-P-E). Uses scalacheck directly (fixed seed, no
  * scalatestplus bridge in the offline cache).
  */
class MorPropertySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val cfgs: Gen[GenConfig] = for {
    rpf <- Gen.choose(1L, 20L)
    nf <- Gen.choose(1, 4)
    prf <- Gen.choose(1L, 20L)
    pf <- Gen.choose(0, 3)
    erf <- Gen.choose(1L, 20L)
    ef <- Gen.choose(0, 3)
  } yield GenConfig("ns", "t", FileConfig(rpf, nf), FileConfig(prf, pf),
    FileConfig(erf, ef))

  test("MOR count == max(0, N - P - E) for random configs") {
    val prop = Prop.forAll(cfgs) { cfg =>
      val root = Files.createTempDirectory("graft-prop-").toString
      Pipeline.prepare(spark, root, cfg)
      val n = cfg.data.totalRows
      val expected = math.max(0L,
        n - math.min(cfg.posDelete.totalRows + cfg.eqDelete.totalRows, n))
      Mor.mergedCount(spark, root, "ns", "t") == expected &&
        cfg.expectedSurvivingRows == expected
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(8)
        .withInitialSeed(Seed(42L)),
      prop)
    assert(res.passed, res.status.toString)
  }

  test("bounds pruning is result-transparent for random query ranges") {
    import org.apache.spark.sql.functions.col
    // one moderately-sized table, many random [lo, hi] probes: the
    // filtered (file-pruned) read must equal the rows of the full read
    // in range (pruning is a superset guarantee, never a semantics change)
    val cfg = GenConfig("ns", "prune_prop",
      FileConfig(50L, 4), FileConfig(60L, 1), FileConfig(40L, 1))
    val root = Files.createTempDirectory("graft-prop-").toString
    Pipeline.prepare(spark, root, cfg)
    val all = Mor.read(spark, root, "ns", "prune_prop").collect().toSeq
    val ranges: Gen[(Long, Long)] = for {
      a <- Gen.choose(-50L, 250L)
      b <- Gen.choose(-50L, 250L)
    } yield (math.min(a, b), math.max(a, b))
    val prop = Prop.forAll(ranges) { case (lo, hi) =>
      val pruned = Mor.read(spark, root, "ns", "prune_prop")
        .filter(col("bar").between(lo, hi))
      val full = all.filter(r => r.getInt(1) >= lo && r.getInt(1) <= hi)
      pruned.collect().toSeq.sortBy(_.getInt(1)) == full.sortBy(_.getInt(1))
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(12)
        .withInitialSeed(Seed(7L)),
      prop)
    assert(res.passed, res.status.toString)
  }
}
