package lakebench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import graft.plans.TableIO

/** Everything a workload needs: the session, a fresh catalog root, the
  * seed, the run length, the tracer and the correctness ledger. */
final case class Ctx(spark: SparkSession, root: String, seed: Long,
    seconds: Double, traced: Boolean, tracer: Tracer, checks: Checks) {
  def span[T](name: String)(body: => T): T = tracer.span(name)(body)
}

/** Correctness ledger: every checked operation is attempted; a mismatch
  * counts as failed and is reported on stderr. */
final class Checks {
  var attempted = 0L
  var failed = 0L
  val mismatches = mutable.ArrayBuffer.empty[String]

  def check(what: String, ok: Boolean, detail: => String = ""): Boolean = {
    attempted += 1
    if (!ok) {
      failed += 1
      val line = s"$what: $detail"
      if (mismatches.size < 50) mismatches += line
      System.err.println(s"[lakebench] MISMATCH $line")
    }
    ok
  }
}

/** What a workload hands back: end-to-end metrics (measured untraced),
  * per-layer metrics (measured traced), and named report lines. */
final case class Outcome(endToEnd: Map[String, Double],
    perLayer: Map[String, Double], report: Seq[(String, Double, String)])

object Stats {
  private val t0 = System.nanoTime()

  /** Progress line on stderr, stamped with seconds since start. */
  def log(msg: String): Unit =
    System.err.println(f"[lakebench] ${(System.nanoTime() - t0) / 1e9}%7.2fs $msg")

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  /** Linear-interpolated quantile (the `statistics.quantiles` inclusive
    * convention). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** A report line for the highest of p90/p75 that keeps at least ten
    * samples beyond it; none when the sample supports only the median. */
  def tailLine(name: String, xs: Seq[Double]): Seq[(String, Double, String)] =
    Seq(0.9 -> "p90", 0.75 -> "p75")
      .find { case (q, _) => xs.size * (1 - q) >= 10 }
      .map { case (q, p) => (s"$name.$p", quantile(xs, q), "ms") }.toSeq

  def treeBytes(p: Path, keep: Path => Boolean = _ => true): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(f => Files.isRegularFile(f) && keep(f))
        .map(Files.size).sum
      finally s.close()
    }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toVector.reverse.foreach(Files.deleteIfExists)
    finally s.close()
  }
}

/** Table-layer state read from the outside: the current manifest and the
  * bytes the table directory holds. */
final case class TableState(manifestEntries: Int, manifestBytes: Long,
    metadataBytes: Long, dataBytes: Long, dataFiles: Int, posDeleteFiles: Int,
    eqDeleteFiles: Int, totalBytes: Long)

object TableState {
  def of(root: String, ns: String, table: String): TableState = {
    val dir = TableIO.tableDir(root, ns, table)
    val m = TableIO.readManifest(root, ns, table)
    val v = TableIO.currentVersion(root, ns, table)
    val isParquet = (f: Path) => f.getFileName.toString.endsWith(".parquet")
    val total = Stats.treeBytes(dir)
    val data = Stats.treeBytes(dir, isParquet)
    TableState(m.size, Files.size(dir.resolve(s"manifest/v$v.json")),
      total - data, data, m.count(_.content == "data"),
      m.count(_.content == "pos_delete"), m.count(_.content == "eq_delete"),
      total)
  }
}
