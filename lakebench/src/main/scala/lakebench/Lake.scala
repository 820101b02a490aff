package lakebench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.plans.{Dml, ManifestEntry, Mor, TableIO, Upsert}
import graft.sources.{FixSchemaGen, FixSchemaGenerator}

/** The benchmark's own model of a fixed-schema table (foo = bar as text,
  * bar = unique key, baz = false once an upsert rewrote the row), kept
  * from its operation log and used to check every read. */
final class KeyModel(val live: mutable.BitSet, val rewritten: mutable.BitSet) {
  def this() = this(mutable.BitSet.empty, mutable.BitSet.empty)
  def copy: KeyModel = new KeyModel(live.clone(), rewritten.clone())

  def append(lo: Int, hi: Int): Unit = (lo until hi).foreach(live += _)
  def upsert(keys: Seq[Int]): Unit = keys.foreach { k => live += k; rewritten += k }
  def delete(lo: Long, hi: Long): Unit =
    live.range(lo.toInt, (hi + 1).toInt).toVector.foreach { k =>
      live -= k; rewritten -= k
    }

  /** (bar, baz) of every live key in [lo, hi]. */
  def rows(lo: Long, hi: Long): Vector[(Int, Boolean)] =
    live.range(lo.toInt, (hi + 1).toInt).toVector
      .map(k => (k, !rewritten(k)))

  /** (rows, sum of bar, rows with baz = false) over the whole table. */
  def checksum: (Long, Long, Long) =
    (live.size.toLong, live.iterator.map(_.toLong).sum, rewritten.size.toLong)

  /** A live key drawn uniformly from [0, bound), or -1 when none is left. */
  def randomLive(rnd: java.util.SplittableRandom, bound: Int): Int = {
    val start = rnd.nextInt(math.max(1, bound))
    live.iteratorFrom(start).nextOption()
      .orElse(live.headOption).getOrElse(-1)
  }
}

/** The public graft calls the lake workloads make, each in its span, plus
  * the checks that compare their results with a [[KeyModel]]. */
final class Lake(ctx: Ctx, val ns: String, val table: String) {
  import ctx.{root, spark}
  val rowsPerFile = 50

  def seq(): Long = ctx.span("tableio.nextSeq")(TableIO.nextSeq(root, ns, table))

  /** One single-file append of generator file `n` (keys [n*rpf, (n+1)*rpf)). */
  def append(n: Int): Long =
    ctx.span("write.append") {
      val df = ctx.span("sources.dataFile")(
        FixSchemaGenerator.dataFile(spark, n, rowsPerFile))
      val s = seq()
      val entry = ctx.span("tableio.writeExactFile")(TableIO.writeExactFile(
        spark, root, ns, table, f"data/ingest-$n%06d.parquet", df, "data", s,
        recordCount = rowsPerFile,
        bounds = FixSchemaGenerator.fileBounds(n, rowsPerFile)))
      ctx.span("tableio.commit")(TableIO.commit(root, ns, table, Seq(entry)))
    }

  def upsert(keys: Seq[Int]): Long = ctx.span("write.upsert") {
    val rows = keys.map(k => Row(k.toString, k, false))
    val df = spark.createDataFrame(rows.asJava, FixSchemaGen.dataSchema)
    Upsert.upsert(spark, root, ns, table, df, Seq("bar"), statsCols = Seq("bar"))
  }

  def deleteWhere(lo: Long, hi: Long): Long = ctx.span("write.delete")(
    Dml.deleteWhere(spark, root, ns, table, "bar", lo, hi))

  /** Pruned MOR read of bar in [lo, hi]; returns the (foo, bar, baz) rows. */
  def lookup(lo: Long, hi: Long): Array[Row] =
    ctx.span("client.lookup") {
      val df = ctx.span("mor.read")(Mor.read(spark, root, ns, table,
        prune = Seq(Mor.Prune("bar", lo, hi))))
      ctx.span("mor.collect")(df.filter(col("bar").between(lo, hi)).collect())
    }

  /** Full MOR checksum scan, optionally time-travelled. */
  def scan(version: Option[Long] = None): (Long, Long, Long) =
    ctx.span("client.scan") {
      val df = ctx.span("mor.read")(version match {
        case Some(v) => Mor.readAt(spark, root, ns, table, v)
        case None => Mor.read(spark, root, ns, table)
      })
      val r = ctx.span("mor.collect")(df.agg(count(lit(1)),
        coalesce(sum(col("bar").cast("long")), lit(0L)),
        coalesce(sum(when(!col("baz"), 1L).otherwise(0L)), lit(0L))).head())
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }

  def checkLookup(what: String, got: Array[Row],
      expect: Vector[(Int, Boolean)]): Boolean = {
    val rows = got.map(r => (r.getInt(1), r.getBoolean(2))).sortBy(_._1).toVector
    val foosOk = got.forall(r => r.getString(0) == r.getInt(1).toString)
    ctx.checks.check(what, foosOk && rows == expect,
      s"got ${rows.size} rows ${rows.take(5)}, expected ${expect.size} ${expect.take(5)}")
  }

  def checkScan(what: String, got: (Long, Long, Long),
      expect: (Long, Long, Long)): Boolean =
    ctx.checks.check(what, got == expect, s"got $got, expected $expect")

  def manifest: Seq[ManifestEntry] = TableIO.readManifest(root, ns, table)
}

/** Outside-in MOR counters: how many live data files a pruned read keeps,
  * read from the manifest the read plans against. */
object MorCounters {
  def scanned(m: Seq[ManifestEntry], lo: Long, hi: Long): Int =
    m.count(e => e.content == "data" && e.mayContain("bar", lo, hi))
}
