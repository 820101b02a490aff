package lakebench

import java.util.SplittableRandom
import scala.collection.mutable
import graft.plans.{Maintenance, Pipeline}
import graft.sources.{FileConfig, GenConfig}

/** `lake_ingest`: writes with pruned reads beside them. Set-up bulk-seeds
  * a table whose manifest is large relative to each delta; the loop is a
  * fixed, seeded sequence of single-file appends, upserts (equality
  * deletes) and range deletes (position deletes), with a pruned lookup
  * every few writes and a delete compaction halfway. Every read is
  * checked against the key model kept from the operation log. */
object LakeIngest {
  val Ns = "lakebench"
  val BulkFiles = 100
  val LookupEvery = 4

  /** Writes come in blocks of three appends, one upsert and one range
    * delete in seeded order, so every run has the same mix; one write per
    * second of run length, at least two blocks. */
  val Block = Vector("append", "append", "append", "upsert", "delete")
  def writes(seconds: Double): Int =
    Block.size * math.max(2, math.round(seconds / Block.size).toInt)
  val FinalScans = 3

  final class Loop {
    val writeMs = mutable.ArrayBuffer.empty[Double]
    val lookupMs = mutable.ArrayBuffer.empty[Double]
    val compactMs = mutable.ArrayBuffer.empty[Double]
    val scanMs = mutable.ArrayBuffer.empty[Double]
    var timeTravelMs = 0.0
    var rows = 0L
    // outside-in counters, collected in the traced loop only
    val morReads = mutable.ArrayBuffer.empty[(Int, Int)] // (live, scanned)
    val deleteFiles = mutable.ArrayBuffer.empty[(Int, Int)] // before, after
    val bytesRewritten = mutable.ArrayBuffer.empty[Long]
    var rowsDeleted = 0L
    var commits = 0L
    def loopMs: Double = writeMs.sum + lookupMs.sum + compactMs.sum
  }

  def seedTable(ctx: Ctx, table: String): KeyModel = {
    val lake = new Lake(ctx, Ns, table)
    val cfg = GenConfig(Ns, table, FileConfig(lake.rowsPerFile, BulkFiles),
      FileConfig(0, 0), FileConfig(0, 0))
    ctx.span("pipeline.prepareBulkData")(
      Pipeline.prepareBulkData(ctx.spark, ctx.root, cfg))
    val model = new KeyModel
    model.append(0, BulkFiles * lake.rowsPerFile)
    model
  }

  /** Untimed warm-up of the append and lookup paths on a throw-away
    * table, so the loop's first appends, which the write median falls
    * among, do not pay the JIT's start-up. */
  def warmUp(ctx: Ctx, table: String): Unit = {
    val lake = new Lake(ctx, Ns, table)
    lake.append(BulkFiles)
    lake.append(BulkFiles + 1)
    lake.lookup(30, 40)
  }

  def loop(ctx: Ctx, table: String, model: KeyModel, nWrites: Int,
      counters: Boolean): Loop = {
    val lake = new Lake(ctx, Ns, table)
    val rpf = lake.rowsPerFile
    val rnd = new SplittableRandom(ctx.seed)
    val out = new Loop
    val version0 = graft.plans.TableIO.currentVersion(ctx.root, Ns, table)
    val model0 = model.copy
    var nextFile = BulkFiles
    def maxKey = nextFile * rpf
    def op[T](what: String, into: mutable.ArrayBuffer[Double])(body: => T): T = {
      ctx.tracer.nextOp()
      val (r, ms) = Stats.timed(body)
      into += ms
      Stats.log(f"$what $ms%.0f ms")
      r
    }
    val kinds = Vector.fill(nWrites / Block.size)(shuffled(Block, rnd)).flatten
    for ((kind, k) <- kinds.zip(1 to nWrites)) {
      if (kind == "append") {
        val n = nextFile
        op("append", out.writeMs)(lake.append(n))
        model.append(n * rpf, (n + 1) * rpf)
        out.rows += rpf
        nextFile += 1
      } else if (kind == "upsert") {
        val keys = Vector.fill(5 + rnd.nextInt(16))(model.randomLive(rnd, maxKey))
          .filter(_ >= 0).distinct
        op("upsert", out.writeMs)(lake.upsert(keys))
        model.upsert(keys)
        out.rows += keys.size
      } else {
        val lo = rnd.nextInt(maxKey).toLong
        val hi = lo + rnd.nextInt(2 * rpf)
        op("delete", out.writeMs)(lake.deleteWhere(lo, hi))
        model.delete(lo, hi)
      }
      if (k % LookupEvery == 0) {
        val key = model.randomLive(rnd, maxKey).max(0).toLong
        val hi = if (rnd.nextBoolean()) key else key + rnd.nextInt(rpf)
        if (counters) {
          val m = lake.manifest
          out.morReads += ((m.count(_.content == "data"),
            MorCounters.scanned(m, key, hi)))
        }
        val got = op("lookup", out.lookupMs)(lake.lookup(key, hi))
        lake.checkLookup(s"ingest lookup [$key, $hi] after write $k", got,
          model.rows(key, hi))
      }
      if (k == nWrites / 2) {
        val before = if (counters) lake.manifest else Nil
        op("compact", out.compactMs)(ctx.span("maintenance.compactDeletes")(
          Maintenance.compactDeletes(ctx.spark, ctx.root, Ns, table)))
        if (counters) {
          val after = lake.manifest
          val dels = (m: Seq[graft.plans.ManifestEntry]) =>
            m.count(e => e.content != "data" && e.content != "props")
          out.deleteFiles += ((dels(before), dels(after)))
          val dir = graft.plans.TableIO.tableDir(ctx.root, Ns, table)
          val old = before.map(_.path).toSet
          out.bytesRewritten += after.filter(e => e.content == "data" &&
            !old(e.path)).map(e => java.nio.file.Files.size(dir.resolve(e.path))).sum
        }
      }
    }
    if (counters) {
      val m = lake.manifest
      val live = m.count(_.content == "data")
      out.morReads ++= Seq.fill(FinalScans)((live, live))
      out.rowsDeleted = m.filter(_.content == "data").map(_.recordCount).sum -
        model.live.size
      out.commits =
        graft.plans.TableIO.currentVersion(ctx.root, Ns, table) - version0
    }
    (1 to FinalScans).foreach { i =>
      ctx.tracer.nextOp()
      val (got, ms) = Stats.timed(lake.scan())
      out.scanMs += ms
      lake.checkScan(s"ingest full scan $i after $nWrites writes", got, model.checksum)
    }
    // time travel back past every write and the compaction
    ctx.tracer.nextOp()
    val (old, ms) = Stats.timed(lake.scan(Some(version0)))
    out.timeTravelMs = ms
    lake.checkScan(s"ingest time travel to v$version0", old, model0.checksum)
    out
  }

  private def shuffled[T](xs: Vector[T], rnd: SplittableRandom): Vector[T] =
    xs.indices.foldLeft(xs) { (v, i) =>
      val j = i + rnd.nextInt(xs.size - i)
      v.updated(i, v(j)).updated(j, v(i))
    }

  def run(ctx: Ctx): Outcome = {
    val n = writes(ctx.seconds)
    val setups = (1 to 3).map { i =>
      val (model, ms) = Stats.timed(seedTable(ctx, s"ingest_$i"))
      Stats.log(f"set-up $i: $ms%.0f ms")
      (s"ingest_$i", model, ms)
    }
    warmUp(ctx, "ingest_2")
    Stats.log("warm-up done")
    Seq("ingest_1", "ingest_2").foreach(graft.plans.TableIO.dropTable(ctx.root, Ns, _))
    val setupS = Stats.median(setups.map(_._3)) / 1000
    val (t3, m3, _) = setups(2)
    if (!ctx.traced) {
      val l = loop(ctx, t3, m3, n, counters = false)
      val st = TableState.of(ctx.root, Ns, t3)
      Outcome(
        endToEnd = Map(
          "setup_s" -> setupS,
          "op_ms.p50" -> Stats.median(l.writeMs.toSeq),
          "rows_per_s" -> l.rows / (l.loopMs / 1000),
          "bytes_per_live_row" -> st.totalBytes.toDouble / m3.live.size),
        perLayer = Map.empty,
        report = Seq(
          ("loop_ms", l.loopMs, "ms"),
          ("writes", l.writeMs.size.toDouble, "count"),
          ("write_ms.p50", Stats.median(l.writeMs.toSeq), "ms")) ++
          Stats.tailLine("write_ms", l.writeMs.toSeq) ++ Seq(
          ("lookups", l.lookupMs.size.toDouble, "count"),
          ("lookup_ms.p50", Stats.median(l.lookupMs.toSeq), "ms"),
          ("scan_s.p50", Stats.median(l.scanMs.toSeq) / 1000, "s"),
          ("time_travel_ms", l.timeTravelMs, "ms"),
          ("compact_ms", Stats.mean(l.compactMs.toSeq), "ms")))
    } else {
      ctx.tracer.recording = true
      val l = try loop(ctx, t3, m3, n, counters = true)
        finally ctx.tracer.recording = false
      val st = TableState.of(ctx.root, Ns, t3)
      val tr = Layers.report(ctx)
      val writeJobs = Layers.jobsPerSpan(tr, Seq("write.append", "write.upsert", "write.delete"))
      Outcome(Map.empty,
        Layers.table(st, l.commits) ++ Layers.mor(tr, st, l.morReads.toSeq,
          Seq.fill(FinalScans)(l.rowsDeleted.toDouble)) ++ tr.sparkMetrics ++ Map(
          "write.jobs_per_op" -> writeJobs,
          "maintenance.bytes_rewritten" -> Stats.mean(l.bytesRewritten.map(_.toDouble).toSeq),
          "maintenance.delete_files_before" -> Stats.mean(l.deleteFiles.map(_._1.toDouble).toSeq),
          "maintenance.delete_files_after" -> Stats.mean(l.deleteFiles.map(_._2.toDouble).toSeq)),
        Layers.common(tr, l.loopMs) ++ Seq(
          ("tableio.commit_ms", tr.meanMs("tableio.commit"), "ms"),
          ("tableio.write_file_ms", tr.meanMs("tableio.writeExactFile"), "ms"),
          ("write.append_ms", tr.meanMs("write.append"), "ms"),
          ("write.upsert_ms", tr.meanMs("write.upsert"), "ms"),
          ("write.delete_ms", tr.meanMs("write.delete"), "ms"),
          ("maintenance.compact_ms", tr.meanMs("maintenance.compactDeletes"), "ms")))
    }
  }
}
