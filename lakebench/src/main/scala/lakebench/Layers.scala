package lakebench

/** Per-layer metric assembly shared by the workloads. */
object Layers {
  def report(ctx: Ctx): TraceReport = {
    ctx.tracer.drain()
    new TraceReport(ctx.tracer)
  }

  /** Spark jobs per call over the spans with the given names. */
  def jobsPerSpan(tr: TraceReport, names: Seq[String]): Double = {
    val ss = names.flatMap(tr.named)
    if (ss.isEmpty) 0.0 else ss.map(s => tr.jobsUnder(s).size).sum.toDouble / ss.size
  }

  def table(st: TableState, commits: Long): Map[String, Double] = Map(
    "tableio.manifest_entries" -> st.manifestEntries.toDouble,
    "tableio.manifest_bytes" -> st.manifestBytes.toDouble,
    "tableio.metadata_bytes" -> st.metadataBytes.toDouble,
    "tableio.data_bytes" -> st.dataBytes.toDouble,
    "tableio.commits" -> commits.toDouble)

  /** MOR metrics: `reads` holds (live data files, files kept by pruning)
    * for every MOR read of the loop; `rowsDeleted` the rows the delete
    * files removed, per full scan. */
  def mor(tr: TraceReport, st: TableState, reads: Seq[(Int, Int)],
      rowsDeleted: Seq[Double]): Map[String, Double] = {
    val collects = tr.named("mor.collect")
    val plan = collects.map(tr.planMsUnder)
    Map(
      "mor.build_ms" -> tr.meanMs("mor.read"),
      "mor.plan_ms" -> Stats.mean(plan),
      "mor.exec_ms" -> Stats.mean(collects.zip(plan).map { case (s, p) => s.ms - p }),
      "mor.data_files_live" -> st.dataFiles.toDouble,
      "mor.data_files_scanned" -> Stats.mean(reads.map(_._2.toDouble)),
      "mor.prune_ratio" -> Stats.mean(reads.map { case (live, kept) =>
        if (live == 0) 0.0 else 1.0 - kept.toDouble / live }),
      "mor.pos_delete_files" -> st.posDeleteFiles.toDouble,
      "mor.eq_delete_files" -> st.eqDeleteFiles.toDouble,
      "mor.rows_deleted" -> Stats.mean(rowsDeleted))
  }

  /** Report lines every traced workload prints: self time per layer and
    * the traced loop's total, which less the untraced run's `loop_ms` for
    * the same seed is the tracing overhead. */
  def common(tr: TraceReport, loopMs: Double): Seq[(String, Double, String)] =
    tr.selfMsByLayer.toSeq.sortBy(_._1).map { case (l, ms) =>
      (s"self_ms.$l", ms, "ms")
    } ++ Seq(
      ("trace.spans", tr.spanCount.toDouble, "count"),
      ("trace.loop_ms", loopMs, "ms"))
}
