package graft.plans

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.graftbridge.Bridge
import graft.functions.BitmapFunctions.bitmapContains

/** Merge-on-read scan — the read semantics the reference's output defines
  * (SURVEY.md §2.5, implied by `main.rs:163-276`):
  *
  *   R1 scan all data files of the chosen snapshot
  *   R2 anti-join positional deletes on (file_path, pos),
  *      gated by data_seq <= delete_seq
  *   R3 anti-join equality deletes on the identifier columns,
  *      gated by data_seq < delete_seq
  *
  * Physical provenance comes from the parquet metadata columns
  * `_metadata.file_name` / `_metadata.row_index` (Spark >= 3.5), so no
  * custom source is needed. The commit sequences the gates compare ride
  * the scans as partition values of [[GraftFileIndex]]: every data row
  * carries its file's `_seq`, every delete row its OWN file's `_dseq`,
  * so multi-snapshot tables gate correctly with no manifest join (r1
  * collapsed to the max seq per content type, which could delete data
  * committed after an older delete snapshot).
  *
  * Each delete group (the position deletes, and one group per
  * equality-identifier set) picks its strategy from its manifest record
  * counts, the way FuseME picks an operator's strategy from known input
  * sizes:
  *
  *   - a group whose rows fit Spark's `autoBroadcastJoinThreshold`
  *     (R2 or R3) applies as a broadcast `left_anti` join: one
  *     broadcast job, and the data side never shuffles;
  *   - a larger R2 group applies as per-file deletion vectors (the
  *     Iceberg/Delta DV design): bitmaps are built distributedly — one
  *     shuffle of the delete side on its target file — then
  *     broadcast-joined to the scan and probed by a native codegen
  *     expression, so the data side never shuffles and the per-row
  *     filter stays inside whole-stage codegen; past the vector caps it
  *     falls back to a shuffled `left_anti` join;
  *   - a larger R3 group applies as a shuffle-hash `left_anti` join.
  */
object Mor {

  /** A range predicate `column BETWEEN lo AND hi`, applied by [[read]]
    * as the row filter `cast(column as long) BETWEEN lo AND hi`. Files
    * are skipped by that filter like by any other: [[GraftFileIndex]]
    * checks it against the manifest bounds before Spark opens a file.
    * Kept for the lakebench workload's lookups; graft's own callers
    * filter the frame [[read]] returns instead.
    */
  final case class Prune(column: String, lo: Long, hi: Long)

  /** Data entries of `snap`, restricted to `onlyPaths` when given. A
    * legitimately empty snapshot (post-TRUNCATE) reads as empty; only a
    * never-committed table is an error.
    */
  private def liveData(snap: Snapshot,
      onlyPaths: Option[Set[String]] = None): Seq[ManifestEntry] = {
    val data = snap.files("data")
      .filter(e => onlyPaths.forall(_.contains(e.path)))
    require(onlyPaths.nonEmpty || data.nonEmpty || snap.version > 0,
      s"no data files in ${snap.dir.getParent.getFileName}." +
        snap.dir.getFileName)
    data
  }

  /** (path, basename, seq) of each file. The read path keys deletion
    * vectors on `_metadata.file_name` and derives `_file` from it
    * (cheap, unlike per-row path surgery), which is only sound while
    * basenames are unique across the snapshot's directories — a
    * duplicate would duplicate join rows and could attach a newer file's
    * vector to an older file (ADVICE r2). Generators emit unique names;
    * this guard turns a silent wrong answer into a loud error if that
    * ever changes.
    */
  private def basenameSeqs(
      files: Seq[ManifestEntry]): Seq[(String, String, Long)] = {
    val bn = files.map(e => (e.path, e.path.split('/').last, e.seq))
    require(bn.map(_._2).distinct.size == bn.size,
      s"duplicate file basenames across directories break _fname keying: " +
        bn.groupBy(_._2).filter(_._2.size > 1).keys.mkString(", "))
    bn
  }

  /** Data scan with provenance columns `_file` (path relative to the
    * table dir, matching manifest/pos-delete paths) and `_pos` (row index
    * within the file) plus the file's commit sequence number `_seq`.
    */
  def scanWithProvenance(spark: SparkSession, root: String, ns: String,
      table: String, version: Option[Long] = None,
      onlyPaths: Option[Set[String]] = None,
      uriFor: String => String = identity): DataFrame = {
    val snap = TableIO.snapshot(root, ns, table, version)
    scanData(spark, snap, liveData(snap, onlyPaths), lineage = false, uriFor)
  }

  /** The data scan of `data`: table columns, then `_seq` (and for a
    * lineage read the physical `_row_id` and `_frid`, the file's first
    * row id), then `_file`, `_fname` and `_pos`. The manifest values
    * ride the scan as partition values ([[GraftFileIndex]]), so
    * attaching them costs no join.
    */
  private def scanData(spark: SparkSession, snap: Snapshot,
      data: Seq[ManifestEntry], lineage: Boolean,
      uriFor: String => String): DataFrame = {
    basenameSeqs(data) // the guard: `_file` and `_fname` key on basenames
    // lineage reads extend the read schema with the OPTIONAL materialized
    // `_row_id` column compaction writes (Iceberg v3: a rewritten file
    // carries its rows' preserved ids physically; files without the
    // column — every normally-appended file — read it as null and
    // inherit firstRowId + position instead)
    val schema =
      if (!lineage) snap.schema
      else StructType(snap.schema.fields :+ StructField("_row_id", LongType))
    val manifestCols = GraftFileIndex.seqColumn("_seq") +:
      (if (lineage) Seq(GraftFileIndex.firstRowIdColumn("_frid")) else Nil)
    // `_metadata.file_name` is a direct metadata field: per-row path
    // string surgery (split/element_at over file_path) measured 100x
    // slower than the plain scan on 10M rows.
    GraftFileIndex.scanFiles(spark, snap.dir, data, schema, uriFor,
        manifestCols)
      .select(col("*"),
        // file name is unique within a table, so `data/<name>` equals the
        // manifest-relative path the delete files carry.
        concat(lit("data/"), col("_metadata.file_name")).as("_file"),
        col("_metadata.file_name").as("_fname"),
        col("_metadata.row_index").as("_pos"))
  }

  /** Position-delete file schema (Iceberg's `file_path`, `pos`). */
  val PosDeleteSchema: StructType = StructType(Seq(
    StructField("file_path", StringType), StructField("pos", LongType)))

  /** Delete files read with `schema`, each row tagged with its OWN
    * file's commit sequence as `_dseq` (a partition value of the scan,
    * like the data side's `_seq`).
    */
  private[plans] def readDeletes(spark: SparkSession, dir: java.nio.file.Path,
      files: Seq[ManifestEntry], schema: StructType,
      uriFor: String => String = identity): DataFrame =
    GraftFileIndex.scanFiles(spark, dir, files, schema, uriFor,
      Seq(GraftFileIndex.seqColumn("_dseq")))

  /** One join shape of the delete side: the delete rows (tagged `_dseq`)
    * of the delete files `files`, and the columns they match a
    * provenance scan on.
    *
    * R2: position deletes match (`_file`, `_pos`) in files committed at
    * or before the delete's sequence (Iceberg v2: data_seq <=
    * delete_seq). R3: equality deletes match their identifier columns
    * in rows with a STRICTLY lower sequence.
    */
  private final case class DeleteGroup(rows: DataFrame, keys: Seq[String],
      files: Seq[ManifestEntry]) {
    def positional: Boolean = keys.isEmpty
    def on(df: DataFrame): Column =
      if (positional)
        df("_file") === rows("file_path") && df("_pos") === rows("pos") &&
          df("_seq") <= rows("_dseq")
      else keys.map(k => df(k) === rows(k)).reduce(_ && _) &&
        df("_seq") < rows("_dseq")

    /** Whether the manifest says the rows fit under `threshold` bytes
      * (Spark's `autoBroadcastJoinThreshold`, off when not positive): the
      * files' summed record counts times the row width, `_dseq`
      * included. A file of unknown count is never small.
      */
    def small(threshold: Long): Boolean = {
      val width = rows.schema.defaultSize
      threshold > 0 && files.forall(_.recordCount >= 0) &&
        BigInt(files.map(_.recordCount).sum) * width <= threshold
    }

    /** The rows as the side a join of the scan builds: broadcast when
      * [[small]], else positional rows as they are and equality rows
      * hinted `shuffle_hash` — the delete side is much smaller than the
      * data side but exceeds the broadcast threshold; hashing it avoids
      * the sort-merge path's full sort of the data side.
      */
    def side(threshold: Long): DataFrame =
      if (small(threshold)) broadcast(rows)
      else if (positional) rows
      else rows.hint("shuffle_hash")
  }

  /** The delete groups of the delete files among `entries`, built from
    * `snap`'s metadata alone (no Spark job): the position deletes, when
    * they hold any row, then
    * one group per equality-identifier set. The identifier columns are
    * the entries' recorded `equality_ids` ([[TableIO.equalityColumns]]).
    * Different snapshots may delete on DIFFERENT identifier sets (the
    * pipeline's (foo,bar) deletes vs an upsert's key-only deletes), so
    * each set anti-joins separately; a single mixed-schema scan would
    * silently drop columns. Each set's files read with the table's
    * types for those columns, so a widened identifier column still
    * matches its narrower delete files.
    */
  private def deleteGroups(spark: SparkSession, snap: Snapshot,
      entries: Seq[ManifestEntry],
      uriFor: String => String): Seq[DeleteGroup] = {
    val pos = entries.filter(_.content == "pos_delete")
    val posGroup =
      if (pos.map(_.recordCount).sum <= 0) Nil
      else Seq(DeleteGroup(
        readDeletes(spark, snap.dir, pos, PosDeleteSchema, uriFor), Nil, pos))
    val eqGroups = entries.filter(_.content == "eq_delete")
      .groupBy(TableIO.equalityColumns(snap, _))
      .toSeq.sortBy(_._1.mkString(","))
      .map { case (keys, files) =>
        DeleteGroup(readDeletes(spark, snap.dir, files, snap.keySchema(keys),
          uriFor), keys, files)
      }
    posGroup ++ eqGroups
  }

  /** Max positional-delete rows handled via deletion vectors. Above this
    * — or when any data file's row count exceeds Int range (positions
    * are row indexes, so the manifest's recordCount bounds them with no
    * extra job; ADVICE r1: pos.toInt must never wrap), or when the
    * worst-case broadcast size exceeds [[MaxBitmapBroadcastBytes]] — the
    * reader falls back to the anti-join. Bitmap memory is ~maxPos/8
    * bytes per file (a 1M-row file's vector is 125 KB).
    */
  val BitmapDeleteThreshold = 50000000L

  /** Cap on the summed worst-case deletion-vector size (sum of data
    * recordCount/8). Beyond it the broadcast would strain the driver —
    * the anti-join path takes over (at that scale a shuffle join of DVs
    * to files is the design; not needed for this engine's workloads).
    */
  val MaxBitmapBroadcastBytes: Long = 256L << 20

  /** The merged view: data minus positional minus equality deletes.
    * `bitmapThreshold` caps the deletion-vector strategy for positional
    * deletes (0 forces the anti-join fallback). `asOfVersion` time
    * travels: the scan, the deletes, and the seq gates all come from
    * that snapshot's manifest (Iceberg `VERSION AS OF`). `uriFor`
    * rewrites each resolved file path into the URI the scan opens —
    * identity for local storage, a `graftrest://host:port/...`
    * mapping to read the table's bytes THROUGH the loopback HTTP
    * object store ([[RestObjectFileSystem]], the reference's
    * consumer-side S3 configuration): the plan is unchanged, only the
    * byte transport moves.
    *
    * Building the DataFrame reads one [[Snapshot]] (one version
    * resolution, one manifest parse, one schema read) and runs no Spark
    * job: file lists, schemas and identifier columns all come from the
    * manifest. Filters on the returned frame skip data files through
    * [[GraftFileIndex]]; `prune` only adds such filters.
    */
  def read(spark: SparkSession, root: String, ns: String, table: String,
      bitmapThreshold: Long = BitmapDeleteThreshold,
      asOfVersion: Option[Long] = None,
      prune: Seq[Prune] = Nil,
      keepProvenance: Boolean = false,
      onlyPaths: Option[Set[String]] = None,
      uriFor: String => String = identity): DataFrame = {
    val snap = TableIO.snapshot(root, ns, table, asOfVersion)
    prune.foldLeft(view(spark, snap, liveData(snap, onlyPaths),
        bitmapThreshold, keepProvenance, lineage = false, uriFor)) { (df, p) =>
      df.filter(col(p.column).cast("long").between(p.lo, p.hi))
    }
  }

  /** The merged view of an already-loaded snapshot, for a caller that
    * decides something from the same snapshot before reading it.
    */
  private[plans] def readSnapshot(spark: SparkSession, snap: Snapshot,
      keepProvenance: Boolean = false): DataFrame =
    view(spark, snap, liveData(snap), keepProvenance = keepProvenance)

  /** `snap`'s merged view over the data files `data`: the one
    * delete-application path behind [[read]], [[readAt]],
    * [[readLineage]] and [[readChanges]]. A `lineage` view adds each
    * row's stable `_row_id` after the table columns.
    *
    * Each delete group takes the cheapest strategy its manifest record
    * counts allow: a group under the broadcast threshold
    * ([[DeleteGroup.small]]) anti-joins broadcast, so the data side
    * never shuffles; a larger positional group probes deletion vectors
    * while `bitmapThreshold` and the vector caps allow, else anti-joins
    * by shuffle; a larger equality group anti-joins by shuffle hash.
    */
  private def view(spark: SparkSession, snap: Snapshot,
      data: Seq[ManifestEntry],
      bitmapThreshold: Long = BitmapDeleteThreshold,
      keepProvenance: Boolean = false,
      lineage: Boolean = false,
      uriFor: String => String = identity): DataFrame = {
    val scan = scanData(spark, snap, data, lineage, uriFor)
    val posTotal = snap.files("pos_delete").map(_.recordCount).sum
    val threshold = Bridge.broadcastThreshold(spark)
    val merged = deleteGroups(spark, snap, snap.entries, uriFor)
      .foldLeft(scan) { (df, g) =>
        // Positions are row indexes within a data file, so the manifest's
        // recordCounts bound them — the Int-wrap guard (ADVICE r1) and the
        // broadcast-size cap are pure metadata checks, no extra job.
        val useBitmap = g.positional && !g.small(threshold) &&
          posTotal <= bitmapThreshold &&
          data.forall(e =>
            e.recordCount >= 0 && e.recordCount <= Int.MaxValue.toLong) &&
          data.map(_.recordCount / 8 + 8).sum <= MaxBitmapBroadcastBytes
        if (useBitmap) {
          val dv = buildDeletionVectors(spark, g.rows, basenameSeqs(data))
          df.join(broadcast(dv), Seq("_fname"), "left")
            .filter(col("_dv").isNull || !bitmapContains(col("_dv"), col("_pos")))
            .drop("_dv")
        } else df.join(g.side(threshold), g.on(df), "left_anti")
      }
    val cols = snap.schema.fieldNames.toSeq
    val provenance = if (keepProvenance) Seq("_file", "_pos", "_seq") else Nil
    if (!lineage) merged.select((cols ++ provenance).map(col): _*)
    else merged.select(cols.map(col) ++
      Seq(coalesce(col("_row_id"), col("_frid") + col("_pos")).as("_row_id")) ++
      provenance.map(col): _*)
  }

  /** Per-file deletion vectors, built distributedly — no driver-side
    * merge (r1 collected partial bitmaps and merged them on the driver,
    * a bottleneck and an OOM risk at scale). Build shape, all codegen'd
    * until the final #files-row assembly:
    *
    *   1. seq-gate each delete row against its TARGET file's data seq
    *      (broadcast manifest join; rows for files absent from the
    *      manifest drop out, matching r1's eligible-set behavior);
    *   2. partial-aggregate 64-bit bitmap words per (file, pos>>6) with
    *      bit_or — map-side combine compresses dense delete runs 64x
    *      before the only shuffle;
    *   3. assemble each file's word list into its vector (one row per
    *      data file — small enough to broadcast under the caps).
    */
  private def buildDeletionVectors(spark: SparkSession, posDeletes: DataFrame,
      dataFiles: Seq[(String, String, Long)]): DataFrame = {
    import spark.implicits._
    // keyed on the delete rows' file_path AS WRITTEN (the manifest
    //-relative path): per-row path surgery (substring_index) on the
    // delete side measured ~5x the whole build — the broadcast manifest
    // row maps path -> file_name instead, computed once on the driver
    val seqDf = dataFiles.toDF("file_path", "_fname", "_dataseq")
    posDeletes
      .select(col("file_path"), col("pos"), col("_dseq"))
      .join(broadcast(seqDf), Seq("file_path"))
      .filter(col("_dataseq") <= col("_dseq"))
      .groupBy(col("_fname"), shiftright(col("pos"), 6).as("_w"))
      .agg(expr("bit_or(shiftleft(1L, cast(pos % 64 AS int)))").as("_word"))
      .groupBy("_fname")
      .agg(collect_list(struct(col("_w"), col("_word"))).as("_ws"))
      .as[(String, Seq[(Long, Long)])]
      .map { case (f, ws) =>
        val maxW = ws.iterator.map(_._1).max
        require(maxW < (1L << 25),
          s"deletion-vector word index $maxW out of range for $f")
        val arr = new Array[Long](maxW.toInt + 1)
        ws.foreach { case (w, word) => arr(w.toInt) = word }
        (f, arr)
      }
      .toDF("_fname", "_dv")
  }

  /** R4: the merged count — what `print_summary` predicts arithmetically
    * (`main.rs:334-345`); this engine computes the true value.
    */
  def mergedCount(spark: SparkSession, root: String, ns: String,
      table: String): Long = read(spark, root, ns, table).count()

  /** Snapshot time travel: the MOR view as of manifest version
    * `asOfVersion` — deletes committed after that snapshot are ignored
    * (Iceberg `VERSION AS OF`). Same gated logic as `read` (r1 shipped a
    * separate ungated implementation: data appended after a delete
    * snapshot would have been wrongly deleted when time-traveled).
    */
  def readAt(spark: SparkSession, root: String, ns: String, table: String,
      asOfVersion: Long): DataFrame =
    read(spark, root, ns, table, BitmapDeleteThreshold, Some(asOfVersion))

  /** COUNT(*) answered from manifest metadata alone — no data file is
    * opened (Iceberg answers `SELECT count(*)` the same way: aggregate
    * pushdown into the manifest record counts). Valid when the snapshot
    * carries no equality deletes AND every pos-delete row references a
    * live data file exactly once — both guaranteed by this engine's
    * writers (and restored by `rewritePositionDeletes`, which purges
    * dangling and duplicate targets after compactions). Returns None
    * when eq-deletes are present: their matches are data-dependent, so
    * the caller must fall back to the MOR scan. At 100 TB this is the
    * difference between O(#files) metadata and a full-corpus scan.
    */
  def countFromMetadata(root: String, ns: String, table: String,
      version: Option[Long] = None): Option[Long] = {
    val entries = TableIO.snapshot(root, ns, table, version).entries
    if (entries.exists(_.content == "eq_delete")) None
    else Some(entries.filter(_.content == "data").map(_.recordCount).sum -
      entries.filter(_.content == "pos_delete").map(_.recordCount).sum)
  }

  /** MOR read with Iceberg-v3 row lineage: every surviving row carries
    * its STABLE `_row_id`. For normally-appended files that is the
    * file's committed firstRowId + the row's physical position; files
    * rewritten by compaction carry their rows' preserved ids as a
    * MATERIALIZED `_row_id` parquet column (Iceberg v3 inheritance:
    * explicit value wins, absent inherits), so ids survive compaction
    * too. Ids survive positional deletes (positions don't shift),
    * equality deletes, and appends (monotonic high-water assignment,
    * never reused) — the identity a downstream incremental consumer
    * keys on. Files committed before lineage existed surface `_row_id`
    * as null (unknown, never fabricated). The firstRowId rides the scan
    * as a partition value, so lineage adds no join to the gated read.
    */
  def readLineage(spark: SparkSession, root: String, ns: String,
      table: String, asOfVersion: Option[Long] = None,
      onlyPaths: Option[Set[String]] = None): DataFrame = {
    val snap = TableIO.snapshot(root, ns, table, asOfVersion)
    view(spark, snap, liveData(snap, onlyPaths = onlyPaths), lineage = true)
  }

  /** MIN/MAX of a column answered from the manifest's per-file bounds —
    * the other half of aggregate pushdown into metadata. Valid only
    * when the snapshot carries NO deletes at all (any delete might
    * remove exactly the extreme row) and every data file records bounds
    * for the column; returns None otherwise and the caller scans.
    */
  def minMaxFromMetadata(root: String, ns: String, table: String,
      column: String, version: Option[Long] = None): Option[(Long, Long)] = {
    val entries = TableIO.snapshot(root, ns, table, version).entries
    val data = entries.filter(_.content == "data")
    if (entries.size != data.size || data.isEmpty ||
        !data.forall(_.bounds.contains(column))) None
    else Some((data.map(_.bounds(column)._1).min,
      data.map(_.bounds(column)._2).max))
  }

  /** CDC changelog scan (Iceberg's changelog / Delta CDF): row-level
    * changes between two snapshot versions, one pass per commit.
    * Per version v in (from, to]:
    *
    *   - data files ADDED at v emit their rows as `insert` — a plain
    *     scan of just those files (the append fast path: no join at all
    *     for append-only traffic, the overwhelmingly common case);
    *   - delete files ADDED at v emit `delete` rows: ONLY the new
    *     delete files are applied (seq-gated, per identifier set)
    *     against the view as of v-1 — rows already dead at v-1 can't
    *     re-emit, and a row hit by both a new pos- and eq-delete
    *     dedupes on its physical identity (_file, _pos);
    *   - snapshots that REMOVE files go by their header's operation
    *     marker: a `replace` (compaction rewrite) produces no change rows
    *     — the Iceberg changelog rule: a rewrite changes no logical row;
    *     a `delete`/`overwrite` also emits the dropped files' live rows
    *     as `delete`; a rollback or an unmarked version fails loudly.
    *
    * Scale shape: inserts are pure incremental scans; deletes join the
    * (small) new-delete side against one prior snapshot — never a diff
    * of two full snapshots.
    */
  def readChanges(spark: SparkSession, root: String, ns: String,
      table: String, fromVersion: Long, toVersion: Long,
      withLineage: Boolean = false): DataFrame = {
    val dir = TableIO.tableDir(root, ns, table)
    val schema = TableIO.readSchema(root, ns, table)
    val schemaCols0 = schema.fieldNames.toSeq
    // with lineage, every change row carries its stable _row_id — the
    // key an incremental consumer correlates inserts/deletes on
    val schemaCols = if (withLineage) schemaCols0 :+ "_row_id" else schemaCols0
    // The range must name real, still-retained snapshots. readManifestAt
    // returns empty for a MISSING manifest — right for v0 (the empty
    // initial table), catastrophic for an expired base: prev would read
    // as empty and the whole snapshot would be fabricated as inserts,
    // silently re-emitting every surviving row to a consumer whose
    // checkpoint fell behind the expireSnapshots horizon. Fail loudly on
    // both ends instead.
    val curV = TableIO.currentVersion(root, ns, table)
    require(0L <= fromVersion && fromVersion <= toVersion && toVersion <= curV,
      s"changelog range [$fromVersion, $toVersion] outside $ns.$table's " +
        s"history [0, $curV]")
    // each version is read once: v's snapshot is also the prev of v + 1
    val snaps = (fromVersion to toVersion).iterator
      .map(v => TableIO.snapshot(root, ns, table, Some(v)))
    val parts = snaps.sliding(2).withPartial(false).flatMap { pair =>
      val (prevSnap, snap) = (pair(0), pair(1))
      val v = snap.version
      // A rollback CHANGES content but looks replace-shaped; silently
      // skipping it (as for content-preserving compaction) would let
      // every changelog consumer diverge. Fail loudly instead — the
      // consumer must reconsume or deliberately re-point its offset.
      if (snap.isRollback)
        throw new IllegalStateException(
          s"$ns.$table v$v is a rollback: the changelog across it is not " +
            "append-derivable — reset the consumer (reconsume from " +
            s"scratch, or re-point its offset past v$v deliberately)")
      Seq(v - 1, v).filter(_ >= 1L).foreach { w =>
        if (!TableIO.manifestExists(root, ns, table, w))
          throw new IllegalStateException(
            s"$ns.$table v$w was expired (expireSnapshots): the changelog " +
              s"across it is gone — reset the consumer (reconsume from " +
              "scratch, or re-point its offset into the retained history)")
      }
      val prev = prevSnap.entries
      val cur = snap.entries
      val prevKeys = prev.map(e => (e.path, e.content)).toSet
      val curKeys = cur.map(e => (e.path, e.content)).toSet
      val dropped = prev.filterNot(e => curKeys((e.path, e.content)))
      val added = cur.filterNot(e => prevKeys((e.path, e.content)))
      // A commit that REMOVES manifest entries is replace-shaped. Its
      // operation marker (stamped by commitReplacing's call sites) says
      // whether content was preserved:
      //   "replace"              compaction/binpack/pos-delete rewrite —
      //                          same logical rows, emit nothing;
      //   "delete"/"overwrite"   DELETE WHERE dropping covered files,
      //                          TRUNCATE, INSERT OVERWRITE, partition
      //                          refresh — synthesize deletes for the
      //                          dropped files' alive rows, then process
      //                          the commit's ADDED entries as usual
      //                          (a mixed DELETE WHERE also carries
      //                          boundary pos-deletes; an overwrite also
      //                          carries inserts);
      //   unmarked               a writer that stamped no operation —
      //                          fail LOUDLY. The pre-marker behavior
      //                          (silent skip) let a CDC consumer miss
      //                          every metadata-only DELETE WHERE /
      //                          TRUNCATE forever.
      val replaceOp = if (dropped.isEmpty) None else snap.operation
      val droppedChanges: Seq[DataFrame] =
        if (dropped.isEmpty) Seq.empty
        else replaceOp match {
          case Some("replace") => Seq.empty // content-preserving rewrite
          case Some("delete") | Some("overwrite") =>
            // Dropping a DELETE file while its target data files remain
            // would RESURRECT rows — not expressible as insert/delete of
            // current content without diffing, and no writer here does
            // it (truncate drops everything; deleteWhere keeps delete
            // files). Guard loudly rather than emit wrong changes.
            val prevDataKept = prev.filter(e =>
              e.content == "data" && curKeys((e.path, e.content)))
            if (dropped.exists(_.content != "data") && prevDataKept.nonEmpty)
              throw new IllegalStateException(
                s"$ns.$table v$v drops delete files while keeping data " +
                  "files — rows may resurrect; the changelog cannot " +
                  "derive this commit (reset the consumer)")
            val droppedData = dropped.filter(_.content == "data")
            if (droppedData.isEmpty) Seq.empty
            else {
              // Alive rows of exactly the dropped files, as of the prior
              // snapshot (pos/eq deletes applied — rows already dead
              // must not be re-emitted as deletes). onlyPaths restricts
              // the scan to the dropped files: a partition-scoped
              // overwrite costs a scan of the replaced partitions, never
              // the table.
              val paths = droppedData.map(_.path).toSet
              val data = liveData(prevSnap, onlyPaths = Some(paths))
              val alive = view(spark, prevSnap, data, lineage = withLineage)
              Seq(alive.select(schemaCols.map(col): _*)
                .withColumn("_change_type", lit("delete")))
            }
          case other =>
            throw new IllegalStateException(
              s"$ns.$table v$v removes manifest entries but carries " +
                s"operation marker $other: the changelog cannot tell a " +
                "content-preserving rewrite from a content-changing " +
                "overwrite — reset the consumer (reconsume from scratch, " +
                s"or re-point its offset past v$v deliberately)")
        }
      if (replaceOp.contains("replace")) Seq.empty[DataFrame]
      else {
        // Data files the commit kept — when it also DROPPED files, the
        // added-delete scan below is restricted to these: rows of the
        // dropped files are already fully emitted as synthesized deletes
        // (they were alive at v-1), so matching them again through a new
        // pos/eq-delete would double-emit.
        val keptPrevData = prev.filter(e =>
          e.content == "data" && curKeys((e.path, e.content)))
          .map(_.path).toSet
        val addedData = added.filter(_.content == "data")
        val inserts =
          if (addedData.isEmpty) None
          else Some {
            val frid =
              if (withLineage) Seq(GraftFileIndex.firstRowIdColumn("_frid"))
              else Nil
            val scan = GraftFileIndex.scanFiles(spark, dir, addedData, schema,
              manifestColumns = frid)
            val withId = if (!withLineage) scan
              else scan.withColumn("_row_id",
                col("_frid") + col("_metadata.row_index"))
            withId.select(schemaCols.map(col): _*)
              .withColumn("_change_type", lit("insert"))
          }
        val groups = deleteGroups(spark, prevSnap, added, identity)
        val threshold = Bridge.broadcastThreshold(spark)
        val deletes =
          if (groups.isEmpty) None
          else Some {
            // pos-deletes NAME their target files, so a pos-only commit
            // restricts the prior-snapshot scan to exactly those files —
            // at corpus scale a commit deleting rows in a handful of
            // files must not scan the world. Eq-deletes match by value
            // and can land anywhere, so any eq file forces the full
            // prior view.
            val named =
              if (groups.exists(!_.positional)) None
              else Some(added.filter(_.content == "pos_delete")
                .flatMap(_.referencedFiles).toSet)
            val targetPaths =
              if (dropped.isEmpty) named
              else Some(named.fold(keptPrevData)(_.intersect(keptPrevData)))
            val alive = view(spark, prevSnap,
              liveData(prevSnap, onlyPaths = targetPaths),
              keepProvenance = true, lineage = withLineage)
            val cands = groups.map(g => alive.join(g.side(threshold),
              g.on(alive), "left_semi"))
            cands.reduce(_ union _)
              .dropDuplicates("_file", "_pos")
              .select(schemaCols.map(col): _*)
              .withColumn("_change_type", lit("delete"))
          }
        (droppedChanges ++ inserts.toSeq ++ deletes.toSeq)
          .map(_.withColumn("_change_version", lit(v.toInt)))
      }
    }.toVector
    if (parts.isEmpty) {
      import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}
      val lineageField =
        if (withLineage) Seq(StructField("_row_id", LongType)) else Nil
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(schema.fields ++ lineageField ++ Seq(
          StructField("_change_type", StringType, nullable = false),
          StructField("_change_version", IntegerType, nullable = false))))
    } else parts.reduce(_ union _)
  }

  /** Read the table at a named ref (branch or tag) — `VERSION AS OF
    * 'ref'` / Iceberg branch reads. The ref resolves to a snapshot
    * version; the fully gated read path then applies as usual.
    */
  def readRef(spark: SparkSession, root: String, ns: String, table: String,
      ref: String): DataFrame =
    readAt(spark, root, ns, table, TableIO.resolveRef(root, ns, table, ref))

  /** Incremental read: rows appended between two snapshot versions
    * (Iceberg incremental scan). With the reference workload only
    * version 1 appends data, so (0, 1] is the whole table and (1, 3]
    * is empty — general tables see per-commit increments.
    */
  def readIncremental(spark: SparkSession, root: String, ns: String,
      table: String, fromVersion: Long, toVersion: Long): DataFrame = {
    val dir = TableIO.tableDir(root, ns, table)
    val before = TableIO.readManifestAt(root, ns, table, fromVersion)
      .filter(_.content == "data").map(_.path).toSet
    val added = TableIO.readManifestAt(root, ns, table, toVersion)
      .filter(e => e.content == "data" && !before.contains(e.path))
    val schema = TableIO.readSchema(root, ns, table)
    if (added.isEmpty) {
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        schema)
    } else GraftFileIndex.scanFiles(spark, dir, added, schema)
  }
}
