package graft.plans

import java.nio.file.{Files, StandardCopyOption}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Iceberg-style partition spec: a transform over a source column that
  * routes rows to files at write time and prunes files at scan time
  * (Iceberg's hidden partitioning — queries never mention the partition
  * field; the reference's substrate supports the same specs through
  * iceberg-rust's `PartitionSpec`). Transforms:
  *
  *   - `identity`  partition value = the column value
  *   - `truncate`  value = floorDiv(column, width)   (width = `param`)
  *   - `bucket`    value = polyHash(str(column)) % n (n = `param`)
  *
  * Bucketing uses the engine-portable polynomial rolling hash (NOT
  * murmur3 as real Iceberg does) so the DuckDB oracle can replay bucket
  * membership exactly; the transform contract — same value, same
  * bucket, uniform spread — is identical.
  *
  * The partition value is recorded in each file's manifest `bounds` under
  * [[fieldName]] as a degenerate [v, v] range, and the order-preserving
  * transforms also record the source column's implied range. Queries
  * filter the source column and [[GraftFileIndex]] prunes from that
  * metadata: a range on the column checks the implied bounds, and an
  * equality on a bucket spec's column (or on the bucket expression
  * [[sparkValue]]) checks the bucket value. That is how Iceberg
  * evaluates partition predicates: partition tuples are per-file
  * metadata consulted before any file is opened. At 100 TB this is the
  * difference between touching 1/n-th of the corpus and all of it.
  */
final case class PartitionSpec(transform: String, column: String, param: Int = 0) {
  require(Set("identity", "truncate", "bucket", "day", "hour",
    "month", "year")(transform), s"unknown transform $transform")
  require(Set("identity", "day", "hour", "month", "year")(transform) ||
    param > 0, s"$transform requires a positive param")

  /** Time transforms are truncation of the column's epoch seconds (a
    * timestamp cast to long IS epoch seconds in Spark) — day/hour are
    * Iceberg's most common transforms and order-preserving, so ranges
    * prune like truncate's.
    */
  private def widthSec: Long = transform match {
    case "day" => 86400L
    case "hour" => 3600L
    case _ => 0L
  }

  /** Manifest/metadata name of the derived partition field. */
  def fieldName: String = transform match {
    case "identity" => s"p_$column"
    case "truncate" => s"p_trunc${param}_$column"
    case "bucket"   => s"p_bucket${param}_$column"
    case "day"      => s"p_day_$column"
    case "hour"     => s"p_hour_$column"
    case "month"    => s"p_month_$column"
    case "year"     => s"p_year_$column"
  }

  /** The transform as a Spark column expression (codegen'd end to end).
    * Calendar transforms (month/year) are computed from the column's
    * epoch seconds via `date_from_unix_date` — a pure-calendar DATE with
    * no timezone — NOT via `year(ts)`/`month(ts)`, which interpret the
    * instant in the SESSION timezone: a non-UTC session would route rows
    * to partitions whose recorded epoch-second bounds (always UTC, see
    * [[valueOf]]) disagree with the data, and pruning would silently
    * drop matching rows. This way executor-side routing agrees with
    * driver-side prune planning bit-for-bit in every session timezone.
    */
  def sparkValue(c: Column): Column = transform match {
    case "identity" => c.cast("long")
    case "truncate" => floor(c.cast("long") / lit(param.toLong)).cast("long")
    case "bucket" =>
      pmod(graft.functions.HashFunctions.polyHash(c.cast("string")),
        lit(param.toLong))
    case "day" | "hour" =>
      floor(c.cast("long") / lit(widthSec)).cast("long")
    case "month" =>
      val d = utcDate(c)
      (year(d) * lit(12L) + month(d) - lit(1L)).cast("long")
    case "year" => year(utcDate(c)).cast("long")
  }

  /** The column's instant as a timezone-free DATE in UTC: epoch seconds,
    * floor-divided to unix days (floorDiv semantics hold for negative
    * epochs), then `date_from_unix_date` — no session-timezone path.
    */
  private def utcDate(c: Column): Column =
    date_from_unix_date(floor(c.cast("long") / lit(86400L)).cast("int"))

  /** Driver-side twin of [[sparkValue]] for planning prunes from a key
    * literal (must agree bit-for-bit with the executor-side expression —
    * bucket reuses the very same polyHash implementation). Time and
    * calendar transforms take the key in epoch SECONDS.
    */
  def valueOf(key: Long): Long = transform match {
    case "identity" => key
    case "truncate" => Math.floorDiv(key, param.toLong)
    case "bucket" =>
      val h = graft.functions.HashExprs.polyHash(
        UTF8String.fromString(key.toString))
      ((h % param) + param) % param
    case "day" | "hour" => Math.floorDiv(key, widthSec)
    case "month" =>
      val d = java.time.Instant.ofEpochSecond(key)
        .atZone(java.time.ZoneOffset.UTC).toLocalDate
      d.getYear * 12L + d.getMonthValue - 1L
    case "year" =>
      java.time.Instant.ofEpochSecond(key)
        .atZone(java.time.ZoneOffset.UTC).getYear.toLong
  }

  /** Bucket value of a STRING key (index terms, fingerprints): the very
    * same polyHash the executor-side [[sparkValue]] applies after its
    * cast-to-string, so string-keyed buckets prune bit-for-bit. Only
    * the bucket transform is defined over strings.
    */
  def valueOfString(key: String): Long = {
    require(transform == "bucket", s"$transform cannot bucket a string key")
    val h = graft.functions.HashExprs.polyHash(UTF8String.fromString(key))
    ((h % param) + param) % param
  }
}

object Partitioning {

  /** Persist the table's partition spec (DDL-time metadata, next to
    * schema.json — Iceberg keeps specs in table metadata the same way).
    */
  def writeSpec(root: String, ns: String, table: String,
      spec: PartitionSpec): Unit =
    Files.writeString(
      TableIO.tableDir(root, ns, table).resolve("partition-spec.json"),
      specJson(spec))

  /** Partition evolution (Iceberg `UpdatePartitionSpec`): append the new
    * ACTIVE spec to the spec history — O(1) metadata, no file is
    * rewritten. Files already written keep the partition values of the
    * spec they were written under (recorded in their manifest bounds);
    * because an absent bounds key never prunes, every spec's files are
    * pruned by exactly their own spec's predicates — Iceberg's per-spec
    * partition-pruning rule falls out of the existing metadata shape.
    */
  def evolveSpec(root: String, ns: String, table: String,
      newSpec: PartitionSpec): Unit = {
    val f = TableIO.tableDir(root, ns, table).resolve("partition-spec.json")
    val prior = if (Files.isRegularFile(f)) Files.readString(f) + "\n" else ""
    Files.writeString(f, prior + specJson(newSpec))
  }

  private def specJson(spec: PartitionSpec): String =
    s"""{"transform":"${spec.transform}","column":"${spec.column}","param":${spec.param}}"""

  private val specRe =
    """\{"transform":"([^"]*)","column":"([^"]*)","param":(\d+)\}""".r

  /** Full spec history, oldest first (the active spec is the last). */
  def readSpecs(root: String, ns: String, table: String): Seq[PartitionSpec] =
    readSpecs(TableIO.tableDir(root, ns, table))

  /** [[readSpecs]] of the table at `dir`. */
  def readSpecs(dir: java.nio.file.Path): Seq[PartitionSpec] = {
    val f = dir.resolve("partition-spec.json")
    if (!Files.isRegularFile(f)) Seq.empty
    else Files.readAllLines(f).asScala.filter(_.nonEmpty).map(_.trim match {
      case specRe(t, c, p) => PartitionSpec(t, c, p.toInt)
      case other => throw new IllegalArgumentException(s"bad spec: $other")
    }).toSeq
  }

  /** The active (most recently evolved) spec. */
  def readSpec(root: String, ns: String, table: String): Option[PartitionSpec] =
    readSpecs(root, ns, table).lastOption

  /** Write `df` partitioned by `spec` as one snapshot's data files: ONE
    * distributed job (shuffle on the partition value, then a
    * directory-partitioned write), then O(#partitions) driver-side
    * renames into the manifest naming scheme. Each file's manifest entry
    * records its partition value (and, for order-preserving transforms,
    * the implied source-column range) as bounds — the scan never opens a
    * file outside the queried partitions. Returns the committed entries.
    *
    * Scale shape: data moves once through one hash shuffle (the same
    * cost Iceberg/Hive pay to cluster writes); metadata work is
    * per-partition, not per-row. Per-partition row counts come from one
    * small aggregate over the shuffle-side columns only (a production
    * writer lifts them from the write committer's task stats instead).
    */
  def writePartitioned(spark: SparkSession, root: String, ns: String,
      table: String, df: DataFrame, spec: PartitionSpec, seq: Long,
      props: WriterProps = WriterProps(),
      filePrefix: String = "part"): Seq[ManifestEntry] = {
    val dir = TableIO.tableDir(root, ns, table)
    Files.createDirectories(dir.resolve("data"))
    val aligned = TableIO.alignFieldIds(df,
      TableIO.readSchema(root, ns, table))
    val staged = aligned.withColumn("_pv", spec.sparkValue(col(spec.column)))
    val tmp = Files.createTempDirectory(dir, ".stage")
    try {
      staged
        .repartition(col("_pv")) // all rows of a value in one task = one file
        .write.partitionBy("_pv").mode("overwrite")
        .option("compression", props.compression)
        .option("parquet.block.size", props.rowGroupBytes.toString)
        .option("parquet.page.size", props.pageBytes.toString)
        .parquet(tmp.resolve("out").toString)
      // per-partition record counts for the manifest come from the files
      // JUST written (zero data columns scanned — parquet row counts +
      // the directory partition value), NOT from a second run of the
      // input DAG: pre-counting re-executed the full upstream lineage,
      // which for an index build meant re-tokenizing the whole corpus
      // (cast: partition-dir values are schema-inferred, often INT)
      val counts = spark.read.parquet(tmp.resolve("out").toString)
        .groupBy(col("_pv").cast("long").as("_pv")).count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val entries = Files.list(tmp.resolve("out")).iterator().asScala
        .filter(_.getFileName.toString.startsWith("_pv="))
        .toSeq.sortBy(_.getFileName.toString)
        .map { pdir =>
          val v = pdir.getFileName.toString.stripPrefix("_pv=").toLong
          val parts = Files.list(pdir).iterator().asScala
            .filter(p => p.getFileName.toString.startsWith("part-") &&
              p.getFileName.toString.endsWith(".parquet"))
            .toSeq
          require(parts.size == 1,
            s"expected one file for partition $v, got ${parts.size}")
          // seq in the name keeps appends under evolved specs (or later
          // snapshots) from colliding with earlier partition files
          val rel = s"data/$filePrefix-s$seq-p$v.parquet"
          Files.move(parts.head, dir.resolve(rel),
            StandardCopyOption.REPLACE_EXISTING)
          val keyBounds: Map[String, (Long, Long)] = spec.transform match {
            case "identity" => Map(spec.column -> (v, v))
            case "truncate" =>
              Map(spec.column ->
                (v * spec.param, v * spec.param + spec.param - 1))
            // time partitions record the column's epoch-second range —
            // ts-range prunes work exactly like value-range prunes
            case "day" => Map(spec.column -> (v * 86400L, v * 86400L + 86399L))
            case "hour" => Map(spec.column -> (v * 3600L, v * 3600L + 3599L))
            case "month" =>
              val start = java.time.LocalDate
                .of((v / 12L).toInt, (v % 12L).toInt + 1, 1)
              Map(spec.column -> (
                start.atStartOfDay(java.time.ZoneOffset.UTC).toEpochSecond,
                start.plusMonths(1).atStartOfDay(java.time.ZoneOffset.UTC)
                  .toEpochSecond - 1L))
            case "year" =>
              val start = java.time.LocalDate.of(v.toInt, 1, 1)
              Map(spec.column -> (
                start.atStartOfDay(java.time.ZoneOffset.UTC).toEpochSecond,
                start.plusYears(1).atStartOfDay(java.time.ZoneOffset.UTC)
                  .toEpochSecond - 1L))
            case _ => Map.empty
          }
          ManifestEntry(rel, "data", seq, counts(v),
            keyBounds + (spec.fieldName -> (v, v)))
        }
      entries
    } finally {
      Files.walk(tmp).sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(Files.delete)
    }
  }

  /** Fold a keyed delta into a bucket-partitioned index table: read its
    * bucket spec (none means not a built index), collect the bucket
    * values `delta`'s `key` column touches (at most the bucket count,
    * driver-safe), read only those buckets, and replace them with
    * `merge(current rows)`, CAS-guarded on the current version — the
    * incremental refresh of the PQ, IVF-PQ and BM25 indexes.
    */
  def foldBuckets(spark: SparkSession, root: String, ns: String,
      table: String, delta: DataFrame, key: String)(
      merge: DataFrame => DataFrame): Unit = {
    val spec = readSpec(root, ns, table).getOrElse(
      throw new IllegalStateException(
        s"$ns.$table has no bucket spec — not a built index"))
    val touched = delta.select(spec.sparkValue(col(key)).as("b")).distinct()
      .collect().map(_.getLong(0)).toSet
    val cur = Mor.read(spark, root, ns, table)
      .filter(spec.sparkValue(col(spec.column)).isin(touched.toSeq: _*))
    replacePartitions(spark, root, ns, table, merge(cur), spec, touched,
      expected = TableIO.currentVersion(root, ns, table))
  }

  /** Commit a snapshot replacing ONLY the given partition values of a
    * partitioned table with `merged`'s rows; every other partition's
    * files carry over untouched — the surgical rewrite incremental index
    * maintenance needs (refresh cost proportional to the delta, never a
    * full-table rewrite). `expected` is the CAS guard: a replay or a
    * concurrent maintainer fails loudly instead of double-applying.
    */
  def replacePartitions(spark: SparkSession, root: String, ns: String,
      table: String, merged: DataFrame, spec: PartitionSpec,
      touched: Set[Long], expected: Long): Unit = {
    val seq = TableIO.nextSeq(root, ns, table)
    val newEntries =
      if (merged.isEmpty) Nil
      else writePartitioned(spark, root, ns, table, merged, spec, seq,
        filePrefix = "refresh")
    val offTarget = newEntries.map(_.bounds(spec.fieldName)._1)
      .filterNot(touched)
    require(offTarget.isEmpty,
      s"refresh rows landed outside the replaced partitions: $offTarget")
    val keep = TableIO.readManifest(root, ns, table).filterNot(e =>
      e.content == "data" &&
        e.bounds.get(spec.fieldName).exists(b => touched(b._1)))
    TableIO.commitReplacing(root, ns, table, keep ++ newEntries,
      expectedVersion = Some(expected), operation = Some("overwrite"))
  }

  /** The `partitions` metadata table (Iceberg `table.partitions`): one
    * row per (partition field, value) with live file and record counts,
    * derived from the per-file partition values the manifest records as
    * degenerate bounds. Covers every spec in the table's history (after
    * evolution a file reports under the spec it was written with).
    * Driver-side over manifest metadata only — O(#files), never data.
    */
  def partitionsDf(spark: SparkSession, root: String, ns: String,
      table: String): DataFrame = {
    import spark.implicits._
    val fields = readSpecs(root, ns, table).map(_.fieldName).distinct
    TableIO.readManifest(root, ns, table)
      .filter(_.content == "data")
      .flatMap { e =>
        fields.flatMap(f => e.bounds.get(f).map(b => (f, b._1, e.recordCount)))
      }
      .groupBy(r => (r._1, r._2)).toSeq
      .map { case ((f, v), rs) => (f, v, rs.size.toLong, rs.map(_._3).sum) }
      .sortBy(r => (r._1, r._2))
      .toDF("partition_field", "value", "n_files", "n_rows")
  }

  /** DDL + partitioned write + commit in one step: the partitioned-table
    * analogue of the pipeline's phase-1 append.
    */
  def preparePartitioned(spark: SparkSession, root: String, ns: String,
      table: String, df: DataFrame, spec: PartitionSpec): Long = {
    TableIO.createNamespace(root, ns)
    TableIO.createTableIfNotExists(root, ns, table, df.schema)
    writeSpec(root, ns, table, spec)
    appendPartitioned(spark, root, ns, table, df)
  }

  /** Append one snapshot of data routed by the table's ACTIVE spec. */
  def appendPartitioned(spark: SparkSession, root: String, ns: String,
      table: String, df: DataFrame): Long = {
    val spec = readSpec(root, ns, table).getOrElse(
      throw new IllegalStateException(s"$ns.$table has no partition spec"))
    val entries = writePartitioned(spark, root, ns, table, df, spec,
      seq = TableIO.nextSeq(root, ns, table))
    TableIO.commit(root, ns, table, entries)
  }
}
