package graft.plans

import java.io.FileNotFoundException
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.BasicFileAttributes
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, LogicalRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType, StringType, StructField, StructType, TimestampType}
import graft.functions.PolyHash

/** A manifest-backed Spark `FileIndex`: the scan's file listing comes
  * from the table's committed manifest, and `listFiles` checks the
  * DATA FILTERS Catalyst pushes down against each file's recorded
  * metadata — column bounds, blooms and bucket partition values — so
  * ordinary `df.filter(...)` predicates skip files, exactly how
  * Iceberg's Spark integration surfaces its metadata to the planner.
  * This is the engine's one file pruner: every MOR read, SQL scan and
  * index lookup plans its skipping here. It composes with everything
  * that records metadata: clustered writes, z-order rewrites, hidden
  * partition values, streamed appends.
  *
  * `uriFor` maps each file's absolute path to the URI the scan opens
  * (identity for local storage; see [[Mor.read]] for the REST byte
  * transport). Sizes and times come from the local file either way; a
  * manifest entry whose file is missing fails the read with a
  * `FileNotFoundException` instead of reading as an empty file.
  *
  * `manifestColumns` surface per-file manifest values as PARTITION
  * columns (nullable longs): each row of a file carries its entry's
  * value, e.g. the commit sequence a merge-on-read gates deletes on, so
  * no manifest join is needed to attach it. `listFiles` returns one
  * `PartitionDirectory` per distinct value tuple and evaluates the
  * partition filters against them: Spark drops those filters from the
  * filter it applies after the scan.
  */
final class GraftFileIndex(
    spark: SparkSession,
    tableDir: java.nio.file.Path,
    entries: Seq[ManifestEntry],
    schema: StructType,
    uriFor: String => String = identity,
    manifestColumns: Seq[GraftFileIndex.ManifestColumn] = Nil)
    extends FileIndex {

  private val statuses: Seq[(ManifestEntry, FileStatus)] = entries.map { e =>
    val p = tableDir.resolve(e.path)
    val attrs = try Files.readAttributes(p, classOf[BasicFileAttributes])
    catch {
      case _: NoSuchFileException => throw new FileNotFoundException(
        s"${e.path} is in the manifest of $tableDir but missing")
    }
    val uri = uriFor(p.toString)
    e -> new FileStatus(attrs.size, false, 1, 128L << 20,
      attrs.lastModifiedTime.toMillis,
      if (uri == p.toString) new Path(p.toUri) else new Path(uri))
  }

  /** The bucket specs of the table's spec history, read on the first
    * listing that filters a bucket source column.
    */
  private lazy val bucketSpecs: Seq[PartitionSpec] =
    Partitioning.readSpecs(tableDir).filter(_.transform == "bucket")

  override def rootPaths: Seq[Path] =
    Seq(new Path(tableDir.toUri))

  /** The checks one pushed conjunct implies: a file can hold a matching
    * row only if it passes every one. Any shape not handled here implies
    * nothing, so the kept files stay a superset of the matching ones.
    */
  private def checks(e: Expression): Seq[ManifestEntry => Boolean] = e match {
    case And(l, r) => checks(l) ++ checks(r)
    case EqualTo(x, v: Literal) => anyPoint(x, Seq(v))
    case EqualTo(v: Literal, x) => anyPoint(x, Seq(v))
    case In(x, vs) if vs.forall(_.isInstanceOf[Literal]) =>
      anyPoint(x, vs.map(_.asInstanceOf[Literal]))
    case InSet(x, vs) => anyPoint(x, vs.toSeq.map(Literal(_, x.dataType)))
    case GreaterThan(x, v: Literal) => range(x, v)(w => (up(w), Long.MaxValue))
    case LessThan(v: Literal, x) => range(x, v)(w => (up(w), Long.MaxValue))
    case GreaterThanOrEqual(x, v: Literal) => range(x, v)(w => (w, Long.MaxValue))
    case LessThanOrEqual(v: Literal, x) => range(x, v)(w => (w, Long.MaxValue))
    case LessThan(x, v: Literal) => range(x, v)(w => (Long.MinValue, down(w)))
    case GreaterThan(v: Literal, x) => range(x, v)(w => (Long.MinValue, down(w)))
    case LessThanOrEqual(x, v: Literal) => range(x, v)(w => (Long.MinValue, w))
    case GreaterThanOrEqual(v: Literal, x) => range(x, v)(w => (Long.MinValue, w))
    case _ => Nil
  }

  private def up(v: Long): Long = if (v == Long.MaxValue) v else v + 1
  private def down(v: Long): Long = if (v == Long.MinValue) v else v - 1

  /** `x op v` as a bounds check, where `interval` maps the literal's
    * value to the closed interval the comparison admits, in the
    * literal's units.
    */
  private def range(x: Expression, v: Literal)(
      interval: Long => (Long, Long)): Seq[ManifestEntry => Boolean] =
    bounded(x, v).toSeq.map { case (column, w, unit) =>
      val (lo, hi) = interval(w)
      val (blo, bhi) = (Math.floorDiv(lo, unit), Math.floorDiv(hi, unit))
      (f: ManifestEntry) => f.mayContain(column, blo, bhi)
    }

  /** `x` equals one of `vs`: a file is kept when one value passes all
    * of its point checks. When some value has no check the disjunction
    * can prune nothing.
    */
  private def anyPoint(x: Expression,
      vs: Seq[Literal]): Seq[ManifestEntry => Boolean] = {
    val perValue = vs.filter(_.value != null).map(pointChecks(x, _))
    if (perValue.exists(_.isEmpty)) Nil
    else Seq(f => perValue.exists(_.forall(_(f))))
  }

  /** The checks `x = v` implies: the bounds check, the bloom probe of a
    * bare column, and the bucket of a bucket spec's source column or of
    * the bucket transform itself.
    */
  private def pointChecks(x: Expression,
      v: Literal): Seq[ManifestEntry => Boolean] = {
    val bounds = range(x, v)(w => (w, w))
    val bloomAndBucket = (x, v.value) match {
      case (a: AttributeReference, w) if v.dataType == a.dataType &&
          (a.dataType == StringType || integral(a.dataType)) =>
        val key = w.toString
        val buckets = bucketSpecs.filter(_.column == a.name).map { s =>
          val b = if (a.dataType == StringType) s.valueOfString(key)
            else s.valueOf(key.toLong)
          (f: ManifestEntry) => f.mayContain(s.fieldName, b, b)
        }
        ((f: ManifestEntry) => f.mayContainEq(a.name, key)) +: buckets
      case (Pmod(PolyHash(BucketSource(c)), Literal(n: Number, nt), _), w: Number)
          if integral(nt) && integral(v.dataType) =>
        val field = PartitionSpec("bucket", c, n.intValue).fieldName
        Seq((f: ManifestEntry) => f.mayContain(field, w.longValue, w.longValue))
      case _ => Nil
    }
    bounds ++ bloomAndBucket
  }

  /** The source column inside a bucket transform `polyHash(cast(c as
    * string))`, for an integral or string column (the cast is gone
    * once the optimizer sees a string column).
    */
  private object BucketSource {
    def unapply(e: Expression): Option[String] = e match {
      case a: AttributeReference if a.dataType == StringType => Some(a.name)
      case Cast(a: AttributeReference, StringType, _, _)
          if integral(a.dataType) => Some(a.name)
      case _ => None
    }
  }

  /** The bounds column `x` ranges over, the literal's value, and the
    * divisor from the literal's units to the bounds' (bounds hold
    * `cast(c as long)`, so a timestamp's micros become epoch seconds).
    * An integral literal needs an integral column or a widening
    * integral cast of one; a timestamp literal needs a bare timestamp
    * column.
    */
  private def bounded(x: Expression, v: Literal): Option[(String, Long, Long)] =
    (x, v.value) match {
      case (a: AttributeReference, w: Number)
          if integral(a.dataType) && integral(v.dataType) =>
        Some((a.name, w.longValue, 1L))
      case (Cast(a: AttributeReference, to, _, _), w: Number)
          if widens(a.dataType, to) && integral(v.dataType) =>
        Some((a.name, w.longValue, 1L))
      case (a: AttributeReference, w: java.lang.Long)
          if a.dataType == TimestampType && v.dataType == TimestampType =>
        Some((a.name, w.longValue, 1000000L))
      case _ => None
    }

  private val Integral = Seq(ByteType, ShortType, IntegerType, LongType)
  private def integral(t: DataType): Boolean = Integral.contains(t)
  private def widens(from: DataType, to: DataType): Boolean =
    integral(from) && Integral.indexOf(to) >= Integral.indexOf(from)

  /** `partitionFilters` as one predicate over a file's partition
    * values, in [[partitionSchema]] order.
    */
  private def partitionPredicate(
      partitionFilters: Seq[Expression]): InternalRow => Boolean =
    partitionFilters.reduceOption(And).fold((_: InternalRow) => true) { p =>
      val bound = Predicate.createInterpreted(p.transform {
        case a: AttributeReference =>
          val i = manifestColumns.indexWhere(_.name.equalsIgnoreCase(a.name))
          BoundReference(i, LongType, nullable = true)
      })
      bound.eval(_)
    }

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val cs = dataFilters.flatMap(checks)
    val admits = partitionPredicate(partitionFilters)
    val kept = statuses.collect { case (e, st) if cs.forall(_(e)) =>
      (manifestColumns.map(_.valueOf(e)), st) }
    val byValues = kept.groupMap(_._1)(_._2)
    kept.map(_._1).distinct
      .map(v => InternalRow.fromSeq(v.map(_.map(Long.box).orNull)) -> byValues(v))
      .collect { case (row, files) if admits(row) =>
        PartitionDirectory(row, files.toArray) }
  }

  override def inputFiles: Array[String] =
    statuses.map(_._2.getPath.toString).toArray

  override def refresh(): Unit = ()

  override def sizeInBytes: Long = statuses.map(_._2.getLen).sum

  override def partitionSchema: StructType =
    StructType(manifestColumns.map(c => StructField(c.name, LongType)))
}

object GraftFileIndex {

  /** A per-file manifest value a scan carries as the long partition
    * column `name`; `None` reads as null.
    */
  final case class ManifestColumn(name: String,
      valueOf: ManifestEntry => Option[Long])

  /** Each file's commit sequence number. */
  def seqColumn(name: String): ManifestColumn =
    ManifestColumn(name, e => Some(e.seq))

  /** Each data file's first row id (null for a file committed before
    * row lineage existed).
    */
  def firstRowIdColumn(name: String): ManifestColumn =
    ManifestColumn(name, _.firstRowId)

  /** A DataFrame over the table's current data files whose scan plans
    * file skipping from pushed-down filters automatically (manifest
    * bounds consulted inside the planner, not by the caller). Parquet
    * row-level pushdown, column pruning and codegen all apply as usual
    * — this only swaps the file-listing layer, like Iceberg's scan.
    */
  def scan(spark: SparkSession, root: String, ns: String,
      table: String): DataFrame = {
    val snap = TableIO.snapshot(root, ns, table)
    scanFiles(spark, snap.dir, snap.files("data"), snap.schema)
  }

  /** A scan of exactly `entries`' files read with `readSchema`, every
    * field nullable (as `spark.read.schema` reads a file source): the
    * file list comes from the manifest and the schema from the caller,
    * so building it runs no listing job and no schema-inference job.
    * `_metadata.file_name`/`row_index` resolve as on any parquet scan,
    * and each of `manifestColumns` follows the data columns as a
    * partition column. [[Mor.read]] builds its data and delete scans
    * here.
    */
  def scanFiles(spark: SparkSession, dir: java.nio.file.Path,
      entries: Seq[ManifestEntry], readSchema: StructType,
      uriFor: String => String = identity,
      manifestColumns: Seq[ManifestColumn] = Nil): DataFrame = {
    val schema = Bridge.asNullable(readSchema)
    // id-based column resolution (rename/drop survive; old files'
    // values surface under evolved names)
    if (schema.fields.exists(_.metadata.contains(TableIO.FieldIdKey)))
      spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    val index = new GraftFileIndex(spark, dir, entries, schema, uriFor,
      manifestColumns)
    val relation = HadoopFsRelation(
      location = index,
      partitionSchema = index.partitionSchema,
      dataSchema = schema,
      bucketSpec = None,
      fileFormat = new ParquetFileFormat,
      options = Map.empty)(spark)
    Bridge.ofRows(spark, LogicalRelation(relation, isStreaming = false))
  }
}
