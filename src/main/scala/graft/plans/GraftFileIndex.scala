package graft.plans

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, LogicalRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.StructType

/** A manifest-backed Spark `FileIndex`: the scan's file listing comes
  * from the table's committed manifest, and `listFiles` evaluates the
  * DATA FILTERS Catalyst pushes down against each file's recorded
  * column bounds — so ordinary `df.filter(...)` predicates skip files
  * with no manual prune API, exactly how Iceberg's Spark integration
  * surfaces its metadata to the planner. The mechanism composes with
  * everything that records bounds: clustered writes, z-order rewrites,
  * hidden partition values, streamed appends.
  *
  * At 100 TB this moves pruning from "the caller remembered to pass a
  * Prune" to "every query plans against the metadata" — the difference
  * between an optimization and an architecture.
  *
  * `uriFor` maps each file's absolute path to the URI the scan opens
  * (identity for local storage; see [[Mor.read]] for the REST byte
  * transport). Sizes and times come from the local file either way.
  */
final class GraftFileIndex(
    spark: SparkSession,
    tableDir: java.nio.file.Path,
    entries: Seq[ManifestEntry],
    schema: StructType,
    uriFor: String => String = identity) extends FileIndex {

  private val statuses: Seq[(ManifestEntry, FileStatus)] = entries.map { e =>
    val p = tableDir.resolve(e.path)
    val f = p.toFile
    val uri = uriFor(p.toString)
    e -> new FileStatus(f.length(), false, 1, 128L << 20, f.lastModified(),
      if (uri == p.toString) new Path(p.toUri) else new Path(uri))
  }

  override def rootPaths: Seq[Path] =
    Seq(new Path(tableDir.toUri))

  /** Closed-interval [lo, hi] constraints implied by one pushed
    * conjunct, on long-valued literals; unsupported shapes constrain
    * nothing (pruning must stay a superset).
    */
  private def constraintsOf(e: Expression): Seq[(String, Long, Long)] = {
    def lit(x: Expression): Option[Long] = x match {
      case Literal(v: Int, _) => Some(v.toLong)
      case Literal(v: Long, _) => Some(v)
      case Literal(v: Short, _) => Some(v.toLong)
      case _ => None
    }
    def attr(x: Expression): Option[String] = x match {
      case a: AttributeReference => Some(a.name)
      case Cast(a: AttributeReference, _, _, _) => Some(a.name)
      case _ => None
    }
    e match {
      case And(l, r) => constraintsOf(l) ++ constraintsOf(r)
      case EqualTo(a, v) if attr(a).isDefined && lit(v).isDefined =>
        Seq((attr(a).get, lit(v).get, lit(v).get))
      case EqualTo(v, a) if attr(a).isDefined && lit(v).isDefined =>
        Seq((attr(a).get, lit(v).get, lit(v).get))
      case GreaterThanOrEqual(a, v) if attr(a).isDefined && lit(v).isDefined =>
        Seq((attr(a).get, lit(v).get, Long.MaxValue))
      case GreaterThan(a, v) if attr(a).isDefined && lit(v).isDefined =>
        Seq((attr(a).get, lit(v).get + 1, Long.MaxValue))
      case LessThanOrEqual(a, v) if attr(a).isDefined && lit(v).isDefined =>
        Seq((attr(a).get, Long.MinValue, lit(v).get))
      case LessThan(a, v) if attr(a).isDefined && lit(v).isDefined =>
        Seq((attr(a).get, Long.MinValue, lit(v).get - 1))
      // literal-on-left comparisons, mirrored
      case GreaterThanOrEqual(v, a) if attr(a).isDefined && lit(v).isDefined =>
        Seq((attr(a).get, Long.MinValue, lit(v).get))
      case GreaterThan(v, a) if attr(a).isDefined && lit(v).isDefined =>
        Seq((attr(a).get, Long.MinValue, lit(v).get - 1))
      case LessThanOrEqual(v, a) if attr(a).isDefined && lit(v).isDefined =>
        Seq((attr(a).get, lit(v).get, Long.MaxValue))
      case LessThan(v, a) if attr(a).isDefined && lit(v).isDefined =>
        Seq((attr(a).get, lit(v).get + 1, Long.MaxValue))
      case _ => Nil
    }
  }

  /** Point-equality constraints usable by per-file BLOOM probes —
    * string or integral literals, matched against the bloom's string
    * encoding (bloomsOf hashes `CAST(col AS STRING)`). Bounds can't
    * help an equality on a scattered high-cardinality column; blooms
    * exist exactly for that case.
    */
  private def eqConstraintsOf(e: Expression): Seq[(String, String)] = {
    def strLit(x: Expression): Option[String] = x match {
      case Literal(v: org.apache.spark.unsafe.types.UTF8String, _) =>
        Some(v.toString)
      case Literal(v: Int, _) => Some(v.toString)
      case Literal(v: Long, _) => Some(v.toString)
      case _ => None
    }
    def attr(x: Expression): Option[String] = x match {
      case a: AttributeReference => Some(a.name)
      case Cast(a: AttributeReference, _, _, _) => Some(a.name)
      case _ => None
    }
    e match {
      case And(l, r) => eqConstraintsOf(l) ++ eqConstraintsOf(r)
      case EqualTo(a, v) if attr(a).isDefined && strLit(v).isDefined =>
        Seq((attr(a).get, strLit(v).get))
      case EqualTo(v, a) if attr(a).isDefined && strLit(v).isDefined =>
        Seq((attr(a).get, strLit(v).get))
      case _ => Nil
    }
  }

  /** IN-list constraints (numeric In and its optimized InSet form): a
    * file survives when ANY listed value intersects its bounds — the
    * disjunction-of-points analog of the single-range check, and the
    * shape `WHERE k IN (...)` point-lookup batches take at scale.
    */
  private def inConstraintsOf(e: Expression): Seq[(String, Seq[Long])] = {
    def num(v: Any): Option[Long] = v match {
      case i: Int => Some(i.toLong)
      case l: Long => Some(l)
      case s: Short => Some(s.toLong)
      case _ => None
    }
    e match {
      case And(l, r) => inConstraintsOf(l) ++ inConstraintsOf(r)
      case In(a: AttributeReference, vs) if vs.nonEmpty &&
          vs.forall { case Literal(v, _) => num(v).isDefined; case _ => false } =>
        Seq((a.name, vs.map { case Literal(v, _) => num(v).get }))
      case InSet(a: AttributeReference, hset) if hset.nonEmpty &&
          hset.forall(num(_).isDefined) =>
        Seq((a.name, hset.toSeq.flatMap(num)))
      case _ => Nil
    }
  }

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val cs = dataFilters.flatMap(constraintsOf)
    val eqs = dataFilters.flatMap(eqConstraintsOf)
    val ins = dataFilters.flatMap(inConstraintsOf)
    val kept = statuses.collect {
      case (e, st)
          if cs.forall { case (c, lo, hi) => e.mayContain(c, lo, hi) } &&
            eqs.forall { case (c, v) => e.mayContainEq(c, v) } &&
            ins.forall { case (c, vs) =>
              vs.exists(v => e.mayContain(c, v, v)) } =>
        st
    }
    Seq(PartitionDirectory(InternalRow.empty, kept.toArray))
  }

  override def inputFiles: Array[String] =
    statuses.map(_._2.getPath.toString).toArray

  override def refresh(): Unit = ()

  override def sizeInBytes: Long = statuses.map(_._2.getLen).sum

  override def partitionSchema: StructType = StructType(Nil)
}

object GraftFileIndex {

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
    * `_metadata.file_name`/`row_index` resolve as on any parquet scan.
    * [[Mor.read]] builds its data and delete scans here.
    */
  def scanFiles(spark: SparkSession, dir: java.nio.file.Path,
      entries: Seq[ManifestEntry], readSchema: StructType,
      uriFor: String => String = identity): DataFrame = {
    val schema = Bridge.asNullable(readSchema)
    // id-based column resolution (rename/drop survive; old files'
    // values surface under evolved names)
    if (schema.fields.exists(_.metadata.contains(TableIO.FieldIdKey)))
      spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    val index = new GraftFileIndex(spark, dir, entries, schema, uriFor)
    val relation = HadoopFsRelation(
      location = index,
      partitionSchema = StructType(Nil),
      dataSchema = schema,
      bucketSpec = None,
      fileFormat = new ParquetFileFormat,
      options = Map.empty)(spark)
    Bridge.ofRows(spark, LogicalRelation(relation, isStreaming = false))
  }
}
