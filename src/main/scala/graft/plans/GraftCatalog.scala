package graft.plans

import java.nio.file.{Files, Paths}
import java.util
import scala.jdk.CollectionConverters._
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SQLContext, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.NamedReference
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar, Max, Min}
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, Statistics, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsReportStatistics, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.{BaseRelation, Filter, InsertableRelation, TableScan}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Spark DataSourceV2 `TableCatalog` over the governed manifest tables —
  * the SQL front door: register once
  * (`spark.sql.catalog.<name> = graft.plans.GraftCatalog`,
  * `spark.sql.catalog.<name>.root = <catalog root>`) and plain SQL
  * works end to end:
  *
  * {{{
  *   CREATE NAMESPACE g.ns;
  *   CREATE TABLE g.ns.t (foo STRING, bar INT, baz BOOLEAN);
  *   INSERT INTO g.ns.t SELECT ...;     -- snapshot commit per INSERT
  *   SELECT ... FROM g.ns.t WHERE ...;  -- manifest-pruned scan
  *   SHOW TABLES IN g.ns; DROP TABLE g.ns.t;
  * }}}
  *
  * This is the reference's catalog surface (`main.rs:278-299` builds a
  * RestCatalog; D5 in SURVEY §2.3) re-expressed through Spark's own
  * catalog plugin API instead of a private client. Reads route through
  * [[GraftFileIndex]] when the snapshot is delete-free (full file
  * skipping + vectorized parquet) and through the gated [[Mor]] read
  * when deletes exist — the same split Iceberg's Spark integration
  * makes. Writes use the V1 fallback (`V1Write`): the analyzer-adjusted
  * DataFrame lands as one data file + one optimistic-concurrency
  * snapshot commit per INSERT; `INSERT OVERWRITE` publishes a replacing
  * snapshot. Both paths are the already-verified TableIO/Mor machinery,
  * so SQL and library callers see identical semantics.
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces
    with ProcedureCatalog {

  private var catalogName: String = _
  private var root: String = _

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    root = Option(options.get("root")).getOrElse(
      Files.createTempDirectory("graft-sql-catalog-").toString)
  }

  override def name(): String = catalogName

  private def ns1(namespace: Array[String]): String = {
    if (namespace.length != 1)
      throw new NoSuchNamespaceException(namespace)
    namespace(0)
  }

  // --- tables ---------------------------------------------------------

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val ns = ns1(namespace)
    if (!TableIO.namespaceExists(root, ns))
      throw new NoSuchNamespaceException(namespace)
    val dir = Paths.get(root, ns)
    val s = Files.list(dir)
    try s.iterator().asScala
      .filter(p => Files.isDirectory(p) &&
        Files.isRegularFile(p.resolve("schema.json")))
      .map(p => Identifier.of(namespace, p.getFileName.toString))
      .toArray
    finally s.close()
  }

  override def tableExists(ident: Identifier): Boolean =
    ident.namespace.length == 1 &&
      TableIO.tableExists(root, ident.namespace()(0), ident.name)

  override def loadTable(ident: Identifier): Table = {
    // Iceberg-style metadata tables: SELECT * FROM cat.ns.`t$snapshots`
    // (also $files, $refs, $partitions, $manifest)
    val metaIdx = ident.name.indexOf('$')
    if (metaIdx > 0) {
      val base = ident.name.substring(0, metaIdx)
      val kind = ident.name.substring(metaIdx + 1)
      val baseIdent = Identifier.of(ident.namespace, base)
      if (!tableExists(baseIdent)) throw new NoSuchTableException(baseIdent)
      return new GraftMetaTable(root, ident.namespace()(0), base, kind)
    }
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    new GraftSqlTable(root, ident.namespace()(0), ident.name)
  }

  /** Time travel: SELECT ... FROM cat.ns.t VERSION AS OF <v or ref>. */
  override def loadTable(ident: Identifier, version: String): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val (ns, t) = (ident.namespace()(0), ident.name)
    val v = version.toLongOption.getOrElse(
      TableIO.resolveRef(root, ns, t, version))
    require(v <= TableIO.currentVersion(root, ns, t),
      s"unknown version $version of $ns.$t")
    new GraftSqlTable(root, ns, t, atVersion = Some(v))
  }

  /** `PARTITIONED BY (bucket(n, col) | truncate(w, col) | col)` maps
    * onto the hidden-partitioning spec (Iceberg's SQL DDL shape):
    * the spec lands in table metadata, INSERTs route through the
    * partitioned writer (one file per partition value with recorded
    * partition bounds), and the bounds pruner doubles as the partition
    * pruner on reads.
    */
  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val spec = partitions.toSeq match {
      case Seq() => None
      case Seq(t) => Some(toSpec(t))
      case _ => throw new UnsupportedOperationException(
        "at most one partition transform per table")
    }
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    val ns = ns1(ident.namespace)
    spec.foreach(sp => require(schema.fieldNames.contains(sp.column),
      s"partition column ${sp.column} not in schema"))
    TableIO.createNamespace(root, ns)
    TableIO.createTableIfNotExists(root, ns, ident.name, schema)
    spec.foreach(sp => Partitioning.writeSpec(root, ns, ident.name, sp))
    loadTable(ident)
  }

  /** DSv2 transform -> PartitionSpec, matched generically on the
    * transform name with arguments in either (lit, col) or (col, lit)
    * order — `bucket(8, k)`, `truncate(100, k)`, bare `k` (identity).
    */
  private def toSpec(t: Transform): PartitionSpec = {
    import org.apache.spark.sql.connector.expressions.{Literal => V2Literal}
    val refs = t.references().toSeq.flatMap(_.fieldNames())
    require(refs.length == 1, s"transform ${t.describe()} must reference " +
      "exactly one top-level column")
    def litArg: Int = t.arguments().collectFirst {
      case l: V2Literal[_] => l.value().toString.toInt
    }.getOrElse(throw new UnsupportedOperationException(
      s"transform ${t.describe()} needs an integer argument"))
    t.name() match {
      case "identity" => PartitionSpec("identity", refs.head)
      case "bucket" => PartitionSpec("bucket", refs.head, litArg)
      case "truncate" => PartitionSpec("truncate", refs.head, litArg)
      case "days" | "day" => PartitionSpec("day", refs.head)
      case "hours" | "hour" => PartitionSpec("hour", refs.head)
      case "months" | "month" => PartitionSpec("month", refs.head)
      case "years" | "year" => PartitionSpec("year", refs.head)
      case other => throw new UnsupportedOperationException(
        s"unsupported partition transform: $other")
    }
  }

  /** ALTER TABLE schema evolution mapped onto the field-id machinery:
    * ADD COLUMN (nullable adds, schema-on-read null fill for old
    * files), RENAME COLUMN and DROP COLUMN (id-based resolution — no
    * file rewritten, identifier columns of live eq-deletes protected),
    * ALTER COLUMN TYPE (v3 promotion: int->long / float->double,
    * metadata-only, old files upcast at read).
    */
  override def alterTable(ident: Identifier,
      changes: TableChange*): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val (ns, t) = (ident.namespace()(0), ident.name)
    val spark = SparkSession.active
    changes.foreach {
      case add: TableChange.AddColumn =>
        require(add.fieldNames.length == 1, "nested adds not supported")
        TableIO.addColumn(root, ns, t,
          org.apache.spark.sql.types.StructField(
            add.fieldNames()(0), add.dataType, nullable = true))
      case rn: TableChange.RenameColumn =>
        require(rn.fieldNames.length == 1, "nested renames not supported")
        TableIO.renameColumn(spark, root, ns, t, rn.fieldNames()(0), rn.newName)
      case del: TableChange.DeleteColumn =>
        require(del.fieldNames.length == 1, "nested drops not supported")
        TableIO.dropColumn(spark, root, ns, t, del.fieldNames()(0))
      case up: TableChange.UpdateColumnType =>
        // ALTER COLUMN ... TYPE — Iceberg v3 promotion, metadata only
        require(up.fieldNames.length == 1, "nested type updates not supported")
        TableIO.widenColumn(root, ns, t, up.fieldNames()(0), up.newDataType)
      case other =>
        throw new UnsupportedOperationException(s"unsupported change: $other")
    }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean =
    if (!tableExists(ident)) false
    else { TableIO.dropTable(root, ident.namespace()(0), ident.name); true }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException("renameTable not supported")

  // --- procedures ------------------------------------------------------
  // CALL g.system.create_ref / drop_ref / rollback / expire_snapshots /
  // remove_orphan_files / rewrite_data_files / rewrite_position_deletes
  // — the Iceberg-style maintenance front door.

  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    if (ident.namespace.toSeq != Seq("system"))
      throw new NoSuchTableException(ident) // procedures live in `system`
    ident.name match {
      case "create_ref" => new CreateRefProcedure(root)
      case "drop_ref" => new DropRefProcedure(root)
      case "rollback" => new RollbackProcedure(root)
      case "expire_snapshots" => new ExpireSnapshotsProcedure(root)
      case "remove_orphan_files" => new RemoveOrphanFilesProcedure(root)
      case "rewrite_data_files" => new RewriteDataFilesProcedure(root)
      case "compact_dead_files" => new CompactDeadFilesProcedure(root)
      case "rewrite_position_deletes" =>
        new RewritePositionDeletesProcedure(root)
      case "bm25_search" => new Bm25SearchProcedure(root)
      case "ann_topk" => new AnnTopKProcedure(root)
      case "dedup_fingerprint" => new DedupFingerprintProcedure(root)
      case "refresh_mv" => new RefreshMvProcedure
      case _ => throw new NoSuchTableException(ident)
    }
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.toSeq != Seq("system")) Array.empty
    else Array("create_ref", "drop_ref", "rollback", "expire_snapshots",
        "remove_orphan_files", "rewrite_data_files",
        "rewrite_position_deletes", "bm25_search", "ann_topk",
        "dedup_fingerprint", "refresh_mv")
      .map(n => Identifier.of(Array("system"), n))

  // --- namespaces ------------------------------------------------------

  override def listNamespaces(): Array[Array[String]] = {
    val dir = Paths.get(root)
    if (!Files.isDirectory(dir)) return Array.empty
    val s = Files.list(dir)
    try s.iterator().asScala.filter(Files.isDirectory(_))
      .map(p => Array(p.getFileName.toString)).toArray
    finally s.close()
  }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else if (namespaceExists(namespace)) Array.empty
    else throw new NoSuchNamespaceException(namespace)

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.length == 1 && TableIO.namespaceExists(root, namespace(0))

  override def loadNamespaceMetadata(
      namespace: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(namespace))
      throw new NoSuchNamespaceException(namespace)
    Map.empty[String, String].asJava
  }

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit =
    TableIO.createNamespace(root, ns1(namespace))

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("alterNamespace not supported")

  override def dropNamespace(namespace: Array[String],
      cascade: Boolean): Boolean = {
    if (!namespaceExists(namespace)) return false
    val ns = ns1(namespace)
    if (!cascade && listTables(namespace).nonEmpty)
      throw new IllegalStateException(s"namespace $ns is not empty")
    TableIO.dropNamespace(root, ns)
    true
  }
}

/** One governed table exposed through the V2 `Table` API. SQL
  * `DELETE FROM ... WHERE <single-column range>` routes to the Iceberg
  * cost model in [[Dml.deleteWhere]] (covered files drop as metadata,
  * boundary files get targeted pos-deletes); `TRUNCATE TABLE` publishes
  * the O(1) empty snapshot.
  */
private[plans] class GraftSqlTable(val root: String, val ns: String,
    val t: String, atVersion: Option[Long] = None)
    extends Table with SupportsRead with SupportsWrite
    with SupportsDelete with TruncatableTable {

  override def name(): String =
    s"$ns.$t" + atVersion.map(v => s"@v$v").getOrElse("")

  override def schema(): StructType = TableIO.readSchema(root, ns, t)

  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE).asJava

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(root, ns, t, schema(), atVersion)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(atVersion.isEmpty,
      s"cannot write to a historical snapshot of $ns.$t")
    new GraftWriteBuilder(root, ns, t)
  }

  /** The conjunction of `fs` as one closed long range on one column,
    * if exactly expressible (DELETE must be exact, never a superset —
    * the opposite of pruning's contract).
    */
  private def rangeOf(fs: Array[Filter]): Option[(String, Long, Long)] = {
    def num(v: Any): Option[Long] = v match {
      case i: Int => Some(i.toLong)
      case l: Long => Some(l)
      case s: Short => Some(s.toLong)
      case _ => None
    }
    def one(f: Filter): Option[(String, Long, Long)] = f match {
      case sources.EqualTo(a, v) => num(v).map(x => (a, x, x))
      case sources.GreaterThan(a, v) => num(v).map(x => (a, x + 1, Long.MaxValue))
      case sources.GreaterThanOrEqual(a, v) => num(v).map(x => (a, x, Long.MaxValue))
      case sources.LessThan(a, v) => num(v).map(x => (a, Long.MinValue, x - 1))
      case sources.LessThanOrEqual(a, v) => num(v).map(x => (a, Long.MinValue, x))
      case sources.And(l, r) =>
        for { (ac, alo, ahi) <- one(l); (bc, blo, bhi) <- one(r)
          if ac == bc } yield (ac, math.max(alo, blo), math.min(ahi, bhi))
      case _ => None
    }
    fs.toSeq.foldLeft(Option.empty[(String, Long, Long)] -> true) {
      case ((acc, ok), f) => one(f) match {
        case Some((c, lo, hi)) if ok => acc match {
          case None => (Some((c, lo, hi)), true)
          case Some((c0, lo0, hi0)) if c0 == c =>
            (Some((c, math.max(lo0, lo), math.min(hi0, hi))), true)
          case _ => (None, false)
        }
        case _ => (None, false)
      }
    }._1
  }

  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    rangeOf(filters).isDefined

  override def deleteWhere(filters: Array[Filter]): Unit = {
    val (c, lo, hi) = rangeOf(filters).getOrElse(
      throw new UnsupportedOperationException(
        s"DELETE needs a single-column numeric range, got ${filters.mkString(", ")}"))
    Dml.deleteWhere(SparkSession.active, root, ns, t, c, lo, hi)
  }

  override def truncateTable(): Boolean = {
    Dml.truncate(root, ns, t); true
  }
}

/** Read-only Iceberg-style metadata tables addressed as
  * `cat.ns.` + "`t$kind`": `$snapshots`, `$files`, `$refs`,
  * `$partitions`, `$manifest` — each a pure-metadata relation derived
  * from the versioned manifests, queryable with full SQL.
  */
private[plans] class GraftMetaTable(root: String, ns: String, t: String,
    kind: String) extends Table with SupportsRead {

  private def df(spark: SparkSession): DataFrame = kind match {
    case "snapshots" => TableIO.snapshotsDf(spark, root, ns, t)
    case "files" => TableIO.filesMetaDf(spark, root, ns, t, "bar")
    case "refs" => TableIO.refsDf(spark, root, ns, t)
    case "partitions" => Partitioning.partitionsDf(spark, root, ns, t)
    case "manifest" => TableIO.manifestDf(spark, root, ns, t)
      .select("path", "content", "seq", "recordCount")
    // not metadata — the MOR view plus the stable per-row lineage id
    case "lineage" => Mor.readLineage(spark, root, ns, t)
    case other => throw new NoSuchTableException(
      Identifier.of(Array(ns), s"$t$$$other"))
  }

  override def name(): String = s"$ns.$t$$$kind"

  override def schema(): StructType = df(SparkSession.active).schema

  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder = () => new V1Scan {
    override def readSchema(): StructType = schema()
    override def toV1TableScan[T <: BaseRelation with TableScan](
        context: SQLContext): T = {
      new BaseRelation with TableScan {
        override def sqlContext: SQLContext = context
        override def schema: StructType = df(context.sparkSession).schema
        override def buildScan(): RDD[Row] = df(context.sparkSession).rdd
      }.asInstanceOf[T]
    }
  }
}

/** Scan builder: pushed filters drive manifest file skipping (bounds +
  * blooms via [[GraftFileIndex]]); Spark still evaluates every filter
  * above the scan (none is reported handled), so pruning can never
  * change results. Column pruning narrows the parquet read schema.
  */
private[plans] class GraftScanBuilder(root: String, ns: String, t: String,
    tableSchema: StructType,
    atVersion: Option[Long] = None) extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates {

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = tableSchema
  private var answered: Option[(StructType, Row)] = None

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters
    filters // all residual: Spark re-applies them — pruning stays a superset
  }

  override def pushedFilters(): Array[Filter] = Array.empty

  /** Aggregate pushdown into table METADATA (the JDBC-style complete
    * pushdown, answered from the manifest instead of a remote engine):
    * unfiltered, ungrouped COUNT(*) / MIN / MAX become one
    * metadata-derived row and the files are never opened. COUNT uses
    * manifest record counts (exact under pos-deletes, refuses under
    * eq-deletes); MIN/MAX use per-file bounds (refuse under ANY delete
    * — the extreme row might be the deleted one). Any unanswerable
    * aggregate rejects the whole pushdown and the ordinary scan runs.
    * At 100 TB this is the difference between a catalog query and a
    * table scan.
    */
  override def supportCompletePushDown(agg: Aggregation): Boolean =
    answer(agg).isDefined

  override def pushAggregation(agg: Aggregation): Boolean = {
    answered = answer(agg)
    answered.isDefined
  }

  private def answer(agg: Aggregation): Option[(StructType, Row)] = {
    import org.apache.spark.sql.types.{IntegerType, LongType, StructField}
    if (pushed.nonEmpty || agg.groupByExpressions.nonEmpty) return None
    def boundsCol(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[String] = e match {
      case nr: NamedReference if nr.fieldNames.length == 1 =>
        val c = nr.fieldNames()(0)
        tableSchema.find(_.name == c).map(_.dataType) match {
          // bounds are stored as longs — only integral columns answer
          case Some(IntegerType) | Some(LongType) => Some(c)
          case _ => None
        }
      case _ => None
    }
    def narrow(c: String, v: Long): Any =
      if (tableSchema(c).dataType == IntegerType) v.toInt else v
    val parts = agg.aggregateExpressions.map {
      case _: CountStar =>
        Mor.countFromMetadata(root, ns, t, atVersion)
          .map(n => (StructField("count(*)", LongType, nullable = false),
            n: Any))
      case m: Min =>
        boundsCol(m.column).flatMap(c =>
          Mor.minMaxFromMetadata(root, ns, t, c, atVersion)
            .map(b => (StructField(s"min($c)", tableSchema(c).dataType),
              narrow(c, b._1))))
      case m: Max =>
        boundsCol(m.column).flatMap(c =>
          Mor.minMaxFromMetadata(root, ns, t, c, atVersion)
            .map(b => (StructField(s"max($c)", tableSchema(c).dataType),
              narrow(c, b._2))))
      case _ => None
    }
    if (parts.exists(_.isEmpty)) None
    else Some((StructType(parts.map(_.get._1).toIndexedSeq),
      Row(parts.map(_.get._2).toIndexedSeq: _*)))
  }

  override def pruneColumns(requiredSchema: StructType): Unit =
    // an empty projection (e.g. count(*)) keeps one column for the scan
    required = if (requiredSchema.isEmpty)
      StructType(tableSchema.fields.take(1))
    else requiredSchema

  /** sources.Filter -> Column predicate for the shapes the manifest can
    * use; unsupported shapes prune nothing (they stay residual above).
    */
  private def toPredicate(f: Filter): Option[Column] = f match {
    case sources.EqualTo(a, v) => Some(col(a) === v)
    case sources.GreaterThan(a, v) => Some(col(a) > v)
    case sources.GreaterThanOrEqual(a, v) => Some(col(a) >= v)
    case sources.LessThan(a, v) => Some(col(a) < v)
    case sources.LessThanOrEqual(a, v) => Some(col(a) <= v)
    case sources.And(l, r) =>
      for (lp <- toPredicate(l); rp <- toPredicate(r)) yield lp && rp
    case _ => None
  }

  override def build(): Scan = answered match {
    case Some((aggSchema, row)) => new V1Scan {
      // the whole query result, computed from metadata: one row, no
      // file ever opened
      override def readSchema(): StructType = aggSchema
      override def toV1TableScan[T <: BaseRelation with TableScan](
          context: SQLContext): T =
        new BaseRelation with TableScan {
          override def sqlContext: SQLContext = context
          override def schema: StructType = aggSchema
          override def buildScan(): RDD[Row] =
            context.sparkSession.sparkContext.parallelize(Seq(row), 1)
        }.asInstanceOf[T]
    }
    case None => buildScanV1()
  }

  private def buildScanV1(): Scan = new V1Scan with SupportsReportStatistics {
    override def readSchema(): StructType = required

    /** Manifest-derived statistics (Iceberg reports the same numbers
      * from its manifests): live data bytes and rows. Without this a
      * DSv2 relation defaults to `defaultSizeInBytes` (effectively
      * infinite) and a small governed dimension NEVER auto-broadcasts —
      * the single biggest join-strategy miss at scale. Sizes come from
      * the files' on-disk lengths (O(#files) metadata); rows from
      * record counts net of pos-deletes when exact, else file totals
      * (a safe overestimate — stats may only err toward bigger).
      */
    override def estimateStatistics(): Statistics = new Statistics {
      private val entries = TableIO.snapshot(root, ns, t, atVersion).entries
      private val dir = TableIO.tableDir(root, ns, t)
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(math.max(1L,
          entries.filter(_.content == "data")
            .map(e => dir.resolve(e.path).toFile.length()).sum))
      override def numRows(): java.util.OptionalLong =
        Mor.countFromMetadata(root, ns, t, atVersion) match {
          case Some(n) => java.util.OptionalLong.of(n)
          case None => java.util.OptionalLong.of(
            entries.filter(_.content == "data").map(_.recordCount).sum)
        }
    }

    override def toV1TableScan[T <: BaseRelation with TableScan](
        context: SQLContext): T = {
      val req = required
      val preds = pushed.flatMap(toPredicate)
      new BaseRelation with TableScan {
        override def sqlContext: SQLContext = context
        override def schema: StructType = req
        override def buildScan(): RDD[Row] = {
          val spark = context.sparkSession
          // one snapshot decides the read path and feeds the read, so a
          // first delete commit landing in between is never read past
          val snap = TableIO.snapshot(root, ns, t, atVersion)
          val base: DataFrame =
            if (atVersion.isDefined || snap.entries.exists(_.content != "data"))
              Mor.readSnapshot(spark, snap)
            else GraftFileIndex.scanFiles(spark, snap.dir, snap.files("data"),
              snap.schema)
          val filtered = preds.foldLeft(base)(_.filter(_))
          filtered.select(req.fieldNames.toIndexedSeq.map(col): _*).rdd
        }
      }.asInstanceOf[T]
    }
  }
}

/** Write builder (V1 fallback): the analyzer-adjusted rows land as ONE
  * data file + one snapshot commit per INSERT; INSERT OVERWRITE
  * publishes a replacing snapshot. Commits ride the optimistic-
  * concurrency protocol, so concurrent SQL inserts all land.
  */
private[plans] class GraftWriteBuilder(root: String, ns: String, t: String)
    extends WriteBuilder with SupportsTruncate {

  private var overwrite = false

  override def truncate(): WriteBuilder = { overwrite = true; this }

  override def build(): Write = new V1Write {
    override def toInsertableRelation: InsertableRelation =
      new InsertableRelation {
        override def insert(data: DataFrame, overwriteArg: Boolean): Unit = {
          val spark = data.sparkSession
          val seq = TableIO.nextSeq(root, ns, t)
          // a declared partition spec routes the INSERT through the
          // partitioned writer: one file per partition value, partition
          // bounds recorded for pruning (same path batch and streaming
          // writes take)
          Partitioning.readSpec(root, ns, t) match {
            case Some(sp) =>
              val unique0 = java.util.UUID.randomUUID().toString.take(8)
              val entries = Partitioning.writePartitioned(spark, root, ns,
                t, data, sp, seq, filePrefix = s"sql-$unique0")
              if (overwrite || overwriteArg)
                TableIO.commitReplacing(root, ns, t, entries,
                  operation = Some("overwrite"))
              else TableIO.commit(root, ns, t, entries)
              return
            case None => ()
          }
          // the file name carries a UUID (as Iceberg's writers do):
          // two concurrent INSERTs read the same nextSeq, and with a
          // seq-only name the second writer would overwrite the first
          // writer's FILE while both manifests reference it — the
          // commit CAS protects metadata, never data paths (caught by
          // CatalogSqlSpec's 4-thread race: corrupted parquet footers)
          val unique = java.util.UUID.randomUUID().toString.take(8)
          val entry0 = TableIO.writeExactFile(spark, root, ns, t,
            f"data/sql-$seq%05d-$unique.parquet", data, "data", seq)
          // column bounds from the file just written — the parquet-
          // footer-metrics analogue (re-scan the ONE new file, pruned
          // to its integral columns; never the source query, which
          // would re-execute the insert's plan). Bounds feed file
          // skipping and metadata-only MIN/MAX pushdown.
          val intCols = data.schema.fields.filter(f =>
            f.dataType == org.apache.spark.sql.types.IntegerType ||
            f.dataType == org.apache.spark.sql.types.LongType)
            .map(_.name).toSeq
          val entry =
            if (intCols.isEmpty || entry0.recordCount == 0) entry0
            else entry0.copy(bounds = TableIO.longBounds(
              spark.read.parquet(
                TableIO.tableDir(root, ns, t).resolve(entry0.path).toString),
              intCols))
          if (overwrite || overwriteArg)
            TableIO.commitReplacing(root, ns, t, Seq(entry),
              operation = Some("overwrite"))
          else
            TableIO.commit(root, ns, t, Seq(entry))
        }
      }
  }
}
