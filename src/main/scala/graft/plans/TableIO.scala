package graft.plans

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{Metadata, StructType}

/** One entry of a snapshot manifest — the Spark-side analogue of the
  * Iceberg `DataFile` metadata the reference's writers return on `close()`
  * (`main.rs:151-159`). `content` is one of data | pos_delete | eq_delete
  * (Iceberg v2 content types); `seq` is the snapshot sequence number that
  * gates equality-delete application (R3, SURVEY.md §2.5).
  *
  * `bounds` are per-column [min, max] value ranges (Iceberg
  * `lower_bounds`/`upper_bounds`) enabling scan-time FILE SKIPPING —
  * the metadata-only pruning that matters most at 100 TB, where
  * skipping a file beats any scan speed. Long-typed columns only (the
  * key/sequence columns queries range over); a column absent from the
  * map is never pruned on (unknown = keep, the Iceberg rule).
  */
final case class ManifestEntry(
    path: String, // relative to the table location
    content: String,
    seq: Long,
    recordCount: Long,
    bounds: Map[String, (Long, Long)] = Map.empty,
    blooms: Map[String, Vector[Long]] = Map.empty,
    // Iceberg v3 row lineage: the stable id of this file's first row;
    // row N of the file has id firstRowId + N. Assigned at commit time
    // from the table's monotonic high-water mark; None on delete files
    // and on manifests written before lineage existed.
    firstRowId: Option[Long] = None,
    // Iceberg `equality_ids`: the table field ids an equality-delete
    // file's rows match on, in the file's column order. Empty on every
    // other content type and on eq-delete entries written before the
    // field existed (see [[TableIO.equalityColumns]]).
    equalityIds: Seq[Long] = Nil,
    // Iceberg `referenced_data_file`, as a list: the data files a
    // position-delete file's rows name, sorted. Empty on every other
    // content type and on position-delete entries written before the
    // field existed (see [[TableIO.referencedFiles]]).
    referencedFiles: Seq[String] = Nil
) {
  /** Can this file contain rows with `column` in [qlo, qhi]? */
  def mayContain(column: String, qlo: Long, qhi: Long): Boolean =
    bounds.get(column).forall { case (lo, hi) => hi >= qlo && lo <= qhi }

  /** Can this file contain a row with `column` == `value`? Probes the
    * column's Bloom filter (all k salted-hash bits must be set); a file
    * without a bloom for the column is always kept — same unknown-=-keep
    * rule as range bounds. Blooms prune POINT lookups on columns whose
    * values scatter across files (high-cardinality strings, hashed
    * keys), exactly where [min,max] bounds span the whole domain and
    * can never skip anything — the parquet/Iceberg bloom use case.
    */
  def mayContainEq(column: String, value: String): Boolean =
    blooms.get(column).forall(words => Bloom.mightContain(words, value))
}

/** Fixed-shape Bloom filter over the engine-portable polyHash: k salted
  * hashes into an m-bit array stored as 64-bit words (m = 64 *
  * words.length, a power of two). Deterministic, so scan-time skipping
  * is replayable by the oracle and by specs.
  */
object Bloom {
  val K = 3

  /** The k salted bit positions of `value` in an m-bit filter.
    * polyHash is already non-negative (mod 1e9+7).
    */
  def bitsFor(m: Int, value: String): Seq[Int] =
    (0 until K).map { i =>
      val h = graft.functions.HashExprs.polyHash(
        org.apache.spark.unsafe.types.UTF8String.fromString(s"b$i|$value"))
      (h % m).toInt
    }

  def mightContain(words: Vector[Long], value: String): Boolean =
    bitsFor(words.length * 64, value)
      .forall(b => (words(b >> 6) & (1L << (b & 63))) != 0L)

  /** Word count targeting ~10 bits/row, power-of-two, >= 1024 bits. */
  def wordsFor(nRows: Long): Int = {
    var bits = 1024L
    while (bits < nRows * 10 && bits < (1L << 24)) bits <<= 1
    (bits / 64).toInt
  }

  def build(values: Iterator[String], nWords: Int): Vector[Long] = {
    val arr = new Array[Long](nWords)
    values.foreach { v =>
      bitsFor(nWords * 64, v).foreach(b => arr(b >> 6) |= 1L << (b & 63))
    }
    arr.toVector
  }

  def toBase64(words: Vector[Long]): String = {
    val bb = java.nio.ByteBuffer.allocate(words.length * 8)
    words.foreach(bb.putLong)
    java.util.Base64.getEncoder.encodeToString(bb.array())
  }

  def fromBase64(s: String): Vector[Long] = {
    val bb = java.nio.ByteBuffer.wrap(java.util.Base64.getDecoder.decode(s))
    Vector.fill(bb.remaining() / 8)(bb.getLong)
  }
}

/** One read's view of a table: a manifest version, its entries, its
  * commit header and the table schema, loaded together once
  * ([[TableIO.snapshot]]). Every file list, delete gate and identifier
  * set of a MOR read comes from the same value, so a commit landing
  * while the read is built cannot pair one version's data files with
  * another's deletes. `nextRowId` is the row-id high-water mark the
  * version's header records (0 for a version without a header);
  * `operation` is the header's operation marker: a
  * [[TableIO.ReplaceOperations]] member on a marked replacing commit,
  * [[TableIO.RollbackOperation]] on a rollback, None otherwise.
  */
final case class Snapshot(dir: Path, version: Long,
    entries: Seq[ManifestEntry], schema: StructType, nextRowId: Long,
    operation: Option[String]) {
  def files(content: String): Seq[ManifestEntry] =
    entries.filter(_.content == content)

  /** Whether this version was published by [[TableIO.rollback]]. */
  def isRollback: Boolean = operation.contains(TableIO.RollbackOperation)

  /** The sequence number a commit planned on this snapshot takes. */
  def nextSeq: Long = entries.map(_.seq).maxOption.getOrElse(0L) + 1L

  /** The read schema of equality-delete files keyed on `keys`: the
    * table's fields without their field ids, since delete files carry
    * none and resolve by name. A widened column reads its narrower
    * delete files as the table's type.
    */
  def keySchema(keys: Seq[String]): StructType = StructType(keys.map(k =>
    schema(k).copy(metadata = Metadata.empty)))
}

/** Filesystem-backed emulation of the reference's catalog + commit
  * protocol (`main.rs:278-299, 353-368, 125-158`): namespaces are
  * directories, a table is a directory with data/delete parquet files plus
  * a versioned manifest, and a commit atomically publishes a new manifest
  * version — the moral equivalent of Iceberg's snapshot commit
  * (`Transaction::fast_append().apply().commit()`, `main.rs:155-158`).
  *
  * Layout:
  * {{{
  *   <root>/<namespace>/<table>/
  *     schema.json           table schema (DDL-time, D2)
  *     manifest/v<N>.json    one commit header line, then one JSON line
  *                           per ManifestEntry
  *     data/part-*.parquet
  *     deletes/{pos_delete,equality_delete}-*.parquet
  * }}}
  *
  * The header, `{"commit":{"next_row_id":N,"operation":"replace"}}`,
  * carries the table's row-id high-water mark after the commit and, on
  * replacing commits and rollbacks only, the operation marker. The
  * highest published `v<N>.json` is the current version, so one
  * compare-and-swap publish of that file is the whole commit.
  *
  * Commits are O(#files) metadata writes only — no data rewrite — which is
  * the property that makes the protocol viable at 100 TB.
  */
/** Parquet writer properties — the Spark analogue of the reference's
  * `WriterProperties::default()` (`main.rs:138`): compression codec,
  * row-group (block) size, page size. Defaults mirror Spark's own
  * (snappy, 128 MB groups, 1 MB pages). At 100 TB these knobs set the
  * scan-parallelism granularity: one row group is the minimum splittable
  * read unit, so files targeting ~128 MB-1 GB with 128 MB groups keep
  * every executor core fed without tiny-file metadata pressure.
  */
final case class WriterProps(
    compression: String = "snappy",
    rowGroupBytes: Long = 128L << 20,
    pageBytes: Long = 1L << 20)

object TableIO {

  def tableDir(root: String, ns: String, table: String): Path =
    Paths.get(root, ns, table)

  /** D1 (`main.rs:353-355`) — made idempotent; the reference errors on
    * re-run (no existence check), a quirk we fix (SURVEY.md §7 risk list).
    */
  def createNamespace(root: String, ns: String): Unit =
    Files.createDirectories(Paths.get(root, ns))

  def namespaceExists(root: String, ns: String): Boolean =
    Files.isDirectory(Paths.get(root, ns))

  def tableExists(root: String, ns: String, table: String): Boolean =
    Files.isRegularFile(tableDir(root, ns, table).resolve("schema.json"))

  /** Parquet field-id metadata key (Spark's native key: with
    * `fieldId.write.enabled` the ids embed in written footers, with
    * `fieldId.read.enabled` scans match columns BY ID instead of by
    * name — the Iceberg column-resolution mechanism that makes
    * rename/drop safe without rewriting a single file).
    */
  val FieldIdKey = "parquet.field.id"

  /** Assign sequential field ids (1-based, Iceberg-style — the
    * reference's schema uses exactly ids 1..3,
    * `fix_schema_generator.rs:37-41`) to fields lacking one.
    */
  def withFieldIds(schema: StructType): StructType = {
    val existing = schema.fields.flatMap(f =>
      if (f.metadata.contains(FieldIdKey)) Some(f.metadata.getLong(FieldIdKey))
      else None)
    // a df derived from another governed table can carry STALE id
    // metadata on several columns (e.g. `vec_id.as("cid")` inherits
    // vec_id's id): duplicate ids would corrupt id-based resolution of
    // every file written under this schema, so a non-unique id set is
    // discarded and the new table gets fresh consecutive ids
    val base =
      if (existing.distinct.length == existing.length) schema
      else StructType(schema.fields.map(f => f.copy(metadata =
        new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata).remove(FieldIdKey).build())))
    var next = base.fields.flatMap(f =>
      if (f.metadata.contains(FieldIdKey)) Some(f.metadata.getLong(FieldIdKey))
      else None).maxOption.getOrElse(0L)
    StructType(base.fields.map { f =>
      if (f.metadata.contains(FieldIdKey)) f
      else {
        next += 1
        f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata).putLong(FieldIdKey, next).build())
      }
    })
  }

  /** Attach the table schema's field ids to matching `df` columns so
    * the written file embeds them. No-op when nothing needs attaching.
    */
  def alignFieldIds(df: DataFrame, tableSchema: StructType): DataFrame = {
    import org.apache.spark.sql.functions.col
    // the TABLE's id always wins: a df column can carry a stale id
    // inherited from another table's lineage (alias/join), and writing
    // it through would embed wrong — possibly duplicate — ids
    def tableId(f: org.apache.spark.sql.types.StructField): Option[Long] =
      tableSchema.find(_.name == f.name)
        .filter(_.metadata.contains(FieldIdKey))
        .map(_.metadata.getLong(FieldIdKey))
    val needs = df.schema.fields.exists(f => tableId(f).exists(id =>
      !f.metadata.contains(FieldIdKey) ||
        f.metadata.getLong(FieldIdKey) != id))
    if (!needs) df
    else df.select(df.schema.fields.toIndexedSeq.map { f =>
      tableSchema.find(_.name == f.name) match {
        case Some(tf) if tf.metadata.contains(FieldIdKey) =>
          col(f.name).as(f.name, tf.metadata)
        case _ => col(f.name)
      }
    }: _*)
  }

  /** D2 (`main.rs:356-368`): create-if-not-exists with the generator's
    * schema; writes schema.json (field ids assigned) + empty v0
    * manifest.
    */
  def createTableIfNotExists(root: String, ns: String, table: String,
      schema: StructType): Unit = {
    if (!tableExists(root, ns, table)) {
      val dir = tableDir(root, ns, table)
      Files.createDirectories(dir.resolve("data"))
      Files.createDirectories(dir.resolve("deletes"))
      Files.createDirectories(dir.resolve("manifest"))
      val withIds = withFieldIds(schema)
      Files.writeString(dir.resolve("schema.json"), withIds.json)
      writeLastFieldId(root, ns, table, maxFieldId(withIds))
      atomicWrite(dir.resolve("manifest/v0.json"), header(0L, None))
    }
  }

  private def maxFieldId(schema: StructType): Long =
    schema.fields.flatMap(fieldId).maxOption.getOrElse(0L)

  /** Monotone field-id high-water mark (Iceberg `last-column-id`):
    * survives drops, so a re-added column name can never reuse a
    * dropped column's id and resurrect its values.
    */
  def lastFieldId(root: String, ns: String, table: String): Long = {
    val f = tableDir(root, ns, table).resolve("last-field-id.text")
    val persisted =
      if (Files.isRegularFile(f)) Files.readString(f).trim.toLong else 0L
    math.max(persisted, maxFieldId(readSchema(root, ns, table)))
  }

  private def writeLastFieldId(root: String, ns: String, table: String,
      v: Long): Unit =
    atomicWrite(tableDir(root, ns, table).resolve("last-field-id.text"),
      v.toString)

  /** D3 (`main.rs:387-393`): drop table — recursive delete. */
  def dropTable(root: String, ns: String, table: String): Unit =
    deleteRecursively(tableDir(root, ns, table))

  /** D4 (`main.rs:395`): drop namespace. */
  def dropNamespace(root: String, ns: String): Unit =
    deleteRecursively(Paths.get(root, ns))

  /** The table schema persisted at DDL time (D2). */
  def readSchema(root: String, ns: String, table: String): StructType = {
    val f = tableDir(root, ns, table).resolve("schema.json")
    org.apache.spark.sql.types.DataType.fromJson(Files.readString(f))
      .asInstanceOf[StructType]
  }

  /** Schema evolution, add-column form (Iceberg `UpdateSchema.addColumn`):
    * atomically publishes the widened schema; existing data files are
    * NEVER rewritten — the scan supplies the evolved schema and parquet
    * fills columns absent from old footers with null (schema-on-read,
    * exactly Iceberg's read-path rule for added fields). The new column
    * must be nullable for that reason. O(1) metadata, any table size.
    */
  def addColumn(root: String, ns: String, table: String,
      field: org.apache.spark.sql.types.StructField): StructType = {
    require(field.nullable,
      s"added column ${field.name} must be nullable: old files have no values")
    val cur = readSchema(root, ns, table)
    require(!cur.fieldNames.contains(field.name),
      s"column ${field.name} already exists")
    // a fresh id ABOVE the monotone high-water mark — re-adding a
    // dropped name never reuses its id and resurrects old values
    // (Iceberg id semantics via last-column-id)
    val id = lastFieldId(root, ns, table) + 1
    val tagged = field.copy(metadata =
      new org.apache.spark.sql.types.MetadataBuilder()
        .withMetadata(field.metadata).putLong(FieldIdKey, id).build())
    val evolved = StructType(cur.fields :+ tagged)
    atomicWrite(tableDir(root, ns, table).resolve("schema.json"), evolved.json)
    writeLastFieldId(root, ns, table, id)
    evolved
  }

  /** Type promotion (Iceberg v3 `UpdateSchema.updateColumn`): widen a
    * column's type in metadata only — int→long and float→double, the
    * promotions whose binary widening every reader performs losslessly.
    * No file is rewritten: old files keep the narrow physical type and
    * the evolved-schema scan upcasts at read (Spark 4's parquet reader
    * reads INT32 as LongType / FLOAT as DoubleType natively, vectorized
    * path included). The field id is preserved, so promotion composes
    * with rename/drop resolution. Delete files written before the
    * promotion still apply: the MOR join coerces their narrow key
    * column to the widened type (Iceberg's rule — promotion never
    * invalidates existing deletes).
    */
  def widenColumn(root: String, ns: String, table: String, name: String,
      newType: org.apache.spark.sql.types.DataType): StructType = {
    import org.apache.spark.sql.types.{IntegerType, LongType, FloatType,
      DoubleType}
    val cur = readSchema(root, ns, table)
    val f = cur.fields.find(_.name == name)
      .getOrElse(throw new IllegalArgumentException(s"no column $name"))
    val legal = (f.dataType, newType) match {
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case _ => false
    }
    require(legal, s"illegal promotion ${f.dataType.simpleString} -> " +
      s"${newType.simpleString}: only int->long and float->double widen " +
      "losslessly without rewriting files")
    val evolved = StructType(cur.fields.map(x =>
      if (x.name == name) x.copy(dataType = newType) else x))
    atomicWrite(tableDir(root, ns, table).resolve("schema.json"), evolved.json)
    evolved
  }

  /** Rename a column WITHOUT rewriting any file: the schema keeps the
    * field id, and id-based parquet resolution surfaces old files'
    * values under the new name (Iceberg `UpdateSchema.renameColumn`).
    * Renaming a column that live equality-delete files use as an
    * identifier is rejected — their application joins by name.
    */
  def renameColumn(spark: SparkSession, root: String, ns: String,
      table: String, oldName: String, newName: String): StructType = {
    val cur = readSchema(root, ns, table)
    require(cur.fieldNames.contains(oldName), s"no column $oldName")
    require(!cur.fieldNames.contains(newName), s"column $newName exists")
    require(cur.fields.forall(_.metadata.contains(FieldIdKey)),
      s"$ns.$table predates field ids; rename requires id-based resolution")
    require(!liveEqualityColumns(spark, root, ns, table).contains(oldName),
      s"column $oldName is an identifier of live equality-delete files")
    val evolved = StructType(cur.fields.map(f =>
      if (f.name == oldName) f.copy(name = newName) else f))
    atomicWrite(tableDir(root, ns, table).resolve("schema.json"), evolved.json)
    evolved
  }

  /** Drop a column without rewriting files (old files' extra column is
    * simply not projected). Same identifier guard as rename.
    */
  def dropColumn(spark: SparkSession, root: String, ns: String,
      table: String, name: String): StructType = {
    val cur = readSchema(root, ns, table)
    require(cur.fieldNames.contains(name), s"no column $name")
    require(cur.fields.length > 1, "cannot drop the last column")
    require(!liveEqualityColumns(spark, root, ns, table).contains(name),
      s"column $name is an identifier of live equality-delete files")
    val evolved = StructType(cur.fields.filterNot(_.name == name))
    atomicWrite(tableDir(root, ns, table).resolve("schema.json"), evolved.json)
    evolved
  }

  /** Identifier columns of the current snapshot's equality deletes. */
  private def liveEqualityColumns(spark: SparkSession, root: String,
      ns: String, table: String): Set[String] = {
    val snap = snapshot(root, ns, table)
    snap.files("eq_delete").flatMap(e => equalityColumns(spark, snap, e)).toSet
  }

  /** The snapshot at `version` (the current one when None): one version
    * resolution, one manifest parse and one schema read.
    */
  def snapshot(root: String, ns: String, table: String,
      version: Option[Long] = None): Snapshot = {
    val dir = tableDir(root, ns, table)
    val v = version.getOrElse(currentVersion(root, ns, table))
    val m = readVersion(dir, v)
    Snapshot(dir, v, m.entries, readSchema(root, ns, table), m.nextRowId,
      m.operation)
  }

  private def fieldId(f: org.apache.spark.sql.types.StructField): Option[Long] =
    if (f.metadata.contains(FieldIdKey)) Some(f.metadata.getLong(FieldIdKey))
    else None

  /** The identifier columns of an equality-delete entry, named by the
    * snapshot's schema through the entry's recorded `equalityIds`. An
    * entry without them (written before the field existed, or to a
    * table without field ids) falls back to the column names in the
    * file's parquet footer, read on the driver: no Spark job either way.
    * `uriFor` maps the file's absolute path to the URI the footer is
    * read through (see [[Mor.read]]).
    */
  def equalityColumns(spark: SparkSession, snap: Snapshot, e: ManifestEntry,
      uriFor: String => String = identity): Seq[String] = {
    val byId = snap.schema.fields.flatMap(f => fieldId(f).map(_ -> f.name)).toMap
    if (e.equalityIds.nonEmpty && e.equalityIds.forall(byId.contains))
      e.equalityIds.map(byId)
    else footer(spark, uriFor(snap.dir.resolve(e.path).toString))
      .getFileMetaData.getSchema.getFields.asScala.map(_.getName).toSeq
  }

  /** The data files a position-delete entry's rows name: its recorded
    * `referencedFiles`, or, for an entry written before the field
    * existed, the distinct `file_path` values of the file itself, read
    * on the driver: no Spark job either way.
    */
  def referencedFiles(spark: SparkSession, snap: Snapshot,
      e: ManifestEntry): Seq[String] =
    if (e.referencedFiles.nonEmpty || e.recordCount == 0) e.referencedFiles
    else filePathsOf(spark, snap.dir.resolve(e.path).toString)

  /** The sorted distinct non-null `file_path` values of a position-delete
    * file, decoded on the driver one row group at a time. */
  private def filePathsOf(spark: SparkSession, file: String): Seq[String] = {
    import org.apache.parquet.column.impl.ColumnReadStoreImpl
    import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
    import org.apache.parquet.schema.MessageType
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file), spark.sparkContext.hadoopConfiguration))
    try {
      val meta = reader.getFooter.getFileMetaData
      val proj = new MessageType(meta.getSchema.getName,
        meta.getSchema.getType(meta.getSchema.getFieldIndex("file_path")))
      val column = proj.getColumns.get(0)
      reader.setRequestedSchema(proj)
      val paths = scala.collection.mutable.Set.empty[String]
      var rowGroup = reader.readNextRowGroup()
      while (rowGroup != null) {
        val values = new ColumnReadStoreImpl(rowGroup,
          new GroupRecordConverter(proj).getRootConverter, proj,
          meta.getCreatedBy).getColumnReader(column)
        var i = 0L
        while (i < values.getTotalValueCount) {
          if (values.getCurrentDefinitionLevel == column.getMaxDefinitionLevel)
            paths += values.getBinary.toStringUsingUTF8
          values.consume()
          i += 1
        }
        rowGroup = reader.readNextRowGroup()
      }
      paths.toSeq.sorted
    } finally reader.close()
  }

  /** A parquet file's footer, read on the driver — no Spark job. */
  private def footer(spark: SparkSession,
      file: String): org.apache.parquet.hadoop.metadata.ParquetMetadata = {
    val conf = spark.sparkContext.hadoopConfiguration
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file), conf))
    try reader.getFooter finally reader.close()
  }

  /** Row count of a parquet file: the sum of its row groups' counts. */
  private def footerRowCount(spark: SparkSession, file: String): Long =
    footer(spark, file).getBlocks.asScala.map(_.getRowCount).sum

  /** Current snapshot version: the highest manifest version published
    * in the table's manifest directory (Iceberg's HadoopTableOperations
    * lists the same way).
    */
  def currentVersion(root: String, ns: String, table: String): Long = {
    val mdir = tableDir(root, ns, table).resolve("manifest")
    if (!Files.isDirectory(mdir)) 0L
    else {
      val s = Files.list(mdir)
      try s.iterator().asScala
        .map(_.getFileName.toString)
        .collect { case manifestVRe(v) => v.toLong }
        .foldLeft(0L)(math.max)
      finally s.close()
    }
  }

  private val manifestVRe = """v(\d+)\.json""".r

  /** Publish `body` as version `v`'s manifest iff no other committer
    * got there first: temp file + move WITHOUT replace is the
    * compare-and-swap (the filesystem twin of Iceberg's atomic
    * metadata-pointer swap; a REST catalog does this server-side).
    */
  private def tryPublish(dir: Path, v: Long, body: String): Boolean = {
    val tmp = Files.createTempFile(dir.resolve("manifest"), ".tmp", ".json")
    Files.writeString(tmp, body)
    // hard-link, not move: move-without-replace is check-then-act (a
    // racing committer can slip between the existence check and the
    // rename), while link(2) fails atomically if the target exists —
    // and the target appears only as a fully-written file
    try { Files.createLink(dir.resolve(s"manifest/v$v.json"), tmp); true }
    catch { case _: java.nio.file.FileAlreadyExistsException => false }
    finally Files.deleteIfExists(tmp)
  }

  /** The one commit path behind [[commit]], [[commitAppendExpecting]],
    * [[commitReplacing]] and [[rollback]]: read version `base` once,
    * stamp `added`'s unassigned data entries with row ids, and publish
    * version `base + 1` — `base`'s entries plus `added` when `keepBase`,
    * else `added` alone — with its commit header. False when another
    * committer published `base + 1` first; the caller's policy decides
    * what a lost race means.
    *
    * Row lineage (Iceberg v3): every committed data file gets a
    * `firstRowId` from the table's monotonic high-water mark, so row N
    * of the file has the STABLE id firstRowId + N: unaffected by
    * positional deletes (positions don't shift) and by appends, and
    * never reused. The mark is the higher of `base`'s header mark and
    * the highest id `base`'s entries hold, and the new header carries
    * it forward, so a truncate or a rollback to an older version never
    * lowers it. Delete files carry no lineage; entries the caller
    * stamped (a rollback republishing an old manifest) keep theirs.
    */
  private def publish(dir: Path, base: Long, added: Seq[ManifestEntry],
      keepBase: Boolean, operation: Option[String]): Boolean = {
    val prior = readVersion(dir, base)
    var next = rowIdMark(prior.nextRowId, prior.entries)
    val stamped = added.map { e =>
      if (e.content != "data" || e.firstRowId.isDefined || e.recordCount < 0) e
      else {
        val s = e.copy(firstRowId = Some(next))
        next += e.recordCount
        s
      }
    }
    val entries = if (keepBase) prior.entries ++ stamped else stamped
    tryPublish(dir, base + 1, (header(rowIdMark(next, entries), operation) +:
      entries.map(entryToJson)).mkString("\n"))
  }

  private def rowIdMark(mark: Long, entries: Seq[ManifestEntry]): Long =
    entries.flatMap(e => e.firstRowId.map(_ + e.recordCount))
      .foldLeft(mark)(math.max)

  /** K6 (`main.rs:125-158`): one atomic append commit = publish the new
    * full manifest v(N+1). Readers racing a commit see either vN or
    * v(N+1), never a partial manifest.
    *
    * Optimistic concurrency: losing a publish race re-reads the new
    * base manifest and retries — a fast-append conflicts with nothing
    * (it only adds files), so the retry always converges; two racing
    * appends BOTH land, as consecutive versions. Without the CAS the
    * second writer would silently overwrite the first's snapshot (lost
    * update) — on a 1000-executor cluster with concurrent writers this
    * is the difference between a table format and a directory of files.
    */
  def commit(root: String, ns: String, table: String,
      newEntries: Seq[ManifestEntry]): Long = {
    val dir = tableDir(root, ns, table)
    var attempts = 0
    while (attempts < 1000) {
      val v = currentVersion(root, ns, table)
      if (publish(dir, v, newEntries, keepBase = true, None)) return v + 1
      attempts += 1
    }
    throw new IllegalStateException(
      s"commit to $ns.$table lost ${attempts} publish races — aborting")
  }

  /** One-shot append that lands ONLY as version `expected + 1`: the
    * manifest hard-link ([[tryPublish]]) IS the compare-and-swap, so
    * two concurrent commits carrying the same expected version cannot
    * both succeed — exactly one wins the link, the other gets
    * Left(current) and must re-plan. This is the REST commit route's
    * primitive (ADVICE r12): a read-compare-then-[[commit]] sequence on
    * a threaded handler pool is check-then-act, and [[commit]]'s blind
    * retry would let the loser land as expected + 2, silently voiding
    * the 409 contract the route advertises. The base manifest is read
    * AT `expected` (immutable once published), so a racer advancing the
    * table mid-flight cannot skew what this commit appends onto, and the
    * row ids it assigns start from that base's own mark.
    */
  def commitAppendExpecting(root: String, ns: String, table: String,
      newEntries: Seq[ManifestEntry],
      expected: Long): Either[Long, Long] = {
    val cur = currentVersion(root, ns, table)
    if (cur != expected) Left(cur)
    else if (publish(tableDir(root, ns, table), expected, newEntries,
        keepBase = true, None)) Right(expected + 1)
    else Left(currentVersion(root, ns, table))
  }

  /** Commit a snapshot whose manifest REPLACES the previous content
    * entirely (compaction/rewrite). Unlike a fast-append this CANNOT
    * blindly retry: the replacement was computed FROM a base snapshot,
    * and a concurrent commit means that base is stale (Iceberg fails
    * rewrites on conflicting updates the same way). The caller re-plans
    * against the new head if it still wants the rewrite.
    *
    * Rewritten files still get a fresh firstRowId (Iceberg v3 assigns
    * one to every data file), but it is only the INHERITANCE fallback:
    * compaction materializes each row's preserved _row_id as a physical
    * column, which lineage reads prefer (Mor.readLineage's coalesce) —
    * so ids survive the rewrite's row reordering.
    *
    * `operation` is the changelog's only way to tell a
    * content-preserving rewrite ("replace": compaction, binpack,
    * pos-delete rewrite) from a content-CHANGING one ("delete"/
    * "overwrite": DELETE WHERE dropping covered files, TRUNCATE, INSERT
    * OVERWRITE, partition refresh). It rides in the published header,
    * so a replace-shaped version is never visible without its marker;
    * an unmarked one (a caller passing None) makes Mor.readChanges fail
    * loudly — never a silent wrong answer.
    */
  def commitReplacing(root: String, ns: String, table: String,
      entries: Seq[ManifestEntry],
      expectedVersion: Option[Long] = None,
      operation: Option[String] = None): Long = {
    operation.foreach(op => require(ReplaceOperations(op),
      s"unknown replace operation marker '$op' " +
        s"(expected one of ${ReplaceOperations.mkString(", ")})"))
    val v = currentVersion(root, ns, table)
    expectedVersion.filter(_ != v).foreach { e =>
      throw new java.util.ConcurrentModificationException(
        s"$ns.$table is at v$v but the rewrite was planned from v$e — re-plan")
    }
    if (!publish(tableDir(root, ns, table), v, entries, keepBase = false,
        operation))
      throw new java.util.ConcurrentModificationException(
        s"$ns.$table advanced past v$v during a replacing commit — re-plan")
    v + 1
  }

  /** Content tag of a zero-row manifest entry that carries table-level
    * key→value properties in its `bounds` map (each value stored as a
    * degenerate [v, v] range). Properties that GOVERN how committed
    * rows are interpreted (a bloom index's (bits, kHashes), a
    * quantizer's codebook id) ride the same versioned, CAS-committed
    * manifest as the files themselves — a reader extracts params and
    * file list from ONE snapshot, so params can never be observed
    * stale relative to the rows (ADVICE r8: the bloom sidecar was a
    * bare Files.writeString outside the commit protocol).
    */
  val PropsContent = "props"

  /** Build a props entry. `path` doubles as the property-set name; no
    * physical file exists at it (recordCount 0, never scanned — every
    * read path filters on content type).
    */
  def propsEntry(name: String, props: Map[String, Long]): ManifestEntry =
    ManifestEntry(s"props/$name", PropsContent, 0L, 0L,
      props.map { case (k, v) => k -> (v, v) })

  /** The property set `name` at the current (or a given) snapshot. */
  def readProps(root: String, ns: String, table: String, name: String,
      version: Option[Long] = None): Option[Map[String, Long]] = {
    snapshot(root, ns, table, version).entries
      .find(e => e.content == PropsContent && e.path == s"props/$name")
      .map(_.bounds.map { case (k, (lo, _)) => k -> lo })
  }

  /** Operation markers accepted by [[commitReplacing]]. `replace` =
    * content-preserving rewrite (the changelog emits nothing across it);
    * `delete`/`overwrite` = content-changing (the changelog synthesizes
    * deletes for dropped files and inserts for added ones).
    */
  val ReplaceOperations: Set[String] = Set("replace", "delete", "overwrite")

  /** The operation marker in a [[rollback]]'s header. */
  val RollbackOperation = "rollback"

  /** The operation marker a replacing commit was stamped with, if any.
    * None for append commits, rollbacks and unmarked replacing commits.
    */
  def replaceOperation(root: String, ns: String, table: String,
      version: Long): Option[String] =
    snapshot(root, ns, table, Some(version)).operation.filter(ReplaceOperations)

  def readManifest(root: String, ns: String, table: String): Seq[ManifestEntry] =
    readManifestAt(root, ns, table, currentVersion(root, ns, table))

  /** The manifest as of a specific snapshot version (time travel),
    * without its commit header. */
  def readManifestAt(root: String, ns: String, table: String,
      version: Long): Seq[ManifestEntry] =
    readVersion(tableDir(root, ns, table), version).entries

  /** A published manifest version: its entries and its header's row-id
    * mark and operation marker. */
  private final case class Version(entries: Seq[ManifestEntry],
      nextRowId: Long, operation: Option[String])

  /** Version `v` of the manifest under `dir`, parsed once. A missing
    * version reads as empty; a version without a header line (a
    * hand-written manifest) as mark 0 and no operation.
    */
  private def readVersion(dir: Path, v: Long): Version = {
    val f = dir.resolve(s"manifest/v$v.json")
    val lines =
      if (!Files.isRegularFile(f)) Nil
      else Files.readAllLines(f).asScala.toSeq.filter(_.nonEmpty)
    lines.headOption.map(_.trim) match {
      case Some(headerRe(mark, op)) =>
        Version(lines.tail.map(entryFromJson), mark.toLong, Option(op))
      case _ => Version(lines.map(entryFromJson), 0L, None)
    }
  }

  private def header(nextRowId: Long, operation: Option[String]): String =
    s"""{"commit":{"next_row_id":$nextRowId""" +
      operation.map(op => s""","operation":"$op"""").getOrElse("") + "}}"

  private val headerRe =
    """\{"commit":\{"next_row_id":(\d+)(?:,"operation":"([^"]*)")?\}\}""".r

  /** Next sequence number = snapshot ordinal (the reference commits one
    * snapshot per phase: data=1, pos-deletes=2, eq-deletes=3;
    * `main.rs:157-158, 212-213, 272-273`).
    */
  def nextSeq(root: String, ns: String, table: String): Long =
    snapshot(root, ns, table).nextSeq

  /** Exact per-column [min, max] of long-typed columns — for callers
    * that can't derive bounds in closed form (one small agg job; a
    * production writer reads them from the parquet footer metrics it
    * just wrote, as Iceberg does — no extra job).
    */
  def longBounds(df: DataFrame, cols: Seq[String]): Map[String, (Long, Long)] =
    if (cols.isEmpty) Map.empty
    else {
      import org.apache.spark.sql.functions.{min => fmin, max => fmax, col}
      val aggs = cols.flatMap(c => Seq(
        fmin(col(c).cast("long")).as(s"lo_$c"), fmax(col(c).cast("long")).as(s"hi_$c")))
      val r = df.agg(aggs.head, aggs.tail: _*).head()
      cols.zipWithIndex.flatMap { case (c, i) =>
        // empty input / all-null column: no bounds (absent = never
        // pruned, never answers min/max pushdown — the safe default)
        if (r.isNullAt(2 * i)) None
        else Some(c -> (r.getLong(2 * i), r.getLong(2 * i + 1)))
      }.toMap
    }

  /** Per-column Bloom filters over `df` for point-lookup file skipping,
    * built DISTRIBUTEDLY in one job for all columns: each value's k
    * salted bit positions are partial-aggregated into 64-bit words with
    * `bit_or` (the deletion-vector build's shape,
    * `Mor.buildDeletionVectors`) — map-side combine compresses the bit
    * stream to at most nWords rows per column BEFORE the only shuffle,
    * so the driver materializes word rows bounded by the FILTER size
    * (<= nWords per column, ~2 MB at the 2^24-bit cap), never the
    * per-row bit positions. A production writer folds this into the
    * write pass itself (parquet footer blooms do exactly that); here it
    * is one extra scan of the filtered columns only.
    */
  def bloomsOf(df: DataFrame, cols: Seq[String],
      nRows: Long): Map[String, Vector[Long]] = {
    if (cols.isEmpty) return Map.empty
    import org.apache.spark.sql.functions._
    val nWords = Bloom.wordsFor(nRows)
    val m = nWords * 64
    val bits = cols.flatMap { c =>
      (0 until Bloom.K).map { i =>
        struct(lit(c).as("_c"),
          pmod(graft.functions.HashFunctions.polyHash(
            concat(lit(s"b$i|"), col(c).cast("string"))), lit(m.toLong))
            .as("_b"))
      }
    }
    val words = df.select(explode(array(bits: _*)).as("e"))
      .select(col("e._c").as("_c"), col("e._b").as("_b"))
      .groupBy(col("_c"), shiftright(col("_b"), 6).as("_w"))
      .agg(expr("bit_or(shiftleft(1L, cast(_b % 64 AS int)))").as("_word"))
      .collect()
    val acc = cols.map(c => c -> new Array[Long](nWords)).toMap
    words.foreach(r => acc(r.getString(0))(r.getLong(1).toInt) = r.getLong(2))
    acc.map { case (c, a) => c -> a.toVector }
  }

  /** Write `df` as EXACTLY one parquet file at `relPath` under the table
    * location — the per-file writer (K1/K2, `main.rs:137-151`): the
    * reference writes one RecordBatch per named file. Returns the entry
    * (not yet committed). Without a `recordCount` from the caller, the
    * count comes from the written file's footer, on the driver. An
    * `eq_delete` entry records the table field ids of the columns it
    * writes as its `equalityIds` (the reference's
    * `EqualityDeleteWriterConfig::new(ids, ...)`, `main.rs:242-247`).
    * A `pos_delete` file is written sorted by (`file_path`, `pos`), as
    * Iceberg requires, whatever order `df` has.
    */
  def writeExactFile(spark: SparkSession, root: String, ns: String,
      table: String, relPath: String, df: DataFrame, content: String,
      seq: Long, recordCount: Long = -1L,
      props: WriterProps = WriterProps(),
      bounds: Map[String, (Long, Long)] = Map.empty,
      blooms: Map[String, Vector[Long]] = Map.empty): ManifestEntry = {
    val dir = tableDir(root, ns, table)
    val target = dir.resolve(relPath)
    Files.createDirectories(target.getParent)
    val tmp = Files.createTempDirectory(dir, ".stage")
    // data files embed the table's field ids (id-based resolution);
    // delete files read by name/position and stay as given
    val schema = if (tableExists(root, ns, table))
      Some(readSchema(root, ns, table)) else None
    // position deletes are written in Iceberg's (file_path, pos) order,
    // sorted here in one task: a global orderBy before the single-file
    // write would add a range exchange and its sampling job
    val out =
      if (content == "pos_delete")
        df.repartition(1).sortWithinPartitions("file_path", "pos")
      else schema.filter(_ => content == "data")
        .fold(df)(alignFieldIds(df, _))
    val equalityIds = schema.filter(_ => content == "eq_delete").toSeq
      .flatMap { s =>
        val ids = df.columns.toSeq.map(c => s.find(_.name == c).flatMap(fieldId))
        if (ids.forall(_.isDefined)) ids.flatten else Nil
      }
    try {
      out.coalesce(1).write.mode("overwrite")
        .option("compression", props.compression)
        .option("parquet.block.size", props.rowGroupBytes.toString)
        .option("parquet.page.size", props.pageBytes.toString)
        .parquet(tmp.resolve("out").toString)
      val part = Files.list(tmp.resolve("out")).iterator().asScala
        .filter(p => p.getFileName.toString.startsWith("part-") &&
          p.getFileName.toString.endsWith(".parquet"))
        .toSeq.headOption
        .getOrElse(throw new IllegalStateException(s"no part file in $tmp"))
      Files.move(part, target, StandardCopyOption.REPLACE_EXISTING)
      val n = if (recordCount >= 0) recordCount
        else footerRowCount(spark, target.toString)
      val referenced =
        if (content == "pos_delete") filePathsOf(spark, target.toString)
        else Nil
      ManifestEntry(relPath, content, seq, n, bounds, blooms,
        equalityIds = equalityIds, referencedFiles = referenced)
    } finally deleteRecursively(tmp)
  }

  /** Absolute paths of the current snapshot's files of one content type. */
  def filesOf(root: String, ns: String, table: String,
      content: String): Seq[(String, Long)] = {
    val dir = tableDir(root, ns, table)
    readManifest(root, ns, table).filter(_.content == content)
      .map(e => (dir.resolve(e.path).toString, e.seq))
  }

  /** The manifest as a DataFrame for metadata queries (file counts,
    * record counts per snapshot — what Iceberg exposes as the `files`
    * metadata table).
    */
  def manifestDf(spark: SparkSession, root: String, ns: String,
      table: String): DataFrame = {
    import spark.implicits._
    readManifest(root, ns, table).toDF()
  }

  /** The `files` metadata table (Iceberg `table.files`): one row per
    * live file with its content type, commit seq, record count, and the
    * recorded [lo, hi] bounds of `boundCol` (null when absent) — file-
    * skipping metadata as a queryable relation, the surface engineers
    * use to see WHY a query pruned (or didn't).
    */
  def filesMetaDf(spark: SparkSession, root: String, ns: String,
      table: String, boundCol: String): DataFrame = {
    import spark.implicits._
    readManifest(root, ns, table).map { e =>
      val b = e.bounds.get(boundCol)
      (e.path, e.content, e.seq, e.recordCount,
        b.map(_._1), b.map(_._2))
    }.toDF("path", "content", "seq", "record_count", "lo", "hi")
  }

  /** The `snapshots` metadata table: one row per committed version with
    * the operation kind and added/total file and record counts — the
    * Iceberg `table.snapshots` surface. Derived entirely from the
    * versioned manifests (deterministic: no wall-clock timestamps), so
    * it is oracle-replayable. `overwrite` = some previous file left the
    * manifest (compaction, rollback); `append` otherwise.
    */
  def snapshotsDf(spark: SparkSession, root: String, ns: String,
      table: String): DataFrame = {
    val manifests = (0L to currentVersion(root, ns, table)).iterator
      .map(readManifestAt(root, ns, table, _))
    val rows = manifests.sliding(2).withPartial(false).zipWithIndex.map {
      case (Seq(prev, cur), i) =>
        val prevKeys = prev.map(e => (e.path, e.content)).toSet
        val curKeys = cur.map(e => (e.path, e.content)).toSet
        val added = cur.filterNot(e => prevKeys((e.path, e.content)))
        val op = if (prevKeys.exists(!curKeys(_))) "overwrite" else "append"
        (i + 1, op, added.size.toLong, added.map(_.recordCount).sum,
          cur.size.toLong, cur.filter(_.content == "data").map(_.recordCount).sum)
    }.toSeq
    import spark.implicits._
    rows.toDF("version", "operation", "added_files", "added_records",
      "total_files", "total_data_records")
  }

  /** The `refs` metadata table (Iceberg `table.refs`): one row per named
    * ref — every branch/tag from refs.json plus the implicit `main`
    * branch at the current version. Metadata-only, O(#refs).
    */
  def refsDf(spark: SparkSession, root: String, ns: String,
      table: String): DataFrame = {
    import spark.implicits._
    val named = readRefs(root, ns, table).toSeq
      .map { case (n, (t, v)) => (n, t, v) }
    (("main", "branch", currentVersion(root, ns, table)) +: named)
      .sortBy(_._1)
      .toDF("name", "type", "version")
  }

  // --- named refs (Iceberg branches and tags) -------------------------
  // refs.json holds one line per ref: a name pointing at a snapshot
  // version. Tags are immutable once created; branches may be advanced.
  // Metadata-only (O(#refs) bytes), any table size.

  private def refsFile(root: String, ns: String, table: String): Path =
    tableDir(root, ns, table).resolve("refs.json")

  def readRefs(root: String, ns: String, table: String): Map[String, (String, Long)] = {
    val f = refsFile(root, ns, table)
    if (!Files.isRegularFile(f)) Map.empty
    else Files.readAllLines(f).asScala.filter(_.nonEmpty).map { line =>
      line.trim match {
        case refRe(n, t, v) => n -> (t, v.toLong)
        case other => throw new IllegalArgumentException(s"bad ref line: $other")
      }
    }.toMap
  }

  /** Create a tag or branch at `version`. Re-pointing an existing tag is
    * rejected (Iceberg tags are immutable); a branch is re-pointed in
    * place (fast-forward / rewind are both just pointer moves here).
    */
  def setRef(root: String, ns: String, table: String, name: String,
      refType: String, version: Long): Unit = {
    require(refType == "tag" || refType == "branch", s"bad ref type $refType")
    require(version >= 0 && version <= currentVersion(root, ns, table),
      s"ref $name points at unknown version $version")
    val refs = readRefs(root, ns, table)
    refs.get(name).foreach { case (t, v) =>
      require(t == "branch" && refType == "branch",
        s"ref $name already exists as a $t at v$v and cannot be re-pointed")
    }
    writeRefs(root, ns, table, refs + (name -> (refType, version)))
  }

  def dropRef(root: String, ns: String, table: String, name: String): Unit =
    writeRefs(root, ns, table, readRefs(root, ns, table) - name)

  /** The snapshot version a ref points at. */
  def resolveRef(root: String, ns: String, table: String, name: String): Long =
    readRefs(root, ns, table).getOrElse(name,
      throw new NoSuchElementException(s"no ref $name on $ns.$table"))._2

  /** Roll the table back to snapshot `toVersion` by publishing a NEW
    * version whose manifest equals the old one (Iceberg
    * `rollback_to_snapshot`): history is preserved — every prior
    * manifest stays readable by version or tag — and the operation is
    * O(manifest) metadata, never a data rewrite.
    */
  def rollback(root: String, ns: String, table: String, toVersion: Long): Long = {
    val cur = currentVersion(root, ns, table)
    require(toVersion <= cur,
      s"cannot roll back to unknown version $toVersion")
    // CAS on the version the rollback was decided against: a concurrent
    // append between decision and publish must fail the rollback (the
    // operator re-decides with the new commit in view), not be silently
    // erased by republishing the old manifest over it. The header marks
    // the version as a rollback: it CHANGES logical content, but its
    // manifest is replace-shaped — indistinguishable from a
    // content-preserving compaction — so changelog consumers (Ivm,
    // replication, index refresh) fail loudly crossing it instead of
    // silently emitting nothing and diverging ([[Mor.readChanges]]).
    if (!publish(tableDir(root, ns, table), cur,
        readManifestAt(root, ns, table, toVersion), keepBase = false,
        Some(RollbackOperation)))
      throw new java.util.ConcurrentModificationException(
        s"$ns.$table advanced past v$cur during a rollback — re-decide")
    cur + 1
  }

  /** Whether `version` was published by [[rollback]]. */
  def isRollback(root: String, ns: String, table: String,
      version: Long): Boolean =
    snapshot(root, ns, table, Some(version)).isRollback

  /** Whether `version`'s manifest file is still on disk. False for a
    * committed-then-expired snapshot ([[graft.plans.Maintenance
    * .expireSnapshots]]); v0 (the empty initial table) never has one.
    * [[readManifestAt]] deliberately reads a missing manifest as empty —
    * callers for whom expired and empty differ (the changelog) check
    * this first.
    */
  def manifestExists(root: String, ns: String, table: String,
      version: Long): Boolean =
    Files.isRegularFile(
      tableDir(root, ns, table).resolve(s"manifest/v$version.json"))

  private val refRe = """\{"name":"([^"]*)","type":"([^"]*)","version":(\d+)\}""".r

  private def writeRefs(root: String, ns: String, table: String,
      refs: Map[String, (String, Long)]): Unit =
    atomicWrite(refsFile(root, ns, table),
      refs.toSeq.sortBy(_._1).map { case (n, (t, v)) =>
        s"""{"name":"$n","type":"$t","version":$v}"""
      }.mkString("\n"))

  // --- tiny JSON codec for manifest lines (fixed shape, no deps) ---
  private[plans] def entryToJson(e: ManifestEntry): String = {
    val base = s""""path":"${e.path}","content":"${e.content}",""" +
      s""""seq":${e.seq},"record_count":${e.recordCount}""" +
      e.firstRowId.map(r => s""","first_row_id":$r""").getOrElse("") +
      (if (e.equalityIds.isEmpty) ""
       else e.equalityIds.mkString(""","equality_ids":[""", ",", "]")) +
      (if (e.referencedFiles.isEmpty) ""
       else e.referencedFiles.map(p => s""""$p"""")
         .mkString(""","referenced_data_files":[""", ",", "]"))
    val b = if (e.bounds.isEmpty) "" else
      e.bounds.toSeq.sortBy(_._1).map { case (c, (lo, hi)) =>
        s""""$c":[$lo,$hi]"""
      }.mkString(""","bounds":{""", ",", "}")
    val bl = if (e.blooms.isEmpty) "" else
      e.blooms.toSeq.sortBy(_._1).map { case (c, words) =>
        s""""$c":"${Bloom.toBase64(words)}""""
      }.mkString(""","blooms":{""", ",", "}")
    s"{$base$b$bl}"
  }

  private val entryRe =
    """\{"path":"([^"]*)","content":"([^"]*)","seq":(\d+),"record_count":(\d+)(?:,"first_row_id":(\d+))?(?:,"equality_ids":\[([\d,]*)\])?(?:,"referenced_data_files":\[([^\]]*)\])?(?:,"bounds":\{([^}]*)\})?(?:,"blooms":\{([^}]*)\})?\}""".r
  private val boundRe = """"([^"]+)":\[(-?\d+),(-?\d+)\]""".r
  private val quotedRe = """"([^"]*)"""".r
  private val bloomRe = """"([^"]+)":"([^"]*)"""".r

  private[plans] def entryFromJson(line: String): ManifestEntry = line.trim match {
    case entryRe(p, c, s, n, frid, eqIds, refs, b, bl) =>
      val bounds = Option(b).map { body =>
        boundRe.findAllMatchIn(body).map { m =>
          m.group(1) -> (m.group(2).toLong, m.group(3).toLong)
        }.toMap
      }.getOrElse(Map.empty[String, (Long, Long)])
      val blooms = Option(bl).map { body =>
        bloomRe.findAllMatchIn(body).map { m =>
          m.group(1) -> Bloom.fromBase64(m.group(2))
        }.toMap
      }.getOrElse(Map.empty[String, Vector[Long]])
      ManifestEntry(p, c, s.toLong, n.toLong, bounds, blooms,
        Option(frid).map(_.toLong),
        Option(eqIds).filter(_.nonEmpty).toSeq.flatMap(_.split(',').map(_.toLong)),
        Option(refs).toSeq.flatMap(quotedRe.findAllMatchIn(_).map(_.group(1))))
    case other => throw new IllegalArgumentException(s"bad manifest line: $other")
  }

  private def atomicWrite(target: Path, body: String): Unit = {
    val tmp = Files.createTempFile(target.getParent, ".tmp", ".json")
    Files.writeString(tmp, body)
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  private[graft] def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(Files.delete)
    }
}
