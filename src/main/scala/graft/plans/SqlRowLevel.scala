package graft.plans

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.StructField

/** SQL row-level DML for the governed catalog — `MERGE INTO`, `UPDATE`,
  * and predicate `DELETE` as plain `spark.sql` statements against
  * [[GraftCatalog]] tables (the last Iceberg-SQL parity gap, VERDICT
  * r3 missing #3).
  *
  * Spark only rewrites these commands for tables implementing the DSv2
  * `SupportsRowLevelOperations` API, whose group-based plans are
  * copy-on-write — they rewrite every touched FILE. This engine's
  * delete representation is merge-on-read (the reference's whole
  * design: `main.rs:163-276` writes delete files, never rewrites data),
  * so instead of that API an injected resolution rule
  * ([[GraftRowLevelSqlRule]], installed by `GraftSparkExtensions`)
  * intercepts the analyzed-but-unrewritten command over a Graft table
  * and replaces it with a driver command that executes the MOR-native
  * plan:
  *
  *   - every affected target row dies by POSITION (one sorted
  *     pos-delete file keyed on the scan's `_file`/`_pos` provenance —
  *     the K4 writer discipline), and
  *   - replacement/new rows land as ONE data file,
  *   - both committed at the same sequence in one atomic snapshot.
  *
  * Scale shape: cost is O(affected rows) + the joins Catalyst plans for
  * the matching — no data file is rewritten, identical to the API-side
  * [[Upsert]]/[[Dml]] trade. Range deletes keep their metadata fast
  * path (the rule leaves them to the existing `SupportsDelete` route).
  *
  * Expression handoff: the analyzer resolves the statement's
  * expressions against the command's own relations; execution re-reads
  * one pinned snapshot of the table (a fresh plan with fresh attribute
  * ids), so resolved attribute references are re-bound BY NAME to
  * aliased sides (`__t` = target, `__s` = source) before use — the
  * names are exact because they come from the resolved attributes
  * themselves.
  */
object SqlRowLevel {

  private type Names = Map[ExprId, String]

  private[plans] def attrNames(out: Seq[Attribute]): Names =
    out.map(a => a.exprId -> a.name).toMap

  /** Rebind resolved attribute refs to `__t`/`__s`-qualified unresolved
    * ones, yielding a Column the analyzer re-resolves against the
    * execution-side join of aliased relations.
    */
  private def rebind(e: Expression, tN: Names, sN: Names): Column =
    Bridge.column(e.transform {
      case a: AttributeReference if tN.contains(a.exprId) =>
        UnresolvedAttribute(Seq("__t", tN(a.exprId)))
      case a: AttributeReference if sN.contains(a.exprId) =>
        UnresolvedAttribute(Seq("__s", sN(a.exprId)))
    })

  private def assignMap(as: Seq[Assignment], tN: Names): Map[String, Expression] =
    as.map { a =>
      a.key match {
        case ar: AttributeReference =>
          tN.getOrElse(ar.exprId, ar.name) -> a.value
        case other => throw new UnsupportedOperationException(
          s"unsupported assignment target: $other")
      }
    }.toMap

  /** 1-based index of the first action whose condition holds (SQL MERGE
    * evaluates WHEN clauses in order, first match wins), 0 = none.
    */
  private def firstFire(actions: Seq[MergeAction], tN: Names,
      sN: Names): Column =
    actions.zipWithIndex.foldRight(lit(0)) { case ((a, i), rest) =>
      when(a.condition.map(rebind(_, tN, sN)).getOrElse(lit(true)),
        lit(i + 1)).otherwise(rest)
    }

  /** Projection to the full table row for an UPDATE/INSERT action:
    * assigned columns take the (re-bound, cast) assignment value,
    * unassigned ones keep the target's value (UPDATE) or fill null
    * (INSERT).
    */
  private def actionRow(fields: Seq[StructField], as: Map[String, Expression],
      tN: Names, sN: Names, fromTarget: Boolean): Seq[Column] =
    fields.map { f =>
      as.get(f.name)
        .map(e => rebind(e, tN, sN).cast(f.dataType))
        .getOrElse(
          if (fromTarget) col(s"__t.${f.name}")
          else lit(null).cast(f.dataType))
        .as(f.name)
    }

  /** One atomic MOR commit onto `snap`, the snapshot the statement read:
    * sorted pos-delete file for the dying rows + data file for the
    * replacement/new rows, at `snap`'s next sequence number. The
    * position deletes name `snap`'s files, so the commit lands only as
    * the version right after it; a commit in between (say a compaction
    * that rewrote those files) makes this delete its files and throw
    * `ConcurrentModificationException`.
    */
  private def commitRowLevel(spark: SparkSession, root: String, ns: String,
      tbl: String, snap: Snapshot, dels: DataFrame,
      newData: DataFrame): Unit = {
    val nDel = dels.count()
    val nNew = newData.count()
    if (nDel == 0 && nNew == 0) return
    val seq = snap.nextSeq
    val unique = java.util.UUID.randomUUID().toString.take(8)
    val entries = Seq.newBuilder[ManifestEntry]
    if (nDel > 0)
      entries += TableIO.writeExactFile(spark, root, ns, tbl,
        f"deletes/sqlrl_pos-$seq%05d-$unique.parquet",
        dels, "pos_delete", seq,
        recordCount = nDel)
    if (nNew > 0)
      entries += TableIO.writeExactFile(spark, root, ns, tbl,
        f"data/sqlrl-$seq%05d-$unique.parquet", newData, "data", seq,
        recordCount = nNew)
    val written = entries.result()
    TableIO.commitAppendExpecting(root, ns, tbl, written, snap.version)
      .left.foreach { cur =>
        written.foreach(e => java.nio.file.Files.delete(snap.dir.resolve(e.path)))
        throw new java.util.ConcurrentModificationException(
          s"$ns.$tbl advanced from v${snap.version} to v$cur while the " +
            "statement ran: re-run it")
      }
  }

  private[plans] def runMerge(spark: SparkSession,
      c: GraftMergeCommand): Unit = {
    val snap = TableIO.snapshot(c.root, c.ns, c.tbl)
    val fields = snap.schema.fields.toSeq
    val t = Mor.readSnapshot(spark, snap, keepProvenance = true).alias("__t")
    val s = Bridge.ofRows(spark, c.source).alias("__s")
    val on = rebind(c.cond, c.tNames, c.sNames)
    val delPieces = Seq.newBuilder[DataFrame]
    val dataPieces = Seq.newBuilder[DataFrame]

    graft.CacheScope.scoped { cache =>
      if (c.matched.nonEmpty) {
        val mf = cache(t.join(s, on, "inner")
          .withColumn("_act", firstFire(c.matched, c.tNames, c.sNames))
          .withColumn("_f", col("__t._file")).withColumn("_p", col("__t._pos"))
          .filter(col("_act") > 0))
        // SQL MERGE cardinality rule: a target row may be touched by at
        // most one source row
        val dup = mf.groupBy("_f", "_p").count().filter(col("count") > 1)
          .limit(1).count() > 0
        if (dup) throw new IllegalStateException(
          "MERGE cardinality violation: a target row matches multiple source rows")
        delPieces += mf.select(col("_f").as("file_path"), col("_p").as("pos"))
        c.matched.zipWithIndex.foreach {
          case (u: UpdateAction, i) =>
            dataPieces += mf.filter(col("_act") === i + 1)
              .select(actionRow(fields, assignMap(u.assignments, c.tNames),
                c.tNames, c.sNames, fromTarget = true): _*)
          case (_: DeleteAction, _) => // the pos-delete already covers it
          case (other, _) => throw new UnsupportedOperationException(
            s"unsupported matched action: $other")
        }
      }
      if (c.notMatched.nonEmpty) {
        val nm = cache(s.join(t, on, "left_anti")
          .withColumn("_act", firstFire(c.notMatched, c.tNames, c.sNames))
          .filter(col("_act") > 0))
        c.notMatched.zipWithIndex.foreach {
          case (ins: InsertAction, i) =>
            dataPieces += nm.filter(col("_act") === i + 1)
              .select(actionRow(fields, assignMap(ins.assignments, c.tNames),
                c.tNames, c.sNames, fromTarget = false): _*)
          case (other, _) => throw new UnsupportedOperationException(
            s"unsupported not-matched action: $other")
        }
      }
      if (c.notMatchedBySource.nonEmpty) {
        val tn = cache(t.join(s, on, "left_anti")
          .withColumn("_act",
            firstFire(c.notMatchedBySource, c.tNames, c.sNames))
          .filter(col("_act") > 0))
        delPieces += tn.select(col("__t._file").as("file_path"),
          col("__t._pos").as("pos"))
        c.notMatchedBySource.zipWithIndex.foreach {
          case (u: UpdateAction, i) =>
            dataPieces += tn.filter(col("_act") === i + 1)
              .select(actionRow(fields, assignMap(u.assignments, c.tNames),
                c.tNames, c.sNames, fromTarget = true): _*)
          case (_: DeleteAction, _) => ()
          case (other, _) => throw new UnsupportedOperationException(
            s"unsupported not-matched-by-source action: $other")
        }
      }
      val dels = delPieces.result()
      val data = dataPieces.result()
      val emptyDel = spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row],
        org.apache.spark.sql.types.StructType(Seq(
          StructField("file_path", org.apache.spark.sql.types.StringType,
            nullable = false),
          StructField("pos", org.apache.spark.sql.types.LongType,
            nullable = false))))
      commitRowLevel(spark, c.root, c.ns, c.tbl, snap,
        dels.reduceOption(_ unionByName _).getOrElse(emptyDel),
        data.reduceOption(_ unionByName _).getOrElse(
          emptyDel.limit(0).select(fields.map(f =>
            lit(null).cast(f.dataType).as(f.name)): _*)))
    }
  }

  private[plans] def runUpdate(spark: SparkSession,
      c: GraftUpdateCommand): Unit = {
    val snap = TableIO.snapshot(c.root, c.ns, c.tbl)
    val fields = snap.schema.fields.toSeq
    val t = Mor.readSnapshot(spark, snap, keepProvenance = true).alias("__t")
    graft.CacheScope.scoped { cache =>
      val af = cache(t.filter(c.cond.map(rebind(_, c.tNames, Map.empty))
        .getOrElse(lit(true))))
      commitRowLevel(spark, c.root, c.ns, c.tbl, snap,
        af.select(col("__t._file").as("file_path"), col("__t._pos").as("pos")),
        af.select(actionRow(fields, assignMap(c.assignments, c.tNames),
          c.tNames, Map.empty, fromTarget = true): _*))
    }
  }

  private[plans] def runDelete(spark: SparkSession,
      c: GraftDeleteCommand): Unit = {
    val snap = TableIO.snapshot(c.root, c.ns, c.tbl)
    val t = Mor.readSnapshot(spark, snap, keepProvenance = true).alias("__t")
    val af = t.filter(rebind(c.cond, c.tNames, Map.empty))
    val fields = snap.schema.fields.toSeq
    val empty = af.limit(0).select(fields.map(f => col(f.name)): _*)
    commitRowLevel(spark, c.root, c.ns, c.tbl, snap,
      af.select(col("__t._file").as("file_path"), col("__t._pos").as("pos")),
      empty)
  }
}

/** MERGE INTO a Graft table, executed MOR-natively on the driver. */
case class GraftMergeCommand(root: String, ns: String, tbl: String,
    source: LogicalPlan, tNames: Map[ExprId, String],
    sNames: Map[ExprId, String], cond: Expression,
    matched: Seq[MergeAction], notMatched: Seq[MergeAction],
    notMatchedBySource: Seq[MergeAction]) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    SqlRowLevel.runMerge(spark, this); Seq.empty
  }
}

/** UPDATE of a Graft table (pos-delete + rewritten rows, one commit). */
case class GraftUpdateCommand(root: String, ns: String, tbl: String,
    tNames: Map[ExprId, String], assignments: Seq[Assignment],
    cond: Option[Expression]) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    SqlRowLevel.runUpdate(spark, this); Seq.empty
  }
}

/** Predicate DELETE that the metadata range path cannot express. */
case class GraftDeleteCommand(root: String, ns: String, tbl: String,
    tNames: Map[ExprId, String], cond: Expression)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    SqlRowLevel.runDelete(spark, this); Seq.empty
  }
}

/** The analyzer hook: swaps resolved MERGE/UPDATE/DELETE over Graft
  * tables for the MOR-native driver commands ABOVE Spark's own
  * row-level machinery (which would reject the table for not exposing
  * `SupportsRowLevelOperations`). Installed via `GraftSparkExtensions`
  * (`spark.sql.extensions=graft.functions.GraftSparkExtensions`).
  */
class GraftRowLevelSqlRule(session: SparkSession) extends Rule[LogicalPlan] {
  import SqlRowLevel.attrNames

  private def graftTarget(
      plan: LogicalPlan): Option[(DataSourceV2Relation, GraftSqlTable)] =
    plan match {
      case r: DataSourceV2Relation => r.table match {
        case g: GraftSqlTable => Some((r, g))
        case _ => None
      }
      case SubqueryAlias(_, child) => graftTarget(child)
      case _ => None
    }

  /** The conjunction of `e` as one closed numeric range on one target
    * column — the shapes [[GraftSqlTable.canDeleteWhere]] accepts, which
    * keep their O(metadata) fast path (covered files drop wholesale).
    */
  private def numericRange(e: Expression): Option[(String, Long, Long)] = {
    def num(v: Any): Option[Long] = v match {
      case i: Int => Some(i.toLong)
      case l: Long => Some(l)
      case s: Short => Some(s.toLong)
      case _ => None
    }
    e match {
      case EqualTo(a: AttributeReference, Literal(v, _)) =>
        num(v).map(x => (a.name, x, x))
      case GreaterThan(a: AttributeReference, Literal(v, _)) =>
        num(v).map(x => (a.name, x + 1, Long.MaxValue))
      case GreaterThanOrEqual(a: AttributeReference, Literal(v, _)) =>
        num(v).map(x => (a.name, x, Long.MaxValue))
      case LessThan(a: AttributeReference, Literal(v, _)) =>
        num(v).map(x => (a.name, Long.MinValue, x - 1))
      case LessThanOrEqual(a: AttributeReference, Literal(v, _)) =>
        num(v).map(x => (a.name, Long.MinValue, x))
      case And(l, r) =>
        for { (ac, alo, ahi) <- numericRange(l)
              (bc, blo, bhi) <- numericRange(r) if ac == bc }
        yield (ac, math.max(alo, blo), math.min(ahi, bhi))
      case _ => None
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case m: MergeIntoTable if m.childrenResolved &&
        m.mergeCondition.resolved &&
        (m.matchedActions ++ m.notMatchedActions ++
          m.notMatchedBySourceActions).forall(_.resolved) =>
      graftTarget(m.targetTable).map { case (rel, g) =>
        GraftMergeCommand(g.root, g.ns, g.t, m.sourceTable,
          attrNames(rel.output), attrNames(m.sourceTable.output),
          m.mergeCondition, m.matchedActions, m.notMatchedActions,
          m.notMatchedBySourceActions): LogicalPlan
      }.getOrElse(m)
    case u: UpdateTable if u.childrenResolved &&
        u.assignments.forall(_.resolved) &&
        u.condition.forall(_.resolved) =>
      graftTarget(u.table).map { case (rel, g) =>
        GraftUpdateCommand(g.root, g.ns, g.t, attrNames(rel.output),
          u.assignments, u.condition): LogicalPlan
      }.getOrElse(u)
    case d @ DeleteFromTable(target, cond) if cond.resolved &&
        // ranges keep the metadata path; TRUE (unconditional) keeps the
        // O(1) truncate path — both already routed by GraftSqlTable
        numericRange(cond).isEmpty && cond != Literal.TrueLiteral =>
      graftTarget(target).map { case (rel, g) =>
        GraftDeleteCommand(g.root, g.ns, g.t, attrNames(rel.output),
          cond): LogicalPlan
      }.getOrElse(d)
    case _ => plan
  }
}
