package graft.sql

import org.apache.spark.sql.{Column, Row, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, AttributeReference, Cast, EqualTo, EvalMode, Expression}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.{col, count, lit}
import org.apache.spark.sql.graftshim
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.lake.{LakeFileIndex, LakeMorRelation, LakeTable}

/** SQL DML over graft-lake tables, the Delta pattern: Spark's parser
  * already produces `DeleteFromTable` / `UpdateTable` / `MergeIntoTable`
  * logical plans for ANY relation, but only DSv2 row-level-operation
  * tables survive analysis — everything else dies in CheckAnalysis with
  * "only supported with v2 tables". This extension injects a resolution
  * rule that recognizes those nodes over a graft-lake relation (either
  * view: the HadoopFsRelation read-optimized scan or the LakeMorRelation
  * real-time fold) and rewrites them into runnable commands backed by the
  * table's native mutations — [[LakeTable.deleteWhere]] /
  * [[LakeTable.updateWhere]] (stats-bounded copy-on-write, file-granular
  * on delta-free buckets) and [[LakeTable.merge]] (bucket-pruned CoW
  * upsert). Register via
  * `spark.sql.extensions=graft.sql.GraftLakeExtensions`, then:
  *
  * {{{
  *   CREATE TEMPORARY VIEW t USING `graft-lake` OPTIONS (path '<root>')
  *   DELETE FROM t WHERE conv_id = 'c-42'
  *   UPDATE t SET text = '[redacted]' WHERE role = 'tool'
  *   MERGE INTO t USING s ON t.conv_id = s.conv_id AND t.turn_idx = s.turn_idx
  *     WHEN MATCHED THEN UPDATE SET *
  *     WHEN NOT MATCHED THEN INSERT *
  * }}}
  *
  * DML always applies to the table HEAD (the view only locates the
  * table; a `versionAsOf` view still mutates the current version, and a
  * view created before the DML keeps serving its pinned snapshot —
  * snapshot isolation, re-create the view to see the new version).
  *
  * MERGE supports the three shapes that map exactly onto native table
  * operations: UPSERT (`WHEN MATCHED THEN UPDATE SET *` +
  * `WHEN NOT MATCHED THEN INSERT *`, both unconditional and both
  * required — the reduced-delta merge inserts absent keys, so an
  * update-only MERGE would diverge from standard SQL and is rejected)
  * and DELETE (`WHEN MATCHED THEN DELETE` alone — a
  * delete of an absent key is a no-op), both via the reduced-delta
  * [[LakeTable.merge]]; and full SYNC (`UPDATE SET *` + `INSERT *` +
  * `WHEN NOT MATCHED BY SOURCE THEN DELETE`), whose final state is by
  * definition the source and therefore runs as one atomic
  * [[LakeTable.overwrite]] commit instead of a join. The ON condition
  * must equate exactly the table's key columns. Conditional clauses and
  * partial SET are rejected with a clear error rather than silently
  * mis-translated. Per the SQL standard the source must match each
  * target key at most once; the command verifies source-key uniqueness
  * and raises otherwise.
  */
class GraftLakeExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    ext.injectResolutionRule(spark => GraftDmlRule(spark))
}

case class GraftDmlRule(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperators {
    case DeleteFromTable(rel, cond) if lakeRoot(rel).isDefined && cond.resolved =>
      GraftDeleteCommand(lakeRoot(rel).get, byName(cond))

    case UpdateTable(rel, assignments, cond) if lakeRoot(rel).isDefined &&
        assignments.forall(a => a.key.resolved && a.value.resolved) &&
        cond.forall(_.resolved) =>
      val set = assignments.map { a =>
        val name = a.key match {
          case attr: Attribute => attr.name
          case other => sys.error(s"graft-lake UPDATE: unsupported assignment " +
            s"target ${other.sql} (top-level columns only)")
        }
        name -> byName(a.value)
      }.toMap
      GraftUpdateCommand(lakeRoot(rel).get,
        cond.map(byName).getOrElse(lit(true)), set)

    case m: MergeIntoTable if lakeRoot(m.targetTable).isDefined &&
        m.sourceTable.resolved =>
      translateMerge(m, lakeRoot(m.targetTable).get)

    // INSERT INTO / INSERT OVERWRITE a lake view. Intercepting this is
    // not just surface completeness: without it Spark's own
    // DataSourceAnalysis plans InsertIntoHadoopFsRelationCommand over
    // the view's file index and writes STRAY PARQUET into the table
    // root outside any snapshot (silent corruption). Columns align by
    // position per SQL (BY NAME sets the flag); an explicit column
    // list is rejected — the lake has no defaults for omitted columns.
    case i: InsertIntoStatement if lakeRoot(i.table).isDefined && i.query.resolved =>
      require(i.partitionSpec.isEmpty,
        "graft-lake INSERT: PARTITION spec is not supported (tables are key-bucketed)")
      require(i.userSpecifiedCols.isEmpty,
        "graft-lake INSERT: explicit column lists are not supported — " +
          "provide every table column (positionally, or INSERT ... BY NAME)")
      GraftInsertCommand(lakeRoot(i.table).get, i.query, i.overwrite, i.byName)
  }

  /** The table root behind a resolved graft-lake relation — either SQL
    * view: read-optimized (HadoopFsRelation over LakeFileIndex) or
    * real-time (LakeMorRelation). */
  private def lakeRoot(plan: LogicalPlan): Option[String] = plan match {
    case SubqueryAlias(_, child) => lakeRoot(child)
    case v: View => lakeRoot(v.child)
    case lr: LogicalRelation => lr.relation match {
      case h: HadoopFsRelation => h.location match {
        case idx: LakeFileIndex => Some(idx.table.root)
        case _ => None
      }
      case m: LakeMorRelation => Some(m.table.root)
      case _ => None
    }
    case _ => None
  }

  /** Detach an analysis-time expression from the relation it resolved
    * against: exprIds are meaningless inside the command's own
    * `table.read()` plan, so re-anchor attributes by NAME (the command
    * re-resolves them against the head snapshot's schema). */
  private def byName(e: Expression): Column =
    graftshim.toColumn(e.transform {
      case a: AttributeReference => UnresolvedAttribute.quoted(a.name)
    })

  private def translateMerge(m: MergeIntoTable, root: String): LogicalPlan = {
    def fail(what: String): Nothing = sys.error(
      s"graft-lake MERGE: $what (supported: unconditional " +
        "'WHEN MATCHED THEN UPDATE SET *' + 'WHEN NOT MATCHED THEN " +
        "INSERT *' for upsert, 'WHEN MATCHED THEN DELETE' alone, or " +
        "the full-sync shape UPDATE SET * + INSERT * + NOT MATCHED BY " +
        "SOURCE DELETE; ON must equate exactly the key columns)")
    if (m.withSchemaEvolution)
      fail("WITH SCHEMA EVOLUTION is not supported here — evolve the " +
        "table first (LakeTable.evolveSchema, or autoEvolve on the " +
        "ingest pipeline)")
    val mergeSnap = new LakeTable(spark, root).currentSnapshot
      .getOrElse(sys.error(s"graft-lake MERGE: no table at $root"))
    val keyCols = mergeSnap.keyColumns
    // ON: a conjunction of name-equal column equalities covering the keys
    def attrName(e: Expression): Option[String] = e match {
      case a: AttributeReference => Some(a.name)
      case u: UnresolvedAttribute => Some(u.nameParts.last)
      case _ => None
    }
    def eqCols(e: Expression): Option[Seq[String]] = e match {
      case And(l, r) => for { a <- eqCols(l); b <- eqCols(r) } yield a ++ b
      case EqualTo(l, r) => for {
        a <- attrName(l); b <- attrName(r) if a.equalsIgnoreCase(b)
      } yield Seq(a)
      case _ => None
    }
    val onCols = eqCols(m.mergeCondition).getOrElse(
      fail(s"ON condition '${m.mergeCondition.sql}' is not a conjunction " +
        "of same-name column equalities"))
    if (onCols.map(_.toLowerCase).toSet != keyCols.map(_.toLowerCase).toSet)
      fail(s"ON columns ${onCols.mkString(", ")} must be exactly the key " +
        s"columns ${keyCols.mkString(", ")}")

    // star shape, whether still unresolved or already expanded by the
    // analyzer into per-column name-aligned assignments (whose values
    // the alignment wraps in AssertNotNull / widening Cast — the
    // command re-reads source columns by name, so wrappers are noise)
    def valueName(e: Expression): Option[String] = e match {
      case org.apache.spark.sql.catalyst.expressions.objects.AssertNotNull(c, _) =>
        valueName(c)
      case c: org.apache.spark.sql.catalyst.expressions.Cast => valueName(c.child)
      case org.apache.spark.sql.catalyst.expressions.Alias(c, _) => valueName(c)
      case other => attrName(other)
    }
    def nameAligned(as: Seq[Assignment]): Boolean = as.forall { a =>
      (attrName(a.key), valueName(a.value)) match {
        case (Some(k), Some(v)) => k.equalsIgnoreCase(v)
        case _ => false
      }
    }
    // star = name-aligned AND covering EVERY target column. A partial
    // name-aligned list (UPDATE SET t.v = s.v, or a short INSERT column
    // list) must NOT classify as star: the reduced-delta merge replaces
    // the whole row, which would silently clobber every unassigned
    // column with the source's value.
    val targetColsLower = mergeSnap.schema.fieldNames.map(_.toLowerCase).toSet
    def isStarAssignments(as: Seq[Assignment]): Boolean =
      nameAligned(as) &&
        as.flatMap(a => attrName(a.key)).map(_.toLowerCase).toSet == targetColsLower
    val matchedUpdateStar = m.matchedActions match {
      case Seq(UpdateStarAction(None)) => true
      case Seq(UpdateAction(None, as, _)) if isStarAssignments(as) => true
      case _ => false
    }
    val insertStar = m.notMatchedActions match {
      case Seq(InsertStarAction(None)) => true
      case Seq(InsertAction(None, as)) if isStarAssignments(as) => true
      case _ => false
    }
    // loud, specific failures for the near-miss shapes a user actually
    // writes (instead of the generic catch-all below)
    m.matchedActions match {
      case Seq(UpdateAction(None, as, _)) if nameAligned(as) && !matchedUpdateStar =>
        fail("partial SET in WHEN MATCHED THEN UPDATE is not supported — " +
          "the reduced-delta merge replaces the whole row (unassigned " +
          "columns would take source values); assign every target column " +
          "or use UPDATE SET *")
      case _ =>
    }
    m.notMatchedActions match {
      case Seq(InsertAction(None, as)) if nameAligned(as) && !insertStar =>
        fail("partial INSERT column list in WHEN NOT MATCHED is not " +
          "supported — provide every target column or use INSERT *")
      case _ =>
    }
    val op = m.notMatchedBySourceActions match {
      // full SYNC: matched rows take source values, absent rows insert,
      // target-only rows delete — the final state IS the source, i.e.
      // an atomic overwrite (one commit, time travel intact)
      case Seq(DeleteAction(None)) if matchedUpdateStar && insertStar => "sync"
      case Seq(_*) if m.notMatchedBySourceActions.nonEmpty =>
        fail("NOT MATCHED BY SOURCE is only supported as the " +
          "unconditional full-sync shape (UPDATE SET * + INSERT * + " +
          "NOT MATCHED BY SOURCE DELETE)")
      case _ => (m.matchedActions, m.notMatchedActions) match {
        case (Seq(UpdateStarAction(None) | UpdateAction(None, _, _)), Nil)
            if matchedUpdateStar =>
          fail("update-only MERGE (no WHEN NOT MATCHED clause) is not " +
            "supported — the reduced-delta upsert would also insert " +
            "unmatched source keys where standard MERGE leaves them " +
            "untouched; add WHEN NOT MATCHED THEN INSERT * or pre-filter " +
            "the source to existing keys")
        case (Seq(UpdateStarAction(None) | UpdateAction(None, _, _)), _)
            if matchedUpdateStar && insertStar => "u"
        case (Seq(DeleteAction(None)), Nil) => "d"
        case (Nil, _) if m.notMatchedActions.nonEmpty =>
          fail("insert-only MERGE is not supported (matched rows must not " +
            "be updated; load via INSERT/append instead)")
        case other => fail(s"unsupported WHEN clause combination " +
          s"(matched: ${m.matchedActions}; notMatched: ${m.notMatchedActions})")
      }
    }
    GraftMergeCommand(root, m.sourceTable, op)
  }
}

/** `DELETE FROM <lake view> WHERE cond` → [[LakeTable.deleteWhere]].
  * Returns the deleted-row count (lineage-observed during the rewrite,
  * no separate counting pass). */
case class GraftDeleteCommand(root: String, cond: Column)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftDml.affectedOutput
  override def run(spark: SparkSession): Seq[Row] = {
    val t = new LakeTable(spark, root)
    val before = t.currentSnapshot.map(_.version)
    val snap = t.deleteWhere(cond)
    Seq(Row(GraftDml.affected(t, before, snap.version, "matchedRows")))
  }
}

/** `UPDATE <lake view> SET ... WHERE cond` → [[LakeTable.updateWhere]]. */
case class GraftUpdateCommand(root: String, cond: Column,
    set: Map[String, Column]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftDml.affectedOutput
  override def run(spark: SparkSession): Seq[Row] = {
    val t = new LakeTable(spark, root)
    val before = t.currentSnapshot.map(_.version)
    val snap = t.updateWhere(cond, set)
    Seq(Row(GraftDml.affected(t, before, snap.version, "matchedRows")))
  }
}

/** `INSERT INTO` → [[LakeTable.append]]; `INSERT OVERWRITE` →
  * [[LakeTable.overwrite]] (atomic full refresh). Positional column
  * alignment per SQL semantics (arity-checked, cast to the declared
  * types); `BY NAME` aligns by column name instead. Fresh commit id per
  * statement — plain SQL insert-twice-appends-twice semantics. Rows are
  * appended as FINAL rows under the lake's append contract (new keys
  * only — base files within a bucket are key-disjoint); inserting an
  * existing key is the caller's contract violation, use MERGE INTO for
  * upsert. */
case class GraftInsertCommand(root: String, query: LogicalPlan,
    overwrite: Boolean, byName: Boolean) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val t = new LakeTable(spark, root)
    val snap = t.currentSnapshot.getOrElse(sys.error(s"no table at $root"))
    val src = graftshim.ofRows(spark, query)
    val fields = snap.schema.fields
    val aligned =
      if (byName) {
        val missing = fields.map(_.name)
          .filterNot(n => src.columns.exists(_.equalsIgnoreCase(n)))
        require(missing.isEmpty, s"graft-lake INSERT BY NAME: query is " +
          s"missing table columns ${missing.mkString(", ")}")
        src.select(fields.map(f => GraftDml.storeAs(GraftDml.field(src, f.name), f)).toSeq: _*)
      } else {
        require(src.columns.length == fields.length,
          s"graft-lake INSERT: query has ${src.columns.length} columns, " +
            s"table has ${fields.length} (positional alignment)")
        src.select(src.schema.fields.zip(fields).map { case (c, f) =>
          GraftDml.storeAs(c, f)
        }.toSeq: _*)
      }
    val commitId = s"sql-insert-${java.util.UUID.randomUUID().toString.take(8)}"
    if (overwrite) t.overwrite(aligned, commitId)
    else t.append(aligned, commitId, 0L)
    Seq.empty
  }
}

/** Upsert / delete MERGE → [[LakeTable.merge]] over a reduced delta
  * batch synthesized from the source plan (op column + offset 0). The
  * source plan was resolved at analysis time; execution re-plans it
  * through the session (idempotent). */
case class GraftMergeCommand(root: String, source: LogicalPlan, op: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftDml.affectedOutput
  override def run(spark: SparkSession): Seq[Row] = {
    val t = new LakeTable(spark, root)
    val snap = t.currentSnapshot.getOrElse(sys.error(s"no table at $root"))
    val src = graftshim.ofRows(spark, source)
    val missing = snap.schema.fieldNames.filterNot(n =>
      src.columns.exists(_.equalsIgnoreCase(n)))
    require(missing.isEmpty, s"graft-lake MERGE: source is missing table " +
      s"columns ${missing.mkString(", ")} (SET * / INSERT * need them all)")
    val aligned = src.select(snap.schema.fields
      .map(f => GraftDml.storeAs(GraftDml.field(src, f.name), f)).toSeq: _*)
    val commitId = s"sql-merge-${java.util.UUID.randomUUID().toString.take(8)}"
    val before = t.currentSnapshot.map(_.version)
    // SQL standard: each target row may match at most one source row.
    // `merge` raises on a duplicate key inside its fold; the full sync
    // overwrites, so it checks here
    if (op == "sync") { // full sync: the final state IS the source
      val dup = src.groupBy(snap.keyColumns.map(col): _*)
        .agg(count(lit(1)).as("n")).filter(col("n") > 1).limit(1).collect()
      if (dup.nonEmpty) sys.error(
        s"graft-lake MERGE: source has duplicate key ${dup.head.toSeq.init.mkString("|")}")
      t.overwrite(aligned, commitId)
      return Seq(Row(null))
    }
    val deltas = aligned
      .withColumn("operation", lit(op))
      .withColumn("offset", lit(0L))
    val after = t.merge(deltas, commitId, 0L)
    Seq(Row(GraftDml.affected(t, before, after.version,
      if (op == "d") "deletes" else "keys")))
  }
}

private[sql] object GraftDml {
  /** Source column `from` stored as table column `to` under Spark's
    * ANSI store assignment (its default `storeAssignmentPolicy`): the
    * type pair must pass `Cast.canANSIStoreAssign`, and the cast runs in
    * ANSI mode, so an overflowing value raises. With ANSI off a plain
    * cast turns a string that is not a number into a null bigint, and a
    * bigint beyond the int range into a wrapped int, without a word. */
  def storeAs(from: StructField, to: StructField): Column = {
    require(Cast.canANSIStoreAssign(from.dataType, to.dataType),
      s"graft-lake: cannot store column '${from.name}' of type " +
        s"${from.dataType.simpleString} into '${to.name}' of type ${to.dataType.simpleString}")
    graftshim.toColumn(Cast(graftshim.toExpression(col(from.name)), to.dataType, None,
      EvalMode.ANSI)).as(to.name)
  }

  /** The source field a table column resolves to (case-insensitive). */
  def field(src: org.apache.spark.sql.DataFrame, name: String): StructField =
    src.schema.find(_.name.equalsIgnoreCase(name)).get

  val affectedOutput: Seq[Attribute] =
    org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(
      StructType(Seq(
        StructField("num_affected_rows", LongType, nullable = true))))

  /** Affected-row count from the commit's own lineage (observed during
    * the rewrite job — no extra pass); null when the commit was a
    * stats-proven no-op or lineage lacks the counter. */
  def affected(t: LakeTable, before: Option[Int], after: Int,
      counter: String): Any = {
    if (before.contains(after)) return 0L // no-op: nothing committed
    t.snapshot(after).lineage.flatMap(n => Option(n.get(counter))).map(_.asLong()).orNull
  }
}
