package graft.plans

import scala.annotation.tailrec

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute, Expression, Literal, Not}
import org.apache.spark.sql.catalyst.plans.{Inner, LeftAnti}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.GraftBatchTable

/** SQL DML over graft tables: `MERGE INTO`, `DELETE FROM`, and `UPDATE`
  * statements against a `USING graft` relation execute as the engine's
  * copy-on-write merge — the reference's defining operation (the Thrift
  * `Update` union model, README.md:36-43) reachable as plain SQL.
  *
  * Spark's built-in row-level DML requires `SupportsRowLevelOperations`
  * (group-based rewrite plans); graft's CoW merge IS that machinery, with
  * file routing, passthrough, and snapshot commit already built. So the
  * injected post-hoc resolution rule intercepts the RESOLVED DML plans
  * and converts each into one eager command that
  *
  *  1. builds the mutation batch as a LOGICAL PLAN over the statement's
  *     own resolved children — joins classify matched/not-matched rows,
  *     projections apply the resolved assignment expressions, so every
  *     Spark expression valid in a MERGE clause works unchanged and the
  *     batch build itself is a distributed, optimizable query (the
  *     matched-classification join prunes the target through the graft
  *     source's zone-map pushdown);
  *  2. hands the batch to [[graft.GraftTable.commit]] — one CoW merge,
  *     one new committed version.
  *
  * First-match-wins clause semantics are compiled into residual filters
  * (clause i runs under ¬c₁ ∧ … ∧ ¬cᵢ₋₁ ∧ cᵢ). WHEN NOT MATCHED BY
  * SOURCE is an anti-join from the target side. Not supported (rejected
  * with a clear error, never silently mis-applied): schema-evolving
  * MERGE (`WITH SCHEMA EVOLUTION`), and assignments that CHANGE a
  * matched row's merge key (the CoW apply is key-addressed, so the old
  * row would survive; key-preserving updates — the overwhelmingly common
  * form — are exact).
  *
  * SQL MERGE's duplicate-match error (one target row matched by several
  * source rows) is relaxed to the engine's last-writer-wins batch
  * collapse, matching the reference's batch semantics.
  */
object GraftDmlRule extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case m: MergeIntoTable if m.resolved && targetInfo(m.targetTable).isDefined =>
      GraftMergeCommand(m)
    // DELETE is tombstone-safe on a BARE target (it can only remove rows
    // — an extra delete of an already-tombstoned key is idempotent, and
    // the merge's batch-key subtraction + base filtering keep the sidecar
    // algebra exact), so repeated catalog-addressed tombstone deletes
    // accumulate at metadata cost as advertised
    case d: DeleteFromTable if d.resolved &&
        targetInfo(d.table, allowBareTombstones = true).isDefined =>
      GraftDeleteCommand(d)
    case u: UpdateTable if u.resolved && targetInfo(u.table).isDefined =>
      GraftUpdateCommand(u)
    case other => other
  }

  /** The graft table behind a DML target, seen through temp-view/alias
    * wrappers: its versioned root, merge key columns (leading + any
    * composite secondaries), and schema. None when the target is not a
    * graft relation (the rule then leaves the plan to Spark's own
    * handling). */
  private[plans] def targetInfo(plan: LogicalPlan,
                                allowBareTombstones: Boolean = false)
      : Option[(String, Seq[String], StructType)] = {
    // a target already wrapped by GraftTombstoneRule (temp views analyze
    // eagerly, so the stored plan carries the anti-join) is CORRECT as a
    // DML base — the classification joins then see the logical (deleted-
    // rows-subtracted) state; unwrap through it for table identity only
    def tombstoneWrapLeft(p: LogicalPlan): Boolean = p match {
      case r: DataSourceV2Relation => r.table match {
        case g: GraftBatchTable => g.tombstonesApplied
        case _ => false
      }
      case SubqueryAlias(_, c) => tombstoneWrapLeft(c)
      case _ => false
    }
    @tailrec def unwrap(p: LogicalPlan): LogicalPlan = p match {
      case SubqueryAlias(_, c) => unwrap(c)
      case v: View             => unwrap(v.child)
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
          if j.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti &&
            tombstoneWrapLeft(j.left) => unwrap(j.left)
      case other               => other
    }
    unwrap(plan) match {
      case r: DataSourceV2Relation =>
        r.table match {
          case g: GraftBatchTable =>
            // a BARE tombstoned target (no anti-join wrap — e.g. a
            // catalog-name DML, where the statement root shields the
            // relation from the tombstone rule): the classification
            // joins would treat logically-deleted rows as matched and an
            // UPDATE/MERGE would resurrect them with new values — fail
            // fast rather than mis-apply
            if (g.tombstoneRows > 0 && !g.tombstonesApplied &&
                !allowBareTombstones)
              throw new UnsupportedOperationException(
                s"SQL DML on ${g.snapshotDir}: the snapshot carries " +
                  s"${g.tombstoneRows} deletion tombstones — materialize " +
                  "them first (CALL <catalog>.system.materialize_tombstones " +
                  "or GraftTable.materializeTombstones) and re-run")
            for {
              root <- g.rootPath
              key <- g.keyName
            } yield (root, key +: g.moreKeyNames, g.schema)
          case _ => None
        }
      case _ => None
    }
  }

  /** First-match-wins residual per clause: clause i fires under
    * ¬c₁ ∧ … ∧ ¬cᵢ₋₁ ∧ cᵢ (absent conditions are TRUE). */
  private[plans] def residuals(actions: Seq[MergeAction])
      : Seq[(MergeAction, Expression)] = {
    var priorNot: Expression = Literal.TrueLiteral
    actions.map { a =>
      val c = a.condition.getOrElse(Literal.TrueLiteral)
      val r = if (priorNot == Literal.TrueLiteral) c else And(priorNot, c)
      priorNot = And(priorNot, Not(c))
      (a, r)
    }
  }

  private[plans] def assignmentName(a: Assignment): String = a.key match {
    case attr: Attribute => attr.name
    case other => throw new UnsupportedOperationException(
      s"graft SQL DML supports top-level column assignments only, got ${other.sql}")
  }

  /** Project `base` (filtered by `residual`) to the table schema columns
    * plus the mutation op column. */
  private[plans] def branch(base: LogicalPlan, residual: Expression,
                            cols: Seq[(String, Expression)],
                            op: String): LogicalPlan = {
    val projectList = cols.map { case (n, e) => Alias(e, n)() } :+
      Alias(Literal(UTF8String.fromString(op),
        org.apache.spark.sql.types.StringType), GraftDmlRule.OpCol)()
    Project(projectList, Filter(residual, base))
  }

  private[plans] val OpCol = "__graft_sql_op"

  /** Test/telemetry hook: which execution strategy the last SQL DELETE
    * took — "zone" (metadata-priced zone-map classification) or "batch"
    * (classification scan + CoW merge). Volatile global, same pattern as
    * [[graft.sources.GraftSource.lastPlannedFiles]]. */
  @volatile var lastDeleteStrategy: String = ""

  /** Same hook for SQL UPDATE: "zone" or "batch". */
  @volatile var lastUpdateStrategy: String = ""

  private[plans] def attrByName(attrs: Seq[Attribute], name: String): Attribute =
    attrs.find(_.name == name)
      .orElse(attrs.find(_.name.equalsIgnoreCase(name)))
      .getOrElse(throw new IllegalStateException(
        s"DML target column $name not found among ${attrs.map(_.name).mkString(", ")}"))

  /** Attributes the DML's join/filter condition proves EQUAL to the
    * target's merge key (via conjunctive `=`/`<=>` terms): assigning the
    * key from any of them is key-preserving. Covers `UPDATE SET *`
    * (key = s.key under ON t.key = s.key) without admitting real moves. */
  private[plans] def keyEquivalents(cond: Expression,
                                    targetKey: Attribute)
      : Set[org.apache.spark.sql.catalyst.expressions.ExprId] = {
    import org.apache.spark.sql.catalyst.expressions.{EqualNullSafe, EqualTo}
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other     => Seq(other)
    }
    conjuncts(cond).collect {
      case EqualTo(a: Attribute, b: Attribute)
        if a.exprId == targetKey.exprId => b.exprId
      case EqualTo(a: Attribute, b: Attribute)
        if b.exprId == targetKey.exprId => a.exprId
      case EqualNullSafe(a: Attribute, b: Attribute)
        if a.exprId == targetKey.exprId => b.exprId
      case EqualNullSafe(a: Attribute, b: Attribute)
        if b.exprId == targetKey.exprId => a.exprId
    }.toSet
  }

  /** Schema-ordered (name, value) pairs for an UPDATE-style action:
    * assigned columns take the assignment expression, the rest keep the
    * target attribute. Rejects assignments that would CHANGE any merge
    * key column (leading or composite secondary) — the CoW apply is
    * key-addressed, so a key change would leave the old row behind;
    * re-assigning a key to itself (or to a source column the condition
    * proves equal, `keyEquiv(col)`) is fine. */
  private[plans] def updateCols(schema: StructType, targetAttrs: Seq[Attribute],
                                assigns: Seq[Assignment], keys: Seq[String],
                                keyEquiv: Map[String,
                                  Set[org.apache.spark.sql.catalyst.expressions.ExprId]]
                                  = Map.empty): Seq[(String, Expression)] = {
    assigns.foreach { a =>
      val n = assignmentName(a)
      keys.find(_.equalsIgnoreCase(n)).foreach { k =>
        val targetKey = attrByName(targetAttrs, k)
        a.value match {
          case attr: Attribute
            if attr.exprId == targetKey.exprId ||
               keyEquiv.getOrElse(k, Set.empty)(attr.exprId) => ()
          case v => throw new UnsupportedOperationException(
            s"UPDATE of the merge key ($k = ${v.sql}) is not supported — " +
              "the copy-on-write apply is key-addressed; DELETE + INSERT instead")
        }
      }
    }
    schema.fieldNames.toSeq.map { n =>
      val tAttr = attrByName(targetAttrs, n)
      val assigned = assigns.find { a =>
        a.key match {
          case k: Attribute => k.exprId == tAttr.exprId || k.name.equalsIgnoreCase(n)
          case _            => false
        }
      }
      n -> assigned.map(_.value).getOrElse(tAttr: Expression)
    }
  }

  /** SET-key exception: an INSERT assigns every column from the source
    * side, key included — schema-ordered values, missing columns null. */
  private[plans] def insertCols(schema: StructType,
                                assigns: Seq[Assignment]): Seq[(String, Expression)] =
    schema.fields.toSeq.map { f =>
      val assigned = assigns.find(a => assignmentName(a).equalsIgnoreCase(f.name))
      f.name -> assigned.map(_.value)
        .getOrElse(Literal(null, f.dataType): Expression)
    }
}

/** `MERGE INTO <graft table> USING <source> ON <cond> WHEN ...` as one
  * CoW merge commit. */
final case class GraftMergeCommand(merge: MergeIntoTable)
    extends LeafRunnableCommand {

  import GraftDmlRule._

  override def run(spark: SparkSession): Seq[Row] = {
    val (root, keys, schema) = targetInfo(merge.targetTable).get
    val key = keys.head
    if (merge.withSchemaEvolution)
      throw new UnsupportedOperationException(
        "MERGE WITH SCHEMA EVOLUTION is not supported on graft tables — " +
          "evolve via the DataFrame merge (new batch columns become table columns)")
    val target = merge.targetTable
    val source = merge.sourceTable
    val cond = merge.mergeCondition
    val targetAttrs = target.output

    // matched rows: inner join — both sides' attributes in scope, exactly
    // what the resolved clause conditions/assignments reference
    lazy val matchedBase = Join(target, source, Inner, Some(cond), JoinHint.NONE)
    // unmatched source rows: anti join from the source side
    lazy val notMatchedBase = Join(source, target, LeftAnti, Some(cond), JoinHint.NONE)
    // target rows with no source match: anti join from the target side
    lazy val notMatchedBySourceBase = Join(target, source, LeftAnti, Some(cond), JoinHint.NONE)

    def targetCols: Seq[(String, Expression)] =
      schema.fieldNames.toSeq.map(n => n -> (attrByName(targetAttrs, n): Expression))

    val keyEquiv = keys.map(k =>
      k -> keyEquivalents(cond, attrByName(targetAttrs, k))).toMap
    val matched = residuals(merge.matchedActions).map {
      case (u: UpdateAction, r) =>
        branch(matchedBase, r,
          updateCols(schema, targetAttrs, u.assignments, keys, keyEquiv), "upsert")
      case (d: DeleteAction, r) =>
        branch(matchedBase, r, targetCols, "delete")
      case (other, _) => throw new UnsupportedOperationException(
        s"unsupported WHEN MATCHED action: $other")
    }
    val notMatched = residuals(merge.notMatchedActions).map {
      case (i: InsertAction, r) =>
        branch(notMatchedBase, r, insertCols(schema, i.assignments), "upsert")
      case (other, _) => throw new UnsupportedOperationException(
        s"unsupported WHEN NOT MATCHED action: $other")
    }
    val notMatchedBySource = residuals(merge.notMatchedBySourceActions).map {
      case (d: DeleteAction, r) =>
        branch(notMatchedBySourceBase, r, targetCols, "delete")
      case (u: UpdateAction, r) =>
        branch(notMatchedBySourceBase, r,
          updateCols(schema, targetAttrs, u.assignments, keys), "upsert")
      case (other, _) => throw new UnsupportedOperationException(
        s"unsupported WHEN NOT MATCHED BY SOURCE action: $other")
    }

    val branches = matched ++ notMatched ++ notMatchedBySource
    require(branches.nonEmpty, "MERGE INTO needs at least one action clause")
    val batchPlan = if (branches.size == 1) branches.head else Union(branches)
    GraftSqlDml.commit(spark, root, key, batchPlan)
    Seq.empty
  }
}

/** `DELETE FROM <graft table> [WHERE <cond>]`, two execution strategies
  * picked by a driver-side metadata probe:
  *
  *  - **zone** — when the manifest's zone maps fully decide at least
  *    half the files ([[graft.sources.ZoneDelete]]), the statement
  *    commits as a metadata-priced delete: provably-all-matching files
  *    dropped, none-matching files passed through, the undecidable rest
  *    rewritten under the statement's own predicate as a residual
  *    filter. A key-range retention delete never scans the table.
  *  - **batch** — otherwise (predicate selective on un-zoned columns:
  *    proving rows requires reading them anyway), the delete batch is
  *    the filtered target itself, one CoW merge commit — only the true
  *    holder files rewrite.
  *
  * Both strategies produce identical table state; the probe costs one
  * manifest read. */
final case class GraftDeleteCommand(delete: DeleteFromTable)
    extends LeafRunnableCommand {

  import GraftDmlRule._

  override def run(spark: SparkSession): Seq[Row] = {
    val (root, keys, schema) =
      targetInfo(delete.table, allowBareTombstones = true).get
    val targetAttrs = delete.table.output

    // MERGE-ON-READ strategy first (opt-in, the deletion-vector model):
    // `spark.graft.delete.useTombstones=true` turns a small KEY-ONLY
    // delete into a tombstone commit — metadata cost instead of
    // rewriting the holder files (which is what the zone path would do
    // for scattered keys: it proves the NON-holders clean and rewrites
    // the holders anyway, so for this shape tombstones strictly beat
    // it; range deletes below still prefer zone's whole-file drops).
    // The probe scan is key-pruned (the optimizer strips the no-op
    // self-casts analysis adds, so the IN-set pushes down to the
    // manifest); on fallback its cost is re-paid by the batch path —
    // the price of not trusting a guess. `references.nonEmpty` guards
    // the vacuous case (WHERE 1=1 references no columns and must not
    // tombstone the whole table). Opt-in because maintenance economics
    // change (compact requires materialization first).
    val tombstonesOn = spark.conf
      .getOption("spark.graft.delete.useTombstones")
      .exists(_.equalsIgnoreCase("true"))
    val refs = delete.condition.references
    val keyOnly = refs.nonEmpty &&
      refs.forall(a => keys.exists(_.equalsIgnoreCase(a.name)))
    // tombstones are for SCATTERED POINT deletes (IN / equality shapes).
    // A key RANGE stays on the zone path: whole-file drops reclaim space
    // and leave no read toll, strictly better than tombstoning a span.
    def pointShape(e: Expression): Boolean = e match {
      case org.apache.spark.sql.catalyst.expressions.In(_, vs) =>
        vs.forall(_.foldable)
      case _: org.apache.spark.sql.catalyst.expressions.EqualTo |
           _: org.apache.spark.sql.catalyst.expressions.EqualNullSafe => true
      case org.apache.spark.sql.catalyst.expressions.Or(l, r) =>
        pointShape(l) && pointShape(r)
      case _ => false
    }
    val usedTombstones =
      tombstonesOn && keyOnly && pointShape(delete.condition) &&
        !keys.exists(_.contains(".")) && {
        val maxKeys = spark.conf
          .getOption("spark.graft.delete.tombstoneMaxKeys")
          .map(v => try v.toInt catch {
            case _: NumberFormatException =>
              throw new IllegalArgumentException(
                s"spark.graft.delete.tombstoneMaxKeys must be an int, got '$v'")
          }).getOrElse(100000)
        val classic =
          spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        val keysDf = org.apache.spark.sql.classic.GraftShims.ofRows(
          classic,
          Project(keys.map(n =>
            Alias(attrByName(targetAttrs, n), n)()).toList,
            org.apache.spark.sql.catalyst.plans.logical.Filter(
              delete.condition, delete.table)))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          // bounded probe: stop counting past the threshold
          val n = keysDf.limit(maxKeys + 1).count()
          if (n > 0 && n <= maxKeys) {
            GraftDmlRule.lastDeleteStrategy = "tombstone"
            graft.GraftTable(spark, root, keys.head).deleteKeys(keysDf)
            true
          } else false
        } finally { keysDf.unpersist(false): Unit }
      }
    if (!usedTombstones) {
      val latest = graft.streaming.CdcMergeSink.latestSnapshot(root)
      val zoneWorthwhile = graft.sources.Manifest.read(latest)
        .map(graft.sources.ZoneDelete.classify(_, latest, delete.condition))
        .exists(c => c.total == 0 || c.provenFraction >= 0.5)
      if (zoneWorthwhile) {
        GraftDmlRule.lastDeleteStrategy = "zone"
        // re-resolvable form of the statement's own predicate: attribute
        // refs bound to the DML plan are replaced by plain names, so the
        // per-file residual filter resolves against each file scan
        val unresolved = delete.condition.transform {
          case a: org.apache.spark.sql.catalyst.expressions.AttributeReference =>
            org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
              .quoted(a.name)
        }
        graft.GraftTable(spark, root, keys.head).deleteWhere(
          org.apache.spark.sql.classic.GraftShims.column(unresolved))
      } else {
        GraftDmlRule.lastDeleteStrategy = "batch"
        val cols = schema.fieldNames.toSeq
          .map(n => n -> (attrByName(targetAttrs, n): Expression))
        val batchPlan = branch(delete.table, delete.condition, cols, "delete")
        GraftSqlDml.commit(spark, root, keys.head, batchPlan)
      }
    }
    Seq.empty
  }
}

/** `UPDATE <graft table> SET ... [WHERE <cond>]`, two strategies like
  * DELETE's (key-preserving assignments only, same rule as MERGE's
  * UPDATE):
  *
  *  - **zone** — when the zone maps prove at least half the files
  *    untouched by the condition (and no assignment names a key
  *    column), the update rewrites ONLY the intersecting files in
  *    place with a CASE projection — the table is never scanned;
  *  - **batch** — otherwise, the update batch is the filtered target
  *    with assignments applied, one CoW merge commit. */
final case class GraftUpdateCommand(update: UpdateTable)
    extends LeafRunnableCommand {

  import GraftDmlRule._

  override def run(spark: SparkSession): Seq[Row] = {
    val (root, keys, schema) = targetInfo(update.table).get
    val targetAttrs = update.table.output
    val cond = update.condition.getOrElse(Literal.TrueLiteral)
    val assignsKey = update.assignments.exists(a =>
      keys.exists(_.equalsIgnoreCase(assignmentName(a))))
    val latest = graft.streaming.CdcMergeSink.latestSnapshot(root)
    val zoneWorthwhile = !assignsKey && graft.sources.Manifest.read(latest)
      .map(graft.sources.ZoneDelete.classify(_, latest, cond))
      .exists(c => c.total == 0 || c.keep.size * 2 >= c.total)
    if (zoneWorthwhile) {
      GraftDmlRule.lastUpdateStrategy = "zone"
      def unresolve(e: Expression): Expression = e.transform {
        case a: org.apache.spark.sql.catalyst.expressions.AttributeReference =>
          org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
            .quoted(a.name)
      }
      def toCol(e: Expression): org.apache.spark.sql.Column =
        org.apache.spark.sql.classic.GraftShims.column(unresolve(e))
      val sets = update.assignments.map(a => assignmentName(a) -> toCol(a.value))
      graft.OptimisticCommit.updateWhere(spark, root, keys.head, toCol(cond),
        sets)
    } else {
      GraftDmlRule.lastUpdateStrategy = "batch"
      val cols = updateCols(schema, targetAttrs, update.assignments, keys)
      val batchPlan = branch(update.table, cond, cols, "upsert")
      GraftSqlDml.commit(spark, root, keys.head, batchPlan)
    }
    Seq.empty
  }
}

private object GraftSqlDml {
  /** Execute the batch plan and commit it as the table's next version.
    *
    * The batch is PERSISTED for the commit's duration: a DML batch plan
    * always contains a scan of the target table (the matched/unmatched
    * classification joins, or UPDATE/DELETE's filtered target), and the
    * commit executes its batch several times — empty probe, key routing,
    * dirty rewrite, plus re-merges under commit conflicts. Without the
    * cache each pass would re-scan the target — at large table scale the
    * dominant cost. The materialized batch is the MUTATION set (the rows
    * the statement touches), which is what spills if it's big — the same
    * trade row-level-DML engines make by materializing the merge source. */
  def commit(spark: SparkSession, root: String, key: String,
             batchPlan: LogicalPlan): Unit = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val batch = org.apache.spark.sql.classic.GraftShims.ofRows(classic, batchPlan)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try graft.GraftTable(spark, root, key)
      .commit(batch, opCol = GraftDmlRule.OpCol)
    finally batch.unpersist(false)
  }
}
