package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, struct, when}

import graft.sources.ParquetTable
import graft.streaming.{AggView, CdcMergeSink}

/** Versioned mutable table: the round-3 lifecycle surfaces —
  * batch commits, time travel, change feed, retention, materialized
  * views — behind one handle. Storage is the [[CdcMergeSink]] layout
  * (`root/base` + one manifest-committed CoW snapshot per version), so
  * everything here is also exactly what the streaming sink produces:
  * a table written by a stream and a table driven by `commit()` calls
  * are interchangeable.
  *
  * {{{
  * val t = GraftTable.create(df, root, "id", numFiles = 32)
  * t.commit(mutations)                  // CoW merge -> version 0
  * t.read()                             // latest committed state
  * t.readAsOf(0L)                       // time travel
  * t.changeFeed(-1L, 0L)                // row-level diff, delta-priced
  * t.refreshAggView(Seq("cat"), Seq("v")); t.readAggView()
  * t.vacuum(keepLast = 10)
  * }}}
  */
final class GraftTable private (val spark: SparkSession, val root: String,
    val key: String,
    val passthrough: graft.sources.MutableParquetTable.Passthrough =
      graft.sources.MutableParquetTable.Link) {

  /** Committed version ids, ascending. */
  def versions: Seq[Long] = CdcMergeSink.versions(root)

  /** Apply a mutation batch (`opCol` = 'upsert' | 'delete') as one CoW
    * merge; returns the new version id. Empty batches commit nothing and
    * return the current latest version (-1 = only the base exists).
    *
    * Safe under CONCURRENT writers — threads or separate drivers on a
    * shared filesystem ([[OptimisticCommit]]): each commit stages
    * privately and publishes with one atomic rename; losers of the
    * publish race rebase or re-merge against the new head. Every write
    * surface funnels here (SQL MERGE/DELETE/UPDATE via the DML rule,
    * INSERT INTO via the V2 write), so they all inherit the protocol. */
  def commit(batch: DataFrame, opCol: String = "op",
             seqCol: Option[String] = None): Long =
    OptimisticCommit.commit(spark, root, key, batch, opCol, seqCol,
      passthrough).version

  /** Replace ALL table content with `batch` as the next version — the
    * storage side of SQL `INSERT OVERWRITE` / `TRUNCATE TABLE` (empty
    * batch = truncate). Key-sorted disjoint layout, atomic publish,
    * safe under concurrent writers ([[OptimisticCommit.replace]]);
    * prior versions stay readable (time travel is how an accidental
    * overwrite is undone). `numFiles` 0 sizes output files at ~128 MB
    * from the batch plan's statistics. */
  def replace(batch: DataFrame, numFiles: Int = 0): Long =
    OptimisticCommit.replace(spark, root, key, batch, numFiles)

  /** The CHECK constraints the latest committed version declares
    * (name → SQL expression). */
  def checks: Map[String, String] =
    graft.sources.GraftChecks.manifestChecks(CdcMergeSink.latestSnapshot(root))

  /** Add a named CHECK constraint (standard SQL semantics: a row
    * violates only when the expression is FALSE — NULL passes, so
    * `c IS NOT NULL` declares NOT NULL). Validates the expression
    * against the schema AND the whole current table content (ONE scan —
    * the only time existing rows are ever checked; every later write
    * validates only its batch), then commits the constraint as a
    * METADATA-ONLY version. Returns the new version id. */
  def addCheck(name: String, expression: String): Long =
    alterChecks(Map(name -> expression), Nil)

  /** Drop a named CHECK constraint as a METADATA-ONLY version.
    * (Dropping can never create a violation, so no validation scan —
    * but a concurrent constraint change still fails the commit rather
    * than being silently stomped.) */
  def dropCheck(name: String): Long = alterChecks(Map.empty, Seq(name))

  /** Apply a BATCH of constraint changes as ONE metadata commit — what
    * an `ALTER TABLE` with several `check.*` properties compiles to.
    * Every added expression is validated against the schema FIRST (an
    * invalid one aborts the whole statement before anything commits —
    * no half-applied DDL), then existing rows are validated ONCE
    * against the combined added set (one table scan however many checks
    * the statement adds). If the publish races with a data writer, rows
    * landed since that scan were validated only against the OLD
    * contract — the rebase re-scans the new head before declaring the
    * checks; a concurrent CONSTRAINT change fails the statement instead
    * of being stomped. */
  def alterChecks(add: Map[String, String], drop: Seq[String]): Long = {
    val latestV = CdcMergeSink.versions(root).lastOption.getOrElse(-1L)
    val latest = CdcMergeSink.latestSnapshot(root)
    val existing = graft.sources.GraftChecks.manifestChecks(latest)
    add.keys.foreach(n =>
      require(!existing.contains(n), s"check '$n' already exists"))
    drop.foreach(n => require(existing.contains(n),
      s"check '$n' does not exist " +
        existing.keys.mkString("(have: ", ", ", ")")))
    if (add.nonEmpty) {
      val schema = graft.sources.MutableParquetTable.manifestSchema(latest)
        .getOrElse(throw new IllegalStateException(
          s"$latest carries no schema — commit the table before adding checks"))
      add.foreach { case (n, e) =>
        graft.sources.GraftChecks.validateExpr(spark, schema, n, e) }
      graft.sources.GraftChecks.enforce(read(), add,
        s"existing rows of $root (ADD CONSTRAINT)")
    }
    OptimisticCommit.commitChecks(root, existing -- drop ++ add,
      validatedVersion = Some(latestV),
      revalidate = _ => if (add.nonEmpty)
        graft.sources.GraftChecks.enforce(read(), add,
          s"existing rows of $root (ADD CONSTRAINT, rebased onto a " +
            "concurrent commit)"),
      expectedChecks = Some(existing))
  }

  /** The DEFAULT column expressions the latest committed version
    * declares (column → constant SQL expression). */
  def columnDefaults: Map[String, String] =
    graft.sources.GraftDefaults.manifestDefaults(
      CdcMergeSink.latestSnapshot(root))

  /** The GENERATED ALWAYS AS expressions the latest committed version
    * declares (column → SQL expression over the other columns). */
  def generatedColumns: Map[String, String] =
    graft.sources.GraftDefaults.manifestGenerated(
      CdcMergeSink.latestSnapshot(root))

  /** `ALTER TABLE ... ALTER COLUMN c SET DEFAULT expr` — metadata-only
    * at any table size (defaults govern FUTURE writes; existing rows
    * are untouched, the standard lakehouse contract). */
  def setColumnDefault(colName: String, expression: String): Long =
    alterColumnContracts(addDefaults = Map(colName -> expression))

  /** `ALTER TABLE ... ALTER COLUMN c DROP DEFAULT` — metadata-only. */
  def dropColumnDefault(colName: String): Long =
    alterColumnContracts(dropDefaults = Seq(colName))

  /** Declare `colName` GENERATED ALWAYS AS (expr): validates the
    * expression over the OTHER columns and the whole current table
    * content ONCE (null-safe equality — the ADD CONSTRAINT scan), then
    * commits metadata-only; every later write either computes the
    * column (omitted) or is validated against the expression
    * (supplied). */
  def setGeneratedColumn(colName: String, expression: String): Long =
    alterColumnContracts(addGenerated = Map(colName -> expression))

  /** Drop a GENERATED declaration (the column stays, writers regain
    * control of it) — metadata-only. */
  def dropGeneratedColumn(colName: String): Long =
    alterColumnContracts(dropGenerated = Seq(colName))

  /** Apply a batch of DEFAULT/GENERATED contract changes as ONE
    * metadata commit (the [[alterChecks]] statement shape): every
    * expression validates FIRST, existing rows validate once against
    * the added GENERATED set, concurrent contract drift fails the
    * statement, and a concurrent data commit re-validates before
    * publishing (the rebase-drift decline lives in
    * [[OptimisticCommit]]'s rebase, which refuses to carry a batch
    * staged under a stale contract). */
  def alterColumnContracts(addDefaults: Map[String, String] = Map.empty,
                           dropDefaults: Seq[String] = Nil,
                           addGenerated: Map[String, String] = Map.empty,
                           dropGenerated: Seq[String] = Nil): Long = {
    val latestV = CdcMergeSink.versions(root).lastOption.getOrElse(-1L)
    val latest = CdcMergeSink.latestSnapshot(root)
    val exD = graft.sources.GraftDefaults.manifestDefaults(latest)
    val exG = graft.sources.GraftDefaults.manifestGenerated(latest)
    addDefaults.keys.foreach(c => require(!exD.contains(c),
      s"column '$c' already has a DEFAULT — drop it first"))
    addGenerated.keys.foreach(c => require(!exG.contains(c),
      s"column '$c' is already GENERATED — drop the declaration first"))
    dropDefaults.foreach(c => require(exD.contains(c),
      s"column '$c' has no DEFAULT to drop"))
    dropGenerated.foreach(c => require(exG.contains(c),
      s"column '$c' has no GENERATED declaration to drop"))
    (addDefaults.keySet ++ addGenerated.keySet).foreach(c => require(
      !(addDefaults.contains(c) && addGenerated.contains(c)) &&
        !(exG.contains(c) && addDefaults.contains(c)) &&
        !(exD.contains(c) && addGenerated.contains(c)),
      s"column '$c' cannot be both DEFAULT and GENERATED"))
    val schema = graft.sources.MutableParquetTable.manifestSchema(latest)
      .getOrElse(throw new IllegalStateException(
        s"$latest carries no schema — commit the table before declaring " +
          "column contracts"))
    addDefaults.foreach { case (c, e) =>
      require(schema.fields.exists(_.name.equalsIgnoreCase(c)),
        s"DEFAULT column '$c' is not in the schema " +
          schema.fieldNames.mkString("(have: ", ", ", ")"))
      graft.sources.GraftDefaults.validateDefaultExpr(spark, c, e)
    }
    def validateExisting(): Unit = if (addGenerated.nonEmpty) {
      addGenerated.foreach { case (c, e) =>
        graft.sources.GraftDefaults.validateGeneratedExpr(spark, schema,
          c, e) }
      graft.sources.GraftChecks.enforce(read(),
        addGenerated.map { case (c, e) => s"generated:$c" -> s"`$c` <=> ($e)" },
        s"existing rows of $root (SET GENERATED)")
    }
    validateExisting()
    OptimisticCommit.commitColumnContracts(root,
      exD -- dropDefaults ++ addDefaults,
      exG -- dropGenerated ++ addGenerated,
      validatedVersion = Some(latestV),
      revalidate = _ => validateExisting(),
      expected = Some((exD, exG)))
  }

  /** `ALTER TABLE ... DROP COLUMN` as a METADATA-ONLY commit at any
    * table size: the next version references every current data file in
    * place under the NARROWED schema — scans simply stop projecting the
    * column (parquet prunes absent-from-schema columns for free on old
    * files), and CoW rewrites shed the bytes lazily as files are
    * touched. The name goes on the manifest's dropped-column blocklist
    * so a later ADD / merge evolution cannot silently resurrect
    * pre-drop values from surviving files (the list clears once a
    * replace/truncate leaves no such file). Merge-key columns are
    * immutable row identity and cannot be dropped; a column a CHECK
    * constraint references needs the check dropped first. */
  def dropColumn(name: String): Long = dropColumns(Seq(name))

  /** [[dropColumn]] for a whole `ALTER TABLE ... DROP COLUMN a, b, ...`
    * statement: every name is validated FIRST and the batch commits as
    * ONE metadata version — a failure on any column aborts the whole
    * statement before anything publishes (no half-applied DDL). With
    * `ifExists`, names not in the schema are skipped (standard
    * `DROP COLUMN IF EXISTS`); an all-missing batch is a no-op returning
    * the current version. The commit carries schema+checks drift guards:
    * a column added concurrently (ADD COLUMNS or merge evolution) or a
    * check added concurrently between this read and the publish fails
    * the statement instead of being silently erased / left referencing a
    * ghost column. */
  def dropColumns(names: Seq[String], ifExists: Boolean = false): Long = {
    require(names.nonEmpty, "no columns to drop")
    val latest = CdcMergeSink.latestSnapshot(root)
    val schema = graft.sources.MutableParquetTable.manifestSchema(latest)
      .getOrElse(throw new IllegalStateException(
        s"$latest carries no schema — only committed tables can drop columns"))
    val keys = key +: graft.sources.MutableParquetTable.manifestMoreKeys(latest)
    names.foreach { name =>
      // a nested key path ('a.b' via the nestedKeys feature) is rooted in
      // its struct column — dropping 'a' would commit a table whose
      // manifest key no longer resolves; exact-name equality misses it
      require(!keys.exists(k => k.equalsIgnoreCase(name) ||
          k.toLowerCase.startsWith(name.toLowerCase + ".")),
        s"$name is (or contains) a merge-key column — keys are immutable " +
          "row identity and cannot be dropped")
    }
    // dotted names drop NESTED struct fields ("s.c") — resolved
    // case-insensitively; a path through a non-struct throws (malformed,
    // not merely absent)
    val resolved = names.map(n => n -> GraftTable.resolveFieldPath(schema, n))
    val (present0, missing0) = resolved.partition(_._2.isDefined)
    if (missing0.nonEmpty && !ifExists) {
      val missing = missing0.map(_._1)
      throw new IllegalArgumentException(
        s"column${if (missing.size > 1) "s" else ""} ${missing.mkString(", ")} " +
          "do" + (if (missing.size > 1) "" else "es") + " not exist " +
          schema.fieldNames.mkString("(have: ", ", ", ")"))
    }
    if (present0.isEmpty) return versions.lastOption.getOrElse(-1L)
    val paths = present0.map(_._2.get._1)             // canonical casing
    val fields = present0.map { case (_, r) =>
      r.get._2.copy(name = r.get._1.mkString(".")) }
    val narrowed = paths.foldLeft(schema)(GraftTable.dropNestedField)
    // every CHECK must still resolve without the columns — a contract
    // referencing a ghost would fail every later write confusingly
    val checks = graft.sources.GraftChecks.manifestChecks(latest)
    checks.foreach { case (n, e) =>
      try graft.sources.GraftChecks.validateExpr(spark, narrowed, n, e)
      catch { case ex: Exception =>
        throw new IllegalArgumentException(
          s"cannot drop ${fields.map(_.name).mkString(", ")}: CHECK " +
            s"constraint '$n' ($e) references a dropped column — drop " +
            "the check first", ex)
      }
    }
    // DEFAULT/GENERATED contracts: a dropped column may neither carry a
    // contract nor be referenced by a generated expression
    val defaultsM = graft.sources.GraftDefaults.manifestDefaults(latest)
    val generatedM = graft.sources.GraftDefaults.manifestGenerated(latest)
    names.foreach { n =>
      require(!defaultsM.keys.exists(_.equalsIgnoreCase(n)),
        s"cannot drop $n: it carries a DEFAULT — drop the default first")
      require(!generatedM.keys.exists(_.equalsIgnoreCase(n)),
        s"cannot drop $n: it is GENERATED — drop the declaration first")
    }
    generatedM.foreach { case (c, e) =>
      // c itself survives the drop (guarded just above), so the
      // narrowed schema still contains it — only the expression's
      // references can break
      try graft.sources.GraftDefaults.validateGeneratedExpr(spark,
        narrowed, c, e)
      catch { case ex: Exception =>
        throw new IllegalArgumentException(
          s"cannot drop ${fields.map(_.name).mkString(", ")}: GENERATED " +
            s"column '$c' ($e) references a dropped column — drop the " +
            "declaration first", ex)
      }
    }
    // renamed columns: the resurrection blocklist must record the
    // PHYSICAL on-file name (that is what surviving files carry — the
    // logical name never existed in any file), and the rename entry dies
    // with the column
    val renames0 = graft.sources.MutableParquetTable.manifestRenames(latest)
    // a dotted path's physical form maps its CONTAINER through the
    // rename table: dropping a.b under a renamed container a→pa
    // blocklists pa.b (the bytes surviving files actually carry)
    val physNames = paths.map { p =>
      (renames0.collectFirst {
        case (l, phys) if l.equalsIgnoreCase(p.head) => phys
      }.getOrElse(p.head) +: p.tail).mkString(".")
    }
    val droppedTop = fields.map(_.name).filterNot(_.contains("."))
    val newRenames = renames0.filterNot { case (l, _) =>
      droppedTop.exists(_.equalsIgnoreCase(l)) }
    // dim entries are keyed by the LOGICAL name; the blocklist strips by
    // the physical one — shed the logical-name entries too (dead weight
    // over a column readers can no longer see)
    val logicalNames = paths.map(_.mkString("."))
    OptimisticCommit.commitSchema(root, narrowed,
      recordDropped = physNames,
      expectedSchema = Some(schema), expectedChecks = Some(checks),
      newRenames = if (newRenames == renames0) None else Some(newRenames),
      stripDims = logicalNames.filterNot(l =>
        physNames.exists(_.equalsIgnoreCase(l))))
  }

  /** `ALTER TABLE ... ALTER COLUMN name TYPE wider` as a METADATA-ONLY
    * commit, for the WIDENING-safe pairs only (byte→short→int→long,
    * float→double, byte/short/int→double, decimal(p,s)→decimal(p',s')
    * with s'≥s and p'−s'≥p−s — precision growth, and scale growth backed
    * by the readers' lossless 10^(s'−s) rescale — plus
    * byte/short/int→decimal with ≥10 integer digits, long→decimal with
    * ≥20, and date→timestamp_ntz): the manifest schema takes the
    * wide type and existing files keep their narrow physical bytes.
    * Dotted names retype NESTED struct fields ("s.c") under the same
    * contract — the readers' upcast operates per leaf column chunk —
    * Spark's parquet readers upcast narrow physicals to the requested
    * wider type (the Delta type-widening mechanic), CoW rewrites write
    * the wide type going forward, and values exceeding the old range
    * become writable immediately. The column lands on a
    * `widenedColumns` marker while pre-ALTER files survive: byte-splice
    * maintenance must not mix physical shapes in one file, so
    * compaction switches to the purging rewrite and the row-group merge
    * falls back to the file-level path; the marker clears once no such
    * file remains (replace / purging compact / a merge that rewrote
    * everything). Any other retype — narrowing, string↔numeric,
    * decimal — refuses: it would misread committed files. Key columns
    * refuse (bucket hashes and zone-map encodings are width-typed).
    * Dim zone maps on the column are shed (re-attach sweeps the wide
    * type). Time travel shows each version's own type. */
  def alterColumnType(name: String,
                      newType: org.apache.spark.sql.types.DataType): Long = {
    import org.apache.spark.sql.types._
    val latest = CdcMergeSink.latestSnapshot(root)
    val schema = graft.sources.MutableParquetTable.manifestSchema(latest)
      .getOrElse(throw new IllegalStateException(
        s"$latest carries no schema — only committed tables can retype columns"))
    val keys = key +: graft.sources.MutableParquetTable.manifestMoreKeys(latest)
    require(!keys.exists(k => k.equalsIgnoreCase(name) ||
        k.toLowerCase.startsWith(name.toLowerCase + ".")),
      s"$name is (or contains) a merge-key column — key types drive " +
        "bucket hashes and zone-map encodings and cannot change")
    // dotted names retype NESTED struct fields ("s.c") — the readers'
    // upcast operates per leaf column chunk, so the same metadata-only
    // contract holds at any nesting depth
    val (path, field0) = GraftTable.resolveFieldPath(schema, name)
      .getOrElse(throw new IllegalArgumentException(
        s"column $name does not exist " +
          schema.fieldNames.mkString("(have: ", ", ", ")")))
    val field = field0.copy(name = path.mkString("."))
    // the matrix is exactly what Spark 4's parquet readers upcast from
    // committed narrow physicals (ParquetVectorUpdaterFactory /
    // ParquetRowConverter): integral/float promotion, decimal growth
    // where the scale never shrinks and the INTEGER digits never shrink
    // (p-s, the reader's isDecimalTypeMatched rule — values rescale by
    // 10^(s'-s) losslessly), integrals into a decimal wide enough for
    // their full range (int needs >=10 integer digits, long >=20), and
    // date into the day-start timestamp without a zone
    def wideningSafe(from: DataType, to: DataType): Boolean = (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType | DoubleType) => true
      case (ShortType, IntegerType | LongType | DoubleType)            => true
      case (IntegerType, LongType | DoubleType)                        => true
      case (FloatType, DoubleType)                                     => true
      case (d: DecimalType, d2: DecimalType) =>
        (d2.precision != d.precision || d2.scale != d.scale) &&
          d2.scale >= d.scale &&
          (d2.precision - d2.scale) >= (d.precision - d.scale)
      case (ByteType | ShortType | IntegerType, d: DecimalType) =>
        d.precision - d.scale >= 10
      case (LongType, d: DecimalType) => d.precision - d.scale >= 20
      case (DateType, TimestampNTZType)        => true
      case _                                   => false
    }
    require(wideningSafe(field.dataType, newType),
      s"cannot retype ${field.name} ${field.dataType.simpleString} -> " +
        s"${newType.simpleString}: only widening-safe pairs " +
        "(byte->short->int->long, float->double, byte/short/int->double, " +
        "decimal growth keeping scale and integer digits, " +
        "byte/short/int->decimal(>=10 int digits), long->decimal(>=20), " +
        "date->timestamp_ntz) are readable from committed files without " +
        "a rewrite")
    val widened = GraftTable.retypeNestedField(schema, path, newType)
    // CHECK constraints must keep resolving under the wide type
    val checks = graft.sources.GraftChecks.manifestChecks(latest)
    checks.foreach { case (n, e) =>
      try graft.sources.GraftChecks.validateExpr(spark, widened, n, e)
      catch { case ex: Exception =>
        throw new IllegalArgumentException(
          s"cannot retype ${field.name}: CHECK constraint '$n' ($e) " +
            "does not resolve under the new type — drop the check first", ex)
      }
    }
    // record the PHYSICAL dotted path, like dropColumns' blocklist: a
    // column widened under a renamed container must name the bytes the
    // surviving files actually carry, so dim-entry strips and any future
    // physical-path consumer see one naming convention across markers
    val renames0 = graft.sources.MutableParquetTable.manifestRenames(latest)
    val physName = (renames0.collectFirst {
      case (l, phys) if l.equalsIgnoreCase(path.head) => phys
    }.getOrElse(path.head) +: path.tail).mkString(".")
    // dim zone-map entries are keyed by the LOGICAL name (attachDimRanges
    // records the name pushed filters carry) — strip by it as well as the
    // physical marker name, or a renamed-then-widened column's live
    // entries survive and their narrow-encoded bounds wrongly prune
    // wide-typed filter values (silently missing rows)
    OptimisticCommit.commitSchema(root, widened,
      expectedSchema = Some(schema), expectedChecks = Some(checks),
      recordWidened = Seq(physName),
      stripDims = Seq(field.name).filterNot(_.equalsIgnoreCase(physName)))
  }

  /** `ALTER TABLE ... RENAME COLUMN from TO to` as a METADATA-ONLY
    * commit at any table size: data files keep the column's PHYSICAL
    * (birth) name forever and the manifest records a logical→physical
    * mapping — scans alias at the file boundary, rewrites write the
    * physical name back, so no data file is ever touched by the rename.
    * A non-empty mapping stamps the `columnRenames` manifest feature:
    * readers without the mapping refuse instead of silently returning
    * the old column name. The mapping materializes (and clears) on the
    * next full physical rewrite (replace / z-order). Renaming back to
    * the birth name simply clears the entry.
    *
    * Refused for merge-key columns (immutable row identity — and the
    * whole routing/zone-map layer keys on the physical name), for
    * targets that collide with an existing logical or physical name or
    * a dropped-column blocklist entry, and while a CHECK constraint
    * references the column (drop the check first). Dim zone maps
    * attached under the old name stop pruning until re-attached
    * ([[graft.sources.MutableParquetTable.attachDimRanges]] resolves
    * the physical name itself). Time travel shows each version under
    * the name it had when committed. */
  def renameColumn(from: String, to: String): Long = {
    require(to.nonEmpty && !to.contains("."), s"invalid column name '$to'")
    val latest = CdcMergeSink.latestSnapshot(root)
    val schema = graft.sources.MutableParquetTable.manifestSchema(latest)
      .getOrElse(throw new IllegalStateException(
        s"$latest carries no schema — only committed tables can rename columns"))
    val keys = key +: graft.sources.MutableParquetTable.manifestMoreKeys(latest)
    require(!keys.exists(k => k.equalsIgnoreCase(from) ||
        k.toLowerCase.startsWith(from.toLowerCase + ".")),
      s"$from is (or contains) a merge-key column — keys are immutable " +
        "row identity and cannot be renamed")
    val field = schema.fields.find(_.name.equalsIgnoreCase(from))
      .getOrElse(throw new IllegalArgumentException(
        s"column $from does not exist " +
          schema.fieldNames.mkString("(have: ", ", ", ")")))
    require(!schema.fields.exists(_.name.equalsIgnoreCase(to)),
      s"column $to already exists")
    val renames0 = graft.sources.MutableParquetTable.manifestRenames(latest)
    // `to` must not shadow another column's PHYSICAL name: the physical
    // read schema would then carry the name twice
    val otherPhysical = schema.fields
      .filterNot(_.name.equalsIgnoreCase(field.name))
      .map(f => renames0.getOrElse(f.name, f.name))
    require(!otherPhysical.exists(_.equalsIgnoreCase(to)),
      s"column name $to is the physical on-file name of another column — " +
        "pick a different name or rewrite the table (replace) first")
    require(!graft.sources.MutableParquetTable.manifestDroppedColumns(latest)
        .exists(_.equalsIgnoreCase(to)),
      s"column name $to was previously DROPPED and files still carry its " +
        "old values — rewrite the table (replace/compact) first")
    // every CHECK must keep resolving; a constraint naming `from` would
    // become a ghost contract failing every later write
    val checks = graft.sources.GraftChecks.manifestChecks(latest)
    val renamedSchema = org.apache.spark.sql.types.StructType(
      schema.fields.map(f =>
        if (f.name.equalsIgnoreCase(from)) f.copy(name = to) else f))
    checks.foreach { case (n, e) =>
      try graft.sources.GraftChecks.validateExpr(spark, renamedSchema, n, e)
      catch { case ex: Exception =>
        throw new IllegalArgumentException(
          s"cannot rename ${field.name}: CHECK constraint '$n' ($e) " +
            "references it — drop the check first", ex)
      }
    }
    // chained renames resolve to the BIRTH name (a→b→c maps c→a);
    // renaming back to the birth name clears the entry
    val physical = renames0.getOrElse(field.name, field.name)
    val newRenames = (renames0 - field.name) ++
      (if (to.equalsIgnoreCase(physical)) Map.empty[String, String]
       else Map(to -> physical))
    OptimisticCommit.commitSchema(root, renamedSchema,
      expectedSchema = Some(schema), expectedChecks = Some(checks),
      newRenames = Some(newRenames))
  }

  /** `DELETE WHERE` committed as the next version at METADATA price
    * wherever the manifest can prove it ([[graft.sources.ZoneDelete]]):
    * files whose zone map shows every row matches are dropped whole,
    * files no row can match pass through untouched, and only the
    * undecidable remainder (typically one boundary file per range
    * endpoint) is rewritten with the residual filter. A key-range
    * retention delete on a 100 TB table is one manifest commit. Safe
    * under concurrent writers; returns the new version id. */
  def deleteWhere(cond: org.apache.spark.sql.Column): Long =
    OptimisticCommit.deleteWhere(spark, root, key, cond, passthrough)._1

  /** [[deleteWhere]] returning the full merge summary (dropped /
    * passthrough / rewritten file telemetry) beside the version id. */
  def deleteWhereResult(cond: org.apache.spark.sql.Column)
      : (Long, graft.sources.MergeResult) =
    OptimisticCommit.deleteWhere(spark, root, key, cond, passthrough)

  /** MERGE-ON-READ delete: commit `deleteKeys`' key tuples as DELETION
    * TOMBSTONES — every data file passes through and only a delta-sized
    * sidecar + manifest are written, so a scattered key-delete costs
    * METADATA at any table size (the CoW paths rewrite every holder
    * file). Readers subtract the sidecar with a broadcast anti-join
    * (vectorized scan intact); a later upsert of a tombstoned key
    * resurrects it; [[materializeTombstones]] folds the sidecar back
    * into a physical rewrite (compaction/z-order require that first).
    * Safe under concurrent writers. Returns the new version id. */
  def deleteKeys(deleteKeys: DataFrame): Long =
    OptimisticCommit.deleteKeysTombstone(spark, root, key, deleteKeys,
      passthrough)._1

  /** [[deleteKeys]] with the full merge summary. */
  def deleteKeysResult(deleteKeys: DataFrame)
      : (Long, graft.sources.MergeResult) =
    OptimisticCommit.deleteKeysTombstone(spark, root, key, deleteKeys,
      passthrough)

  /** Fold the tombstone sidecar back into the physical layout: one CoW
    * merge deleting the tombstoned keys — holder files rewrite without
    * those rows, the new manifest carries no sidecar. No-op (returns the
    * current version) when the table has none. */
  def materializeTombstones(): Long = {
    val latest = CdcMergeSink.latestSnapshot(root)
    val keys = key +: graft.sources.MutableParquetTable
      .manifestMoreKeys(latest)
    graft.sources.MutableParquetTable.tombstoneDf(spark, latest) match {
      case None => versions.lastOption.getOrElse(-1L)
      case Some(ts) =>
        val schema = graft.sources.MutableParquetTable
          .manifestSchema(latest)
          .getOrElse(spark.read.parquet(latest).schema)
        // a delete batch must carry the full table schema (whole-row
        // contract); non-key columns ride as typed nulls — deletes never
        // read them
        val batch = schema.fields.foldLeft(
          ts.select(keys.zipWithIndex.map { case (k, i) =>
            org.apache.spark.sql.functions.col(s"__k$i").as(k) }: _*)) {
          (df, f) =>
            if (keys.contains(f.name)) df
            else df.withColumn(f.name,
              org.apache.spark.sql.functions.lit(null).cast(f.dataType))
        }.select(schema.fieldNames.map(
            org.apache.spark.sql.functions.col).toSeq: _*)
          .withColumn("op", org.apache.spark.sql.functions.lit("delete"))
        commit(batch)
    }
  }

  /** `UPDATE SET ... WHERE` committed as the next version: files the
    * zone maps prove untouched pass through, only intersecting files
    * rewrite (in place, CASE projection) — no table scan, no merge.
    * Merge-key columns cannot be assigned. Returns the version id. */
  def updateWhere(cond: org.apache.spark.sql.Column,
                  sets: (String, org.apache.spark.sql.Column)*): Long =
    OptimisticCommit.updateWhere(spark, root, key, cond, sets, passthrough)._1

  /** [[updateWhere]] with the full merge summary. */
  def updateWhereResult(cond: org.apache.spark.sql.Column,
                        sets: (String, org.apache.spark.sql.Column)*)
      : (Long, graft.sources.MergeResult) =
    OptimisticCommit.updateWhere(spark, root, key, cond, sets, passthrough)

  /** Roll the table back to `version`'s state (−1 = the base snapshot)
    * as a NEW commit — metadata-only at any table size
    * ([[OptimisticCommit.restore]]): the rollback manifest references
    * the target's files in place, no data is read or written. History
    * is preserved — the undone versions stay time-travel readable. */
  def restoreTo(version: Long): Long =
    OptimisticCommit.restore(spark, root, version)


  /** Latest committed state. */
  def read(): DataFrame =
    CdcMergeSink.readAsOf(spark, root, Long.MaxValue)

  /** State as of `version` (pre-history ids resolve to the base). */
  def readAsOf(version: Long): DataFrame =
    CdcMergeSink.readAsOf(spark, root, version)

  /** Row-level change feed between two versions (delta-priced — shared
    * hard-linked files are never read). */
  def changeFeed(fromVersion: Long, toVersion: Long): DataFrame =
    CdcMergeSink.changeFeed(spark, root, fromVersion, toVersion, key)

  /** SEMANTIC diff between two versions: every key present in either
    * snapshot, classified `added` / `removed` / `updated` / `unchanged`
    * by a key-keyed full outer join of the two time-travel reads with a
    * null-safe whole-row struct compare over the columns the versions
    * SHARE (schema evolution between the versions is thus diffed on the
    * common projection; a column only one side has never flips a row to
    * `updated`). Unlike [[changeFeed]] — which is delta-PRICED but needs
    * the feed's commit history — this works between ANY two versions,
    * including across compaction/restore boundaries, at the cost of
    * reading both snapshots (one key-keyed shuffle pair; both sides
    * key-sorted disjoint layouts, so at scale the join is a merge of
    * co-clustered files, and zone-map pruning applies to any key-range
    * predicate pushed on top). */
  def diffVersions(vOld: Long, vNew: Long): DataFrame = {
    val o = readAsOf(vOld)
    val n = readAsOf(vNew)
    val common = o.columns.filter(c => c != key && n.columns.contains(c)).toSeq
    val os = o.select(col(key).as("__key"), struct(common.map(col): _*).as("__o"))
    val ns = n.select(col(key).as("__key"), struct(common.map(col): _*).as("__n"))
    os.join(ns, Seq("__key"), "full_outer")
      .select(col("__key").as(key),
        when(col("__o").isNull, "added")
          .when(col("__n").isNull, "removed")
          .when(!(col("__o") <=> col("__n")), "updated")
          .otherwise("unchanged").as("change"))
  }

  /** [[commit]] + persist this commit's row-level change feed under
    * `_changes/v{id}` (delta-priced: the feed write costs the rows the
    * merge touched, never the table). Persisted feeds are what
    * [[changeFeedStream]] consumes; tables mixing commit and
    * commitWithFeed simply have gaps in the streamed history. Under
    * concurrent writers the persisted feed spans (observed prev →
    * this commit], so it can include a racing writer's changes — CDC
    * consumers needing exact per-commit deltas should keep feed-writing
    * commits on one writer. */
  def commitWithFeed(batch: DataFrame, opCol: String = "op",
                     seqCol: Option[String] = None): Long = {
    val prev = versions.lastOption.getOrElse(-1L)
    // feedPending is stamped into the manifest ATOMICALLY with the
    // commit, so a live change-feed stream holds its offset at this
    // version until the feed's _SUCCESS lands (instead of racing the
    // feed write and consuming the version empty)
    val v = OptimisticCommit.commit(spark, root, key, batch, opCol, seqCol,
      passthrough, feedPending = true).version
    if (v != prev) // empty batches commit nothing — no feed dir either
      changeFeed(prev, v)
        .withColumn("_commit_version", lit(v))
        .write.mode("overwrite").parquet(s"$root/_changes/v$v")
    v
  }

  /** Recompute and persist version `v`'s row-level feed — the REMEDY for
    * a [[commitWithFeed]] writer that crashed between its commit and its
    * feed write: the committed manifest says `feedPending` but
    * `_changes/v<id>` never finished, so a live change-feed stream
    * data-loss-safely HOLDS its offset at `v`. Repairing recomputes the
    * same delta-priced diff (snapshots are immutable — the recomputed
    * feed is byte-equal to what the crashed writer would have written)
    * and the stream resumes. Idempotent. */
  def repairFeed(v: Long): Unit = {
    require(versions.contains(v), s"version $v is not committed on $root")
    val prev = versions.takeWhile(_ < v).lastOption.getOrElse(-1L)
    changeFeed(prev, v)
      .withColumn("_commit_version", lit(v))
      .write.mode("overwrite").parquet(s"$root/_changes/v$v")
  }

  /** Incremental REPLICATION into another graft table: apply this
    * table's row-level change feed since the last synced version to
    * `target` as ONE merge commit, then advance the watermark sidecar
    * (`_replication.tsv` under the target — underscore-hidden from
    * file indexes, like `_manifest.json`). Returns the target commit id
    * or None when the target is already current.
    *
    * Concurrency discipline: ONE replicator per target at a time. The
    * sidecar is rewritten whole (read-modify-write under an atomic
    * move), so two concurrent `replicateTo` calls into the same target
    * from DIFFERENT sources can each persist a file missing the other's
    * line. Nothing corrupts — the next sync from the dropped source
    * re-reads watermark −1..latest and the idempotent merge re-applies
    * a delta it already holds — but the re-sync wastes the full feed, so
    * serialize replications per target.
    *
    * Delta-priced end to end: [[changeFeed]] diffs snapshots reading
    * only unshared files and emits the NET change per key, the merge
    * prices by dirty files, and nothing rescans either table. Re-running
    * after a crash between the commit and the watermark write re-applies
    * the same net batch — upserts overwrite equal rows, deletes of
    * absent keys no-op — so the sync is idempotent. Target schema must
    * match (replicate after DDL by aligning the target first). */
  def replicateTo(target: GraftTable): Option[Long] = {
    require(target.key == key,
      s"replication key mismatch: source $key, target ${target.key}")
    require(target.root != root, "cannot replicate a table into itself")
    val latest = versions.lastOption.getOrElse(-1L)
    val applied = GraftTable.replicationWatermark(target.root, root)
    if (latest <= applied) None
    else {
      val batch = feedMutations(changeFeed(applied, latest))
      val v = target.commit(batch, "__op")
      GraftTable.writeReplicationWatermark(target.root, root, latest)
      Some(v)
    }
  }

  /** Feed rows → a mutation frame the merge sinks accept: `__op` in
    * upsert|delete plus the full table row. Key columns ride top-level
    * in the feed; non-key fields come from the before/after structs
    * (before for deletes — after is null there). */
  private def feedMutations(feed: DataFrame): DataFrame = {
    val cols = read().columns
    val keys = (key +: graft.sources.MutableParquetTable.manifestMoreKeys(
      CdcMergeSink.latestSnapshot(root))).map(_.toLowerCase).toSet
    val row = when(col("change_type") === "delete", col("before"))
      .otherwise(col("after"))
    feed.select(
      when(col("change_type") === "delete", lit("delete"))
        .otherwise(lit("upsert")).as("__op") +:
        cols.map { c =>
          if (keys.contains(c.toLowerCase)) col(c)
          else row.getField(c).as(c)
        }: _*)
  }

  /** CONTINUOUS replication — the streaming twin of [[replicateTo]]:
    * the persisted change-feed stream (each [[commitWithFeed]] becomes
    * a micro-batch) projected to mutations and applied to the replica
    * through the exactly-once CDC merge sink (replayed epochs detect
    * their committed snapshot and no-op, so restarts never double-apply).
    * The source must commit with [[commitWithFeed]]; seed the replica
    * root from the source's CURRENT base first (shallow [[clone]] or a
    * one-shot [[replicateTo]]) — persisted feeds begin at the first
    * `commitWithFeed`, so an EMPTY replica start is valid only when the
    * source base is itself empty (pre-feed source history never reaches
    * the stream). */
  def replicateStream(targetRoot: String,
                      checkpointDir: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery =
    CdcMergeSink.start(feedMutations(changeFeedStream()), targetRoot, key,
      "__op", checkpointDir = checkpointDir,
      queryName = s"graft-replicate-${java.util.UUID.randomUUID}")

  /** Streaming change-feed consumer: Spark's own file stream source over
    * the persisted per-version feed directories, so each
    * [[commitWithFeed]] becomes a micro-batch with the file source's
    * exactly-once processed-file tracking — no custom streaming source
    * machinery to maintain. Schema: (key, change_type, before, after,
    * _commit_version) with before/after as full-row structs. */
  def changeFeedStream(): DataFrame = {
    val keys = key +: graft.sources.MutableParquetTable.manifestMoreKeys(
      CdcMergeSink.latestSnapshot(root))
    spark.readStream
      .schema(graft.sources.GraftChangeFeed.feedSchema(read().schema, keys))
      .parquet(s"$root/_changes/v*")
  }

  /** Manifest-pruned range scan of the latest committed state: only files
    * whose key range intersects [lo, hi] are opened — decided from the
    * manifest alone, zero footer IO for the rest. */
  def readRange(lo: Any, hi: Any): DataFrame = {
    val latest = CdcMergeSink.latestSnapshot(root)
    if (latest.endsWith("/base"))
      read().where(col(key) >= lit(lo) && col(key) <= lit(hi))
    else graft.sources.MutableParquetTable.readRange(spark, latest, lo, hi)
  }

  /** Compact the latest state's files to ~`targetBytes` each, committed
    * as the NEXT version — storage maintenance that keeps time travel,
    * replay idempotency, and manifest reads intact. Rows are unchanged,
    * so the pre/post change feed is empty (it does pay a full-table diff
    * across the compaction boundary: every file name changes). Staged
    * privately and published by the one slot claim every version takes
    * ([[OptimisticCommit.commitRewrite]]): safe beside concurrent
    * writers, re-run against the new head when one wins the slot first.
    * Returns the new version id. */
  def compact(targetBytes: Long,
              moreKeys: Seq[String] =
                graft.sources.MutableParquetTable.manifestMoreKeys(
                  CdcMergeSink.latestSnapshot(root))): Long =
    OptimisticCommit.commitRewrite(root, "compact") { (latest, target) =>
      val m = graft.sources.Manifest.read(latest)
        .getOrElse(graft.sources.Manifest(key))
      require(m.tombstoneRows == 0,
        "compact on a tombstoned snapshot would splice logically-deleted " +
          "rows byte-for-byte and drop the sidecar — run " +
          "materializeTombstones() (SQL: CALL <catalog>.system." +
          "materialize_tombstones) first")
      if (m.droppedColumns.nonEmpty || m.widenedColumns.nonEmpty) {
        // PURGE rewrite: files predating a metadata-only DROP COLUMN still
        // physically carry the dropped values, so a raw byte splice would
        // keep them on disk forever — and files predating an ALTER TYPE
        // widening carry the NARROW physical type, which a splice must not
        // mix with wide-typed row groups in one file. Rewrite through the
        // LOGICAL schema instead — the stale bytes are gone and both
        // markers clear: compact IS the documented remedy for re-ADDing a
        // dropped name (guardResurrected's error message).
        writeLogical(latest, target, m.buckets, targetBytes, moreKeys)
        graft.sources.MutableParquetTable(spark, latest, key, moreKeys = moreKeys)
          .commitManifest(target, m.schema, physicalRewrite = true)
      } else {
        // a hash-bucketed table folds PER BUCKET (outputs keep the bucket
        // name encoding, so the SPJ file-bucket invariant survives); plain
        // tables pack contiguously in key order
        if (m.buckets.isDefined)
          graft.sources.CompactionUtil.compactBucketedDir(spark, latest,
            target, targetBytes)
        else
          graft.sources.CompactionUtil.compactDirBySize(spark, latest, target,
            targetBytes)
        // moreKeys defaults to the manifest-discovered composite identity —
        // dropping it here would silently narrow row identity to the
        // leading key for every later merge. The explicit schema keeps the
        // commit on the LOGICAL schema (spliced footers may predate
        // metadata ALTERs).
        graft.sources.MutableParquetTable(spark, latest, key, moreKeys = moreKeys)
          .commitManifest(target, m.schema)
      }
      true
    }

  /** Rewrite the snapshot at `latest` through its LOGICAL schema into
    * `target`: hash-bucketed into `buckets` buckets, else key-sorted into
    * files of ~`targetBytes` (sized from the recorded file bytes). */
  private def writeLogical(latest: String, target: String,
                           buckets: Option[Int], targetBytes: Long,
                           moreKeys: Seq[String]): Unit = {
    val state = CdcMergeSink.readSnapshot(spark, latest)
    buckets match {
      case Some(n) =>
        graft.sources.GraftBucket.writeBucketed(state, target, key,
          moreKeys, n)
      case None =>
        val recorded =
          graft.sources.MutableParquetTable.manifestBytesByName(latest)
        val totalBytes = graft.sources.MutableParquetTable
          .tableFiles(latest)
          .map(f => graft.sources.MutableParquetTable
            .recordedOrStatSize(latest, f, recorded)).sum
        val n = math.max(1L, math.min(4096L,
          (totalBytes + targetBytes - 1) / math.max(1L, targetBytes))).toInt
        ParquetTable.withMicrosTimestamps(spark) {
          ParquetTable.writeSortedBy(state, target, key +: moreKeys, n)
        }
    }
  }

  /** Range-scoped [[compact]]: fold ONLY the files whose key interval
    * intersects `[lo, hi]`, pass everything else through metadata-only —
    * the maintenance shape a 100 TB table actually needs (the write-hot
    * range accumulates small merge outputs; the cold bulk stays
    * untouched, unread, and unlinked beyond a manifest entry). Commits
    * as the next version through the same slot claim as [[compact]]; a
    * range selecting nothing is a NO-OP returning the current version
    * (no empty commit), and a fold that fails leaves nothing behind.
    * Cost: one manifest zone-map pass to select, byte-splice of the
    * selected files (or the purging rewrite while DROP/widen markers are
    * live — markers clear exactly when the range covered every file),
    * footer reads for the new files only. Tombstoned snapshots and
    * bucketed layouts refuse, as [[compact]]. */
  def compactRange(lo: Any, hi: Any, targetBytes: Long,
                   moreKeys: Seq[String] =
                     graft.sources.MutableParquetTable.manifestMoreKeys(
                       CdcMergeSink.latestSnapshot(root))): Long =
    OptimisticCommit.commitRewrite(root, "compactRange") { (latest, target) =>
      graft.sources.MutableParquetTable(spark, latest, key, moreKeys = moreKeys)
        .compactRange(lo, hi, targetBytes, target) > 0
    }

  /** Change the table's hash-bucket layout, committed as the NEXT
    * version: `Some(n)` re-buckets to n buckets (adding SPJ to a plain
    * table, or changing a bucketed table's fixed count — the one layout
    * parameter CREATE pins forever otherwise), `None` de-buckets back to
    * the key-sorted range layout. Necessarily a FULL REWRITE (the bucket
    * function changes every row's placement), through the LOGICAL
    * schema — so like the purging compact it also materializes dropped
    * columns, renames, and tombstones away (blocklist/mapping/sidecar
    * all clear). Time travel keeps the old layout readable; every later
    * merge routes by the new spec. Published by the same slot claim as
    * [[compact]]. Returns the new version id. */
  def rebucket(buckets: Option[Int], targetBytes: Long = 128L << 20,
               moreKeys: Seq[String] =
                 graft.sources.MutableParquetTable.manifestMoreKeys(
                   CdcMergeSink.latestSnapshot(root))): Long = {
    buckets.foreach(n => require(n > 0,
      s"bucket count must be positive (got $n) — use None to de-bucket"))
    OptimisticCommit.commitRewrite(root, "rebucket") { (latest, target) =>
      val schema = graft.sources.MutableParquetTable.manifestSchema(latest)
      val state = CdcMergeSink.readSnapshot(spark, latest)
      if (state.isEmpty)
        // an empty table re-buckets at metadata price: commit an empty
        // snapshot declaring the new spec (contract carried)
        graft.sources.MutableParquetTable.commitEmpty(target, key,
          schema.getOrElse(state.schema), moreKeys, buckets,
          graft.sources.GraftChecks.manifestChecks(latest))
      else {
        writeLogical(latest, target, buckets, targetBytes, moreKeys)
        graft.sources.MutableParquetTable(spark, latest, key, moreKeys = moreKeys)
          .commitManifest(target, schema, physicalRewrite = true,
            bucketsOverride = Some(buckets))
      }
      true
    }
  }

  /** Drop versions beyond the newest `keepLast`; returns dropped ids. */
  def vacuum(keepLast: Int): Seq[Long] = CdcMergeSink.vacuum(root, keepLast)

  /** Time-based retention: drop versions committed more than
    * `retainMillis` ago, always keeping at least `minKeepLast`. */
  def vacuumRetain(retainMillis: Long, minKeepLast: Int = 1): Seq[Long] =
    CdcMergeSink.vacuumRetain(root, retainMillis, minKeepLast)

  /** Catch the materialized view up to the latest version (sum/count,
    * plus optional min/max columns maintained with dirty-group rescan). */
  def refreshAggView(groupCols: Seq[String], sumCols: Seq[String],
                     extremaCols: Seq[String] = Nil,
                     hllCol: Option[String] = None,
                     quantileCol: Option[String] = None): Int =
    AggView.refresh(spark, root, groupCols, sumCols, extremaCols, hllCol,
      quantileCol)

  /** Latest committed view state. */
  def readAggView(): DataFrame = AggView.read(spark, root)

  /** Attach a mutation stream: one CoW snapshot per micro-batch
    * ([[CdcMergeSink.start]] semantics — replay-idempotent, crash-safe).
    * With `aggView` set, the materialized view catches up after every
    * batch commit — a continuously-maintained dashboard aggregate whose
    * per-batch cost is the batch's delta, not the table. */
  def stream(mutations: DataFrame, opCol: String = "op",
             seqCol: Option[String] = None,
             checkpointDir: Option[String] = None,
             aggView: Option[(Seq[String], Seq[String])] = None)
      : org.apache.spark.sql.streaming.StreamingQuery =
    CdcMergeSink.start(mutations, root, key, opCol, seqCol, checkpointDir,
      afterBatch = _ => aggView.foreach { case (g, sums) =>
        AggView.refresh(spark, root, g, sums)
      },
      passthrough = passthrough)
}

object GraftTable {

  import org.apache.spark.sql.types.{DataType, StructField, StructType}

  /** Replication watermark sidecar: `_replication.tsv` under the TARGET
    * root (underscore-hidden from Spark's file index, the
    * `_manifest.json` discipline), one `<version>\t<sourceRoot>` line
    * per upstream source. Rewritten whole via temp + atomic move. */
  private val ReplicationSidecar = "_replication.tsv"

  private def replicationLines(targetRoot: String): Seq[(String, Long)] = {
    val p = java.nio.file.Paths.get(targetRoot, ReplicationSidecar)
    if (!java.nio.file.Files.exists(p)) Nil
    else java.nio.file.Files.readAllLines(p).toArray.toSeq.collect {
      case s: String if s.contains('\t') =>
        val Array(v, src) = s.split("\t", 2)
        src -> v.toLong
    }
  }

  /** Last `sourceRoot` version applied to `targetRoot` (−1 = never). */
  def replicationWatermark(targetRoot: String, sourceRoot: String): Long =
    replicationLines(targetRoot).collectFirst {
      case (src, v) if src == sourceRoot => v
    }.getOrElse(-1L)

  private[graft] def writeReplicationWatermark(targetRoot: String,
                                               sourceRoot: String,
                                               version: Long): Unit = {
    val updated = (replicationLines(targetRoot).toMap +
      (sourceRoot -> version)).toSeq.sortBy(_._1)
      .map { case (src, v) => s"$v\t$src" }
    val tmp = java.nio.file.Paths.get(targetRoot, ReplicationSidecar + ".tmp")
    java.nio.file.Files.writeString(tmp, updated.mkString("\n"))
    java.nio.file.Files.move(tmp,
      java.nio.file.Paths.get(targetRoot, ReplicationSidecar),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Resolve a (possibly dotted) column path against a schema,
    * case-insensitively, descending plain structs only. Returns the
    * CANONICAL path (schema casing) and the resolved leaf field; None
    * when any step is missing. A step through a non-struct (primitive,
    * array, map) throws — the caller's path is malformed rather than
    * merely absent, and "does not exist" would mislead. */
  private[graft] def resolveFieldPath(schema: StructType, name: String)
      : Option[(Seq[String], StructField)] = {
    val parts = name.split("\\.").toSeq
    require(parts.nonEmpty && parts.forall(_.nonEmpty),
      s"invalid column path '$name'")
    def walk(st: StructType, rest: Seq[String],
             acc: Seq[String]): Option[(Seq[String], StructField)] =
      st.fields.find(_.name.equalsIgnoreCase(rest.head)) match {
        case None => None
        case Some(f) if rest.size == 1 => Some((acc :+ f.name, f))
        case Some(f) => f.dataType match {
          case s: StructType => walk(s, rest.tail, acc :+ f.name)
          case dt => throw new IllegalArgumentException(
            s"cannot resolve $name: ${(acc :+ f.name).mkString(".")} is " +
              s"${dt.simpleString}, not a struct — fields inside " +
              "array/map elements do not evolve through metadata ALTERs")
        }
      }
    walk(schema, parts, Nil)
  }

  /** Insert a NULLABLE field at a dotted path ("s.c" adds c to struct
    * s), appended in field order at its level — the nested form of
    * `ADD COLUMN`. Every prefix must resolve to a plain struct; the
    * leaf must not already exist. */
  private[graft] def addNestedField(schema: StructType, path: Seq[String],
                                    dt: DataType): StructType = {
    require(path.nonEmpty)
    if (path.size == 1) {
      require(!schema.fields.exists(_.name.equalsIgnoreCase(path.head)),
        s"column ${path.head} already exists")
      schema.add(StructField(path.head, dt, nullable = true))
    } else {
      val head = schema.fields.find(_.name.equalsIgnoreCase(path.head))
        .getOrElse(throw new IllegalArgumentException(
          s"column ${path.head} does not exist " +
            schema.fieldNames.mkString("(have: ", ", ", ")")))
      val inner = head.dataType match {
        case s: StructType => s
        case other => throw new IllegalArgumentException(
          s"cannot add ${path.mkString(".")}: ${head.name} is " +
            s"${other.simpleString}, not a struct — fields inside " +
            "array/map elements do not evolve through metadata ALTERs")
      }
      StructType(schema.fields.map(f =>
        if (f.name.equalsIgnoreCase(path.head))
          f.copy(dataType = addNestedField(inner, path.tail, dt))
        else f))
    }
  }

  /** Replace the type of the field at a RESOLVED dotted path — the
    * nested form of `ALTER COLUMN TYPE` (callers validate the pair). */
  private[graft] def retypeNestedField(schema: StructType, path: Seq[String],
                                       dt: DataType): StructType = {
    require(path.nonEmpty)
    StructType(schema.fields.map { f =>
      if (!f.name.equalsIgnoreCase(path.head)) f
      else if (path.size == 1) f.copy(dataType = dt)
      else f.copy(dataType = retypeNestedField(
        f.dataType.asInstanceOf[StructType], path.tail, dt))
    })
  }

  /** Remove the field at a RESOLVED dotted path — the nested form of
    * `DROP COLUMN`. Refuses to leave an empty struct behind (parquet
    * cannot represent a zero-field group; drop the struct column
    * itself). */
  private[graft] def dropNestedField(schema: StructType,
                                     path: Seq[String]): StructType = {
    require(path.nonEmpty)
    if (path.size == 1)
      StructType(schema.fields.filterNot(_.name.equalsIgnoreCase(path.head)))
    else {
      val inner = schema.fields
        .find(_.name.equalsIgnoreCase(path.head)).get.dataType
        .asInstanceOf[StructType]
      val narrowed = dropNestedField(inner, path.tail)
      require(narrowed.fields.nonEmpty,
        s"dropping ${path.mkString(".")} would leave struct " +
          s"${path.head} with no fields — drop the struct column itself")
      StructType(schema.fields.map(f =>
        if (f.name.equalsIgnoreCase(path.head)) f.copy(dataType = narrowed)
        else f))
    }
  }

  /** Open an existing versioned table root. `passthrough = Reference`
    * selects the object-store CoW mode: merges write zero clean-file
    * bytes (manifest references instead of hard links) and vacuum
    * reference-counts shared files. */
  def apply(spark: SparkSession, root: String, key: String,
            passthrough: graft.sources.MutableParquetTable.Passthrough =
              graft.sources.MutableParquetTable.Link): GraftTable =
    new GraftTable(spark, root, key, passthrough)

  /** ZERO-COPY clone of `srcRoot`'s latest state into a NEW table at
    * `dstRoot` (the Delta SHALLOW CLONE analog): the clone's base
    * snapshot is one manifest referencing the source's physical files in
    * place — no data bytes move at any table size. Identity (key +
    * composite members), bucket spec, schema, and the tombstone sidecar
    * carry over; the clone then lives its own life — merges route and
    * pass through the referenced files like any committed snapshot
    * (rewrites write INTO the clone, never the source), vacuum
    * reference-counts, and time travel starts fresh at the clone point.
    *
    * Caveat (Delta's shallow-clone caveat too): the SOURCE's vacuum does
    * not know about the clone's references — deep-cleaning the source
    * past the cloned version can delete files the clone still lists.
    * Retain that version on the source, or materialize the clone
    * (`replace` with its own content) first. */
  def cloneFrom(spark: SparkSession, srcRoot: String,
                dstRoot: String): GraftTable = {
    require(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(dstRoot, "base")),
      s"$dstRoot already holds a table — clone targets a fresh root")
    val srcLatest = CdcMergeSink.latestSnapshot(srcRoot)
    val key = graft.sources.MutableParquetTable
      .pruneManifestFiles(srcLatest, None, None).map(_._1)
      .getOrElse(throw new IllegalArgumentException(
        s"$srcLatest has no manifest key — only committed graft tables " +
          "can be cloned"))
    graft.sources.MutableParquetTable.stageRestoreManifest(
      s"$dstRoot/base", srcLatest)
    new GraftTable(spark, dstRoot, key)
  }

  /** Create the base snapshot from a DataFrame and open the table.
    * The base is written all-nullable so every file the chain will ever
    * hold (merge rewrites are nullable by construction) shares one
    * physical schema — which keeps raw-concat compaction eligible across
    * the whole table instead of stopping at schema boundaries. */
  def create(df: DataFrame, root: String, key: String, numFiles: Int,
             layout: graft.sources.ParquetLayout =
               graft.sources.ParquetLayout(),
             moreKeys: Seq[String] = Nil,
             buckets: Option[Int] = None,
             checks: Map[String, String] = Map.empty,
             defaults: Map[String, String] = Map.empty,
             generated: Map[String, String] = Map.empty): GraftTable = {
    val spark = df.sparkSession
    // column contracts fill/gate the seed content too — validate both
    // maps, fill omitted columns, then checks over the filled frame
    defaults.foreach { case (c, e) =>
      graft.sources.GraftDefaults.validateDefaultExpr(spark, c, e) }
    val df1 = graft.sources.GraftDefaults.applyAndEnforce(df, defaults,
      generated, None, None, s"CREATE of $root")
    generated.foreach { case (c, e) =>
      graft.sources.GraftDefaults.validateGeneratedExpr(spark, df1.schema,
        c, e) }
    // constraints gate the seed content too — validate before any write
    checks.foreach { case (n, e) =>
      graft.sources.GraftChecks.validateExpr(spark, df1.schema, n, e) }
    if (checks.nonEmpty)
      graft.sources.GraftChecks.enforce(df1, checks, s"CREATE of $root")
    val nullable = spark.createDataFrame(df1.rdd,
      org.apache.spark.sql.types.StructType(
        df1.schema.fields.map(_.copy(nullable = true))))
    buckets match {
      case Some(n) =>
        // HASH-BUCKETED layout ([[graft.sources.GraftBucket]]): one file
        // set per pmod(murmur3(key), n) bucket — graft⋈graft key joins
        // then elide both shuffles (storage-partitioned joins); merges
        // rewrite whole dirty buckets and carry the spec forward
        graft.sources.GraftBucket.writeBucketed(nullable, s"$root/base",
          key, moreKeys, n, layout)
      case None =>
        ParquetTable.writeSortedBy(nullable, s"$root/base", key +: moreKeys,
          numFiles, layout)
    }
    // commit the base like every later version: the manifest gives it the
    // stray-file discipline, metadata-only counts/bounds, zone-map reads
    // without footer probes, and records the merge key(s) for SQL writers
    // — later commits DISCOVER the composite identity from the manifest
    graft.sources.MutableParquetTable(spark, s"$root/base", key,
      moreKeys = moreKeys).commitManifest(s"$root/base")
    buckets.foreach(n =>
      graft.sources.MutableParquetTable.annotateBuckets(s"$root/base", n))
    if (checks.nonEmpty)
      graft.sources.GraftChecks.annotateChecks(s"$root/base", checks)
    if (defaults.nonEmpty || generated.nonEmpty)
      graft.sources.GraftDefaults.annotate(s"$root/base", defaults,
        generated)
    new GraftTable(spark, root, key)
  }
}
