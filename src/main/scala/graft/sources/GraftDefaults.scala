package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** DEFAULT and GENERATED column contracts — the two lakehouse DDL forms
  * (Delta's `DEFAULT` / `GENERATED ALWAYS AS (expr)`) recorded in the
  * snapshot manifest, carried through every commit like CHECK
  * constraints, and applied on every write surface that funnels batches
  * (CoW merges and everything routed through them — OCC commits, SQL
  * DML, the streaming sink — plus INSERT OVERWRITE/replace and CREATE):
  *
  *  - '''DEFAULT col = expr''': a batch that OMITS the column gets it
  *    filled from the expression (cast to the declared column type); a
  *    batch that supplies the column is taken as-is, NULLs included
  *    (SQL INSERT semantics — the default applies to omission, not to
  *    NULL). Default expressions are CONSTANT: deterministic and
  *    column-reference-free, validated at ADD time.
  *  - '''GENERATED col = expr''': the column is ALWAYS a function of
  *    the row's other columns. An omitting batch gets it computed; a
  *    supplying batch is VALIDATED (null-safe equality with the
  *    expression, delete rows exempt) and refused on drift — the Delta
  *    contract, enforced like a CHECK.
  *
  * Existing rows are untouched by the DDL: `ALTER ... SET DEFAULT` is
  * metadata-only at any table size (the standard lakehouse behavior —
  * defaults govern FUTURE writes); declaring a column GENERATED
  * validates the current table ONCE at ADD time (the ADD CONSTRAINT
  * scan), after which every write keeps the invariant by induction.
  *
  * Scale: filling is a codegen'd projection on the BATCH (no extra
  * job); generated-drift validation reuses the single-pass CHECK
  * enforcement job. Both are batch-sized, never table-sized.
  *
  * The reference carries any parquet-mr schema verbatim and has no
  * column-contract system (ParquetRewriter.java:115); this extends the
  * same write-contract layer as [[GraftChecks]]. */
object GraftDefaults {

  /** column → DEFAULT expression of a committed snapshot. */
  def manifestDefaults(snapshotDir: String): Map[String, String] =
    Manifest.read(snapshotDir).map(_.defaults).getOrElse(Map.empty)

  /** column → GENERATED ALWAYS AS expression of a committed snapshot. */
  def manifestGenerated(snapshotDir: String): Map[String, String] =
    Manifest.read(snapshotDir).map(_.generated).getOrElse(Map.empty)

  /** Validate a DEFAULT expression: parses, deterministic, and
    * CONSTANT — no column references (a default fills omitted input, so
    * there is nothing for it to reference; proven by resolving against
    * an EMPTY schema). The `IS NOT NULL OR TRUE` wrapper reuses the
    * CHECK validator's parse/resolve/determinism analysis on arbitrary
    * value types. Type compatibility is the write path's ANSI cast's
    * concern (it fails loudly). */
  def validateDefaultExpr(spark: SparkSession, colName: String,
                          exprStr: String): Unit = {
    require(colName.nonEmpty && !colName.contains("\"") &&
      !colName.contains("\\"),
      s"column name must be a plain identifier, got '$colName'")
    GraftChecks.validateExpr(spark, StructType(Nil),
      s"default:$colName", s"($exprStr) IS NOT NULL OR TRUE")
  }

  /** Validate a GENERATED expression against the table schema WITHOUT
    * the generated column itself (self/forward references are not a
    * function of the other columns). */
  def validateGeneratedExpr(spark: SparkSession, schema: StructType,
                            colName: String, exprStr: String): Unit = {
    require(schema.fields.exists(_.name.equalsIgnoreCase(colName)),
      s"generated column '$colName' is not in the schema " +
        schema.fieldNames.mkString("(have: ", ", ", ")"))
    val others = StructType(schema.fields.filterNot(
      _.name.equalsIgnoreCase(colName)))
    GraftChecks.validateExpr(spark, others, s"generated:$colName",
      s"($exprStr) IS NOT NULL OR TRUE")
  }

  /** Stage `toDir` as a METADATA-ONLY snapshot of `fromDir` carrying new
    * defaults/generated maps — zero data IO, the `ALTER TABLE ... SET
    * DEFAULT / GENERATED` commit (the [[GraftChecks.stageChecksChange]]
    * mechanics). */
  private[graft] def stageDefaultsChange(fromDir: String, toDir: String,
                                         defaults: Map[String, String],
                                         generated: Map[String, String]): Unit = {
    val schema = MutableParquetTable.manifestSchema(fromDir).getOrElse(
      throw new IllegalStateException(
        s"$fromDir carries no schema — only committed snapshots can " +
          "change column contracts"))
    MutableParquetTable.stageSchemaChange(fromDir, toDir, schema)
    Manifest.update(toDir)(_.copy(defaults = defaults, generated = generated))
  }

  /** Apply both contracts to a write batch: fill omitted DEFAULT /
    * GENERATED columns (cast to the declared type when the schema knows
    * it), and refuse supplied GENERATED values that drift from their
    * expression (null-safe equality; rows where `opCol` = 'delete' are
    * exempt — their payloads are never written). Returns the batch with
    * every contract column present. One codegen'd projection plus (only
    * when a generated column was supplied) one batch-sized validation
    * job. */
  def applyAndEnforce(batch: DataFrame, defaults: Map[String, String],
                      generated: Map[String, String],
                      schema: Option[StructType], opCol: Option[String],
                      context: String): DataFrame = {
    if (defaults.isEmpty && generated.isEmpty) return batch
    val present = batch.columns.map(_.toLowerCase).toSet
    def declaredType(c: String) = schema.flatMap(
      _.fields.find(_.name.equalsIgnoreCase(c)).map(_.dataType))
    def filled(df: DataFrame, m: Map[String, String]) =
      m.foldLeft(df) { case (acc, (c, e)) =>
        if (present(c.toLowerCase)) acc
        else acc.withColumn(c, declaredType(c) match {
          case Some(t) => expr(e).cast(t)
          case None => expr(e)
        })
      }
    val suppliedGenerated = generated.filter { case (c, _) =>
      present(c.toLowerCase) }
    if (suppliedGenerated.nonEmpty) {
      val rows = opCol match {
        case Some(oc) if batch.columns.exists(_.equalsIgnoreCase(oc)) =>
          batch.where(col(oc) =!= lit("delete"))
        case _ => batch
      }
      GraftChecks.enforce(rows,
        suppliedGenerated.map { case (c, e) =>
          s"generated:$c" -> s"`$c` <=> ($e)" },
        s"$context (GENERATED ALWAYS AS drift)")
    }
    filled(filled(batch, defaults), generated)
  }
}
