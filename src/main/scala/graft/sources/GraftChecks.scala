package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, StructType}

/** Table CHECK constraints: named boolean SQL expressions recorded in the
  * snapshot manifest and enforced on EVERY write path (CoW merge upserts,
  * bucketed merges, row-group merges, INSERT OVERWRITE/replace, zone
  * UPDATE, the streaming sink and SQL DML — all of which funnel through
  * those entry points). Standard SQL semantics: a row violates a check
  * only when the expression evaluates to FALSE — NULL passes (so
  * `col IS NOT NULL` is how NOT NULL is declared).
  *
  * Scale: enforcement is ONE extra Spark job per write, sized by the
  * BATCH (merge) or the touched files (zone UPDATE) — never by the
  * table. All checks are folded into a single pass (one combined
  * violation predicate); the first violating row is reported with the
  * check name. Existing rows are never re-validated on write: the table
  * satisfies its checks by induction (adding a check validates the whole
  * table once, at ADD time).
  *
  * Checks are part of versioned table state: they carry through merges,
  * zone DML, compaction, restore (the restored version's checks apply)
  * and clone, exactly like the bucket spec and composite identity.
  *
  * The reference has no constraint system (it carries any parquet-mr
  * schema verbatim, ParquetRewriter.java:115); this is the lakehouse
  * write-contract layer a shared 100 TB table needs on top. */
object GraftChecks {

  /** A write produced at least one row failing a CHECK constraint. The
    * commit is refused before any file or manifest is staged. */
  final class CheckViolation(val name: String, val expression: String,
                             val row: String, context: String)
      extends RuntimeException(
        s"CHECK constraint '$name' ($expression) violated by $context; " +
          s"first failing row: $row")

  /** The CHECK constraints a committed snapshot declares: name → SQL
    * expression, in declaration order. */
  def manifestChecks(snapshotDir: String): Map[String, String] =
    Manifest.read(snapshotDir).map(_.checks).getOrElse(Map.empty)

  /** Re-stamp a committed/staged manifest's `checks` in place
    * (idempotent; an empty map removes the field). */
  private[graft] def annotateChecks(snapshotDir: String,
                                    checks: Map[String, String]): Unit =
    Manifest.update(snapshotDir)(_.copy(checks = checks))

  /** Validate a check expression against a table schema: must parse,
    * resolve to a deterministic BOOLEAN over the table's columns (no
    * aggregates, no subqueries — `where` analysis rejects both). Returns
    * the resolved Column. */
  def validateExpr(spark: SparkSession, schema: StructType,
                   name: String, exprStr: String): Column = {
    require(name.nonEmpty && !name.contains("\"") && !name.contains("\\"),
      s"check name must be a plain identifier, got '$name'")
    val probe = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    val c = expr(exprStr)
    val analyzed = probe.where(c).queryExecution.analyzed
    val cond = analyzed.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
    }.getOrElse(throw new IllegalArgumentException(
      s"check '$name' did not analyze to a row predicate: $exprStr"))
    require(cond.dataType == BooleanType,
      s"check '$name' must be BOOLEAN, got ${cond.dataType.sql}: $exprStr")
    require(cond.deterministic,
      s"check '$name' must be deterministic (no rand()/uuid()): $exprStr")
    c
  }

  /** Fail if any row of `df` violates any check — ONE job over `df`
    * combining every check; the first violating row is reported with its
    * check name. `df` may carry extra columns (an op column, evolved
    * batch columns) — checks resolve by name. */
  def enforce(df: DataFrame, checks: Map[String, String],
              context: String): Unit = {
    if (checks.isEmpty) return
    // violation := expr IS FALSE (NULL passes — SQL CHECK semantics)
    val tagged = checks.toSeq.map { case (n, e) =>
      when(not(coalesce(expr(e), lit(true))), lit(n))
    }
    val bad = df
      .withColumn("__graft_check", coalesce(tagged :+ lit(null).cast("string"): _*))
      .where(col("__graft_check").isNotNull)
      .limit(1).collect()
    bad.headOption.foreach { r =>
      val name = r.getString(r.fieldIndex("__graft_check"))
      val row = r.schema.fieldNames.filterNot(_ == "__graft_check")
        .map(f => s"$f=${r.get(r.fieldIndex(f))}").mkString("{", ", ", "}")
      throw new CheckViolation(name, checks(name), row, context)
    }
  }

  /** Stage `toDir` as a METADATA-ONLY snapshot of `fromDir` carrying a
    * new `checks` set — zero data IO, the `ALTER TABLE ADD/DROP
    * CONSTRAINT` commit (same Reference-passthrough mechanics as
    * [[MutableParquetTable.stageSchemaChange]]). */
  private[graft] def stageChecksChange(fromDir: String, toDir: String,
                                       checks: Map[String, String]): Unit = {
    val schema = MutableParquetTable.manifestSchema(fromDir).getOrElse(
      throw new IllegalStateException(
        s"$fromDir carries no schema — only committed snapshots can " +
          "change constraints"))
    MutableParquetTable.stageSchemaChange(fromDir, toDir, schema)
    annotateChecks(toDir, checks)
  }
}
