package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.MergeOps
import graft.sources.{MergeResult, MutableParquetTable, ParquetLayout, ParquetTable}

/** Drop-in, Spark-native equivalent of the reference's public API
  * (`ParquetRewriter`, /root/reference/ParquetRewriter.java:87-201):
  *
  * {{{
  * // reference                         // graft
  * new ParquetRewriter(conf, src,       val rw = GraftRewriter(spark, dir,
  *   dst, rs, ws, rgSize, keyFn, path)    keyCol = "c_custkey")
  * rw.appendRecord(r)                   rw.upsert(dfOfRows)
  * rw.deleteRecordByKey(k)              rw.delete(dfOfKeys)
  * rw.close()                           val result = rw.commit()
  * }}}
  *
  * Differences by design: mutations are DataFrames, not single records
  * (set-wise beats row-at-a-time on a cluster); no ascending-key
  * requirement (joins are order-free — the reference's monotonicity guard
  * at ParquetRewriter.java:256-258 exists only to enable its single
  * forward pass); the rewrite is copy-on-write at file granularity (clean
  * files untouched, the S6 passthrough analog) and, inside a dirty file,
  * at row-group granularity (clean groups copied raw), executed once at
  * `commit()` so any number of buffered upsert/delete calls costs one
  * merge job.
  */
final class GraftRewriter private (
    spark: SparkSession, dir: String, keyCol: String) {

  private val table = MutableParquetTable(spark, dir, keyCol)
  private var batches: List[DataFrame] = Nil
  private var seq = 0L

  /** Buffer an upsert batch (insert-or-replace by key). Within-commit
    * ordering: later calls win on key collisions (last-writer-wins, the
    * guarantee the reference gets from its sorted unique input,
    * ParquetRewriter.java:35-37). */
  def upsert(rows: DataFrame): this.type = synchronized {
    seq += 1
    batches ::= rows.withColumn("__op", lit("upsert")).withColumn("__seq", lit(seq))
    this
  }

  /** Buffer a delete batch; `keys` needs only the key column. */
  def delete(keys: DataFrame): this.type = synchronized {
    seq += 1
    val keyed = keys.select(col(keyCol))
    val full = table.read().limit(0).drop(keyCol) // null payload columns
      .columns.foldLeft(keyed)((df, c) => df.withColumn(c, lit(null)))
    batches ::= full.withColumn("__op", lit("delete")).withColumn("__seq", lit(seq))
    this
  }

  /** Apply all buffered mutations as one copy-on-write merge and return
    * the snapshot manifest (≙ the reference's close(),
    * ParquetRewriter.java:129-146). No-op commits touch no data files. */
  def commit(snapshotDir: Option[String] = None): MergeResult = synchronized {
    val cols = table.read().columns
    val batch = batches.reverse match {
      case Nil => table.read().limit(0)
        .withColumn("__op", lit("upsert")).withColumn("__seq", lit(0L))
      case head :: tail => tail.foldLeft(head)(_ unionByName _)
    }
    val deduped = {
      // last-writer-wins across buffered batches
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col(keyCol)).orderBy(col("__seq").desc)
      batch.withColumn("__rn", row_number().over(w)).where(col("__rn") === 1)
        .select((cols.map(col) :+ col("__op").as("op")): _*)
    }
    val res = table.merge(deduped, "op", snapshotDir)
    batches = Nil
    res
  }

  /** Current table contents (pre-commit: without buffered mutations). */
  def read(): DataFrame = table.read()
}

object GraftRewriter {

  /** Open an existing key-sorted table for rewriting. */
  def apply(spark: SparkSession, dir: String, keyCol: String): GraftRewriter =
    new GraftRewriter(spark, dir, keyCol)

  /** Create a new key-sorted table from a DataFrame, then open it —
    * ≙ writing the reference's initial sorted file
    * (ParquetRewriterTests.java:189-197). */
  def create(df: DataFrame, dir: String, keyCol: String, numFiles: Int,
             layout: ParquetLayout = ParquetLayout()): GraftRewriter = {
    ParquetTable.writeSorted(df, dir, keyCol, numFiles, layout)
    new GraftRewriter(df.sparkSession, dir, keyCol)
  }
}
