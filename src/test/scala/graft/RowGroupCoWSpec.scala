package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.MergeOps
import graft.sources.{MutableParquetTable, ParquetLayout, ParquetTable}

/** Row-group-granularity CoW inside the merge's rewrite task: only
  * touched row groups re-encode; clean ones pass through raw,
  * interleaved in key order. */
class RowGroupCoWSpec extends SparkSpec {

  private def parquetIn(dir: String): String = {
    import scala.jdk.CollectionConverters._
    val s = Files.list(java.nio.file.Paths.get(dir))
    try s.iterator().asScala.map(_.toString)
      .find(f => f.endsWith(".parquet") && !f.split('/').last.startsWith(".")).get
    finally s.close()
  }

  private def sortedFile(dir: String): String = {
    val li = Tables.lineitem(spark, sf())
      .withColumn("li_key", col("l_orderkey") * 10 + col("l_linenumber"))
    // one file, many small row groups → a real zone map inside the file
    ParquetTable.writeSorted(li, dir, "li_key", 1,
      ParquetLayout(rowGroupBytes = Some(24L * 1024)))
    parquetIn(dir)
  }

  /** How a merge treated the source file's row groups, read off the
    * bytes: groups of the output that are raw copies of a source group
    * passed through, the rest of the source's groups were re-encoded. */
  private final case class Groups(outFile: String, sourceGroups: Int,
      passthroughGroups: Int, rewrittenGroups: Int, outputGroups: Int)

  /** Merge `batch` into the one-file table at `dir` (key `key`). */
  private def merge(dir: String, key: String, batch: DataFrame): Groups = {
    val src = parquetIn(dir)
    val out = parquetIn(MutableParquetTable(spark, dir, key).merge(batch).snapshotDir)
    val n = RowGroups.digests(src).size
    val copied = RowGroups.copied(src, out)
    Groups(out, n, copied, n - copied, RowGroups.digests(out).size)
  }

  test("narrow batch rewrites few groups, passes the rest through raw") {
    val work = Files.createTempDirectory("graft-rgcow-t").toString
    val src = sortedFile(s"$work/src")
    val base = spark.read.parquet(src)
    val maxKey = base.agg(max(col("li_key"))).head().getLong(0)

    val batch = base.where(col("li_key") <= maxKey / 20)
      .withColumn("l_quantity", col("l_quantity") + 100.0)
      .withColumn("op", lit("upsert"))
      .unionByName(base.where(col("li_key") > maxKey / 20 && col("li_key") <= maxKey / 10)
        .withColumn("op", lit("delete")))

    val res = merge(s"$work/src", "li_key", batch)
    assert(res.sourceGroups > 10, s"want many groups, got ${res.sourceGroups}")
    assert(res.rewrittenGroups > 0)
    assert(res.passthroughGroups > res.rewrittenGroups * 2,
      s"narrow batch must leave most groups untouched: $res")

    val got = spark.read.parquet(res.outFile)
    val oracle = MergeOps.applyMutations(base, batch, "li_key")
    assert(got.count() === oracle.count())
    assert(got.exceptAll(oracle).isEmpty && oracle.exceptAll(got).isEmpty)
    // output stays key-sorted (the file-level invariant survives)
    val ks = got.select("li_key").collect().map(_.getLong(0))
    assert(ks.sameElements(ks.sorted))
  }

  test("empty batch is a pure raw copy — zero groups re-encoded") {
    val work = Files.createTempDirectory("graft-rgcow-e").toString
    val src = sortedFile(s"$work/src")
    val empty = spark.read.parquet(src)
      .withColumn("op", lit("upsert")).limit(0)
    val res = merge(s"$work/src", "li_key", empty)
    assert(res.rewrittenGroups === 0)
    assert(res.outputGroups === res.sourceGroups)
    assert(spark.read.parquet(res.outFile).count() ===
      spark.read.parquet(src).count())
  }

  test("string (uuid) keys: binary-stats routing, sorted string output") {
    val work = Files.createTempDirectory("graft-rgcow-s").toString
    val dir = s"$work/src"
    // enough rows that the small block size yields several row groups
    // (parquet-mr checks the block size every 100 records)
    // (nullable, as every engine write: `required` columns are rewritten
    // whole)
    val c0 = spark.sql("""
      SELECT md5(CAST(id AS STRING)) AS uuid, id, CAST(id AS DOUBLE) AS c_acctbal
      FROM range(0, 5000)""")
    val c = spark.createDataFrame(c0.rdd, org.apache.spark.sql.types.StructType(
      c0.schema.fields.map(_.copy(nullable = true))))
    ParquetTable.writeSorted(c, dir, "uuid", 1,
      ParquetLayout(rowGroupBytes = Some(24L * 1024)))
    val src = parquetIn(dir)
    val base = spark.read.parquet(src)
    // mutate 4 uuids from the low end of the string order
    val batch = base.orderBy(col("uuid")).limit(4)
      .withColumn("c_acctbal", lit(7.77))
      .withColumn("op", lit("upsert"))
    val res = merge(dir, "uuid", batch)
    assert(res.sourceGroups > 3, s"want several groups, got $res")
    assert(res.rewrittenGroups >= 1 && res.passthroughGroups > 0, s"$res")

    val got = spark.read.parquet(res.outFile)
    val oracle = MergeOps.applyMutations(base, batch, "uuid")
    assert(got.exceptAll(oracle).isEmpty && oracle.exceptAll(got).isEmpty)
    val ks = got.select("uuid").collect().map(_.getString(0))
    assert(ks.sameElements(ks.sorted)) // ascii-hex uuids: java order == byte order
  }

  test("gap-key inserts route to the preceding group and stay sorted") {
    val work = Files.createTempDirectory("graft-rgcow-g").toString
    val src = sortedFile(s"$work/src")
    val base = spark.read.parquet(src)
    // synthesize keys that do not exist in the base (odd tail values)
    val inserts = base.limit(5)
      .withColumn("li_key", col("li_key") + lit(1000000L))
      .withColumn("op", lit("upsert"))
    val res = merge(s"$work/src", "li_key", inserts)
    val got = spark.read.parquet(res.outFile)
    assert(got.count() === base.count() + 5)
    val ks = got.select("li_key").collect().map(_.getLong(0))
    assert(ks.sameElements(ks.sorted))
    assert(res.rewrittenGroups >= 1) // at least the last group took the tail
  }
}
