package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.classic.GraftShims
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, Literal, Murmur3Hash, Pmod}
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** HASH-BUCKETED graft layout — the storage side of storage-partitioned
  * joins (SPJ).
  *
  * A bucketed table assigns every row to `pmod(murmur3(key), n)` (the
  * same Murmur3/seed-42 hash as Spark's `hash()` function) and keeps one
  * file set per bucket, the bucket id encoded in the FILE NAME
  * (`b00003-<part>.parquet`). Because CoW passthrough (hard links and
  * manifest references alike) preserves base names, bucket identity
  * survives merges, vacuum, and reference chains with zero manifest
  * format changes beyond a single `"buckets":n` field.
  *
  * Why: two bucketed graft tables sharing `n` joined on their key can
  * skip BOTH shuffle exchanges — [[GraftParquetScan]] reports
  * `KeyGroupedPartitioning(bucket(n, key))` and one input partition per
  * bucket, and [[GraftCatalog]] (a `FunctionCatalog`) resolves the
  * `bucket` transform so Spark can verify both sides agree. At 100 TB a
  * fact⋈fact key join is otherwise two table-sized shuffles — the
  * single biggest plan cost the layout can delete. This is the DSV2
  * analog of `bucketBy` co-located joins (BucketedJoinSpec), applied to
  * the reference's key-sorted shard model (README.md:21,45-48).
  *
  * Each bucket is a key-sorted shard in the reference's sense
  * (README.md:45-48): its files are sorted by the key tuple and hold
  * disjoint key ranges, and every merge keeps them so — [[CowRewrite]]
  * routes a batch key to its bucket, then to the bucket's file that owns
  * it, and rewrites only those files (clean row groups copied raw), in
  * the same one job as the key-clustered layout.
  *
  * Trade: bucket files span the whole key range, so key-RANGE pruning
  * degrades to per-bucket point pruning, and a batch of scattered keys
  * dirties files in many buckets. Pick bucketing for join-heavy tables,
  * the sorted-range layout for range-scan/merge-heavy ones.
  */
object GraftBucket {

  private val NamePattern = "^b(\\d{5})-".r

  /** Bucket id a file name encodes, if the file belongs to a bucketed
    * layout. */
  def bucketOfName(baseName: String): Option[Int] =
    NamePattern.findFirstMatchIn(baseName).map(_.group(1).toInt)

  /** The `b<id>-` file-name prefix of bucket `b`'s files. */
  private[sources] def namePrefix(b: Int): String = f"b$b%05d-"

  /** The bucket assignment column — Spark's `hash` (Murmur3 seed 42)
    * mod n, non-negative: [[bucketIdExpr]] over `key`. The file layout,
    * the merge's routing and the reported partitioning
    * ([[BucketBound.produceResult]]) all evaluate that one expression. */
  def bucketIdCol(key: Column, n: Int): Column =
    GraftShims.column(bucketIdExpr(GraftShims.expression(key), Literal(n)))

  /** The bucket function: `pmod(murmur3(key), n)`. */
  private[sources] def bucketIdExpr(key: Expression, n: Expression): Expression =
    Pmod(new Murmur3Hash(Seq(key)), n)

  /** Write `df` hash-bucketed into `outDir`: one shuffle on the bucket
    * id, rows sorted by the key tuple within each bucket file, bucket id
    * encoded in the flattened file names. Uses a dynamic-partition
    * staging write (`partitionBy`) so each bucket's rows land in their
    * own files regardless of how buckets map to tasks, then flattens the
    * `=value` directories away — graft snapshots are flat dirs.
    *
    * A row cap (the layout's `maxRecordsPerFile`, else the session's)
    * cuts a bucket's files only between leading-key values, so the files
    * of a bucket stay key-disjoint — the invariant its merges route by.
    * A leading value goes to file ⌊(c − 1) / cap⌋, `c` the bucket's rows
    * up to and with that value; Spark's own cap, which cuts at an exact
    * row count, is switched off. */
  def writeBucketed(df: DataFrame, outDir: String, key: String,
                    moreKeys: Seq[String], n: Int,
                    layout: ParquetLayout = ParquetLayout()): Unit = {
    require(n > 0, "bucket count must be positive")
    val (bcol, fcol) = ("__gbucket", "__gfile")
    val staging = s"$outDir/.bucketstage-${
      java.util.UUID.randomUUID().toString.take(8)}"
    val bucketed = df.withColumn(bcol, bucketIdCol(col(key), n))
      .repartition(n, col(bcol))
    val cap = layout.maxRecordsPerFile.getOrElse(
      df.sparkSession.conf.get("spark.sql.files.maxRecordsPerFile", "0").toLong)
    val (parts, staged) =
      if (cap <= 0) (Seq(bcol), bucketed)
      else (Seq(bcol, fcol), bucketed.withColumn(fcol, floor((count(lit(1))
        .over(Window.partitionBy(bcol).orderBy(col(key))) - 1) / cap)))
    val sorted = staged.sortWithinPartitions((parts ++ (key +: moreKeys)).map(col): _*)
    val w = ParquetTable.withLayout(
      sorted.write.mode("overwrite").partitionBy(parts: _*),
      layout.copy(maxRecordsPerFile = Some(0L)), df.schema)
    ParquetTable.withMicrosTimestamps(df.sparkSession) { w.parquet(staging) }
    Files.createDirectories(Paths.get(outDir))
    import scala.jdk.CollectionConverters._
    val walk = Files.walk(Paths.get(staging))
    val written = try walk.iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toList
    finally walk.close()
    // <bcol>=<b>[/<fcol>=<f>]/<part>: a task names the files of each
    // directory alike, so the file index joins the flat name
    written.foreach { p =>
      val values = Paths.get(staging).relativize(p.getParent).iterator().asScala
        .map(_.toString.split("=", 2)(1).toInt).toList
      val name = namePrefix(values.head) + values.tail.map(f => f"$f%05d-").mkString +
        p.getFileName.toString
      Files.move(p, Paths.get(outDir, name))
    }
    MutableParquetTable.deleteDir(Paths.get(staging))
  }

  /** The catalog-resolvable V2 `bucket` function ([[GraftCatalog]]
    * implements `FunctionCatalog` to serve it): Spark resolves the
    * `bucket(n, key)` transform both graft scans report and verifies the
    * two sides share one function — the handshake storage-partitioned
    * joins require. */
  object BucketUnbound extends UnboundFunction {
    override def name(): String = "bucket"
    override def description(): String =
      "bucket(n, key): pmod(murmur3_seed42(key), n) — the graft bucketed layout's assignment"
    override def bind(inputType: StructType): BoundFunction = {
      require(inputType.fields.length == 2,
        s"bucket expects (numBuckets int, key), got ${inputType.simpleString}")
      require(inputType.fields(0).dataType == IntegerType,
        s"bucket: numBuckets must be int, got ${inputType.fields(0).dataType}")
      BucketBound(inputType.fields(1).dataType)
    }
  }

  final case class BucketBound(keyType: DataType)
      extends ScalarFunction[Integer] {
    override def inputTypes(): Array[DataType] = Array(IntegerType, keyType)
    override def resultType(): DataType = IntegerType
    override def name(): String = "bucket"
    override def canonicalName(): String =
      s"graft.bucket(${keyType.catalogString})"
    override def isResultNullable: Boolean = false
    @transient private lazy val bucketOf = bucketIdExpr(
      BoundReference(1, keyType, nullable = true),
      BoundReference(0, IntegerType, nullable = false))
    override def produceResult(input: InternalRow): Integer =
      bucketOf.eval(input).asInstanceOf[Int]
  }
}
