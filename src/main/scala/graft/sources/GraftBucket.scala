package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.hash.Murmur3_x86_32

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
  * Trade: bucket files span the whole key range, so key-RANGE pruning
  * degrades to per-bucket point pruning; merges rewrite whole buckets
  * (cost ∝ dirty buckets / n of the table, not dirty key ranges). Pick
  * bucketing for join-heavy tables, the sorted-range layout for
  * range-scan/merge-heavy ones.
  */
object GraftBucket {

  private val NamePattern = "^b(\\d{5})-".r

  /** Bucket id a file name encodes, if the file belongs to a bucketed
    * layout. */
  def bucketOfName(baseName: String): Option[Int] =
    NamePattern.findFirstMatchIn(baseName).map(_.group(1).toInt)

  /** The bucket assignment column — Spark's `hash` (Murmur3 seed 42)
    * mod n, non-negative. MUST stay in lockstep with
    * [[BucketBound.produceResult]]: the file layout and the reported
    * partitioning are two views of one function. */
  def bucketIdCol(key: Column, n: Int): Column = pmod(hash(key), lit(n))

  /** Murmur3 seed-42 hash of one key value — the scalar twin of
    * `functions.hash` for the types a merge key can take. */
  private[sources] def hashValue(dt: DataType, row: InternalRow, at: Int): Int =
    dt match {
      case LongType | TimestampType | TimestampNTZType =>
        Murmur3_x86_32.hashLong(row.getLong(at), 42)
      case IntegerType | DateType => Murmur3_x86_32.hashInt(row.getInt(at), 42)
      case ShortType => Murmur3_x86_32.hashInt(row.getShort(at).toInt, 42)
      case ByteType  => Murmur3_x86_32.hashInt(row.getByte(at).toInt, 42)
      case StringType =>
        val s = row.getUTF8String(at)
        Murmur3_x86_32.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset,
          s.numBytes, 42)
      case other => throw new UnsupportedOperationException(
        s"graft bucket: unsupported key type $other")
    }

  /** Write `df` hash-bucketed into `outDir`: one shuffle on the bucket
    * id, rows sorted by the key tuple within each bucket file, bucket id
    * encoded in the flattened file names. Uses a dynamic-partition
    * staging write (`partitionBy`) so each bucket's rows land in their
    * own files regardless of how buckets map to tasks, then flattens the
    * `=value` directories away — graft snapshots are flat dirs. */
  def writeBucketed(df: DataFrame, outDir: String, key: String,
                    moreKeys: Seq[String], n: Int,
                    layout: ParquetLayout = ParquetLayout()): Unit = {
    require(n > 0, "bucket count must be positive")
    val bcol = "__gbucket"
    val staging = s"$outDir/.bucketstage-${
      java.util.UUID.randomUUID().toString.take(8)}"
    val sorted = df.withColumn(bcol, bucketIdCol(col(key), n))
      .repartition(n, col(bcol))
      .sortWithinPartitions((bcol +: key +: moreKeys).map(col): _*)
    val w = ParquetTable.withLayout(
      sorted.write.mode("overwrite").partitionBy(bcol), layout, df.schema)
    ParquetTable.withMicrosTimestamps(df.sparkSession) { w.parquet(staging) }
    Files.createDirectories(Paths.get(outDir))
    import scala.jdk.CollectionConverters._
    val dirs = Files.list(Paths.get(staging))
    val bucketDirs = try dirs.iterator().asScala
      .filter(p => p.getFileName.toString.startsWith(s"$bcol=")).toList
    finally dirs.close()
    bucketDirs.foreach { bd =>
      val b = bd.getFileName.toString.stripPrefix(s"$bcol=").toInt
      val fs = Files.list(bd)
      val parts = try fs.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toList
      finally fs.close()
      parts.foreach { p =>
        Files.move(p,
          Paths.get(outDir, f"b$b%05d-${p.getFileName.toString}"))
      }
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
    override def produceResult(input: InternalRow): Integer = {
      val n = input.getInt(0)
      val h = hashValue(keyType, input, 1)
      ((h % n) + n) % n
    }
  }
}
