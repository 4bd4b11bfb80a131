package graft.sources

import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Physical-layout options for Parquet writes.
  *
  * Mirrors the reference's layout controls (row-group size inference and
  * override, ParquetRewriter.java:107-112; plain-vs-dictionary encoding,
  * ProxiedProperties.java:31-63; codec, ParquetBlockMutator.java:124; page
  * sizes, ParquetBlockMutator.java:105-113) — all expressed as stock Parquet
  * write options instead of custom writer machinery.
  *
  * @param rowGroupBytes   target row-group (block) size in bytes
  *                        (`parquet.block.size`)
  * @param maxRecordsPerFile row-count cap per output file — the Spark-level
  *                        analog of the reference's row-count flush policy
  *                        (RecordWriter.java:269-272)
  * @param compression     parquet codec: snappy | zstd | gzip | uncompressed
  * @param dictionaryEnabled dictionary encoding on/off (the reference forces
  *                        it off for mutation-heavy files)
  * @param pageBytes       `parquet.page.size`
  * @param columnDictionary per-COLUMN dictionary override — the reference's
  *                        per-physical-type encoding control
  *                        (ProxiedProperties.java:43-55) at parquet-mr's own
  *                        granularity: `parquet.enable.dictionary#col`.
  *                        Columns absent from the map inherit
  *                        `dictionaryEnabled`.
  * @param plainTypes      parquet PHYSICAL type names (INT32 | INT64 |
  *                        FLOAT | DOUBLE | BINARY | FIXED_LEN_BYTE_ARRAY)
  *                        whose columns are forced to PLAIN encoding — the
  *                        reference's per-physical-type dictionary kill
  *                        switch (ProxiedProperties.java:43-55), expressed
  *                        by expanding the type rule over the write schema
  *                        into parquet-mr's per-column keys. Explicit
  *                        [[columnDictionary]] entries win over the type
  *                        rule.
  * @param bloomFilterColumns columns to write parquet bloom filters for
  *                        (`parquet.bloom.filter.enabled#col`) — point
  *                        lookups on a non-sort key can skip row groups the
  *                        min/max zone maps can't (high-cardinality values
  *                        interleaved across the whole range). Optional
  *                        per-column expected NDV tunes the filter size.
  */
final case class ParquetLayout(
    rowGroupBytes: Option[Long] = None,
    maxRecordsPerFile: Option[Long] = None,
    compression: String = "snappy",
    dictionaryEnabled: Boolean = true,
    pageBytes: Option[Long] = None,
    columnDictionary: Map[String, Boolean] = Map.empty,
    plainTypes: Set[String] = Set.empty,
    bloomFilterColumns: Seq[String] = Nil,
    bloomFilterNdv: Map[String, Long] = Map.empty,
    // parquet format writer version (PARQUET_1_0 | PARQUET_2_0) — the
    // reference exposes the same switch (ParquetBlockMutator.java:110)
    writerVersion: Option[String] = None)

/** Parquet-backed table: scan + layout-controlled write + footer statistics.
  *
  * Scan-side, Catalyst already gives us the reference's zone-map behavior
  * (ParquetRewriter.java:239-251, 263-283): pushed predicates prune row
  * groups via column min/max statistics. What Spark does NOT surface is the
  * stats themselves — [[ParquetStats.rowGroupStats]] reads footers into a
  * DataFrame so the merge path can do dirty-file detection before touching
  * any data (SURVEY.md §4 "zone-map pruning for merges").
  */
object ParquetTable {

  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Run `body` with parquet timestamp writes forced to TIMESTAMP_MICROS
    * (set-and-restore of the session conf — Spark offers no per-write
    * option). INT96 — Spark's default — is deprecated and carries no
    * usable min/max statistics, which would break zone-map routing for
    * timestamp merge keys; every engine write path goes through this.
    *
    * REF-COUNTED per session: merge paths call this from concurrent
    * Futures (multi-run rewrites, per-dirty-file row-group CoW), and a
    * plain set/restore would let one run's finally-restore flip the conf
    * back to INT96 between another run's set and its write-job conf
    * capture — producing stat-less timestamp files that silently break
    * later routing. The conf is set when the first concurrent entry
    * arrives and restored only when the last one leaves. */
  private val microsLock = new Object
  private val microsState =
    scala.collection.mutable.Map.empty[SparkSession, (Int, Option[String])]
  def withMicrosTimestamps[T](spark: SparkSession)(body: => T): T = {
    val tsKey = "spark.sql.parquet.outputTimestampType"
    microsLock.synchronized {
      val (depth, prev) = microsState.getOrElse(spark,
        (0, spark.conf.getOption(tsKey)))
      if (depth == 0) spark.conf.set(tsKey, "TIMESTAMP_MICROS")
      microsState(spark) = (depth + 1, prev)
    }
    try body
    finally microsLock.synchronized {
      val (depth, prev) = microsState(spark)
      if (depth == 1) {
        microsState.remove(spark)
        prev match {
          case Some(v) => spark.conf.set(tsKey, v)
          case None    => spark.conf.unset(tsKey)
        }
      } else microsState(spark) = (depth - 1, prev)
    }
  }

  /** Write with explicit physical layout. */
  def write(df: DataFrame, path: String, layout: ParquetLayout = ParquetLayout(),
            mode: SaveMode = SaveMode.Overwrite): Unit = {
    var w = df.write.mode(mode)
    layout.rowGroupBytes.foreach(b => w = w.option("parquet.block.size", b.toString))
    layout.pageBytes.foreach(b => w = w.option("parquet.page.size", b.toString))
    layout.maxRecordsPerFile.foreach(n => w = w.option("maxRecordsPerFile", n.toString))
    w = w.option("compression", layout.compression)
    w = w.option("parquet.enable.dictionary", layout.dictionaryEnabled.toString)
    // expand the per-physical-type PLAIN rule over this write's schema,
    // then let explicit per-column entries override it
    val typePlain: Map[String, Boolean] =
      if (layout.plainTypes.isEmpty) Map.empty
      else df.schema.fields.iterator.collect {
        case f if physicalTypeOf(f.dataType).exists(layout.plainTypes) =>
          f.name -> false
      }.toMap
    (typePlain ++ layout.columnDictionary).foreach { case (c, on) =>
      w = w.option(s"parquet.enable.dictionary#$c", on.toString)
    }
    layout.bloomFilterColumns.foreach { c =>
      w = w.option(s"parquet.bloom.filter.enabled#$c", "true")
    }
    layout.bloomFilterNdv.foreach { case (c, ndv) =>
      w = w.option(s"parquet.bloom.filter.expected.ndv#$c", ndv.toString)
    }
    layout.writerVersion.foreach(v => w = w.option("parquet.writer.version", v))
    withMicrosTimestamps(df.sparkSession) { w.parquet(path) }
  }

  /** Parquet physical type a Spark column writes as (Spark's standard,
    * non-legacy parquet schema mapping) — the granularity of the
    * reference's encoding override (ProxiedProperties.java:43-55).
    * Nested/unknown types map to None (the type rule never touches them). */
  def physicalTypeOf(dt: DataType): Option[String] = dt match {
    case BooleanType                               => Some("BOOLEAN")
    case ByteType | ShortType | IntegerType | DateType => Some("INT32")
    case LongType | TimestampType | TimestampNTZType   => Some("INT64")
    case FloatType                                 => Some("FLOAT")
    case DoubleType                                => Some("DOUBLE")
    case StringType | BinaryType                   => Some("BINARY")
    case d: DecimalType if d.precision <= 9        => Some("INT32")
    case d: DecimalType if d.precision <= 18       => Some("INT64")
    case _: DecimalType                            => Some("FIXED_LEN_BYTE_ARRAY")
    case _                                         => None
  }

  /** Write key-sorted: range-partition by key then sort within partitions.
    *
    * The Spark-native form of the reference's global key-sorted invariant
    * (README.md:21): each output file owns a disjoint key range and is
    * internally sorted, so per-file min/max stats are tight and merges
    * touch the minimum number of files. On a cluster this is exactly the
    * "one rewriter per sorted shard" sharding of README.md:45-48, with the
    * range partitioner doing the sharding.
    */
  def writeSorted(df: DataFrame, path: String, key: String, numFiles: Int,
                  layout: ParquetLayout = ParquetLayout()): Unit =
    writeSortedBy(df, path, Seq(key), numFiles, layout)

  /** [[writeSorted]] on a COMPOSITE key: range-partition by the LEADING
    * column only, sort by the full tuple. Partitioning by the whole tuple
    * would land file boundaries mid-leading-value, making every boundary
    * a leading-key straddle — the merge's non-cut expansion would then
    * cascade dirtiness across the table. Cutting at leading-value
    * boundaries keeps file-level CoW economics: a (tenant, id) table
    * rewrites only the touched tenants' files. */
  def writeSortedBy(df: DataFrame, path: String, keys: Seq[String],
                    numFiles: Int, layout: ParquetLayout = ParquetLayout()): Unit = {
    require(keys.nonEmpty, "at least one sort-key column required")
    val sorted = df
      .repartitionByRange(numFiles, col(keys.head))
      .sortWithinPartitions(keys.map(col): _*)
    write(sorted, path, layout)
  }

  /** Average row-group size of the source files — the reference's default
    * sizing policy (ParquetRewriter.java:107-112). */
  def inferRowGroupBytes(spark: SparkSession, path: String): Long = {
    val stats = ParquetStats.rowGroupStats(spark, path)
    val mean = stats.agg(avg(col("totalBytes"))).head().getDouble(0)
    math.max(1L, mean.toLong)
  }
}

/** Footer/statistics inspection (SURVEY.md §2b "footer/stats inspection").
  *
  * Reads Parquet footers into DataFrames: one row per row group with byte
  * sizes and row counts, and per-column min/max for a chosen key column.
  * Footers are read on executors (one task per batch of files) so the stats
  * build itself scales to 100 TB tables with millions of files — never
  * funnel footer IO through the driver.
  */
object ParquetStats {

  val rowGroupSchema: StructType = StructType(Seq(
    StructField("file", StringType, nullable = false),
    StructField("rowGroup", IntegerType, nullable = false),
    StructField("rowCount", LongType, nullable = false),
    StructField("totalBytes", LongType, nullable = false),
    StructField("compressedBytes", LongType, nullable = false)))

  private def listFiles(spark: SparkSession, path: String): Seq[String] = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val st = fs.getFileStatus(new org.apache.hadoop.fs.Path(path))
    val files =
      if (st.isDirectory)
        fs.listStatus(new org.apache.hadoop.fs.Path(path)).toSeq
          .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet") &&
            !s.getPath.getName.startsWith("_")) // sidecars are not data
          .map(_.getPath.toString)
      else Seq(st.getPath.toString)
    files.sorted
  }

  /** One row per (file, rowGroup) with size/count info. */
  def rowGroupStats(spark: SparkSession, path: String): DataFrame = {
    val files = listFiles(spark, path)
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val rows = spark.sparkContext
      .parallelize(files, math.max(1, math.min(files.size, 64)))
      .mapPartitions { it =>
        it.flatMap { f =>
          val in = org.apache.parquet.hadoop.util.HadoopInputFile
            .fromPath(new org.apache.hadoop.fs.Path(f), conf.value)
          val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try {
            val blocks = reader.getFooter.getBlocks
            (0 until blocks.size()).map { i =>
              val b = blocks.get(i)
              Row(f, i, b.getRowCount, b.getTotalByteSize, b.getCompressedSize)
            }
          } finally reader.close()
        }
      }
    spark.createDataFrame(rows, rowGroupSchema)
  }

  /** Per-(file, rowGroup) min/max of `keyCol` — the zone map the reference
    * builds in loadStats() (ParquetRewriter.java:239-251), as a DataFrame.
    * Key min/max are surfaced as strings plus, when numeric, long values,
    * so callers can range-join in the key's native order.
    *
    * Small tables (≤ `driverReadThreshold` files) read footers directly on
    * the driver — a few ms, no Spark job. Larger tables fan the footer IO
    * out to executors so a million-file table never funnels through the
    * driver.
    */
  // footer reads fan out on the driver's IO pool below this file count —
  // a few hundred ms-scale blocking reads beat a Spark job's scheduling
  // latency; true multi-thousand-file tables go through executors
  val driverReadThreshold = 256

  /** Driver-side parallel footer IO: each footer read is ms-scale blocking
    * IO, so a small fan-out takes it off the merge latency path. Results
    * are reassembled in input order — fully deterministic. */
  private def parFlatMap[A, B](xs: Seq[A])(f: A => IterableOnce[B]): Seq[B] = {
    import scala.collection.parallel.CollectionConverters._
    if (xs.size <= 2) xs.flatMap(f).toSeq
    else xs.par.map(a => f(a).iterator.toSeq).seq.toSeq.flatten
  }

  private def footerRows(f: String, keyCol: String,
                         conf: org.apache.hadoop.conf.Configuration): Seq[Row] = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile
      .fromPath(new org.apache.hadoop.fs.Path(f), conf)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try footerRows(f, keyCol, reader.getFooter)
    finally reader.close()
  }

  /** One [[keyStatsSchema]] row per row group of `footer` (the footer of
    * file `f`) — the same rows whether the footer was read back from
    * storage or taken from the writer that just closed the file. */
  private[graft] def footerRows(f: String, keyCol: String,
      footer: org.apache.parquet.hadoop.metadata.ParquetMetadata): Seq[Row] = {
    val blocks = footer.getBlocks
    (0 until blocks.size()).map { i =>
      val b = blocks.get(i)
      val colMeta = (0 until b.getColumns.size())
        .map(b.getColumns.get)
        .find(_.getPath.toDotString == keyCol)
      val st = colMeta.map(_.getStatistics).filter(s => s != null && s.hasNonNullValue)
      // a BINARY column without the String annotation is a RAW binary
      // key: its stats bytes must never round-trip through UTF-8 (lossy
      // for arbitrary bytes — replacement chars would corrupt ordering)
      val isRawBinary = colMeta.exists { c =>
        c.getPrimitiveType.getPrimitiveTypeName ==
          org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.BINARY &&
        !c.getPrimitiveType.getLogicalTypeAnnotation.isInstanceOf[
          org.apache.parquet.schema.LogicalTypeAnnotation.StringLogicalTypeAnnotation]
      }
      val minS = if (isRawBinary) null else st.map(_.minAsString()).orNull
      val maxS = if (isRawBinary) null else st.map(_.maxAsString()).orNull
      // null count from the UNFILTERED stats (an all-null group has no
      // min/max but a real numNulls); -1 = writer did not record it
      val nullKeys: java.lang.Long = colMeta.map(_.getStatistics)
        .filter(s => s != null && s.isNumNullsSet)
        .map(s => java.lang.Long.valueOf(s.getNumNulls))
        .getOrElse(java.lang.Long.valueOf(-1L))
      // fractional key stats are left out of BOTH lanes: a truncating
      // longValue would route keys to the wrong files (KeyBytes.fromAny
      // rejects such keys outright at merge time)
      val minL = st.map(_.genericGetMin).collect {
        case n: java.lang.Integer => java.lang.Long.valueOf(n.longValue)
        case n: java.lang.Long => n
        case n: java.lang.Short => java.lang.Long.valueOf(n.longValue)
        case n: java.lang.Byte => java.lang.Long.valueOf(n.longValue) }.orNull
      val maxL = st.map(_.genericGetMax).collect {
        case n: java.lang.Integer => java.lang.Long.valueOf(n.longValue)
        case n: java.lang.Long => n
        case n: java.lang.Short => java.lang.Long.valueOf(n.longValue)
        case n: java.lang.Byte => java.lang.Long.valueOf(n.longValue) }.orNull
      val minB = if (!isRawBinary) null else st.map(_.genericGetMin).collect {
        case b2: org.apache.parquet.io.api.Binary => b2.getBytes }.orNull
      val maxB = if (!isRawBinary) null else st.map(_.genericGetMax).collect {
        case b2: org.apache.parquet.io.api.Binary => b2.getBytes }.orNull
      Row(f, i, b.getRowCount, b.getTotalByteSize, b.getCompressedSize,
        minS, maxS, minL, maxL, minB, maxB, nullKeys)
    }
  }

  /** [[rowGroupSchema]] plus the key column's per-group bounds: string
    * form, long form (integral/date/timestamp), raw bytes (binary keys),
    * and the null count. */
  val keyStatsSchema: StructType = StructType(rowGroupSchema.fields ++ Seq(
    StructField("minKey", StringType, nullable = true),
    StructField("maxKey", StringType, nullable = true),
    StructField("minKeyLong", LongType, nullable = true),
    StructField("maxKeyLong", LongType, nullable = true),
    StructField("minKeyBinary", BinaryType, nullable = true),
    StructField("maxKeyBinary", BinaryType, nullable = true),
    StructField("nullKeys", LongType, nullable = true)))

  def keyStats(spark: SparkSession, path: String, keyCol: String): DataFrame = {
    val files = listFiles(spark, path)
    val schema = keyStatsSchema
    if (files.size <= driverReadThreshold) {
      val hconf = spark.sparkContext.hadoopConfiguration
      val rows = parFlatMap(files)(f => footerRows(f, keyCol, hconf))
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    } else {
      val conf = new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration)
      val rows = spark.sparkContext
        .parallelize(files, math.max(1, math.min(files.size, 64)))
        .mapPartitions(it => it.flatMap(f => footerRows(f, keyCol, conf.value)))
      spark.createDataFrame(rows, schema)
    }
  }

  /** File-granularity key ranges: min/max of `keyCol` per file. `minKey`/
    * `maxKey` are the numeric bounds (null for string keys); `minKeyStr`/
    * `maxKeyStr` the string bounds (the key rendered as text for numerics).
    * This is the pruning unit for copy-on-write merges. */
  def fileKeyRanges(spark: SparkSession, path: String, keyCol: String): DataFrame =
    keyStats(spark, path, keyCol)
      .groupBy(col("file"))
      .agg(
        min(col("minKeyLong")).as("minKey"),
        max(col("maxKeyLong")).as("maxKey"),
        sum(col("rowCount")).as("rowCount"),
        min(col("minKey")).as("minKeyStr"),
        max(col("maxKey")).as("maxKeyStr"))

  /** A file's zone-map entry with the typed bounds (`Long` for numeric
    * keys, `String` for string keys — usable directly in Column filters)
    * plus their order-preserving byte encodings ([[KeyBytes]]) for the
    * routing binary search. */
  /** `nullKeys`: rows whose key is null in this file — INVISIBLE to the
    * min/max bounds (parquet stats exclude nulls), so consumers that
    * reason from bounds + row counts alone (the top-k file prune) must
    * require 0. −1 = the writer recorded no null count (external files;
    * decline such pruning conservatively). */
  final case class FileKeyRange(file: String, min: Any, max: Any,
                                minBytes: Array[Byte], maxBytes: Array[Byte],
                                rowCount: Long, nullKeys: Long = 0L)

  /** Key ranges for any supported key type, driver-side for small tables
    * (zero Spark jobs, a few ms — keeps no-op and small merges
    * metadata-only end to end), distributed footer reads above the
    * threshold. Files with no key stats (all-null key) are omitted — they
    * can never be routed to. */
  def fileKeyRangesTyped(spark: SparkSession, path: String,
                         keyCol: String): Seq[FileKeyRange] =
    fileKeyRangesTypedFor(spark, listFiles(spark, path), keyCol)

  private def ofTyped(f: String, minL: Option[Long], maxL: Option[Long],
                      minS: Option[String], maxS: Option[String],
                      minB: Option[Array[Byte]], maxB: Option[Array[Byte]],
                      rows: Long, nulls: Long): Option[FileKeyRange] =
    (minL, maxL) match {
      case (Some(lo), Some(hi)) => Some(FileKeyRange(f, lo, hi,
        KeyBytes.fromLong(lo), KeyBytes.fromLong(hi), rows, nulls))
      case _ => (minB, maxB) match {
        case (Some(lo), Some(hi)) => Some(FileKeyRange(f, lo, hi,
          KeyBytes.fromBinary(lo), KeyBytes.fromBinary(hi), rows, nulls))
        case _ => (minS, maxS) match {
          case (Some(lo), Some(hi)) => Some(FileKeyRange(f, lo, hi,
            KeyBytes.fromString(lo), KeyBytes.fromString(hi), rows, nulls))
          case _ => None
        }
      }
    }

  // string bounds compared under byte order — consistent with Spark's
  // UTF8String sort and parquet's UNSIGNED stats order
  private def byteMin(xs: Seq[String]) =
    xs.reduce((a, b) => if (KeyBytes.compare(
      KeyBytes.fromString(a), KeyBytes.fromString(b)) <= 0) a else b)
  private def byteMax(xs: Seq[String]) =
    xs.reduce((a, b) => if (KeyBytes.compare(
      KeyBytes.fromString(a), KeyBytes.fromString(b)) >= 0) a else b)
  private def byteMinB(xs: Seq[Array[Byte]]) =
    xs.reduce((a, b) => if (KeyBytes.compare(a, b) <= 0) a else b)
  private def byteMaxB(xs: Seq[Array[Byte]]) =
    xs.reduce((a, b) => if (KeyBytes.compare(a, b) >= 0) a else b)

  /** File `f`'s zone-map entry from its [[footerRows]]; None when the
    * key has no stats in any row group (an all-null key column). */
  private[graft] def fromGroupRows(f: String, rgs: Seq[Row]): Option[FileKeyRange] = {
    val minLs = rgs.flatMap(r => Option(r.get(7)).map(_.asInstanceOf[Long]))
    val maxLs = rgs.flatMap(r => Option(r.get(8)).map(_.asInstanceOf[Long]))
    val minSs = rgs.flatMap(r => Option(r.getString(5)))
    val maxSs = rgs.flatMap(r => Option(r.getString(6)))
    val minBs = rgs.flatMap(r => Option(r.get(9)).map(_.asInstanceOf[Array[Byte]]))
    val maxBs = rgs.flatMap(r => Option(r.get(10)).map(_.asInstanceOf[Array[Byte]]))
    // unknown (−1) in ANY row group poisons the file's null count —
    // a partial sum would understate nulls and mislead the top-k prune
    val nullsPerGroup = rgs.map(r =>
      Option(r.get(11)).map(_.asInstanceOf[Long]).getOrElse(-1L))
    ofTyped(f,
      minLs.minOption, maxLs.maxOption,
      if (minSs.isEmpty) None else Some(byteMin(minSs)),
      if (maxSs.isEmpty) None else Some(byteMax(maxSs)),
      if (minBs.isEmpty) None else Some(byteMinB(minBs)),
      if (maxBs.isEmpty) None else Some(byteMaxB(maxBs)),
      rgs.map(_.getLong(2)).sum,
      if (nullsPerGroup.contains(-1L)) -1L else nullsPerGroup.sum)
  }

  /** Same, over an explicit file list — lets callers that already know
    * most files' ranges (e.g. the merge path's untouched passthrough
    * files) pay footer IO only for the files they actually wrote. */
  def fileKeyRangesTypedFor(spark: SparkSession, files: Seq[String],
                            keyCol: String): Seq[FileKeyRange] = {
    if (files.size <= driverReadThreshold) {
      val hconf = spark.sparkContext.hadoopConfiguration
      parFlatMap(files)(f => fromGroupRows(f, footerRows(f, keyCol, hconf)))
    } else {
      // executor-parallel footer reads of EXACTLY the listed files — a
      // merge writing many new files into a snapshot with thousands of
      // passthrough files must not pay footer IO for the clean ones
      val conf = new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration)
      val kc = keyCol
      spark.sparkContext
        .parallelize(files, math.max(1, math.min(files.size, 64)))
        .mapPartitions(it => it.flatMap(f => footerRows(f, kc, conf.value)))
        .collect().toSeq
        .groupBy(_.getString(0)).toSeq
        .flatMap { case (f, rgs) => fromGroupRows(f, rgs) }
    }
  }
}
