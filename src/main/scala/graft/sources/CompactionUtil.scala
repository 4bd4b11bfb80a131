package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetFileWriter}
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.spark.sql.SparkSession

/** Row-group-granularity raw passthrough — the reference's core trick
  * (`writer.appendRowGroup(...)`, ParquetRewriter.java:312-322) as a
  * small-file compaction utility: concatenates Parquet files by copying
  * their row groups **byte-for-byte** (no decode, no re-encode, no
  * re-compress) via parquet-mr's `ParquetFileWriter.appendFile`.
  *
  * This is the one operation Spark SQL cannot express (Spark always
  * decodes what it writes, SURVEY.md §4); it lives outside the SQL engine
  * as a utility, used to compact the small files CoW merges produce back
  * into few-file form without paying a rewrite. All inputs must share a
  * schema. Driver-side per target file; at scale, run one task per output
  * file via `spark.parallelize(groups).foreach(...)` — the work per group
  * is pure sequential IO.
  */
object CompactionUtil {

  private def schemaOf(conf: Configuration, f: String) = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f), conf))
    try r.getFooter.getFileMetaData.getSchema finally r.close()
  }

  /** Concatenate `inputs` (in order) into `output` by raw row-group copy.
    * Returns (rowGroups, rows) of the output footer.
    *
    * Inputs must share the EXACT parquet message type (including
    * repetition): `appendFile` never re-encodes, so splicing an
    * `optional`-written chunk under a `required` schema (or vice versa)
    * silently mis-decodes level bytes as data. Fail loud instead. */
  def concatFiles(conf: Configuration, inputs: Seq[String], output: String): (Int, Long) = {
    require(inputs.nonEmpty, "no input files")
    val schema = schemaOf(conf, inputs.head)
    inputs.tail.foreach { f =>
      val s = schemaOf(conf, f)
      require(s == schema,
        s"schema drift: $f has\n$s\nbut ${inputs.head} has\n$schema — " +
          "raw concat would corrupt; rewrite instead")
    }
    val writer = new ParquetFileWriter(
      HadoopOutputFile.fromPath(new Path(output), conf),
      schema, ParquetFileWriter.Mode.CREATE,
      128L * 1024 * 1024, 8 * 1024 * 1024)
    writer.start()
    inputs.foreach { f =>
      writer.appendFile(HadoopInputFile.fromPath(new Path(f), conf))
    }
    writer.end(java.util.Collections.emptyMap[String, String]())

    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(output), conf))
    try {
      val blocks = reader.getFooter.getBlocks
      (blocks.size(), (0 until blocks.size()).map(blocks.get(_).getRowCount).sum)
    } finally reader.close()
  }

  /** Greedy CONTIGUOUS bin packing of (file, bytes) pairs: walk in the
    * given order, close a bin when adding the next file would cross
    * `targetBytes` (a bin always takes at least one file, so oversized
    * files pass through alone). Contiguity is load-bearing: inputs arrive
    * in key order, so each output file still owns a disjoint key range —
    * the sorted-table invariant merges route by. */
  def planBySize(files: Seq[(String, Long)], targetBytes: Long): Seq[Seq[String]] = {
    require(targetBytes > 0, "targetBytes must be positive")
    val groups = Seq.newBuilder[Seq[String]]
    var cur = List.empty[String]
    var curBytes = 0L
    files.foreach { case (f, b) =>
      if (cur.nonEmpty && curBytes + b > targetBytes) {
        groups += cur.reverse; cur = Nil; curBytes = 0L
      }
      cur ::= f; curBytes += b
    }
    if (cur.nonEmpty) groups += cur.reverse
    groups.result()
  }

  /** Size-targeted compaction, one Spark task per output file (the work
    * per group is pure sequential byte IO — this is the reference's
    * one-rewriter-per-shard parallelism, README.md:45-48, applied to
    * compaction). Small files produced by many CoW merges fold back into
    * ~`targetBytes` files with zero decode. */
  def compactDirBySize(spark: SparkSession, dir: String, outDir: String,
                       targetBytes: Long): Seq[String] = {
    // manifest-first inventory: a committed snapshot's files may live in
    // PRIOR snapshot dirs (reference passthrough) — a directory listing
    // would silently compact only the locally-present subset
    val files = MutableParquetTable.tableFiles(dir)
    require(files.nonEmpty, s"no parquet files in $dir")
    compactFilesBySize(spark, dir, outDir, files, targetBytes)
  }

  /** [[compactDirBySize]] over an explicit FILE SUBSET — the range-scoped
    * compaction splice ([[MutableParquetTable.compactRange]]): only the
    * named files fold; the caller passes the rest through metadata-only.
    * `prefix` keeps the spliced outputs' names disjoint from any
    * original file names that land in the same snapshot dir via
    * hard-link passthrough. */
  def compactFilesBySize(spark: SparkSession, dir: String, outDir: String,
                         subset: Seq[String], targetBytes: Long,
                         prefix: String = "part"): Seq[String] = {
    val recorded = MutableParquetTable.manifestBytesByName(dir)
    val files = subset
      .map(f => f -> MutableParquetTable.recordedOrStatSize(dir, f, recorded))
    require(files.nonEmpty, s"no parquet files to compact in $dir")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val hconf = spark.sparkContext.hadoopConfiguration
    val groups = schemaRuns(hconf, files)
      .flatMap(run => planBySize(run, targetBytes)).zipWithIndex
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val outs = groups.map { case (_, i) => f"$outDir/$prefix-$i%05d.parquet" }
    spark.sparkContext
      .parallelize(groups, math.max(1, math.min(groups.size, 64)))
      .foreach { case (g, i) =>
        concatFiles(conf.value, g, f"$outDir/$prefix-$i%05d.parquet")
      }
    outs
  }

  /** Split `files` (in order) into runs sharing one EXACT parquet
    * message type: a CoW chain legitimately mixes physical schemas (e.g.
    * required base columns vs optional merge rewrites) — bins must not
    * span a schema boundary, so callers pack each run separately
    * (oversized runs of one file pass through alone, never corrupted). */
  private def schemaRuns(conf: Configuration, files: Seq[(String, Long)])
      : Seq[Seq[(String, Long)]] = {
    val bySchema = files.map { case (f, b) => (f, b, schemaOf(conf, f)) }
    val out = Seq.newBuilder[Seq[(String, Long)]]
    var cur = List.empty[(String, Long)]
    var curSchema: Option[org.apache.parquet.schema.MessageType] = None
    bySchema.foreach { case (f, b, s) =>
      if (curSchema.exists(_ != s)) { out += cur.reverse; cur = Nil }
      curSchema = Some(s); cur ::= (f, b)
    }
    if (cur.nonEmpty) out += cur.reverse
    out.result()
  }

  /** Per-BUCKET size-targeted compaction of a hash-bucketed snapshot:
    * each bucket's files fold independently — NEVER across buckets — and
    * outputs keep the `b<id>-` name encoding, so the file-bucket
    * invariant (storage-partitioned joins, bucket-routed merges)
    * survives storage maintenance. Within a bucket files are key-sorted
    * and KEY-DISJOINT (the invariant merges route by), so each bucket's
    * files are packed contiguously in key order, exactly as
    * [[compactDirBySize]] packs a key-clustered table: every output is
    * sorted and still owns a disjoint key range of its bucket. Raw concat
    * carries every original row group and its stats verbatim, so
    * row-group skipping inside the folded file is unchanged. One Spark
    * task per output file, pure sequential byte IO. */
  def compactBucketedDir(spark: SparkSession, dir: String, outDir: String,
                         targetBytes: Long): Seq[String] = {
    val m = Manifest.read(dir)
    val recorded = m.map(_.bytesByName).getOrElse(Map.empty)
    val mins = m.flatMap(_.ranges(dir)).getOrElse(Nil)
      .map(r => new Path(r.file).getName -> r.minBytes).toMap
    val files = MutableParquetTable.tableFiles(dir, m)
      .map(f => f -> MutableParquetTable.recordedOrStatSize(dir, f, recorded))
      .sortBy(f => mins.getOrElse(new Path(f._1).getName, Array.emptyByteArray))(
        KeyBytes.ordering)
    require(files.nonEmpty, s"no parquet files in $dir")
    val byBucket = files.groupBy { case (f, _) =>
      GraftBucket.bucketOfName(new Path(f).getName).getOrElse(
        throw new IllegalArgumentException(
          s"$f carries no bucket name encoding — not a bucketed snapshot"))
    }
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val hconf = spark.sparkContext.hadoopConfiguration
    val groups: Seq[(Seq[String], String)] =
      byBucket.toSeq.sortBy(_._1).flatMap { case (b, fs) =>
        schemaRuns(hconf, fs)
          .flatMap(run => planBySize(run, targetBytes))
          .zipWithIndex
          .map { case (g, i) =>
            (g, f"$outDir/${GraftBucket.namePrefix(b)}part-$i%05d.parquet")
          }
      }
    val conf = new org.apache.spark.util.SerializableConfiguration(hconf)
    spark.sparkContext
      .parallelize(groups, math.max(1, math.min(groups.size, 64)))
      .foreach { case (g, out) => concatFiles(conf.value, g, out): Unit }
    groups.map(_._2)
  }

  /** Compact a CoW table directory's files into `targetFiles` outputs,
    * preserving key order (inputs are concatenated in sorted-path order,
    * which writeSorted's range partitioning makes key order). */
  def compactDir(spark: SparkSession, dir: String, outDir: String,
                 targetFiles: Int): Seq[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    // manifest-first, same as compactDirBySize (reference passthrough)
    val files = MutableParquetTable.tableFiles(dir)
    require(files.nonEmpty, s"no parquet files in $dir")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val groups = files.grouped(math.max(1, math.ceil(files.size.toDouble / targetFiles).toInt)).toSeq
    groups.zipWithIndex.map { case (g, i) =>
      val out = f"$outDir/part-$i%05d.parquet"
      concatFiles(conf, g, out)
      out
    }
  }
}
