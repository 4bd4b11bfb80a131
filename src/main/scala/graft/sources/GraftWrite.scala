package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.{CompressionCodecName, ParquetMetadata}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

import graft.streaming.CdcMergeSink

/** DataSource V2 write path for graft tables: `INSERT INTO` /
  * `df.write.format("graft").mode("append").save(root)` append as ONE
  * copy-on-write merge commit — the next table version.
  *
  * Executors write the incoming batch as plain parquet into a
  * dot-staging directory (invisible to readers — same convention as the
  * concurrent-run merge staging), one file per task via Spark's own
  * parquet WriteSupport (vectorizable output, micros timestamps so key
  * stats stay usable). The DRIVER-side commit then runs the batch
  * through [[graft.GraftTable.commit]] — routing, passthrough, manifest
  * — and removes the staging dir; abort removes it without committing.
  * Write cost scales with the BATCH (staged once, merged once), never
  * the table.
  *
  * This replaces the earlier V1 `CreatableRelationProvider` bridge: the
  * plan now carries a genuine V2 write node, so `INSERT INTO` by catalog
  * name, path saves, and SQL `INSERT` all share one code path. */
final class GraftWriteBuilder(spark: SparkSession, table: GraftBatchTable,
                              info: LogicalWriteInfo) extends WriteBuilder
    with org.apache.spark.sql.connector.write.SupportsTruncate
    // streaming Update output mode (aggregations) delivers upserted rows
    // per epoch — exactly what a keyed CoW merge wants, so Update IS
    // append for this sink
    with org.apache.spark.sql.internal.connector.SupportsStreamingUpdateAsAppend {

  /** SQL `INSERT OVERWRITE` / `df.write.mode("overwrite")`: Spark calls
    * truncate() when the overwrite condition is the whole table; the
    * commit then REPLACES content ([[graft.GraftTable.replace]]) instead
    * of merging it in. */
  private var replace = false

  override def truncate(): WriteBuilder = { replace = true; this }

  override def build(): Write = {
    val root = table.rootPath.getOrElse(throw new IllegalArgumentException(
      s"${table.snapshotDir} is a bare snapshot, not a versioned table " +
        "root (no base/) — writes need the version chain"))
    val key = table.keyName.getOrElse(throw new IllegalStateException(
      s"${table.snapshotDir} has no manifest key to merge on"))
    val hc = GraftDataWriter.hadoopConf(spark)
    new GraftWrite(root, key, info.schema(), new SerializableConfiguration(hc),
      replace, info.queryId(),
      info.options().getOrDefault("opColumn", "op"),
      Option(info.options().get("seqColumn")),
      moreKeys = table.moreKeyNames,
      // bucketed layouts re-bucket through their own writer — only the
      // plain layout takes the ordered single-pass paths
      orderedReplace = replace && table.bucketSpec.isEmpty,
      // INSERT INTO an EMPTY table (CREATE + first load, CTAS): same
      // single-pass opportunity — and the legacy path funnels the whole
      // load through ONE task (repartition(1)); emptiness is re-proven
      // at commit time, so a concurrent insert falls back to the merge
      orderedEmptyInsert = !replace && table.bucketSpec.isEmpty &&
        table.allFiles.isEmpty)
  }
}

final class GraftWrite(root: String, key: String, schema: StructType,
                       conf: SerializableConfiguration,
                       replace: Boolean = false,
                       queryId: String = "",
                       opCol: String = "op",
                       seqCol: Option[String] = None,
                       moreKeys: Seq[String] = Nil,
                       orderedReplace: Boolean = false,
                       orderedEmptyInsert: Boolean = false) extends Write
    with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {

  import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
  import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder => VSortOrder}

  /** INSERT OVERWRITE — and the first load of an EMPTY table — plan
    * their own layout: the written content must be range-partitioned and
    * sorted on the merge key anyway (the table's disjoint-file
    * invariant), so DECLARE that to Catalyst and let the QUERY'S
    * exchange produce it — the staged files arrive key-disjoint and
    * key-sorted, and the commit publishes them directly instead of
    * re-reading and re-sorting the whole batch (one materialization,
    * not two). Appends into a NON-empty table stay unspecified: the CoW
    * merge routes and rewrites per dirty file regardless of batch
    * order. */
  private def sortOrders: Array[VSortOrder] =
    (key +: moreKeys).map(c =>
      Expressions.sort(Expressions.column(c), SortDirection.ASCENDING)).toArray

  // A STREAMING consumer never takes the direct-publish path (its
  // commits run through the merge/replace protocol with txn markers,
  // which re-sort as needed), so the ordered declaration would tax
  // EVERY micro-batch with a global range-partition + sort that buys
  // nothing — and `orderedEmptyInsert` would stay true for the stream's
  // whole lifetime even after the first epoch fills the table. V2Writes
  // resolves `toStreaming` before it consults the distribution
  // (prepareQuery), so clearing the flags here is observed; if a future
  // Spark reorders those steps the declaration is merely wasted work,
  // never a correctness hazard.
  @volatile private var streamingConsumer = false

  private def ordered: Boolean =
    !streamingConsumer && (orderedReplace || orderedEmptyInsert)

  override def requiredDistribution(): Distribution =
    if (ordered) Distributions.ordered(sortOrders)
    else Distributions.unspecified()

  override def requiredOrdering(): Array[VSortOrder] =
    if (ordered) sortOrders else Array.empty

  override def requiredNumPartitions(): Int = 0 // AQE picks

  override def advisoryPartitionSizeInBytes(): Long =
    if (ordered) 128L * 1024 * 1024 else 0L

  override def toBatch: BatchWrite =
    new GraftBatchWrite(root, key, schema, conf, replace,
      moreKeys = moreKeys, orderedReplace = orderedReplace,
      orderedEmptyInsert = orderedEmptyInsert)

  /** `df.writeStream.format("graft").start(root)` — the EXACTLY-ONCE
    * streaming sink ([[GraftStreamingWrite]]). */
  override def toStreaming: StreamingWrite = {
    streamingConsumer = true
    new GraftStreamingWrite(root, key, schema, conf, replace, queryId,
      opCol, seqCol)
  }
}

final class GraftBatchWrite(root: String, key: String, schema: StructType,
                            conf: SerializableConfiguration,
                            replace: Boolean = false,
                            moreKeys: Seq[String] = Nil,
                            orderedReplace: Boolean = false,
                            orderedEmptyInsert: Boolean = false)
    extends BatchWrite {

  private val staging =
    s"$root/.staging-insert-${java.util.UUID.randomUUID().toString.take(8)}"

  override def createBatchWriterFactory(info: PhysicalWriteInfo)
      : DataWriterFactory = {
    Files.createDirectories(Paths.get(staging))
    GraftWriterFactory(staging, schema, conf)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    try {
      val staged = messages.collect { case GraftFileCommitted(p) => p }
      if (replace) {
        // INSERT OVERWRITE: the staged batch IS the table's next version
        // (empty select = truncate — an empty snapshot, schema kept).
        // When the write declared ordered distribution, the staged files
        // are already range-partitioned and key-sorted — publish them
        // DIRECTLY (footer sweep + manifest + rename), skipping the
        // legacy re-read + re-sort second materialization; any files
        // that fail the disjointness proof fall back to that path.
        val direct = orderedReplace && staged.nonEmpty &&
          graft.OptimisticCommit.replaceStagedDirect(
            spark, root, key, moreKeys, staging, staged.toSeq, schema)
        if (!direct) {
          val batch =
            if (staged.nonEmpty) spark.read.schema(schema).parquet(staged: _*)
            else spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
          graft.GraftTable(spark, root, key).replace(batch)
        }
      } else if (staged.nonEmpty) {
        // first load of an EMPTY table: the ordered staged files publish
        // directly when the footer proof AND the key-uniqueness check
        // hold (the merge path collapses duplicate keys — semantics are
        // preserved by falling back to it when they exist); any
        // concurrent commit since analysis also falls back to the merge
        val direct = orderedEmptyInsert &&
          graft.OptimisticCommit.replaceStagedDirect(
            spark, root, key, moreKeys, staging, staged.toSeq, schema,
            insertIntoEmpty = true)
        if (!direct) {
          val batch = spark.read.schema(schema).parquet(staged: _*)
            .withColumn("op", org.apache.spark.sql.functions.lit("upsert"))
          graft.GraftTable(spark, root, key).commit(batch)
        }
      }
    } finally if (Files.exists(Paths.get(staging))) // direct publish MOVED it
      MutableParquetTable.deleteDir(Paths.get(staging))
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    // a REJECTED commit (e.g. a CHECK-constraint violation thrown before
    // anything staged, or after commit's own cleanup) may have no
    // staging dir left — abort must stay quiet then, or the engine logs
    // "failed to abort" over the real error
    if (Files.exists(Paths.get(staging)))
      MutableParquetTable.deleteDir(Paths.get(staging))
}

/** EXACTLY-ONCE streaming sink for graft tables:
  * `df.writeStream.format("graft").start(root)`.
  *
  * Each micro-batch epoch stages its rows as parquet under
  * `root/.staging-stream-<query>/epoch-<N>/` (executors, one file per
  * task — same writer as the batch path) and the driver-side
  * `commit(epoch)` applies them as ONE CoW merge commit through
  * [[graft.OptimisticCommit]], stamping the committed manifest with a
  * `(queryId, epoch)` TXN MARKER. Exactly-once falls out of the marker:
  * after a failure the engine replays the epoch, `commit` finds
  * [[CdcMergeSink.lastTxnEpoch]] >= epoch and skips — the table never
  * sees a batch twice, without any sink-side log beyond the manifests
  * the table already writes. The marker survives publish races (it is
  * re-stamped after a rebase) and is atomic with the commit itself — the
  * manifest IS both.
  *
  * Stream shapes, chosen by the write schema + options:
  *  - plain rows → every row upserts on the table key (Append mode, and
  *    Update-mode aggregations via `SupportsStreamingUpdateAsAppend`);
  *  - rows carrying `opColumn` ('upsert' | 'delete', default name `op`)
  *    → a full CDC mutation stream, optionally collapsed per key by
  *    `seqColumn` within each epoch;
  *  - Complete output mode (`truncate()`) → each epoch REPLACES the
  *    table content ([[graft.OptimisticCommit.replace]]), versioned like
  *    every other commit.
  *
  * Scale: per-epoch cost is the batch stage (batch-sized) plus one
  * zone-map-routed merge (dirty-file-sized) — never a function of table
  * size; the idempotence check is manifest metadata only. */
final class GraftStreamingWrite(root: String, key: String,
                                schema: StructType,
                                conf: SerializableConfiguration,
                                replace: Boolean, queryId: String,
                                opCol: String, seqCol: Option[String])
    extends StreamingWrite {

  private val staging =
    s"$root/.staging-stream-${if (queryId.isEmpty) "q" else queryId.take(16)}"

  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : StreamingDataWriterFactory =
    GraftStreamingWriterFactory(staging, schema, conf)

  override def commit(epochId: Long,
                      messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    try {
      // replayed epoch after a failure: already committed, skip
      if (CdcMergeSink.lastTxnEpoch(root, queryId).exists(_ >= epochId))
        return
      val staged = messages.collect { case GraftFileCommitted(p) => p }
      val marker = Some((queryId, epochId))
      if (replace) {
        // Complete mode: the epoch's rows ARE the table state
        val batch =
          if (staged.nonEmpty) spark.read.schema(schema).parquet(staged: _*)
          else spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
        graft.OptimisticCommit.replace(spark, root, key, batch,
          txnMarker = marker)
      } else if (staged.nonEmpty) {
        val raw = spark.read.schema(schema).parquet(staged: _*)
        val batch =
          if (schema.fieldNames.contains(opCol)) raw
          else raw.withColumn(opCol,
            org.apache.spark.sql.functions.lit("upsert"))
        graft.OptimisticCommit.commit(spark, root, key, batch, opCol,
          seqCol.filter(schema.fieldNames.contains), txnMarker = marker)
      }
    } finally dropEpochStaging(epochId)
  }

  override def abort(epochId: Long,
                     messages: Array[WriterCommitMessage]): Unit =
    dropEpochStaging(epochId)

  /** An all-empty epoch stages nothing (writers open lazily), so the
    * epoch dir may not exist. */
  private def dropEpochStaging(epochId: Long): Unit = {
    val dir = Paths.get(s"$staging/epoch-$epochId")
    if (Files.exists(dir)) MutableParquetTable.deleteDir(dir)
  }
}

final case class GraftStreamingWriterFactory(staging: String,
                                             schema: StructType,
                                             conf: SerializableConfiguration)
    extends StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long)
      : DataWriter[InternalRow] = {
    val dir = s"$staging/epoch-$epochId"
    Files.createDirectories(Paths.get(dir))
    new GraftDataWriter(s"$dir/part-$partitionId-$taskId.parquet",
      schema, conf.value)
  }
}

final case class GraftFileCommitted(path: String) extends WriterCommitMessage

final case class GraftWriterFactory(staging: String, schema: StructType,
                                    conf: SerializableConfiguration)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : DataWriter[InternalRow] =
    new GraftDataWriter(s"$staging/part-$partitionId-$taskId.parquet",
      schema, conf.value)
}

/** One staged parquet file per task, written row-at-a-time through
  * Spark's ParquetWriteSupport. The writer is created lazily so empty
  * partitions stage nothing. */
final class GraftDataWriter(path: String, schema: StructType,
                            conf: Configuration)
    extends DataWriter[InternalRow] {

  private var writer: ParquetWriter[InternalRow] = _

  /** The written file's footer — valid after a [[commit]] that staged a
    * file, without reading the file back. */
  def footer: ParquetMetadata = writer.getFooter

  private def open(): ParquetWriter[InternalRow] = {
    val c = new Configuration(conf)
    ParquetWriteSupport.setSchema(schema, c)
    class B(p: Path) extends ParquetWriter.Builder[InternalRow, B](p) {
      override def self(): B = this
      override def getWriteSupport(cc: Configuration)
          : WriteSupport[InternalRow] = new ParquetWriteSupport
    }
    new B(new Path(path))
      .withConf(c)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .build()
  }

  override def write(record: InternalRow): Unit = {
    if (writer == null) writer = open()
    writer.write(record)
  }

  override def commit(): WriterCommitMessage =
    if (writer == null) GraftNothingStaged
    else {
      writer.close()
      GraftFileCommitted(path)
    }

  override def abort(): Unit = {
    if (writer != null) writer.close()
    Files.deleteIfExists(Paths.get(path))
  }

  override def close(): Unit = ()
}

case object GraftNothingStaged extends WriterCommitMessage

object GraftDataWriter {

  /** The session's Hadoop configuration with the settings
    * ParquetWriteSupport reads on the task side, resolved here from the
    * session's SQLConf (which knows the defaults) — Configuration.get of
    * an unset key is null and the write support does not re-default.
    * Timestamps are written as micros (stat-carrying) with no rebase,
    * matching every other engine write path. */
  def hadoopConf(spark: SparkSession): Configuration = {
    import org.apache.spark.sql.internal.SQLConf
    val hc = spark.sessionState.newHadoopConf()
    val sc = spark.sessionState.conf
    Seq(SQLConf.PARQUET_WRITE_LEGACY_FORMAT,
        SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED,
        SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE)
      .foreach(e => hc.set(e.key, sc.getConf(e).toString))
    hc.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key, "TIMESTAMP_MICROS")
    hc.set(SQLConf.PARQUET_REBASE_MODE_IN_WRITE.key, "CORRECTED")
    hc.set(SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE.key, "CORRECTED")
    hc
  }
}
