package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.{Partitioner, SparkEnv, TaskContext}
import org.apache.spark.paths.SparkPath
import org.apache.spark.rdd.{RDD, ShuffledRDD}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeSet, BoundReference, Expression, GenericInternalRow, GetStructField, InterpretedOrdering, JoinedRow, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode, UnsafeExternalRowSorter}
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.metric.SQLMetrics
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, MapType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration
import org.apache.spark.util.collection.unsafe.sort.PrefixComparators

/** The key-clustered copy-on-write rewrite: ONE sorted pass per dirty
  * file — the reference's rewrite loop (a sorted stream of upserts and
  * deletes merged into a key-sorted file, ParquetRewriter.java:253-322),
  * one rewriter per file (README.md:45-48), run as one Spark job.
  *
  * Only the batch moves. Its rows, plus the snapshot's tombstoned keys
  * as deletes, are routed to their owner file (the last file whose
  * min <= key), shuffled to that file's task and sorted by (owner, key
  * tuple). Dirty files are packed into at most `defaultParallelism`
  * contiguous groups balanced by bytes, one task per group. Each task
  * streams its files in key order through Spark's ParquetFileFormat
  * reader, two-pointer merges the batch rows each file owns, and writes
  * exactly one output per input through [[GraftDataWriter]]: no output
  * committer, no table shuffle, no table sort. An output is written
  * under a hidden temporary name and renamed to a name fixed by (merge,
  * input), so a retried or speculative attempt replaces it instead of
  * adding a second copy. Every task reports its outputs' zone map from
  * the writer's own footer, so the commit sweeps no footers for them.
  *
  * Semantics equal tombstone subtraction + [[graft.operators.MergeOps]]
  * `applyMutationsMulti`: every batch or tombstoned key removes the base
  * rows with that key tuple (SQL equality, so a key with a null member
  * matches nothing), and the batch's `upsert` rows are written. A file
  * found out of key order (a bare directory written unsorted) is sorted
  * inside its task and merged again. */
private[sources] object CowRewrite {

  /** A dirty input, in table key order, and the name its output takes. */
  final case class Source(path: String, bytes: Long, outName: String)

  /** One output file with the zone-map entry and size its task reported
    * (`range` None: the key column has no stats — every key null). */
  final case class Written(file: String, range: Option[ParquetStats.FileKeyRange],
                           bytes: Long)

  /** Everything a rewrite task needs. `schema` is the physical write
    * schema; `owners` maps each table file (key order) to its source
    * ordinal, -1 for clean files; `mins` are the files' encoded minimum
    * keys, for routing; `groupOf` is the task of each source. */
  final case class Spec(outDir: String, keys: Seq[String], schema: StructType,
                        sources: IndexedSeq[Source], groupOf: Array[Int],
                        owners: Array[Int], mins: Array[Array[Byte]]) {
    def groups: Int = groupOf.lastOption.fold(0)(_ + 1)
  }

  // kinds of batch row
  private val Delete = 0
  private val Upsert = 1
  private val Tombstone = 2

  /** What each task returns per output row group: the footer-sweep row
    * ([[ParquetStats.keyStatsSchema]]) plus the output file's bytes. */
  private val OutSchema: StructType =
    ParquetStats.keyStatsSchema.add(StructField("bytes", LongType, nullable = false))

  /** Rewrite the `dirty` files (by name) of a key-clustered table whose
    * key-ordered zone map is `ranges`, writing outputs into `outDir`.
    * `batch` carries the logical columns of `logical` plus `opCol`;
    * `tombstones` the snapshot's sidecar (columns `__k0..__kn`);
    * `recordedBytes` the manifest's per-file sizes by name. */
  def run(spark: SparkSession, outDir: String, keys: Seq[String],
          ranges: Seq[ParquetStats.FileKeyRange], dirty: Set[String],
          recordedBytes: Map[String, Long], batch: DataFrame, opCol: String,
          logical: StructType, renames: Map[String, String],
          tombstones: Option[DataFrame]): Seq[Written] =
    plan(spark, outDir, keys, ranges, dirty, recordedBytes, batch, opCol,
        logical, renames, tombstones)
      .collect().toSeq.groupBy(_.getString(0)).toSeq.map { case (f, groups) =>
        Written(f, ParquetStats.fromGroupRows(f, groups),
          groups.head.getLong(OutSchema.size - 1))
      }

  /** The rewrite as a DataFrame of [[OutSchema]] rows; collecting it
    * runs the one job. */
  private[sources] def plan(spark: SparkSession, outDir: String,
      keys: Seq[String], ranges: Seq[ParquetStats.FileKeyRange],
      dirty: Set[String], recordedBytes: Map[String, Long], batch: DataFrame,
      opCol: String, logical: StructType, renames: Map[String, String],
      tombstones: Option[DataFrame]): DataFrame = {
    val id = java.util.UUID.randomUUID().toString
    val hc = spark.sparkContext.hadoopConfiguration
    val sources = ranges.map(_.file).filter(f => dirty(nameOf(f)))
      .zipWithIndex.map { case (f, i) =>
        Source(f, recordedBytes.getOrElse(nameOf(f), {
            val p = new Path(f)
            p.getFileSystem(hc).getFileStatus(p).getLen
          }),
          f"part-$i%05d-$id-c000.snappy.parquet")
      }.toIndexedSeq
    val ordinal = sources.map(_.path).zipWithIndex.toMap
    val spec = Spec(outDir, keys,
      nullable(MutableParquetTable.physicalSchemaOf(logical, renames))
        .asInstanceOf[StructType],
      sources, pack(sources.map(_.bytes), spark.sparkContext.defaultParallelism),
      ranges.map(r => ordinal.getOrElse(r.file, -1)).toArray,
      ranges.map(_.minBytes).toArray)
    // [kind, physical columns...]: batch rows, then tombstoned keys
    def rows(df: DataFrame, kind: Column)(value: StructField => Column) =
      df.select(kind.as("__kind") +: logical.fields.toSeq.map(f =>
        value(f).as(renames.getOrElse(f.name, f.name))): _*)
    val mutations = rows(batch,
      when(col(opCol) === "upsert", Upsert).otherwise(Delete))(f =>
      col(s"`${f.name.replace("`", "``")}`"))
    val child = tombstones.fold(mutations)(ts =>
      mutations.unionByName(rows(ts, lit(Tombstone))(f =>
        keys.indexWhere(_.equalsIgnoreCase(f.name)) match {
          case -1 => lit(null).cast(f.dataType)
          case i  => col(s"__k$i").cast(f.dataType)
        })))
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val strategies = classic.experimental.extraStrategies
    if (!strategies.contains(Strategy))
      classic.experimental.extraStrategies = strategies :+ Strategy
    org.apache.spark.sql.classic.GraftShims.ofRows(classic,
      Node(spec, DataTypeUtils.toAttributes(OutSchema),
        child.queryExecution.analyzed))
  }

  /** Task index of each input: contiguous groups, at most `slots` of
    * them, minimizing the largest group's bytes (binary search on the
    * group capacity, greedy cut). */
  def pack(bytes: IndexedSeq[Long], slots: Int): Array[Int] = {
    val w = bytes.map(b => math.max(1L, b))
    def cut(cap: Long): Array[Int] = {
      val g = new Array[Int](w.size)
      var id = 0
      var acc = 0L
      for (i <- w.indices) {
        if (acc > 0 && acc + w(i) > cap) { id += 1; acc = 0L }
        acc += w(i)
        g(i) = id
      }
      g
    }
    var lo = if (w.isEmpty) 1L else w.max
    var hi = math.max(lo, w.sum)
    while (lo < hi) {
      val mid = lo + (hi - lo) / 2
      if (cut(mid).lastOption.fold(0)(_ + 1) <= math.max(1, slots)) hi = mid
      else lo = mid + 1
    }
    cut(lo)
  }

  /** Ordinal of the file owning encoded key `kb` among key-ordered
    * `mins`: the last file whose min <= key, else the first (the
    * reference's "insert into the current block" rule,
    * ParquetRewriter.java:263-283). A null key sorts first. */
  def ownerOf(kb: Array[Byte], mins: Array[Array[Byte]]): Int = {
    var lo = 0
    var hi = mins.length - 1
    var ans = 0
    if (kb != null) while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      if (KeyBytes.compare(mins(mid), kb) <= 0) { ans = mid; lo = mid + 1 }
      else hi = mid - 1
    }
    ans
  }

  /** A key value as Catalyst holds it, in [[KeyBytes]] encoding: epoch
    * days/micros and integrals as longs, strings as UTF-8, binary raw. */
  private def keyBytes(v: Any): Array[Byte] = v match {
    case null          => null
    case s: UTF8String => s.getBytes
    case b: Array[Byte] => b
    case n: java.lang.Number => KeyBytes.fromLong(n.longValue)
  }

  /** Key `key` (a top-level name, or a dotted path into structs) read
    * from rows whose `schema` fields start at ordinal `offset`. Exact
    * name match first, as [[MutableParquetTable.fieldTypeAt]] does. */
  private def keyExpr(schema: StructType, key: String, offset: Int): Expression = {
    def at(st: StructType, n: String): Int = {
      val i = st.fieldNames.indexOf(n)
      if (i >= 0) i else st.fieldNames.indexWhere(_.equalsIgnoreCase(n))
    }
    val top = at(schema, key)
    if (top >= 0) BoundReference(offset + top, schema(top).dataType, nullable = true)
    else {
      val segs = key.split('.')
      val i = at(schema, segs.head)
      segs.tail.foldLeft[Expression](
          BoundReference(offset + i, schema(i).dataType, nullable = true)) {
        (e, seg) =>
          GetStructField(e, at(e.dataType.asInstanceOf[StructType], seg), Some(seg))
      }
    }
  }

  /** `dt` with every level nullable — the shape Spark's own parquet
    * writes produce, so outputs match the files they replace. */
  private def nullable(dt: DataType): DataType = dt match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType =>
      MapType(nullable(m.keyType), nullable(m.valueType), valueContainsNull = true)
    case other => other
  }

  private def ascending(es: Seq[Expression]): InterpretedOrdering =
    new InterpretedOrdering(es.map(SortOrder(_, Ascending)))

  private def nameOf(p: String): String = new Path(p).getName

  /** The rewrite over its batch rows (`child`: [kind, physical columns]). */
  final case class Node(spec: Spec, output: Seq[Attribute], child: LogicalPlan)
      extends UnaryNode {
    // the whole batch row is consumed — nothing below may be pruned
    override lazy val references: AttributeSet = child.outputSet
    override protected def withNewChildInternal(c: LogicalPlan): Node =
      copy(child = c)
    override def nodeName: String = "CowRewrite"
    override def argString(maxFields: Int): String = describe(spec)
  }

  private def describe(s: Spec): String =
    s"${s.sources.size} files in ${s.groups} tasks"

  object Strategy extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case Node(spec, output, child) => Exec(spec, output, planLater(child)) :: Nil
      case _ => Nil
    }
  }

  final case class Exec(spec: Spec, output: Seq[Attribute], child: SparkPlan)
      extends UnaryExecNode {

    override lazy val metrics = Map(
      "numFiles" -> SQLMetrics.createMetric(sparkContext, "number of files rewritten"),
      "filesSize" -> SQLMetrics.createSizeMetric(sparkContext, "size of files rewritten"),
      "rowsWritten" -> SQLMetrics.createMetric(sparkContext, "number of rows written"),
      "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

    override protected def withNewChildInternal(c: SparkPlan): Exec =
      copy(child = c)

    override def nodeName: String = "CowRewrite"
    override def argString(maxFields: Int): String = describe(spec)

    override protected def doExecute(): RDD[InternalRow] = {
      val s = spec
      val hc = GraftDataWriter.hadoopConf(session)
      val read = new ParquetFileFormat().buildReaderWithPartitionValues(
        session, s.schema, new StructType(), s.schema, Nil,
        Map(FileFormat.OPTION_RETURNING_BATCH -> "false"), hc)
      val conf = sparkContext.broadcast(new SerializableConfiguration(hc))
      val mins = sparkContext.broadcast(s.mins)
      val (files, size, written, outRows) = (longMetric("numFiles"),
        longMetric("filesSize"), longMetric("rowsWritten"),
        longMetric("numOutputRows"))

      // map side: (owner, kind, key tuple) -> physical row
      val keyed = child.execute().mapPartitions { it =>
        val lead = keyExpr(s.schema, s.keys.head, 1)
        val owner = new GenericInternalRow(1)
        val joined = new JoinedRow
        val toKey = UnsafeProjection.create(
          BoundReference(0, IntegerType, nullable = false) +:
            BoundReference(1, IntegerType, nullable = false) +:
            s.keys.map(keyExpr(s.schema, _, 2)))
        val toRow = UnsafeProjection.create(s.schema.fields.toSeq.zipWithIndex
          .map { case (f, i) => BoundReference(1 + i, f.dataType, nullable = true) })
        it.flatMap { r =>
          val d = s.owners(ownerOf(keyBytes(lead.eval(r)), mins.value))
          if (d >= 0) {
            owner.update(0, d)
            Iterator.single((toKey(joined(owner, r)).copy(): InternalRow,
              toRow(r).copy(): InternalRow))
          } else if (r.getInt(0) == Tombstone) Iterator.empty // stays in the sidecar
          else throw new IllegalStateException("a batch key routes to a " +
            "file the merge did not mark dirty — the batch changed between " +
            "routing and rewrite (is it deterministic?)")
        }
      }
      val keyTypes = s.keys.map(keyExpr(s.schema, _, 0).dataType)
      val sorted = new ShuffledRDD[InternalRow, InternalRow, InternalRow](
          keyed, new ByGroup(s.groupOf, s.groups))
        .setKeyOrdering(ascending(
          BoundReference(0, IntegerType, nullable = false) +:
            keyTypes.zipWithIndex.map { case (t, i) =>
              BoundReference(2 + i, t, nullable = true) }))

      sorted.mapPartitionsWithIndex { (g, it) =>
        val rows = it.buffered
        val merger = new Merger(s)
        val toOut = CatalystTypeConverters.createToCatalystConverter(OutSchema)
        val unsafe = UnsafeProjection.create(OutSchema)
        s.groupOf.indices.filter(s.groupOf(_) == g).iterator.flatMap { d =>
          val src = s.sources(d)
          val owned = new Iterator[(InternalRow, InternalRow)] {
            def hasNext: Boolean = rows.hasNext && rows.head._1.getInt(0) == d
            def next(): (InternalRow, InternalRow) = rows.next()
          }
          def base(): Iterator[InternalRow] = read(PartitionedFile(
            InternalRow.empty, SparkPath.fromPathString(src.path), 0L,
            src.bytes, Array.empty[String], 0L, src.bytes))
          val tmp = s"${s.outDir}/.${src.outName}.${TaskContext.get.taskAttemptId()}.tmp"
          val (out, n) = merger.rewrite(base, owned, tmp, conf.value.value)
          files.add(1)
          size.add(src.bytes)
          written.add(n)
          out.toSeq.flatMap { footer =>
            val dst = new Path(s.outDir, src.outName)
            val fs = dst.getFileSystem(conf.value.value)
            if (!fs.rename(new Path(tmp), dst) &&
                !(fs.delete(dst, false) && fs.rename(new Path(tmp), dst)))
              throw new java.io.IOException(s"cannot rename $tmp to $dst")
            val bytes = fs.getFileStatus(dst).getLen
            ParquetStats.footerRows(dst.toString, s.keys.head, footer).map { r =>
              outRows.add(1)
              unsafe(toOut(Row.fromSeq(r.toSeq :+ bytes)).asInstanceOf[InternalRow])
                .copy(): InternalRow
            }
          }
        }
      }
    }
  }

  private final class ByGroup(groupOf: Array[Int], val numPartitions: Int)
      extends Partitioner {
    override def getPartition(key: Any): Int =
      groupOf(key.asInstanceOf[InternalRow].getInt(0))
  }

  private object OutOfOrder extends RuntimeException(null, null, false, false)

  /** One task's merge kernel; projections and orderings are built once
    * per task. */
  private final class Merger(s: Spec) {
    private val keys = s.keys.map(keyExpr(s.schema, _, 0))
    private val order = ascending(keys.indices.map(i =>
      BoundReference(i, keys(i).dataType, nullable = true)))
    private val (baseKeyA, baseKeyB, batchKey) =
      (UnsafeProjection.create(keys), UnsafeProjection.create(keys),
        UnsafeProjection.create(keys))

    /** Merge one file into `tmp`: returns the written file's footer (None
      * when no row survives, and nothing is written) and the row count. */
    def rewrite(base: () => Iterator[InternalRow],
                owned: Iterator[(InternalRow, InternalRow)], tmp: String,
                conf: org.apache.hadoop.conf.Configuration)
        : (Option[org.apache.parquet.hadoop.metadata.ParquetMetadata], Long) = {
      // batch rows taken while base rows remain are kept: an out-of-order
      // base file is merged again, sorted, from the start
      val taken = scala.collection.mutable.ArrayBuffer.empty[(InternalRow, InternalRow)]
      var keep = true
      val batch = owned.map { kv => if (keep) taken += kv; kv }.buffered
      def attempt(rows: Iterator[InternalRow],
                  batch: BufferedIterator[(InternalRow, InternalRow)]) = {
        val w = new GraftDataWriter(tmp, s.schema, conf)
        var n = 0L
        try merge(rows, batch, { r => w.write(r); n += 1 }, () => keep = false)
        catch { case e: Throwable => w.abort(); throw e }
        (w.commit() match {
          case GraftFileCommitted(_) => Some(w.footer)
          case _ => None
        }, n)
      }
      try attempt(base(), batch)
      catch {
        case OutOfOrder =>
          keep = false
          // `taken` holds every row `batch` fetched, its buffered head too
          attempt(sort(base()), (taken.iterator ++ owned).buffered)
      }
    }

    /** The two-pointer merge of a key-ordered file with the key-ordered
      * batch rows it owns. Throws [[OutOfOrder]] on a base row whose key
      * is below its predecessor's. */
    private def merge(base: Iterator[InternalRow],
                      batch: BufferedIterator[(InternalRow, InternalRow)],
                      out: InternalRow => Unit, baseDone: () => Unit): Unit = {
      var row: InternalRow = null
      var key: UnsafeRow = null
      var flip = false
      def advance(): Unit =
        if (base.hasNext) {
          row = base.next()
          // two key buffers: the previous key stays readable for the check
          val k = (if (flip) baseKeyA else baseKeyB)(row)
          flip = !flip
          if (key != null && order.compare(key, k) > 0) throw OutOfOrder
          key = k
        } else { row = null; baseDone() }
      advance()
      while (batch.hasNext) {
        val bk = batchKey(batch.head._2).copy()
        while (row != null && order.compare(key, bk) < 0) { out(row); advance() }
        if (!(0 until bk.numFields).exists(bk.isNullAt))
          while (row != null && order.compare(key, bk) == 0) advance()
        while (batch.hasNext && order.compare(batchKey(batch.head._2), bk) == 0) {
          val (k, v) = batch.next()
          if (k.getInt(1) == Upsert) out(v)
        }
      }
      while (row != null) { out(row); advance() }
    }

    /** `rows` in key order, through Spark's spilling external sorter. */
    private def sort(rows: Iterator[InternalRow]): Iterator[InternalRow] = {
      val prefix = new UnsafeExternalRowSorter.PrefixComputer {
        private val none = new UnsafeExternalRowSorter.PrefixComputer.Prefix
        override def computePrefix(r: InternalRow)
            : UnsafeExternalRowSorter.PrefixComputer.Prefix = none
      }
      val toUnsafe = UnsafeProjection.create(s.schema)
      UnsafeExternalRowSorter.create(s.schema, ascending(keys),
          PrefixComparators.LONG, prefix,
          SparkEnv.get.memoryManager.pageSizeBytes, false)
        .sort(rows.map(r => toUnsafe(r)))
    }
  }
}
