package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetFileWriter, ParquetWriter}
import org.apache.parquet.hadoop.metadata.{BlockMetaData, ParquetMetadata}
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.spark.{Partitioner, SparkEnv, TaskContext}
import org.apache.spark.paths.SparkPath
import org.apache.spark.rdd.{RDD, ShuffledRDD}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending, Attribute, AttributeSet, BindReferences, BoundReference, Expression, GenericInternalRow, GetStructField, InterpretedOrdering, JoinedRow, Literal, Predicate, SortOrder, SubqueryExpression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Project, UnaryNode}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode, UnsafeExternalRowSorter}
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, SparkToParquetSchemaConverter}
import org.apache.spark.sql.execution.metric.SQLMetrics
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration
import org.apache.spark.util.collection.unsafe.sort.PrefixComparators

/** The copy-on-write rewrite: ONE sorted pass per dirty file — the
  * reference's rewrite loop (a sorted stream of upserts and deletes
  * merged into a key-sorted file, ParquetRewriter.java:253-322), one
  * rewriter per key-sorted shard (README.md:45-48), run as one Spark job.
  * It is the only code that rewrites a data file for a merge on a
  * key-disjoint layout — key-clustered, hash-bucketed or empty — or for a
  * zone-map DELETE/UPDATE.
  *
  * A merge moves only its batch. Its rows, plus the snapshot's tombstoned
  * keys as deletes, are routed by the table's [[Zone]]: to their bucket
  * first (an unbucketed table is one bucket), then to the last file of
  * that bucket whose min <= key. A bucket with no file that receives
  * upserts takes one new-file source, whose output holds only its batch
  * rows. Rows are shuffled to their source's task and sorted by (source,
  * key tuple). Sources are packed into at most `defaultParallelism`
  * contiguous groups balanced by bytes, one task per group. Each task
  * reads a dirty file's footer once and routes the batch rows the file
  * owns to its row groups by the same rule ([[RowGroupCoW]]): clean
  * groups are copied raw, and only the dirty runs stream through Spark's
  * ParquetFileFormat reader and the two-pointer merge with their batch
  * rows, re-encoded through [[GraftDataWriter]] under the table's
  * layout. A file whose parquet schema differs from the write schema
  * (widened, dropped, evolved or required columns), a file of one row
  * group and a file whose every group is dirty are rewritten whole.
  * Tombstoned keys never dirty a group: the carried sidecar keeps hiding
  * the rows they leave in clean groups.
  *
  * A zone-map DELETE/UPDATE is the same job with no batch: its row
  * filter and projection, bound to the physical schema, run over each
  * file's rows in the task.
  *
  * Either way there is no output committer, no table shuffle and no
  * table sort, and exactly one output per source; a bucketed file's
  * output keeps its `b<id>-` name prefix, and a new-file source's output
  * takes its bucket's. An output is written under a hidden temporary
  * name and renamed to a name fixed by (rewrite, source), so a retried or
  * speculative attempt replaces it instead of adding a second copy.
  * Every task reports its outputs' zone map from the writer's own footer,
  * so the commit sweeps no footers for them.
  *
  * Merge semantics equal tombstone subtraction + [[graft.operators.MergeOps]]
  * `applyMutationsMulti`: every batch or tombstoned key removes the base
  * rows with that key tuple (SQL equality, so a key with a null member
  * matches nothing), and the batch's `upsert` rows are written. A file
  * (or run) found out of key order (a bare directory written unsorted)
  * is sorted inside its task and merged again. */
private[sources] object CowRewrite {

  /** A dirty input, in zone order, and the name its output takes;
    * `path` None: a new file for a bucket that has none. */
  final case class Source(path: Option[String], bytes: Long, outName: String)

  /** One output file with the zone-map entry and size its task reported
    * (`range` None: the key column has no stats — every key null). */
  final case class Written(file: String, range: Option[ParquetStats.FileKeyRange],
                           bytes: Long)

  /** The table's zone map as routing sees it: `files` ordered by (bucket,
    * min key), `starts(b)` the offset of bucket b's first file among them
    * (one offset per bucket, plus the end). The files of each bucket are
    * key-disjoint; an unbucketed table is one bucket. */
  final case class Zone(files: IndexedSeq[ParquetStats.FileKeyRange],
                        starts: IndexedSeq[Int], bucketed: Boolean) {
    def buckets: Int = starts.size - 1
    def bucket(b: Int): IndexedSeq[ParquetStats.FileKeyRange] =
      files.slice(starts(b), starts(b + 1))

    /** Whether some bucket holds a file whose max reaches the next
      * file's min: its keys are not owned by one file each. */
    def overlapped: Boolean = (0 until buckets).exists { b =>
      val fs = bucket(b)
      fs.indices.drop(1).exists(i => KeyBytes.compare(fs(i - 1).maxBytes, fs(i).minBytes) >= 0)
    }
  }

  object Zone {
    /** The zone map `ranges` of a table of `buckets` buckets (None:
      * unbucketed), each file's bucket read from its name. */
    def apply(ranges: Seq[ParquetStats.FileKeyRange], buckets: Option[Int]): Zone = {
      val n = buckets.getOrElse(1)
      val byBucket = ranges.sortBy(_.minBytes)(KeyBytes.ordering).groupBy { r =>
        if (n == 1) 0
        else GraftBucket.bucketOfName(nameOf(r.file)).filter(_ < n).getOrElse(
          throw new IllegalStateException(
            s"a table of $n buckets holds a file outside them: ${r.file}"))
      }
      val slices = (0 until n).map(b => byBucket.getOrElse(b, Nil).toIndexedSeq)
      Zone(slices.flatten, slices.scanLeft(0)(_ + _.size), buckets.isDefined)
    }
  }

  /** What a rewrite does to its files' rows. */
  sealed trait Change

  /** Merge `batch` (logical columns plus `opCol`), routed by the table's
    * `zone`; each bucket in `fresh` has no file and takes a new one;
    * `tombstones` is the snapshot's sidecar (columns `__k0..__kn`). */
  final case class Merge(zone: Zone, fresh: Set[Int], batch: DataFrame,
                         opCol: String, tombstones: Option[DataFrame])
      extends Change

  /** Keep the rows where `keep` holds, written as `project` — both over
    * the table's logical columns; there is no batch. */
  final case class Rewrite(keep: Column, project: Seq[Column]) extends Change

  /** A [[Rewrite]] bound to the physical write schema. */
  final case class RowOp(keep: Expression, project: Seq[Expression])

  /** Everything a rewrite task needs. `schema` is the physical write
    * schema, `layout` the table's; the routing slots are the zone's files
    * plus one per new-file bucket, in (bucket, min key) order: `mins` are
    * their encoded minimum keys (a new file's is empty), `starts` each
    * bucket's first slot (as [[Zone.starts]]) and `owners` each slot's
    * source ordinal, -1 for clean files; `groupOf` is the task of each
    * source; `rows` is set for a rewrite with no batch. */
  final case class Spec(outDir: String, keys: Seq[String], schema: StructType,
                        layout: ParquetLayout, sources: IndexedSeq[Source],
                        groupOf: Array[Int], owners: Array[Int],
                        mins: Array[Array[Byte]], starts: Array[Int],
                        rows: Option[RowOp]) {
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

  /** Rewrite `files` (the dirty files, in zone order) of a table whose
    * logical schema is `logical`, writing one output per source into
    * `outDir` under `layout`. `recordedBytes` holds the manifest's
    * per-file sizes by name. */
  def run(spark: SparkSession, outDir: String, keys: Seq[String],
          files: Seq[String], recordedBytes: Map[String, Long],
          logical: StructType, renames: Map[String, String],
          layout: ParquetLayout, change: Change): Seq[Written] =
    plan(spark, outDir, keys, files, recordedBytes, logical, renames, layout,
        change)
      .collect().toSeq.groupBy(_.getString(0)).toSeq.map { case (f, groups) =>
        Written(f, ParquetStats.fromGroupRows(f, groups),
          groups.head.getLong(OutSchema.size - 1))
      }

  /** The rewrite as a DataFrame of [[OutSchema]] rows; collecting it
    * runs the one job. */
  private[sources] def plan(spark: SparkSession, outDir: String,
      keys: Seq[String], files: Seq[String], recordedBytes: Map[String, Long],
      logical: StructType, renames: Map[String, String], layout: ParquetLayout,
      change: Change): DataFrame = {
    val id = java.util.UUID.randomUUID().toString
    val hc = spark.sparkContext.hadoopConfiguration
    val ext = layout.codec.getExtension
    // routing slots (min key, file, bucket): a merge's zone plus its new
    // files; a rewrite with no batch routes nothing
    val (slots, starts, bucketed) = change match {
      case Merge(zone, fresh, _, _, _) =>
        val perBucket = (0 until zone.buckets).map { b =>
          val fs = zone.bucket(b)
          if (fs.nonEmpty) fs.map(r => (r.minBytes, Option(r.file), b))
          else if (fresh(b)) Seq((Array.emptyByteArray, None, b))
          else Nil
        }
        (perBucket.flatten, perBucket.scanLeft(0)(_ + _.size), zone.bucketed)
      case _: Rewrite =>
        (files.map(f => (Array.emptyByteArray, Option(f), 0)), Seq(0, 0), false)
    }
    // a slot is a source when it is a new file or a dirty one
    val dirty = files.toSet
    val sourceSlots = slots.indices.filter(i => slots(i)._2.forall(dirty))
    val owners = Array.fill(slots.size)(-1)
    sourceSlots.zipWithIndex.foreach { case (slot, i) => owners(slot) = i }
    val sources = sourceSlots.map(slots).zipWithIndex.map {
      case ((_, f, b), i) =>
        val prefix = f.fold(if (bucketed) GraftBucket.namePrefix(b) else "")(
          MutableParquetTable.bucketPrefixOf)
        Source(f, f.fold(0L)(p => recordedBytes.getOrElse(nameOf(p), {
            val path = new Path(p)
            path.getFileSystem(hc).getFileStatus(path).getLen
          })),
          f"${prefix}part-$i%05d-$id-c000$ext.parquet")
    }.toIndexedSeq
    val physical = MutableParquetTable.allNullable(
        MutableParquetTable.physicalSchemaOf(logical, renames))
      .asInstanceOf[StructType]
    // [kind, physical columns...]: batch rows, then tombstoned keys
    val kindField = StructField("__kind", IntegerType, nullable = false)
    val (child, rowOp) = change match {
      case Merge(_, _, batch, opCol, tombstones) =>
        def rows(df: DataFrame, kind: Column)(value: StructField => Column) =
          df.select(kind.as(kindField.name) +: logical.fields.toSeq.map(f =>
            value(f).as(renames.getOrElse(f.name, f.name))): _*)
        val mutations = rows(batch,
          when(col(opCol) === "upsert", Upsert).otherwise(Delete))(f =>
          col(s"`${f.name.replace("`", "``")}`"))
        val all = tombstones.fold(mutations)(ts =>
          mutations.unionByName(rows(ts, lit(Tombstone))(f =>
            keys.indexWhere(_.equalsIgnoreCase(f.name)) match {
              case -1 => lit(null).cast(f.dataType)
              case i  => col(s"__k$i").cast(f.dataType)
            })))
        (all.queryExecution.analyzed, None)
      case Rewrite(keep, project) =>
        (LocalRelation(DataTypeUtils.toAttributes(
            StructType(kindField +: physical.fields))),
          Some(bind(spark, logical, keep, project)))
    }
    val spec = Spec(outDir, keys, physical, layout, sources,
      pack(sources.map(_.bytes), spark.sparkContext.defaultParallelism),
      owners, slots.map(_._1).toArray, starts.toArray, rowOp)
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val strategies = classic.experimental.extraStrategies
    if (!strategies.contains(Strategy))
      classic.experimental.extraStrategies = strategies :+ Strategy
    org.apache.spark.sql.classic.GraftShims.ofRows(classic,
      Node(spec, DataTypeUtils.toAttributes(OutSchema), child))
  }

  /** `keep` and `project`, resolved against a table of schema `logical`
    * and bound to column positions — which the physical schema shares. */
  private def bind(spark: SparkSession, logical: StructType, keep: Column,
                   project: Seq[Column]): RowOp = {
    val probe = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], logical)
    probe.select(keep.as("__keep") +: project: _*).queryExecution.optimizedPlan match {
      case p @ Project(list, scan) if !p.expressions.exists(SubqueryExpression.hasSubquery) =>
        val bound = list.map(e => BindReferences.bindReference(e match {
          case a: Alias => a.child
          case other => other
        }, scan.output))
        RowOp(bound.head, bound.tail)
      case other => throw new IllegalArgumentException(
        "a zone-map rewrite needs a row-level condition and assignments " +
          s"(no subqueries): $other")
    }
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

  /** Ordinal of the unit (a file of the table, or a row group of a file)
    * owning encoded key `kb` among key-ordered `mins(from until until)`:
    * the last unit whose min <= key, else the first (the reference's
    * "insert into the current block" rule, ParquetRewriter.java:263-283).
    * A null key sorts first. */
  def ownerOf(kb: Array[Byte], mins: Array[Array[Byte]], from: Int = 0,
              until: Int = -1): Int = {
    var lo = from
    var hi = (if (until < 0) mins.length else until) - 1
    var ans = from
    if (kb != null) while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      if (KeyBytes.compare(mins(mid), kb) <= 0) { ans = mid; lo = mid + 1 }
      else hi = mid - 1
    }
    ans
  }

  /** Routes a batch row by its lead key `lead` to a routing slot among
    * key-ordered `mins`, bucket by bucket (`starts` as [[Zone.starts]]):
    * to the row's bucket first, then to the last slot of that bucket
    * whose min <= key; `-1 - bucket` when the bucket has no slot. The
    * bucket is `pmod(murmur3(key), n)` ([[GraftBucket.bucketIdExpr]]),
    * not computed for an unbucketed table. The one rule of the merge's
    * routing pass and of its rewrite task. */
  private[sources] final class Router(lead: Expression, starts: Array[Int]) {
    private val bucket = starts.length - 1 match {
      case 1 => None
      case n => Some(GraftBucket.bucketIdExpr(lead, Literal(n)))
    }
    def apply(row: InternalRow, mins: Array[Array[Byte]]): Int = {
      val b = bucket.fold(0)(_.eval(row).asInstanceOf[Int])
      if (starts(b) == starts(b + 1)) -1 - b
      else ownerOf(keyBytes(lead.eval(row)), mins, starts(b), starts(b + 1))
    }
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
      "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
      "groupsSpliced" -> SQLMetrics.createMetric(sparkContext,
        "number of row groups copied raw"),
      "groupsReencoded" -> SQLMetrics.createMetric(sparkContext,
        "number of row groups re-encoded"))

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
      val m = Seq("numFiles", "filesSize", "rowsWritten", "numOutputRows",
        "groupsSpliced", "groupsReencoded").map(n => n -> longMetric(n)).toMap

      // batch rows by (owner, kind, key tuple), grouped per task; a
      // rewrite with no batch runs its tasks over nothing
      val sorted: RDD[(InternalRow, InternalRow)] =
        if (s.rows.isDefined)
          sparkContext.parallelize(Seq.empty[(InternalRow, InternalRow)], s.groups)
        else {
          val keyed = child.execute().mapPartitions { it =>
            val route = new Router(keyExpr(s.schema, s.keys.head, 1), s.starts)
            val owner = new GenericInternalRow(1)
            val joined = new JoinedRow
            val toKey = UnsafeProjection.create(
              BoundReference(0, IntegerType, nullable = false) +:
                BoundReference(1, IntegerType, nullable = false) +:
                s.keys.map(keyExpr(s.schema, _, 2)))
            val toRow = UnsafeProjection.create(s.schema.fields.toSeq.zipWithIndex
              .map { case (f, i) => BoundReference(1 + i, f.dataType, nullable = true) })
            it.flatMap { r =>
              val slot = route(r, mins.value)
              val d = if (slot >= 0) s.owners(slot) else -1
              if (d >= 0) {
                owner.update(0, d)
                Iterator.single((toKey(joined(owner, r)).copy(): InternalRow,
                  toRow(r).copy(): InternalRow))
              } else if (r.getInt(0) == Tombstone) Iterator.empty // stays in the sidecar
              else if (slot < 0 && r.getInt(0) == Delete) Iterator.empty // no such key
              else throw new IllegalStateException("a batch key routes to a " +
                "file the merge did not mark dirty — the batch changed between " +
                "routing and rewrite (is it deterministic?)")
            }
          }
          new ShuffledRDD[InternalRow, InternalRow, InternalRow](
              keyed, new ByGroup(s.groupOf, s.groups))
            .setKeyOrdering(ascending(
              BoundReference(0, IntegerType, nullable = false) +:
                s.keys.zipWithIndex.map { case (k, i) =>
                  BoundReference(2 + i, keyExpr(s.schema, k, 0).dataType,
                    nullable = true) }))
        }

      sorted.mapPartitionsWithIndex { (g, it) =>
        val rows = it.buffered
        val hconf = conf.value.value
        val merger = new Merger(s, hconf, g)
        val toOut = CatalystTypeConverters.createToCatalystConverter(OutSchema)
        val unsafe = UnsafeProjection.create(OutSchema)
        s.groupOf.indices.filter(s.groupOf(_) == g).iterator.flatMap { d =>
          val src = s.sources(d)
          // the rows this source owns, as the sorted shuffle delivers
          // them: a new file streams them into its writer, a dirty file
          // holds them to route them to its row groups first
          val owned = new Iterator[(InternalRow, InternalRow)] {
            def hasNext: Boolean = rows.hasNext && rows.head._1.getInt(0) == d
            def next(): (InternalRow, InternalRow) = rows.next()
          }
          def base(path: String)(start: Long, length: Long): Iterator[InternalRow] =
            read(PartitionedFile(InternalRow.empty, SparkPath.fromPathString(path),
              start, length, Array.empty[String], 0L, src.bytes))
          val tmp = s"${s.outDir}/.${src.outName}.${TaskContext.get.taskAttemptId()}.tmp"
          val out = src.path.fold(merger.mergeNew(owned, tmp))(p =>
            merger.mergeFile(p, src.bytes, owned.toIndexedSeq, base(p), tmp))
          if (src.path.isDefined) m("numFiles").add(1)
          m("filesSize").add(src.bytes)
          m("rowsWritten").add(out.rows)
          m("groupsSpliced").add(out.spliced)
          m("groupsReencoded").add(out.reencoded)
          out.footer.toSeq.flatMap { footer =>
            val dst = new Path(s.outDir, src.outName)
            val fs = dst.getFileSystem(hconf)
            if (!fs.rename(new Path(tmp), dst) &&
                !(fs.delete(dst, false) && fs.rename(new Path(tmp), dst)))
              throw new java.io.IOException(s"cannot rename $tmp to $dst")
            val bytes = fs.getFileStatus(dst).getLen
            ParquetStats.footerRows(dst.toString, s.keys.head, footer).map { r =>
              m("numOutputRows").add(1)
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

  /** Batch rows as the shuffle delivers them: (owner, kind, key tuple)
    * and the physical row. */
  private type Rows = collection.IndexedSeq[(InternalRow, InternalRow)]

  /** One rewritten file: its footer (None when no row survives, and
    * nothing is written), rows written, and source row groups copied raw
    * and re-encoded. */
  private final case class Out(footer: Option[ParquetMetadata], rows: Long,
                               spliced: Int, reencoded: Int)

  /** One task's rewrite kernel; projections, orderings and the expected
    * parquet schema are built once per task (`part`). */
  private final class Merger(s: Spec, conf: Configuration, part: Int) {
    private val keys = s.keys.map(keyExpr(s.schema, _, 0))
    private val order = ascending(keys.indices.map(i =>
      BoundReference(i, keys(i).dataType, nullable = true)))
    private val (baseKeyA, baseKeyB, batchKey) =
      (UnsafeProjection.create(keys), UnsafeProjection.create(keys),
        UnsafeProjection.create(keys))
    // what GraftDataWriter writes: a file in exactly this schema can take
    // re-encoded runs between its raw-copied groups
    private val written = new SparkToParquetSchemaConverter(conf).convert(s.schema)
    private val rowOp: Iterator[InternalRow] => Iterator[InternalRow] =
      s.rows.fold(identity[Iterator[InternalRow]] _) { op =>
        val keep = Predicate.create(op.keep)
        val project = UnsafeProjection.create(op.project)
        keep.initialize(part)
        project.initialize(part)
        _.filter(keep.eval).map(project)
      }

    /** The batch rows a new file `owned` (sorted by key), streamed into
      * `tmp`: an empty base is never out of order, so they are read once. */
    def mergeNew(owned: Iterator[(InternalRow, InternalRow)], tmp: String): Out = {
      val (f, n) = rewrite(() => Iterator.empty, () => owned, tmp)
      Out(f, n, 0, 0)
    }

    /** Rewrite the file at `path` (`bytes` long) with the batch rows it
      * `owned` (sorted by key) into `tmp`; `base(start, length)` reads the
      * file's rows of a split. */
    def mergeFile(path: String, bytes: Long, owned: Rows,
                  base: (Long, Long) => Iterator[InternalRow], tmp: String): Out = {
      val in = HadoopInputFile.fromPath(new Path(path), conf)
      val reader = ParquetFileReader.open(in)
      try {
        val footer = reader.getFooter
        val blocks = footer.getBlocks.asScala.toIndexedSeq
        def whole(): Out = {
          val (f, n) = rewrite(() => rowOp(base(0L, bytes)), () => owned.iterator, tmp)
          Out(f, n, 0, blocks.size)
        }
        val bounds =
          if (s.rows.isDefined || blocks.size < 2 ||
              footer.getFileMetaData.getSchema != written) None
          else RowGroupCoW.bounds(path, s.keys.head, footer)
        bounds.fold(whole()) { b =>
          val mins = b.map(_._1).toArray
          val groupOf = owned.map(kv => ownerOf(keyBytes(kv._1.get(2, keys.head.dataType)), mins))
          val runs = RowGroupCoW.runs(b, owned.indices
            .filter(owned(_)._1.getInt(1) != Tombstone).map(groupOf).toSet)
          if (runs.forall(_._1)) whole()
          else splice(in, reader, blocks, runs, owned, groupOf, base, tmp)
        }
      } finally reader.close()
    }

    /** `runs` of the source written into `tmp` in key order: clean runs
      * copied raw, dirty runs merged with the batch rows routed to them
      * and appended. */
    private def splice(in: HadoopInputFile, reader: ParquetFileReader,
                       blocks: IndexedSeq[BlockMetaData], runs: Seq[(Boolean, Range)],
                       owned: Rows, groupOf: collection.IndexedSeq[Int],
                       base: (Long, Long) => Iterator[InternalRow],
                       tmp: String): Out = {
      val fs = new Path(tmp).getFileSystem(conf)
      val out = new ParquetFileWriter(HadoopOutputFile.fromPath(new Path(tmp), conf),
        written, ParquetFileWriter.Mode.OVERWRITE, ParquetWriter.DEFAULT_BLOCK_SIZE, 0)
      val stream = in.newStream()
      var next = 0 // first batch row not yet routed to a run
      var rows = 0L
      try {
        out.start()
        runs.zipWithIndex.foreach { case ((dirty, groups), k) =>
          val from = next
          while (next < owned.size && groupOf(next) <= groups.last) next += 1
          if (!dirty) { // its tombstoned keys stay hidden by the sidecar
            RowGroupCoW.copy(reader, stream, groups.map(blocks), out)
            rows += groups.map(blocks(_).getRowCount).sum
          } else {
            val run = s"$tmp.run$k"
            val (start, length) = RowGroupCoW.span(blocks, groups.head, groups.last)
            val (footer, n) = rewrite(() => base(start, length),
              () => owned.slice(from, next).iterator, run)
            rows += n
            footer.foreach { f =>
              val runIn = HadoopInputFile.fromPath(new Path(run), conf)
              val runReader = ParquetFileReader.open(runIn)
              val runStream = runIn.newStream()
              try RowGroupCoW.copy(runReader, runStream, f.getBlocks.asScala.toSeq, out)
              finally { runStream.close(); runReader.close() }
              fs.delete(new Path(run), false)
            }
          }
        }
        out.end(reader.getFooter.getFileMetaData.getKeyValueMetaData)
      } catch { case e: Throwable =>
        try out.close() catch { case c: Throwable => e.addSuppressed(c) }
        runs.indices.foreach(k => fs.delete(new Path(s"$tmp.run$k"), false))
        fs.delete(new Path(tmp), false)
        throw e
      } finally stream.close()
      val dirtyGroups = runs.collect { case (true, g) => g.size }.sum
      Out(Some(out.getFooter), rows, blocks.size - dirtyGroups, dirtyGroups)
    }

    /** Merge key-ordered base rows with the key-ordered batch rows they
      * `owned` into `tmp`: returns the written file's footer (None when no
      * row survives, and nothing is written) and the row count. */
    private def rewrite(base: () => Iterator[InternalRow],
                        owned: () => Iterator[(InternalRow, InternalRow)], tmp: String)
        : (Option[ParquetMetadata], Long) = {
      def attempt(rows: Iterator[InternalRow]) = {
        val w = new GraftDataWriter(tmp, s.schema, conf, s.layout)
        var n = 0L
        try merge(rows, owned().buffered, { r => w.write(r); n += 1 })
        catch { case e: Throwable => w.abort(); throw e }
        (w.commit() match {
          case GraftFileCommitted(_) => Some(w.footer)
          case _ => None
        }, n)
      }
      // an out-of-order base is merged again, sorted, from the start
      try attempt(base())
      catch { case OutOfOrder => attempt(sort(base())) }
    }

    /** The two-pointer merge of key-ordered base rows with the
      * key-ordered batch rows they own. Throws [[OutOfOrder]] on a base
      * row whose key is below its predecessor's. */
    private def merge(base: Iterator[InternalRow],
                      batch: BufferedIterator[(InternalRow, InternalRow)],
                      out: InternalRow => Unit): Unit = {
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
        } else row = null
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
