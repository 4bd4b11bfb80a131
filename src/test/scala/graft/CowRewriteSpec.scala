package graft.sources

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType}

import graft.{GraftTable, SparkSpec}
import graft.operators.MergeOps
import graft.streaming.CdcMergeSink

/** The key-clustered merge's one-sorted-pass rewrite ([[CowRewrite]])
  * against the relational oracle (`applyMutationsMulti` over the
  * tombstone-subtracted snapshot), the zone maps its tasks report
  * against a footer sweep, and a re-run task against its first run. */
class CowRewriteSpec extends SparkSpec {

  /** Order-preserving keys of every supported type from an int
    * position (binary keys cross 0x80, where signed and unsigned byte
    * orders differ). */
  private val keyOf: Seq[(String, Column => Column)] = Seq(
    "long" -> (p => p.cast("long") - 50),
    "string" -> (p => concat(lit("k"), lpad(p.cast("string"), 6, "0"))),
    "binary" -> (p => unhex(lpad(hex(p * 61), 4, "0"))),
    "date" -> (p => date_add(lit("2000-01-01").cast("date"), p.cast("int"))),
    "timestamp" -> (p => timestamp_micros(p.cast("long") * 1000003L +
      1600000000000000L)),
    "timestamp_ntz" -> (p => timestamp_micros(p.cast("long") * 1000003L +
      1600000000000000L).cast(TimestampNTZType)))

  /** Key columns (names, then how a position maps to them). */
  private final case class Shape(keys: Seq[String], cols: Column => Seq[Column])

  private def single(tpe: String): Shape =
    Shape(Seq("k"), p => Seq(keyOf.toMap.apply(tpe)(p).as("k")))

  // 4 positions per date: a date's rows never straddle a file boundary
  private val composite = Shape(Seq("d", "id"), p => Seq(
    date_add(lit("2000-01-01").cast("date"), floor(p / 4).cast("int")).as("d"),
    pmod(p, lit(4)).cast("long").as("id")))

  private val nested = Shape(Seq("person.uuid"), p => Seq(
    struct(keyOf.toMap.apply("string")(p).as("uuid"), p.as("age")).as("person")))

  private val n = 240    // base rows at positions 8, 10, ..., 8 + 2(n-1)
  private val files = 6  // 80 positions per file: boundaries at multiples of 8

  /** A table at `root` whose base files are written one per position
    * chunk, each key-sorted — disjoint key ranges by construction. */
  private def seed(root: String, shape: Shape): GraftTable = {
    val base = s"$root/base"
    val rows = rowsOf(shape, spark.range(0, n).select(
      (col("id") * 2 + 8).cast("int").as("pos")), 0, Nil)
    // micros timestamps, as every engine write: INT96 carries no stats
    ParquetTable.withMicrosTimestamps(spark) {
      (0 until files).foreach { j =>
        rows.where(col("pos") >= 8 + 80 * j && col("pos") < 8 + 80 * (j + 1))
          .coalesce(1).sortWithinPartitions(shape.keys.map(col): _*)
          .write.mode("append").parquet(base)
      }
    }
    MutableParquetTable(spark, base, shape.keys.head, moreKeys = shape.keys.tail)
      .commitManifest(base)
    GraftTable(spark, root, shape.keys.head)
  }

  /** Table rows for positions `pos`, shaped like the table's current
    * `columns`: the value column may be renamed (`w`), widened (long) or
    * joined by an evolved `extra` column. */
  private def rowsOf(shape: Shape, pos: DataFrame, step: Int,
                     columns: Seq[(String, String)]): DataFrame = {
    val p = col("pos")
    val value = columns.collectFirst { case (c, t) if c == "v" || c == "w" => (c, t) }
      .getOrElse("v" -> "int")
    val wide = if (value._2 == "bigint") lit(3000000000L) else lit(0)
    pos.select(shape.cols(p) ++ Seq(p.cast("int").as("pos"),
      (p * 10 + step + wide).cast(value._2).as(value._1)) ++
      (if (columns.exists(_._1 == "extra")) Seq(concat(lit("x"), p).as("extra"))
       else Nil) ++
      (if (pos.columns.contains("op")) Seq(col("op")) else Nil): _*)
  }

  private def latest(root: String): String = CdcMergeSink.latestSnapshot(root)

  private def dataFiles(dir: String): Seq[String] =
    Manifest.get(dir).fileNames.map(MutableParquetTable.resolvePath(dir, _))

  /** A random batch: updates, deletes, inserts between keys, below the
    * first and above the last key, and — when `wipe` — a delete of every
    * row of one file. */
  private def batchOf(t: GraftTable, shape: Shape, rnd: scala.util.Random,
                      step: Int, wipe: Boolean,
                      extra: Boolean = false): DataFrame = {
    val s = spark; import s.implicits._
    val hi = 8 + 2 * n
    def live() = 8 + 2 * rnd.nextInt(n)
    val wiped =
      if (!wipe) Nil
      else {
        val f = dataFiles(latest(t.root))
        spark.read.parquet(f(rnd.nextInt(f.size))).select("pos").as[Int]
          .collect().toSeq.map(_ -> "delete")
      }
    val ops = Seq.fill(6)(live() -> "upsert") ++ Seq.fill(3)(live() -> "delete") ++
      Seq.fill(3)((live() + 1) -> "upsert") ++
      Seq(step -> "upsert", (hi + 2 * step + 1) -> "upsert") ++ wiped
    val table = t.read().schema.fields.map(f => f.name -> f.dataType.simpleString)
    val cols = if (extra) table :+ ("extra" -> "string") else table
    rowsOf(shape, ops.toMap.toSeq.toDF("pos", "op"), step, cols.toSeq)
  }

  /** Commit `batch` and check the new snapshot against the oracle, its
    * disjoint zone map, and the footers of the files this commit wrote. */
  private def commitAndCheck(t: GraftTable, shape: Shape, batch: DataFrame,
                             label: String): Unit = {
    val before = t.read()
    val state = batch.columns.filterNot(c => c == "op" || before.columns.contains(c))
      .foldLeft(before)((df, c) => df.withColumn(c, lit(null).cast(batch.schema(c).dataType)))
      .localCheckpoint()
    val prevFiles = Manifest.get(latest(t.root)).fileNames.map(_.split('/').last).toSet
    t.commit(batch)
    val expect = MergeOps.applyMutationsMulti(state, batch, shape.keys)
    val got = t.read()
    assert(got.count() === expect.count(), label)
    assert(got.exceptAll(expect).isEmpty && expect.exceptAll(got).isEmpty, label)
    val dir = latest(t.root)
    val m = Manifest.get(dir)
    val ranges = m.ranges(dir).get.sortBy(_.minBytes)(KeyBytes.ordering)
    assert(ranges.size === m.files.size, s"$label: stat-less entries")
    ranges.sliding(2).foreach {
      case Seq(a, b) => assert(KeyBytes.compare(a.maxBytes, b.minBytes) < 0,
        s"$label: overlapping files $a / $b")
      case _ =>
    }
    assertReportedZoneMap(dir, shape.keys.head,
      m.fileNames.filterNot(prevFiles), label)
  }

  /** The manifest entries of `names` equal a footer sweep + stat of the
    * same files: min, max, rows, nullKeys and bytes. */
  private def assertReportedZoneMap(dir: String, key: String,
                                    names: Seq[String], label: String): Unit = {
    val recorded = Manifest.get(dir).files.filter(e => names.contains(e.file))
    val swept = ParquetStats.fileKeyRangesTypedFor(spark,
        names.map(n => s"$dir/$n"), key)
      .map(r => Manifest.entry(r.file.split('/').last, r,
        Some(Files.size(Paths.get(r.file)))))
    assert(recorded.nonEmpty, s"$label: nothing rewritten")
    assert(recorded.sortBy(_.file) === swept.sortBy(_.file), label)
  }

  test("property: one sorted pass per dirty file matches applyMutations for every key type") {
    keyOf.map(_._1).zipWithIndex.foreach { case (tpe, seedN) =>
      val rnd = new scala.util.Random(seedN)
      val shape = single(tpe)
      val t = seed(Files.createTempDirectory(s"graft-cowrw-$tpe").toString, shape)
      (0 until 3).foreach { step =>
        commitAndCheck(t, shape, batchOf(t, shape, rnd, step, wipe = step == 1),
          s"$tpe step $step")
      }
    }
  }

  test("property: composite (date, id) and nested person.uuid keys") {
    Seq("composite" -> composite, "nested" -> nested).zipWithIndex.foreach {
      case ((label, shape), seedN) =>
        val rnd = new scala.util.Random(100 + seedN)
        val t = seed(Files.createTempDirectory(s"graft-cowrw-$label").toString, shape)
        (0 until 3).foreach { step =>
          commitAndCheck(t, shape, batchOf(t, shape, rnd, step, wipe = step == 2),
            s"$label step $step")
        }
    }
  }

  test("property: tombstoned, renamed, widened and evolved tables") {
    val shape = single("long")
    val rnd = new scala.util.Random(7)

    // tombstoned keys of dirty files act as deletes and leave the files
    val ts = seed(Files.createTempDirectory("graft-cowrw-ts").toString, shape)
    val s = spark; import s.implicits._
    val dead = (8 until 8 + 2 * n by 14).toDF("pos")
      .select(keyOf.toMap.apply("long")(col("pos")).as("k"))
    ts.deleteKeys(dead)
    (0 until 2).foreach { step =>
      val before = dataFiles(latest(ts.root)).toSet
      val batch = batchOf(ts, shape, rnd, step, wipe = step == 1)
      commitAndCheck(ts, shape, batch, s"tombstoned step $step")
      val resurrected = batch.where(col("op") === "upsert").select("k")
      val written = dataFiles(latest(ts.root)).filterNot(f =>
        before.exists(_.endsWith("/" + f.split('/').last)))
      assert(spark.read.parquet(written: _*).select("k")
        .intersect(dead).except(resurrected).isEmpty,
        s"tombstoned rows survived a rewrite at step $step")
    }

    // a renamed column is written under its physical name
    val rn = seed(Files.createTempDirectory("graft-cowrw-rn").toString, shape)
    rn.renameColumn("v", "w")
    commitAndCheck(rn, shape, batchOf(rn, shape, rnd, 0, wipe = false), "renamed")
    val out = dataFiles(latest(rn.root))
    assert(out.forall(f => spark.read.parquet(f).columns.contains("v")),
      "rewritten files must keep the physical name")

    // a widened column: old files hold int32, the batch writes longs
    val wd = seed(Files.createTempDirectory("graft-cowrw-wd").toString, shape)
    wd.alterColumnType("v", LongType)
    (0 until 2).foreach(step => commitAndCheck(wd, shape,
      batchOf(wd, shape, rnd, step, wipe = false), s"widened step $step"))

    // an evolved schema: old files read the new column as null
    val ev = seed(Files.createTempDirectory("graft-cowrw-ev").toString, shape)
    commitAndCheck(ev, shape, batchOf(ev, shape, rnd, 0, wipe = false,
      extra = true), "evolved step 0")
    commitAndCheck(ev, shape, batchOf(ev, shape, rnd, 1, wipe = true),
      "evolved step 1")
  }

  test("a bare file out of key order is sorted in its task, then merged") {
    val s = spark; import s.implicits._
    val dir = Files.createTempDirectory("graft-cowrw-unsorted").toString
    // disjoint file ranges, each file written in DESCENDING key order
    (0 until 3).foreach { j =>
      spark.range(j * 100L, (j + 1) * 100L).select(col("id").as("k"),
          (col("id") * 3).as("v"))
        .coalesce(1).orderBy(col("k").desc).write.mode("append").parquet(dir)
    }
    val base = spark.read.parquet(dir).localCheckpoint()
    val batch = Seq((5L, -5L, "upsert"), (150L, 0L, "delete"),
      (151L, -151L, "upsert"), (1000L, -1L, "upsert")).toDF("k", "v", "op")
    val res = MutableParquetTable(spark, dir, "k").merge(batch)
    assert(res.rewrittenFiles.size === 3)
    val got = MutableParquetTable.readCommitted(spark, res.snapshotDir)
    val expect = MergeOps.applyMutations(base, batch, "k")
    assert(got.count() === expect.count())
    assert(got.exceptAll(expect).isEmpty && expect.exceptAll(got).isEmpty)
    // every output is written in key order
    Manifest.get(res.snapshotDir).fileNames.foreach { f =>
      val ks = spark.read.parquet(s"${res.snapshotDir}/$f").as[(Long, Long)]
        .collect().map(_._1).toSeq
      assert(ks === ks.sorted, f)
    }
  }

  test("a bare dir with stat-less files applies every batch") {
    val s = spark; import s.implicits._
    // INT96 timestamps carry no footer stats, so those files have no zone
    // map entry: every file stat-less, and one among ranged files
    Seq("all stat-less" -> Seq(true, true, true),
        "one stat-less" -> Seq(false, true, false)).foreach {
      case (label, int96) =>
        val dir = Files.createTempDirectory("graft-cowrw-statless").toString
        int96.zipWithIndex.foreach { case (legacy, j) =>
          withSQLConf("spark.sql.parquet.outputTimestampType" ->
              (if (legacy) "INT96" else "TIMESTAMP_MICROS")) {
            spark.range(j * 100L, (j + 1) * 100L, 2)
              .select(timestamp_seconds(col("id")).as("k"), col("id").as("v"))
              .coalesce(1).sortWithinPartitions("k")
              .write.mode("append").parquet(dir)
          }
        }
        // step 1 touches files 0 and 1; step 2 file 2, plus inserts
        // below, between and above the existing keys
        val steps = Seq(
          Seq((10L, -10L, "upsert"), (20L, 0L, "delete"), (11L, -11L, "upsert"),
            (150L, -150L, "upsert"), (160L, 0L, "delete")),
          Seq((250L, -250L, "upsert"), (260L, 0L, "delete"),
            (251L, -251L, "upsert"), (301L, -301L, "upsert")))
        steps.zipWithIndex.foldLeft(dir) { case (snap, (ops, i)) =>
          val batch = ops.toDF("s", "v", "op")
            .select(timestamp_seconds(col("s")).as("k"), col("v"), col("op"))
          val state = (if (i == 0) spark.read.parquet(snap)
            else MutableParquetTable.readCommitted(spark, snap)).localCheckpoint()
          val res = MutableParquetTable(spark, snap, "k").merge(batch)
          val expect = MergeOps.applyMutationsMulti(state, batch, Seq("k"))
          val got = MutableParquetTable.readCommitted(spark, res.snapshotDir)
          assert(got.count() === expect.count(), s"$label step $i")
          assert(got.exceptAll(expect).isEmpty && expect.exceptAll(got).isEmpty,
            s"$label step $i")
          res.snapshotDir
        }
    }
  }

  test("a task run twice leaves one final-named output per dirty input") {
    val shape = single("string")
    val t = seed(Files.createTempDirectory("graft-cowrw-retry").toString, shape)
    val src = latest(t.root)
    val m = Manifest.get(src)
    val ranges = m.ranges(src).get.sortBy(_.minBytes)(KeyBytes.ordering)
    val out = Files.createTempDirectory("graft-cowrw-staged").toString
    // one upsert per file: every file dirty, several per task
    val s = spark; import s.implicits._
    val batch = rowsOf(shape, (0 until files).map(j => (9 + 80 * j, "upsert"))
      .toDF("pos", "op"), 1, Nil)
    val df = CowRewrite.plan(spark, out, shape.keys, ranges,
      ranges.map(_.file.split('/').last).toSet, m.bytesByName, batch, "op",
      m.schema.get, Map.empty, None)
    val rdd = df.queryExecution.executedPlan.execute()
    def runGroup0(): Int = spark.sparkContext.runJob(rdd,
      (it: Iterator[InternalRow]) => it.size, Seq(0)).head
    val first = runGroup0()
    def listing() = Files.list(Paths.get(out)).iterator().asScala
      .map(_.getFileName.toString).toSeq.sorted
    val afterFirst = listing()
    val second = runGroup0()
    val outputs = listing().filter(MutableParquetTable.isDataFileName)
    assert(first === second && first > 0)
    assert(outputs === afterFirst.filter(MutableParquetTable.isDataFileName))
    val groupFiles = CowRewrite.pack(ranges.map(r =>
        m.bytesByName(r.file.split('/').last)).toIndexedSeq,
      spark.sparkContext.defaultParallelism).count(_ == 0)
    assert(outputs.size === groupFiles && groupFiles > 1,
      s"one output per dirty input of the task: $outputs")
    assert(outputs.forall(_.matches("part-\\d{5}-[0-9a-f-]{36}-c000\\.snappy\\.parquet")))
    assert(!listing().exists(_.endsWith(".tmp")), "temporary outputs left behind")
    // both runs wrote the same rows: each output holds its input's rows
    // plus the one upsert it owns
    outputs.foreach { f =>
      assert(spark.read.parquet(s"$out/$f").count() === n / files + 1, f)
    }
  }
}
