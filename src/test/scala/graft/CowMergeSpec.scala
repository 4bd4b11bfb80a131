package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.functions._

import graft.operators.MergeOps
import graft.sources.{MutableParquetTable, ParquetLayout, ParquetStats, ParquetTable}

/** Copy-on-write merge over a key-sorted multi-file table — the engine's
  * analog of the reference's dirty-row-group rewrite + raw passthrough
  * (ParquetRewriter.java:312-322, noChangesTest :318-323). */
class CowMergeSpec extends SparkSpec {

  private def freshDir(): String = {
    Files.createTempDirectory("graft-cow").toString
  }

  private def listParquet(dir: String): Seq[Path] = {
    import scala.jdk.CollectionConverters._
    val s = Files.list(Paths.get(dir))
    try s.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).toList
    finally s.close()
  }

  private def writeBase(dir: String, nFiles: Int = 5): Unit = {
    val c = Tables.customer(spark, sf())
    ParquetTable.writeSorted(c, dir, "c_custkey", nFiles)
  }

  test("files hold disjoint sorted key ranges after writeSorted") {
    val dir = freshDir(); writeBase(dir)
    val ranges = ParquetStats.fileKeyRanges(spark, dir, "c_custkey")
      .orderBy(col("minKey")).collect()
    assert(ranges.length >= 2)
    ranges.sliding(2).foreach {
      case Array(a, b) => assert(a.getLong(2) < b.getLong(1),
        s"overlap: ${a} vs ${b}")
      case _ =>
    }
  }

  test("no-op merge touches zero data files (noChangesTest analog)") {
    val dir = freshDir(); writeBase(dir)
    val before = listParquet(dir).map(p => p.getFileName.toString -> Files.size(p)).toMap
    val t = MutableParquetTable(spark, dir, "c_custkey")
    val emptyBatch = Tables.customer(spark, sf())
      .withColumn("op", lit("upsert")).limit(0)
    val res = t.merge(emptyBatch)
    assert(res.rewrittenFiles.isEmpty)
    assert(res.passthroughFiles.size === before.size)
    val after = listParquet(res.snapshotDir)
      .map(p => p.getFileName.toString -> Files.size(p)).toMap
    assert(after === before) // bit-identical passthrough (hard links)
  }

  test("narrow-key merge rewrites only the owning file") {
    val dir = freshDir(); writeBase(dir)
    val nFiles = listParquet(dir).size
    val c = Tables.customer(spark, sf())
    // mutate 3 keys from the lowest range only
    val lowKeys = c.orderBy(col("c_custkey")).limit(3)
    val batch = lowKeys.withColumn("c_acctbal", lit(1234.56))
      .withColumn("op", lit("upsert"))
    val t = MutableParquetTable(spark, dir, "c_custkey")
    val res = t.merge(batch)
    assert(res.rewrittenFiles.size === 1, s"expected 1 dirty file, got ${res.rewrittenFiles}")
    assert(res.passthroughFiles.size === nFiles - 1)

    // semantic check: snapshot content == full-table merge
    val expect = MergeOps.applyMutations(c, batch, "c_custkey")
      .orderBy(col("c_custkey")).collect()
    val got = spark.read.parquet(res.snapshotDir)
      .orderBy(col("c_custkey")).collect()
    assert(got.map(_.toString).toSeq === expect.map(_.toString).toSeq)
  }

  test("inserts beyond the last range route to the last file; deletes apply") {
    val dir = freshDir(); writeBase(dir)
    val c = Tables.customer(spark, sf())
    val maxKey = c.agg(max(col("c_custkey"))).head().getLong(0)
    val s = spark; import s.implicits._
    val insert = c.limit(1)
      .withColumn("c_custkey", lit(maxKey + 1000))
      .withColumn("op", lit("upsert"))
    val dels = c.orderBy(col("c_custkey")).limit(2)
      .withColumn("op", lit("delete"))
    val batch = insert.unionByName(dels)
    val t = MutableParquetTable(spark, dir, "c_custkey")
    val res = t.merge(batch)
    assert(res.rewrittenFiles.size === 2) // first file (deletes) + last file (insert)
    val got = spark.read.parquet(res.snapshotDir)
    assert(got.where(col("c_custkey") === maxKey + 1000).count() === 1)
    assert(got.count() === c.count() - 2 + 1)
  }

  test("string (uuid) merge keys route and rewrite correctly end to end") {
    // the reference's canonical use case: uuid primary key under
    // lexicographic order (README.md:26-43, ParquetRewriter.java:35-37)
    val dir = freshDir()
    val c = Tables.customer(spark, sf())
      .select(md5(col("c_custkey").cast("string")).as("uuid"),
        col("c_custkey"), col("c_name"), col("c_acctbal"))
    ParquetTable.writeSorted(c, dir, "uuid", 5)
    val nFiles = listParquet(dir).size
    assert(nFiles >= 2)

    // mutate 3 uuids from the lowest uuid range only → exactly 1 dirty file
    val lowKeys = c.orderBy(col("uuid")).limit(3)
    val batch = lowKeys.withColumn("c_acctbal", lit(9.99))
      .withColumn("op", lit("upsert"))
    val t = MutableParquetTable(spark, dir, "uuid")
    val res = t.merge(batch)
    assert(res.rewrittenFiles.size === 1, s"expected 1 dirty file, got ${res.rewrittenFiles}")
    assert(res.passthroughFiles.size === nFiles - 1)

    val expect = MergeOps.applyMutations(c, batch, "uuid")
      .orderBy(col("uuid")).collect()
    val got = spark.read.parquet(res.snapshotDir)
      .orderBy(col("uuid")).collect()
    assert(got.map(_.toString).toSeq === expect.map(_.toString).toSeq)

    // snapshot files still hold disjoint string ranges
    val ranges = ParquetStats.fileKeyRangesTyped(spark, res.snapshotDir, "uuid")
      .sortBy(_.minBytes)(graft.sources.KeyBytes.ordering)
    ranges.sliding(2).foreach {
      case Seq(a, b) =>
        assert(graft.sources.KeyBytes.compare(a.maxBytes, b.minBytes) < 0,
          s"string range overlap: $a vs $b")
      case _ =>
    }
  }

  test("chained merges with non-adjacent dirty files keep ranges disjoint") {
    val dir = freshDir(); writeBase(dir)
    val c = Tables.customer(spark, sf())
    val t = MutableParquetTable(spark, dir, "c_custkey")
    val ranges0 = ParquetStats.fileKeyRangesTyped(spark, dir, "c_custkey")
      .sortBy(_.minBytes)(graft.sources.KeyBytes.ordering)
    assert(ranges0.size === 5)

    // merge 1: dirty files 0 and 2 (non-contiguous), clean file 1 between
    val k0 = ranges0(0).min.asInstanceOf[Long] // a key in file 0's range
    val k2 = ranges0(2).min.asInstanceOf[Long] // a key in file 2's range
    val s = spark; import s.implicits._
    val batch1 = c.where(col("c_custkey").isin(k0, k2))
      .withColumn("c_acctbal", lit(111.11)).withColumn("op", lit("upsert"))
    val v1 = t.merge(batch1)
    assert(v1.rewrittenFiles.size === 2)
    assert(v1.passthroughFiles.size === 3)

    // invariant after merge 1: no output file spans a clean file's range
    val ranges1 = ParquetStats.fileKeyRangesTyped(spark, v1.snapshotDir, "c_custkey")
      .sortBy(_.minBytes)(graft.sources.KeyBytes.ordering)
    ranges1.sliding(2).foreach {
      case Seq(a, b) =>
        assert(graft.sources.KeyBytes.compare(a.maxBytes, b.minBytes) < 0,
          s"range overlap after non-adjacent dirty merge: $a vs $b")
      case _ =>
    }

    // merge 2 (chained, on the new snapshot): touch a key owned by the
    // previously-CLEAN middle file — routing must still find exactly it
    val t2 = MutableParquetTable(spark, v1.snapshotDir, "c_custkey")
    val k1 = ranges0(1).min.asInstanceOf[Long]
    val batch2 = c.where(col("c_custkey") === k1)
      .withColumn("c_acctbal", lit(222.22)).withColumn("op", lit("upsert"))
    val v2 = t2.merge(batch2)
    assert(v2.rewrittenFiles.size === 1,
      s"stale-range routing: ${v2.rewrittenFiles}")

    // end state == applying both batches relationally
    val expect = MergeOps.applyMutations(
      MergeOps.applyMutations(c, batch1, "c_custkey"), batch2, "c_custkey")
      .orderBy(col("c_custkey")).collect()
    val got = spark.read.parquet(v2.snapshotDir)
      .orderBy(col("c_custkey")).collect()
    assert(got.map(_.toString).toSeq === expect.map(_.toString).toSeq)
  }

  test("manifest commits a snapshot; a crashed merge is detectably partial") {
    val dir = freshDir(); writeBase(dir)
    val c = Tables.customer(spark, sf())
    val t = MutableParquetTable(spark, dir, "c_custkey")
    val batch = c.orderBy(col("c_custkey")).limit(2)
      .withColumn("c_acctbal", lit(5.0)).withColumn("op", lit("upsert"))
    val res = t.merge(batch)

    // committed: manifest present, inventory consistent with the directory
    assert(MutableParquetTable.isCommitted(res.snapshotDir))
    val manifest = graft.sources.Manifest.read(res.snapshotDir).get
    assert(manifest.key === "c_custkey")
    assert(manifest.totalRows === c.count())

    // simulated crash: snapshot dir with data files but no manifest —
    // must read as partial, while the committed snapshot stays readable
    val crashed = freshDir()
    listParquet(res.snapshotDir).take(1).foreach { p =>
      Files.copy(p, Paths.get(crashed, p.getFileName.toString))
    }
    assert(!MutableParquetTable.isCommitted(crashed))
    assert(graft.sources.Manifest.read(crashed).isEmpty)
    assert(spark.read.parquet(res.snapshotDir).count() === c.count())

    // trusted read: a stray part file dropped into the snapshot dir (a
    // concurrent writer, a crashed later merge) is visible to a naive
    // directory read but INVISIBLE through the manifest read path
    val stray = Paths.get(res.snapshotDir, "part-zzz-stray.parquet")
    Files.copy(listParquet(dir).head, stray)
    assert(spark.read.parquet(res.snapshotDir).count() > c.count())
    assert(MutableParquetTable.readCommitted(spark, res.snapshotDir).count() === c.count())
    intercept[IllegalStateException](
      MutableParquetTable.readCommitted(spark, crashed))
  }

  test("merge result reports byte-level CoW metrics") {
    val dir = freshDir(); writeBase(dir)
    val t = MutableParquetTable(spark, dir, "c_custkey")
    // touch one file's range only
    val batch = Tables.customer(spark, sf())
      .where(col("c_custkey") <= 10)
      .withColumn("c_name", lit("patched"))
      .withColumn("op", lit("upsert"))
    val res = t.merge(batch)
    assert(res.rewrittenFiles.size === 1)
    assert(res.passthroughFiles.size === 4)
    // linked bytes equal the source files' sizes exactly (never decoded)
    val srcSizes = res.passthroughFiles
      .map(f => Files.size(Paths.get(f))).sum
    assert(res.bytesPassedThrough === srcSizes && srcSizes > 0)
    assert(res.bytesRewrittenInput > 0)
    assert(res.bytesWritten > 0)
    assert(res.passthroughFraction > 0.5 && res.passthroughFraction < 1.0)
    // summary parses as one JSON object with the same numbers
    val json = res.summaryJson
    assert(json.contains(s""""bytesPassedThrough":${res.bytesPassedThrough}"""))
    assert(json.contains(""""filesLinked":4"""))

    // the no-op merge is the boundary: everything passes through
    val noop = MutableParquetTable(spark, res.snapshotDir, "c_custkey")
      .merge(batch.limit(0))
    assert(noop.passthroughFraction === 1.0)
    assert(noop.bytesWritten === 0L)
  }

  test("Spark execution metrics are harvested for the merge's rewrite job (S23)") {
    val dir = freshDir(); writeBase(dir)
    val m = Metrics.attach(spark)
    try {
      val batch = Tables.customer(spark, sf())
        .where(col("c_custkey") <= 10)
        .withColumn("op", lit("upsert"))
      MutableParquetTable(spark, dir, "c_custkey").merge(batch)
      // the rewrite is a Spark write action: the listener must have seen
      // at least one action that read files and produced rows
      val seen = m.snapshot()
      assert(seen.nonEmpty, "no actions harvested during merge")
      assert(seen.exists(q => q.filesRead > 0 && q.bytesRead > 0),
        seen.mkString("; "))
    } finally m.detach()
  }

  test("row-group layout controls are honored (S15/S18-S21)") {
    val dir = freshDir()
    val li = Tables.lineitem(spark, sf())
    ParquetTable.write(li, dir,
      ParquetLayout(rowGroupBytes = Some(64 * 1024), maxRecordsPerFile = Some(2000),
        compression = "zstd", dictionaryEnabled = false))
    val stats = ParquetStats.rowGroupStats(spark, dir)
    assert(stats.agg(sum(col("rowCount"))).head().getLong(0) === li.count())
    // maxRecordsPerFile forces multiple files; small block size → >1 row group
    assert(stats.select(col("file")).distinct().count() >= 3)
  }

  test("duplicate keys straddling a file boundary merge exactly (non-cut expansion)") {
    // out-of-contract data (repeated keys) must still merge to exactly
    // applyMutations semantics: every copy of a batch key replaced, no
    // stale straddling row left behind. writeSorted keeps equal keys
    // together, so build the straddling layout explicitly: file A ends
    // with two copies of key 11, file B starts with a third.
    val dir = freshDir()
    val s = spark; import s.implicits._
    val a = ((0L to 10L) ++ Seq(11L, 11L)).map(k => (k, k * 10)).toDF("k", "payload")
    val b = (Seq(11L) ++ (12L to 20L)).map(k => (k, k * 100)).toDF("k", "payload")
    a.coalesce(1).sortWithinPartitions("k").write.mode("append").parquet(dir)
    b.coalesce(1).sortWithinPartitions("k").write.mode("append").parquet(dir)
    val base = spark.read.parquet(dir)
    assert(base.where(col("k") === 11L).count() === 3)

    val batch = Seq((11L, -1L, "upsert")).toDF("k", "payload", "op")
    val t = MutableParquetTable(spark, dir, "k")
    val res = t.merge(batch)
    // routing alone would dirty only the right file; the non-cut
    // expansion must pull in the left one too
    assert(res.rewrittenFiles.size === 2, s"expansion missed: $res")
    val got = spark.read.parquet(res.snapshotDir)
    val expect = MergeOps.applyMutations(base, batch, "k")
    assert(got.count() === expect.count()) // 12 + 9 + 1 = 22 → all 3 copies collapsed
    assert(got.exceptAll(expect).isEmpty && expect.exceptAll(got).isEmpty)
  }

  test("duplicate keys straddling row-group boundaries rewrite exactly") {
    // same hazard one level down: parquet cuts row groups by SIZE, mid-key
    // — RowGroupCoW's non-cut expansion must absorb straddled neighbors
    val work = freshDir()
    val li = Tables.lineitem(spark, sf())
      .withColumn("li_key", col("l_orderkey") * 10 + col("l_linenumber")) // repeats!
    ParquetTable.writeSorted(li, s"$work/src", "li_key", 1,
      ParquetLayout(rowGroupBytes = Some(24L * 1024)))
    val src = listParquet(s"$work/src").head.toString
    val ks = ParquetStats.keyStats(spark, src, "li_key")
      .orderBy(col("rowGroup")).collect()
    // group-boundary straddles: next group's min == this group's max
    val straddleMins = ks.sliding(2).collect {
      case Array(x, y) if x.getLong(8) >= y.getLong(7) => y.getLong(7)
    }.toSeq
    assert(straddleMins.nonEmpty, "dup-heavy fixture should straddle some group boundary")

    val base = spark.read.parquet(src)
    val batch = base.where(col("li_key").isin(straddleMins: _*))
      .withColumn("l_quantity", lit(999.0)).withColumn("op", lit("upsert"))
      .dropDuplicates("li_key") // batch contract: unique keys per batch
    val res = graft.sources.RowGroupCoW.rewriteFile(
      spark, src, s"$work/out.parquet", "li_key", batch)
    assert(res.passthroughGroups > 0)
    val got = spark.read.parquet(s"$work/out.parquet")
    val expect = MergeOps.applyMutations(base, batch, "li_key")
    assert(got.count() === expect.count())
    assert(got.exceptAll(expect).isEmpty && expect.exceptAll(got).isEmpty)
  }

  test("manifest-pruned range scan touches only the owning files") {
    val dir = freshDir(); writeBase(dir)
    val c = Tables.customer(spark, sf())
    val t = MutableParquetTable(spark, dir, "c_custkey")
    val batch = c.orderBy(col("c_custkey")).limit(1)
      .withColumn("c_acctbal", lit(1.0)).withColumn("op", lit("upsert"))
    val res = t.merge(batch)

    val full = MutableParquetTable.readCommitted(spark, res.snapshotDir)
    val ranges = ParquetStats.fileKeyRangesTyped(spark, res.snapshotDir, "c_custkey")
      .sortBy(_.minBytes)(graft.sources.KeyBytes.ordering)
    // a range living entirely inside the SECOND file's key span
    val lo = ranges(1).min.asInstanceOf[Long]
    val hi = ranges(1).max.asInstanceOf[Long]
    val pruned = MutableParquetTable.readRange(spark, res.snapshotDir, lo, hi)
    val expect = full.where(col("c_custkey").between(lo, hi))
    assert(pruned.exceptAll(expect).isEmpty && expect.exceptAll(pruned).isEmpty)
    assert(pruned.inputFiles.length === 1,
      s"range scan opened ${pruned.inputFiles.length} files, wanted 1")
    assert(full.inputFiles.length === 5)
    // out-of-range scan: zero files, zero rows, still a valid frame
    val none = MutableParquetTable.readRange(spark, res.snapshotDir,
      Long.MaxValue - 10, Long.MaxValue)
    assert(none.count() === 0)

    // string-keyed variant exercises the keyType=string decode path
    val sdir = freshDir()
    val sc = c.select(md5(col("c_custkey").cast("string")).as("uuid"), col("c_acctbal"))
    ParquetTable.writeSorted(sc, sdir, "uuid", 4)
    val st = MutableParquetTable(spark, sdir, "uuid")
    val sres = st.merge(sc.limit(1).withColumn("op", lit("upsert")))
    val sranges = ParquetStats.fileKeyRangesTyped(spark, sres.snapshotDir, "uuid")
      .sortBy(_.minBytes)(graft.sources.KeyBytes.ordering)
    val slo = sranges(1).min.asInstanceOf[String]
    val shi = sranges(1).max.asInstanceOf[String]
    val spruned = MutableParquetTable.readRange(spark, sres.snapshotDir, slo, shi)
    val sexpect = MutableParquetTable.readCommitted(spark, sres.snapshotDir)
      .where(col("uuid") >= slo && col("uuid") <= shi)
    assert(spruned.exceptAll(sexpect).isEmpty && sexpect.exceptAll(spruned).isEmpty)
    assert(spruned.inputFiles.length === 1)
  }

  test("fine-grained merge re-encodes only dirty row groups across the table") {
    val dir = freshDir()
    // UNIQUE key (mergeFineGrained's primary-key precondition): the
    // fixture's (l_orderkey, l_linenumber) pairs repeat, so rank instead
    val li = Tables.lineitem(spark, sf())
      .withColumn("li_key", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(
          col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_suppkey"), col("l_extendedprice"))).cast("long"))
    ParquetTable.writeSorted(li, dir, "li_key", 3,
      ParquetLayout(rowGroupBytes = Some(24L * 1024)))
    val base = spark.read.parquet(dir)
    val t = MutableParquetTable(spark, dir, "li_key")

    // scattered point updates: one key per file — every file is dirty at
    // FILE granularity (merge would rewrite everything), but only one
    // row group per file is dirty at GROUP granularity
    val mins = ParquetStats.fileKeyRangesTyped(spark, dir, "li_key")
      .map(_.min.asInstanceOf[Long])
    assert(mins.size === 3)
    val batch = base.where(col("li_key").isin(mins: _*))
      .withColumn("l_quantity", col("l_quantity") + 100.0)
      .withColumn("op", lit("upsert"))
    val res = t.mergeFineGrained(batch)
    assert(res.rewrittenFiles.size === 3 && res.passthroughFiles.isEmpty)
    assert(MutableParquetTable.isCommitted(res.snapshotDir))

    val got = MutableParquetTable.readCommitted(spark, res.snapshotDir)
    val expect = MergeOps.applyMutations(base, batch, "li_key")
    assert(got.count() === expect.count())
    assert(got.exceptAll(expect).isEmpty && expect.exceptAll(got).isEmpty)

    // group-level passthrough: narrow upserts keep every file's group
    // count, and most groups must be byte-identical raw copies of the
    // source (re-encoding everything would change compressed sizes)
    val srcStats = ParquetStats.rowGroupStats(spark, dir)
      .collect().map(r => (r.getString(0).split('/').last, r.getInt(1)) -> r.getLong(4)).toMap
    val outStats = ParquetStats.rowGroupStats(spark, res.snapshotDir)
      .collect().map(r => (r.getString(0).split('/').last, r.getInt(1)) -> r.getLong(4)).toMap
    assert(outStats.size === srcStats.size, "group counts must be preserved")
    val identical = outStats.count { case (k, bytes) => srcStats.get(k).contains(bytes) }
    assert(identical >= srcStats.size - 3,
      s"only $identical of ${srcStats.size} groups raw-copied; expected all but one per file")
  }

  test("wide types (decimal/binary/float/date/ts/array/struct/map) round-trip CoW merge") {
    // the reference's multi-type coverage (ParquetRewriterTests.java:358-369:
    // int32/int64/boolean/float/double/fixed_len_byte_array/int96), as the
    // Spark-side analog: every column family through MergeOps + the CoW path
    // — including map<string,bigint>, which the reference carries verbatim
    // like any parquet-mr schema (ParquetRewriter.java:115)
    def gen(pred: String, mutated: String): org.apache.spark.sql.DataFrame =
      spark.sql(s"""
        SELECT id,
          CASE WHEN $mutated THEN CAST(id * 2 AS DECIMAL(12,3))
               ELSE CAST(id * 1.5 AS DECIMAL(12,3)) END AS dec,
          CAST(concat('pay', id) AS BINARY) AS bin,
          id % 2 = 0 AS flag,
          CAST(CAST(id AS FLOAT) / 3 AS FLOAT) AS f,
          CAST(id AS DOUBLE) * 0.1 AS d,
          DATE_ADD(DATE'2020-01-01', CAST(id AS INT)) AS dt,
          TIMESTAMP'2020-01-01 00:00:00' + make_dt_interval(0, 0, 0, id) AS ts,
          array(id, id + 1) AS arr,
          named_struct('a', id, 'b', concat('s', id)) AS st,
          map(concat('k', id % 3), id,
              CASE WHEN $mutated THEN 'mut' ELSE 'orig' END, id + 7) AS m
        FROM range(0, 100) WHERE $pred""")
    val dir = freshDir()
    ParquetTable.writeSorted(gen("true", "false"), dir, "id", 4)
    val base = spark.read.parquet(dir)
    assert(base.schema("m").dataType.isInstanceOf[
      org.apache.spark.sql.types.MapType])
    val batch = gen("id < 10", "true").withColumn("op", lit("upsert"))
      .unionByName(gen("id >= 90", "false").withColumn("op", lit("delete")))
    val res = MutableParquetTable(spark, dir, "id").merge(batch)
    assert(res.rewrittenFiles.size === 2) // low file (upserts) + high file (deletes)
    val got = spark.read.parquet(res.snapshotDir)
    // independently generated expected state (not via MergeOps). Spark
    // refuses set ops over MapType, so the map compares as sorted entries
    // (same content test, canonical order) while the snapshot keeps the
    // physical map column
    def cmp(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      df.withColumn("m", array_sort(map_entries(col("m"))))
    val expect = gen("id < 90", "id < 10")
    assert(got.count() === 90)
    assert(cmp(got).exceptAll(cmp(expect)).isEmpty &&
      cmp(expect).exceptAll(cmp(got)).isEmpty)
    assert(got.schema === base.schema)
    // the manifest schema round-trips the map type: committed reads carry
    // it without re-inferring from footers
    assert(MutableParquetTable.readCommitted(spark, res.snapshotDir)
      .schema("m").dataType === base.schema("m").dataType)
  }

  test("NESTED merge-key path (person.uuid) routes, merges, and chains (ColumnPath parity)") {
    // the reference addresses its key by ColumnPath into the record
    // (ParquetRewriter.java:84; README.md:26-43's Thrift Person.uuid):
    // here the key lives INSIDE a struct column and drives footer zone
    // maps (parquet column paths are dotted), routing, slicing, the merge
    // join, and the manifest round-trip
    def gen(pred: String, mutated: String): org.apache.spark.sql.DataFrame =
      spark.sql(s"""
        SELECT named_struct(
                 'uuid', concat('u', lpad(cast(id AS string), 4, '0')),
                 'name', named_struct('first', concat('f', id),
                                      'last', concat('l', id))) AS person,
               CASE WHEN $mutated THEN id * 10 ELSE id END AS bal
        FROM range(0, 200) WHERE $pred""")
    val dir = freshDir()
    ParquetTable.writeSorted(gen("true", "false"), dir, "person.uuid", 4)
    val nFiles = listParquet(dir).size
    assert(nFiles === 4)

    // footer zone maps resolve the nested column
    val ranges = ParquetStats.fileKeyRangesTyped(spark, dir, "person.uuid")
    assert(ranges.size === nFiles)
    assert(ranges.forall(r => r.min.toString.startsWith("u")))

    val t = MutableParquetTable(spark, dir, "person.uuid")
    val batch = gen("id < 10", "true").withColumn("op", lit("upsert"))
      .unionByName(gen("id >= 190", "false").withColumn("op", lit("delete")))
    val res = t.merge(batch)
    // narrow mutations: only the low and high files rewrite
    assert(res.rewrittenFiles.size === 2,
      s"expected 2 dirty files, got ${res.rewrittenFiles.size}/$nFiles")
    val got = MutableParquetTable.readCommitted(spark, res.snapshotDir)
    val expect = gen("id < 190", "id < 10")
    assert(got.count() === 190)
    assert(got.exceptAll(expect).isEmpty && expect.exceptAll(got).isEmpty)

    // manifest zone map on the nested key: a point read prunes to 1 file
    val (_, files) = MutableParquetTable.pruneManifestFiles(
      res.snapshotDir, Some("u0005"), Some("u0005")).get
    assert(files.size === 1, s"point prune touched ${files.size} files")

    // chained merge against the committed snapshot (manifest-trusted
    // ranges, no footer re-probe) stays exact
    val t2 = MutableParquetTable(spark, res.snapshotDir, "person.uuid")
    val batch2 = gen("id = 50", "true").withColumn("op", lit("upsert"))
    val res2 = t2.merge(batch2)
    assert(res2.rewrittenFiles.size === 1)
    val got2 = MutableParquetTable.readCommitted(spark, res2.snapshotDir)
    assert(got2.where(col("person.uuid") === "u0050").head().getLong(1) === 500L)
    assert(got2.count() === 190)

    // composite identities reject nested members loudly
    val e = intercept[IllegalArgumentException] {
      MutableParquetTable(spark, dir, "person.uuid", moreKeys = Seq("bal"))
    }
    assert(e.getMessage.contains("nested key path"))
  }

  test("typed merge KEYS (date/timestamp/binary) route, slice, and rewrite exactly") {
    // the reference accepts any Comparable key via KeyAccessor
    // (ParquetRewriter.java:46-54); here each typed key lane goes through
    // the full path: footer zone maps (INT32 days / INT64 micros / raw
    // BINARY stats), normalized routing, run-slice bounds, and manifest
    // keyType round-trip
    val s = spark; import s.implicits._
    def runCase(name: String, df: org.apache.spark.sql.DataFrame,
                lowKeyPred: org.apache.spark.sql.Column,
                delKeyPred: org.apache.spark.sql.Column): Unit = {
      val dir = freshDir()
      ParquetTable.writeSorted(df, dir, "k", 4)
      val nFiles = listParquet(dir).size
      val batch = df.where(lowKeyPred)
        .withColumn("v", lit(-1L)).withColumn("op", lit("upsert"))
        .unionByName(df.where(delKeyPred).withColumn("op", lit("delete")))
      val t = MutableParquetTable(spark, dir, "k")
      val res = t.merge(batch)
      assert(res.rewrittenFiles.nonEmpty && res.rewrittenFiles.size < nFiles,
        s"$name: expected a partial rewrite, got ${res.rewrittenFiles.size}/$nFiles")
      val got = MutableParquetTable.readCommitted(spark, res.snapshotDir)
      val expect = MergeOps.applyMutations(df, batch, "k")
      assert(got.count() === expect.count(), name)
      assert(got.exceptAll(expect).isEmpty && expect.exceptAll(got).isEmpty, name)
      // snapshot ranges stay disjoint under the typed encoding
      val ranges = ParquetStats.fileKeyRangesTyped(spark, res.snapshotDir, "k")
        .sortBy(_.minBytes)(graft.sources.KeyBytes.ordering)
      ranges.sliding(2).foreach {
        case Seq(a, b) => assert(graft.sources.KeyBytes.compare(
          a.maxBytes, b.minBytes) < 0, s"$name range overlap: $a vs $b")
        case _ =>
      }
      // manifest prune agrees with the typed key domain: a one-key range
      // prunes to one file
      val probe = df.where(lowKeyPred).select("k").head().get(0)
      val (_, files) = MutableParquetTable.pruneManifestFiles(
        res.snapshotDir, Some(probe), Some(probe)).get
      assert(files.size === 1, s"$name point prune touched ${files.size} files")
    }

    val dates = (0 until 200).map(i =>
      (java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(18000L + i)), i.toLong))
      .toDF("k", "v")
    runCase("date", dates,
      col("k") <= java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(18004L)),
      col("k") === java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(18150L)))

    val tss = (0 until 200).map(i =>
      (new java.sql.Timestamp(1_600_000_000_000L + i * 60_000L), i.toLong))
      .toDF("k", "v")
    runCase("timestamp", tss,
      col("k") <= new java.sql.Timestamp(1_600_000_000_000L + 4 * 60_000L),
      col("k") === new java.sql.Timestamp(1_600_000_000_000L + 150 * 60_000L))

    // TIMESTAMP_NTZ — what pyarrow-written fixtures carry; normalization
    // must be timezone-independent (wall-clock micros, not instant micros)
    def ldt(i: Int): java.time.LocalDateTime =
      java.time.LocalDateTime.of(2021, 3, 1, 0, 0).plusMinutes(i.toLong)
    val ntz = (0 until 200).map(i => (ldt(i), i.toLong)).toDF("k", "v")
    runCase("timestamp_ntz", ntz, col("k") <= lit(ldt(4)), col("k") === lit(ldt(150)))

    // raw binary keys with non-UTF8 bytes (0x80+ lead byte) — exactly the
    // case a UTF-8 stats round-trip would corrupt
    def bkey(i: Int): Array[Byte] =
      Array((0x80 | (i >> 8)).toByte, (i & 0xff).toByte, 0xAB.toByte)
    val bins = (0 until 200).map(i => (bkey(i), i.toLong)).toDF("k", "v")
    runCase("binary", bins, col("k") <= lit(bkey(4)), col("k") === lit(bkey(150)))
  }

  test("property: random scattered merges match applyMutations exactly (multi-run slicing)") {
    // the deterministic probe-hash write partitioning replaced range
    // sampling — drive it through random dirty patterns (forcing
    // multi-run slicing with interior clean files) against the
    // applyMutations oracle, and re-check the disjoint-range invariant
    // after every chained step
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(42)
    (0 until 4).foreach { trial =>
      val dir = freshDir()
      val n = 400L
      var state = (0L until n).map(k => (k, k * 3)).toDF("k", "v")
      ParquetTable.writeSorted(state, dir, "k", 8)
      var cur = dir
      (0 until 3).foreach { step =>
        // scattered touch: a few random point keys + one random range,
        // some deletes — lands in non-adjacent files
        val points = Seq.fill(rnd.nextInt(5) + 1)(rnd.nextLong(n))
        val lo = rnd.nextLong(n - 40)
        val ups = points.map(k => (k, -k, "upsert")) ++
          (lo until lo + 20L).map(k => (k, k + 7000, "upsert"))
        val dels = Seq.fill(rnd.nextInt(4))(rnd.nextLong(n)).map(k => (k, 0L, "delete"))
        val batch = (ups ++ dels).toDF("k", "v", "op")
          // last-wins on duplicate keys inside one batch, as applyMutations does
        val t = MutableParquetTable(spark, cur, "k")
        val res = t.merge(batch)
        val expect = MergeOps.applyMutations(state, batch, "k")
        val got = MutableParquetTable.readCommitted(spark, res.snapshotDir)
        assert(got.count() === expect.count(), s"trial $trial step $step")
        assert(got.exceptAll(expect).isEmpty && expect.exceptAll(got).isEmpty,
          s"trial $trial step $step")
        val ranges = ParquetStats.fileKeyRangesTyped(spark, res.snapshotDir, "k")
          .sortBy(_.minBytes)(graft.sources.KeyBytes.ordering)
        ranges.sliding(2).foreach {
          case Seq(a, b) => assert(graft.sources.KeyBytes.compare(
            a.maxBytes, b.minBytes) < 0,
            s"trial $trial step $step range overlap: $a vs $b")
          case _ =>
        }
        state = expect.localCheckpoint()
        cur = res.snapshotDir
      }
    }
  }

  test("chained merge on a committed snapshot ignores stray uncommitted files") {
    // the manifest IS the snapshot: a crashed writer's leftover parquet
    // file sitting next to a committed snapshot must not leak into the
    // next merge's inventory (same discipline as readCommitted)
    val s = spark; import s.implicits._
    val dir = freshDir()
    val df = (0L until 200L).map(k => (k, k * 10)).toDF("k", "v")
    ParquetTable.writeSorted(df, dir, "k", 4)
    val t0 = MutableParquetTable(spark, dir, "k")
    val b1 = Seq((5L, -5L, "upsert")).toDF("k", "v", "op")
    val v1 = t0.merge(b1).snapshotDir
    // stray file with overlapping keys, never committed
    (0L until 50L).map(k => (k, -999L)).toDF("k", "v")
      .coalesce(1).write.mode("append").parquet(s"$v1/_straytmp")
    val stray = listParquet(s"$v1/_straytmp").head
    Files.move(stray, Paths.get(v1, "zz-stray.parquet"))
    val t1 = MutableParquetTable(spark, v1, "k")
    val b2 = Seq((6L, -6L, "upsert")).toDF("k", "v", "op")
    val res = t1.merge(b2)
    assert(!(res.rewrittenFiles ++ res.passthroughFiles)
      .exists(_.contains("zz-stray")), "stray file leaked into the merge")
    assert(!MutableParquetTable.manifestFileNames(res.snapshotDir).get
      .exists(_.contains("zz-stray")), "stray file leaked into the manifest")
    val got = MutableParquetTable.readCommitted(spark, res.snapshotDir)
    val expect = MergeOps.applyMutations(
      MergeOps.applyMutations(df, b1, "k"), b2, "k")
    assert(got.count() === expect.count())
    assert(got.exceptAll(expect).isEmpty && expect.exceptAll(got).isEmpty)
  }

  test("manifest zone map round-trips the typed bounds (long/string/binary)") {
    val s = spark; import s.implicits._
    def roundTrip(df: org.apache.spark.sql.DataFrame): Unit = {
      val dir = freshDir()
      ParquetTable.writeSorted(df, dir, "k", 3)
      val t = MutableParquetTable(spark, dir, "k")
      t.commitManifest(dir)
      val fromFooters = ParquetStats.fileKeyRangesTyped(spark, dir, "k")
        .sortBy(_.minBytes)(graft.sources.KeyBytes.ordering)
      val fromManifest = MutableParquetTable.manifestRanges(dir, "k").get
        .sortBy(_.minBytes)(graft.sources.KeyBytes.ordering)
      assert(fromManifest.size === fromFooters.size)
      fromManifest.zip(fromFooters).foreach { case (m, f) =>
        assert(graft.sources.KeyBytes.compare(m.minBytes, f.minBytes) === 0)
        assert(graft.sources.KeyBytes.compare(m.maxBytes, f.maxBytes) === 0)
        assert(m.rowCount === f.rowCount)
      }
      // a key absent from the manifest is never routed to the wrong file:
      // the manifest prune and the footer ranges agree on a point lookup
      val probe = fromFooters(1).min
      val (_, files) = MutableParquetTable.pruneManifestFiles(
        dir, Some(probe), Some(probe)).get
      assert(files.size === 1)
    }
    roundTrip((0L until 150L).map(k => (k, k)).toDF("k", "v"))
    roundTrip((0 until 150).map(i => (f"id-$i%04d", i.toLong)).toDF("k", "v"))
    roundTrip((0 until 150).map(i =>
      (Array((0x80 | i).toByte, (i * 7).toByte), i.toLong)).toDF("k", "v"))
  }

  test("schema evolution: new batch columns become nullable table columns") {
    val s = spark; import s.implicits._
    val dir = freshDir()
    val df = (0L until 300L).map(k => (k, k * 2)).toDF("k", "v")
    ParquetTable.writeSorted(df, dir, "k", 5)
    val batch = Seq((10L, -10L, 7L, "upsert"), (290L, -290L, 8L, "upsert"))
      .toDF("k", "v", "extra", "op")
    val t = MutableParquetTable(spark, dir, "k")
    val res = t.merge(batch)
    assert(res.passthroughFiles.nonEmpty, "evolution must keep clean files linked")
    val got = MutableParquetTable.readCommitted(spark, res.snapshotDir)
    // manifest-committed schema carries the new column, nullable
    assert(got.schema.fieldNames.toSeq === Seq("k", "v", "extra"))
    assert(got.schema("extra").nullable)
    assert(got.count() === 300)
    assert(got.where(col("extra").isNotNull).count() === 2)
    assert(got.where(col("k") === 10L).head().getLong(2) === 7L)
    // untouched rows read the new column as null — including rows in
    // hard-linked files that physically lack it
    assert(got.where(col("k") === 0L).head().isNullAt(2))

    // the evolved snapshot keeps merging: a batch in the NEW shape
    val t2 = MutableParquetTable(spark, res.snapshotDir, "k")
    val res2 = t2.merge(Seq((10L, -11L, 9L, "upsert")).toDF("k", "v", "extra", "op"))
    val got2 = MutableParquetTable.readCommitted(spark, res2.snapshotDir)
    assert(got2.where(col("k") === 10L).head().getLong(2) === 9L)
    assert(got2.count() === 300)

    // a post-evolution batch missing an EXISTING column is rejected
    // (whole-row upsert contract), as is evolution through the
    // row-group splice (source schemas are copied byte-for-byte)
    intercept[IllegalArgumentException] {
      t2.merge(Seq((1L, 1L, "upsert")).toDF("k", "v", "op"))
    }
    intercept[IllegalArgumentException] {
      t.mergeFineGrained(batch)
    }

    // type DRIFT on an existing column is rejected (evolution adds
    // columns, never retypes): a union-coerced rewrite would diverge the
    // physical types from the manifest schema and break later reads
    val e = intercept[IllegalArgumentException] {
      t.merge(Seq((1L, 1.5, "upsert")).toDF("k", "v", "op"))
    }
    assert(e.getMessage.contains("drift"), s"unexpected error: $e")
  }

  test("fine-grained merge vs metadata ADD: narrow files fall back, values survive") {
    val s = spark; import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-fgadd").toString
    GraftTable.create(
      spark.range(0, 100).select(col("id").as("k"), col("id").as("v")),
      root, "k", numFiles = 4)
    // metadata-only ADD COLUMN c: every data file stays physically narrow
    graft.OptimisticCommit.commitSchema(root,
      GraftTable(spark, root, "k").read().schema.add("c",
        org.apache.spark.sql.types.LongType, nullable = true))
    val latest = graft.streaming.CdcMergeSink.latestSnapshot(root)
    val t = MutableParquetTable(spark, latest, "k")
    // a batch CARRYING the new column must not lose its values to the
    // row-group splice (which re-encodes under the narrow source
    // schema): rewriteFile fail-fasts and the file-level merge runs
    val r = t.mergeFineGrained(
      Seq((5L, 55L, 77L, "upsert")).toDF("k", "v", "c", "op"))
    val got = MutableParquetTable.readCommitted(spark, r.snapshotDir)
    val hit = got.where(col("k") === 5L).head()
    assert(hit.getLong(1) === 55L && !hit.isNullAt(2) && hit.getLong(2) === 77L,
      "the metadata-added column's batch value must survive the merge")
    assert(got.where(col("k") =!= 5L && col("c").isNotNull).count() === 0)
    assert(got.count() === 100)

    // a batch MISSING the (now-existing) column violates the whole-row
    // upsert contract — same refusal as merge(), not a confusing
    // unresolved-column error from inside the splice
    val t2 = MutableParquetTable(spark, r.snapshotDir, "k")
    intercept[IllegalArgumentException] {
      t2.mergeFineGrained(Seq((7L, -7L, "upsert")).toDF("k", "v", "op"))
    }
    // a whole-row batch through the mixed narrow/wide snapshot: exact
    val r2 = t2.mergeFineGrained(Seq((7L, -7L, null.asInstanceOf[java.lang.Long],
      "upsert")).toDF("k", "v", "c", "op"))
    val got2 = MutableParquetTable.readCommitted(spark, r2.snapshotDir)
    assert(got2.where(col("k") === 7L).head().getLong(1) === -7L)
    assert(got2.where(col("k") === 5L).head().getLong(2) === 77L,
      "the wide rewritten file's values carry through the next merge")
    assert(got2.count() === 100)
  }

  test("composite (date, id) merge key: route by leading column, match on the tuple") {
    val s = spark; import s.implicits._
    val dir = freshDir()
    // several ids per date so leading-column values straddle boundaries
    val rows = for (d <- 0 until 40; i <- 0 until 5)
      yield (java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(19000 + d)),
        i.toLong, (d * 5 + i).toLong)
    val df = rows.toDF("d", "id", "v")
    ParquetTable.writeSortedBy(df, dir, Seq("d", "id"), 6)
    val t = MutableParquetTable(spark, dir, "d", moreKeys = Seq("id"))

    val day3 = java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(19003))
    val day39 = java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(19039))
    val batch = Seq(
      (day3, 2L, -1L, "upsert"),   // replace ONE id within the date
      (day3, 99L, -2L, "upsert"),  // new id on an existing date
      (day39, 4L, 0L, "delete"))   // delete one (date, id) row
      .toDF("d", "id", "v", "op")
    val res = t.merge(batch)
    assert(res.passthroughFiles.nonEmpty, "merge must not rewrite everything")

    val got = MutableParquetTable.readCommitted(spark, res.snapshotDir)
    assert(got.count() === 200 + 1 - 1)
    assert(got.where(col("d") === day3 && col("id") === 2L).head().getLong(2) === -1L)
    assert(got.where(col("d") === day3 && col("id") === 99L).head().getLong(2) === -2L)
    // sibling id on the same date untouched — tuple identity, not d alone
    assert(got.where(col("d") === day3 && col("id") === 1L).head().getLong(2) === 16L)
    assert(got.where(col("d") === day39 && col("id") === 4L).count() === 0)

    // chained composite merge on the committed snapshot
    val t2 = MutableParquetTable(spark, res.snapshotDir, "d", moreKeys = Seq("id"))
    val res2 = t2.merge(Seq((day3, 99L, -3L, "upsert")).toDF("d", "id", "v", "op"))
    val got2 = MutableParquetTable.readCommitted(spark, res2.snapshotDir)
    assert(got2.where(col("d") === day3 && col("id") === 99L).head().getLong(2) === -3L)
    assert(got2.count() === 200)

    // null in any key column is rejected, not silently mis-matched
    val e = intercept[Exception] {
      t2.merge(Seq((day3, null.asInstanceOf[java.lang.Long], 5L, "upsert"))
        .toDF("d", "id", "v", "op"))
    }
    def msgs(x: Throwable): Seq[String] =
      if (x == null) Nil else Option(x.getMessage).toSeq ++ msgs(x.getCause)
    assert(msgs(e).exists(_.contains("null merge-key")), s"unexpected: $e")
  }

  test("property: random composite-key merges match applyMutationsMulti exactly") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(7)
    val dir = freshDir()
    val base = (0 until 30).flatMap(g => (0 until 4).map(i =>
      (g.toLong, s"u$i", (g * 4 + i).toLong)))
    ParquetTable.writeSortedBy(base.toDF("g", "u", "v"), dir, Seq("g", "u"), 5)
    var cur = dir
    for (round <- 0 until 3) {
      val muts = (0 until 12).map { _ =>
        val g = rnd.nextInt(32).toLong // occasionally beyond the max group
        val u = s"u${rnd.nextInt(6)}"  // occasionally a new id
        val op = if (rnd.nextBoolean()) "upsert" else "delete"
        (g, u, rnd.nextInt(1000).toLong, op)
      }.distinct
      // composite-unique batch (last write wins would need a seq col)
      val uniq = muts.groupBy(m => (m._1, m._2)).map(_._2.head).toSeq
      val batch = uniq.toDF("g", "u", "v", "op")
      val expect = MergeOps.applyMutationsMulti(
        spark.read.parquet(cur), batch, Seq("g", "u"))
        .orderBy("g", "u").collect().map(_.toSeq).toSeq
      val t = MutableParquetTable(spark, cur, "g", moreKeys = Seq("u"))
      val res = t.merge(batch)
      val got = MutableParquetTable.readCommitted(spark, res.snapshotDir)
        .orderBy("g", "u").collect().map(_.toSeq).toSeq
      assert(got === expect, s"round $round diverged")
      cur = res.snapshotDir
    }
  }

  test("fractional merge keys are rejected, never truncated") {
    val s = spark; import s.implicits._
    val dir = freshDir()
    val df = (0 until 50).map(i => (i.toDouble + 0.5, i.toLong)).toDF("k", "v")
    ParquetTable.writeSorted(df, dir, "k", 2)
    val batch = df.limit(1).withColumn("op", lit("upsert"))
    val t = MutableParquetTable(spark, dir, "k")
    val e = intercept[Exception] { t.merge(batch) }
    def causes(x: Throwable): Seq[String] =
      if (x == null) Nil else x.getMessage +: causes(x.getCause)
    assert(causes(e).exists(m => m != null && m.contains("merge-key type")),
      s"unexpected error: $e")
  }

  test("per-column dictionary control reaches the footer encodings") {
    // the reference's per-type encoding forcing (ProxiedProperties.java:
    // 43-55), at parquet-mr's native per-column granularity
    val dir = freshDir()
    val df = spark.sql(
      "SELECT CAST(id % 5 AS STRING) AS a, CAST(id % 5 AS STRING) AS b FROM range(0, 5000)")
    ParquetTable.write(df.coalesce(1), dir,
      ParquetLayout(columnDictionary = Map("a" -> false)))
    val f = listParquet(dir).head.toString
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f),
        spark.sparkContext.hadoopConfiguration))
    try {
      val cols = reader.getFooter.getBlocks.get(0).getColumns
      def dictOf(name: String): Boolean = {
        val cc = (0 until cols.size()).map(cols.get)
          .find(_.getPath.toDotString == name).get
        cc.getEncodings.toString.contains("DICTIONARY")
      }
      assert(!dictOf("a"), "column a must be plain-encoded")
      assert(dictOf("b"), "column b must stay dictionary-encoded")
    } finally reader.close()
  }

  test("per-physical-type PLAIN forcing expands over the schema (S19)") {
    // the reference kills dictionary per PHYSICAL type (ProxiedProperties
    // .java:43-55); plainTypes expands the same rule into per-column keys —
    // and an explicit columnDictionary entry overrides the type rule
    val dir = freshDir()
    val df = spark.sql(
      """SELECT id % 5 AS n1, id % 5 AS n2, CAST(id % 5 AS STRING) AS s,
        |       CAST(id % 5 AS DOUBLE) AS d FROM range(0, 5000)""".stripMargin)
    ParquetTable.write(df.coalesce(1), dir,
      ParquetLayout(plainTypes = Set("INT64", "DOUBLE"),
        columnDictionary = Map("n2" -> true)))
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(listParquet(dir).head.toString),
        spark.sparkContext.hadoopConfiguration))
    try {
      val cols = reader.getFooter.getBlocks.get(0).getColumns
      def dictOf(name: String): Boolean = {
        val cc = (0 until cols.size()).map(cols.get)
          .find(_.getPath.toDotString == name).get
        cc.getEncodings.toString.contains("DICTIONARY")
      }
      assert(!dictOf("n1"), "INT64 column must be plain-encoded")
      assert(!dictOf("d"), "DOUBLE column must be plain-encoded")
      assert(dictOf("s"), "BINARY column is outside the rule — dictionary")
      assert(dictOf("n2"), "explicit per-column entry must beat the type rule")
    } finally reader.close()
  }

  test("parquet writer version reaches the footer encodings (S21)") {
    // the reference's format-version switch (ParquetBlockMutator.java:110):
    // v2 data pages use the DELTA_* encodings, v1 stays PLAIN — visible in
    // the column-chunk encoding set, so assert on that
    val df = spark.sql(
      "SELECT id AS n, CAST(id AS STRING) AS s FROM range(0, 5000)")
    def encodings(version: String): String = {
      val dir = freshDir()
      ParquetTable.write(df.coalesce(1), dir,
        ParquetLayout(dictionaryEnabled = false, writerVersion = Some(version)))
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(listParquet(dir).head.toString),
          spark.sparkContext.hadoopConfiguration))
      try {
        val cols = reader.getFooter.getBlocks.get(0).getColumns
        (0 until cols.size()).map(cols.get(_).getEncodings.toString).mkString(";")
      } finally reader.close()
    }
    val v1 = encodings("PARQUET_1_0")
    val v2 = encodings("PARQUET_2_0")
    assert(!v1.contains("DELTA"), s"v1 footer unexpectedly delta-encoded: $v1")
    assert(v2.contains("DELTA"), s"v2 footer missing delta encodings: $v2")
  }

  test("per-column bloom filters reach the footer and point lookups stay exact") {
    // high-cardinality point-lookup column: min/max zone maps can't skip
    // (values interleave across every row group); a bloom filter can
    val dir = freshDir()
    val df = spark.sql(
      "SELECT xxhash64(id) AS k, id AS payload FROM range(0, 20000)")
    ParquetTable.write(df.coalesce(1), dir,
      ParquetLayout(rowGroupBytes = Some(64 * 1024),
        bloomFilterColumns = Seq("k"), bloomFilterNdv = Map("k" -> 20000L)))
    val f = listParquet(dir).head.toString
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f),
        spark.sparkContext.hadoopConfiguration))
    try {
      val cols = reader.getFooter.getBlocks.get(0).getColumns
      def bloomOffset(name: String): Long =
        (0 until cols.size()).map(cols.get)
          .find(_.getPath.toDotString == name).get.getBloomFilterOffset
      assert(bloomOffset("k") >= 0, "column k must carry a bloom filter")
      assert(bloomOffset("payload") < 0, "payload must not")
    } finally reader.close()
    // read side: the stock reader consumes the filter transparently
    // (parquet.filter.bloom.enabled defaults true); results stay exact
    val probe = spark.sql("SELECT xxhash64(CAST(77 AS BIGINT)) AS k").head().getLong(0)
    val got = spark.read.parquet(dir).where(col("k") === probe).collect()
    assert(got.map(_.getLong(1)).toSeq === Seq(77L))
  }

  test("inferRowGroupBytes returns the source average (S18)") {
    val dir = freshDir()
    ParquetTable.write(Tables.customer(spark, sf()), dir, ParquetLayout())
    val avg = ParquetTable.inferRowGroupBytes(spark, dir)
    assert(avg > 0)
  }
}
