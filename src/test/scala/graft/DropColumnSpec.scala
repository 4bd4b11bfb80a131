package graft

import org.apache.spark.sql.functions._

import graft.sources.MutableParquetTable

/** `ALTER TABLE ... DROP COLUMN` as a METADATA-ONLY commit: the next
  * version references every data file in place under the narrowed
  * schema (scans stop projecting the column; parquet prunes it from old
  * files for free), CoW rewrites shed the bytes lazily, and the name is
  * BLOCKLISTED against re-ADD while pre-drop files survive — a by-name
  * parquet read would silently resurrect their stale values (the Delta
  * column-mapping hazard, solved here by refusal instead of mapping). */
class DropColumnSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(): String =
    java.nio.file.Files.createTempDirectory("graft-dropcol").toString

  private def ups(rows: (Long, Long, String)*) =
    rows.map { case (k, v, e) => (k, v, e, "upsert") }
      .toDF("k", "v", "extra", "op")

  private def seed(root: String): GraftTable =
    GraftTable.create(
      (0L until 100L).map(i => (i, i * 10, s"e$i")).toDF("k", "v", "extra"),
      root, "k", numFiles = 4)

  test("drop is metadata-only; reads narrow; time travel keeps the old shape") {
    val root = freshRoot()
    val t = seed(root)
    t.commit(ups((5L, 55L, "e5b"))) // v0
    val v = t.dropColumn("extra")   // v1
    assert(v === 1L)

    // metadata-only: the drop version owns zero data files
    val dataFiles = {
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.list(java.nio.file.Paths.get(s"$root/v$v"))
      try s.iterator().asScala.count(_.toString.endsWith(".parquet"))
      finally s.close()
    }
    assert(dataFiles === 0, "DROP COLUMN must be a reference-only commit")

    // reads narrow — and values are untouched
    val now = t.read()
    assert(now.schema.fieldNames.toSeq === Seq("k", "v"))
    assert(now.count() === 100)
    assert(now.where(col("k") === 5L).head().getLong(1) === 55L)

    // the schema is per-version state: pre-drop versions keep the column
    val old = MutableParquetTable(spark, s"$root/v0", "k").read()
    assert(old.schema.fieldNames.contains("extra"))
    assert(old.where(col("k") === 5L).head().getString(2) === "e5b")
  }

  test("blocklist: re-ADD refuses while pre-drop files survive; clears after replace") {
    val root = freshRoot()
    val t = seed(root)
    t.dropColumn("extra") // v0
    assert(MutableParquetTable.manifestDroppedColumns(s"$root/v0") ===
      Seq("extra"))

    // metadata ADD of the same name refuses (stale values would resurrect)
    val e = intercept[IllegalArgumentException] {
      OptimisticCommit.commitSchema(root, t.read().schema
        .add(org.apache.spark.sql.types.StructField("extra",
          org.apache.spark.sql.types.StringType)))
    }
    assert(e.getMessage.contains("DROPPED"), e.getMessage)

    // merge schema evolution with the same name refuses too
    val e2 = intercept[IllegalArgumentException] { t.commit(ups((5L, 1L, "zz"))) }
    assert(e2.getMessage.contains("DROPPED"), e2.getMessage)

    // a merge that carries files forward KEEPS the blocklist
    t.commit(Seq((5L, 1L, "upsert")).toDF("k", "v", "op")) // v1
    assert(MutableParquetTable.manifestDroppedColumns(s"$root/v1") ===
      Seq("extra"))

    // replace rewrites everything — no pre-drop file survives, the name
    // is safe to reuse
    t.replace((0L until 10L).map(i => (i, i)).toDF("k", "v")) // v2
    assert(MutableParquetTable.manifestDroppedColumns(s"$root/v2").isEmpty)
    t.commit(ups((3L, 3L, "fresh"))) // evolution re-adds cleanly
    assert(t.read().schema.fieldNames.contains("extra"))
    assert(t.read().where(col("k") === 0L).head()
      .isNullAt(2), "old rows read the re-added column as null")
  }

  test("guards: key columns and check-referenced columns refuse") {
    val root = freshRoot()
    val t = seed(root)
    intercept[IllegalArgumentException] { t.dropColumn("k") }
    intercept[IllegalArgumentException] { t.dropColumn("nope") }

    t.addCheck("v_pos", "v >= 0") // references v
    val e = intercept[IllegalArgumentException] { t.dropColumn("v") }
    assert(e.getMessage.contains("CHECK constraint"), e.getMessage)
    t.dropCheck("v_pos")
    t.dropColumn("v") // now fine
    assert(t.read().schema.fieldNames.toSeq === Seq("k", "extra"))
  }

  test("batched drops: one commit, atomic refusal, IF EXISTS skips") {
    val root = freshRoot()
    val t = GraftTable.create(
      (0L until 50L).map(i => (i, i * 10, s"e$i", s"f$i"))
        .toDF("k", "v", "extra", "extra2"),
      root, "k", numFiles = 2)
    // two drops = ONE metadata version (no half-applied DDL)
    val v = t.dropColumns(Seq("extra", "extra2"))
    assert(v === 0L)
    assert(t.read().schema.fieldNames.toSeq === Seq("k", "v"))
    assert(MutableParquetTable.manifestDroppedColumns(s"$root/v0").toSet ===
      Set("extra", "extra2"))

    // a bad name anywhere in the batch aborts the WHOLE statement
    val t2root = freshRoot()
    val t2 = seed(t2root)
    intercept[IllegalArgumentException] {
      t2.dropColumns(Seq("extra", "nope"))
    }
    assert(t2.read().schema.fieldNames.contains("extra"),
      "a failed batch must not half-apply")
    assert(t2.versions.isEmpty, "a failed batch must commit nothing")

    // IF EXISTS: missing names skip; all-missing is a version-less no-op
    val v2 = t2.dropColumns(Seq("extra", "nope"), ifExists = true)
    assert(t2.read().schema.fieldNames.toSeq === Seq("k", "v"))
    val v3 = t2.dropColumns(Seq("gone", "also_gone"), ifExists = true)
    assert(v3 === v2, "all-missing IF EXISTS batch is a no-op")
    assert(t2.versions.size === 1)
  }

  test("nested merge-key path: dropping the root struct column refuses") {
    val root = freshRoot()
    val df = spark.sql("""
      SELECT named_struct('uuid', concat('u', id), 'name', concat('n', id))
               AS person,
             id AS bal, concat('x', id) AS extra
      FROM range(0, 20)""")
    val t = GraftTable.create(df, root, "person.uuid", numFiles = 1)
    val e = intercept[IllegalArgumentException] { t.dropColumn("person") }
    assert(e.getMessage.contains("merge-key"), e.getMessage)
    t.dropColumn("extra") // non-key columns still drop fine
    assert(t.read().schema.fieldNames.toSeq === Seq("person", "bal"))
  }

  test("schema/check drift guards: a concurrent ALTER fails the stale publish") {
    val root = freshRoot()
    val t = seed(root)
    t.commit(ups((1L, 11L, "e1b"))) // v0
    val staleSchema = MutableParquetTable.manifestSchema(s"$root/v0").get
    val narrowed = org.apache.spark.sql.types.StructType(
      staleSchema.fields.filterNot(_.name == "extra"))

    // schema moved (concurrent ADD COLUMNS) after the drop was computed —
    // restaging the stale narrowed schema would erase `w`
    OptimisticCommit.commitSchema(root, staleSchema.add("w",
      org.apache.spark.sql.types.LongType)) // v1
    val e = intercept[IllegalStateException] {
      OptimisticCommit.commitSchema(root, narrowed,
        recordDropped = Seq("extra"), expectedSchema = Some(staleSchema))
    }
    assert(e.getMessage.contains("concurrent schema change"), e.getMessage)

    // checks moved (concurrent ADD CONSTRAINT) — a check referencing the
    // dropped column would become a ghost contract
    val root2 = freshRoot()
    val t2 = seed(root2)
    t2.commit(ups((1L, 11L, "e1b"))) // v0
    val s2 = MutableParquetTable.manifestSchema(s"$root2/v0").get
    t2.addCheck("extra_nn", "extra IS NOT NULL") // v1
    val e2 = intercept[IllegalStateException] {
      OptimisticCommit.commitSchema(root2,
        org.apache.spark.sql.types.StructType(
          s2.fields.filterNot(_.name == "extra")),
        recordDropped = Seq("extra"), expectedChecks = Some(Map.empty))
    }
    assert(e2.getMessage.contains("concurrent CHECK"), e2.getMessage)
    // the guarded surface end-to-end: dropColumns re-reads and refuses on
    // the check (validated against the CURRENT head, not the stale one)
    intercept[IllegalArgumentException] { t2.dropColumns(Seq("extra")) }
  }

  test("CoW rewrites shed the dropped column physically; carried files keep it until touched") {
    val root = freshRoot()
    val t = seed(root)
    t.dropColumn("extra") // v0
    t.commit(Seq((5L, 1L, "upsert")).toDF("k", "v", "op")) // v1: one file dirty
    val files = MutableParquetTable.manifestFileNames(s"$root/v1").get
      .map(n => MutableParquetTable.resolvePath(s"$root/v1", n))
    val shapes = files.map(f => spark.read.parquet(f).schema.fieldNames.toSet)
    assert(shapes.exists(_ === Set("k", "v")),
      "the rewritten file must shed the dropped column")
    assert(shapes.exists(_.contains("extra")),
      "carried files keep their physical bytes (that is the point)")
    // logical reads never see it regardless of physical shape
    assert(t.read().schema.fieldNames.toSeq === Seq("k", "v"))
    assert(t.read().count() === 100)
  }

  test("dim zone maps on the dropped column are shed; restore undoes the drop") {
    val root = freshRoot()
    val t = seed(root)
    t.commit(Seq((5L, 1L, "upsert")).toDF(
      "k", "v", "op").withColumn("extra", lit("x"))) // v0
    MutableParquetTable.attachDimRanges(spark, s"$root/v0", Seq("v", "extra"))
    assert(MutableParquetTable.manifestDimRanges(s"$root/v0")
      .keySet === Set("v", "extra"))
    t.dropColumn("extra") // v1
    assert(MutableParquetTable.manifestDimRanges(s"$root/v1")
      .keySet === Set("v"), "zone maps on a dropped column are dead weight")

    // RESTORE to the pre-drop version brings the column (and its values)
    // back — the drop is versioned state like everything else
    t.restoreTo(0L) // v2
    assert(t.read().schema.fieldNames.contains("extra"))
    assert(MutableParquetTable.manifestDroppedColumns(s"$root/v2").isEmpty)
  }

  test("CDF reads pre-drop feeds under the narrowed schema (clipped structs)") {
    val root = freshRoot()
    val t = GraftTable.create(
      spark.range(0, 20).select(col("id"), (col("id") * 2).as("v"),
        concat(lit("t"), col("id")).as("tag")),
      root, "id", numFiles = 1)
    t.commitWithFeed(Seq((3L, 33L, "x3", "upsert"))
      .toDF("id", "v", "tag", "op"))     // v0 — feed structs carry `tag`
    t.dropColumn("tag")                  // v1, metadata-only
    t.commitWithFeed(Seq((4L, 44L, "upsert"))
      .toDF("id", "v", "op"))            // v2 — narrowed feed

    val feed = spark.read.format("graft").option("changeFeed", "true")
      .load(root)
    val afterFields = feed.schema("after").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames.toSeq
    assert(afterFields === Seq("v"),
      "the feed schema follows the CURRENT table shape")
    val got = feed
      .select(col("id"), col("_commit_version").as("cv"), col("after.v"))
      .orderBy("cv").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // v0's wider feed file reads CLIPPED — values intact, tag invisible
    assert(got === Seq((3L, 0L, 33L), (4L, 2L, 44L)))
  }

  test("optimistic metadata rebase carries the blocklist") {
    val root = freshRoot()
    val t = seed(root) // 4 key-disjoint files
    t.dropColumn("extra") // v0
    val mine = Seq.tabulate(5)(i => (i.toLong, -i.toLong, "upsert"))
      .toDF("k", "v", "op")                 // dirties the first file only
    val theirs = Seq.tabulate(5)(i => (90L + i, -(90L + i), "upsert"))
      .toDF("k", "v", "op")                 // dirties the last file only
    var fired = false
    val r = OptimisticCommit.commit(spark, root, "k", mine,
      testHookAfterStage = () => {
        if (!fired) { fired = true
          OptimisticCommit.commit(spark, root, "k", theirs)
        }
      })
    assert(r.rebases === 1, "disjoint files must resolve by manifest rebase")
    assert(MutableParquetTable.manifestDroppedColumns(
      s"$root/v${r.version}") === Seq("extra"),
      "the rebased manifest must keep the dropped-column blocklist")
    intercept[IllegalArgumentException] { t.commit(ups((1L, 1L, "zz"))) }
  }

  test("bucketed layout: drop survives; the bucket-routed merge reads narrowed") {
    val root = freshRoot()
    val t = GraftTable.create(
      spark.range(0, 200).select(col("id").as("k"), (col("id") + 1).as("v"),
        concat(lit("e"), col("id")).as("extra")),
      root, "k", numFiles = 4, buckets = Some(4))
    t.dropColumn("extra") // v0
    assert(MutableParquetTable.manifestBuckets(s"$root/v0") === Some(4))
    t.commit(Seq((3L, 30L, "upsert")).toDF("k", "v", "op")) // v1
    assert(t.read().schema.fieldNames.toSeq === Seq("k", "v"))
    assert(t.read().where(col("k") === 3L).head().getLong(1) === 30L)
    assert(t.read().count() === 200)
    assert(MutableParquetTable.manifestDroppedColumns(s"$root/v1") ===
      Seq("extra"), "the bucketed merge carries the blocklist")
  }

  test("SQL surface: ALTER TABLE DROP COLUMN by name; ADD of the name refuses") {
    val w = java.nio.file.Files.createTempDirectory("graft-dropcol-cat").toString
    spark.conf.set("spark.sql.catalog.dc",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.dc.root", w)
    spark.sql("""CREATE TABLE dc.ns.d (k BIGINT, v BIGINT, extra STRING)
      USING graft TBLPROPERTIES ('key' = 'k')""")
    spark.sql("INSERT INTO dc.ns.d SELECT id, id * 2, concat('e', id) FROM range(0, 20)")
    spark.sql("ALTER TABLE dc.ns.d DROP COLUMN extra")
    val got = spark.sql("SELECT * FROM dc.ns.d ORDER BY k")
    assert(got.schema.fieldNames.toSeq === Seq("k", "v"))
    assert(got.count() === 20)

    val e = intercept[Exception] {
      spark.sql("ALTER TABLE dc.ns.d ADD COLUMN extra STRING")
    }
    def msg(x: Throwable): String =
      Option(x.getMessage).getOrElse("") +
        Option(x.getCause).map(msg).getOrElse("")
    assert(msg(e).contains("DROPPED"), msg(e))

    // DML keeps working on the narrowed shape
    spark.sql("UPDATE dc.ns.d SET v = 0 WHERE k = 3")
    assert(spark.sql("SELECT v FROM dc.ns.d WHERE k = 3").head().getLong(0) === 0L)

    // IF EXISTS on a missing column is a no-op, not an error
    spark.sql("ALTER TABLE dc.ns.d DROP COLUMN IF EXISTS never_was")
    assert(spark.sql("SELECT * FROM dc.ns.d").schema.fieldNames.toSeq ===
      Seq("k", "v"))
    // multi-column DROP lands as ONE metadata version
    spark.sql("ALTER TABLE dc.ns.d ADD COLUMNS (a BIGINT, b BIGINT)")
    val before = graft.streaming.CdcMergeSink.versions(s"$w/ns/d").last
    spark.sql("ALTER TABLE dc.ns.d DROP COLUMNS (a, b)")
    assert(graft.streaming.CdcMergeSink.versions(s"$w/ns/d").last ===
      before + 1, "a multi-column DROP must be one atomic commit")
    assert(spark.sql("SELECT * FROM dc.ns.d").schema.fieldNames.toSeq ===
      Seq("k", "v"))
  }

  test("compact after drop PURGES the stale bytes and clears the blocklist") {
    val root = freshRoot()
    val t = seed(root)
    t.dropColumn("extra") // v0, metadata-only — files still carry the bytes
    val v = t.compact(1L << 20) // v1 — must rewrite, not byte-splice
    assert(t.read().schema.fieldNames.toSeq === Seq("k", "v"),
      "a compact must never resurrect a dropped column into the schema")
    assert(t.read().count() === 100)
    // the purge is PHYSICAL: every output file sheds the column
    val files = MutableParquetTable.manifestFileNames(s"$root/v$v").get
      .map(n => MutableParquetTable.resolvePath(s"$root/v$v", n))
    files.foreach(f =>
      assert(!spark.read.parquet(f).schema.fieldNames.contains("extra"),
        s"$f still physically carries the dropped column after compact"))
    // ... so the blocklist clears — compact IS guardResurrected's
    // documented remedy — and a re-ADD sees only fresh NULLs
    assert(MutableParquetTable.manifestDroppedColumns(s"$root/v$v").isEmpty)
    OptimisticCommit.commitSchema(root, t.read().schema
      .add("extra", org.apache.spark.sql.types.StringType)) // v2
    val back = t.read()
    assert(back.schema.fieldNames.contains("extra"))
    assert(back.where(col("extra").isNotNull).count() === 0,
      "re-ADD after a purging compact must not resurrect stale values")
  }

  test("compact keeps a metadata-widened schema (spliced footers predate the ALTER)") {
    val root = freshRoot()
    val t = seed(root)
    OptimisticCommit.commitSchema(root, t.read().schema
      .add("w", org.apache.spark.sql.types.LongType)) // v0, metadata-only
    val v = t.compact(1L << 20) // v1 — splice path; old footers lack `w`
    assert(v === 1L)
    val now = t.read()
    assert(now.schema.fieldNames.toSeq === Seq("k", "v", "extra", "w"),
      "compact must commit the LOGICAL schema, not a footer probe")
    assert(now.count() === 100)
    assert(now.where(col("w").isNotNull).count() === 0)
  }

  test("bucketed compact after drop purges while keeping the bucket layout") {
    val root = freshRoot()
    val t = GraftTable.create(
      spark.range(0, 200).select(col("id").as("k"), (col("id") + 1).as("v"),
        concat(lit("e"), col("id")).as("extra")),
      root, "k", numFiles = 4, buckets = Some(4))
    t.dropColumn("extra") // v0
    val v = t.compact(1L << 20) // v1 — bucketed purge rewrite
    assert(MutableParquetTable.manifestBuckets(s"$root/v$v") === Some(4),
      "the purge rewrite must keep the table's bucket contract")
    assert(MutableParquetTable.manifestDroppedColumns(s"$root/v$v").isEmpty)
    assert(t.read().schema.fieldNames.toSeq === Seq("k", "v"))
    assert(t.read().count() === 200)
    // the bucket-routed merge still works on the compacted layout
    t.commit(Seq((3L, 30L, "upsert")).toDF("k", "v", "op")) // v2
    assert(t.read().where(col("k") === 3L).head().getLong(1) === 30L)
  }

  test("dropping a dim-mapped column leaves a string key bound ending in ',]' intact") {
    val root = freshRoot()
    val df = Seq(("aaa", 1L, "x"), ("zzz,]", 2L, "y")).toDF("k", "v", "extra")
    val t = GraftTable.create(df, root, "k", numFiles = 1)
    t.commit(Seq(("aaa", 5L, "x2", "upsert"))
      .toDF("k", "v", "extra", "op")) // v0
    MutableParquetTable.attachDimRanges(spark, s"$root/v0", Seq("extra"))
    t.dropColumn("extra") // v1 — the drop sheds the column's dim entries
    val ranges = MutableParquetTable.manifestRanges(s"$root/v1", "k").get
    assert(ranges.exists(_.maxBytes.sameElements(
        graft.sources.KeyBytes.fromString("zzz,]"))),
      "a global ',]' cleanup must not rewrite a key bound that ends in ',]'")
    assert(MutableParquetTable.manifestDimRanges(s"$root/v1").isEmpty)
    // and the bound still routes merges to the right file
    t.commit(Seq(("zzz,]", 9L, "upsert")).toDF("k", "v", "op")) // v2
    assert(t.read().where(col("k") === "zzz,]").head().getLong(1) === 9L)
    assert(t.read().count() === 2)
  }

  test("a dropped column whose name holds a comma stays blocklisted") {
    val root = freshRoot()
    val t = GraftTable.create(
      (0L until 20L).map(i => (i, i * 10, s"e$i")).toDF("k", "v", "a,b"),
      root, "k", numFiles = 2)
    t.dropColumn("a,b") // v0
    // re-adding the name would resurrect the pre-drop values still in
    // the files (k=7 would read "e7" where it must read null)
    val e = intercept[IllegalArgumentException] {
      t.commit(Seq((1L, 1L, "zz", "upsert")).toDF("k", "v", "a,b", "op"))
    }
    assert(e.getMessage.contains("DROPPED"), e.getMessage)
    assert(MutableParquetTable.manifestDroppedColumns(s"$root/v0") ===
      Seq("a,b"))
    assert(t.read().schema.fieldNames.toSeq === Seq("k", "v"))
  }
}
