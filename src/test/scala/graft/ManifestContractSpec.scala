package graft

import org.apache.spark.sql.functions._

import graft.sources.{GraftChecks, MutableParquetTable => MPT}

/** The MANIFEST FIELD CONTRACT, as a matrix: one maximally-featured
  * table (checks + dropped-column blocklist + per-file bytes + dim zone
  * maps + txn marker + feed stamp) driven through every stager, with
  * each field asserted to CARRY (durable table state), UPDATE (the
  * stager's own edit), or STRIP (volatile per-commit stamps). Cross-
  * feature bugs live exactly here — a stager that copies the source
  * manifest verbatim inherits stamps it must not (the feedPending bug),
  * one that rebuilds it from scratch drops state it must keep (the
  * truncate-loses-checks bug). */
class ManifestContractSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(): String =
    java.nio.file.Files.createTempDirectory("graft-contract").toString

  /** A table with every durable manifest feature populated, plus the
    * volatile stamps, at its latest version. */
  private def featured(root: String): GraftTable = {
    val t = GraftTable.create(
      (0L until 100L).map(i => (i, i + 1, i * 3, s"e$i"))
        .toDF("k", "v", "d", "extra"),
      root, "k", numFiles = 4,
      checks = Map("v_pos" -> "v > 0"))
    t.dropColumn("extra")                               // v0: blocklist
    t.commitWithFeed(Seq((5L, 55L, 15L, "upsert"))
      .toDF("k", "v", "d", "op"))                       // v1: feed stamp
    MPT.attachDimRanges(spark, s"$root/v1", Seq("d"))   // dim zone map
    MPT.annotateTxn(s"$root/v1", "appX", 7L)            // txn marker
    t
  }

  private def latest(root: String): String =
    graft.streaming.CdcMergeSink.latestSnapshot(root)

  /** Assert the DURABLE fields at `dir` match the featured fixture. */
  private def assertDurable(dir: String, label: String,
                            expectedChecks: Set[String] = Set("v_pos")): Unit = {
    assert(GraftChecks.manifestChecks(dir).keySet === expectedChecks,
      s"$label: checks")
    assert(MPT.manifestDroppedColumns(dir) === Seq("extra"),
      s"$label: dropped-column blocklist")
    val bytes = MPT.manifestBytesByName(dir)
    val names = MPT.manifestFileNames(dir).get.map(_.split('/').last)
    assert(names.nonEmpty && names.forall(bytes.contains),
      s"$label: every entry sized (have ${bytes.keySet}, want $names)")
  }

  private def assertVolatileStripped(dir: String, label: String): Unit = {
    val m = java.nio.file.Files.readString(
      java.nio.file.Paths.get(dir, MPT.ManifestName))
    assert(!m.contains("\"feedPending\""),
      s"$label must not inherit feedPending — CDF reads would refuse " +
        "as a crashed commitWithFeed")
    assert(!m.contains("\"txnApp\""),
      s"$label must not re-declare another writer's epoch")
  }

  test("metadata stagers: durable state carries, volatile stamps strip, dims survive") {
    val root = freshRoot()
    val t = featured(root)

    t.addCheck("d_any", "d >= 0") // v2: stageChecksChange
    val v2 = s"$root/v2"
    assertDurable(v2, "checks-change", Set("v_pos", "d_any"))
    assertVolatileStripped(v2, "checks-change")
    assert(MPT.manifestDimRanges(v2).keySet === Set("d"),
      "dim zone maps must re-address through a metadata commit")
    t.dropCheck("d_any") // back to the fixture contract

    OptimisticCommit.commitSchema(root, // v4: stageSchemaChange (widen)
      MPT.manifestSchema(latest(root)).get
        .add(org.apache.spark.sql.types.StructField("note",
          org.apache.spark.sql.types.StringType)))
    val v4 = latest(root)
    assertDurable(v4, "schema-change")
    assertVolatileStripped(v4, "schema-change")
    assert(MPT.manifestDimRanges(v4).keySet === Set("d"))

    t.restoreTo(1L) // v5: stageRestoreManifest — back to the v1 state
    val v5 = latest(root)
    assertDurable(v5, "restore")
    assertVolatileStripped(v5, "restore")
    assert(!MPT.manifestSchema(v5).get.fieldNames.contains("note"),
      "restore reverts the schema with everything else")
  }

  test("data merge: durable state carries, dims re-address, rewrites re-sweep") {
    val root = freshRoot()
    val t = featured(root)
    t.commit(Seq((7L, 77L, 21L, "upsert")).toDF("k", "v", "d", "op")) // v2
    val v2 = s"$root/v2"
    assertDurable(v2, "merge")
    assertVolatileStripped(v2, "merge")
    // dim entries: carried files keep theirs (re-addressed), the
    // rewritten file gets a fresh footer sweep — full coverage persists
    val dims = MPT.manifestDimRanges(v2)("d")
    assert(dims.size === MPT.manifestFileNames(v2).get.size,
      "every file must keep a dim entry through the merge")
    // checks still enforce after the chain of stagers
    intercept[GraftChecks.CheckViolation] {
      t.commit(Seq((1L, -1L, 0L, "upsert")).toDF("k", "v", "d", "op"))
    }
    // blocklist still bites after the chain of stagers
    intercept[IllegalArgumentException] {
      t.commit(Seq((1L, 1L, 0L, "zz", "upsert"))
        .toDF("k", "v", "d", "extra", "op"))
    }
  }

  test("zone DELETE and UPDATE: durable state carries, volatile strips") {
    val root = freshRoot()
    val t = featured(root)
    t.deleteWhere(col("k") >= 90L) // v2: zone path (key-range)
    assertDurable(latest(root), "zone-delete")
    assertVolatileStripped(latest(root), "zone-delete")
    t.updateWhere(col("k") === 3L, "v" -> lit(333L)) // v3
    assertDurable(latest(root), "zone-update")
    assertVolatileStripped(latest(root), "zone-update")
    assert(t.read().count() === 90)
  }

  test("replace: contract carries, content-derived state resets") {
    val root = freshRoot()
    val t = featured(root)
    t.replace((0L until 10L).map(i => (i, i + 1, i * 3))
      .toDF("k", "v", "d"))
    val dir = latest(root)
    assert(GraftChecks.manifestChecks(dir) === Map("v_pos" -> "v > 0"),
      "checks are the write contract — they survive a replace")
    assert(MPT.manifestDroppedColumns(dir).isEmpty,
      "no pre-drop file survives a replace — the blocklist clears")
    val bytes = MPT.manifestBytesByName(dir)
    val names = MPT.manifestFileNames(dir).get.map(_.split('/').last)
    assert(names.forall(bytes.contains), "fresh files sized at commit")
    assertVolatileStripped(dir, "replace")
  }
}
