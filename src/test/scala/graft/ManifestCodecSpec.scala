package graft

import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.scalacheck.{Gen, Prop, Test}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{GraftChecks, GraftDefaults, Manifest, MutableParquetTable => MPT}

/** The `_manifest.json` codec: every value round-trips, whatever the
  * names and keys hold; and every manifest the previous hand-built
  * writer produced (`src/test/resources/manifests/`, each with the
  * accessor values that writer's regex readers returned) still reads to
  * the same values. */
class ManifestCodecSpec extends AnyFunSuite {

  /** Strings built from the characters a hand-rolled JSON splice gets
    * wrong: list separators, quotes, backslashes, control characters,
    * brackets, and non-BMP code points (surrogate pairs). */
  private val hostile: Gen[String] = Gen.listOf(Gen.frequency(
    4 -> Gen.oneOf(",", "\"", "\\", "}", "]", "{", "[", ":", "\\u0000",
      "a,b", "\"x\":1,"),
    2 -> Gen.choose(0, 0x1f).map(c => c.toChar.toString),
    2 -> Gen.choose(0x10000, 0x10FFFF).map(cp => new String(Character.toChars(cp))),
    2 -> Gen.oneOf(Gen.choose(0x20, 0xD7FF), Gen.choose(0xE000, 0xFFFD))
      .map(c => c.toChar.toString),
    3 -> Gen.alphaStr)).map(_.mkString)

  private val pairs: Gen[Map[String, String]] =
    Gen.listOf(Gen.zip(hostile, hostile)).map(kv => ListMap(kv: _*))

  private val entry: Gen[Manifest.Entry] = for {
    file <- hostile
    range <- Gen.option(for {
      mn <- hostile; mx <- hostile
      rows <- Gen.choose(0L, Long.MaxValue)
      nulls <- Gen.choose(-1L, Long.MaxValue)
    } yield Manifest.KeyRange(mn, mx, rows, nulls))
    bytes <- Gen.option(Gen.choose(0L, Long.MaxValue))
  } yield Manifest.Entry(file, range, bytes)

  private val dim: Gen[Manifest.DimEntry] = for {
    f <- hostile; c <- hostile; t <- hostile; mn <- hostile; mx <- hostile
  } yield Manifest.DimEntry(f, c, t, mn, mx)

  private val schema: Gen[StructType] =
    Gen.nonEmptyListOf(Gen.zip(hostile, Gen.oneOf(LongType, StringType)))
      .map(fs => StructType(fs.map { case (n, t) => StructField(n, t) }))

  private val manifest: Gen[Manifest] = for {
    key <- hostile
    keyType <- Gen.oneOf(Gen.oneOf("long", "string", "binary", "unknown"), hostile)
    moreKeys <- Gen.listOf(hostile)
    files <- Gen.listOf(entry)
    sch <- Gen.option(schema)
    committed <- Gen.option(Gen.choose(0L, Long.MaxValue))
    tombstones <- Gen.choose(0L, 1000L)
    buckets <- Gen.option(Gen.choose(1, 4096))
    checks <- pairs
    defaults <- pairs
    generated <- pairs
    dropped <- Gen.listOf(hostile)
    widened <- Gen.listOf(hostile)
    renames <- pairs
    features <- Gen.listOf(hostile.suchThat(_ != "columnRenames"))
    dims <- Gen.listOf(dim)
    txn <- Gen.option(Gen.zip(hostile, Gen.choose(Long.MinValue, Long.MaxValue)))
    feed <- Gen.oneOf(true, false)
  } yield Manifest(key, keyType, moreKeys, files, sch, committed, tombstones,
    buckets, checks, defaults, generated, dropped, widened, renames,
    // the writer derives the rename feature stamp from the mapping
    features ++ (if (renames.isEmpty) Nil else Seq("columnRenames")),
    dims, txn, feed)

  private def check(p: Prop): Unit = {
    val r = Test.check(Test.Parameters.default
      .withMinSuccessfulTests(300).withMaxSize(12), p)
    assert(r.passed, org.scalacheck.util.Pretty.pretty(r))
  }

  test("every manifest value round-trips through the codec") {
    check(Prop.forAll(manifest) { m =>
      val dir = Files.createTempDirectory("graft-codec").toString
      Manifest.write(dir, m)
      Manifest.read(dir).exists(r => r == m &&
        // declaration order is reported order
        Seq[Manifest => Map[String, String]](_.checks, _.defaults,
          _.generated).forall(f => f(r).toSeq == f(m).toSeq))
    })
  }

  test("list fields are JSON arrays; comma-joined legacy strings still read") {
    val dir = Files.createTempDirectory("graft-codec-lists").toString
    Manifest.write(dir, Manifest("k", moreKeys = Seq("a,b", "c"),
      droppedColumns = Seq("x,y"), widenedColumns = Seq("w,1")))
    val text = Files.readString(Paths.get(dir, MPT.ManifestName))
    assert(text.contains("\"moreKeys\":[\"a,b\",\"c\"]"), text)
    assert(text.contains("\"droppedColumns\":[\"x,y\"]"), text)
    assert(text.contains("\"widenedColumns\":[\"w,1\"]"), text)
    Files.writeString(Paths.get(dir, MPT.ManifestName),
      """{"key":"k","keyType":"unknown","moreKeys":"a,b",""" +
        """"droppedColumns":"x,y","widenedColumns":"w","files":[]}""")
    val legacy = Manifest.read(dir).get
    assert(legacy.moreKeys === Seq("a", "b"))
    assert(legacy.droppedColumns === Seq("x", "y"))
    assert(legacy.widenedColumns === Seq("w"))
    assert(legacy.committedAtMs.isEmpty)
  }

  test("txn sidecars written by the earlier hand-built writer still read") {
    val root = Files.createTempDirectory("graft-txns").toString
    // that writer escaped only quotes and backslashes
    Files.write(Paths.get(root, "_txns.json"),
      "{\"a\\\"pp\":3,\"b\\\\x\":-1,\"c\u0001d\":7}".getBytes("UTF-8"))
    assert(graft.streaming.CdcMergeSink.sidecarEpochs(root) ===
      Map("a\"pp" -> 3L, "b\\x" -> -1L, "c\u0001d" -> 7L))
  }

  private val fixtureDir =
    Paths.get(getClass.getResource("/manifests").toURI)

  private def fixtures: Seq[String] = {
    val s = Files.list(fixtureDir)
    try s.iterator().asScala.map(_.getFileName.toString)
      .filter(_.endsWith(".expected.json"))
      .map(_.stripSuffix(".expected.json")).toList.sorted
    finally s.close()
  }

  private def hex(b: Array[Byte]): String = b.map(x => f"$x%02x").mkString

  test("manifests written by the previous writer read to the same values") {
    assert(fixtures.size >= 25, s"fixtures: $fixtures")
    fixtures.foreach { name =>
      val e = Manifest.mapper.readTree(
        fixtureDir.resolve(s"$name.expected.json").toFile)
      val root = Files.createTempDirectory("graft-fixture").toString
      val dir = s"$root/${e.get("dir").asText}"
      Files.createDirectories(Paths.get(dir))
      Files.copy(fixtureDir.resolve(s"$name.json"),
        Paths.get(dir, MPT.ManifestName))
      // entries may reference a sibling table root next to this one
      def strip(p: String) =
        if (p.startsWith(root)) "$ROOT" + p.stripPrefix(root)
        else "$PARENT" + p.stripPrefix(Paths.get(root).getParent.toString)
      def str(n: JsonNode): Option[String] =
        Option(n).filterNot(_.isNull).map(_.asText)
      def long(n: JsonNode): Option[Long] =
        Option(n).filterNot(_.isNull).map(_.asLong)
      def strs(f: String): Seq[String] =
        e.get(f).elements.asScala.map(_.asText).toSeq
      def kvs(f: String): Seq[(String, String)] =
        e.get(f).elements.asScala.map(p => p.get(0).asText -> p.get(1).asText).toSeq
      def same(what: String, got: Any, want: Any): Unit =
        assert(got == want, s"$name: $what")

      val m = Manifest.read(dir).get
      same("key", Some(m.key), str(e.get("key")))
      same("moreKeys", MPT.manifestMoreKeys(dir), strs("moreKeys"))
      same("fileNames", MPT.manifestFileNames(dir).get, strs("fileNames"))
      same("exactRowCount", MPT.manifestExactRowCount(dir),
        long(e.get("exactRowCount")))
      same("schema", MPT.manifestSchema(dir).map(_.json), str(e.get("schema")))
      same("renames", MPT.manifestRenames(dir).toSeq.sorted, kvs("renames"))
      same("dropped", MPT.manifestDroppedColumns(dir), strs("dropped"))
      same("widened", MPT.manifestWidened(dir), strs("widened"))
      same("bytesByName", MPT.manifestBytesByName(dir),
        e.get("bytesByName").properties.asScala
          .map(p => p.getKey -> p.getValue.asLong).toMap)
      same("requiredFeatures", MPT.manifestRequiredFeatures(dir),
        strs("requiredFeatures"))
      same("committedAtMs", m.committedAtMs, long(e.get("committedAtMs")))
      same("feedPending", m.feedPending, e.get("feedPending").asBoolean)
      same("tombstoneRows", MPT.manifestTombstoneRows(dir),
        e.get("tombstoneRows").asLong)
      same("buckets", MPT.manifestBuckets(dir), long(e.get("buckets")).map(_.toInt))
      same("txn", MPT.manifestTxn(dir), Option(e.get("txn")).filterNot(_.isNull)
        .map(t => (t.get(0).asText, t.get(1).asLong)))
      same("checks", GraftChecks.manifestChecks(dir).toSeq, kvs("checks"))
      same("defaults", GraftDefaults.manifestDefaults(dir).toSeq, kvs("defaults"))
      same("generated", GraftDefaults.manifestGenerated(dir).toSeq,
        kvs("generated"))
      same("ranges", MPT.manifestRanges(dir, m.key).getOrElse(Nil).map(r =>
          Seq(strip(r.file), r.min match {
            case b: Array[Byte] => hex(b)
            case o => String.valueOf(o)
          }, r.max match {
            case b: Array[Byte] => hex(b)
            case o => String.valueOf(o)
          }, hex(r.minBytes), hex(r.maxBytes), r.rowCount.toString,
            r.nullKeys.toString)),
        e.get("ranges").elements.asScala.map(r => Seq("file", "min", "max",
          "minBytes", "maxBytes", "rows", "nullKeys").map(r.get(_).asText)).toSeq)
      same("dimRanges", MPT.manifestDimRanges(dir).toSeq.sortBy(_._1)
          .flatMap { case (c, rs) => rs.map(r =>
            Seq(c, strip(r.file), hex(r.minBytes), hex(r.maxBytes))) },
        e.get("dimRanges").elements.asScala.map(d => Seq("col", "file",
          "minBytes", "maxBytes").map(d.get(_).asText)).toSeq)
      same("prune", MPT.pruneManifestFiles(dir, None, None)
          .map { case (k, fs) => (k, fs.map(strip)) },
        str(e.get("pruneKey")).map(k => (k, strs("pruneFiles"))))
      same("fileCount", Some(m.files.size.toLong), long(e.get("fileCount")))
      same("totalRows", Some(m.totalRows), long(e.get("totalRows")))
      // and the value survives a rewrite by the current writer
      Manifest.write(dir, m)
      same("rewrite", Manifest.read(dir), Some(m))
    }
  }
}
