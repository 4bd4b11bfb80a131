package graft.sources

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.json.JsonReadFeature
import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.json.JsonMapper

import org.apache.spark.sql.types.{DataType, StructType}

/** A snapshot's commit marker and zone map — the typed form of
  * `_manifest.json`. Every reader parses it with [[Manifest.read]], every
  * edit is a `copy`, and [[Manifest.write]] is the only code that writes
  * the file (temp file + atomic rename; the file's presence IS the
  * commit).
  *
  * Fields:
  *  - `key`/`moreKeys`: the merge identity (leading routing key + the
  *    composite members); `keyType` says how entry bounds decode
  *    (`long` | `string` | `binary` hex | `unknown` = no ranged entry);
  *  - `files`: the inventory — bare names for local files, `../vN/...`
  *    references into sibling snapshots — each with its key range and
  *    row count when the footer had key stats, and its byte size when
  *    recorded at commit time;
  *  - `schema`: the LOGICAL table schema (readers build relations with
  *    zero footer probes);
  *  - durable table state carried by every commit: `buckets`, `checks`,
  *    `defaults`, `generated`, `renames` (logical → physical), and the
  *    survivor markers `droppedColumns` / `widenedColumns`;
  *  - `dimRanges`: non-key per-file zone maps ([[MutableParquetTable.attachDimRanges]]);
  *  - `tombstoneRows`: size of the `_tombstones` sidecar (0 = none);
  *  - `layout`: the parquet layout the table was created with (codec,
  *    row-group and page sizes, dictionary, bloom filters, writer
  *    version; never a file-count cap) — every rewrite writes under it,
  *    so a merge keeps a rewritten file's codec and group size;
  *  - volatile per-commit stamps: `committedAtMs`, the streaming `txn`
  *    marker and `feedPending`;
  *  - `requiredFeatures`: names a reader must implement to read the
  *    snapshot correctly; `columnRenames` is derived from `renames` on
  *    write. */
final case class Manifest(
    key: String,
    keyType: String = "unknown",
    moreKeys: Seq[String] = Nil,
    files: Seq[Manifest.Entry] = Nil,
    schema: Option[StructType] = None,
    committedAtMs: Option[Long] = None,
    tombstoneRows: Long = 0L,
    buckets: Option[Int] = None,
    checks: Map[String, String] = ListMap.empty,
    defaults: Map[String, String] = ListMap.empty,
    generated: Map[String, String] = ListMap.empty,
    droppedColumns: Seq[String] = Nil,
    widenedColumns: Seq[String] = Nil,
    renames: Map[String, String] = Map.empty,
    requiredFeatures: Seq[String] = Nil,
    dimRanges: Seq[Manifest.DimEntry] = Nil,
    txn: Option[(String, Long)] = None,
    feedPending: Boolean = false,
    layout: ParquetLayout = ParquetLayout()) {

  import Manifest._

  def fileNames: Seq[String] = files.map(_.file)

  /** Rows of the ranged entries (stat-less entries carry no count). */
  def totalRows: Long = files.flatMap(_.range).map(_.rows).sum

  /** Recorded byte sizes by file NAME; entries written before sizes were
    * recorded are absent (consumers fall back per entry). */
  def bytesByName: Map[String, Long] =
    files.flatMap(e => e.bytes.map(baseName(e.file) -> _)).toMap

  /** The typed zone map: one range per ranged entry (file resolved
    * against `dir`), decoded to the values the footer path yields —
    * normalized longs, strings, raw binary. None when no entry is ranged
    * (`keyType` unknown). */
  def ranges(dir: String): Option[Seq[ParquetStats.FileKeyRange]] = {
    val decode: String => (Any, Array[Byte]) = keyType match {
      case "long" => s =>
        val l = s.toLong; (java.lang.Long.valueOf(l), KeyBytes.fromLong(l))
      case "binary" => s => val b = hexDecode(s); (b, b)
      case "string" => s => (s, KeyBytes.fromString(s))
      case _ => return None
    }
    Some(files.flatMap(e => e.range.map { r =>
      val (mn, mnB) = decode(r.minKey)
      val (mx, mxB) = decode(r.maxKey)
      ParquetStats.FileKeyRange(MutableParquetTable.resolvePath(dir, e.file),
        mn, mx, mnB, mxB, r.rows, r.nullKeys)
    }))
  }

  /** Exact row count from metadata alone: Some only when every entry is
    * ranged (a stat-less file's rows are not recorded). */
  def exactRowCount: Option[Long] =
    if (keyType == "unknown" || !files.forall(_.range.isDefined)) None
    else Some(totalRows)

  /** Non-key zone maps: column → per-file encoded bounds (files resolved
    * against `dir`). */
  def dims(dir: String): Map[String, Seq[MutableParquetTable.DimRange]] =
    dimRanges.map { d =>
      val enc: String => Array[Byte] = d.dtype match {
        case "long"   => s => KeyBytes.fromLong(s.toLong)
        case "binary" => hexDecode
        case _        => KeyBytes.fromString
      }
      d.column -> MutableParquetTable.DimRange(
        MutableParquetTable.resolvePath(dir, d.file), enc(d.min), enc(d.max))
    }.groupBy(_._1).view.mapValues(_.map(_._2)).toMap

  /** This manifest moved from snapshot `fromDir` to `toDir`: every file
    * and dim entry re-addressed relative to `toDir`, pointing at the same
    * physical file. */
  def readdressed(fromDir: String, toDir: String): Manifest = {
    def move(e: String) = MutableParquetTable.relativize(toDir,
      MutableParquetTable.resolvePath(fromDir, e))
    copy(files = files.map(e => e.copy(file = move(e.file))),
      dimRanges = dimRanges.map(d => d.copy(file = move(d.file))))
  }

  /** Volatile per-commit stamps removed — what a metadata commit staged
    * from this manifest must not inherit (no feed is written for it, and
    * another writer's epoch must not be re-declared at the head). */
  def withoutStamps: Manifest = copy(txn = None, feedPending = false)

  /** Dim entries on `cols` (case-insensitive) removed. */
  def withoutDims(cols: Seq[String]): Manifest =
    copy(dimRanges = dimRanges.filterNot(d =>
      cols.exists(_.equalsIgnoreCase(d.column))))
}

object Manifest {

  /** One inventory entry. */
  final case class Entry(file: String, range: Option[KeyRange] = None,
                         bytes: Option[Long] = None)

  /** An entry's leading-key bounds in manifest text form (see
    * [[Manifest.keyRepr]]); `nullKeys` -1 = unknown (written before null
    * counts were recorded). */
  final case class KeyRange(minKey: String, maxKey: String, rows: Long,
                            nullKeys: Long = -1L)

  /** One non-key zone-map entry: `dtype` is `long` | `string` | `binary`. */
  final case class DimEntry(file: String, column: String, dtype: String,
                            min: String, max: String)

  /** The JSON mapper for graft's metadata files. Unescaped control
    * characters are accepted on read: sidecars written before this codec
    * escaped only quotes and backslashes. */
  private[graft] val mapper: JsonMapper = JsonMapper.builder()
    .enable(JsonReadFeature.ALLOW_UNESCAPED_CONTROL_CHARS)
    .build()

  /** The parsed manifest of `dir`, or None when `dir` is not committed. */
  def read(dir: String): Option[Manifest] = {
    val p = Paths.get(dir, MutableParquetTable.ManifestName)
    if (Files.exists(p)) Some(decode(Files.readAllBytes(p))) else None
  }

  /** The parsed manifest of `dir`; throws when `dir` is not committed. */
  def get(dir: String, why: => String = "not a committed snapshot")
      : Manifest =
    read(dir).getOrElse(throw new IllegalStateException(
      s"$dir has no ${MutableParquetTable.ManifestName} — $why"))

  /** Commit `m` as `dir`'s manifest: temp file + atomic rename. The only
    * writer of `_manifest.json`. */
  def write(dir: String, m: Manifest): Unit = {
    val tmp = Paths.get(dir, MutableParquetTable.ManifestName + ".tmp")
    Files.write(tmp, encode(m))
    Files.move(tmp, Paths.get(dir, MutableParquetTable.ManifestName),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Read, edit and rewrite `dir`'s manifest in place. */
  def update(dir: String)(f: Manifest => Manifest): Unit =
    write(dir, f(get(dir, "nothing to update")))

  /** Compact JSON. List fields are arrays; `fileCount`/`totalRows` are
    * derived from `files` for readers of the file itself. */
  private[sources] def encode(m: Manifest): Array[Byte] = {
    val o = mapper.createObjectNode()
    def strings(name: String, xs: Seq[String]): Unit =
      if (xs.nonEmpty) { val a = o.putArray(name); xs.foreach(a.add) }
    def pairs(name: String, kv: Iterable[(String, String)]): Unit =
      if (kv.nonEmpty) {
        val n = o.putObject(name); kv.foreach { case (k, v) => n.put(k, v) }
      }
    m.txn.foreach { case (app, epoch) =>
      o.put("txnApp", app); o.put("txnEpoch", epoch) }
    if (m.feedPending) o.put("feedPending", true)
    o.put("key", m.key)
    o.put("keyType", m.keyType)
    if (m.tombstoneRows > 0) {
      o.put("tombstoneFile", MutableParquetTable.TombstoneName)
      o.put("tombstoneRows", m.tombstoneRows)
    }
    strings("moreKeys", m.moreKeys)
    m.buckets.foreach(o.put("buckets", _))
    pairs("checks", m.checks)
    pairs("defaults", m.defaults)
    pairs("generated", m.generated)
    strings("droppedColumns", m.droppedColumns)
    strings("widenedColumns", m.widenedColumns)
    // a rename stamps its feature: a reader without the mapping must
    // refuse rather than return physical column names
    strings("requiredFeatures",
      m.requiredFeatures.filterNot(_ == RenamesFeature) ++
        (if (m.renames.isEmpty) Nil else Seq(RenamesFeature)))
    pairs("renames", m.renames.toSeq.sortBy(_._1))
    m.schema.foreach(s => o.put("schema", s.json))
    if (m.dimRanges.nonEmpty) {
      val a = o.putArray("dimRanges")
      m.dimRanges.foreach { d =>
        a.addObject().put("dfile", d.file).put("dcol", d.column)
          .put("dtype", d.dtype).put("dmin", d.min).put("dmax", d.max)
      }
    }
    if (m.layout != ParquetLayout()) {
      val l = m.layout
      val n = o.putObject("layout")
      l.rowGroupBytes.foreach(n.put("rowGroupBytes", _))
      n.put("compression", l.compression)
      n.put("dictionaryEnabled", l.dictionaryEnabled)
      l.pageBytes.foreach(n.put("pageBytes", _))
      if (l.columnDictionary.nonEmpty) {
        val d = n.putObject("columnDictionary")
        l.columnDictionary.toSeq.sortBy(_._1).foreach { case (c, on) => d.put(c, on) }
      }
      if (l.plainTypes.nonEmpty) {
        val a = n.putArray("plainTypes"); l.plainTypes.toSeq.sorted.foreach(a.add)
      }
      if (l.bloomFilterColumns.nonEmpty) {
        val a = n.putArray("bloomFilterColumns"); l.bloomFilterColumns.foreach(a.add)
      }
      if (l.bloomFilterNdv.nonEmpty) {
        val d = n.putObject("bloomFilterNdv")
        l.bloomFilterNdv.toSeq.sortBy(_._1).foreach { case (c, v) => d.put(c, v) }
      }
      l.writerVersion.foreach(n.put("writerVersion", _))
    }
    m.committedAtMs.foreach(o.put("committedAtMs", _))
    o.put("fileCount", m.files.size)
    o.put("totalRows", m.totalRows)
    val fs = o.putArray("files")
    m.files.foreach { e =>
      val n = fs.addObject().put("file", e.file)
      e.range.foreach { r =>
        n.put("minKey", r.minKey).put("maxKey", r.maxKey)
          .put("rows", r.rows).put("nullKeys", r.nullKeys)
      }
      e.bytes.foreach(n.put("bytes", _))
    }
    mapper.writeValueAsBytes(o)
  }

  /** Inverse of [[encode]]; also reads every earlier form: list fields
    * stored comma-joined, entries without `nullKeys`/`bytes`, manifests
    * without `committedAtMs`. */
  private[sources] def decode(bytes: Array[Byte]): Manifest = {
    val o = mapper.readTree(bytes)
    def field(name: String): Option[JsonNode] = opt(o, name)
    def text(n: JsonNode, name: String): Option[String] =
      opt(n, name).map(_.asText)
    def strings(name: String): Seq[String] = field(name) match {
      case Some(a) if a.isArray => a.elements.asScala.map(_.asText).toSeq
      case Some(s) => s.asText.split(',').toSeq.filter(_.nonEmpty)
      case None => Nil
    }
    def pairs(name: String): Map[String, String] =
      ListMap(field(name).toSeq.flatMap(_.properties.asScala.toSeq
        .map(e => e.getKey -> e.getValue.asText)): _*)
    def objects(name: String): Seq[JsonNode] =
      field(name).toSeq.flatMap(_.elements.asScala)
    Manifest(
      key = text(o, "key").getOrElse(throw new IllegalStateException(
        "manifest records no merge key")),
      keyType = text(o, "keyType").getOrElse("unknown"),
      moreKeys = strings("moreKeys"),
      files = objects("files").map { e =>
        val range = for {
          mn <- text(e, "minKey"); mx <- text(e, "maxKey")
          rows <- opt(e, "rows")
        } yield KeyRange(mn, mx, rows.asLong,
          opt(e, "nullKeys").map(_.asLong).getOrElse(-1L))
        Entry(e.get("file").asText, range, opt(e, "bytes").map(_.asLong))
      },
      schema = field("schema").map(s =>
        DataType.fromJson(s.asText).asInstanceOf[StructType]),
      committedAtMs = field("committedAtMs").map(_.asLong),
      tombstoneRows = field("tombstoneRows").map(_.asLong).getOrElse(0L),
      buckets = field("buckets").map(_.asInt),
      checks = pairs("checks"),
      defaults = pairs("defaults"),
      generated = pairs("generated"),
      droppedColumns = strings("droppedColumns"),
      widenedColumns = strings("widenedColumns"),
      renames = pairs("renames"),
      requiredFeatures = strings("requiredFeatures"),
      dimRanges = objects("dimRanges").map(d => DimEntry(d.get("dfile").asText,
        d.get("dcol").asText, d.get("dtype").asText, d.get("dmin").asText,
        d.get("dmax").asText)),
      txn = for {
        app <- text(o, "txnApp"); epoch <- field("txnEpoch")
      } yield (app, epoch.asLong),
      feedPending = field("feedPending").exists(_.asBoolean),
      layout = field("layout").fold(ParquetLayout()) { l =>
        def entries(name: String) =
          opt(l, name).toSeq.flatMap(_.properties.asScala.toSeq)
        ParquetLayout(
          rowGroupBytes = opt(l, "rowGroupBytes").map(_.asLong),
          compression = text(l, "compression").getOrElse("snappy"),
          dictionaryEnabled = opt(l, "dictionaryEnabled").forall(_.asBoolean),
          pageBytes = opt(l, "pageBytes").map(_.asLong),
          columnDictionary = entries("columnDictionary")
            .map(e => e.getKey -> e.getValue.asBoolean).toMap,
          plainTypes = opt(l, "plainTypes").toSeq
            .flatMap(_.elements.asScala.map(_.asText)).toSet,
          bloomFilterColumns = opt(l, "bloomFilterColumns").toSeq
            .flatMap(_.elements.asScala.map(_.asText)),
          bloomFilterNdv = entries("bloomFilterNdv")
            .map(e => e.getKey -> e.getValue.asLong).toMap,
          writerVersion = text(l, "writerVersion"))
      })
  }

  private def opt(n: JsonNode, name: String): Option[JsonNode] =
    Option(n.get(name)).filterNot(_.isNull)

  private val RenamesFeature = "columnRenames"

  /** `keyType` of a zone map whose first bound is `bound`. */
  private[graft] def keyTypeOf(bound: Option[Any]): String = bound match {
    case Some(_: java.lang.Long) => "long"
    case Some(_: Array[Byte])    => "binary"
    case Some(_)                 => "string"
    case None                    => "unknown"
  }

  /** The entry for `file` with a footer key range and optional size. */
  private[graft] def entry(file: String, r: ParquetStats.FileKeyRange,
                           bytes: Option[Long]): Entry =
    Entry(file, Some(KeyRange(keyRepr(r.min), keyRepr(r.max), r.rowCount,
      r.nullKeys)), bytes)

  /** The dim entry for `file`'s typed [min, max] on `column`. */
  private[sources] def dimEntry(file: String, column: String, min: Any,
                                max: Any): DimEntry = (min, max) match {
    case (a: java.lang.Long, b: java.lang.Long) =>
      DimEntry(file, column, "long", a.toString, b.toString)
    case (a: Array[Byte], b: Array[Byte]) =>
      DimEntry(file, column, "binary", keyRepr(a), keyRepr(b))
    case (a, b) => DimEntry(file, column, "string", a.toString, b.toString)
  }

  /** Text form of a normalized bound: longs and strings as themselves,
    * binary as lowercase hex (lossless for arbitrary bytes, which UTF-8
    * text is not). */
  private def keyRepr(v: Any): String = v match {
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case other          => other.toString
  }

  private def hexDecode(s: String): Array[Byte] =
    s.grouped(2).map(h => Integer.parseInt(h, 16).toByte).toArray

  private def baseName(entry: String): String = entry.split('/').last
}
