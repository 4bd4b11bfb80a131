package graft.sources

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.MergeOps

/** Result of a copy-on-write merge: where the new snapshot lives and which
  * files were rewritten vs passed through untouched.
  *
  * The byte accessors are the engine's merge-job metrics — the analog of
  * the reference's per-merge timing/size report (ParquetRewriter.java:
  * 349-359): how much data the CoW left untouched vs re-encoded. Driver-
  * side `Files.size` only (cost scales with FILE COUNT, never data). */
final case class MergeResult(
    snapshotDir: String,
    rewrittenFiles: Seq[String],
    passthroughFiles: Seq[String],
    insertedFileCount: Int,
    // wall millis per merge phase (ranges/route/link/rewrite/manifest) —
    // the timing half of the reference's merge report
    phaseMillis: Map[String, Long] = Map.empty,
    // HOW each clean file passed through: hard link / manifest reference
    // (no filesystem op at all) / physical copy (the degraded-link
    // fallback). A nonzero copy count on a "metadata-only" merge is the
    // difference between 26 ms and hours at 100 TB — it must be visible,
    // never silent.
    filesHardLinked: Int = 0,
    filesReferenced: Int = 0,
    filesCopied: Int = 0,
    // files DROPPED whole by a zone-map delete (provably all-matching —
    // removed from the manifest with zero IO); always 0 for merges
    filesDropped: Int = 0) {

  private def sz(fs: Seq[String]): Long =
    fs.map(f => java.nio.file.Files.size(java.nio.file.Paths.get(f))).sum

  /** Bytes passed through untouched (hard-linked, never decoded). */
  def bytesPassedThrough: Long = sz(passthroughFiles)

  /** Bytes of source data the merge had to read and re-encode. */
  def bytesRewrittenInput: Long = sz(rewrittenFiles)

  /** Bytes this merge physically wrote (snapshot minus passthrough). */
  def bytesWritten: Long = {
    val linked = passthroughFiles
      .map(f => java.nio.file.Paths.get(f).getFileName.toString).toSet
    MutableParquetTable.dataFiles(snapshotDir).map(java.nio.file.Paths.get(_))
      .filterNot(p => linked(p.getFileName.toString))
      .map(java.nio.file.Files.size).sum
  }

  /** Fraction of the source table's bytes the CoW left untouched — the
    * reference's partial-rewrite headline number (README.md:109-111). */
  def passthroughFraction: Double = {
    val total = bytesPassedThrough + bytesRewrittenInput
    if (total == 0) 1.0 else bytesPassedThrough.toDouble / total
  }

  /** One-line JSON summary for logs/telemetry. */
  def summaryJson: String =
    s"""{"snapshotDir":"$snapshotDir","filesLinked":$filesHardLinked,""" +
      s""""filesReferenced":$filesReferenced,""" +
      s""""filesCopied":$filesCopied,""" +
      s""""filesDropped":$filesDropped,""" +
      s""""filesRewritten":${rewrittenFiles.size},""" +
      s""""filesInserted":$insertedFileCount,""" +
      s""""bytesPassedThrough":$bytesPassedThrough,""" +
      s""""bytesRewrittenInput":$bytesRewrittenInput,""" +
      s""""bytesWritten":$bytesWritten,""" +
      s""""passthroughFraction":$passthroughFraction}"""
}

/** A key-sorted Parquet table supporting copy-on-write merges.
  *
  * This is the Spark-native re-expression of the reference's whole design
  * (ParquetRewriter.java:29-40): apply upserts/deletes to a key-sorted
  * Parquet dataset while leaving clean data untouched. The reference works
  * at row-group granularity inside one file (raw passthrough,
  * ParquetRewriter.java:312-322); at cluster scale the natural CoW unit is
  * the *file* — clean files are passed through as metadata-only links and
  * never opened, and each dirty file is rewritten by ONE sorted pass that
  * merges in the batch rows it owns ([[CowRewrite]]): at most one task per
  * executor slot, and the batch is the only data that is shuffled.
  *
  * Keys may be any numeric type or strings — the reference's canonical key
  * is a uuid `Binary` under signed-lexicographic order (README.md:26-43,
  * ParquetRewriter.java:35-37); here both key families route through one
  * order-preserving byte encoding ([[KeyBytes]]) that matches Spark's sort
  * order and parquet's UNSIGNED string stats order.
  *
  * Layout invariant (README.md:21): files hold disjoint key ranges, each
  * internally sorted — produced by [[ParquetTable.writeSorted]] and
  * PRESERVED by `merge`: a dirty file's output holds its own rows plus the
  * batch keys it owns (the keys below the next file's minimum), so no
  * output ever spans another file's range and chained merges keep routing
  * correct.
  * Dirty-file detection = footer key ranges (the reference's loadStats zone
  * map, ParquetRewriter.java:239-251) binary-searched against the update
  * keys (the seekToKey routing of ParquetRewriter.java:263-283, made
  * set-wise).
  *
  * Atomicity: a snapshot is committed by `manifest.json` (file inventory +
  * key ranges + row counts), written LAST via temp-file + atomic rename.
  * A crash mid-merge leaves a snapshot directory without a manifest —
  * detectably partial ([[MutableParquetTable.isCommitted]]) — while the
  * prior snapshot is untouched. The single-file reference gets the same
  * property from one `writer.end` (ParquetRewriter.java:129-146); at
  * 100 TB, snapshot validity must be decidable from metadata alone.
  *
  * Scale notes (100 TB): footer stats are read on executors; the per-file
  * ranges involved in routing are tiny (one row per file) and broadcast;
  * only dirty files are scanned, in at most `defaultParallelism` tasks of
  * contiguous dirty files balanced by bytes, and the tasks report their
  * outputs' zone maps, so the commit reads no footers back. A no-op merge
  * touches zero data files (noChangesTest analog,
  * ParquetRewriterTests.java:318-323).
  */
final class MutableParquetTable private (spark: SparkSession, val dir: String,
    val key: String, val passthrough: MutableParquetTable.Passthrough,
    val moreKeys: Seq[String], opened: Option[Manifest]) {

  def this(spark: SparkSession, dir: String, key: String,
           passthrough: MutableParquetTable.Passthrough = MutableParquetTable.Link,
           moreKeys: Seq[String] = Nil) =
    this(spark, dir, key, passthrough, moreKeys, Manifest.read(dir))

  import MutableParquetTable._

  // fail fast before any read or mutation of a snapshot whose manifest
  // requires features this library version does not implement
  MutableParquetTable.requireFeaturesSupported(dir, opened)

  /** Full merge identity: `key` is the LEADING column — it alone drives
    * file routing, zone maps, and slicing (files are sorted by the whole
    * tuple, so leading-column footer ranges stay valid; a leading value
    * straddling a file boundary is absorbed by the non-cut expansion) —
    * while row matching uses the complete tuple. Composite tables are
    * written with [[ParquetTable.writeSortedBy]].
    *
    * `key` may be a NESTED path (`person.uuid`) — the reference locates
    * its key by `ColumnPath` (ParquetRewriter.java:84, the README's
    * Thrift `Person.uuid` model): routing reads the nested parquet
    * column's footer stats (parquet paths ARE dotted), filters/sorts
    * resolve the dotted name natively, and the merge join matches on the
    * key expression. Composite identities stay top-level — a dotted
    * member would also be ambiguous with a literal dotted column name. */
  private val keys: Seq[String] = key +: moreKeys
  require(moreKeys.isEmpty || keys.forall(!_.contains(".")),
    s"nested key paths are not supported in composite keys " +
      s"(${keys.mkString(", ")}) — flatten the struct or use a single " +
      "nested key")

  def read(): DataFrame = spark.read.parquet(dir)

  /** This snapshot's manifest: the value read when the handle opened it
    * (committed snapshots are immutable), else — a dir committed after
    * the handle opened it — read now. */
  private def manifest: Option[Manifest] = opened.orElse(Manifest.read(dir))

  /** Table schema, resolved once per table handle: from the manifest when
    * this dir is a committed snapshot (zero IO), else one footer probe.
    * Reused by every merge — the dirty-file scan and the manifest embed
    * pass it explicitly, so no per-merge schema-inference jobs run. */
  private lazy val tableSchema: org.apache.spark.sql.types.StructType =
    manifest.flatMap(_.schema).getOrElse(spark.read.parquet(dir).schema)

  /** Logical→physical rename mapping ([[MutableParquetTable.manifestRenames]]):
    * data files keep renamed columns' birth names, so every full-width
    * file read aliases physical→logical and every rewrite writes
    * physical names back. Key columns are never renamed — routing, zone
    * maps, slicing and tombstones stay mapping-free. */
  private lazy val renames: Map[String, String] =
    manifest.map(_.renames).getOrElse(Map.empty)

  /** Per-file [minKey, maxKey] from footers only. */
  def fileRanges(): DataFrame = ParquetStats.fileKeyRanges(spark, dir, key)

  /** Commit `outDir` as a snapshot of this table's key: build the manifest
    * from its files' footers and write it atomically. For snapshot dirs
    * produced OUTSIDE `merge` — e.g. a compaction output — so they join
    * the committed chain with the same read/prune/crash guarantees.
    *
    * The committed schema defaults to the SOURCE manifest's logical
    * schema, not a footer probe of the new files: byte-spliced outputs
    * (compaction) physically carry whatever columns their inputs did, so
    * a footer probe would resurrect a metadata-only DROP COLUMN (and
    * lose a metadata-only ADD COLUMNS). The dropped-column blocklist is
    * carried for the same reason — spliced bytes still hold the old
    * values. `physicalRewrite = true` declares the content was rewritten
    * THROUGH the logical schema (z-order, replace): stale column bytes
    * are gone, so the blocklist legitimately clears. */
  def commitManifest(outDir: String,
                     schema: Option[org.apache.spark.sql.types.StructType]
                       = None,
                     physicalRewrite: Boolean = false,
                     bucketsOverride: Option[Option[Int]] = None): Unit = {
    val files = dataFiles(outDir)
    require(files.nonEmpty, s"nothing to commit in $outDir")
    val src = manifest
    // a physical rewrite's outputs were written from LOGICAL frames, so
    // the rename mapping is materialized into the files and clears;
    // spliced bytes keep their physical names, so the mapping carries
    def carried[A](f: Manifest => A, cleared: A): Option[A] =
      Some(if (physicalRewrite) cleared else src.map(f).getOrElse(cleared))
    writeManifest(outDir, Nil, files, schema orElse src.flatMap(_.schema),
      droppedOverride = carried(_.droppedColumns, Nil),
      renamesOverride = carried(_.renames, Map.empty[String, String]),
      bucketsOverride = bucketsOverride,
      widenedOverride = carried(_.widenedColumns, Nil))
  }

  /** Route update keys to files: a key is owned by the last file (in key
    * order) whose minKey <= key, or the first file if below all ranges
    * (the reference's "insert into current block" rule,
    * ParquetRewriter.java:263-283). Returns the owning files. */
  def dirtyFiles(updateKeys: DataFrame): Seq[String] =
    routedFiles(sortedRanges(), updateKeys)

  private def sortedRanges(src: Option[Manifest] = manifest)
      : Seq[ParquetStats.FileKeyRange] =
    // committed snapshots carry their zone map in the manifest — trust it
    // (the committed-read discipline) and skip the per-file footer probes;
    // bare directories fall back to footer IO
    src.filter(_.key == key).flatMap(_.ranges(dir))
      .getOrElse(ParquetStats.fileKeyRangesTyped(spark, dir, key))
      .sortBy(_.minBytes)(KeyBytes.ordering)

  private def routedFiles(ranges: Seq[ParquetStats.FileKeyRange],
                          updateKeys: DataFrame): Seq[String] = {
    if (ranges.isEmpty) return Seq.empty
    val bcast = spark.sparkContext.broadcast(ranges.map(_.minBytes).toArray)
    val keyName = updateKeys.columns.head
    import spark.implicits._
    // per-partition dedup into a local set, then a driver union — one
    // map-only stage, no shuffle: at most #files distinct owners leave
    // each partition, so the collect is bounded by partitions × files
    def routeAll[T](ds: Dataset[T])(enc: T => Array[Byte]): Seq[String] =
      ds.mapPartitions { it =>
          val mins = bcast.value
          val seen = scala.collection.mutable.HashSet.empty[Int]
          it.foreach(k => seen += CowRewrite.ownerOf(enc(k), mins))
          seen.iterator
        }.collect().toSeq.map(i => ranges(i).file)
    val routed: Seq[String] =
      updateKeys.schema.head.dataType match {
        case StringType =>
          routeAll(updateKeys.select(col(keyName).cast("string")).as[String])(
            KeyBytes.fromString)
        case BinaryType =>
          routeAll(updateKeys.select(col(keyName)).as[Array[Byte]])(
            KeyBytes.fromBinary)
        case dt =>
          routeAll(updateKeys
            .select(MutableParquetTable.normalizedKeyCol(dt, col(keyName)))
            .as[Long])(KeyBytes.fromLong)
      }
    routed.distinct.sorted
  }

  /** Exact holder routing for OVERLAPPED layouts (z-order and other
    * non-key-clustered file sets, where per-file key ranges intersect):
    * owner-routing would both misroute (the true holder of a key need not
    * be the last file with min <= key) and cascade the whole overlapping
    * cluster dirty via non-cut expansion. Instead, scan ONLY the key
    * column(s) plus the file name and semi-join the batch's distinct key
    * tuples — Catalyst prunes the scan to the key columns, and the
    * aggregated batch side broadcasts when small (AQE). Exact by
    * construction: every file is checked, so a key matching no file is in
    * NO file (a true insert), and a key's holders are ALL marked dirty.
    * Cost ∝ one key-column scan of the table per merge — at large scale a
    * few percent of the bytes a full rewrite would touch. */
  private def holderFileNames(batch: DataFrame, allFiles: Seq[String],
                              tableSchema: StructType): Set[String] = {
    // aliased key expressions on both sides: handles top-level AND nested
    // (dotted-path) keys with one semi-join shape — same discipline as
    // MergeOps/carryTombstonesMinus
    val batchKeys = batch.select(keys.zipWithIndex.map {
      case (k, i) => col(k).as(s"__gk$i") }: _*).distinct()
    val withFile = spark.read.schema(tableSchema).parquet(allFiles: _*)
      .select(keys.zipWithIndex.map { case (k, i) =>
        col(k).as(s"__gf$i") } :+ input_file_name().as("__graft_file"): _*)
    withFile.join(batchKeys,
        keys.indices.map(i => col(s"__gf$i") === col(s"__gk$i")).reduce(_ && _),
        "left_semi")
      .select("__graft_file").distinct()
      .collect().map(r => fileName(r.getString(0))).toSet
  }

  /** Copy-on-write merge. `batch` = base schema + op column.
    * Writes a new snapshot directory: clean files hard-linked (fallback:
    * copied) without ever being opened; on the key-clustered layout each
    * dirty file is rewritten by one sorted pass that merges in the batch
    * rows it owns ([[CowRewrite]]) — one job of at most
    * `defaultParallelism` tasks, in which the batch is the only shuffle;
    * manifest written last as the commit marker, from the zone maps the
    * rewrite tasks report. Returns the merge summary. */
  def merge(batch0: DataFrame, opCol: String = "op",
            snapshotDir: Option[String] = None): MergeResult =
    mergeFrom(manifest, batch0, opCol, snapshotDir)

  /** [[merge]] against `src`, this snapshot's manifest as the caller
    * already read it — the only manifest read of the merge. */
  private[graft] def mergeFrom(src: Option[Manifest], batch0: DataFrame,
                               opCol: String,
                               snapshotDir: Option[String]): MergeResult = {
    // composite keys reject nulls per row (codegen'd branch, no extra
    // pass): a null in any key column would silently fail to match its
    // base row (SQL null-join semantics) and leave stale duplicates
    val batchK =
      if (moreKeys.isEmpty) batch0
      else keys.foldLeft(batch0)((df, k) =>
        df.withColumn(k, when(col(k).isNull,
          raise_error(lit(s"null merge-key column $k — composite keys " +
            "must be fully populated"))).otherwise(col(k))))
    // DEFAULT / GENERATED column contracts first (filling an omitted
    // column may be what satisfies a NOT-NULL check), then CHECK
    // constraints gate the write BEFORE anything stages: only the
    // batch's upserted rows are validated (deletes can't violate, and
    // the table already satisfies its checks by induction) — one
    // batch-sized job, never a table scan
    val batch = GraftDefaults.applyAndEnforce(batchK,
      src.map(_.defaults).getOrElse(Map.empty),
      src.map(_.generated).getOrElse(Map.empty),
      src.flatMap(_.schema), Some(opCol), s"merge into $dir")
    val declaredChecks = src.map(_.checks).getOrElse(Map.empty)
    if (declaredChecks.nonEmpty)
      GraftChecks.enforce(batch.where(col(opCol) =!= lit("delete")),
        declaredChecks, s"merge into $dir")
    // this merge's schema and rename mapping come from `src`, not from
    // the handle's own lazily read copies
    val tableSchema = src.flatMap(_.schema)
      .getOrElse(spark.read.parquet(dir).schema)
    val renames = src.map(_.renames).getOrElse(Map.empty[String, String])
    // HASH-BUCKETED layout: routing is by bucket id, not key ranges —
    // the range/overlap machinery below assumes key-clustered files
    src.flatMap(_.buckets).foreach { n =>
      return mergeBucketed(n, batch, opCol, snapshotDir, src, tableSchema,
        renames)
    }
    val outDir = snapshotDir.getOrElse(s"$dir-v${System.currentTimeMillis()}")
    Files.createDirectories(Paths.get(outDir))

    val phase = new PhaseClock
    val ranges = sortedRanges(src)
    phase("ranges")
    val allFiles = MutableParquetTable.tableFiles(dir, src)
    // OVERLAPPED layouts (z-order or any non-key-clustered file set):
    // per-file key ranges intersect, so owner-routing would cascade the
    // whole overlapping cluster dirty — every merge a full rewrite. Route
    // exactly instead: one key-column scan joined to the batch keys finds
    // the true holder files. Files with no zone map entry (no key stats,
    // e.g. INT96 timestamp keys written outside the engine) can hold any
    // key, so owner-routing over the ranged files alone would miss them:
    // they take the same exact route.
    val overlapped = ranges.size < allFiles.size ||
      ranges.size > 1 && (0 until ranges.size - 1).exists(i =>
        KeyBytes.compare(ranges(i).maxBytes, ranges(i + 1).minBytes) >= 0)
    // dirty/clean split by FILE NAME: footer stats yield `file:/…` URIs
    // while the local listing yields the caller's path form (possibly
    // relative) — comparing full paths would silently classify every file
    // clean AND re-merge the dirty ones (duplicate rows). On the
    // key-clustered layout every file boundary is a cut (max < next min),
    // so a key's owner is the one file that can hold it.
    val dirtyNames =
      if (overlapped) holderFileNames(batch, allFiles, tableSchema)
      else routedFiles(ranges, batch.select(key)).map(fileName).toSet
    phase("route")
    val (dirty, clean) = allFiles.partition(f => dirtyNames.contains(fileName(f)))

    // metadata-only passthrough of clean files (S6 analog)
    val pt = passThroughClean(clean, outDir)
    phase("link")

    // schema evolution: batch columns beyond the table schema become new
    // NULLABLE table columns — old files read them as null (parquet's
    // missing-column semantics), rewritten files carry them physically,
    // and the manifest commits the evolved schema so readers see one
    // uniform shape over the mixed-physical snapshot. Batches must still
    // cover every existing column (partial-row upserts would silently
    // null the untouched fields).
    val batchData = batch.drop(opCol)
    val missingCols = tableSchema.fieldNames
      .filterNot(batchData.schema.fieldNames.contains)
    require(missingCols.isEmpty || allFiles.isEmpty,
      s"batch lacks table columns ${missingCols.mkString(", ")} — " +
        "upserts replace whole rows, so every existing column is required")
    // evolution adds columns, never retypes them: a drifted existing
    // column (e.g. decimal become double after arithmetic) would be
    // union-coerced into rewritten files whose physical types diverge
    // from the manifest-embedded schema, failing later vectorized reads
    val drifted = batchData.schema.fields.filter(f =>
      tableSchema.fieldNames.contains(f.name) &&
        MutableParquetTable.stripNullability(tableSchema(f.name).dataType) !=
          MutableParquetTable.stripNullability(f.dataType))
    require(drifted.isEmpty || allFiles.isEmpty,
      "batch column types drift from the table schema: " +
        drifted.map(f => s"${f.name} ${tableSchema(f.name).dataType
          .simpleString}->${f.dataType.simpleString}").mkString(", ") +
        " — cast the batch to the table types before merging")
    val newFields = batchData.schema.fields
      .filterNot(f => tableSchema.fieldNames.contains(f.name))
    if (newFields.nonEmpty)
      MutableParquetTable.guardResurrected(dir, newFields.map(_.name).toSeq)
    val mergedSchema =
      if (allFiles.isEmpty) batchData.schema
      else if (newFields.isEmpty) tableSchema
      else StructType(tableSchema.fields ++ newFields.map(_.copy(nullable = true)))

    val tombstones = MutableParquetTable.tombstoneDf(spark, dir, src)
    var inserted = 0
    var written = Seq.empty[CowRewrite.Written]
    // overlapped layout with NO holder files: upserts are all genuine
    // inserts (the exact join proved every batch key absent from every
    // file) and need a new file; a delete-only probe of absent keys
    // stays metadata-only
    val needRewrite =
      if (overlapped && dirty.isEmpty && clean.nonEmpty)
        !batch.where(col(opCol) =!= lit("delete")).isEmpty
      else dirty.nonEmpty || clean.isEmpty
    if (needRewrite && allFiles.nonEmpty && !overlapped) {
      // KEY-CLUSTERED layout: one sorted pass per dirty file; rewritten
      // files carry PHYSICAL column names (renamed tables), and tombstoned
      // keys of dirty files act as deletes
      written = CowRewrite.run(spark, outDir, keys, ranges, dirtyNames,
        src.map(_.bytesByName).getOrElse(Map.empty), batch, opCol,
        mergedSchema, renames, tombstones)
      inserted = written.size
    } else if (needRewrite) {
      // the empty table and the overlapped layout re-merge relationally;
      // explicit schema, so no per-merge footer-inference job runs.
      // Deletion tombstones are subtracted from the base read: tombstoned
      // rows must neither survive the rewrite physically nor count as
      // matched base rows
      val base0 =
        if (dirty.nonEmpty)
          MutableParquetTable.readFilesLogical(spark, dirty, mergedSchema,
            renames)
        else spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          batchData.schema)
      val base = tombstones.fold(base0)(withoutKeys(base0, _, keys))
      // rewritten files carry PHYSICAL column names (renamed tables)
      val merged0 = MutableParquetTable.toPhysicalNames(
        MergeOps.applyMutationsMulti(base, batch, keys, opCol), renames)
      if (allFiles.isEmpty) {
        ParquetTable.withMicrosTimestamps(spark) {
          merged0.repartition(1).sortWithinPartitions(keys.map(col): _*)
            .write.mode("append").parquet(outDir)
        }
        inserted = 1
      } else {
        // OVERLAPPED layout: rewrite all holder files (plus inserts) as
        // ONE range-partitioned run: output files are key-disjoint among
        // THEMSELVES (range exchange + in-partition sort); they may still
        // overlap the untouched files, but routing on an overlapped
        // layout is always the exact holder join above, which needs no
        // range invariant.
        val nOut = math.max(1, dirty.size)
        val merged = if (nOut > 1)
          merged0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        else merged0
        try ParquetTable.withMicrosTimestamps(spark) {
          (if (nOut == 1) merged.repartition(1)
           else merged.repartitionByRange(nOut, keys.map(col): _*))
            .sortWithinPartitions(keys.map(col): _*)
            .write.mode("append").parquet(outDir)
        } finally if (nOut > 1) merged.unpersist(false)
        inserted += nOut
      }
    }
    phase("rewrite")

    // manifest: passthrough files carry their already-read ranges (their
    // bytes are untouched — hard links) and the rewrite's outputs the
    // ranges their tasks reported; footer IO is paid only for files the
    // relational paths wrote. A no-op merge writes its manifest with
    // ZERO additional IO — still metadata-only end to end.
    val cleanNames = clean.map(fileName).toSet
    val carried = ranges.filter(r => cleanNames.contains(fileName(r.file)))
    val reported = written.map(w => fileName(w.file)).toSet
    val newFiles = writtenFiles(outDir, cleanNames ++ reported)
    // tombstones carried = source sidecar minus this batch's keys
    // (upserts resurrect; rewritten files already dropped their rows)
    val ts = carryTombstonesMinus(batch, outDir, tombstones)
    writeManifest(outDir, carried, newFiles, Some(mergedSchema), pt.refNames,
      tombstones = ts, source = src, written = written)
    phase("manifest")
    MergeResult(outDir, dirty, clean, inserted, phase.millis,
      filesHardLinked = pt.linked, filesReferenced = pt.referenced,
      filesCopied = pt.copied)
  }

  /** Range-scoped compaction: fold ONLY the files whose key interval
    * intersects `[lo, hi]` into ~`targetBytes` outputs; every other file
    * passes through METADATA-ONLY (hard link / reference, the merge's
    * clean-file discipline). At 100 TB nobody compacts a whole table —
    * the write-hot key range accumulates small merge outputs while the
    * cold bulk is already well-laid-out, so maintenance must price by
    * the RANGE, not the table. Selection is one manifest zone-map pass
    * (no footer IO; stat-less files are conservatively included), the
    * fold is the zero-decode byte splice when no schema markers are
    * live, and the manifest commit pays footer reads only for the new
    * files.
    *
    * Live `droppedColumns`/`widenedColumns` markers switch the fold to
    * the purging rewrite THROUGH the logical schema (same rule as
    * [[graft.GraftTable.compact]]) — the markers carry unless the range
    * covers every file (writeManifest's survivors rule clears them
    * exactly when no pre-change file remains). Rename mappings carry
    * either way (both fold paths keep physical column names on disk).
    * Returns the spliced/rewritten output count (0 = nothing selected:
    * the caller can skip committing a no-op version). Bucketed layouts
    * refuse — buckets are hash-, not range-, clustered; their scoped
    * maintenance is per-bucket compaction. */
  def compactRange(lo: Any, hi: Any, targetBytes: Long,
                   outDir: String): Int = {
    val src = manifest.getOrElse(throw new IllegalStateException(
      s"$dir has no $ManifestName — only committed snapshots compact by range"))
    require(src.buckets.isEmpty,
      "range compaction needs a key-clustered layout — a bucketed " +
        "table's scoped maintenance is per-bucket (CALL system.compact)")
    require(src.tombstoneRows == 0,
      "range compaction on a tombstoned snapshot would splice " +
        "logically-deleted rows and drop the sidecar — run " +
        "materializeTombstones() first")
    val all = MutableParquetTable.tableFiles(dir, Some(src))
    val (_, sel) = MutableParquetTable.pruneFiles(src, dir, Some(lo), Some(hi))
    val selSet = sel.map(fileName).toSet
    val (picked, clean) = all.partition(f => selSet(fileName(f)))
    if (picked.isEmpty) return 0
    Files.createDirectories(Paths.get(outDir))
    val pt = passThroughClean(clean, outDir)
    val schema = src.schema
    val renames = src.renames
    val newFiles: Seq[String] =
      if (src.droppedColumns.isEmpty && src.widenedColumns.isEmpty)
        // zero-decode byte splice of just the selected files; `rc` prefix
        // keeps spliced names disjoint from passthrough-linked originals
        CompactionUtil.compactFilesBySize(spark, dir, outDir, picked,
          targetBytes, prefix = "rc")
      else {
        // purge rewrite of the SUBSET through the logical schema: the
        // selected files' stale dropped bytes / narrow physicals are
        // shed; files outside the range still carry theirs, so the
        // markers persist via writeManifest's survivors rule
        val recorded = src.bytesByName
        val bytes = picked.map(f =>
          MutableParquetTable.recordedOrStatSize(dir, f, recorded)).sum
        val n = math.max(1L, math.min(4096L,
          (bytes + targetBytes - 1) / math.max(1L, targetBytes))).toInt
        val df = MutableParquetTable.toPhysicalNames(
          MutableParquetTable.readFilesLogical(spark, picked,
            schema.getOrElse(spark.read.parquet(picked: _*).schema), renames),
          renames)
        ParquetTable.withMicrosTimestamps(spark) {
          (if (n == 1) df.repartition(1)
           else df.repartitionByRange(n, keys.map(col): _*))
            .sortWithinPartitions(keys.map(col): _*)
            .write.mode("append").parquet(outDir)
        }
        writtenFiles(outDir, clean.map(fileName).toSet)
      }
    val cleanNames = clean.map(fileName).toSet
    val carried = sortedRanges().filter(r => cleanNames(fileName(r.file)))
    writeManifest(outDir, carried, newFiles, schema, pt.refNames)
    newFiles.size
  }

  /** Row-group-granularity CoW merge: like [[merge]], but each dirty
    * file keeps its identity and only its dirty ROW GROUPS re-encode —
    * clean groups are spliced byte-for-byte ([[RowGroupCoW]]), clean
    * files hard-linked as usual. Rewrite bytes scale with dirty *groups*,
    * not dirty *files*: for scattered point updates (one key per file,
    * where [[merge]] degenerates to a full rewrite) this touches a few
    * percent of the data — the reference's partial-rewrite scaling
    * (README.md:109-111) operating across a whole table. One small Spark
    * merge job per dirty file, submitted concurrently.
    *
    * File key ranges can only be preserved or extended toward a file's
    * ownership interval (batch keys route into it), so the disjoint-range
    * invariant and chained merges keep working unchanged.
    *
    * PRECONDITION: unique keys (the primary-key contract). Files are
    * rewritten independently, so a key duplicated ACROSS files cannot
    * have all its copies replaced in one pass — use [[merge]] (which
    * rewrites straddling files together) for out-of-contract data. */
  def mergeFineGrained(batch: DataFrame, opCol: String = "op",
                       snapshotDir: Option[String] = None): MergeResult = {
    // case-insensitive name matching, like the rest of the table layer
    // (drops, renames, path resolution)
    val extraCols = batch.drop(opCol).schema.fieldNames
      .filterNot(n => tableSchema.fieldNames.exists(_.equalsIgnoreCase(n)))
    require(extraCols.isEmpty,
      s"schema evolution (new columns ${extraCols.mkString(", ")}) needs " +
        "the file-level merge — the row-group splice keeps each file's " +
        "source schema byte-for-byte")
    // the same whole-row upsert contract as merge(): a batch missing an
    // existing table column would silently null it on replaced rows
    val missingCols = tableSchema.fieldNames
      .filterNot(n => batch.schema.fieldNames.exists(_.equalsIgnoreCase(n)))
    require(missingCols.isEmpty,
      s"batch lacks table columns ${missingCols.mkString(", ")} — " +
        "upserts replace whole rows; project the missing columns " +
        "explicitly (e.g. as nulls) if that is intended")
    val src = manifest
    // bucketed layouts rewrite whole buckets — row-group splicing would
    // break the file-bucket invariant; the file-level merge branches to
    // the bucketed path itself
    if (src.exists(_.buckets.isDefined))
      return merge(batch, opCol, snapshotDir)
    // deletion tombstones: raw row-group splices copy tombstoned rows
    // byte-for-byte and this path writes its own manifests per file —
    // the file-level merge subtracts/carries the sidecar correctly
    if (src.exists(_.tombstoneRows > 0))
      return merge(batch, opCol, snapshotDir)
    // renamed columns: per-file splice merges would have to map the
    // batch's logical names onto each file's physical schema inside the
    // row-group writer — the file-level merge already does the mapping
    // once ([[readFilesLogical]]/[[toPhysicalNames]]), so fall back
    if (renames.nonEmpty) return merge(batch, opCol, snapshotDir)
    // widened columns: pre-ALTER files carry the NARROW physical type;
    // a per-file splice would write the wide batch rows through the
    // file's narrow source schema (or mix physical shapes) — fall back
    // until a rewrite clears the marker
    if (src.exists(_.widenedColumns.nonEmpty))
      return merge(batch, opCol, snapshotDir)
    val ranges = sortedRanges()
    // an empty (or stat-less) table has nothing to splice — the
    // file-level merge owns the insert-into-empty path; silently
    // committing an empty snapshot would drop the batch
    if (ranges.isEmpty) return merge(batch, opCol, snapshotDir)
    // ANY overlap between file key ranges breaks per-file independence:
    // a key's true holder need not be the owner-routed file (overlapped
    // layouts, e.g. post-z-order), and for composite keys a straddling
    // leading-key value spans files that are rewritten alone. The
    // file-level merge handles both (exact holder routing / straddling
    // files rewritten together), so fall back to it.
    if (ranges.size > 1 && ranges.sliding(2).exists {
          case Seq(a, b) => KeyBytes.compare(a.maxBytes, b.minBytes) >= 0
          case _         => false
        }) return merge(batch, opCol, snapshotDir)
    // CHECK constraints: validate the batch's upserts before any splice
    // stages (the file-level merge fallbacks above enforce in merge())
    val fgChecks = src.map(_.checks).getOrElse(Map.empty)
    if (fgChecks.nonEmpty)
      GraftChecks.enforce(batch.where(col(opCol) =!= lit("delete")),
        fgChecks, s"row-group merge into $dir")
    val outDir = snapshotDir.getOrElse(s"$dir-v${System.currentTimeMillis()}")
    Files.createDirectories(Paths.get(outDir))
    val dirtyNames = routedFiles(ranges, batch.select(key)).map(fileName).toSet
    val allFiles = MutableParquetTable.tableFiles(dir, src)
    val (dirty, clean) = allFiles.partition(f => dirtyNames.contains(fileName(f)))
    val pt = passThroughClean(clean, outDir)

    if (dirty.nonEmpty) {
      val idxByName = ranges.zipWithIndex
        .map { case (r, i) => fileName(r.file) -> i }.toMap
      // batch is re-sliced once per dirty file — persist so the slices
      // scan a materialized batch, not the caller's arbitrary plan
      val b = batch.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        import scala.concurrent.{Await, Future}
        import scala.concurrent.ExecutionContext.Implicits.global
        // bounds are in the NORMALIZED key domain (epoch days/micros for
        // date/timestamp keys) — compare the normalized batch column
        val nk = MutableParquetTable.normalizedKeyCol(
          MutableParquetTable.fieldTypeAt(batch.schema, key), col(key))
        val jobs = dirty.map { f => Future {
          val i = idxByName(fileName(f))
          val lower = if (i == 0) None else Some(ranges(i).min)
          val upper = if (i == ranges.size - 1) None else Some(ranges(i + 1).min)
          val slice = (lower, upper) match {
            case (Some(lo), Some(up)) =>
              b.where(nk >= lit(lo) && nk < lit(up))
            case (Some(lo), None) => b.where(nk >= lit(lo))
            case (None, Some(up)) => b.where(nk < lit(up))
            case (None, None)     => b
          }
          RowGroupCoW.rewriteFile(spark, f,
            s"$outDir/${fileName(f)}", key, slice, opCol, moreKeys)
        }}
        // settle EVERY per-file job before inspecting failures:
        // Future.sequence fails fast on the first error while sibling
        // rewriteFile futures keep writing into outDir — deleting the
        // staging dir under a still-running splice races a repopulating
        // directory, and a late finisher could drop a stray parquet file
        // into a directory the fallback merge has re-committed
        val settled = Await.result(
          Future.sequence(jobs.map(_.transform(scala.util.Success(_)))),
          scala.concurrent.duration.Duration.Inf)
        settled.collectFirst {
          case scala.util.Failure(_: RowGroupCoW.SchemaBeyondFileException) =>
            ()
        } match {
          case Some(_) =>
            // a dirty file's physical schema predates a column the batch
            // carries (metadata ADD COLUMN / merge evolution left narrow
            // files behind): the splice would silently drop its values —
            // rewriteFile fail-fasts before writing, so discard the
            // (now fully quiesced) staging and run the file-level merge,
            // which reads files logical and writes the full logical schema
            MutableParquetTable.deleteDir(Paths.get(outDir))
            return merge(batch, opCol, snapshotDir)
          case None =>
            // any non-schema failure propagates as before
            settled.foreach(_.get)
        }
      } finally b.unpersist(false)
    }

    val carried = ranges.filter(r => !dirtyNames.contains(fileName(r.file)))
    writeManifest(outDir, carried, dirty.map(f => s"$outDir/${fileName(f)}"),
      Some(tableSchema), pt.refNames)
    MergeResult(outDir, dirty, clean, dirty.size,
      filesHardLinked = pt.linked, filesReferenced = pt.referenced,
      filesCopied = pt.copied)
  }

  /** `cond` resolved against this table's schema with zero IO, and every
    * file of this snapshot classified under it from the manifest's zone
    * maps ([[ZoneDelete]]); a bare dir proves nothing — rewrite all. */
  private def classify(cond: org.apache.spark.sql.Column)
      : ZoneDelete.Classification = {
    val probe = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], tableSchema)
    val resolved = probe.where(cond).queryExecution.analyzed.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
    }.getOrElse(org.apache.spark.sql.catalyst.expressions.Literal.TrueLiteral)
    manifest.map(ZoneDelete.classify(_, dir, resolved)).getOrElse(
      ZoneDelete.Classification(Nil, Nil, dataFiles(dir)))
  }

  /** Metadata-priced `DELETE WHERE`: classify every file of this
    * snapshot under `cond` from the manifest's zone maps alone
    * ([[ZoneDelete]]) — provably all-matching files are DROPPED (zero
    * IO), provably none-matching files pass through untouched (link /
    * manifest reference per this table's passthrough mode), and only the
    * undecidable remainder is rewritten with the row-level residual
    * filter. A retention delete on the key (`key < horizon`) therefore
    * costs one manifest commit plus at most one boundary-file rewrite at
    * ANY table size — against the CoW-merge delete path's full batch
    * scan + holder rewrite.
    *
    * Rows where `cond` is NULL are kept (SQL `DELETE ... WHERE`
    * semantics). Rewritten files keep their identity and (sub)ranges, so
    * the disjoint-layout invariant — and every later merge — is
    * untouched; the analysis never misclassifies, it only degrades to
    * rewriting (see [[ZoneDelete]]'s conservativeness contract). */
  def deleteWhere(cond: org.apache.spark.sql.Column,
                  outDir: String): MergeResult = {
    val phase = new PhaseClock
    val cls = classify(cond)
    phase("classify")
    Files.createDirectories(Paths.get(outDir))
    if (cls.keep.isEmpty && cls.rewrite.isEmpty) {
      // the predicate provably matches the whole table: empty snapshot,
      // schema kept — structurally a truncate
      val src = manifest
      MutableParquetTable.commitEmpty(outDir, key, tableSchema, moreKeys,
        src.flatMap(_.buckets), src.map(_.checks).getOrElse(Map.empty))
      phase("manifest")
      return MergeResult(outDir, Nil, Nil, 0, phase.millis,
        filesDropped = cls.drop.size)
    }
    val pt = passThroughClean(cls.keep, outDir)
    phase("link")
    // keep-filter: NOT coalesce(cond, false) — a NULL predicate row is
    // not deleted, exactly SQL WHERE semantics (and exactly what the
    // batch-merge delete path does by filtering TRUE rows into the batch)
    val keepFilter = !coalesce(cond, lit(false))
    // a file the residual empties is dropped too
    val inserted = rewriteEach(cls.rewrite, outDir, "del")(rows =>
      Some(rows.where(keepFilter)).filterNot(_.isEmpty))
    phase("rewrite")
    val keepNames = cls.keep.map(fileName).toSet
    val carried = sortedRanges().filter(r => keepNames(fileName(r.file)))
    val newFiles = writtenFiles(outDir, keepNames)
    // tombstoned rows may survive a residual rewrite physically (the
    // keep-filter tests only `cond`) — the carried sidecar keeps hiding
    // them; key membership never changes on this path
    writeManifest(outDir, carried, newFiles, Some(tableSchema), pt.refNames,
      tombstones = carryTombstonesVerbatim(outDir))
    phase("manifest")
    MergeResult(outDir, cls.rewrite, cls.keep, inserted, phase.millis,
      filesHardLinked = pt.linked, filesReferenced = pt.referenced,
      filesCopied = pt.copied, filesDropped = cls.drop.size)
  }

  /** Metadata-priced `UPDATE ... SET ... WHERE`: files the zone maps
    * prove untouched by `cond` ([[ZoneDelete]] NoneTrue) pass through;
    * every other file is rewritten IN PLACE with a per-column CASE
    * projection (`WHEN cond THEN assignment ELSE current`). No table
    * scan, no merge machinery: a key-range update touches only the
    * files the range lives in, at any table size.
    *
    * Merge-key columns (leading + composite) cannot be assigned — rows
    * keep their identity and position, which is exactly why the rewrite
    * preserves the sorted disjoint layout. Assignments are cast to the
    * table column's type (ANSI: overflow throws, never drifts the
    * physical schema). Rows where `cond` is NULL are not updated. */
  def updateWhere(cond: org.apache.spark.sql.Column,
                  sets: Seq[(String, org.apache.spark.sql.Column)],
                  outDir: String): MergeResult = {
    sets.foreach { case (n, _) =>
      require(!keys.exists(_.equalsIgnoreCase(n)),
        s"UPDATE of merge-key column $n is not supported — the layout and " +
          "row identity are key-addressed; DELETE + INSERT instead")
      require(tableSchema.fieldNames.exists(_.equalsIgnoreCase(n)),
        s"UPDATE target column $n is not in the table schema " +
          tableSchema.fieldNames.mkString("(", ", ", ")"))
    }
    val phase = new PhaseClock
    val cls = classify(cond)
    phase("classify")
    Files.createDirectories(Paths.get(outDir))
    val pt = passThroughClean(cls.keep, outDir)
    phase("link")
    // AllTrue files rewrite too (every row updates — there is no
    // metadata shortcut for new values), same lane as Unknown
    val rewrite = cls.drop ++ cls.rewrite
    val hit = coalesce(cond, lit(false))
    val byName = sets.map { case (n, c) => n.toLowerCase -> c }.toMap
    val projection = tableSchema.fields.toSeq.map { f =>
      byName.get(f.name.toLowerCase) match {
        case Some(assign) =>
          when(hit, assign.cast(f.dataType)).otherwise(col(f.name))
            .as(f.name)
        case None => col(f.name)
      }
    }
    // CHECK constraints: validate the UPDATED rows (the `hit` filter —
    // untouched rows satisfy the checks by induction) across the files
    // being rewritten, before any rewrite stages. Cost ∝ intersecting
    // files — the same files the rewrite reads anyway.
    val updChecks = manifest.map(_.checks).getOrElse(Map.empty)
    if (updChecks.nonEmpty && rewrite.nonEmpty)
      GraftChecks.enforce(
        MutableParquetTable.readFilesLogical(spark, rewrite, tableSchema,
            renames)
          .where(hit).select(projection: _*),
        updChecks, s"UPDATE on $dir")
    val inserted = rewriteEach(rewrite, outDir, "upd")(rows =>
      Some(rows.select(projection: _*)))
    phase("rewrite")
    val keepNames = cls.keep.map(fileName).toSet
    val carried = sortedRanges().filter(r => keepNames(fileName(r.file)))
    val newFiles = writtenFiles(outDir, keepNames)
    // in-place updates never change key membership — carry verbatim
    writeManifest(outDir, carried, newFiles, Some(tableSchema), pt.refNames,
      tombstones = carryTombstonesVerbatim(outDir))
    phase("manifest")
    MergeResult(outDir, rewrite, cls.keep, inserted, phase.millis,
      filesHardLinked = pt.linked, filesReferenced = pt.referenced,
      filesCopied = pt.copied)
  }

  /** Rewrite each of `files` IN PLACE into `outDir`: its logical rows
    * through `rows` (None = nothing left, the file is dropped), key-sorted
    * into one file named `<tag><i>-…`. One Spark job per file, run
    * concurrently, each in its own staging dir (concurrent jobs cannot
    * share one output dir — committer cleanup races on _temporary). Rows
    * keep their identity and position, so they also stay in their bucket:
    * a bucketed file's `b<id>-` name prefix carries over (the file-bucket
    * invariant). Returns the number of files written. */
  private def rewriteEach(files: Seq[String], outDir: String, tag: String)(
      rows: DataFrame => Option[DataFrame]): Int = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val jobs = files.zipWithIndex.map { case (f, i) => Future {
      rows(MutableParquetTable.readFilesLogical(spark, Seq(f), tableSchema,
          renames)).fold(0) { out =>
        val staging = s"$outDir/.staging-$tag-$i"
        ParquetTable.withMicrosTimestamps(spark) {
          MutableParquetTable.toPhysicalNames(out, renames)
            .repartition(1).sortWithinPartitions(keys.map(col): _*)
            .write.mode("append").parquet(staging)
        }
        val parts = dataFiles(staging).map(Paths.get(_))
        val bp = MutableParquetTable.bucketPrefixOf(f)
        parts.foreach(p => Files.move(p,
          Paths.get(outDir, s"$bp$tag$i-${p.getFileName}"),
          StandardCopyOption.ATOMIC_MOVE))
        MutableParquetTable.deleteDir(Paths.get(staging))
        parts.size
      }
    }}
    Await.result(Future.sequence(jobs),
      scala.concurrent.duration.Duration.Inf).sum
  }

  /** MERGE-ON-READ delete: commit `deleteKeys`' key tuples as DELETION
    * TOMBSTONES ([[MutableParquetTable.TombstoneName]]) — every data
    * file passes through untouched and only the delta-sized sidecar +
    * manifest are written, so a scattered key-delete costs METADATA at
    * any table size (the CoW delete path rewrites every holder file).
    * Readers subtract the sidecar with a broadcast anti-join; a later
    * upsert of a tombstoned key resurrects it (merges subtract their
    * batch keys); [[graft.GraftTable.materializeTombstones]] folds the
    * sidecar back into a physical rewrite. Columns of `deleteKeys` must
    * include the key tuple; extra columns are ignored. */
  def deleteKeysTombstone(deleteKeys: DataFrame,
                          outDir: String): MergeResult = {
    require(!keys.exists(_.contains(".")),
      "tombstone deletes are not supported on nested merge-key paths — " +
        "use the CoW delete (merge with op=delete)")
    val phase = new PhaseClock
    val allFiles = MutableParquetTable.tableFiles(dir, manifest)
    Files.createDirectories(Paths.get(outDir))
    val pt = passThroughClean(allFiles, outDir)
    phase("link")
    // pin the sidecar's column types to the TABLE's key types so chained
    // tombstone commits union cleanly whatever the batch carried
    val newTs = deleteKeys.select(keys.zipWithIndex.map { case (k, i) =>
      col(k).cast(MutableParquetTable.fieldTypeAt(tableSchema, k))
        .as(s"__k$i") }: _*).distinct()
    val merged = MutableParquetTable.tombstoneDf(spark, dir, manifest) match {
      case Some(old) => old.unionByName(newTs).distinct()
      case None => newTs
    }
    val n = writeTombstoneFile(merged, outDir)
    phase("tombstones")
    writeManifest(outDir, sortedRanges(), Nil, Some(tableSchema),
      pt.refNames, tombstones = Some(n))
    phase("manifest")
    MergeResult(outDir, Nil, allFiles, 0, phase.millis,
      filesHardLinked = pt.linked, filesReferenced = pt.referenced,
      filesCopied = pt.copied)
  }

  /** Write `ts` (columns `__k0..__kn`) as this snapshot's tombstone
    * sidecar — one small file; returns the row count. */
  private def writeTombstoneFile(ts: DataFrame, outDir: String): Long = {
    val n = ts.count()
    if (n == 0) return 0
    val staging = s"$outDir/.staging-ts-${
      java.util.UUID.randomUUID().toString.take(8)}"
    ParquetTable.withMicrosTimestamps(spark) {
      ts.repartition(1).write.mode("overwrite").parquet(staging)
    }
    // the sidecar is a DIRECTORY (Spark's file index hides _-prefixed
    // FILES even when addressed directly; a directory root is exempt and
    // its part files list normally) — drop Spark's markers, keep parts
    import scala.jdk.CollectionConverters._
    val s = Files.list(Paths.get(staging))
    val extras = try s.iterator().asScala
      .filterNot(_.getFileName.toString.endsWith(".parquet")).toList
    finally s.close()
    extras.foreach(p => if (Files.isDirectory(p))
      MutableParquetTable.deleteDir(p) else Files.delete(p))
    val target = Paths.get(outDir, MutableParquetTable.TombstoneName)
    if (Files.exists(target)) MutableParquetTable.deleteDir(target)
    Files.move(Paths.get(staging), target)
    n
  }

  /** The tombstone set a merge carries forward: the source snapshot's
    * sidecar minus this batch's keys (an upsert RESURRECTS its key; a
    * batch delete is applied physically by the rewrite). Writes the new
    * sidecar into `outDir` and returns its row count (None = none). */
  private def carryTombstonesMinus(batch: DataFrame, outDir: String,
                                   tombstones: Option[DataFrame]): Option[Long] =
    tombstones.map { old =>
      val batchKeys = MutableParquetTable.asTombstoneKeys(batch, keys)
        .distinct()
      val kept = old.join(broadcast(batchKeys),
        keys.indices.map(i => old(s"__k$i") === batchKeys(s"__k$i"))
          .reduce(_ && _),
        "left_anti")
      writeTombstoneFile(kept, outDir)
    }.filter(_ > 0)

  /** Carry the source snapshot's tombstone sidecar VERBATIM (zone-map
    * delete/update rewrite rows in place and never change key
    * membership). */
  private def carryTombstonesVerbatim(outDir: String): Option[Long] = {
    val n = manifest.map(_.tombstoneRows).getOrElse(0L)
    if (n == 0) None
    else {
      MutableParquetTable.copyTombstoneDir(dir, outDir)
      Some(n)
    }
  }

  /** Copy-on-write merge for a HASH-BUCKETED layout ([[GraftBucket]]):
    * bucket granularity instead of key-range granularity. A batch key
    * dirties its bucket (`pmod(murmur3(key), n)` — ≤ n distinct values,
    * collected driver-side); clean buckets' files pass through, dirty
    * buckets re-merge and rewrite whole via the bucketed writer, so the
    * layout invariant SPJ depends on (file bucket = key bucket) survives
    * every commit. Cost ∝ dirty buckets / n of the table.
    *
    * Same whole-row and schema-evolution contract as the range merge;
    * the zone-map fields in the manifest still carry each file's key
    * min/max (buckets span the key space, so range pruning degrades —
    * the trade the layout buys its shuffle-free joins with). */
  private def mergeBucketed(n: Int, batch: DataFrame, opCol: String,
                            snapshotDir: Option[String], src: Option[Manifest],
                            tableSchema: StructType,
                            renames: Map[String, String]): MergeResult = {
    val outDir = snapshotDir.getOrElse(s"$dir-v${System.currentTimeMillis()}")
    Files.createDirectories(Paths.get(outDir))
    val phase = new PhaseClock
    val allFiles = MutableParquetTable.tableFiles(dir, src)
    def bucketOf(f: String): Int =
      GraftBucket.bucketOfName(fileName(f)).getOrElse(
        throw new IllegalStateException(
          s"bucketed table $dir contains a file without a bucket name: $f"))
    val dirtyBuckets = batch
      .select(GraftBucket.bucketIdCol(col(key), n).as("__b"))
      .distinct().collect().map(_.getInt(0)).toSet
    val (dirty, clean) =
      allFiles.partition(f => dirtyBuckets.contains(bucketOf(f)))
    phase("route")
    val pt = passThroughClean(clean, outDir)
    phase("link")

    // schema evolution contract — identical to the range merge
    val batchData = batch.drop(opCol)
    val missingCols = tableSchema.fieldNames
      .filterNot(batchData.schema.fieldNames.contains)
    require(missingCols.isEmpty || allFiles.isEmpty,
      s"batch lacks table columns ${missingCols.mkString(", ")} — " +
        "upserts replace whole rows, so every existing column is required")
    val drifted = batchData.schema.fields.filter(f =>
      tableSchema.fieldNames.contains(f.name) &&
        MutableParquetTable.stripNullability(tableSchema(f.name).dataType) !=
          MutableParquetTable.stripNullability(f.dataType))
    require(drifted.isEmpty || allFiles.isEmpty,
      "batch column types drift from the table schema: " +
        drifted.map(f => s"${f.name}").mkString(", "))
    val newFields = batchData.schema.fields
      .filterNot(f => tableSchema.fieldNames.contains(f.name))
    if (newFields.nonEmpty)
      MutableParquetTable.guardResurrected(dir, newFields.map(_.name).toSeq)
    val mergedSchema =
      if (allFiles.isEmpty) batchData.schema
      else if (newFields.isEmpty) tableSchema
      else org.apache.spark.sql.types.StructType(
        tableSchema.fields ++ newFields.map(_.copy(nullable = true)))

    val needRewrite = dirty.nonEmpty ||
      !batch.where(col(opCol) =!= lit("delete")).isEmpty
    val tombstones = MutableParquetTable.tombstoneDf(spark, dir, src)
    if (needRewrite) {
      val base0 =
        if (dirty.nonEmpty)
          MutableParquetTable.readFilesLogical(spark, dirty, mergedSchema,
            renames)
        else spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          batchData.schema)
      val base = tombstones.fold(base0)(withoutKeys(base0, _, keys))
      val merged = MutableParquetTable.toPhysicalNames(
        MergeOps.applyMutationsMulti(base, batch, keys, opCol), renames)
      GraftBucket.writeBucketed(merged, outDir, key, moreKeys, n)
    }
    phase("rewrite")
    val newFiles = writtenFiles(outDir, clean.map(fileName).toSet)
    val ranges = sortedRanges(src)
    val carried = ranges.filter(r => !dirtyBuckets.contains(
      GraftBucket.bucketOfName(fileName(r.file)).getOrElse(-1)))
    val ts = carryTombstonesMinus(batch, outDir, tombstones)
    writeManifest(outDir, carried, newFiles, Some(mergedSchema), pt.refNames,
      tombstones = ts, source = src)
    phase("manifest")
    MergeResult(outDir, dirty, clean, newFiles.size, phase.millis,
      filesHardLinked = pt.linked, filesReferenced = pt.referenced,
      filesCopied = pt.copied)
  }

  /** The data files in `outDir` this commit wrote itself: everything
    * but the pass-through names `passed`. */
  private def writtenFiles(outDir: String, passed: Set[String]): List[String] =
    dataFiles(outDir).filterNot(f => passed(fileName(f)))

  private final case class PassThroughResult(linked: Int, copied: Int,
      referenced: Int, refNames: Map[String, String])

  /** Pass the clean files through to the new snapshot per this table's
    * [[passthrough]] mode. [[Reference]] performs ZERO filesystem
    * operations — the manifest will point at each file where it already
    * lives (entry = path relative to the new snapshot dir), which is the
    * only passthrough that keeps its economics on object stores (no hard
    * links on S3/GCS; a copy fallback would turn a metadata-only merge
    * into a full-table copy). [[Link]] hard-links with a copy fallback,
    * and every copy is COUNTED so a degraded passthrough is visible in
    * [[MergeResult]] instead of silent. */
  private def passThroughClean(clean: Seq[String],
                               outDir: String): PassThroughResult =
    passthrough match {
      case MutableParquetTable.Reference =>
        PassThroughResult(0, 0, clean.size,
          clean.map(f => fileName(f) -> relativize(outDir, f)).toMap)
      case MutableParquetTable.Link =>
        var linked = 0
        var copied = 0
        clean.foreach { f =>
          val src = Paths.get(f)
          val dst = Paths.get(outDir, src.getFileName.toString)
          try { Files.createLink(dst, src); linked += 1 }
          catch { case _: Exception =>
            Files.copy(src, dst, StandardCopyOption.REPLACE_EXISTING)
            copied += 1 }
        }
        PassThroughResult(linked, copied, 0, Map.empty)
    }

  /** Write the snapshot's commit marker: file inventory with key ranges
    * and row counts. Temp-file + atomic rename, LAST — presence of
    * `_manifest.json` IS the commit. */
  private def writeManifest(outDir: String,
                            carried: Seq[ParquetStats.FileKeyRange],
                            newFiles: Seq[String],
                            schema: Option[org.apache.spark.sql.types.StructType]
                              = None,
                            refNames: Map[String, String] = Map.empty,
                            // deletion tombstones: the caller has already
                            // placed the `_tombstones` sidecar dir in outDir and
                            // passes the row count (None = no tombstones)
                            tombstones: Option[Long] = None,
                            // Some(list) pins the dropped-column blocklist
                            // verbatim (commitManifest: spliced bytes keep
                            // stale values even though no SOURCE file
                            // survives); None applies the survivors rule
                            droppedOverride: Option[Seq[String]] = None,
                            // Some(map) pins the logical→physical rename
                            // mapping (commitManifest's physical-rewrite
                            // clear); None carries the source manifest's —
                            // merge rewrites always write PHYSICAL names,
                            // so the mapping survives every CoW commit
                            renamesOverride: Option[Map[String, String]] = None,
                            // Some(spec) pins the bucket layout (rebucket:
                            // Some(n) declares n buckets, None de-buckets);
                            // outer None carries the source manifest's
                            bucketsOverride: Option[Option[Int]] = None,
                            // widened-column marker, same contract as
                            // droppedOverride
                            widenedOverride: Option[Seq[String]] = None,
                            // this snapshot's manifest, when the caller
                            // has already read it
                            source: Option[Manifest] = manifest,
                            // outputs whose zone map and size their
                            // writers reported: no footer sweep, no stat
                            written: Seq[CowRewrite.Written] = Nil)
      : Unit = {
    val src = source.getOrElse(Manifest(key))
    val ranges = (carried ++ written.flatMap(_.range) ++
      ParquetStats.fileKeyRangesTypedFor(spark, newFiles, key))
      .sortBy(_.minBytes)(KeyBytes.ordering)
    // a referenced clean file's manifest entry is its path RELATIVE to
    // this snapshot dir (it physically lives in a prior snapshot); a
    // local file's entry is its bare name
    def entryOf(file: String): String =
      refNames.getOrElse(fileName(file), fileName(file))
    // files with no key stats (all-null keys — out of contract but
    // possible) can't be range-pruned, but they ARE part of the snapshot:
    // list them without bounds so readCommitted/readRange never lose them
    val rangedNames = ranges.map(r => fileName(r.file)).toSet
    val statless = dataFiles(outDir).map(fileName).filterNot(rangedNames) ++
      refNames.collect { // referenced stat-less files are listed too
        case (base, rel) if !rangedNames(base) => rel
      }.toList.sorted
    // per-file byte sizes: carried/referenced entries inherit the SOURCE
    // manifest's recorded size (zero filesystem calls — the object-store
    // discipline), files physically present in outDir (new + linked)
    // stat once at commit time. Entries that predate size recording stay
    // size-less rather than triggering a stat sweep of old versions;
    // consumers (planner stats, byte pacing) fall back per entry.
    val srcBytes = written.map(w => fileName(w.file) -> w.bytes).toMap ++
      src.bytesByName
    def bytesOf(absFile: String): Option[Long] = {
      val name = fileName(absFile)
      srcBytes.get(name).orElse {
        val local = Paths.get(outDir, name)
        if (Files.exists(local)) Some(Files.size(local)) else None
      }
    }
    val entries = ranges.map(r =>
        Manifest.entry(entryOf(r.file), r, bytesOf(r.file))) ++
      statless.map(n => Manifest.Entry(n,
        bytes = bytesOf(MutableParquetTable.resolvePath(outDir, n))))
    // table schema embedded in the commit: readers construct relations
    // from the manifest alone — zero footer probes (the V2 source's
    // relation setup path). The merge paths pass the schema they already
    // hold; the probe is only for externally-produced dirs (commitManifest)
    val schemaOut = schema orElse
      (ranges.headOption.map(_.file) orElse
        newFiles.headOption orElse
        statless.headOption.map(n => MutableParquetTable.resolvePath(outDir, n)))
      .map(f => spark.read.parquet(f).schema)
    // carry non-key dim zone maps (attachDimRanges) through the merge:
    // passthrough files keep their source entries (re-addressed to the
    // new snapshot), rewritten/new files get a fresh footer sweep per dim
    // — so q74-style dim pruning survives table mutation
    val dims =
      if (src.dimRanges.isEmpty || dir == outDir) Nil
      else {
        val carriedNames: Map[String, String] =
          carried.map(r => fileName(r.file) -> entryOf(r.file)).toMap
        val kept = src.dimRanges.flatMap(d =>
          carriedNames.get(fileName(d.file)).map(e => d.copy(file = e)))
        // rewritten files carry the names this commit's mapping implies:
        // PHYSICAL for CoW merges (mapping carried), LOGICAL for a
        // physical rewrite (mapping pinned empty) — sweep accordingly
        val sweepNames = renamesOverride.getOrElse(src.renames)
        val fresh = src.dimRanges.map(_.column).distinct.flatMap { d =>
          ParquetStats.fileKeyRangesTypedFor(spark,
              newFiles ++ written.map(_.file),
              sweepNames.getOrElse(d, d))
            .map(r => Manifest.dimEntry(fileName(r.file), d, r.min, r.max))
        }
        kept ++ fresh
      }
    // the dropped-column blocklist protects files that physically
    // predate a DROP COLUMN (re-adding the name would resurrect their
    // stale values); once NO source file survives into this snapshot —
    // carried and referenced both empty: a replace, or a merge that
    // rewrote everything through the narrowed schema — it clears. The
    // widened-column marker follows the same survivors rule: once no
    // pre-widen file survives, raw splices are safe again
    val survivors = carried.nonEmpty || refNames.nonEmpty
    Manifest.write(outDir, Manifest(key,
      keyType = Manifest.keyTypeOf(ranges.headOption.map(_.min)),
      moreKeys = moreKeys,
      files = entries,
      schema = schemaOut,
      committedAtMs = Some(System.currentTimeMillis()),
      tombstoneRows = tombstones.getOrElse(0L),
      // a bucketed layout is a property of the TABLE: carry the spec
      // from the source snapshot so every commit stays bucketed (rebucket
      // pins a new spec — or none — via the override)
      buckets = bucketsOverride.getOrElse(src.buckets),
      // CHECK constraints and DEFAULT/GENERATED column contracts are
      // versioned table state: carried like the bucket spec
      checks = src.checks,
      defaults = src.defaults,
      generated = src.generated,
      droppedColumns = droppedOverride.getOrElse(
        if (survivors) src.droppedColumns else Nil),
      widenedColumns = widenedOverride.getOrElse(
        if (survivors) src.widenedColumns else Nil),
      // the rename mapping survives an all-files rewrite too, because
      // CoW rewrites write the PHYSICAL names (only commitManifest's
      // physicalRewrite — whose outputs were written from LOGICAL frames
      // — pins it empty)
      renames = renamesOverride.getOrElse(src.renames),
      dimRanges = dims))
  }
}

object MutableParquetTable {
  // leading underscore: Spark/Hadoop file indexes treat _-prefixed files as
  // hidden metadata (like _SUCCESS), so the snapshot stays directly readable
  // via spark.read.parquet(dir)
  val ManifestName = "_manifest.json"

  /** How a merge passes clean files through to the new snapshot.
    *
    * [[Link]] (default): hard-link into the snapshot dir, falling back to
    * a physical copy — self-contained snapshot dirs, right for local /
    * HDFS-like filesystems. Copies are counted in [[MergeResult]].
    *
    * [[Reference]]: ZERO filesystem operations — the new manifest lists
    * each clean file at its existing location (a `../vN/...` entry
    * relative to the snapshot dir). This is the object-store mode: S3/GCS
    * have no hard links, so linking degrades to copying every clean file
    * per merge, destroying CoW economics at 100 TB. The manifest is
    * already the sole source of truth for committed reads, so a
    * referencing snapshot reads identically; retention needs reference
    * counting ([[graft.streaming.CdcMergeSink.vacuum]]). */
  sealed trait Passthrough
  case object Link extends Passthrough
  case object Reference extends Passthrough

  /** Key column normalized to the zone-map domain: the SAME values
    * [[KeyBytes]] encodes and parquet footers store physically — epoch
    * days for DATE (int32), epoch micros for TIMESTAMP (int64), long for
    * integrals, raw values for string/binary. Fractional key types are
    * rejected, not truncated. */
  private[sources] def normalizedKeyCol(dt: DataType, c: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = dt match {
    case StringType    => c.cast("string")
    case BinaryType    => c
    case DateType      => unix_date(c)
    case TimestampType => unix_micros(c)
    case TimestampNTZType =>
      // exact and timezone-independent: NTZ is physically epoch micros of
      // the wall-clock value (a session-tz cast to TIMESTAMP would shift)
      timestamp_diff("MICROSECOND",
        lit("1970-01-01 00:00:00").cast(TimestampNTZType), c)
    case ByteType | ShortType | IntegerType | LongType => c.cast("long")
    case other => throw new IllegalArgumentException(
      s"unsupported merge-key type $other — integral, string, binary, " +
        "date, or timestamp required")
  }

  /** Field type at a (possibly dotted) key path — the schema-lookup
    * analog of the reference's `ColumnPath` key addressing
    * (ParquetRewriter.java:84): `person.uuid` resolves through the
    * `person` struct. Top-level names (the common case) resolve directly
    * first, so a literal column name containing a dot still wins. */
  private[graft] def fieldTypeAt(schema: org.apache.spark.sql.types.StructType,
                                 path: String): DataType =
    schema.fields.find(_.name == path).map(_.dataType).getOrElse {
      path.split('.').foldLeft(schema: DataType) {
        case (s: org.apache.spark.sql.types.StructType, seg) =>
          s.fields.find(_.name == seg).map(_.dataType).getOrElse(
            throw new IllegalArgumentException(
              s"merge-key path $path: no field '$seg' in ${s.simpleString}"))
        case (other, seg) => throw new IllegalArgumentException(
          s"merge-key path $path: '$seg' addresses into non-struct " +
            s"${other.simpleString}")
      }
    }

  def apply(spark: SparkSession, dir: String, key: String,
            passthrough: Passthrough = Link,
            moreKeys: Seq[String] = Nil): MutableParquetTable =
    new MutableParquetTable(spark, dir, key, passthrough, moreKeys)

  /** A handle on the snapshot at `dir` whose manifest `m` the caller
    * already read (composite key members taken from it), so opening the
    * handle reads nothing more. */
  private[graft] def opened(spark: SparkSession, dir: String, key: String,
                            passthrough: Passthrough,
                            m: Option[Manifest]): MutableParquetTable =
    new MutableParquetTable(spark, dir, key, passthrough,
      m.map(_.moreKeys).getOrElse(Nil), m)

  /** Resolve a manifest `file` entry against its snapshot dir, textually
    * normalizing `.`/`..` segments — entries may be bare names (local
    * files) or `../vN/...` references into sibling snapshots. Pure string
    * work: no filesystem calls, and it behaves identically for object
    * store URIs (which have no real directory semantics to consult). */
  private[graft] def resolvePath(dir: String, entry: String): String =
    if (!entry.contains('/')) s"$dir/$entry"
    else {
      val segs = dir.split('/').toVector ++ entry.split('/').toVector
      segs.foldLeft(Vector.empty[String]) {
        case (acc, "..") if acc.nonEmpty && acc.last != ".." && acc.last.nonEmpty =>
          acc.init
        case (acc, ".") => acc
        case (acc, s)   => acc :+ s
      }.mkString("/")
    }

  /** The manifest entry for a file at absolute `path` referenced from a
    * snapshot at `fromDir`: relative via the longest common ancestor
    * (`../v3/part-...parquet` for the usual sibling-snapshot case). */
  private[graft] def relativize(fromDir: String, path: String): String = {
    val from = fromDir.split('/').toVector
    val to = path.split('/').toVector
    val common = from.zip(to).takeWhile { case (a, b) => a == b }.size
    (Vector.fill(from.size - common)("..") ++ to.drop(common)).mkString("/")
  }

  /** Commit `dir` as an EMPTY snapshot: schema + merge key, zero files —
    * what `CREATE TABLE` produces before the first insert. Readers see an
    * empty relation with the declared schema; the first merge takes the
    * insert-into-empty path. */
  def commitEmpty(dir: String, key: String,
                  schema: org.apache.spark.sql.types.StructType,
                  moreKeys: Seq[String] = Nil,
                  buckets: Option[Int] = None,
                  checks: Map[String, String] = Map.empty,
                  defaults: Map[String, String] = Map.empty,
                  generated: Map[String, String] = Map.empty): Unit = {
    Files.createDirectories(Paths.get(dir))
    Manifest.write(dir, Manifest(key, moreKeys = moreKeys,
      schema = Some(schema), committedAtMs = Some(System.currentTimeMillis()),
      buckets = buckets, checks = checks, defaults = defaults,
      generated = generated))
  }

  /** A snapshot directory is a committed, complete snapshot iff its
    * manifest exists — the mid-merge-crash detector. */
  def isCommitted(snapshotDir: String): Boolean =
    Files.exists(Paths.get(snapshotDir, ManifestName))

  /** Manifest features THIS reader implements. A future writer that
    * changes the format in a way old readers would silently misread
    * (the pre-guard tombstone hazard, generalized) stamps the feature
    * name into `requiredFeatures`; readers refuse unknown names instead
    * of returning wrong rows. Every current feature is either
    * backward-safe by construction (extra manifest fields are ignored
    * harmlessly) or separately hard-guarded (tombstones), so current
    * writers stamp nothing — the field is the forward-compat protocol. */
  private[graft] val SupportedFeatures: Set[String] =
    Set("tombstones", "buckets", "checks", "dimRanges", "references",
      "compositeKeys", "nestedKeys", "columnRenames")

  /** A table file's byte size: the manifest-recorded value when present
    * (zero filesystem calls — the object-store discipline), else one
    * stat of the resolved path. The one lookup every size consumer
    * (planner stats, byte pacing, compaction planning) shares, so the
    * fallback semantics live in one place. `recorded` lets callers doing
    * many lookups parse the manifest once. */
  private[graft] def recordedOrStatSize(snapshotDir: String, file: String,
      recorded: Map[String, Long]): Long =
    recorded.getOrElse(file.split('/').last,
      Files.size(Paths.get(
        if (file.startsWith("/")) file else resolvePath(snapshotDir, file))))

  /** Per-file BYTE SIZES recorded in the manifest (file NAME → bytes).
    * Written at commit time — new/linked files stat once, carried and
    * referenced entries inherit the source manifest's size — so readers
    * (planner statistics, byte-paced streams, compaction planning) get
    * exact sizes with ZERO filesystem calls. Entries written before
    * size recording are simply absent; consumers fall back per entry. */
  private[graft] def manifestBytesByName(snapshotDir: String): Map[String, Long] =
    Manifest.read(snapshotDir).map(_.bytesByName).getOrElse(Map.empty)

  /** Column names DROPPED from the table schema while files written
    * BEFORE the drop may still physically carry the old values (the
    * metadata-only `ALTER TABLE DROP COLUMN` never touches data files —
    * scans just stop projecting the column). Re-ADDing such a name
    * would silently resurrect those stale values on the old files
    * (parquet reads columns by name), so schema widenings reject names
    * on this list. The list clears once no pre-drop file survives (a
    * replace/truncate, or a merge that rewrote every file through the
    * narrowed schema). */
  private[graft] def manifestDroppedColumns(snapshotDir: String): Seq[String] =
    Manifest.read(snapshotDir).map(_.droppedColumns).getOrElse(Nil)

  /** Columns WIDENED by a metadata-only `ALTER COLUMN ... TYPE` while
    * files written before the change may still carry the NARROW physical
    * type (int32 under a bigint schema, float under double). Reads are
    * unaffected — Spark's parquet readers upcast narrow physicals to the
    * requested wider type — but raw byte splices must not mix the two
    * physical shapes in one file, so compaction switches to the purging
    * rewrite and the row-group merge falls back to the file-level path
    * while any such file survives. Same survivors lifecycle as
    * [[manifestDroppedColumns]]: clears once no pre-widen file remains. */
  private[graft] def manifestWidened(snapshotDir: String): Seq[String] =
    Manifest.read(snapshotDir).map(_.widenedColumns).getOrElse(Nil)

  /** Schema widening (metadata ALTER or merge evolution) must not reuse
    * a DROPPED column name while files predating the drop survive — see
    * [[manifestDroppedColumns]] — nor the PHYSICAL (on-file) name behind
    * a metadata-only RENAME: data files still carry that name, so a new
    * column reusing it would silently read the renamed column's values
    * on every existing file. */
  /** Every field of a schema as a dotted path, descending plain structs
    * ("s", "s.a", "s.a.x", ...) — the candidate set the resurrection
    * guard checks against the (possibly dotted) dropped blocklist. */
  private[graft] def allFieldPaths(
      schema: org.apache.spark.sql.types.StructType): Seq[String] = {
    def walk(prefix: String,
             st: org.apache.spark.sql.types.StructType): Seq[String] =
      st.fields.toSeq.flatMap { f =>
        val p = prefix + f.name
        p +: (f.dataType match {
          case s: org.apache.spark.sql.types.StructType => walk(p + ".", s)
          case _ => Nil
        })
      }
    walk("", schema)
  }

  private[sources] def guardResurrected(snapshotDir: String,
                                        newNames: Seq[String],
                                        // Some(map) = the mapping the NEW
                                        // commit will declare (a rename
                                        // back to the birth name legally
                                        // frees it); None = the current one
                                        renamesOverride: Option[Map[String, String]]
                                          = None,
                                        // dotted PHYSICAL paths this very
                                        // commit is dropping — excluded
                                        // from the resurrection compare
                                        excludePhysical: Seq[String] = Nil)
      : Unit = {
    val blocked = manifestDroppedColumns(snapshotDir)
    val mapping0 = renamesOverride.getOrElse(manifestRenames(snapshotDir))
    // a dotted (nested) candidate's ON-FILE path maps its CONTAINER
    // through the rename table — dropping `a.b` under a renamed
    // container a→pa blocklists `pa.b`, and a later logical `a.b` would
    // read exactly those bytes
    def physOf(n: String): String = {
      val i = n.indexOf('.')
      val (head, rest) = if (i < 0) (n, "") else (n.substring(0, i), n.substring(i))
      mapping0.collectFirst {
        case (l, p) if l.equalsIgnoreCase(head) => p + rest
      }.getOrElse(n)
    }
    val cand = newNames.filterNot(n =>
      excludePhysical.exists(_.equalsIgnoreCase(physOf(n))))
    val hit = cand.filter(n => blocked.exists(b =>
      b.equalsIgnoreCase(n) || b.equalsIgnoreCase(physOf(n))))
    require(hit.isEmpty,
      s"column(s) ${hit.mkString(", ")} were previously DROPPED and " +
        "files written before the drop still carry their old values — " +
        "bringing the name back would resurrect stale data. Rewrite the " +
        "table (replace/compact) first, or use a different name")
    // a name is dangerous iff it is some OTHER column's on-file physical
    // name while reading itself unmapped — the physical read schema would
    // then resolve the same file column twice. A name that is itself a
    // mapped logical reads its own physical source and never collides.
    // (Top-level only: nested paths live INSIDE their container's
    // physical group and cannot collide across containers.)
    val physical = mapping0.values.toSeq
    val phit = newNames.filter(n => !n.contains(".") &&
      physical.exists(_.equalsIgnoreCase(n)) &&
      !mapping0.keys.exists(_.equalsIgnoreCase(n)))
    require(phit.isEmpty,
      s"column(s) ${phit.mkString(", ")} are the PHYSICAL on-file names " +
        "of renamed columns — a new column reusing the name would read " +
        "the renamed column's values on existing files. Rewrite the " +
        "table (replace) first, or use a different name")
  }

  /** Metadata-only column renames a committed snapshot declares:
    * LOGICAL (user-visible) name → PHYSICAL (on-file) name. Data files
    * keep the column's birth name forever — a rename is one manifest
    * commit at any table size — and every file-facing read/write maps
    * through this table-level entry ([[readFilesLogical]] /
    * [[toPhysicalNames]]). Empty for tables that never renamed (or whose
    * last full physical rewrite materialized the mapping). Merge keys
    * cannot be renamed, so routing/zone-map machinery never consults
    * this. A non-empty map stamps the `columnRenames` required feature
    * ([[Manifest]]) so a reader without this mapping refuses instead of
    * silently returning physical names. */
  private[graft] def manifestRenames(snapshotDir: String): Map[String, String] =
    Manifest.read(snapshotDir).map(_.renames).getOrElse(Map.empty)

  /** `logical` with renamed fields mapped back to their on-file names —
    * the schema to hand parquet readers/writers. Positions and types are
    * untouched, so frames convert between the two shapes by pure
    * column aliasing. */
  private[graft] def physicalSchemaOf(
      logical: org.apache.spark.sql.types.StructType,
      renames: Map[String, String]): org.apache.spark.sql.types.StructType =
    if (renames.isEmpty) logical
    else org.apache.spark.sql.types.StructType(logical.fields.map(f =>
      renames.get(f.name).map(p => f.copy(name = p)).getOrElse(f)))

  /** Read data `files` under a snapshot's rename mapping: physical
    * column names on disk, LOGICAL names in the returned frame. The
    * no-rename case is the plain explicit-schema read (zero overhead). */
  private[graft] def readFilesLogical(spark: SparkSession, files: Seq[String],
      logical: org.apache.spark.sql.types.StructType,
      renames: Map[String, String]): DataFrame = {
    val raw = spark.read.schema(physicalSchemaOf(logical, renames))
      .parquet(files: _*)
    if (renames.isEmpty) raw
    else raw.select(logical.fields.map(f =>
      col(renames.getOrElse(f.name, f.name)).as(f.name)).toSeq: _*)
  }

  /** Rename a LOGICAL-named frame's columns to their physical (on-file)
    * names for writing — pure projection, no-op without renames. */
  private[graft] def toPhysicalNames(df: DataFrame,
      renames: Map[String, String]): DataFrame =
    if (renames.isEmpty) df
    else df.select(df.columns.map(c =>
      col(c).as(renames.getOrElse(c, c))).toSeq: _*)

  /** The `requiredFeatures` a committed snapshot declares (empty for
    * all manifests written by this library version). */
  private[graft] def manifestRequiredFeatures(snapshotDir: String): Seq[String] =
    Manifest.read(snapshotDir).map(_.requiredFeatures).getOrElse(Nil)

  /** Refuse to touch a snapshot that requires a feature this reader
    * does not implement — fail fast beats silently wrong rows. */
  private[graft] def requireFeaturesSupported(snapshotDir: String): Unit =
    requireFeaturesSupported(snapshotDir, Manifest.read(snapshotDir))

  private[graft] def requireFeaturesSupported(snapshotDir: String,
                                              m: Option[Manifest]): Unit = {
    val unknown = m.map(_.requiredFeatures).getOrElse(Nil)
      .filterNot(SupportedFeatures)
    if (unknown.nonEmpty)
      throw new IllegalStateException(
        s"$snapshotDir requires manifest feature(s) " +
          unknown.mkString("[", ", ", "]") +
          " this reader does not implement — upgrade the library " +
          s"(supported: ${SupportedFeatures.toSeq.sorted.mkString(", ")})")
  }

  /** A committed snapshot's SECONDARY key columns (composite merge
    * identity beyond the leading routing key), when recorded. */
  def manifestMoreKeys(snapshotDir: String): Seq[String] =
    Manifest.read(snapshotDir).map(_.moreKeys).getOrElse(Nil)

  /** Stage `toDir` as a METADATA-ONLY snapshot of `fromDir`: the manifest
    * is copied with every file entry re-addressed RELATIVE to `toDir`
    * (the object-store Reference-passthrough form — the new snapshot owns
    * zero bytes of data), the embedded schema swapped for `newSchema`,
    * and the commit time refreshed. Zone maps, composite keys, dim
    * ranges, stat-less entries and row counts carry through verbatim —
    * this is how `ALTER TABLE ADD COLUMN` commits a version without
    * touching a single data file. `toDir` must sit directly under the
    * table root (same depth as the version dirs) so relative entries are
    * already in final form when the stage is renamed into the chain. */
  private[graft] def stageSchemaChange(fromDir: String, toDir: String,
      newSchema: org.apache.spark.sql.types.StructType,
      recordDropped: Seq[String] = Nil,
      newRenames: Option[Map[String, String]] = None,
      recordWidened: Seq[String] = Nil,
      stripDims: Seq[String] = Nil): Unit = {
    val m = Manifest.get(fromDir, "only committed snapshots can change schema")
    // a WIDENING must not reuse a dropped name — top-level OR a nested
    // dotted path: pre-drop files still physically carry the old
    // column/field, and a by-name parquet read would resurrect their
    // stale values instead of null
    guardResurrected(fromDir, allFieldPaths(newSchema), newRenames,
      excludePhysical = recordDropped)
    Files.createDirectories(Paths.get(toDir))
    // the tombstone sidecar is snapshot-local (delta-sized) — copy it so
    // the staged manifest's tombstoneFile entry stays resolvable
    if (Files.isDirectory(Paths.get(fromDir, TombstoneName)))
      copyTombstoneDir(fromDir, toDir)
    Manifest.write(toDir, m
      // volatile per-commit stamps never carry into a METADATA commit
      // (same contract as stageRestoreManifest): no feed is written for
      // it — a carried `feedPending` reads as a crashed commitWithFeed
      // and stalls/refuses CDF readers — and a carried txn marker would
      // re-declare another writer's epoch at the head
      .withoutStamps
      // newly dropped / widened names are recorded cumulatively: files
      // predating the ALTER still carry the old column or the narrow
      // physical type. Dim zone-map entries on them are shed — an index
      // over a column readers can no longer see is dead weight, and
      // widened bounds were swept under the narrow type. `stripDims`
      // adds LOGICAL names: dim entries are keyed by the name pushed
      // filters use, while the markers record the PHYSICAL (birth) name
      .withoutDims(recordDropped ++ recordWidened ++ stripDims)
      .copy(
        droppedColumns = (m.droppedColumns ++ recordDropped).distinct,
        widenedColumns = (m.widenedColumns ++ recordWidened).distinct,
        // RENAME COLUMN commits (and drops of renamed columns) replace
        // the logical→physical mapping
        renames = newRenames.getOrElse(m.renames),
        schema = Some(newSchema),
        committedAtMs = Some(System.currentTimeMillis()))
      // both file inventory and dim zone-map entries re-address, so
      // attached dim pruning survives the schema change
      .readdressed(fromDir, toDir))
  }

  /** Commit wall-clock time (epoch ms) of a snapshot — the manifest's
    * `committedAtMs` field; manifests written before the field existed
    * (and manifest-less base snapshots) fall back to filesystem mtime.
    * Timestamp time travel resolves against this. */
  def committedAtMs(snapshotDir: String): Option[Long] =
    Manifest.read(snapshotDir).flatMap(_.committedAtMs).orElse {
      val m = Paths.get(snapshotDir, ManifestName)
      val p = if (Files.exists(m)) m else Paths.get(snapshotDir)
      if (Files.exists(p))
        Some(Files.getLastModifiedTime(p).toMillis)
      else None
    }

  /** Stamp a staged snapshot's manifest with the streaming TRANSACTION
    * MARKER (writer id + epoch) that makes epoch replay detectable: the
    * committed version then durably records which sink epoch produced
    * it, so a restarted streaming query re-offering an already-committed
    * epoch can skip it ([[graft.streaming.CdcMergeSink.lastTxnEpoch]]).
    * Idempotent — an existing marker is replaced, so the optimistic
    * publish loop may re-stamp after a rebase rewrote the manifest. */
  private[graft] def annotateTxn(snapshotDir: String, app: String,
                                 epoch: Long): Unit =
    Manifest.update(snapshotDir)(_.copy(txn = Some((app, epoch))))

  /** Stamp a staged snapshot's manifest with the FEED-PENDING flag:
    * this commit's writer will persist a row-level change feed under
    * `_changes/v<id>` right after publish. The flag is what lets the
    * streaming change-feed source distinguish "this version has no feed"
    * (a plain commit — consume as an empty batch) from "this version's
    * feed write is still in flight" (hold the offset until the feed's
    * `_SUCCESS` lands) — without it, a continuously-polling stream races
    * the feed write and silently consumes the version empty. Stamped
    * pre-publish (atomic with the commit), idempotent like
    * [[annotateTxn]]. */
  private[graft] def annotateFeedPending(snapshotDir: String): Unit =
    Manifest.update(snapshotDir)(_.copy(feedPending = true))

  /** Re-stamp a staged manifest's `committedAtMs` to NOW. Commit times
    * must be monotone along the version chain (timestamp time travel and
    * the change feed's binary search depend on it) — a staged snapshot
    * that lost a publish race carries a stamp OLDER than the version
    * that beat it, so every re-aim re-stamps before retrying. */
  private[graft] def restampCommittedAt(stagedDir: String): Unit =
    stampCommittedAt(stagedDir, System.currentTimeMillis())

  /** Clamp a staged manifest's `committedAtMs` to be >= the chain head's
    * stamp, right before publish. [[restampCommittedAt]] only repairs the
    * LOST-RACE path; a multi-process writer whose clock runs behind the
    * previous committer's can win its FIRST publish attempt and land a
    * stamp older than the head — breaking the monotone order that
    * timestamp time travel and the change feed's binary search
    * ([[graft.sources.GraftChangeFeed.versionAtOrAfter]]) depend on
    * (retention vacuum then undercounts "recent" and can drop in-window
    * snapshots). Equal stamps are fine ("at or after" is inclusive);
    * no-op when the staged stamp is already current. */
  private[graft] def clampCommittedAt(stagedDir: String,
                                      headDir: String): Unit =
    for {
      head <- committedAtMs(headDir)
      staged <- committedAtMs(stagedDir)
      if staged < head
    } stampCommittedAt(stagedDir, head)

  private def stampCommittedAt(stagedDir: String, ts: Long): Unit =
    Manifest.read(stagedDir).foreach(m =>
      Manifest.write(stagedDir, m.copy(committedAtMs = Some(ts))))

  /** Stage a RESTORE snapshot at `stagedDir`: a manifest-only copy of
    * `targetDir`'s state with every file entry re-addressed as a
    * REFERENCE to its true physical holder — the rollback commit is
    * metadata-priced at any table size (no data file is read or
    * written). Entries that are themselves references re-resolve first,
    * so a restored reference never chains through an intermediate
    * snapshot that vacuum might later drop. The target's delta-sized
    * tombstone sidecar (when present) is copied in — the sidecar is the
    * one part of logical state that lives outside the manifest. Volatile
    * per-commit stamps are stripped: txn markers (re-publishing an old
    * epoch at the head would shadow newer markers for the same app in
    * [[graft.streaming.CdcMergeSink.lastTxnEpoch]]'s newest-first walk),
    * `feedPending` (no feed is written for a restore), and
    * `committedAtMs` (re-stamped — commit times must stay monotone along
    * the version chain for timestamp time travel). */
  private[graft] def stageRestoreManifest(stagedDir: String,
                                          targetDir: String): Unit = {
    val m = Manifest.get(targetDir,
      "only manifest-committed snapshots can be restored to")
    Files.createDirectories(Paths.get(stagedDir))
    if (m.tombstoneRows > 0) copyTombstoneDir(targetDir, stagedDir)
    // both file inventory and dim zone-map entries re-address, so
    // attached dim pruning survives the restore
    Manifest.write(stagedDir, m.withoutStamps
      .copy(committedAtMs = Some(System.currentTimeMillis()))
      .readdressed(targetDir, stagedDir))
  }

  /** DELETION TOMBSTONES — merge-on-read deletes. A snapshot may carry a
    * `_tombstones` sidecar dir of deleted key tuples (columns
    * `__k0..__kn`, positionally the table's key + moreKeys): those rows
    * are LOGICALLY deleted while remaining physically present in the
    * data files. A scattered key-delete then commits as METADATA ONLY —
    * every data file passes through, only the delta-sized sidecar and
    * the manifest are written — where the CoW paths would rewrite every
    * holder file (rewrite amplification ∝ files touched × file size).
    * Readers subtract the sidecar with a BROADCAST LEFT-ANTI join (keys
    * live in exactly one logical row, so key tombstones ≡ position
    * deletes), which keeps the vectorized scan + codegen fully intact —
    * the Spark-first form of Delta/Iceberg deletion vectors. Merges
    * subtract their batch keys (re-upserts resurrect) and filter
    * tombstoned rows out of rewritten files; compaction/z-order require
    * materialization first ([[graft.GraftTable.materializeTombstones]]).
    * Reference anchor: S10 delete-by-key (ParquetRewriter.java:187-191)
    * at metadata cost. */
  val TombstoneName = "_tombstones"

  /** A DATA file of a snapshot dir: `.parquet`, not `_`-prefixed —
    * underscore names are metadata sidecars/dirs (`_tombstones`),
    * exactly the convention Spark's own file index uses. */
  private[graft] def isDataFileName(n: String): Boolean =
    n.endsWith(".parquet") && !n.startsWith("_")

  /** The `b<id>-` bucket-name prefix of a data file, or "" when the file
    * is not part of a bucketed layout — for rewrites that must keep the
    * file-bucket invariant (rows never change bucket in place). */
  private[sources] def bucketPrefixOf(file: String): String =
    GraftBucket.bucketOfName(Paths.get(file).getFileName.toString)
      .map(b => f"b$b%05d-").getOrElse("")

  /** Copy a snapshot's tombstone sidecar dir into another snapshot. */
  private[sources] def copyTombstoneDir(fromDir: String, toDir: String): Unit = {
    val src = Paths.get(fromDir, TombstoneName)
    val dst = Paths.get(toDir, TombstoneName)
    if (Files.exists(dst)) deleteDir(dst)
    Files.createDirectories(dst)
    import scala.jdk.CollectionConverters._
    val s = Files.list(src)
    try s.iterator().asScala.foreach(p =>
      Files.copy(p, dst.resolve(p.getFileName.toString)))
    finally s.close()
  }

  /** Tombstone count a committed snapshot declares (0 = none). */
  def manifestTombstoneRows(snapshotDir: String): Long =
    Manifest.read(snapshotDir).map(_.tombstoneRows).getOrElse(0L)

  /** The snapshot's tombstone key set (columns `__k0..__kn`), when it
    * declares one. */
  def tombstoneDf(spark: SparkSession, snapshotDir: String): Option[DataFrame] =
    tombstoneDf(spark, snapshotDir, Manifest.read(snapshotDir))

  /** Same, for the snapshot whose manifest `m` the caller already read. */
  private[graft] def tombstoneDf(spark: SparkSession, snapshotDir: String,
                                 m: Option[Manifest]): Option[DataFrame] =
    if (m.exists(_.tombstoneRows > 0))
      Some(spark.read.parquet(s"$snapshotDir/$TombstoneName"))
    else None

  /** Subtract a snapshot's tombstones from `df` (whose columns include
    * the key tuple `keys`, possibly as nested paths). No-op when the
    * snapshot declares none. */
  def applyTombstones(spark: SparkSession, snapshotDir: String,
                      df: DataFrame, keys: Seq[String]): DataFrame =
    tombstoneDf(spark, snapshotDir).fold(df)(withoutKeys(df, _, keys))

  /** `df` minus the rows whose key tuple is in the tombstone set `ts`. */
  private[graft] def withoutKeys(df: DataFrame, ts: DataFrame,
                                 keys: Seq[String]): DataFrame =
    df.join(broadcast(ts),
      keys.zipWithIndex.map { case (k, i) =>
        df(k) === ts(s"__k$i") }.reduce(_ && _),
      "left_anti")

  /** Key tuple projected to the tombstone sidecar's positional column
    * names. */
  private[graft] def asTombstoneKeys(df: DataFrame, keys: Seq[String]): DataFrame =
    df.select(keys.zipWithIndex.map { case (k, i) =>
      col(k).as(s"__k$i") }: _*)

  /** Bucket count of a HASH-BUCKETED layout ([[GraftBucket]]), when the
    * snapshot declares one. Bucketed snapshots keep one file set per
    * bucket (bucket id in the file name) instead of disjoint key ranges. */
  def manifestBuckets(snapshotDir: String): Option[Int] =
    Manifest.read(snapshotDir).flatMap(_.buckets)

  /** Stamp a committed snapshot's manifest with the bucket spec —
    * [[graft.GraftTable.create]] uses this right after the base commit
    * (later merges then CARRY the field via [[writeManifest]]). */
  private[graft] def annotateBuckets(snapshotDir: String, n: Int): Unit =
    Manifest.update(snapshotDir)(_.copy(buckets = Some(n)))

  /** The streaming transaction marker a committed snapshot carries, if
    * any: (writer app id, epoch). */
  private[graft] def manifestTxn(snapshotDir: String): Option[(String, Long)] =
    Manifest.read(snapshotDir).flatMap(_.txn)

  /** Read a committed snapshot STRICTLY through its manifest: only files
    * the manifest lists are scanned, so stray part files — a concurrent
    * writer, a crashed later merge attempt into the same directory — are
    * invisible. This is the object-store read discipline: the manifest,
    * not the directory listing, defines the table. Throws if the snapshot
    * has no commit marker. */
  def readCommitted(spark: SparkSession, snapshotDir: String): DataFrame = {
    val m = Manifest.get(snapshotDir)
    if (m.files.isEmpty) {
      // a zero-file snapshot is a real table state (TRUNCATE, a delete
      // that covered everything, CREATE TABLE pre-insert): an empty
      // relation with the manifest's schema
      val schema = m.schema.getOrElse(
        throw new IllegalStateException(
          s"$snapshotDir manifest lists no files and embeds no schema"))
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    }
    // the manifest schema, not footer inference: a schema-evolved snapshot
    // mixes physical shapes (old passthrough files lack the new columns),
    // and inference from one footer would read the wrong one. Renamed
    // columns read their on-file physical name, aliased back to logical.
    withTombstones(spark, m, snapshotDir,
      readFiles(spark, m, m.fileNames.map(n => resolvePath(snapshotDir, n))))
  }

  /** `files` read under the manifest's logical schema and rename mapping
    * (footer inference when the manifest predates embedded schemas). */
  private def readFiles(spark: SparkSession, m: Manifest,
                        files: Seq[String]): DataFrame =
    m.schema.map(s => readFilesLogical(spark, files, s, m.renames))
      .getOrElse(spark.read.parquet(files: _*))

  /** Deletion tombstones subtract with a broadcast anti-join — vectorized
    * scan + codegen intact, cost ∝ the delta-sized sidecar. */
  private def withTombstones(spark: SparkSession, m: Manifest,
                             snapshotDir: String, df: DataFrame): DataFrame =
    if (m.tombstoneRows == 0) df
    else applyTombstones(spark, snapshotDir, df, m.key +: m.moreKeys)

  /** The table schema a committed snapshot's manifest embeds (None for
    * manifests written before schemas were recorded, and for uncommitted
    * directories). */
  def manifestSchema(snapshotDir: String): Option[org.apache.spark.sql.types.StructType] =
    Manifest.read(snapshotDir).flatMap(_.schema)

  /** The file names a committed snapshot's manifest lists (None when the
    * snapshot has no commit marker). The manifest, not the directory
    * listing, defines the snapshot's contents. */
  def manifestFileNames(snapshotDir: String): Option[Seq[String]] =
    Manifest.read(snapshotDir).map(_.fileNames)

  /** Manifest-pruned range scan: select only the files whose key range
    * intersects [lo, hi] — decided purely from the manifest, ZERO footer
    * or data IO for excluded files — then scan with the residual filter.
    * File-level zone-map pruning one level above parquet's row-group
    * skip: at 100 TB this is the difference between listing/opening a
    * million files and touching the handful a key range lives in.
    * Result ≡ `readCommitted(...).where(key between lo and hi)`. */
  def readRange(spark: SparkSession, snapshotDir: String,
                lo: Any, hi: Any): DataFrame = {
    val m = Manifest.get(snapshotDir)
    val (keyName, files) = pruneFiles(m, snapshotDir, Some(lo), Some(hi))
    if (files.isEmpty)
      return readCommitted(spark, snapshotDir).where(lit(false))
    withTombstones(spark, m, snapshotDir, readFiles(spark, m, files)
      .where(col(keyName) >= lit(lo) && col(keyName) <= lit(hi)))
  }

  /** The manifest's key column name and the snapshot files whose key range
    * intersects [lo, hi] (either bound optional; None = unbounded) —
    * decided purely from the manifest. Bounds-less manifest entries (files
    * with no key stats) are always kept. Returns None when the directory
    * has no commit marker. Shared by [[readRange]] and the `graft` SQL
    * data source's filter pushdown. */
  def pruneManifestFiles(snapshotDir: String, lo: Option[Any],
                         hi: Option[Any]): Option[(String, Seq[String])] =
    Manifest.read(snapshotDir).map(pruneFiles(_, snapshotDir, lo, hi))

  private[sources] def pruneFiles(m: Manifest, snapshotDir: String,
                                  lo: Option[Any],
                                  hi: Option[Any]): (String, Seq[String]) = {
    val loB = lo.map(KeyBytes.fromAny)
    val hiB = hi.map(KeyBytes.fromAny)
    prunedBy(m, snapshotDir)(r =>
      hiB.forall(h => KeyBytes.compare(r.minBytes, h) <= 0) &&
        loB.forall(l => KeyBytes.compare(r.maxBytes, l) >= 0))
  }

  /** Prune against a SET of point keys in one manifest pass: keeps the
    * files whose [min, max] contains at least one of `values`, plus the
    * stat-less entries. Sorted points + per-file binary search, so a
    * broadcast join handing over thousands of keys costs
    * O((files + keys) log keys) driver work on ONE parsed zone map —
    * never one manifest re-read per key. */
  def pruneManifestFilesPoints(snapshotDir: String,
                               values: Seq[Any]): Option[(String, Seq[String])] =
    Manifest.read(snapshotDir).map { m =>
      val pts = values.map(KeyBytes.fromAny).sorted(KeyBytes.ordering).toArray
      prunedBy(m, snapshotDir) { r =>
        // first point >= min, then check it is <= max
        var lo = 0; var hi = pts.length - 1; var ans = -1
        while (lo <= hi) {
          val mid = (lo + hi) >>> 1
          if (KeyBytes.compare(pts(mid), r.minBytes) >= 0) { ans = mid; hi = mid - 1 }
          else lo = mid + 1
        }
        ans >= 0 && KeyBytes.compare(pts(ans), r.maxBytes) <= 0
      }
    }

  /** The key name and the resolved files whose range passes `keep`, plus
    * every stat-less (never-prunable) entry. */
  private def prunedBy(m: Manifest, snapshotDir: String)(
      keep: ParquetStats.FileKeyRange => Boolean): (String, Seq[String]) =
    (m.key, m.ranges(snapshotDir).getOrElse(Nil).filter(keep).map(_.file) ++
      m.files.filter(_.range.isEmpty).map(e => resolvePath(snapshotDir, e.file)))

  /** The table's data files: a committed snapshot's MANIFEST inventory
    * (the commit defines the contents — a stray uncommitted file next to
    * the snapshot is invisible, same discipline as [[readCommitted]]),
    * or the directory listing for bare parquet dirs. */
  private[graft] def tableFiles(dir: String): List[String] =
    tableFiles(dir, Manifest.read(dir))

  /** Same, for the snapshot whose manifest `m` the caller already read. */
  private[graft] def tableFiles(dir: String, m: Option[Manifest]): List[String] =
    m.map(_.fileNames) match {
      case Some(names) => names.map(n => resolvePath(dir, n)).toList.sorted
      case None => dataFiles(dir)
    }

  /** The data files physically present in `dir`, sorted — the directory
    * listing, whatever a manifest there says. */
  private[graft] def dataFiles(dir: String): List[String] = {
    import scala.jdk.CollectionConverters._
    val s = Files.list(Paths.get(dir))
    try s.iterator().asScala
      .filter(p => isDataFileName(p.getFileName.toString))
      .map(_.toString).toList.sorted
    finally s.close()
  }

  /** Wall millis per named phase of one commit, each phase ending where
    * the next begins — [[MergeResult.phaseMillis]]. */
  private final class PhaseClock {
    private var mark = System.nanoTime()
    private val phases = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    def apply(name: String): Unit = {
      val now = System.nanoTime()
      phases(name) = (now - mark) / 1000000L
      mark = now
    }
    def millis: Map[String, Long] = phases.toMap
  }

  /** Exact table row count from the manifest alone — Some only when every
    * listed file carries a ranged entry (a stat-less file's rows are not
    * in the manifest, so its presence makes the metadata count partial).
    * Lets `COUNT(*)` answer from one JSON read with zero data IO. */
  def manifestExactRowCount(dir: String): Option[Long] =
    Manifest.read(dir).flatMap(_.exactRowCount)

  /** The manifest's typed zone map, when `dir` is a committed snapshot
    * whose manifest key matches `key`: one [[ParquetStats.FileKeyRange]]
    * per ranged entry, decoded to the same typed values the footer path
    * yields (normalized longs / strings / raw binary). Lets a merge chain
    * skip per-file footer probes entirely — range metadata costs one small
    * JSON read regardless of file count. Stat-less entries are omitted,
    * matching the footer path (they are unroutable). */
  def manifestRanges(dir: String, key: String)
      : Option[Seq[ParquetStats.FileKeyRange]] =
    Manifest.read(dir).filter(_.key == key).flatMap(_.ranges(dir))

  /** Attach per-file [min, max] ranges for NON-KEY columns (typically the
    * Z-order dims) to a committed snapshot's manifest, enabling file-level
    * zone-map pruning on those columns too — static (pushed filters) and
    * runtime (join-key IN-sets) — via the graft SQL source. One footer
    * sweep per call over the manifest's files; re-attaching replaces the
    * previous section. Merge rewrites do not carry dim ranges forward —
    * re-attach after a merge (cost: the snapshot's file count, driver- or
    * executor-parallel, zero data IO). */
  def attachDimRanges(spark: SparkSession, snapshotDir: String,
                      dims: Seq[String]): Unit = {
    val m = Manifest.get(snapshotDir)
    val resolvedToEntry =
      m.fileNames.map(e => resolvePath(snapshotDir, e) -> e).toMap
    val files = resolvedToEntry.keys.toSeq.sorted
    // renamed dims: footers carry the column's PHYSICAL name — sweep by
    // it, record the entry under the LOGICAL name pushed filters use
    val entries = dims.flatMap { d =>
      ParquetStats.fileKeyRangesTypedFor(spark, files, m.renames.getOrElse(d, d))
        .map(r => Manifest.dimEntry(resolvedToEntry(r.file), d, r.min, r.max))
    }
    Manifest.write(snapshotDir, m.copy(dimRanges = entries))
  }

  /** Remove the dim zone-map entries on `dims` from a committed
    * snapshot's manifest — the [[attachDimRanges]] inverse, for layout
    * changes that deliberately shed a pruning index (an index rewritten
    * to the ingest-local layout has near-table-wide per-file dim ranges,
    * which prune nothing and mis-declare the layout to probes that
    * auto-detect it from the dim section). Atomic rewrite; a manifest
    * without matching entries is left untouched. */
  def detachDimRanges(snapshotDir: String, dims: Seq[String]): Unit =
    Manifest.read(snapshotDir).foreach { m =>
      val stripped = m.withoutDims(dims)
      if (stripped != m) Manifest.write(snapshotDir, stripped)
    }

  /** A non-key column's per-file bounds, encoded for [[KeyBytes]] order. */
  final case class DimRange(file: String, minBytes: Array[Byte],
                            maxBytes: Array[Byte])

  /** The manifest's non-key zone maps: column -> per-file encoded bounds
    * (files resolved to absolute paths). Empty when never attached. */
  def manifestDimRanges(snapshotDir: String): Map[String, Seq[DimRange]] =
    Manifest.read(snapshotDir).map(_.dims(snapshotDir)).getOrElse(Map.empty)

  /** Type with all nested nullability flags (and field metadata)
    * erased — the drift check compares VALUE types only; nullability
    * differences are unioned away harmlessly by the merge. */
  private[sources] def stripNullability(dt: DataType): DataType = dt match {
    case s: StructType => StructType(s.fields.map(f => StructField(f.name,
      stripNullability(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(stripNullability(a.elementType), true)
    case m: MapType =>
      MapType(stripNullability(m.keyType), stripNullability(m.valueType), true)
    case other => other
  }

  private def fileName(p: String): String =
    new org.apache.hadoop.fs.Path(p).getName

  private[graft] def deleteDir(dir: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    val s = Files.walk(dir)
    try s.sorted(java.util.Comparator.reverseOrder())
      .iterator().asScala.foreach(Files.delete)
    finally s.close()
  }
}
