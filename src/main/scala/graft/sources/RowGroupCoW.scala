package graft.sources

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetFileWriter}
import org.apache.parquet.hadoop.metadata.BlockMetaData
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.MergeOps

/** Result of a row-group-granularity rewrite: which of the source's row
  * groups were raw-copied vs re-encoded. */
final case class RowGroupRewrite(
    outFile: String,
    sourceGroups: Int,
    passthroughGroups: Int,
    rewrittenGroups: Int,
    outputGroups: Int)

/** The reference's core trick at its native granularity: apply a mutation
  * batch to ONE key-sorted Parquet file by re-encoding only the row groups
  * whose key range the batch touches and copying every clean row group
  * **byte-for-byte** (`ParquetFileWriter.appendRowGroups` — the
  * `writer.appendRowGroup` passthrough of ParquetRewriter.java:312-322),
  * interleaved in key order exactly as the reference's single forward pass
  * does (seekToKey routing, ParquetRewriter.java:253-301).
  *
  * Division of labor: Spark runs the merge (reads just the dirty groups —
  * the key-range filter prunes clean groups via their footer stats — and
  * sort-merges the batch slice); parquet-mr splices raw bytes. The engine's
  * default CoW unit is the *file* ([[MutableParquetTable]]) because at
  * cluster scale file-granularity passthrough is metadata-only; this
  * utility is the escalation for fat files with narrow dirty ranges —
  * amortizing rewrite cost within a file the way the reference amortizes
  * it within one (README.md:109-111). The file-level merge already runs
  * one sorted pass per dirty file inside one job's tasks ([[CowRewrite]]);
  * this utility instead runs one small Spark merge job per dirty file
  * (`mergeFineGrained` submits them concurrently), and its per-file work
  * is sequential IO plus that job.
  *
  * Key routing (reference seekToKey semantics): group g owns keys in
  * [min_g, min_{g+1}); the first group also owns everything below, the
  * last everything above. A batch key landing between two groups' ranges
  * therefore dirties the earlier group, preserving global sort order.
  */
object RowGroupCoW {

  /** Thrown BEFORE any output is written when the mutation batch carries
    * a column (top-level or nested struct field) the source file's
    * physical schema lacks — a file predating a metadata-only
    * `ADD COLUMN` or a merge schema evolution. The splice re-encodes
    * dirty rows under the SOURCE schema ([[MergeOps.applyMutationsMulti]]
    * projects to the base's columns), so proceeding would SILENTLY DROP
    * the batch's values for that column. Callers fall back to the
    * file-level merge, which reads files logical and writes the full
    * logical schema. */
  final class SchemaBeyondFileException(msg: String)
      extends RuntimeException(msg)

  /** Batch fields (recursively, through plain struct groups) missing
    * from the source parquet schema, as dotted paths. LIST/MAP-annotated
    * groups are not descended — element-level evolution never happens
    * through metadata ALTERs here, and a shape mismatch inside them
    * fails the merge-run union loudly rather than silently. */
  private[sources] def fieldsBeyondSource(
      batch: org.apache.spark.sql.types.StructType,
      src: org.apache.parquet.schema.GroupType): Seq[String] = {
    def walk(prefix: String,
             fields: Seq[org.apache.spark.sql.types.StructField],
             grp: org.apache.parquet.schema.GroupType): Seq[String] =
      fields.flatMap { f =>
        grp.getFields.asScala.find(_.getName.equalsIgnoreCase(f.name)) match {
          case None => Seq(prefix + f.name)
          case Some(pt) => f.dataType match {
            case st: org.apache.spark.sql.types.StructType
                if !pt.isPrimitive &&
                  pt.asGroupType.getLogicalTypeAnnotation == null =>
              walk(prefix + f.name + ".", st.fields.toSeq, pt.asGroupType)
            case _ => Nil
          }
        }
      }
    walk("", batch.fields.toSeq, src)
  }

  /** @param batch mutation rows: base schema + `opCol` in {upsert,delete};
    *              assumed routed/small relative to the file (its distinct
    *              keys are collected to classify row groups). */
  def rewriteFile(spark: SparkSession, srcFile: String, outFile: String,
                  keyCol: String, batch: DataFrame,
                  opCol: String = "op",
                  moreKeys: Seq[String] = Nil): RowGroupRewrite = {
    val conf = spark.sparkContext.hadoopConfiguration
    val inFile = HadoopInputFile.fromPath(new Path(srcFile), conf)
    // per-group min key, both typed (for Column range filters) and as the
    // order-preserving byte encoding (for routing) — numeric AND string/
    // binary keys supported, matching the reference's signed-lexicographic
    // binary keys (ParquetRewriter.java:35-37)
    val (schema, blocks, mins, maxs) = {
      val r = ParquetFileReader.open(inFile)
      try {
        val bs = r.getFooter.getBlocks.asScala.toVector
        val stats = bs.map { b =>
          val cm = b.getColumns.asScala.find(_.getPath.toDotString == keyCol)
            .getOrElse(throw new IllegalArgumentException(
              s"key column $keyCol not found in $srcFile"))
          val st = cm.getStatistics
          require(st != null && st.hasNonNullValue, s"no key stats in $srcFile")
          // key column string-ness decided by the parquet annotation: a
          // BINARY chunk without the String annotation is a RAW binary key
          // whose stats must never round-trip through UTF-8 (lossy)
          val keyIsString = cm.getPrimitiveType.getLogicalTypeAnnotation
            .isInstanceOf[org.apache.parquet.schema.LogicalTypeAnnotation.StringLogicalTypeAnnotation]
          def enc(v: Any): (Any, Array[Byte]) = v match {
            case _: java.lang.Double | _: java.lang.Float =>
              throw new IllegalArgumentException(
                "fractional merge keys are not supported (no exact " +
                  "order-preserving long form)")
            case n: java.lang.Number =>
              (java.lang.Long.valueOf(n.longValue), KeyBytes.fromLong(n.longValue))
            case bin: org.apache.parquet.io.api.Binary if keyIsString =>
              val s = bin.toStringUsingUTF8
              (s, KeyBytes.fromString(s))
            case bin: org.apache.parquet.io.api.Binary =>
              val b = bin.getBytes
              (b, KeyBytes.fromBinary(b))
            case other => throw new IllegalArgumentException(
              s"integral, string, or binary key required, got ${other.getClass}")
          }
          (enc(st.genericGetMin), enc(st.genericGetMax)._2)
        }
        (r.getFooter.getFileMetaData.getSchema, bs, stats.map(_._1), stats.map(_._2))
      } finally r.close()
    }

    // refuse (loudly, before any writes) when the batch carries columns
    // this file's physical schema lacks — the splice would re-encode
    // dirty rows under the narrow source schema and silently drop them
    val beyond = fieldsBeyondSource(batch.drop(opCol).schema, schema)
    if (beyond.nonEmpty)
      throw new SchemaBeyondFileException(
        s"$srcFile predates columns ${beyond.mkString(", ")} carried by " +
          "the batch (metadata ADD COLUMN / merge evolution) — the " +
          "row-group splice writes under the file's source schema and " +
          "would drop their values; use the file-level merge")

    // classify: route each batch key to the last group with min <= key
    val keys = batch.select(col(keyCol)).distinct()
      .collect().map(r => KeyBytes.fromAny(r.get(0)))
    val dirtyIdx0 = keys.map { k =>
      var lo = 0; var hi = blocks.size - 1; var ans = 0
      while (lo <= hi) {
        val mid = (lo + hi) >>> 1
        if (KeyBytes.compare(mins(mid)._2, k) <= 0) { ans = mid; lo = mid + 1 }
        else hi = mid - 1
      }
      ans
    }.toSet

    // non-cut expansion (see KeyBytes.expandNonCut): run slices are
    // key-range filters, so a key straddling a group boundary (parquet
    // cuts groups by size, mid-key, whenever keys repeat) would otherwise
    // silently drop the left group's straddling rows or duplicate the
    // right ones; absorbing the neighbor re-encodes one extra group
    val dirtyIdx = KeyBytes.expandNonCut(blocks.size,
      g => mins(g)._2, g => maxs(g), dirtyIdx0)

    // maximal runs of consecutive same-cleanliness groups, in file order
    val runs = blocks.indices.foldLeft(Vector.empty[(Boolean, Vector[Int])]) {
      case (acc, i) =>
        val d = dirtyIdx.contains(i)
        acc.lastOption match {
          case Some((`d`, idxs)) => acc.init :+ (d, idxs :+ i)
          case _ => acc :+ (d -> Vector(i))
        }
    }

    val tmp = Files.createTempDirectory("graft-rgcow").toString

    // Align merged-run nullability with the source's parquet repetitions:
    // the splice below is a RAW byte copy under the source schema, and a
    // `required` column encodes no definition levels while an `optional`
    // one does — Spark's join/union pipeline reports every column nullable
    // and would write `optional` chunks that the `required` schema then
    // misdecodes (values silently scrambled). Only needed when the source
    // has required columns; the dirty slice is small by design, so the
    // row-level rebuild is cheap.
    val srcRequired: Set[String] = schema.getFields.asScala
      .filter(_.getRepetition == org.apache.parquet.schema.Type.Repetition.REQUIRED)
      .map(_.getName).toSet
    def alignNullability(df: DataFrame): DataFrame =
      if (srcRequired.isEmpty) df
      else spark.createDataFrame(df.rdd,
        org.apache.spark.sql.types.StructType(df.schema.fields.map(f =>
          if (srcRequired.contains(f.name)) f.copy(nullable = false) else f)))

    // pre-merge every dirty run with its owned batch slice (Spark jobs)
    val mergedRunFiles: Map[Int, String] = runs.zipWithIndex.collect {
      case ((true, idxs), runNo) =>
        val lower = if (idxs.head == 0) None else Some(mins(idxs.head)._1)
        val upper = if (idxs.last == blocks.size - 1) None else Some(mins(idxs.last + 1)._1)
        // bounds live in the NORMALIZED key domain (epoch days/micros for
        // date/timestamp stats), so compare the normalized column; for
        // plain long/string keys this is the identity and the range
        // filter still reaches the parquet scan for row-group skipping
        def slice(df: DataFrame) = {
          val nk = MutableParquetTable.normalizedKeyCol(
            df.schema(keyCol).dataType, col(keyCol))
          (lower, upper) match {
            case (Some(lo), Some(up)) => df.where(nk >= lit(lo) && nk < lit(up))
            case (Some(lo), None)     => df.where(nk >= lit(lo))
            case (None, Some(up))     => df.where(nk < lit(up))
            case (None, None)         => df
          }
        }
        // the key-range filter reaches the parquet scan, so clean groups
        // of srcFile are skipped via their footer stats, not decoded
        val base = slice(spark.read.parquet(srcFile))
        val merged = MergeOps.applyMutationsMulti(base, slice(batch),
          keyCol +: moreKeys, opCol)
        val dir = s"$tmp/run-$runNo"
        ParquetTable.withMicrosTimestamps(spark) {
          // micros, matching the (engine-written) source file: the splice
          // below raw-copies these bytes under the SOURCE schema
          alignNullability(merged).repartition(1)
            .sortWithinPartitions((keyCol +: moreKeys).map(col): _*)
            .write.parquet(dir)
        }
        val part = Files.list(Paths.get(dir)).iterator().asScala
          .map(_.toString).filter(_.endsWith(".parquet")).toSeq
        require(part.size == 1, s"expected one merged file for run $runNo")
        runNo -> part.head
    }.toMap

    // splice: raw-copy clean runs, append re-encoded dirty runs, in order
    val writer = new ParquetFileWriter(
      HadoopOutputFile.fromPath(new Path(outFile), conf),
      schema, ParquetFileWriter.Mode.CREATE,
      128L * 1024 * 1024, 8 * 1024 * 1024)
    writer.start()
    val srcStream = inFile.newStream()
    try {
      runs.zipWithIndex.foreach {
        case ((false, idxs), _) =>
          val bl: java.util.List[BlockMetaData] = idxs.map(blocks(_)).asJava
          writer.appendRowGroups(srcStream, bl, false)
        case ((true, _), runNo) =>
          val mf = HadoopInputFile.fromPath(new Path(mergedRunFiles(runNo)), conf)
          // fail-fast: appendFile is a raw byte copy — a schema drift here
          // (e.g. repetition) would scramble values silently, never error
          val ms = {
            val r = ParquetFileReader.open(mf)
            try r.getFooter.getFileMetaData.getSchema finally r.close()
          }
          require(ms == schema,
            s"merged run schema differs from source:\n$ms\nvs\n$schema")
          writer.appendFile(mf)
      }
    } finally srcStream.close()
    writer.end(java.util.Collections.emptyMap[String, String]())

    val outGroups = {
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(outFile), conf))
      try r.getFooter.getBlocks.size() finally r.close()
    }
    RowGroupRewrite(outFile, blocks.size,
      passthroughGroups = blocks.size - dirtyIdx.size,
      rewrittenGroups = dirtyIdx.size, outputGroups = outGroups)
  }
}
