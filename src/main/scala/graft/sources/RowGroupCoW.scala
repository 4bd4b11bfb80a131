package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.parquet.hadoop.{ParquetFileReader, ParquetFileWriter}
import org.apache.parquet.hadoop.metadata.{BlockMetaData, ParquetMetadata}
import org.apache.parquet.io.SeekableInputStream

/** The reference's core trick at its native granularity, as the routing
  * and copying helpers [[CowRewrite]]'s task uses inside one dirty file:
  * re-encode only the row groups a batch touches and copy every clean
  * group **byte for byte** (the `writer.appendRowGroup` passthrough of
  * ParquetRewriter.java:312-322), interleaved in key order exactly as the
  * reference's single forward pass does (seekToKey routing,
  * ParquetRewriter.java:253-301). Rewrite bytes then scale with dirty
  * groups, not dirty files (README.md:109-111).
  *
  * Key routing (reference seekToKey semantics, [[CowRewrite.ownerOf]]
  * over the groups' minimum keys): group g owns keys in
  * [min_g, min_{g+1}); the first group also owns everything below, the
  * last everything above. A batch key landing between two groups' ranges
  * therefore dirties the earlier group, preserving the file's sort order.
  */
private[sources] object RowGroupCoW {

  /** Encoded [min, max] of the leading key `key` in each row group of
    * `footer` (the footer of `file`) — None unless every group carries
    * key statistics and the groups are in key order (each group's max at
    * most the next group's min), the two things the splice relies on. */
  def bounds(file: String, key: String, footer: ParquetMetadata)
      : Option[IndexedSeq[(Array[Byte], Array[Byte])]] = {
    val groups = ParquetStats.footerRows(file, key, footer)
      .map(r => ParquetStats.fromGroupRows(file, Seq(r)))
    if (groups.exists(_.isEmpty)) None
    else {
      val b = groups.flatten.map(r => (r.minBytes, r.maxBytes)).toIndexedSeq
      if (b.indices.drop(1).forall(i => KeyBytes.compare(b(i - 1)._2, b(i)._1) <= 0))
        Some(b)
      else None
    }
  }

  /** The file's groups as maximal runs of equally dirty groups, in file
    * order: `dirty0` (the groups a batch row routes to) expanded across
    * non-cut boundaries ([[KeyBytes.expandNonCut]]) — a run sliced where
    * a key straddles two groups would drop or duplicate its rows. */
  def runs(bounds: IndexedSeq[(Array[Byte], Array[Byte])],
           dirty0: Set[Int]): Seq[(Boolean, Range)] = {
    val dirty = KeyBytes.expandNonCut(bounds.size, bounds(_)._1, bounds(_)._2,
      dirty0)
    bounds.indices.foldLeft(Vector.empty[(Boolean, Range)]) { (acc, g) =>
      acc.lastOption match {
        case Some((d, r)) if d == dirty(g) => acc.init :+ (d -> (r.head to g))
        case _ => acc :+ (dirty(g) -> (g to g))
      }
    }
  }

  /** Byte offset and length of the split holding exactly `blocks`
    * `first..last`: a reader given it decodes just those groups (parquet
    * assigns a group to the split holding its midpoint). */
  def span(blocks: IndexedSeq[BlockMetaData], first: Int, last: Int): (Long, Long) = {
    val start = blocks(first).getStartingPos
    (start, blocks(last).getStartingPos + blocks(last).getCompressedSize - start)
  }

  /** Append `blocks` of the file open in `reader` (read from `in`) to
    * `out` byte for byte, bloom filters and page indexes included. The
    * caller guarantees both files share one parquet schema: a raw copy
    * never checks it, and a repetition mismatch would scramble values. */
  def copy(reader: ParquetFileReader, in: SeekableInputStream,
           blocks: Seq[BlockMetaData], out: ParquetFileWriter): Unit = {
    val schema = reader.getFooter.getFileMetaData.getSchema
    blocks.foreach { b =>
      out.startBlock(b.getRowCount)
      b.getColumns.asScala.foreach { c =>
        out.appendColumnChunk(schema.getColumnDescription(c.getPath.toArray), in, c,
          reader.readBloomFilter(c), reader.readColumnIndex(c), reader.readOffsetIndex(c))
      }
      out.endBlock()
    }
  }
}
