package graft

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile

/** Row-group views of a parquet file for specs: a digest of each row
  * group's column-chunk bytes, so a spec can tell a group copied raw
  * (same bytes at another offset) from one re-encoded. */
object RowGroups {

  /** One digest per row group of `file`, in file order. */
  def digests(file: String): IndexedSeq[String] = {
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(file), new Configuration()))
    val blocks = try reader.getFooter.getBlocks.asScala.toIndexedSeq
      finally reader.close()
    val raf = new java.io.RandomAccessFile(file, "r")
    try blocks.map { b =>
      val md = java.security.MessageDigest.getInstance("SHA-256")
      b.getColumns.asScala.foreach { c =>
        val bytes = new Array[Byte](c.getTotalSize.toInt)
        raf.seek(c.getStartingPos)
        raf.readFully(bytes)
        md.update(bytes)
      }
      md.digest().map(x => f"$x%02x").mkString
    } finally raf.close()
  }

  /** Row groups of `out` whose bytes equal a row group of `src`. */
  def copied(src: String, out: String): Int = {
    val from = digests(src).toSet
    digests(out).count(from)
  }
}
