package graft.plans

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Exact per-group top-k by (score desc, id asc) as a native aggregate
  * function — the distributed bounded priority queue behind
  * [[graft.functions.Udx.topK]] and every similarity search's ranking
  * stage.
  *
  * The buffer is two fixed arrays of k (scores, ids) kept sorted best
  * first: a row that cannot beat the current k-th entry is rejected by
  * one comparison, any other is binary-searched into place (O(k) shift,
  * no allocation). Partial buffers merge in one linear pass over two
  * sorted runs and cross the shuffle as `n, n doubles, n longs` bytes, so
  * the exchange carries at most k entries per (map task, group).
  *
  * Order: ascending by (−score under `java.lang.Double.compare`, id) —
  * NaN ranks last, 0.0 before −0.0, ties go to the smaller id. Rows with
  * a null score or id are skipped. Output is `array<struct<score: double,
  * id: bigint>>` in rank order (empty for a group with no ranked row).
  */
case class TopKAggregate(score: Expression, id: Expression, k: Int,
                         mutableAggBufferOffset: Int = 0,
                         inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[TopKAggregate.Buffer]
    with BinaryLike[Expression] {

  require(k > 0, "k must be positive")

  import TopKAggregate.Buffer

  override def left: Expression = score
  override def right: Expression = id

  override def checkInputDataTypes(): TypeCheckResult =
    if (score.dataType == DoubleType && id.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (double, bigint), got " +
        s"(${score.dataType.catalogString}, ${id.dataType.catalogString})")

  override def prettyName: String = "graft_topk"
  override def nullable: Boolean = false
  override def dataType: DataType = TopKAggregate.ResultType

  override def createAggregationBuffer(): Buffer = new Buffer(k)

  override def update(buf: Buffer, input: InternalRow): Buffer = {
    val s = score.eval(input)
    if (s != null) {
      val i = id.eval(input)
      if (i != null) buf.offer(s.asInstanceOf[Double], i.asInstanceOf[Long])
    }
    buf
  }

  override def merge(buf: Buffer, other: Buffer): Buffer = buf.mergeFrom(other)

  override def eval(buf: Buffer): Any =
    new GenericArrayData(Array.tabulate[Any](buf.n)(j =>
      InternalRow(buf.scores(j), buf.ids(j))))

  override def serialize(buf: Buffer): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 16 * buf.n)
    bb.putInt(buf.n)
    var j = 0
    while (j < buf.n) { bb.putDouble(buf.scores(j)); j += 1 }
    j = 0
    while (j < buf.n) { bb.putLong(buf.ids(j)); j += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Buffer = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new Buffer(k)
    buf.n = bb.getInt()
    var j = 0
    while (j < buf.n) { buf.scores(j) = bb.getDouble(); j += 1 }
    j = 0
    while (j < buf.n) { buf.ids(j) = bb.getLong(); j += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): TopKAggregate =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TopKAggregate =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): TopKAggregate =
    copy(score = newLeft, id = newRight)
}

object TopKAggregate {

  val ResultType: DataType = ArrayType(StructType(Seq(
    StructField("score", DoubleType, nullable = false),
    StructField("id", LongType, nullable = false))), containsNull = false)

  /** (s1, i1) ranks strictly before (s2, i2). */
  private def before(s1: Double, i1: Long, s2: Double, i2: Long): Boolean = {
    val c = java.lang.Double.compare(-s1, -s2)
    c < 0 || (c == 0 && i1 < i2)
  }

  /** The current top entries, best first: `scores(j), ids(j)` for j < n. */
  final class Buffer(k: Int) {
    val scores = new Array[Double](k)
    val ids = new Array[Long](k)
    var n = 0

    def offer(s: Double, i: Long): Unit =
      if (n < k || before(s, i, scores(n - 1), ids(n - 1))) {
        // first position whose entry (s, i) ranks before — equal keys
        // keep arrival order
        var lo = 0; var hi = n
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (before(s, i, scores(mid), ids(mid))) hi = mid else lo = mid + 1
        }
        val moved = math.min(n, k - 1) - lo
        System.arraycopy(scores, lo, scores, lo + 1, moved)
        System.arraycopy(ids, lo, ids, lo + 1, moved)
        scores(lo) = s; ids(lo) = i
        if (n < k) n += 1
      }

    /** This buffer's and `o`'s best k, merged in place into this one. */
    def mergeFrom(o: Buffer): Buffer = {
      if (o.n == 0) return this
      val m = math.min(k, n + o.n)
      val ms = new Array[Double](m); val mi = new Array[Long](m)
      var a = 0; var b = 0; var j = 0
      while (j < m) {
        if (b >= o.n || (a < n && !before(o.scores(b), o.ids(b), scores(a), ids(a)))) {
          ms(j) = scores(a); mi(j) = ids(a); a += 1
        } else {
          ms(j) = o.scores(b); mi(j) = o.ids(b); b += 1
        }
        j += 1
      }
      System.arraycopy(ms, 0, scores, 0, m)
      System.arraycopy(mi, 0, ids, 0, m)
      n = m
      this
    }
  }
}
