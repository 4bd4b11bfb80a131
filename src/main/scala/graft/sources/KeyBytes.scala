package graft.sources

/** Order-preserving byte encoding for zone-map keys, so one routing kernel
  * serves every supported key type:
  *
  *  - numeric keys → 8-byte big-endian two's-complement with the sign bit
  *    flipped (unsigned byte order == signed numeric order);
  *  - string keys → raw UTF-8 bytes (unsigned byte order == Spark's
  *    `UTF8String` sort order == parquet-mr's UNSIGNED binary stats order,
  *    and == the reference's signed-lexicographic binary keys for the
  *    7-bit-clean keys it documents, e.g. uuids —
  *    reference README.md:26-43, ParquetRewriter.java:35-37).
  *
  * A table's key column has ONE type, so encodings are never compared
  * across types.
  */
private[graft] object KeyBytes {

  def fromLong(k: Long): Array[Byte] = {
    val x = k ^ Long.MinValue // flip sign bit: preserves order under unsigned compare
    val a = new Array[Byte](8)
    var i = 0
    while (i < 8) { a(i) = ((x >>> (56 - 8 * i)) & 0xffL).toByte; i += 1 }
    a
  }

  def fromString(s: String): Array[Byte] =
    s.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  /** Raw bytes ARE the encoding for binary keys (unsigned lexicographic —
    * exactly the reference's signed-min-max binary key order,
    * ParquetRewriter.java:35-37,97; identical to [[fromString]] for UTF-8
    * string keys, so the two lanes never disagree). */
  def fromBinary(b: Array[Byte]): Array[Byte] = b

  /** Encode any supported key value (runtime-typed, e.g. from a Row).
    * Date/timestamp keys normalize to the same longs parquet stores
    * physically (epoch days / epoch micros), so routing agrees with
    * footer statistics. Fractional types are REJECTED, not truncated: a
    * truncating longValue would silently route 1.5 and 1 to the same
    * file and corrupt the merge. */
  def fromAny(v: Any): Array[Byte] = v match {
    case _: java.lang.Double | _: java.lang.Float | _: java.math.BigDecimal |
         _: scala.math.BigDecimal => throw new IllegalArgumentException(
      s"fractional merge-key type ${v.getClass.getName} is not supported " +
        "(no exact order-preserving long form); use an integral, string, " +
        "binary, date, or timestamp key")
    case n: java.lang.Number => fromLong(n.longValue)
    case s: String => fromString(s)
    case b: Array[Byte] => fromBinary(b)
    case d: java.sql.Date =>
      fromLong(org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaDate(d).toLong)
    case d: java.time.LocalDate => fromLong(d.toEpochDay)
    case t: java.sql.Timestamp =>
      fromLong(org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(t))
    case t: java.time.Instant =>
      fromLong(org.apache.spark.sql.catalyst.util.DateTimeUtils.instantToMicros(t))
    case t: java.time.LocalDateTime => // TIMESTAMP_NTZ row value
      fromLong(org.apache.spark.sql.catalyst.util.DateTimeUtils.localDateTimeToMicros(t))
    case other => throw new IllegalArgumentException(
      s"unsupported merge-key type ${other.getClass.getName} — integral, " +
        "string, binary, date, or timestamp required")
  }

  /** Unsigned lexicographic comparison. */
  def compare(a: Array[Byte], b: Array[Byte]): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val c = (a(i) & 0xff) - (b(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    a.length - b.length
  }

  implicit val ordering: Ordering[Array[Byte]] =
    (x: Array[Byte], y: Array[Byte]) => compare(x, y)

  /** Fixpoint expansion of a dirty index set across NON-CUT boundaries.
    * Boundary (i, i+1) of key-ordered units is a cut iff
    * max(i) < min(i+1); a non-cut boundary means a key value straddles
    * both sides, and a rewrite sliced there would drop or duplicate the
    * straddling rows — so a dirty unit absorbs its straddled neighbor.
    * With unique keys no boundary straddles and this is the identity.
    * Shared by the merge's file routing ([[MutableParquetTable]]) and the
    * rewrite task's row-group routing ([[RowGroupCoW]]). */
  def expandNonCut(n: Int, minBytes: Int => Array[Byte],
                   maxBytes: Int => Array[Byte], dirty0: Set[Int]): Set[Int] = {
    val d = scala.collection.mutable.Set(dirty0.toSeq: _*)
    var changed = true
    while (changed) {
      changed = false
      for (i <- 0 until n - 1) {
        val cut = compare(maxBytes(i), minBytes(i + 1)) < 0
        if (!cut && d(i) != d(i + 1)) { d += i; d += (i + 1); changed = true }
      }
    }
    d.toSet
  }
}
