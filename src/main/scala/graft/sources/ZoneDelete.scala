package graft.sources

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types._

/** File-level tri-state predicate classification for metadata-priced
  * `DELETE WHERE` — the query-side dual of the merge's zone-map routing.
  *
  * For each file in a committed snapshot's manifest, decide from metadata
  * alone whether the delete predicate is TRUE for every row (`AllTrue` —
  * the file is dropped whole, zero IO), TRUE for no row (`NoneTrue` —
  * the file passes through untouched), or undecidable (`Unknown` — the
  * file is rewritten with the row-level residual filter, which is always
  * correct regardless of what this analysis could not prove).
  *
  * Evidence used, all driver-side manifest metadata:
  *  - the KEY zone map ([min,max] per file). The merge key is non-null by
  *    contract, so key comparisons can prove both AllTrue and NoneTrue;
  *  - non-key dim zone maps ([[MutableParquetTable.attachDimRanges]]).
  *    Footer min/max ignore nulls and a null never satisfies a
  *    comparison, so dim evidence soundly proves NoneTrue — but never
  *    AllTrue (rows with a null dim evaluate the predicate to null =
  *    not-deleted, invisible to the stats).
  *
  * The analysis is strictly CONSERVATIVE: any predicate shape it does not
  * understand evaluates to Unknown, which degrades cost (that file is
  * rewritten through the residual filter), never correctness.
  *
  * Scale: a retention delete (`key < horizon`) on a 100 TB key-sorted
  * table classifies every file below the horizon AllTrue and every file
  * above NoneTrue — the whole statement is one manifest commit plus at
  * most one boundary-file rewrite, instead of a table scan + CoW merge.
  */
private[graft] object ZoneDelete {

  sealed trait Tri
  case object AllTrue extends Tri
  case object NoneTrue extends Tri
  case object Unknown extends Tri

  /** Per-file verdicts over a snapshot's manifest inventory: `drop` =
    * provably all-matching, `keep` = provably none-matching, `rewrite` =
    * everything else. Paths are resolved (absolute). */
  final case class Classification(drop: Seq[String], keep: Seq[String],
                                  rewrite: Seq[String]) {
    def total: Int = drop.size + keep.size + rewrite.size
    /** Fraction of files the metadata fully decided. */
    def provenFraction: Double =
      if (total == 0) 1.0 else (drop.size + keep.size).toDouble / total
  }

  /** Classify every file `m` (the manifest of `snapshotDir`) lists under
    * the resolved delete predicate `cond`. */
  def classify(m: Manifest, snapshotDir: String,
               cond: Expression): Classification = {
      val dims: Map[String, Map[String, (Array[Byte], Array[Byte])]] =
        m.dims(snapshotDir).map {
          case (c, rs) =>
            c.toLowerCase ->
              rs.map(r => r.file -> (r.minBytes, r.maxBytes)).toMap
        }
      val drop = Seq.newBuilder[String]
      val keep = Seq.newBuilder[String]
      val rw = Seq.newBuilder[String]
      def put(file: String, keyBounds: Option[(Array[Byte], Array[Byte])])
          : Unit = {
        val t = eval(cond, m.key, keyBounds,
          col => dims.get(col.toLowerCase).flatMap(_.get(file)))
        t match {
          case AllTrue  => drop += file
          case NoneTrue => keep += file
          case Unknown  => rw += file
        }
      }
      m.ranges(snapshotDir).getOrElse(Nil).foreach(r =>
        put(r.file, Some((r.minBytes, r.maxBytes))))
      m.files.filter(_.range.isEmpty).foreach(e =>
        put(MutableParquetTable.resolvePath(snapshotDir, e.file), None))
      Classification(drop.result(), keep.result(), rw.result())
  }

  /** Evaluate `cond` for one file. `keyBounds` None = stat-less file (key
    * evidence unavailable); `dimBoundsOf(col)` None = no dim entry for
    * this file/column. */
  private[sources] def eval(cond: Expression, keyName: String,
      keyBounds: Option[(Array[Byte], Array[Byte])],
      dimBoundsOf: String => Option[(Array[Byte], Array[Byte])]): Tri = {

    def isKey(a: Attribute): Boolean = a.name.equalsIgnoreCase(keyName)

    // (bounds, boundsAreNullFree): key bounds cover every row (non-null
    // key contract), dim bounds only the non-null rows
    def boundsOf(a: Attribute): (Option[(Array[Byte], Array[Byte])], Boolean) =
      if (isKey(a)) (keyBounds, true) else (dimBoundsOf(a.name), false)

    def leaf(a: Attribute, v: Expression, op: String): Tri = {
      val lit = encode(a.dataType, v.eval(null)).getOrElse(return Unknown)
      val (bounds, key) = boundsOf(a)
      bounds match {
        case None => Unknown
        case Some((mnB, mxB)) =>
          val mnC = KeyBytes.compare(mnB, lit)
          val mxC = KeyBytes.compare(mxB, lit)
          val raw = op match {
            case "<"  => if (mxC < 0) AllTrue
                         else if (mnC >= 0) NoneTrue else Unknown
            case "<=" => if (mxC <= 0) AllTrue
                         else if (mnC > 0) NoneTrue else Unknown
            case ">"  => if (mnC > 0) AllTrue
                         else if (mxC <= 0) NoneTrue else Unknown
            case ">=" => if (mnC >= 0) AllTrue
                         else if (mxC < 0) NoneTrue else Unknown
            case "="  => if (mnC == 0 && mxC == 0) AllTrue
                         else if (mxC < 0 || mnC > 0) NoneTrue else Unknown
          }
          // dim stats ignore nulls: "all sampled rows match" is not "all
          // rows match" — cap at Unknown; NoneTrue stays sound (a null
          // dim never satisfies a comparison)
          if (raw == AllTrue && !key) Unknown else raw
      }
    }

    def ev(e: Expression): Tri = e match {
      case Literal(true, BooleanType)  => AllTrue
      case Literal(null, _)            => NoneTrue // null = not-deleted
      case Literal(false, BooleanType) => NoneTrue
      case And(l, r) => (ev(l), ev(r)) match {
        case (NoneTrue, _) | (_, NoneTrue) => NoneTrue
        case (AllTrue, AllTrue)            => AllTrue
        case _                             => Unknown
      }
      case Or(l, r) => (ev(l), ev(r)) match {
        case (AllTrue, _) | (_, AllTrue) => AllTrue
        case (NoneTrue, NoneTrue)        => NoneTrue
        case _                           => Unknown
      }
      case Not(c) => ev(c) match {
        case AllTrue => NoneTrue // every row TRUE -> negation FALSE everywhere
        // "no row TRUE" inverts to "every row TRUE" only when the child
        // can never be NULL — guaranteed when its only column reference
        // is the non-null merge key (a null child row is false on BOTH
        // sides of the negation, so neither verdict could claim it)
        case NoneTrue if nullFree(c, keyName) => AllTrue
        case _ => Unknown
      }
      case IsNotNull(BareAttr(a)) if isKey(a) => AllTrue
      case IsNull(BareAttr(a)) if isKey(a)    => NoneTrue
      case cmp: BinaryComparison =>
        val op = cmp match {
          case _: LessThan           => Some("<")
          case _: LessThanOrEqual    => Some("<=")
          case _: GreaterThan        => Some(">")
          case _: GreaterThanOrEqual => Some(">=")
          case _: EqualTo            => Some("=")
          case _: EqualNullSafe      => Some("=")
          case _                     => None
        }
        val flip = Map("<" -> ">", "<=" -> ">=", ">" -> "<", ">=" -> "<=",
          "=" -> "=")
        (op, cmp.left, cmp.right) match {
          case (Some(o), BareAttr(a), v) if v.foldable => leaf(a, v, o)
          case (Some(o), v, BareAttr(a)) if v.foldable => leaf(a, v, flip(o))
          case _ => Unknown
        }
      case In(BareAttr(a), vs) if vs.forall(_.foldable) =>
        val enc = vs.flatMap(v => encode(a.dataType, v.eval(null)))
        if (enc.size != vs.size) Unknown // an un-encodable or null member
        else boundsOf(a) match {
          case (Some((mnB, mxB)), key) =>
            val anyInside = enc.exists(x =>
              KeyBytes.compare(x, mnB) >= 0 && KeyBytes.compare(x, mxB) <= 0)
            if (!anyInside) NoneTrue // rows only hold values in [mn,mx]
            else if (key && KeyBytes.compare(mnB, mxB) == 0 &&
                     enc.exists(KeyBytes.compare(_, mnB) == 0)) AllTrue
            else Unknown
          case (None, _) => Unknown
        }
      case _ => Unknown
    }
    ev(cond)
  }

  /** Analyzed SQL wraps columns in NO-OP self-casts (type coercion
    * emits `Cast(k, k.dataType)` around IN-list keys and some
    * comparisons) — strip them so the zone analysis sees the bare
    * attribute; a cast that CHANGES type is left alone (its value
    * mapping is not the identity this analysis assumes). Without this,
    * a fully zone-provable `DELETE WHERE k IN (...)` silently fell to
    * the batch rewrite path. */
  private object BareAttr {
    def unapply(e: Expression): Option[Attribute] = e match {
      case a: Attribute => Some(a)
      case c: org.apache.spark.sql.catalyst.expressions.Cast
          if c.child.dataType == c.dataType => unapply(c.child)
      case _ => None
    }
  }

  /** Encode a catalyst-internal literal value in the attribute's type to
    * the manifest's KeyBytes domain (normalized longs for temporal types
    * — epoch days / micros, exactly what footers store physically — UTF-8
    * for strings, raw bytes for binary). None = a type this analysis does
    * not cover. */
  private def encode(dt: DataType, v: Any): Option[Array[Byte]] = {
    if (v == null) return None
    dt match {
      case ByteType | ShortType | IntegerType | LongType | DateType |
           TimestampType | TimestampNTZType =>
        Some(KeyBytes.fromLong(v.asInstanceOf[Number].longValue()))
      case StringType => Some(KeyBytes.fromString(v.toString))
      case BinaryType => Some(v.asInstanceOf[Array[Byte]])
      case _ => None
    }
  }

  /** True when `e` can never evaluate to NULL for any row: its only
    * column references are the non-null merge key and its shape is the
    * comparison/logic subset this analysis understands, with non-null
    * literals. The precondition for inverting NoneTrue under Not. */
  private def nullFree(e: Expression, keyName: String): Boolean = e match {
    case Literal(v, _) => v != null
    case c: org.apache.spark.sql.catalyst.expressions.Cast
        if c.child.dataType == c.dataType => nullFree(c.child, keyName)
    case a: Attribute  => a.name.equalsIgnoreCase(keyName)
    case And(l, r)     => nullFree(l, keyName) && nullFree(r, keyName)
    case Or(l, r)      => nullFree(l, keyName) && nullFree(r, keyName)
    case Not(c)        => nullFree(c, keyName)
    case cmp: BinaryComparison =>
      nullFree(cmp.left, keyName) && nullFree(cmp.right, keyName)
    case In(a: Attribute, vs) =>
      a.name.equalsIgnoreCase(keyName) &&
        vs.forall { case Literal(v, _) => v != null; case _ => false }
    case _ => false
  }
}
