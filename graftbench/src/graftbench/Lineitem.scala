package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._

/** Seeded, TPC-H-lineitem-shaped rows with a unique surrogate key.
  *
  * Every column is a hash of (key, salt), so a row is a pure function of
  * its key and the salt of the batch that last wrote it. Spark computes
  * the rows ([[rows]]); the driver recomputes the few columns the read
  * checks need ([[Lineitem.value]]) with the same hash, which is how the
  * oracle model is built without collecting the table. */
object Lineitem {
  val Key = "l_key"
  val Flags = Array("A", "N", "R")
  val Statuses = Array("F", "O")
  val Columns = Seq(Key, "l_orderkey", "l_partkey", "l_suppkey",
    "l_linenumber", "l_quantity", "l_extendedprice", "l_discount", "l_tax",
    "l_returnflag", "l_linestatus", "l_shipdate", "l_comment")

  /** Spark's `xxhash64(key, salt, i)`: seed 42, folded left to right. */
  def hash(key: Long, salt: Long, i: Int): Long =
    XXH64.hashInt(i, XXH64.hashLong(salt, XXH64.hashLong(key, 42L)))

  private def h(salt: Long, i: Int): Column =
    xxhash64(col(Key), lit(salt), lit(i))

  /** The full row for every key of `keys` (a frame with column `l_key`). */
  def rows(keys: DataFrame, salt: Long): DataFrame = keys.select(
    col(Key),
    pmod(h(salt, 1), lit(150000L)).as("l_orderkey"),
    pmod(h(salt, 2), lit(20000L)).as("l_partkey"),
    pmod(h(salt, 3), lit(1000L)).as("l_suppkey"),
    (pmod(h(salt, 4), lit(7L)) + 1).cast("int").as("l_linenumber"),
    (pmod(h(salt, 5), lit(50L)) + 1).cast("double").as("l_quantity"),
    (pmod(h(salt, 6), lit(10000000L)).cast("double") / 100.0)
      .as("l_extendedprice"),
    (pmod(h(salt, 7), lit(11L)).cast("double") / 100.0).as("l_discount"),
    (pmod(h(salt, 8), lit(9L)).cast("double") / 100.0).as("l_tax"),
    element_at(array(Flags.toSeq.map(lit): _*),
      (pmod(h(salt, 9), lit(3L)) + 1).cast("int")).as("l_returnflag"),
    element_at(array(Statuses.toSeq.map(lit): _*),
      (pmod(h(salt, 10), lit(2L)) + 1).cast("int")).as("l_linestatus"),
    date_add(lit("1992-01-01").cast("date"),
      pmod(h(salt, 11), lit(2500L)).cast("int")).as("l_shipdate"),
    concat(lit(s"b$salt-"), hex(h(salt, 12))).as("l_comment"))

  def base(spark: SparkSession, rows0: Long, salt: Long): DataFrame =
    rows(spark.range(0L, rows0).toDF(Key), salt)

  private def pmodL(a: Long, n: Long): Long = { val r = a % n; if (r < 0) r + n else r }

  /** (quantity, extended price, flag index, status index) of a row. */
  def value(key: Long, salt: Long): (Double, Double, Int, Int) = (
    (pmodL(hash(key, salt, 5), 50L) + 1).toDouble,
    pmodL(hash(key, salt, 6), 10000000L).toDouble / 100.0,
    pmodL(hash(key, salt, 9), 3L).toInt,
    pmodL(hash(key, salt, 10), 2L).toInt)

  /** A mutation batch: keys with their op and the salt of their values. */
  final case class Batch(upserts: Array[Long], deletes: Array[Long], salt: Long) {
    def size: Int = upserts.length + deletes.length
  }

  /** The batch as a frame with an `op` column ('upsert' | 'delete'),
    * tagged with `batchCol` = `id` when given. */
  def batchFrame(spark: SparkSession, b: Batch): DataFrame = {
    import spark.implicits._
    val up = rows(b.upserts.toSeq.toDF(Key), b.salt).withColumn("op", lit("upsert"))
    if (b.deletes.isEmpty) up
    else up.unionByName(rows(b.deletes.toSeq.toDF(Key), b.salt)
      .withColumn("op", lit("delete")))
  }

  /** Seeded batch stream over a table whose keys start dense at
    * [0, rows0): `clustered` batches upsert every other key in the recent
    * tail and append as many keys past the max; `scattered` batches touch
    * keys spread evenly over the whole range, `deleteFrac` of them deleted. */
  final class Stream(seed: Long, rows0: Long) {
    private val rng = new java.util.SplittableRandom(seed * 7919L + 17L)
    private var saltNext = seed * 1000003L + 1L
    var maxKey: Long = rows0 // exclusive

    private def salt(): Long = { saltNext += 1; saltNext }

    def clustered(size: Int): Batch = {
      val window = math.max(2L, size.toLong)
      val lo = math.max(0L, maxKey - window)
      val ups = (lo until maxKey).filter(_ => rng.nextBoolean()).toArray
      val appends = math.max(1, size - ups.length)
      val app = (maxKey until maxKey + appends).toArray
      maxKey += appends
      Batch(ups ++ app, Array.emptyLongArray, salt())
    }

    /** One random key in each of `size` equal slices of the key range, so
      * every batch spreads alike over the files, and exactly
      * `deleteFrac` of them, chosen at random, deleted. */
    def scattered(size: Int, deleteFrac: Double): Batch = {
      val keys = Array.tabulate(size) { j =>
        val lo = maxKey * j / size
        lo + rng.nextLong(math.max(1L, maxKey * (j + 1) / size - lo))
      }
      for (i <- keys.indices.reverse) { // Fisher-Yates
        val j = rng.nextInt(i + 1)
        val t = keys(i); keys(i) = keys(j); keys(j) = t
      }
      val (del, up) = keys.splitAt(math.round(deleteFrac * size).toInt)
      Batch(up, del, salt())
    }
  }
}

/** Driver-side model of the table: the oracle for every read check.
  * Arrays indexed by key; `salt(k)` = 0 marks an absent key. */
final class Model(rows0: Long, baseSalt: Long) {
  private var salts = Array.fill(rows0.toInt)(baseSalt)
  private var qty = new Array[Double](rows0.toInt)
  private var price = new Array[Double](rows0.toInt)
  private var grp = new Array[Byte](rows0.toInt)
  var count: Long = rows0
  (0 until rows0.toInt).foreach(k => set(k, baseSalt))

  private def set(k: Int, s: Long): Unit = {
    val (q, p, f, st) = Lineitem.value(k.toLong, s)
    salts(k) = s; qty(k) = q; price(k) = p; grp(k) = (f * 2 + st).toByte
  }

  private def grow(n: Int): Unit = if (n > salts.length) {
    val cap = math.max(n, salts.length * 3 / 2)
    salts = java.util.Arrays.copyOf(salts, cap)
    qty = java.util.Arrays.copyOf(qty, cap)
    price = java.util.Arrays.copyOf(price, cap)
    grp = java.util.Arrays.copyOf(grp, cap)
  }

  def present(k: Long): Boolean = k < salts.length && salts(k.toInt) != 0L

  /** Apply a batch; returns the change feed it should produce as
    * change type -> (rows, sum of keys). */
  def apply(b: Lineitem.Batch): Map[String, (Long, Long)] = {
    val feed = scala.collection.mutable.Map.empty[String, (Long, Long)]
      .withDefaultValue((0L, 0L))
    def note(t: String, k: Long): Unit = {
      val (n, s) = feed(t); feed(t) = (n + 1, s + k)
    }
    b.upserts.foreach { k =>
      grow(k.toInt + 1)
      if (present(k)) note("update", k) else { note("insert", k); count += 1 }
      set(k.toInt, b.salt)
    }
    b.deletes.foreach { k =>
      if (present(k)) { note("delete", k); count -= 1; salts(k.toInt) = 0L }
    }
    feed.toMap
  }

  /** (quantity, price, flag, status) of a present key. */
  def point(k: Long): Option[(Double, Double, String, String)] =
    if (!present(k)) None
    else {
      val g = grp(k.toInt)
      Some((qty(k.toInt), price(k.toInt), Lineitem.Flags(g / 2),
        Lineitem.Statuses(g % 2)))
    }

  /** (rows, sum quantity, sum price) over keys in [lo, hi]. */
  def range(lo: Long, hi: Long): (Long, Double, Double) = {
    var n = 0L; var q = 0.0; var p = 0.0
    var k = math.max(0L, lo)
    val end = math.min(hi, salts.length - 1L)
    while (k <= end) {
      if (salts(k.toInt) != 0L) { n += 1; q += qty(k.toInt); p += price(k.toInt) }
      k += 1
    }
    (n, q, p)
  }

  /** Per (flag, status): (rows, sum quantity, sum price). */
  def groups: Map[(String, String), (Long, Double, Double)] = {
    val n = new Array[Long](6); val q = new Array[Double](6); val p = new Array[Double](6)
    var k = 0
    while (k < salts.length) {
      if (salts(k) != 0L) { val g = grp(k); n(g) += 1; q(g) += qty(k); p(g) += price(k) }
      k += 1
    }
    (0 until 6).filter(n(_) > 0).map(g =>
      (Lineitem.Flags(g / 2), Lineitem.Statuses(g % 2)) -> ((n(g), q(g), p(g)))).toMap
  }

  /** Per flag: (rows, sum quantity). */
  def flagGroups: Map[String, (Long, Double)] =
    groups.toSeq.groupBy(_._1._1).map { case (f, xs) =>
      f -> ((xs.map(_._2._1).sum, xs.map(_._2._2).sum)) }
}

object Close {
  /** Doubles summed in different orders agree to a relative 1e-9. */
  def apply(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-9 * math.max(1.0, math.max(math.abs(a), math.abs(b)))
}
