package perfbench

/** Seeded input generators. Every value is a pure function of
  * (seed, stream, index), so a batch can be regenerated on its own, in
  * any order and on any thread, and the same seed always yields the
  * same rows. Timestamps are epoch seconds; `None` is SQL NULL.
  */
object Gen {

  /** SplitMix64 finalizer. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def rnd(seed: Long, stream: Long, i: Long): Long = mix(mix(mix(seed) ^ stream) ^ i)
  def below(r: Long, n: Int): Int = java.lang.Math.floorMod(r, n.toLong).toInt
  def unit(r: Long): Double = (r >>> 11).toDouble / (1L << 53).toDouble

  /** 2024-01-01T00:00:00Z, the generated history's epoch. */
  val T0: Long = 1704067200L
  val Day: Long = 86400L

  private val statuses = Array("O", "F", "P")
  private val priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  // ---------------------------------------------------------------- orders

  /** One source row of the orders-like table: user columns plus the
    * source's change-tracking columns that the step SQL maps onto
    * `__transform_dt`, `__load_dt` and `__seqno`.
    */
  final case class Order(key: Long, custkey: Long, status: String, price: Double,
                         orderDate: Long, priority: String,
                         updatedAt: Option[Long], loadedAt: Option[Long], seq: Long) {
    def version: Model.Version = Model.Version(updatedAt, loadedAt, Some(seq))
  }

  private def orderPayload(seed: Long, stream: Long, i: Long, key: Long,
                           updatedAt: Option[Long], loadedAt: Option[Long], seq: Long): Order = {
    val r = rnd(seed, stream, i)
    val r2 = mix(r)
    Order(key, 1L + below(r, 15000), statuses(below(r2, statuses.length)),
      below(mix(r2), 50000000) / 100.0, T0 - below(mix(r ^ 7L), 2400) * Day,
      priorities(below(r >>> 17, priorities.length)), updatedAt, loadedAt, seq)
  }

  /** The full extract the master is bootstrapped from: keys 1..n, one
    * version each.
    */
  def ordersFull(seed: Long, n: Int): Iterator[Order] =
    Iterator.range(1, n + 1).map { k =>
      orderPayload(seed, 1L, k.toLong, k.toLong, Some(T0 + below(rnd(seed, 2L, k.toLong), 86400)),
        Some(T0), k.toLong)
    }

  /** Share of the existing keys a delta batch touches. */
  val TouchFrac = 0.01
  /** New keys per delta batch, as a share of the bootstrap keys. */
  val NewFrac = 0.001
  /** Share of batch keys that carry 2-3 versions. */
  val MultiFrac = 0.25
  /** Share of those whose versions tie on both timestamps. */
  val TieFrac = 0.4
  /** Share of batch timestamps that are NULL. */
  val NullFrac = 0.03

  /** Shape of one delta batch over `keys` bootstrap keys. */
  final case class DeltaShape(keys: Int) {
    val touched: Int = math.max(1, math.round(keys * TouchFrac).toInt)
    val fresh: Int = math.max(1, math.round(keys * NewFrac).toInt)
    /** Highest key that exists before batch `b` (1-based) lands. */
    def maxKeyBefore(b: Int): Long = keys.toLong + (b - 1).toLong * fresh
  }

  /** Delta batch `b` (1-based): ~[[TouchFrac]] of the existing keys get
    * new versions, ~[[NewFrac]] new keys arrive, and a share of the batch keys
    * carry 2-3 versions. Some of those share `__transform_dt` and
    * `__load_dt` so `__seqno` decides; some have NULL timestamps.
    * Batch timestamps lie after every earlier batch's.
    */
  def ordersDelta(seed: Long, b: Int, shape: DeltaShape): Vector[Order] = {
    val stream = 1000L + b
    val maxPrev = shape.maxKeyBefore(b)
    val touched = (0 until shape.touched).iterator
      .map(j => 1L + java.lang.Math.floorMod(rnd(seed, stream, j.toLong), maxPrev))
      .toVector.distinct.sorted
    val fresh = (1 to shape.fresh).map(j => maxPrev + j)
    val base = T0 + b.toLong * Day
    (touched ++ fresh).zipWithIndex.flatMap { case (key, idx) =>
      val r = rnd(seed, stream + 500000L, key)
      val versions = if (unit(r) < MultiFrac) 2 + below(mix(r), 2) else 1
      val tie = unit(mix(mix(r))) < TieFrac
      val shift = below(r >>> 23, 4)
      (0 until versions).map { v =>
        val rv = rnd(seed, stream + 900000L, key * 8 + v)
        def ts(salt: Long, spread: Int): Option[Long] =
          if (unit(mix(rv ^ salt)) < NullFrac) None
          else Some(base + (if (tie) 0 else below(mix(rv ^ (salt * 31)), spread)))
        val seq = (b.toLong << 32) | (idx.toLong << 2) | ((v + shift) % 4).toLong
        orderPayload(seed, stream + 200000L, key * 8 + v, key, ts(1L, 3600), ts(2L, 600), seq)
      }
    }
  }

  // -------------------------------------------------------------- lineitem

  final case class Line(orderkey: Long, linenumber: Int, partkey: Long, suppkey: Long,
                        quantity: Double, extendedprice: Double, discount: Double, tax: Double,
                        returnflag: String, linestatus: String, shipdate: Long,
                        updatedAt: Option[Long], loadedAt: Option[Long], seq: Long) {
    def version: Model.Version = Model.Version(updatedAt, loadedAt, Some(seq))
  }

  /** Share of lineitem keys with a second version. */
  val SecondFrac = 0.1

  private val flags = Array("A", "N", "R")
  private val lineStatuses = Array("F", "O")

  /** All source versions of line `i` (0-based; key = (i/4+1, i%4+1)):
    * one, or with probability [[SecondFrac]] a second version that is
    * later, tied on one or both timestamps, or NULL-stamped.
    */
  def lineVersions(seed: Long, i: Long, rows: Int): Seq[Line] = {
    val r = rnd(seed, 3L, i)
    def line(rv: Long, updatedAt: Option[Long], loadedAt: Option[Long], seq: Long): Line = {
      val r2 = mix(rv)
      val qty = 1 + below(rv, 50)
      Line(i / 4 + 1, (i % 4 + 1).toInt, 1L + below(r2, 20000), 1L + below(r2 >>> 20, 1000),
        qty.toDouble, qty * (900 + below(mix(r2), 100000)) / 100.0,
        below(rv >>> 9, 11) / 100.0, below(rv >>> 13, 9) / 100.0,
        flags(below(rv >>> 29, 3)), lineStatuses(below(rv >>> 31, 2)),
        T0 - below(rv >>> 37, 2400) * Day, updatedAt, loadedAt, seq)
    }
    val t1 = T0 + below(mix(r), 30 * 86400)
    val first = line(rnd(seed, 4L, i), if (unit(mix(r ^ 1L)) < 0.01) None else Some(t1),
      Some(T0), i)
    if (unit(mix(r ^ 2L)) >= SecondFrac) Seq(first)
    else {
      val rv = rnd(seed, 5L, i)
      val (t2, l2) = below(rv, 10) match {
        case 0 | 1 => (first.updatedAt, first.loadedAt) // full tie: seqno decides
        case 2 => (first.updatedAt, Some(T0 + 3600)) // load dt decides
        case 3 => (None, Some(T0 + 7200)) // NULL transform dt ranks first
        case _ => (first.updatedAt.map(_ + 1 + below(mix(rv), 86400)).orElse(Some(t1)),
          Some(T0 + 60))
      }
      Seq(first, line(mix(rv), t2, l2, rows.toLong + i))
    }
  }

  // ------------------------------------------------------------- documents

  final case class Doc(id: Long, text: String, lang: String, source: String) {
    def nChars: Long = text.length.toLong
  }

  private val vocab = Array(
    "a", "the", "batch", "stream", "table", "row", "column", "key", "value", "merge",
    "join", "group", "sort", "scan", "filter", "window", "hash", "query", "order",
    "line", "part", "vector", "data", "fast", "slow", "big", "small", "spark", "agg",
    "customer", "journal", "master", "flip", "ledger", "delta", "full", "shard", "index",
    "token", "bin", "lake", "load", "dedup", "near", "exact", "pack", "stage", "cut")
  private val langs = Array("en", "en", "en", "en", "zh", "zh", "es", "es", "fr", "de")

  private def words(r: Long, n: Int): Array[String] =
    Array.tabulate(n)(j => vocab(below(mix(r ^ (j.toLong * 0x2545F4914F6CDD1DL)), vocab.length)))

  /** Derived documents per original. */
  val VariantFrac = 0.12

  /** Corpus of `base` random-word documents plus [[VariantFrac]] × base
    * derived ones: near-duplicates (one word replaced or appended),
    * case/whitespace copies that normalize to an original, documents
    * with a U+FFFD replacement char, and documents that quote a
    * 6-word window of a benchmark-slice document (`doc_id % 20 == 0`).
    */
  def documents(seed: Long, base: Int): Vector[Doc] = {
    val originals = Vector.tabulate(base) { i =>
      val r = rnd(seed, 6L, i.toLong)
      Doc(i + 1L, words(r, 15 + below(mix(r), 90)).mkString(" "),
        langs(below(r >>> 40, langs.length)), s"src${i % 20}")
    }
    val variants = Vector.tabulate(math.round(base * VariantFrac).toInt) { j =>
      val r = rnd(seed, 7L, j.toLong)
      val src = originals(below(r, base))
      val w = src.text.split(" ")
      val text = j % 10 match {
        case 0 | 1 | 2 | 3 => // one word replaced
          w.updated(below(mix(r), w.length), vocab(below(r >>> 33, vocab.length))).mkString(" ")
        case 4 | 5 => (w :+ vocab(below(r >>> 33, vocab.length))).mkString(" ")
        case 6 | 7 => w.map(_.capitalize).mkString("  ") + " "
        case 8 => w.take(1).mkString + " � " + w.drop(1).mkString(" ")
        case _ =>
          val bench = originals(below(mix(r), base / 20) * 20 + 19)
          val bw = bench.text.split(" ")
          val at = below(r >>> 21, math.max(1, bw.length - 6))
          (words(mix(mix(r)), 20) ++ bw.slice(at, at + 6)).mkString(" ")
      }
      Doc(base + j + 1L, text, src.lang, src.source)
    }
    originals ++ variants
  }
}
