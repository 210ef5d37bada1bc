package perfbench

/** The expected master, computed in plain Scala from the generators —
  * an independent model of the journal merge, never a call into it.
  *
  * A key's winning version is the first under
  * `__transform_dt DESC NULLS FIRST, __load_dt DESC NULLS FIRST,
  * __seqno ASC NULLS LAST`. A delta merge replaces every key of the
  * batch with the batch's winner; a full merge takes the winner over
  * the whole journal.
  */
object Model {

  final case class Version(transformDt: Option[Long], loadDt: Option[Long], seqno: Option[Long])

  private def descNullsFirst(a: Option[Long], b: Option[Long]): Int = (a, b) match {
    case (None, None) => 0
    case (None, _) => -1
    case (_, None) => 1
    case (Some(x), Some(y)) => java.lang.Long.compare(y, x)
  }

  private def ascNullsLast(a: Option[Long], b: Option[Long]): Int = (a, b) match {
    case (None, None) => 0
    case (None, _) => 1
    case (_, None) => -1
    case (Some(x), Some(y)) => java.lang.Long.compare(x, y)
  }

  /** Ranks the winning version first. */
  val ranking: Ordering[Version] = (a: Version, b: Version) => {
    val t = descNullsFirst(a.transformDt, b.transformDt)
    if (t != 0) t
    else {
      val l = descNullsFirst(a.loadDt, b.loadDt)
      if (l != 0) l else ascNullsLast(a.seqno, b.seqno)
    }
  }

  def winner[A](versions: Seq[A])(version: A => Version): A =
    versions.minBy(version)(ranking)

  // ------------------------------------------------------ canonical rows

  /** Field rendering shared by the model and the rows read back from
    * Spark: timestamps as epoch seconds, NULL as a marker no value
    * can produce.
    */
  def field(v: Any): String = v match {
    case null | None => "\u0000"
    case Some(x) => field(x)
    case d: Double => java.lang.Double.toString(d)
    case other => other.toString
  }

  def canonical(fields: Seq[Any]): String = fields.map(field).mkString("\u0001")

  /** 64-bit row hash; a sorted array of these is an order-independent
    * digest of a table.
    */
  def rowHash(s: String): Long = {
    val h = scala.util.hashing.MurmurHash3
    (h.stringHash(s, 0x5bd1e995).toLong << 32) | (h.stringHash(s, 0x1b873593).toLong & 0xffffffffL)
  }

  /** Master column order of the orders target. */
  val orderColumns: Seq[String] = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
    "o_orderdate", "o_orderpriority", "__transform_dt", "__load_dt", "__seqno", "__record_state")

  def orderFields(o: Gen.Order): Seq[Any] = Seq(o.key, o.custkey, o.status, o.price, o.orderDate,
    o.priority, o.updatedAt, o.loadedAt, o.seq, "A")

  /** Master column order of the lineitem target. */
  val lineColumns: Seq[String] = Seq("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
    "l_quantity", "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
    "l_shipdate", "__transform_dt", "__load_dt", "__seqno", "__record_state")

  def lineFields(l: Gen.Line): Seq[Any] = Seq(l.orderkey, l.linenumber, l.partkey, l.suppkey,
    l.quantity, l.extendedprice, l.discount, l.tax, l.returnflag, l.linestatus, l.shipdate,
    l.updatedAt, l.loadedAt, l.seq, "A")

  /** Expected orders master after the full bootstrap and delta batches
    * 1..`batches`, keyed by order key.
    */
  def ordersMaster(seed: Long, shape: Gen.DeltaShape, batches: Int): scala.collection.Map[Long, Gen.Order] = {
    val master = scala.collection.mutable.HashMap.empty[Long, Gen.Order]
    Gen.ordersFull(seed, shape.keys).foreach(o => master(o.key) = o)
    (1 to batches).foreach { b =>
      Gen.ordersDelta(seed, b, shape).groupBy(_.key).foreach { case (k, vs) =>
        master(k) = winner(vs)(_.version)
      }
    }
    master
  }

  /** Sorted row hashes of the expected lineitem master. */
  def lineMasterHashes(seed: Long, rows: Int): Array[Long] = {
    val out = Array.tabulate(rows) { i =>
      rowHash(canonical(lineFields(winner(Gen.lineVersions(seed, i.toLong, rows))(_.version))))
    }
    java.util.Arrays.sort(out)
    out
  }

  def orderMasterHashes(master: scala.collection.Map[Long, Gen.Order]): Array[Long] = {
    val out = master.valuesIterator.map(o => rowHash(canonical(orderFields(o)))).toArray
    java.util.Arrays.sort(out)
    out
  }
}
