package perfbench

import Model.Version

/** Self-tests of the generators and the expected-master model; no
  * Spark needed.
  *
  * {{{
  * python3 perfbench/run.py --self-test
  * }}}
  */
object SelfTest {
  private var failures = 0

  private def check(name: String)(ok: => Boolean): Unit = {
    val passed = try ok catch { case e: Throwable => System.err.println(e); false }
    println(s"${if (passed) "ok  " else "FAIL"} $name")
    if (!passed) failures += 1
  }

  private def bytes(rows: Seq[Seq[Any]]): Array[Byte] =
    rows.map(Model.canonical).mkString("\n").getBytes("UTF-8")

  def main(args: Array[String]): Unit = {
    val shape = Gen.DeltaShape(20000)
    def batch(seed: Long, b: Int) = bytes(Gen.ordersDelta(seed, b, shape).map(Model.orderFields))
    def lines(seed: Long) = bytes((0L until 5000L).flatMap(Gen.lineVersions(seed, _, 5000))
      .map(Model.lineFields))
    def docs(seed: Long) = bytes(Gen.documents(seed, 400).map(d => Seq(d.id, d.text, d.lang, d.source)))

    check("same seed gives byte-identical delta batches") {
      (1 to 3).forall(b => java.util.Arrays.equals(batch(7, b), batch(7, b)))
    }
    check("another seed gives other delta batches") { !java.util.Arrays.equals(batch(7, 1), batch(8, 1)) }
    check("batches of one seed differ from each other") { !java.util.Arrays.equals(batch(7, 1), batch(7, 2)) }
    check("same seed gives byte-identical lineitem and documents") {
      java.util.Arrays.equals(lines(3), lines(3)) && java.util.Arrays.equals(docs(3), docs(3))
    }
    check("another seed gives other lineitem and documents") {
      !java.util.Arrays.equals(lines(3), lines(4)) && !java.util.Arrays.equals(docs(3), docs(4))
    }

    check("delta batch has the documented shape") {
      val b = Gen.ordersDelta(11, 2, shape)
      val keys = b.map(_.key).distinct
      val fresh = keys.count(_ > shape.maxKeyBefore(2))
      val multi = b.groupBy(_.key).values.filter(_.size > 1)
      val seqTies = multi.count(vs => vs.map(v => (v.updatedAt, v.loadedAt)).distinct.size == 1)
      fresh == shape.fresh && keys.size > shape.touched * 9 / 10 &&
        multi.size > keys.size / 10 && seqTies > 0 &&
        b.exists(_.updatedAt.isEmpty) && b.exists(_.loadedAt.isEmpty) &&
        b.map(_.seq).distinct.size == b.size
    }

    // hand-worked ranking fixture: each case lists versions in the
    // order the merge must rank them
    val fixtures: Seq[(String, Seq[Version])] = Seq(
      "later __transform_dt wins" -> Seq(
        Version(Some(20), Some(1), Some(9)), Version(Some(10), Some(5), Some(1))),
      "NULL __transform_dt ranks first (DESC NULLS FIRST)" -> Seq(
        Version(None, Some(1), Some(5)), Version(Some(99), Some(99), Some(1))),
      "__transform_dt tie: later __load_dt wins" -> Seq(
        Version(Some(10), Some(7), Some(9)), Version(Some(10), Some(3), Some(1))),
      "__transform_dt tie: NULL __load_dt ranks first" -> Seq(
        Version(Some(10), None, Some(9)), Version(Some(10), Some(3), Some(1))),
      "both timestamps tied: lowest __seqno wins" -> Seq(
        Version(Some(10), Some(3), Some(4)), Version(Some(10), Some(3), Some(6)),
        Version(Some(10), Some(3), Some(8))),
      "both timestamps NULL and tied: lowest __seqno wins" -> Seq(
        Version(None, None, Some(2)), Version(None, None, Some(3))),
      "NULL __seqno ranks last (ASC NULLS LAST)" -> Seq(
        Version(Some(10), Some(3), Some(100)), Version(Some(10), Some(3), None)))
    fixtures.foreach { case (name, ranked) =>
      check(s"model: $name") {
        ranked.permutations.forall(p => Model.winner(p)(identity) == ranked.head) &&
          ranked.reverse.sorted(Model.ranking) == ranked
      }
    }

    check("model: delta merge replaces a key with its batch winner even if older") {
      val s = Gen.DeltaShape(2000)
      val m1 = Model.ordersMaster(5, s, 1)
      val m2 = Model.ordersMaster(5, s, 2)
      val b2 = Gen.ordersDelta(5, 2, s).groupBy(_.key)
      m2.size == m1.size + s.fresh &&
        b2.forall { case (k, vs) => m2(k) == Model.winner(vs)(_.version) } &&
        m1.keys.filterNot(b2.contains).forall(k => m2(k) == m1(k))
    }

    check("model: lineitem winner per key over both versions") {
      val vs = (0L until 2000L).map(Gen.lineVersions(9, _, 2000))
      val two = vs.filter(_.size == 2)
      two.nonEmpty && two.exists(v => Model.winner(v)(_.version).seq >= 2000) &&
        two.exists(v => Model.winner(v)(_.version).seq < 2000) &&
        Model.lineMasterHashes(9, 2000).length == 2000
    }

    check("row hash digest is order-independent") {
      val m = Model.ordersMaster(5, Gen.DeltaShape(2000), 1)
      val a = Model.orderMasterHashes(m)
      val b = Model.orderMasterHashes(scala.collection.mutable.LinkedHashMap(m.toSeq.reverse: _*))
      java.util.Arrays.equals(a, b)
    }

    println(if (failures == 0) "self-test passed" else s"self-test: $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
