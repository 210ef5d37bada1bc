package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Measurement helpers: order statistics, file sizes, Hadoop write
  * counters, heap and GC readings, and a minimal JSON writer.
  */
object Stats {

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Linear interpolation between closest ranks (numpy's default). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val pos = p * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  private def walk(dir: String): Seq[Path] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) Nil
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toList finally s.close()
    }
  }

  /** Bytes of every file under `dir`, checksums and markers included. */
  def diskBytes(dir: String): Long = walk(dir).map(Files.size).sum

  /** Parquet data files under `dir` (no checksums, markers or hidden files). */
  def dataFiles(dir: String): Seq[Path] = walk(dir).filter { p =>
    val n = p.getFileName.toString
    n.endsWith(".parquet") && !n.startsWith(".") && !n.startsWith("_")
  }

  def dataBytes(dir: String): Long = dataFiles(dir).map(Files.size).sum

  /** Rows in the parquet files under `dir`, read from their footers. */
  def footerRows(dir: String, conf: org.apache.hadoop.conf.Configuration): Long =
    dataFiles(dir).map { p =>
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(p.toUri), conf))
      try reader.getRecordCount finally reader.close()
    }.sum

  /** Bytes this JVM has written through the Hadoop local filesystem. */
  def hadoopBytesWritten(): Long =
    Option(org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.get("file"))
      .flatMap(s => Option(s.getLong("bytesWritten")).map(_.longValue))
      .getOrElse(0L)

  private def oldGenPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured")).toSeq

  /** Old-generation bytes in use right after the most recent
    * collection. Reading it forces no collection, so the heap carries
    * over from one iteration to the next as it would in a long-lived
    * orchestrator.
    */
  def oldGenAfterGcBytes(): Long =
    oldGenPools.flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum

  /** Old-generation bytes in use after forced full collections. Spark
    * frees some heap asynchronously: the listener buses release job
    * events once handled, and the context cleaner drops cached and
    * broadcast blocks only after a collection has found their owners
    * unreachable. The pauses and the second collection let both
    * finish; a single collection reads up to 35% high on some runs.
    */
  def liveOldGenBytes(): Long = {
    Thread.sleep(300)
    System.gc()
    Thread.sleep(200)
    System.gc()
    if (oldGenPools.nonEmpty) oldGenPools.map(_.getUsage.getUsed).sum
    else ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }

  /** Cumulative collection time of this JVM, in seconds. */
  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3

  // ------------------------------------------------------------------ json

  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"non-finite number in result: $d")
      java.lang.Double.toString(d)
    case f: Float => json(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ": " + json(x) }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ", ", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}
