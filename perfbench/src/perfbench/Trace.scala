package perfbench

import java.util.concurrent.{CountDownLatch, TimeUnit}
import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ext.CurationChain.{DurableMaterializer, StageMaterializer}
import graft.io.Warehouse

/** Stage metrics of the Spark work one span caused. */
final class SpanCounts {
  var jobs = 0L
  var tasks = 0L
  var taskMs = 0L
  var shuffleBytes = 0L
  var bytesWritten = 0L
  var spillBytes = 0L

  def add(o: SpanCounts): Unit = {
    jobs += o.jobs; tasks += o.tasks; taskMs += o.taskMs
    shuffleBytes += o.shuffleBytes; bytesWritten += o.bytesWritten; spillBytes += o.spillBytes
  }
}

/** Sums task metrics per span. A job belongs to the span named by the
  * [[Tracer.SpanProperty]] local property of the thread that submitted
  * it; jobs without one are not counted.
  */
final class SpanListener extends SparkListener {
  private val stageSpan = mutable.HashMap.empty[Int, String]
  private val counts = mutable.HashMap.empty[String, SpanCounts]
  @volatile private var barrier: CountDownLatch = new CountDownLatch(0)

  private def spanOf(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty(Tracer.SpanProperty)))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    spanOf(e.properties).foreach { span =>
      if (span == Tracer.BarrierSpan) barrier.countDown()
      else {
        counts.getOrElseUpdate(span, new SpanCounts).jobs += 1
        e.stageIds.foreach(stageSpan(_) = span)
      }
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    spanOf(e.properties).filter(_ != Tracer.BarrierSpan)
      .foreach(stageSpan(e.stageInfo.stageId) = _)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    stageSpan.get(e.stageId).filter(_ => m != null).foreach { span =>
      val c = counts.getOrElseUpdate(span, new SpanCounts)
      c.tasks += 1
      c.taskMs += m.executorRunTime
      c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      c.bytesWritten += m.outputMetrics.bytesWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Counts since the last drain. Runs a tagged one-task job first and
    * waits for its start event: the listener queue is ordered, so every
    * event of earlier jobs has been delivered by then.
    */
  def drain(sc: SparkContext): Map[String, SpanCounts] = {
    val latch = new CountDownLatch(1)
    barrier = latch
    val prev = sc.getLocalProperty(Tracer.SpanProperty)
    sc.setLocalProperty(Tracer.SpanProperty, Tracer.BarrierSpan)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(Tracer.SpanProperty, prev)
    if (!latch.await(60, TimeUnit.SECONDS))
      throw new IllegalStateException("span listener did not catch up within 60 s")
    synchronized {
      val out = counts.toMap
      counts.clear()
      stageSpan.clear()
      out
    }
  }
}

/** Wall-clock spans around public calls, nested on one thread. Each
  * span records its self time (inclusive minus nested spans) and tags
  * the Spark jobs it submits through a local property.
  */
final class Tracer(sc: SparkContext) {
  private final class Frame(val name: String, val start: Long, val prev: String) { var childNanos = 0L }
  private var stack = List.empty[Frame]
  private val selfNanos = mutable.LinkedHashMap.empty[String, Long]
  private var topNanos = 0L

  private def open(name: String): Unit = {
    stack = new Frame(name, System.nanoTime(), sc.getLocalProperty(Tracer.SpanProperty)) :: stack
    sc.setLocalProperty(Tracer.SpanProperty, name)
  }

  private def close(): Unit = {
    val frame = stack.head
    val dt = System.nanoTime() - frame.start
    stack = stack.tail
    sc.setLocalProperty(Tracer.SpanProperty, frame.prev)
    selfNanos(frame.name) = selfNanos.getOrElse(frame.name, 0L) + dt - frame.childNanos
    stack match {
      case parent :: _ => parent.childNanos += dt
      case Nil => topNanos += dt
    }
  }

  def span[A](name: String)(body: => A): A = {
    open(name)
    try body finally close()
  }

  /** Ends the innermost open span and starts `name` in its place, at
    * the same depth. This marks a boundary inside a call that runs
    * several layers one after another, where only the boundaries can
    * be observed from outside.
    */
  def switchTo(name: String): Unit = {
    require(stack.nonEmpty, s"switchTo($name) outside any span")
    close()
    open(name)
  }

  /** Self seconds per span and the seconds covered by top-level spans,
    * since the last call.
    */
  def drain(): (Map[String, Double], Double) = {
    val out = (selfNanos.map { case (k, v) => k -> v / 1e9 }.toMap, topNanos / 1e9)
    selfNanos.clear()
    topNanos = 0L
    out
  }
}

object Tracer {
  val SpanProperty = "perfbench.span"
  val BarrierSpan = "perfbench.barrier"
}

/** [[DurableMaterializer]] with each stage request timed as span
  * `ext.<stage>` and counted as a landing reuse when the stage's
  * `_SUCCESS` marker already exists.
  */
final class TimedMaterializer(inner: DurableMaterializer, tracer: Tracer) extends StageMaterializer {
  var requests = 0
  var reused = 0

  def apply(stage: String)(d: => DataFrame): DataFrame = tracer.span(s"ext.$stage") {
    val marker = new org.apache.hadoop.fs.Path(new org.apache.hadoop.fs.Path(inner.dir, stage), "_SUCCESS")
    requests += 1
    if (marker.getFileSystem(inner.spark.sparkContext.hadoopConfiguration).exists(marker)) reused += 1
    inner(stage)(d)
  }
}

/** [[Warehouse]] that delegates every call to `inner` and marks, on
  * `tracer`, where `PipelineRunner.runTable` passes from one layer to
  * the next: `io.journal_write` for the journal write, `merge.master`
  * from its end up to the flip (`JournalMerge.run` reading the journal
  * and master and calling `replace`), `io.flip` for the flip, and
  * `exec.ledger` from its end until the enclosing span closes.
  */
final class TracedWarehouse(inner: Warehouse, tracer: Tracer) extends Warehouse {
  def spark: SparkSession = inner.spark
  def exists(schema: String, table: String): Boolean = inner.exists(schema, table)
  def read(schema: String, table: String): DataFrame = inner.read(schema, table)
  def replace(df: DataFrame, schema: String, table: String): Unit = inner.replace(df, schema, table)
  def query(sql: String): DataFrame = inner.query(sql)
  def execute(sql: String): Unit = inner.execute(sql)
  def columns(schema: String, table: String): Seq[String] = inner.columns(schema, table)
  def primaryKeys(schema: String, table: String): Seq[String] = inner.primaryKeys(schema, table)

  private def between[A](during: String, after: String)(body: => A): A = {
    tracer.switchTo(during)
    val a = body
    tracer.switchTo(after)
    a
  }

  def append(df: DataFrame, schema: String, table: String): Unit =
    between("io.journal_write", "merge.master")(inner.append(df, schema, table))
  def truncateAppend(df: DataFrame, schema: String, table: String): Unit =
    between("io.journal_write", "merge.master")(inner.truncateAppend(df, schema, table))
  override def flipRecordState(schema: String, table: String): Unit =
    between("io.flip", "exec.ledger")(inner.flipRecordState(schema, table))
}
