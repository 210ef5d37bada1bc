package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession

/** One benchmark run: set the workload up, run its iterations for the
  * requested seconds, check the outputs, and write the result and the
  * side file.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --cores <n> --work <dir> --result <file> --profile <file>
  * }}}
  *
  * With `--trace 1` iterations alternate between the plain call and
  * the traced one, so the tracing overhead is measured in the same run
  * and the traced output is compared with the plain one.
  */
object Main {

  /** Setups per run; `setup_s` reports their median. */
  val SetupReps = 3
  /** Fewest measured iterations, whatever `--seconds` says. */
  val MinIterations = 2
  /** Fewest plain and fewest traced iterations of a traced run, as
    * long as the measured loop has run for less than [[TraceLoopCapS]].
    */
  val MinTraceSamples = 3
  val TraceLoopCapS = 90.0

  /** ETL span names in `PipelineRunner.runTable` order, then the
    * curation spans.
    */
  val EtlSpans: Seq[String] = Seq("config.parse", "exec.deps", "exec.steps", "io.journal_write",
    "merge.master", "io.flip", "exec.ledger")
  val CurationSpans: Seq[String] = Seq("ext.s1_encoding_gate", "ext.s2_normalize_dedup",
    "ext.s3_near_dup_dedup", "ext.s4_decontaminate", "ext.s5_mixture", "ext.pack", "ext.audit")
  /** Run-wide counts printed with `--trace 1`. The stage row counts
    * are output facts rather than costs, so they go to the side file
    * only.
    */
  val RunWide: Seq[String] = Seq("io.journal_files", "io.flip_files", "exec.ledger_files",
    "ext.landing_reuse")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String): String = opts.getOrElse(k, fail(s"missing --$k"))
    val workload = Workloads.byName(opt("workload"))
      .getOrElse(fail(s"unknown workload '${opt("workload")}'; known: ${Workloads.all.map(_.name).mkString(", ")}"))
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val cores = opt("cores").toInt
    val work = opt("work")

    val (spark, sessionS) = Stats.timed(session(cores, work))
    val result = try run(Env(spark, seed, cores), workload, seconds, trace, work, sessionS)
                 finally spark.stop()
    Files.writeString(Paths.get(opt("profile")), Stats.json(result.profile) + "\n")
    Files.writeString(Paths.get(opt("result")), Stats.json(result.line) + "\n")
    sys.exit(0)
  }

  private def fail(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg")
    sys.exit(2)
  }

  /** `graft.RunTask`'s session conf on a `local[cores]` master, with
    * every scratch location inside the work directory.
    */
  def session(cores: Int, work: String): SparkSession = {
    val partitions = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS",
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.sql.shuffle.partitions", partitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .getOrCreate()
  }

  final case class Result(line: Map[String, Any], profile: Map[String, Any])

  private final case class Traced(wall: Double, self: Map[String, Double], covered: Double,
                                  counts: Map[String, SpanCounts], gcS: Double)

  def run(env: Env, wl: Workload, seconds: Double, trace: Boolean, work: String,
          sessionS: Double): Result = {
    val spark = env.spark
    val listener = if (trace) Some(new SpanListener) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    val tracer = new Tracer(spark.sparkContext)

    // setup: several fresh setups, median reported; the last one is measured
    val setups = (1 to SetupReps).map { r =>
      val dir = s"$work/setup$r"
      if (r > 1) org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$work/setup${r - 1}"))
      Stats.timed(wl.setup(env, dir))
    }
    val inst = setups.last._1
    // Live heap is read with forced full collections, which also let
    // G1 shrink the heap; so it is read before the warm-ups, which grow
    // it back, and after the last iteration, never in between.
    val liveSetup = Stats.liveOldGenBytes()
    val errors = mutable.ArrayBuffer.empty[String]
    val (_, warmS) = Stats.timed((1 to wl.warmups).foreach { w =>
      errors ++= inst.iterate(None).problems.map(p => s"warm-up $w: $p")
    })
    val setupBodies = setups.map(_._2)
    val setupS = sessionS + Stats.median(setupBodies) + warmS

    val plain = mutable.ArrayBuffer.empty[Iter]
    val traced = mutable.ArrayBuffer.empty[Traced]
    var attempted = 0
    var failed = 0
    var afterGcPeak = Stats.oldGenAfterGcBytes()
    val loopStart = System.nanoTime()
    val deadline = loopStart + (seconds * 1e9).toLong
    def underCap = System.nanoTime() - loopStart < TraceLoopCapS * 1e9
    var stop = false
    while (!stop && (System.nanoTime() < deadline || attempted < MinIterations ||
      (trace && underCap && (plain.size < MinTraceSamples || traced.size < MinTraceSamples)))) {
      val tracing = trace && attempted % 2 == 1
      attempted += 1
      val gc0 = Stats.gcSeconds()
      try {
        val it = inst.iterate(if (tracing) Some(tracer) else None)
        if (it.problems.nonEmpty) {
          failed += 1
          errors ++= it.problems.map(p => s"iteration $attempted: $p")
        }
        if (tracing) {
          val (self, covered) = tracer.drain()
          traced += Traced(it.wallS, self, covered, listener.get.drain(spark.sparkContext),
            Stats.gcSeconds() - gc0)
        } else plain += it
      } catch {
        case NonFatal(e) =>
          failed += 1
          errors += s"iteration $attempted: $e"
          e.printStackTrace()
          stop = true // a task that threw leaves its state unknown
      }
      afterGcPeak = math.max(afterGcPeak, Stats.oldGenAfterGcBytes())
    }
    val liveEnd = Stats.liveOldGenBytes()
    val checks = try inst.check() catch { case NonFatal(e) => Seq(s"output check threw: $e") }
    if (checks.nonEmpty) {
      errors ++= checks
      failed = math.min(attempted, failed + 1)
    }
    errors.foreach(e => System.err.println(s"perfbench: FAILED $e"))

    val walls = plain.map(_.wallS).toSeq
    val p50 = medianOf(walls)
    val tail = if (walls.isEmpty) 0.0 else Stats.percentile(walls, TailPercentile)
    val endToEnd: Map[String, (Double, String)] = Map(
      "setup_s" -> (setupS, "s"),
      "iter_p50_s" -> (p50, "s"),
      "iter_tail_s" -> (tail, "s"),
      "rows_per_s" -> (plain.map(_.rows).sum / walls.sum.max(1e-9), "1/s"),
      "write_amp" -> (plain.map(_.bytesWritten.toDouble).sum / plain.map(_.inputBytes).sum.max(1L), "ratio"),
      "space_amp" -> (inst.spaceAmp(), "ratio"),
      "peak_heap_mb" -> (math.max(liveSetup, liveEnd) / 1048576.0, "MB"))
    val failFrac = failed.toDouble / attempted

    val layerCounts = if (trace) inst.layerCounts() else Map.empty[String, Double]
    val layers = if (trace) perLayer(env, traced.toSeq, p50, layerCounts) else Map.empty[String, (Double, String)]
    def asJson(m: Map[String, (Double, String)]) =
      m.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }
    val line = Map("correct" -> (failed == 0 && errors.isEmpty), "attempted" -> attempted,
      "failed" -> failed, "metrics" -> asJson(if (trace) layers else endToEnd))
    val profile = Map(
      "workload" -> wl.name, "seed" -> env.seed, "trace" -> trace, "cores" -> env.cores,
      "session_conf" -> spark.conf.getAll.filter { case (k, _) =>
        k.startsWith("spark.sql.adaptive") || k == "spark.sql.shuffle.partitions" ||
          k == "spark.master" || k == "spark.sql.session.timeZone" },
      "end_to_end" -> asJson(endToEnd),
      "fail_frac" -> failFrac, "errors" -> errors.toSeq,
      "iter_tail" -> Map("percentile" -> TailPercentile, "n" -> walls.size,
        "samples_beyond" -> walls.count(_ > tail)),
      "setup" -> Map("session_s" -> sessionS, "bodies_s" -> setupBodies, "warmup_s" -> warmS,
        "warmups" -> wl.warmups),
      "heap" -> Map("live_setup_mb" -> liveSetup / 1048576.0, "live_end_mb" -> liveEnd / 1048576.0,
        "after_gc_peak_mb" -> afterGcPeak / 1048576.0),
      "iterations_s" -> walls, "traced_iterations_s" -> traced.map(_.wall).toSeq,
      "facts" -> inst.facts(),
      "per_layer" -> asJson(layers)) ++
      (if (trace) Map("spans" -> spanTable(env, traced.toSeq), "roadmap_row" -> roadmapRow(env, traced.toSeq),
        "layer_counts" -> layerCounts, "trace_overhead" -> overhead(walls, traced.toSeq))
       else Map.empty)
    Result(line, profile)
  }

  /** `iter_tail_s` percentile: with the ~8 iterations a delta run
    * makes, the highest one that still has two samples beyond it.
    */
  val TailPercentile = 0.75

  private def medianOf(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

  /** Traced minus plain median iteration wall. It is resolved only
    * when it exceeds the interquartile range of the plain iterations;
    * below that it cannot be told apart from run-to-run variation.
    */
  private def overhead(plain: Seq[Double], traced: Seq[Traced]): Map[String, Any] = {
    val d = medianOf(traced.map(_.wall)) - medianOf(plain)
    val iqr = if (plain.isEmpty) 0.0 else Stats.percentile(plain, 0.75) - Stats.percentile(plain, 0.25)
    Map("s" -> d, "plain_iqr_s" -> iqr, "plain_n" -> plain.size, "traced_n" -> traced.size,
      "resolved" -> (math.abs(d) > iqr))
  }

  /** Median over traced iterations of each span's figures. */
  private def spanStats(env: Env, traced: Seq[Traced], span: String): Map[String, Double] = {
    def per(f: Traced => Double): Double = medianOf(traced.map(f))
    def c(t: Traced) = t.counts.getOrElse(span, new SpanCounts)
    val self = per(_.self.getOrElse(span, 0.0))
    val taskS = per(c(_).taskMs / 1e3)
    Map(
      "s" -> self,
      "share" -> per(t => 100.0 * t.self.getOrElse(span, 0.0) / t.wall),
      "jobs" -> per(c(_).jobs.toDouble),
      "tasks" -> per(c(_).tasks.toDouble),
      "task_s" -> taskS,
      "efficiency" -> (if (self > 0) taskS / (self * env.cores) else 0.0),
      "shuffle_bytes" -> per(c(_).shuffleBytes.toDouble),
      "bytes_written" -> per(c(_).bytesWritten.toDouble),
      "spill_bytes" -> per(c(_).spillBytes.toDouble))
  }

  private def spanNames(traced: Seq[Traced]): Seq[String] = {
    val seen = traced.flatMap(t => t.self.keys ++ t.counts.keys).distinct
    (EtlSpans ++ CurationSpans).filter(seen.contains) ++ seen.filterNot((EtlSpans ++ CurationSpans).contains).sorted
  }

  /** Every figure of every span seen, as `<span>_s` and `<span>.<figure>`. */
  private def spanTable(env: Env, traced: Seq[Traced]): Map[String, Double] =
    spanNames(traced).flatMap { span =>
      spanStats(env, traced, span).map {
        case ("s", v) => s"${span}_s" -> v
        case (figure, v) => s"$span.$figure" -> v
      }
    }.toMap

  private def total(traced: Seq[Traced]): Seq[SpanCounts] = traced.map { t =>
    val sum = new SpanCounts
    t.counts.values.foreach(sum.add)
    sum
  }

  /** The ROADMAP open-items table row: wall, jobs, tasks, task s, efficiency. */
  private def roadmapRow(env: Env, traced: Seq[Traced]): Map[String, Double] = {
    val wall = medianOf(traced.map(_.wall))
    val taskS = medianOf(total(traced).map(_.taskMs / 1e3))
    Map("wall_s" -> wall, "jobs" -> medianOf(total(traced).map(_.jobs.toDouble)),
      "tasks" -> medianOf(total(traced).map(_.tasks.toDouble)), "task_s" -> taskS,
      "efficiency" -> (if (wall > 0) taskS / (wall * env.cores) else 0.0))
  }

  /** The per-layer metrics printed with `--trace 1`: every span of
    * both module families (0 where the workload has no such span) and
    * the run-wide counts.
    */
  private def perLayer(env: Env, traced: Seq[Traced], plainP50: Double,
                       counts: Map[String, Double]): Map[String, (Double, String)] = {
    val spans = (EtlSpans ++ CurationSpans).flatMap { s =>
      val st = spanStats(env, traced, s)
      Seq(s"$s.share" -> (st("share"), "%"), s"$s.jobs" -> (st("jobs"), "count"),
        s"$s.efficiency" -> (st("efficiency"), "ratio"),
        s"$s.shuffle_bytes" -> (st("shuffle_bytes"), "bytes"),
        s"$s.bytes_written" -> (st("bytes_written"), "bytes"))
    }
    val sums = total(traced)
    val tracedP50 = medianOf(traced.map(_.wall))
    val taskS = medianOf(sums.map(_.taskMs / 1e3))
    val runWide = Seq(
      "spark.jobs" -> (medianOf(sums.map(_.jobs.toDouble)), "count"),
      "spark.tasks" -> (medianOf(sums.map(_.tasks.toDouble)), "count"),
      "spark.task_s" -> (taskS, "s"),
      "spark.efficiency" -> (if (tracedP50 > 0) taskS / (tracedP50 * env.cores) else 0.0, "ratio"),
      "spark.gc_s" -> (medianOf(traced.map(_.gcS)), "s"),
      "spark.spill_bytes" -> (medianOf(sums.map(_.spillBytes.toDouble)), "bytes"),
      "trace.iter_p50_s" -> (tracedP50, "s"),
      "trace.overhead_s" -> (tracedP50 - plainP50, "s"),
      "trace.span_coverage" -> (medianOf(traced.map(t => 100.0 * t.covered / t.wall)), "%"))
    val disk = RunWide.map(k => k -> (counts.getOrElse(k, 0.0),
      if (k == "ext.landing_reuse") "ratio" else "count"))
    (spans ++ runWide ++ disk).toMap
  }
}
