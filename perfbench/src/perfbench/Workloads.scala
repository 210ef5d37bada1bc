package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.config._
import graft.exec.{EtlContext, PipelineRunner, Tasks}
import graft.ext.CurationChain
import graft.io.{FileWarehouse, Lake}

/** Shared inputs of every workload. */
final case class Env(spark: SparkSession, seed: Long, cores: Int)

/** One measured iteration. `wallS` covers only the program's work;
  * landing the iteration's input happens before the clock starts.
  * `bytesWritten` is what the program wrote through the Hadoop
  * filesystem while the clock ran. `problems` are failed output checks.
  */
final case class Iter(wallS: Double, rows: Long, inputBytes: Long, bytesWritten: Long,
                      problems: Seq[String] = Nil)

/** A workload's state after one setup. */
trait Instance {
  def iterate(tracer: Option[Tracer]): Iter
  /** Output checks after the last iteration; each message is a failure. */
  def check(): Seq[String] = Nil
  /** On-disk bytes of the state ÷ bytes of the live output. */
  def spaceAmp(): Double
  /** Run-wide per-layer counts read from disk. */
  def layerCounts(): Map[String, Double]
  /** Per-iteration facts for the side file. */
  def facts(): Map[String, Any] = Map.empty
}

trait Workload {
  def name: String
  /** Iterations run after setup and before measuring, counted in setup. */
  def warmups: Int
  /** Generates the inputs and bootstraps the state under `dir`. */
  def setup(env: Env, dir: String): Instance
}

object Workloads {
  val all: Seq[Workload] = Seq(EtlDeltaCycle, EtlFullReload, CurationChainWorkload)
  def byName(n: String): Option[Workload] = all.find(_.name == n)

  /** Runs `body` and reports its wall time and Hadoop bytes written. */
  def measured(body: => Unit): (Double, Long) = {
    val w0 = Stats.hadoopBytesWritten()
    val (_, wall) = Stats.timed(body)
    (wall, Stats.hadoopBytesWritten() - w0)
  }

  def ts(sec: Option[Long]): java.sql.Timestamp = sec.map(s => new java.sql.Timestamp(s * 1000L)).orNull
}

/** One warehouse table run through `Tasks.transformDb`, with a
  * generated `config.yaml` and step SQL. Each transform mode starts
  * with the fn step [[EtlTable.StepsMark]], which does nothing in a
  * plain run and marks where the steps begin in a traced one.
  */
final class EtlTable(env: Env, dir: String, table: String, pks: Seq[String],
                     selectSql: String, modes: Seq[ReadMode]) {
  private val spark = env.spark
  private val wh = new FileWarehouse(spark, s"$dir/wh")
  private val sqlRoot = s"$dir/sql"
  val landing = s"$dir/lake/landing/$table"
  private val ledgerDir = s"$dir/ledger"
  private val ctx = EtlContext(spark = spark, lake = Lake(s"$dir/lake"), warehouse = wh,
    sqlRoot = Some(sqlRoot), dumpDir = s"$dir/dump", ledgerDir = Some(ledgerDir),
    fns = EtlTable.stepsMark(()))
  var runs = 0

  wh.registerPrimaryKey("dwh", table, pks)
  locally {
    val folder = Paths.get(sqlRoot, table)
    Files.createDirectories(folder)
    Files.writeString(folder.resolve(s"$table.sql"), selectSql)
    val steps = modes.map(m =>
      s"""    ${m.name}:
         |      - type: fn
         |        fn: ${EtlTable.StepsMark}
         |      - type: select
         |        sql: $table.sql""".stripMargin).mkString("\n")
    Files.writeString(folder.resolve("config.yaml"),
      s"""- dependencies:
         |    - source: datalake
         |      format: parquet
         |      alias: ${table}_src
         |      path: landing/$table
         |  transform:
         |$steps
         |  target:
         |    target_schema: dwh
         |    target_table_name: $table
         |""".stripMargin)
  }

  def land(df: DataFrame): Long = {
    df.write.mode("overwrite").parquet(landing)
    Stats.dataBytes(landing)
  }

  def run(read: ReadMode, write: WriteMode, merge: MergeMode, tracer: Option[Tracer]): Unit = {
    tracer match {
      case None => Tasks.transformDb(ctx, table, read, write, merge).run()
      case Some(t) => traced(t, read, write, merge)
    }
    runs += 1
  }

  /** `Tasks.transformDb`'s task body with the config parse timed on
    * its own, then the program's `PipelineRunner.run` on a context
    * whose warehouse and steps marker mark the layer boundaries.
    */
  private def traced(t: Tracer, read: ReadMode, write: WriteMode, merge: MergeMode): Unit = {
    val folder = Paths.get(sqlRoot, table).toString
    val cfg = t.span("config.parse")(
      Yaml.parsePipelineFile(Paths.get(folder, "config.yaml").toString))
    val c = ctx.copy(sqlRoot = Some(folder), taskId = Tasks.transformTaskId(table, read),
      warehouse = new TracedWarehouse(wh, t),
      fns = EtlTable.stepsMark(t.switchTo("exec.steps")))
    t.span("exec.deps")(PipelineRunner.run(c, cfg, read, write, merge))
  }

  /** Sorted row hashes of the master, timestamps as epoch seconds. */
  def masterHashes(columns: Seq[String]): Array[Long] = {
    val df = wh.read("dwh", table)
    val cast = columns.map { c =>
      if (df.schema(c).dataType == TimestampType) col(c).cast(LongType).as(c) else col(c)
    }
    val it = df.select(cast: _*).toLocalIterator()
    val b = Array.newBuilder[Long]
    while (it.hasNext) {
      val r = it.next()
      b += Model.rowHash(Model.canonical(columns.indices.map(i => if (r.isNullAt(i)) null else r.get(i))))
    }
    val out = b.result()
    java.util.Arrays.sort(out)
    out
  }

  /** Failures of the end-of-run checks shared by the ETL workloads. */
  def checkState(columns: Seq[String], expected: Array[Long]): Seq[String] = {
    val got = masterHashes(columns)
    val master =
      if (java.util.Arrays.equals(got, expected)) Nil
      else {
        val g = got.toSet; val e = expected.toSet
        Seq(s"master differs from the model: ${got.length} rows vs ${expected.length} expected, " +
          s"${(g -- e).size} unexpected and ${(e -- g).size} missing row versions")
      }
    val active = Stats.dataFiles(s"$dir/wh/dwh/${table}__journal/__record_state=A")
    val flip = if (active.isEmpty) Nil else Seq(s"journal A partition holds ${active.size} files after the flip")
    val ledgerRows = spark.read.parquet(ledgerDir).count()
    val ledger = if (ledgerRows == runs) Nil else Seq(s"ledger holds $ledgerRows rows for $runs runs")
    master ++ flip ++ ledger
  }

  def spaceAmp(): Double =
    (Stats.diskBytes(s"$dir/wh") + Stats.diskBytes(ledgerDir)).toDouble /
      Stats.dataBytes(s"$dir/wh/dwh/$table")

  def layerCounts(): Map[String, Double] = {
    val journal = s"$dir/wh/dwh/${table}__journal"
    Map(
      "io.journal_files" -> Stats.dataFiles(journal).size.toDouble,
      "io.flip_files" -> Stats.dataFiles(s"$journal/__record_state=H")
        .count(_.getFileName.toString.startsWith("flip-")).toDouble,
      "exec.ledger_files" -> Stats.dataFiles(ledgerDir).size.toDouble)
  }
}

object EtlTable {
  /** Name of the registered fn step that opens every transform mode. */
  val StepsMark = "perfbench_steps"

  /** The fn registry holding [[StepsMark]], which runs `mark` and returns no data. */
  def stepsMark(mark: => Unit): Map[String, (SparkSession, EtlContext) => Option[DataFrame]] = {
    val f: (SparkSession, EtlContext) => Option[DataFrame] = (_, _) => { mark; None }
    Map(StepsMark -> f)
  }
}

object EtlDeltaCycle extends Workload {
  val name = "etl_delta_cycle"
  val warmups = 5
  val Keys = 150000

  val schema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType), StructField("o_orderpriority", StringType),
    StructField("updated_at", TimestampType), StructField("loaded_at", TimestampType),
    StructField("seq", LongType)))

  def row(o: Gen.Order): Row = Row(o.key, o.custkey, o.status, o.price,
    Workloads.ts(Some(o.orderDate)), o.priority, Workloads.ts(o.updatedAt),
    Workloads.ts(o.loadedAt), o.seq)

  val selectSql: String =
    """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority,
      |  updated_at AS __transform_dt, loaded_at AS __load_dt, seq AS __seqno,
      |  'A' AS __record_state
      |FROM orders_src
      |""".stripMargin

  def setup(env: Env, dir: String): Instance = {
    val spark = env.spark
    val shape = Gen.DeltaShape(Keys)
    val t = new EtlTable(env, dir, "orders", Seq("o_orderkey"), selectSql,
      Seq(ReadMode.Full, ReadMode.Delta))
    val seed = env.seed
    val slices = env.cores
    val full = spark.sparkContext.parallelize(0 until slices, slices).flatMap { s =>
      Gen.ordersFull(seed, Keys).filter(o => (o.key % slices).toInt == s).map(row)
    }
    t.land(spark.createDataFrame(full, schema))
    t.run(ReadMode.Full, WriteMode.Overwrite, MergeMode.Full, None)

    new Instance {
      var batches = 0

      def iterate(tracer: Option[Tracer]): Iter = {
        batches += 1
        val batch = Gen.ordersDelta(seed, batches, shape)
        val inputBytes = t.land(spark.createDataFrame(
          spark.sparkContext.parallelize(batch.map(row), 1), schema))
        val (wall, written) = Workloads.measured(
          t.run(ReadMode.Delta, WriteMode.Append, MergeMode.Delta, tracer))
        Iter(wall, batch.size.toLong, inputBytes, written)
      }

      override def check(): Seq[String] = t.checkState(Model.orderColumns,
        Model.orderMasterHashes(Model.ordersMaster(seed, shape, batches)))

      def spaceAmp(): Double = t.spaceAmp()
      def layerCounts(): Map[String, Double] = t.layerCounts()
      override def facts(): Map[String, Any] = Map("batches" -> batches, "task_runs" -> t.runs,
        "batch_keys_touched" -> shape.touched, "batch_keys_new" -> shape.fresh)
    }
  }
}

object EtlFullReload extends Workload {
  val name = "etl_full_reload"
  val warmups = 1
  val Rows = 300000

  val schema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType), StructField("l_linenumber", IntegerType),
    StructField("l_partkey", LongType), StructField("l_suppkey", LongType),
    StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
    StructField("l_shipdate", TimestampType), StructField("updated_at", TimestampType),
    StructField("loaded_at", TimestampType), StructField("seq", LongType)))

  def row(l: Gen.Line): Row = Row(l.orderkey, l.linenumber, l.partkey, l.suppkey, l.quantity,
    l.extendedprice, l.discount, l.tax, l.returnflag, l.linestatus,
    Workloads.ts(Some(l.shipdate)), Workloads.ts(l.updatedAt), Workloads.ts(l.loadedAt), l.seq)

  val selectSql: String =
    """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity, l_extendedprice,
      |  l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate,
      |  updated_at AS __transform_dt, loaded_at AS __load_dt, seq AS __seqno,
      |  'A' AS __record_state
      |FROM lineitem_src
      |""".stripMargin

  def setup(env: Env, dir: String): Instance = {
    val spark = env.spark
    val t = new EtlTable(env, dir, "lineitem", Seq("l_orderkey", "l_linenumber"), selectSql,
      Seq(ReadMode.Full))
    val seed = env.seed
    val slices = env.cores
    val source = spark.sparkContext.parallelize(0 until slices, slices).flatMap { s =>
      Iterator.range(s, Rows, slices).flatMap(i => Gen.lineVersions(seed, i.toLong, Rows)).map(row)
    }
    val inputBytes = t.land(spark.createDataFrame(source, schema))
    val sourceRows = Stats.footerRows(t.landing, spark.sparkContext.hadoopConfiguration)

    new Instance {
      def iterate(tracer: Option[Tracer]): Iter = {
        val (wall, written) = Workloads.measured(
          t.run(ReadMode.Full, WriteMode.Overwrite, MergeMode.Full, tracer))
        Iter(wall, sourceRows, inputBytes, written)
      }

      override def check(): Seq[String] = t.checkState(Model.lineColumns, Model.lineMasterHashes(seed, Rows))
      def spaceAmp(): Double = t.spaceAmp()
      def layerCounts(): Map[String, Double] = t.layerCounts()
      override def facts(): Map[String, Any] = Map("source_rows" -> sourceRows,
        "task_runs" -> t.runs)
    }
  }
}

object CurationChainWorkload extends Workload {
  val name = "curation_chain"
  val warmups = 4
  val Docs = 2500

  /** Stage landings whose row counts are reported. */
  val Stages: Seq[String] = Seq("s1_encoding_gate", "s2_normalize_dedup", "s3_near_dup_dedup",
    "s4_decontaminate", "s5_mixture")

  val schema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  def setup(env: Env, dir: String): Instance = {
    val spark = env.spark
    val corpusPath = s"$dir/corpus"
    val docs = Gen.documents(env.seed, Docs)
    spark.createDataFrame(spark.sparkContext.parallelize(
        docs.map(d => Row(d.id, d.text, d.lang, d.source, d.nChars)), 1), schema)
      .write.parquet(corpusPath)
    val inputBytes = Stats.dataBytes(corpusPath)

    new Instance {
      var iteration = 0
      var landDir = ""
      var digest: Option[String] = None
      var requests = 0
      var reused = 0
      var dropStages = Map.empty[String, Long]

      def iterate(tracer: Option[Tracer]): Iter = {
        if (landDir.nonEmpty) org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(landDir))
        iteration += 1
        landDir = s"$dir/land/iter_$iteration"
        val durable = CurationChain.DurableMaterializer(spark, landDir)
        val timedMat = tracer.map(new TimedMaterializer(durable, _))
        val mat: CurationChain.StageMaterializer = timedMat.getOrElse(durable)
        def span[A](n: String)(body: => A): A = tracer.fold(body)(_.span(n)(body))
        var stages = Map.empty[String, Long]
        val (wall, written) = Workloads.measured {
          val corpus = spark.read.parquet(corpusPath)
          val packed = CurationChain.run(corpus, mat)
          span("ext.pack")(packed.write.parquet(s"$landDir/packed"))
          stages = span("ext.audit")(CurationChain.audit(corpus, mat)
            .groupBy("drop_stage").count().collect()
            .map(r => r.getString(0) -> r.getLong(1)).toMap)
        }
        timedMat.foreach { m => requests += m.requests; reused += m.reused }
        dropStages = stages
        val bins = spark.read.parquet(s"$landDir/packed").collect()
        val packedDocs = bins.map(_.getAs[Long]("n_docs")).sum
        val kept = stages.getOrElse("kept", 0L)
        val d = bins.map(r => Model.canonical(r.toSeq)).sorted
          .map(s => f"${Model.rowHash(s)}%016x").mkString
        val dd = f"${Model.rowHash(d)}%016x:${bins.length}"
        if (digest.isEmpty) digest = Some(dd)
        Iter(wall, docs.size.toLong, inputBytes, written,
          (if (packedDocs == kept) Nil else Seq(s"packed $packedDocs docs, audit kept $kept")) ++
            digest.filter(_ != dd).map(first => s"packed digest $dd differs from $first"))
      }

      def spaceAmp(): Double =
        Stats.diskBytes(landDir).toDouble / Stats.dataBytes(s"$landDir/packed")

      def layerCounts(): Map[String, Double] = {
        val conf = spark.sparkContext.hadoopConfiguration
        (Stages.map(s => s"ext.$s.rows_out" -> Stats.footerRows(s"$landDir/$s", conf).toDouble) :+
          ("ext.pack.rows_out" -> Stats.footerRows(s"$landDir/packed", conf).toDouble) :+
          ("ext.landing_reuse" -> (if (requests == 0) 0.0 else reused.toDouble / requests))).toMap
      }

      override def facts(): Map[String, Any] = Map("corpus_docs" -> docs.size,
        "packed_digest" -> digest.getOrElse(""), "drop_stages" -> dropStages)
    }
  }
}
