package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{SortExec, SparkPlan}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  AdaptiveSparkPlanHelper, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

import graft.{RecallGate, SparkEntry, Tables}
import graft.pipeline.{EtlJob, PipelineRunner}

/** One benchmark run in one JVM: set up a `local[cores]` session, locate
  * the inputs, run a cold pass, an untimed check, and then the workload's
  * number of warm passes in a closed loop, starting no warm pass after
  * `--seconds` but the first. Every layer is reached only through its public
  * entry point, with a timer around the call.
  *
  * Output is one `PB {json}` line per event on stdout; perfbench/run.py
  * reads them. With `--trace 1` every pass is traced; the spans and
  * listener records go to `<out>/trace.json` at the end.
  *
  * Usage: Harness --workload <name> --data <sfDir> --out <dir>
  *   --cores <n> --seconds <s> --seed <n> --trace <0|1> --ops <a,b,...>
  *   --warm-passes <n>
  *   [--cmapss <dir>] [--setup-only 1]
  */
object Harness {
  def emit(fields: (String, Any)*): Unit = {
    println("PB " + Json.obj(fields: _*))
    System.out.flush()
  }

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val out = o("out")
    val cores = o("cores").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(spark.sparkContext)
    spark.sparkContext.addSparkListener(tracer)
    val ops = o("ops").split(",").toSeq
    val work =
      if (o("workload") == "cmapss_etl")
        new CmapssWork(spark, tracer, o("data"), o("cmapss"), out)
      else new QueryWork(spark, tracer, o("data"), out, ops)
    work.locate()
    emit("event" -> "ready")
    // run.py kills a set-up-only JVM once it is ready.
    if (o.get("setup-only").contains("1")) { Thread.sleep(Long.MaxValue) }
    // The passes start on a line from run.py, once the JVMs it started
    // beside this one for set-up samples have ended.
    scala.io.StdIn.readLine()

    val trace = o("trace") == "1"
    val rnd = new java.util.Random(o("seed").toLong)
    val seconds = o("seconds").toDouble
    val warmPasses = o("warm-passes").toInt
    val t0 = System.nanoTime()
    var pass = 0
    // The workload's warm passes, while --seconds last; always one.
    while (pass < 2 ||
        (pass <= warmPasses && (System.nanoTime() - t0) / 1e9 < seconds)) {
      Bus.drain(spark.sparkContext)
      tracer.active = trace
      val own0 = tracer.overheadNs
      val order = if (work.permuted) shuffled(ops, rnd) else ops
      val ps = System.nanoTime()
      work.pass(pass, order)
      val secs = (System.nanoTime() - ps) / 1e9
      Bus.drain(spark.sparkContext)
      tracer.active = false
      emit("event" -> "pass", "pass" -> pass, "s" -> secs,
        "trace_s" -> (tracer.overheadNs - own0) / 1e9, "order" -> order)
      work.afterPass(pass)
      // Checking right after the cold pass also lets the check pass warm
      // the session further before the warm passes.
      if (pass == 0) work.check()
      pass += 1
    }
    if (trace) {
      tracer.active = true
      for (_ <- 0 until 2; t <- Tables.names)
        tracer.span(-1, s"tables.$t", "tables")(Tables(spark, o("data"), t))()
      Bus.drain(spark.sparkContext)
      tracer.active = false
    }
    val storage = spark.sparkContext.getRDDStorageInfo
    emit("event" -> "storage",
      "blocks" -> storage.map(_.numCachedPartitions).sum,
      "bytes" -> storage.map(s => s.memSize + s.diskSize).sum)
    if (trace) {
      Bus.drain(spark.sparkContext)
      Files.writeString(Paths.get(s"$out/trace.json"), tracer.toJson(cores))
    }
    emit("event" -> "done", "passes" -> pass)
    spark.stop()
  }

  private def shuffled(ops: Seq[String], rnd: java.util.Random): Seq[String] = {
    val a = ops.toArray
    for (i <- a.indices.reverse.dropRight(1)) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq
  }

  def errLine(e: Throwable): String =
    (e.getClass.getSimpleName + ": " +
      Option(e.getMessage).getOrElse("").linesIterator.toSeq.headOption
        .getOrElse("")).take(300)
}

trait Work {
  /** Whether the seed permutes the operations' order in every pass. */
  def permuted: Boolean
  /** Check that the inputs exist; throw if not. Counts as set-up. */
  def locate(): Unit
  def pass(pass: Int, order: Seq[String]): Unit
  /** Untimed bookkeeping after a pass. */
  def afterPass(pass: Int): Unit = ()
  /** Untimed output check data after the cold pass, for run.py to compare. */
  def check(): Unit
}

/** Registry queries: build the DataFrame, plan it, consume it in full. */
final class QueryWork(spark: SparkSession, tracer: Tracer, data: String,
    out: String, ops: Seq[String]) extends Work {
  import Harness.{emit, errLine}
  private val helper = new AdaptiveSparkPlanHelper {}
  def permuted: Boolean = true

  def locate(): Unit = {
    val unknown = ops.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown operations: ${unknown.mkString(",")}")
    val missing = Tables.names.filterNot(t => new File(s"$data/$t.parquet").exists)
    require(missing.isEmpty, s"missing tables in $data: ${missing.mkString(",")}")
  }

  private def finalPlan(df: DataFrame): SparkPlan =
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }

  /** Whether the plan's output passes through a global sort last. */
  private def rootSort(p: SparkPlan): Boolean = p match {
    case s: SortExec => s.global
    case q: QueryStageExec => rootSort(q.plan)
    case other if other.children.size == 1 &&
        Set("WholeStageCodegenExec", "InputAdapter", "ColumnarToRowExec",
          "ProjectExec").contains(other.getClass.getSimpleName) =>
      rootSort(other.children.head)
    case _ => false
  }

  private def planAttrs(df: DataFrame): Map[String, Any] = {
    val p = finalPlan(df)
    Map("root_sort" -> rootSort(p),
      "cache_scans" -> helper.collectWithSubqueries(p) {
        case s: InMemoryTableScanExec => s
      }.size,
      // Each range exchange samples its input in a job of its own.
      "range_exchanges" -> helper.collectWithSubqueries(p) {
        case e: ShuffleExchangeExec
            if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
      }.size)
  }

  def pass(pass: Int, order: Seq[String]): Unit = order.foreach { name =>
    val t0 = System.nanoTime()
    val err =
      try {
        tracer.span(pass, name, "op") {
          val df = tracer.span(pass, name, "build") {
            SparkEntry.queries(name)(spark, data)
          }()
          tracer.span(pass, name, "plan") {
            val qe = df.queryExecution
            qe.optimizedPlan
            qe.executedPlan
          }()
          tracer.span(pass, name, "exec") {
            df.queryExecution.toRdd.foreachPartition { it =>
              while (it.hasNext) it.next()
            }
          }(_ => planAttrs(df))
        }()
        None
      } catch { case NonFatal(e) => Some(errLine(e)) }
    emit("event" -> "op", "pass" -> pass, "op" -> name,
      "s" -> (System.nanoTime() - t0) / 1e9, "error" -> err)
  }

  def check(): Unit = {
    val approx = RecallGate.Pairings.flatMap { case (exact, variants, cols) =>
      variants.filter(ops.contains).map(v => v -> (exact, cols))
    }.toMap
    val names = (ops ++ approx.values.map(_._1)).distinct.sorted
    val errors = names.flatMap { name =>
      try {
        SparkEntry.queries(name)(spark, data).coalesce(1).write.mode("overwrite")
          .parquet(s"$out/results/$name")
        None
      } catch { case NonFatal(e) => Some(name -> errLine(e)) }
    }.toMap
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => ops.contains(k) }
    val recall = approx.map { case (v, (exact, cols)) =>
      v -> Map("exact" -> exact, "cols" -> cols,
        "floor" -> RecallGate.Floors(v))
    }
    Files.writeString(Paths.get(s"$out/check.json"), Json.obj(
      "oracle" -> oracle, "recall" -> recall, "errors" -> errors))
  }
}

/** The paper's pipeline: CMAPSS text into a parquet warehouse through
  * `EtlJob.run`, then every `PipelineRunner.dailyFlow` stage.
  */
final class CmapssWork(spark: SparkSession, tracer: Tracer, data: String,
    inputDir: String, out: String) extends Work {
  import Harness.{emit, errLine}
  private val warehouse = s"$out/warehouse"
  private val flowDir = s"$out/flow"
  private var inputs = Seq.empty[File]
  private var last: Option[EtlJob.Result] = None
  private var flowOk = false
  /** The seed drives the input generator instead. */
  def permuted: Boolean = false

  def locate(): Unit = {
    inputs = Option(new File(inputDir).listFiles).toSeq.flatten
      .filter(f => f.getName.startsWith("train_") && f.length > 0)
      .sortBy(_.getName)
    require(inputs.nonEmpty, s"no CMAPSS train_*.txt files in $inputDir")
    require(new File(s"$data/events.parquet").exists,
      s"missing events table in $data")
  }

  def pass(pass: Int, order: Seq[String]): Unit = {
    val cfg = EtlJob.Config(
      datasets = inputs.map(f => EtlJob.DatasetInput(
        f.getName.stripPrefix("train_").stripSuffix(".txt"), f.getPath)),
      warehouseDir = warehouse)
    val t0 = System.nanoTime()
    val err =
      try {
        last = Some(tracer.span(pass, "etl", "etl")(EtlJob.run(spark, cfg))())
        None
      } catch { case NonFatal(e) => last = None; Some(errLine(e)) }
    emit("event" -> "op", "pass" -> pass, "op" -> "etl",
      "s" -> (System.nanoTime() - t0) / 1e9, "error" -> err)

    val secs = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val stages = PipelineRunner.dailyFlow(spark, data, flowDir).map { st =>
      st.copy(run = () => {
        val s0 = System.nanoTime()
        try tracer.span(pass, s"flow.${st.name}", "flow")(st.run())()
        finally secs(st.name) = secs.getOrElse(st.name, 0.0) +
          (System.nanoTime() - s0) / 1e9
      })
    }
    val report = PipelineRunner.run(stages)
    flowOk = report.succeeded
    report.stages.foreach { r =>
      emit("event" -> "op", "pass" -> pass, "op" -> s"flow.${r.name}",
        "s" -> secs.getOrElse(r.name, 0.0), "attempts" -> r.attempts,
        "error" -> (r.outcome match {
          case PipelineRunner.Succeeded => None
          case other => Some(other.toString.take(300))
        }))
    }
  }

  override def afterPass(pass: Int): Unit = {
    val files = Files.walk(Paths.get(warehouse)).toArray.toSeq
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(p => p.getFileName.toString.endsWith(".parquet"))
    emit("event" -> "etl_write", "pass" -> pass, "files" -> files.size,
      "bytes" -> files.map(Files.size(_)).sum,
      "input_bytes" -> inputs.map(_.length).sum)
  }

  def check(): Unit = emit("event" -> "cmapss_result",
    "sensors" -> last.map(_.sensors).getOrElse(Nil),
    "rows" -> last.map(_.rowsPerDataset).getOrElse(Map.empty),
    "flow_ok" -> flowOk, "warehouse" -> warehouse)
}
