package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark. run.py generates the inputs, launches this
  * main, and checks what it writes:
  *
  *   perfbench.Main --workload W --work DIR --seconds S --trace 0|1
  *                  --cores N [--block B]
  *
  * DIR holds the generated inputs; the run writes DIR/result.json (timings,
  * per-layer metrics, values to check) and, traced, DIR/trace.jsonl.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val work = opts("work")
    val cores = opts.getOrElse("cores", "4").toInt
    val run = Run(work, opts("seconds").toDouble, opts("trace") == "1",
      opts.getOrElse("block", "1").toInt)
    val spark = session(cores, work)
    run.sessionS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    if (run.traced) {
      run.tracer.drain = () => org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      spark.sparkContext.addSparkListener(run.listener)
      spark.listenerManager.register(run.listener)
      HeapSampler.start()
    }
    try {
      opts("workload") match {
        case "superstore_day" => SuperstoreDay(spark, run)
        case "operator_mix" => OperatorMix(spark, run)
        case w => sys.error(s"unknown workload $w")
      }
      run.layers("jvm.heap_peak_mb") = HeapSampler.peakBytes / 1048576.0
      if (run.traced) run.tracer.writeJsonl(s"$work/trace.jsonl")
      Files.writeString(Paths.get(s"$work/result.json"), run.toJson)
    } finally spark.stop()
  }

  /** The session settings of the program's own Verify/Bench mains, plus
    * GraftExtensions, with every local directory inside the run's DIR. */
  def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(graft.Tables.NanosConf, "true")
      .config("spark.buffer.pageSizeBytes", "4m")
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.operators.TopK.ensureRegistered(spark)
    spark
  }
}

/** Peak used heap, sampled every 20 ms by a daemon thread (traced runs). */
object HeapSampler {
  @volatile var peakBytes = 0L

  def start(): Unit = {
    val t = new Thread(() => {
      val mem = ManagementFactory.getMemoryMXBean
      while (true) {
        peakBytes = math.max(peakBytes, mem.getHeapMemoryUsage.getUsed)
        Thread.sleep(20)
      }
    }, "perfbench-heap-sampler")
    t.setDaemon(true)
    t.start()
  }
}

/** Everything one run measures, and its JSON form for run.py. */
final case class Run(work: String, seconds: Double, traced: Boolean,
                     block: Int) {
  val listener = new BenchListener
  val tracer = new Tracer(listener)
  var sessionS = 0.0
  /** timed batch work: the load + refresh of a day, or a pass of the mix */
  val batchMs = scala.collection.mutable.ArrayBuffer.empty[Double]
  /** wall time of each measured unit, and whether it was traced */
  val unitsMs = scala.collection.mutable.ArrayBuffer.empty[(Double, Boolean)]
  /** named step samples: load_ms, refresh_ms, query_ms, one per kind/query */
  val steps = scala.collection.mutable.LinkedHashMap.empty[String,
    scala.collection.mutable.ArrayBuffer[Double]]
  val layers = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  /** JSON values for run.py to compare against the ground truth */
  val checks = scala.collection.mutable.ArrayBuffer.empty[String]
  val errors = scala.collection.mutable.ArrayBuffer.empty[String]
  var attempted = 0
  val info = scala.collection.mutable.LinkedHashMap.empty[String, String]

  def step(name: String, ms: Double): Unit =
    steps.getOrElseUpdate(name, scala.collection.mutable.ArrayBuffer.empty) += ms

  /** Switches the span recorder and the listener, after the listener has
    * seen every event of the work before the switch. */
  def record(on: Boolean): Unit = {
    tracer.drain()
    tracer.on = on
    listener.enabled = on
  }

  /** Alternate traced and untraced units in a traced run; returns whether
    * the next unit is traced and switches the recorders accordingly. */
  def beginUnit(i: Int): Boolean = {
    val on = traced && i % 2 == 0
    record(on)
    on
  }

  def endUnit(ms: Double, on: Boolean): Unit = {
    unitsMs += ms -> on
    record(false)
  }

  def failed(what: String, e: Throwable): Unit = {
    val msg = s"$what: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage)}"
    errors += msg.take(400)
    System.err.println(s"[perfbench] $msg")
  }

  /** Listener counts over the given spans, averaged per traced unit, and
    * the tracing overhead (traced minus untraced unit time). */
  def sparkLayersOver(spans: Seq[Span], n: Double): Unit = {
    def total(k: String) = spans.map(_.counts(k)).sum.toDouble
    layers("spark.jobs") = total("jobs") / n
    layers("spark.stages") = total("stages") / n
    layers("spark.tasks") = total("tasks") / n
    layers("spark.failed_tasks") = total("failed_tasks") / n
    layers("spark.task_run_s") = total("task_run_ns") / 1e9 / n
    layers("spark.scheduler_delay_s") = total("sched_delay_ms") / 1e3 / n
    layers("spark.gc_s") = total("gc_ms") / 1e3 / n
    layers("spark.shuffle_write_bytes") = total("shuffle_write_bytes") / n
    layers("spark.shuffle_read_bytes") = total("shuffle_read_bytes") / n
    layers("spark.spill_bytes") = total("spill_bytes") / n
    layers("spark.input_bytes") = total("input_bytes") / n
    // tracing overhead: traced minus untraced unit time where the run has
    // both; a one-unit run falls back to the recorders' own measured time
    val on = unitsMs.filter(_._2).map(_._1).toSeq
    val off = unitsMs.filterNot(_._2).map(_._1).toSeq
    val selfMs = (tracer.selfNs + listener.selfNs.get) / 1e6 / n
    layers("trace.self_ms") = selfMs
    val (d, base) =
      if (on.nonEmpty && off.nonEmpty)
        (Stats.median(on) - Stats.median(off), Stats.median(off))
      else (selfMs, Stats.median(on) - selfMs)
    layers("trace.overhead_ms") = d
    layers("trace.overhead_share") = d / base
  }

  def toJson: String = Json.obj(Seq(
    "session_s" -> Json.num(sessionS),
    "batch_ms" -> Json.arr(batchMs.map(Json.num).toSeq),
    "units_ms" -> Json.arr(unitsMs.map(u => Json.num(u._1)).toSeq),
    "steps" -> Json.obj(steps.toSeq.map { case (k, v) =>
      k -> Json.arr(v.map(Json.num).toSeq) }),
    "layers" -> Json.obj(layers.toSeq.map { case (k, v) => k -> Json.num(v) }),
    "checks" -> Json.arr(checks.toSeq),
    "errors" -> Json.arr(errors.map(Json.str).toSeq),
    "attempted" -> attempted.toString,
    "info" -> Json.obj(info.toSeq.map { case (k, v) => k -> Json.str(v) })))
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")
}
