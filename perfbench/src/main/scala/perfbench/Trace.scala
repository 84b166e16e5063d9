package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark's own counts, summed from listener events while `enabled`. */
final class Counters {
  val jobs, stages, tasks, failedTasks = new AtomicLong
  val taskRunNs, schedDelayMs, gcMs = new AtomicLong
  val shuffleWrite, shuffleRead, spill, inputBytes = new AtomicLong

  def snapshot: Map[String, Long] = Map(
    "jobs" -> jobs.get, "stages" -> stages.get, "tasks" -> tasks.get,
    "failed_tasks" -> failedTasks.get, "task_run_ns" -> taskRunNs.get,
    "sched_delay_ms" -> schedDelayMs.get, "gc_ms" -> gcMs.get,
    "shuffle_write_bytes" -> shuffleWrite.get,
    "shuffle_read_bytes" -> shuffleRead.get, "spill_bytes" -> spill.get,
    "input_bytes" -> inputBytes.get)
}

/** Listener registered by the benchmark (never by the program): Spark
  * scheduler counts plus the durations of the `graftcsv` write commands.
  * Off unless `enabled`, so untraced units pay only the event dispatch.
  * Whoever toggles `enabled` or reads the counters drains the listener bus
  * first (`Tracer.drain`), so every event of a finished action lands in the
  * interval it belongs to. */
final class BenchListener extends SparkListener with QueryExecutionListener {
  @volatile var enabled = false
  val c = new Counters
  /** nanoseconds spent inside this listener's handlers while enabled */
  val selfNs = new AtomicLong
  /** table-name suffix -> summed write-command nanoseconds */
  val writeNs = mutable.Map.empty[String, Long]

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (enabled) c.jobs.incrementAndGet()

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (enabled) c.stages.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (enabled) {
    val t0 = System.nanoTime
    c.tasks.incrementAndGet()
    if (!e.taskInfo.successful) c.failedTasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      c.taskRunNs.addAndGet(m.executorRunTime * 1000000L)
      c.gcMs.addAndGet(m.jvmGCTime)
      val delay = e.taskInfo.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime -
        (if (e.taskInfo.gettingResult) e.taskInfo.finishTime -
          e.taskInfo.gettingResultTime else 0L)
      c.schedDelayMs.addAndGet(math.max(0L, delay))
      c.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      c.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      c.inputBytes.addAndGet(m.inputMetrics.bytesRead)
    }
    selfNs.addAndGet(System.nanoTime - t0)
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = if (enabled) {
    qe.analyzed match {
      case w: org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand =>
        val name = w.table.name
        writeNs.synchronized {
          writeNs(name) = writeNs.getOrElse(name, 0L) + durationNs
        }
      case _ =>
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = ()

  def writeSecondsMatching(suffix: String): Double = writeNs.synchronized {
    writeNs.collect { case (k, v) if k.endsWith(suffix) => v }.sum / 1e9
  }
}

/** One span per call into a program layer: name, parent, start and end,
  * and the listener counts collected over the same interval. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long,
                      endNs: Long, counts: Map[String, Long]) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder; written out once, when the run ends. */
final class Tracer(val listener: BenchListener) {
  @volatile var on = false
  /** waits until Spark's listener bus is empty; set once the session exists */
  var drain: () => Unit = () => ()
  /** nanoseconds spent recording spans (counter snapshots, bookkeeping) */
  var selfNs = 0L
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private var nextId = 0

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val s0 = System.nanoTime
      val id = { nextId += 1; nextId }
      val parent = stack.headOption.getOrElse(0)
      stack.push(id)
      drain()
      val before = listener.c.snapshot
      val t0 = System.nanoTime
      selfNs += t0 - s0
      try body
      finally {
        val t1 = System.nanoTime
        stack.pop()
        drain()
        val after = listener.c.snapshot
        spans += Span(id, parent, name, t0, t1,
          after.map { case (k, v) => k -> (v - before(k)) })
        selfNs += System.nanoTime - t1
      }
    }

  def all: Seq[Span] = spans.toSeq

  /** Summed duration of every span with this name. */
  def seconds(name: String): Double =
    spans.filter(_.name == name).map(_.seconds).sum

  def durationsMs(name: String): Seq[Double] =
    spans.filter(_.name == name).map(_.seconds * 1000).toSeq

  def writeJsonl(path: String): Unit = {
    val sb = new StringBuilder
    spans.foreach { s =>
      sb ++= s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"counts":""" +
        Json.obj(s.counts.toSeq.sortBy(_._1).map { case (k, v) => k -> v.toString }) +
        "}\n"
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), sb.toString)
  }
}
