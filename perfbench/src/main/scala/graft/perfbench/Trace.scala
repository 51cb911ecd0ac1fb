package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Spans around the benchmark's calls into each layer: name, start, end,
  * parent and trace id, kept in memory and written out when the run ends.
  * The driver thread is the only caller, so a stack gives the parent.
  */
final class Tracer(traceId: String) {
  import Tracer.Span

  private val done = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Int]
  private var next = 0
  private val origin = System.nanoTime()

  def span[T](name: String)(body: => T): T = {
    next += 1
    val id = next
    val parent = open.headOption.getOrElse(0)
    open.push(id)
    val t0 = System.nanoTime()
    try body
    finally {
      open.pop()
      done += Span(id, parent, name, t0 - origin, System.nanoTime() - origin)
    }
  }

  def json: String = done.sortBy(_.id).map { s =>
    Json.obj("trace_id" -> traceId, "span_id" -> s.id, "parent" -> s.parent,
      "name" -> s.name, "start_us" -> s.startNs / 1000, "end_us" -> s.endNs / 1000)
  }.mkString("[\n", ",\n", "\n]\n")
}

object Tracer {
  final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)
}

/** Per-task numbers the stage profile is built from. */
final case class TaskRec(
    durationMs: Long, runMs: Long, cpuNs: Long, gcMs: Long, deserMs: Long,
    shuffleReadBytes: Long, shuffleWriteBytes: Long, spillBytes: Long,
    inputBytes: Long, outputBytes: Long, failed: Boolean)

final case class StageRec(
    stageId: Int, attempt: Int, executionId: Long, name: String,
    submitMs: Long, completeMs: Long, tasks: Seq[TaskRec]) {
  def wallS: Double = (completeMs - submitMs) / 1000.0
  private def sum(f: TaskRec => Long): Long = tasks.map(f).sum
  def runMs: Long = sum(_.runMs)
  def shuffleReadBytes: Long = sum(_.shuffleReadBytes)
  def shuffleWriteBytes: Long = sum(_.shuffleWriteBytes)
  def spillBytes: Long = sum(_.spillBytes)
  def inputBytes: Long = sum(_.inputBytes)
  def outputBytes: Long = sum(_.outputBytes)
  def gcMs: Long = sum(_.gcMs)
  /** Slowest task over the median task: the hot-partition signal. */
  def skew: Double = {
    val d = tasks.map(_.durationMs.toDouble).sorted
    if (d.isEmpty) 0.0 else d.last / math.max(Stats.median(d), 1.0)
  }
  def json: String = Json.obj(
    "stage_id" -> stageId, "attempt" -> attempt, "execution_id" -> executionId,
    "name" -> name, "wall_s" -> wallS, "tasks" -> tasks.size,
    "failed_tasks" -> tasks.count(_.failed), "run_ms" -> runMs,
    "cpu_ms" -> sum(_.cpuNs) / 1000000, "gc_ms" -> gcMs, "deser_ms" -> sum(_.deserMs),
    "shuffle_read_bytes" -> shuffleReadBytes,
    "shuffle_write_bytes" -> shuffleWriteBytes, "spill_bytes" -> spillBytes,
    "input_bytes" -> inputBytes, "output_bytes" -> outputBytes,
    "task_max_ms" -> (if (tasks.isEmpty) 0L else tasks.map(_.durationMs).max),
    "task_median_ms" -> Stats.median(tasks.map(_.durationMs.toDouble)),
    "task_skew" -> skew)
}

/** Stage and task metrics of every job, tagged with the SQL execution
  * that ran it and that execution's physical plan text, so a caller can
  * tell the stages of one write from those of another without any hook
  * inside the engine.
  */
final class StageProfiler extends SparkListener {
  private val tasks = mutable.HashMap.empty[(Int, Int), mutable.ArrayBuffer[TaskRec]]
  private val stageExec = mutable.HashMap.empty[Int, Long]
  private val stages = mutable.ArrayBuffer.empty[StageRec]
  private val plans = mutable.HashMap.empty[Long, String]
  private val execWall = mutable.HashMap.empty[Long, (Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val exec = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    e.stageIds.foreach(s => stageExec(s) = exec)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val rec =
      if (m == null) TaskRec(e.taskInfo.duration, 0, 0, 0, 0, 0, 0, 0, 0, 0, failed = true)
      else TaskRec(
        e.taskInfo.duration, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.executorDeserializeTime, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled,
        m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten, e.taskInfo.failed)
    tasks.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty) += rec
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stages += StageRec(i.stageId, i.attemptNumber(), stageExec.getOrElse(i.stageId, -1L),
      i.name, i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L),
      tasks.remove((i.stageId, i.attemptNumber())).map(_.toSeq).getOrElse(Nil))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        plans(s.executionId) = s.physicalPlanDescription
        execWall(s.executionId) = (s.time, s.time)
      case s: SparkListenerSQLExecutionEnd =>
        execWall.get(s.executionId).foreach { case (t0, _) => execWall(s.executionId) = (t0, s.time) }
      case _ =>
    }
  }

  /** Stages completed so far, after the listener bus has drained. */
  def snapshot(spark: SparkSession): Seq[StageRec] = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    synchronized(stages.toList)
  }

  def clear(spark: SparkSession): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    synchronized { stages.clear(); plans.clear(); execWall.clear() }
  }

  private val WriteTarget =
    "(?s)\\(\\d+\\) Execute InsertIntoHadoopFsRelationCommand.*?Arguments: ([^,\\s]+)".r

  /** Output path of the SQL execution's write command, or "". */
  def writeTarget(executionId: Long): String = synchronized {
    plans.get(executionId).flatMap(WriteTarget.findFirstMatchIn(_)).map(_.group(1)).getOrElse("")
  }

  /** Wall seconds of the SQL executions that write under a path ending in `suffix`. */
  def writeWallS(suffix: String): Double = synchronized {
    execWall.collect { case (id, (t0, t1)) if writeTarget(id).endsWith(suffix) => (t1 - t0) / 1000.0 }.sum
  }

  /** Each SQL execution's id, wall seconds and write target. */
  def executionsJson: String = synchronized {
    execWall.toSeq.sortBy(_._1).map { case (id, (t0, t1)) =>
      Json.obj("execution_id" -> id, "wall_s" -> (t1 - t0) / 1000.0,
        "write_target" -> writeTarget(id))
    }.mkString("[\n", ",\n", "\n]\n")
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile, as numpy's default. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else {
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
}

/** Just enough JSON for flat result objects. */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"'  => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c    => sb.append(c)
    }
    sb.append('"').toString
  }

  def value(v: Any): String = v match {
    case null                       => "null"
    case s: String                  => str(s)
    case d: Double if d.isNaN || d.isInfinite => "null"
    case d: Double                  => java.lang.Double.toString(d)
    case n: Int                     => n.toString
    case n: Long                    => n.toString
    case b: Boolean                 => b.toString
    case m: Map[_, _]               => obj(m.toSeq.map { case (k, x) => k.toString -> x }: _*)
    case xs: Seq[_]                 => xs.map(value).mkString("[", ", ", "]")
    case raw: RawJson               => raw.text
    case other                      => str(other.toString)
  }

  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => s"${str(k)}: ${value(v)}" }.mkString("{", ", ", "}")
}

final case class RawJson(text: String)
