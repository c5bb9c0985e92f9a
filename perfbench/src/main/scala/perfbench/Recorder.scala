package perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Times the benchmark's calls into the library.
  *
  * `op` wraps one client operation: its latency is always recorded, and
  * when tracing is on it also opens a span. `span` wraps a step inside an
  * operation and records only when tracing. Spans carry a name, a layer,
  * start and end (ns since the run started), the parent span and the id of
  * the operation they belong to. While a span is open its id rides on the
  * Spark job properties, so [[JobProbe]] can hang each job under it. */
final class Recorder(val t0Ns: Long) {
  import Recorder._

  val ops = ArrayBuffer.empty[Map[String, Any]]
  val spans = ArrayBuffer.empty[Span]
  val observations = ArrayBuffer.empty[Map[String, Any]]
  var pass = 0
  val failures = ArrayBuffer.empty[String]
  private var tracing = false
  private var sc: SparkContext = _
  private var stack: List[Span] = Nil
  private var nextId = 1L

  def now: Long = System.nanoTime() - t0Ns

  def startPass(spark: SparkContext, index: Int, traced: Boolean): Unit = {
    sc = spark; pass = index; tracing = traced; stack = Nil
  }

  /** One client operation of kind `kind`, served by `layer`. An operation
    * that throws is counted as failed and yields None. */
  def op[T](kind: String, layer: String)(body: => T): Option[T] = {
    val start = now
    val out =
      try Some(span(kind, layer)(body))
      catch { case e: Exception =>
        failures += s"pass $pass $kind: ${e.getClass.getSimpleName}: ${e.getMessage}"
        None
      }
    ops += Map("pass" -> pass, "kind" -> kind, "ms" -> (now - start) / 1e6,
      "ok" -> out.isDefined)
    out
  }

  def span[T](name: String, layer: String)(body: => T): T =
    if (!tracing) body
    else {
      val s = new Span(nextId, stack.headOption.map(_.id).getOrElse(0L),
        stack.lastOption.map(_.id).getOrElse(nextId), pass, name, layer, now)
      nextId += 1
      stack = s :: stack
      sc.setLocalProperty(SpanProperty, s.id.toString)
      try body
      finally {
        s.end = now
        spans += s
        stack = stack.tail
        sc.setLocalProperty(SpanProperty, stack.headOption.map(_.id.toString).orNull)
      }
    }
}

object Recorder {
  val SpanProperty = "perfbench.span"

  final class Span(val id: Long, val parent: Long, val op: Long, val pass: Int,
                   val name: String, val layer: String, val start: Long) {
    var end: Long = -1
    def toMap: Map[String, Any] = Map("id" -> id, "parent" -> parent, "op" -> op,
      "pass" -> pass, "name" -> name, "layer" -> layer, "start" -> start, "end" -> end)
  }
}

/** Spark-layer counters for one pass, gathered by a listener the
  * benchmark registers: jobs (with their interval, the span that launched
  * them and the shuffle bytes their tasks wrote), stages, tasks, task
  * failures, executor CPU and run
  * time, input, shuffle and spill bytes, and the task durations of each
  * stage (for skew). Times from Spark events are wall-clock ms; they are
  * mapped onto the recorder's clock through `wallAtT0Ms`. */
final class JobProbe(wallAtT0Ms: Long) extends SparkListener {
  private val jobs = ArrayBuffer.empty[Map[String, Any]]
  private val jobStart = scala.collection.mutable.Map.empty[Int, (Long, Long)]
  // a stage's tasks run under the first job that lists it; later jobs skip it
  private val stageJob = scala.collection.mutable.Map.empty[Int, Int]
  private val jobShuffleWrite = scala.collection.mutable.Map.empty[Int, Long]
  private val stageTasks = scala.collection.mutable.Map.empty[Int, ArrayBuffer[Long]]
  private val stageDuration = scala.collection.mutable.Map.empty[Int, Long]
  private var stages, tasks, taskFailures = 0L
  private var cpuNs, runMs, inputBytes, shuffleWrite, shuffleRead, spill = 0L

  private def rel(ms: Long): Long = (ms - wallAtT0Ms) * 1000000L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p =>
      Option(p.getProperty(Recorder.SpanProperty))).map(_.toLong).getOrElse(0L)
    jobStart(e.jobId) = (rel(e.time), span)
    e.stageIds.foreach(stageJob.getOrElseUpdate(_, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (start, span) =>
      jobs += Map("job" -> e.jobId, "parent" -> span, "start" -> start,
        "end" -> math.max(start, rel(e.time)))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += 1
    val info = e.stageInfo
    for (s <- info.submissionTime; c <- info.completionTime)
      stageDuration(info.stageId) = c - s
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    if (!e.taskInfo.successful) taskFailures += 1
    stageTasks.getOrElseUpdate(e.stageId, ArrayBuffer.empty) += e.taskInfo.duration
    Option(e.taskMetrics).foreach { m =>
      cpuNs += m.executorCpuTime
      runMs += m.executorRunTime
      inputBytes += m.inputMetrics.bytesRead
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      stageJob.get(e.stageId).foreach { j =>
        jobShuffleWrite(j) = jobShuffleWrite.getOrElse(j, 0L) + m.shuffleWriteMetrics.bytesWritten
      }
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Counters of everything seen since registration. */
  def snapshot(): Map[String, Any] = synchronized {
    // skew of the longest stage: its slowest task over its median task
    val skew = stageDuration.maxByOption(_._2).flatMap { case (id, _) =>
      stageTasks.get(id).filter(_.nonEmpty).map { d =>
        val s = d.sorted
        val med = (s((s.size - 1) / 2) + s(s.size / 2)) / 2.0
        s.last / math.max(med, 1.0)
      }
    }.getOrElse(1.0)
    Map("jobs" -> jobs.size, "stages" -> stages, "tasks" -> tasks,
      "task_failures" -> taskFailures, "executor_cpu_s" -> cpuNs / 1e9,
      "executor_run_s" -> runMs / 1e3, "input_bytes" -> inputBytes,
      "shuffle_write_bytes" -> shuffleWrite, "shuffle_read_bytes" -> shuffleRead,
      "spill_bytes" -> spill, "task_skew" -> skew,
      "job_spans" -> jobs.toList.map(j =>
        j + ("shuffle_write_bytes" -> jobShuffleWrite.getOrElse(j("job").asInstanceOf[Int], 0L))))
  }
}
