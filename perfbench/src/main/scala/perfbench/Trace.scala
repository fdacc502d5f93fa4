package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

final case class Span(id: Long, parent: Long, name: String, kind: String,
    start: Long, var end: Long = -1L, attrs: mutable.Map[String, Any] = mutable.Map.empty)

/** In-memory trace of one benchmark run: spans recorded by the benchmark
  * around its calls into the library, and one record per Spark job from
  * a listener. Nothing is written until [[Tracer.write]] at the end of
  * the run. Times are epoch microseconds, so spans (nanoTime based) and
  * jobs (listener epoch millis) share one axis.
  */
final class Tracer {
  /** When false, spans are not recorded and the listener is detached. */
  @volatile var enabled = false

  private val epochUs0 = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()
  def nowUs(): Long = epochUs0 + (System.nanoTime() - nano0) / 1000L

  private var nextId = 1L
  private val spans = mutable.ArrayBuffer.empty[Span]

  /** Returns the span id, or 0 when tracing is off. */
  def start(name: String, kind: String, parent: Long): Long =
    if (!enabled) 0L
    else {
      val s = Span(nextId, parent, name, kind, nowUs())
      nextId += 1
      spans += s
      s.id
    }

  def end(id: Long, attrs: (String, Any)*): Unit =
    if (id != 0L) {
      val s = spans(id.toInt - 1)
      s.end = nowUs()
      s.attrs ++= attrs
    }

  val listener = new JobListener

  private def json(v: Any): String = v match {
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case null => "null"
    case x => x.toString
  }

  /** One JSON object per line: a `meta` line, then spans, then jobs. */
  def write(path: String, meta: Map[String, Any]): Unit = {
    val sb = new StringBuilder
    sb ++= json(Map("type" -> "meta") ++ meta) += '\n'
    spans.foreach { s =>
      sb ++= json(Map("type" -> "span", "id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "kind" -> s.kind, "start" -> s.start, "end" -> s.end,
        "attrs" -> s.attrs)) += '\n'
    }
    listener.jobs.values.toSeq.sortBy(_.id).foreach { j =>
      sb ++= json(Map("type" -> "job", "id" -> j.id, "group" -> j.group,
        "start" -> j.start, "end" -> j.end, "stages" -> j.stages, "tasks" -> j.tasks,
        "run_ms" -> j.runMs, "cpu_ns" -> j.cpuNs, "gc_ms" -> j.gcMs,
        "max_task_ms" -> j.maxTaskMs, "out_b" -> j.outBytes,
        "shr_b" -> j.shuffleReadBytes, "shw_b" -> j.shuffleWriteBytes,
        "spill_b" -> j.spillBytes, "peak_mem_b" -> j.peakMemBytes)) += '\n'
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), sb.result())
  }
}

/** Per-job totals of the task metrics the per-layer report needs. The
  * job group is the id of the operation span that ran the job. */
final class JobRec(val id: Int, val group: String, val start: Long) {
  var end = -1L
  var stages, tasks = 0
  var runMs, cpuNs, gcMs, maxTaskMs = 0L
  var outBytes, shuffleReadBytes, shuffleWriteBytes, spillBytes = 0L
  var peakMemBytes = 0L
}

final class JobListener extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, JobRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val j = new JobRec(e.jobId, group, e.time * 1000L)
    jobs(e.jobId) = j
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, j))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time * 1000L)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).foreach { j =>
      j.tasks += 1
      j.maxTaskMs = math.max(j.maxTaskMs, e.taskInfo.duration)
      Option(e.taskMetrics).foreach { m =>
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.outBytes += m.outputMetrics.bytesWritten
        j.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        j.peakMemBytes = math.max(j.peakMemBytes, m.peakExecutionMemory)
      }
    }
  }
}
