package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** Task-metric totals of one tag (a panel query or a stream trigger). */
final class TaskTotals {
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var peakExecMem = 0L
  var jobs = 0L
  var stages = 0L

  def add(o: TaskTotals): Unit = {
    tasks += o.tasks; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite
    spill += o.spill; peakExecMem = math.max(peakExecMem, o.peakExecMem)
    jobs += o.jobs; stages += o.stages
  }
}

/** A closed interval of work. Times are epoch milliseconds. */
final case class Span(id: Long, trace: String, parent: Long, name: String,
                      startMs: Double, endMs: Double,
                      attrs: Map[String, Double] = Map.empty)

/** Benchmark-registered SparkListener. It always sums task metrics per
  * tag; while `spans` is on it also records every job and stage as a
  * span. A micro-batch job's tag is "batch:<query id>:<batch id>" from
  * the stream's local properties; any other job's tag is its job group
  * (set around each panel query). Only public listener events are used. */
final class Probe extends SparkListener {
  /** Record job and stage spans (switched on for the traced half of a run). */
  @volatile var spans = false
  private val stageTag = new ConcurrentHashMap[Int, String]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val jobTag = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  private val totals = new ConcurrentHashMap[String, TaskTotals]()
  private val recorded = mutable.ArrayBuffer[Span]()

  private def totalsOf(tag: String): TaskTotals =
    totals.computeIfAbsent(tag, _ => new TaskTotals)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = e.properties
    def prop(k: String) = Option(p).flatMap(x => Option(x.getProperty(k)))
    // a stream sets its run id as the job group, so its ids come first
    val tag = (for (q <- prop("sql.streaming.queryId");
                    b <- prop("streaming.sql.batchId")) yield s"batch:$q:$b")
      .orElse(prop("spark.jobGroup.id"))
      .getOrElse("other")
    jobTag.put(e.jobId, tag)
    jobStart.put(e.jobId, e.time)
    e.stageIds.foreach { s => stageTag.put(s, tag); stageJob.put(s, e.jobId) }
    val t = totalsOf(tag)
    t.synchronized { t.jobs += 1 }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (spans) {
    val tag = jobTag.getOrDefault(e.jobId, "other")
    val start = Option(jobStart.get(e.jobId)).map(_.toDouble).getOrElse(e.time.toDouble)
    synchronized {
      recorded += Span(1000000L + e.jobId, tag, -1, s"job ${e.jobId}",
        start, e.time.toDouble)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    val tag = stageTag.getOrDefault(info.stageId, "other")
    val t = totalsOf(tag)
    t.synchronized { t.stages += 1 }
    if (spans) for (s <- info.submissionTime; c <- info.completionTime) {
      val job = stageJob.getOrDefault(info.stageId, -1)
      synchronized {
        recorded += Span(2000000L + info.stageId * 100L + info.attemptNumber(),
          tag, if (job >= 0) 1000000L + job else -1,
          s"stage ${info.stageId}", s.toDouble, c.toDouble,
          Map("tasks" -> info.numTasks.toDouble))
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val t = totalsOf(stageTag.getOrDefault(e.stageId, "other"))
    t.synchronized {
      t.tasks += 1
      t.cpuNs += m.executorCpuTime
      t.gcMs += m.jvmGCTime
      t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      t.peakExecMem = math.max(t.peakExecMem, m.peakExecutionMemory)
    }
  }

  /** Totals of every tag accepted by `keep`, summed. */
  def sum(keep: String => Boolean): TaskTotals = {
    val acc = new TaskTotals
    totals.asScala.foreach { case (k, v) => if (keep(k)) v.synchronized(acc.add(v)) }
    acc
  }

  def tag(t: String): TaskTotals = sum(_ == t)

  def jobSpans: Seq[Span] = synchronized(recorded.toList)
}

/** Span sink of a traced run: kept in memory, written once at the end. */
final class Tracer {
  private val spans = mutable.ArrayBuffer[Span]()
  private var next = 1L

  def add(trace: String, parent: Long, name: String, startMs: Double,
          endMs: Double, attrs: Map[String, Double] = Map.empty): Long =
    synchronized {
      val id = next
      next += 1
      spans += Span(id, trace, parent, name, startMs, endMs, attrs)
      id
    }

  def addAll(xs: Seq[Span]): Unit = synchronized(spans ++= xs)

  def all: Seq[Span] = synchronized(spans.toList)

  /** Every span with its self time: duration minus the time covered by
    * its direct children (children clipped to the parent, overlaps merged). */
  def withSelfTime: Seq[(Span, Double)] = {
    val xs = all
    val kids = xs.groupBy(_.parent)
    xs.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0.0
      var curA = Double.NaN
      var curB = Double.NaN
      iv.foreach { case (a, b) =>
        if (curA.isNaN) { curA = a; curB = b }
        else if (a <= curB) curB = math.max(curB, b)
        else { covered += curB - curA; curA = a; curB = b }
      }
      if (!curA.isNaN) covered += curB - curA
      (s, math.max(0.0, (s.endMs - s.startMs) - covered))
    }
  }

  def write(path: java.nio.file.Path): Unit = {
    val rows = withSelfTime.map { case (s, self) =>
      Map("id" -> s.id, "trace" -> s.trace, "parent" -> s.parent,
        "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "self_ms" -> self, "attrs" -> s.attrs)
    }
    java.nio.file.Files.writeString(path, Util.toJson(rows) + "\n")
  }
}
