package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener,
  StreamingQueryProgress}

import graft.streaming.StreamingPipeline

/** One committed micro-batch as seen through the public progress API. */
final case class Trigger(id: Long, startMs: Double, rows: Long,
                         durations: Map[String, Long],
                         stateRows: Long, stateBytes: Long,
                         stateCommitMs: Long, stateUpdateMs: Long) {
  def ms(k: String): Long = durations.getOrElse(k, 0L)
  def triggerMs: Long = ms("triggerExecution")
  def commitAtMs: Double = startMs + triggerMs
}

object Trigger {
  def of(p: StreamingQueryProgress): Trigger = {
    val st = p.stateOperators.headOption
    Trigger(p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
      p.numInputRows,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      st.map(_.numRowsTotal).getOrElse(0L), st.map(_.memoryUsedBytes).getOrElse(0L),
      st.map(_.commitTimeMs).getOrElse(0L), st.map(_.allUpdatesTimeMs).getOrElse(0L))
  }
}

/** A running reference changelog query over a directory of payload files:
  * text source → `fromJsonPayload` → `changelogWriter` (enrich →
  * hotels_count, update mode) → `toJsonPayload` in a foreachBatch sink
  * that collects the changelog rows of every batch for checking. */
final class ChangelogRun(spark: SparkSession, dir: Path, ckpt: Path,
                         maxFiles: Option[Int]) {
  private val mapper = new ObjectMapper()
  val emitted = new ConcurrentHashMap[Long, Seq[(String, Long, Long)]]()
  private val progress = new ConcurrentHashMap[Long, Trigger]()
  @volatile private var queryId: java.util.UUID = _
  val rowsSeen = new AtomicLong(0)

  private val listener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (e.progress.id == queryId && e.progress.numInputRows > 0) {
        progress.put(e.progress.batchId, Trigger.of(e.progress))
        rowsSeen.addAndGet(e.progress.numInputRows)
      }
  }

  private def sink(df: Dataset[Row], batchId: Long): Unit = {
    val lines = StreamingPipeline.toJsonPayload(df).collect().map(_.getString(0))
    emitted.put(batchId, lines.toSeq.map { s =>
      val n = mapper.readTree(s)
      (n.path("stay_category").asText(null), n.path("hotels_amount").asLong(-1),
        n.path("distinct_hotels").asLong(-1))
    })
  }

  val query: StreamingQuery = {
    spark.streams.addListener(listener)
    val reader = maxFiles.foldLeft(spark.readStream)((r, n) =>
      r.option("maxFilesPerTrigger", n.toLong))
    val raw = reader.text(dir.toString)
    val q = StreamingPipeline.changelogWriter(StreamingPipeline.fromJsonPayload(raw))
      .foreachBatch((df: Dataset[Row], id: Long) => sink(df, id))
      .option("checkpointLocation", ckpt.toString)
      .start()
    queryId = q.id
    q
  }

  def triggers: Seq[Trigger] = progress.values.asScala.toSeq.sortBy(_.id)

  def await(cond: => Boolean, timeoutMs: Long): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!cond && query.exception.isEmpty && System.currentTimeMillis() < deadline)
      Thread.sleep(5)
    query.exception.foreach(e => throw e)
    require(cond, s"stream did not reach its target within ${timeoutMs / 1000}s")
  }

  def stop(): Unit = {
    if (query.isActive) query.stop()
    query.awaitTermination(60000)
    spark.streams.removeListener(listener)
  }

  /** File name -> batch id for every file the source has committed to its
    * log (the checkpoint's `sources/0` entries, compacted or not). */
  def fileBatches: Map[String, Long] = {
    val d = ckpt.resolve("sources").resolve("0")
    if (!Files.isDirectory(d)) return Map.empty
    val out = mutable.Map[String, Long]()
    Files.list(d).iterator().asScala.filterNot(_.getFileName.toString.startsWith("."))
      .foreach { f =>
        Files.readAllLines(f).asScala.drop(1).filter(_.startsWith("{")).foreach { l =>
          val n = mapper.readTree(l)
          val p = n.path("path").asText()
          out(p.substring(p.lastIndexOf('/') + 1)) = n.path("batchId").asLong()
        }
      }
    out.toMap
  }
}

/** Outcome of checking a changelog against generator-side truth. */
final case class Checked(attempted: Long, failed: Long, problems: Seq[String])

object Check {
  /** Replays the committed batches in order. After each batch the running
    * changelog (last value per key) must equal the ground truth over the
    * files that batch and its predecessors consumed; every emitted key must
    * be one of the five categories, with distinct_hotels ≤ hotels_amount and
    * both counts monotone per key. A batch is a failed op when any check
    * on it fails. */
  def changelog(run: ChangelogRun, files: Map[String, FileTruth],
                batches: Seq[Long]): Checked = {
    val byBatch = run.fileBatches.toSeq.groupBy(_._2)
    val truth = new Truth
    val state = mutable.Map[String, (Long, Long)]()
    val problems = mutable.ArrayBuffer[String]()
    var failed = 0L
    batches.sorted.foreach { b =>
      val before = problems.size
      byBatch.getOrElse(b, Nil).foreach { case (f, _) =>
        files.get(f) match {
          case Some(t) => truth.add(t)
          case None => problems += s"batch $b read unknown file $f"
        }
      }
      val rows = Option(run.emitted.get(b)).getOrElse {
        problems += s"batch $b emitted nothing"; Nil
      }
      rows.foreach { case (k, amount, distinct) =>
        if (!Category.names.contains(k)) problems += s"batch $b: key $k outside the domain"
        if (distinct > amount) problems += s"batch $b: $k distinct $distinct > amount $amount"
        state.get(k).foreach { case (a0, d0) =>
          if (amount < a0 || distinct < d0) problems += s"batch $b: $k not monotone"
        }
        state(k) = (amount, distinct)
      }
      val exp = truth.expected
      (exp.keySet ++ state.keySet).foreach { k =>
        val got = state.getOrElse(k, (0L, 0L))
        val want = exp.getOrElse(k, (0L, 0L))
        if (got != want) problems += s"batch $b: $k is $got, truth $want"
      }
      if (problems.size > before) failed += 1
    }
    Checked(batches.size.toLong, failed, problems.take(20).toList)
  }
}

/** The streaming workload: a closed-loop drain of a staged backlog. */
final class Streams(spark: () => SparkSession, work: Path, seed: Long,
                    seconds: Int, probe: Probe, tracer: Option[Tracer]) {

  val BacklogFileRows = 200000
  val WarmTriggers = 2
  val PoolSize = 2486
  private val runIds = new AtomicLong(0)

  private def freshDir(name: String): Path = {
    val p = work.resolve(s"$name-${runIds.incrementAndGet()}")
    Util.deleteRecursively(p)
    Files.createDirectories(p)
  }

  private def fileName(i: Int) = f"part-$i%06d.txt"

  /** Starts and stops the changelog over one small file: the set-up step
    * that is timed, repeated, for `setup_s`. */
  def warmStart(): Unit = {
    val dir = freshDir("setup")
    new PayloadGen(seed, PoolSize).writeFile(dir.resolve(fileName(0)), 0, 0, 2000)
    val run = new ChangelogRun(spark(), dir, freshDir("setup-ckpt"), Some(1))
    try run.await(run.triggers.nonEmpty, 120000) finally run.stop()
  }

  // ---------------------------------------------------------------- backlog

  /** Keeps `ahead` unconsumed files staged in front of the stream. */
  private final class Stager(gen: PayloadGen, dir: Path, rows: Int, ahead: Int,
                             consumed: () => Long) extends Thread("perfbench-stager") {
    val truth = new ConcurrentHashMap[String, FileTruth]()
    @volatile var staged = 0
    @volatile var stopFlag = false
    val error = new AtomicReference[Throwable]()
    setDaemon(true)

    def stageNext(): Unit = {
      val t = gen.writeFile(dir.resolve(fileName(staged)), staged,
        staged.toLong * rows, rows)
      truth.put(fileName(staged), t)
      staged += 1
    }

    override def run(): Unit = try {
      while (!stopFlag) {
        if (staged.toLong * rows - consumed() < ahead.toLong * rows) stageNext()
        else Thread.sleep(5)
      }
    } catch { case e: Throwable => error.set(e) }

    def finish(): Unit = { stopFlag = true; join(60000) }
  }

  def backlog(): Outcome = {
    val dir = freshDir("backlog")
    val gen = new PayloadGen(seed, PoolSize)
    var run: ChangelogRun = null
    val stager = new Stager(gen, dir, BacklogFileRows, 3,
      () => if (run == null) 0L else run.rowsSeen.get())
    (0 until 3).foreach(_ => stager.stageNext())
    run = new ChangelogRun(spark(), dir, freshDir("backlog-ckpt"), Some(1))
    stager.start()
    val spanSwitchMs = new AtomicReference[Option[Double]](None)
    try {
      // the first two triggers pay plan, codegen and JIT warm-up: not measured
      run.await(run.triggers.size >= WarmTriggers, 170000)
      val t0 = System.currentTimeMillis()
      run.await({
        val el = System.currentTimeMillis() - t0
        if (tracer.isDefined && spanSwitchMs.get.isEmpty && el >= seconds * 500L) {
          probe.spans = true
          spanSwitchMs.set(Some(System.currentTimeMillis().toDouble))
        }
        el >= seconds * 1000L && run.triggers.size >= WarmTriggers + 4
      }, seconds * 1000L + 170000)
    } finally {
      run.stop()
      stager.finish()
      probe.spans = false
    }
    Option(stager.error.get).foreach(e => throw e)
    val all = run.triggers
    val steady = all.drop(WarmTriggers)
    val checked = Check.changelog(run, stager.truth.asScala.toMap, all.map(_.id))
    val rows = steady.map(_.rows).sum
    val wallMs = steady.map(_.triggerMs).sum.toDouble
    val cpu = probe.sum(t => steady.exists(b => t == s"batch:${run.query.id}:${b.id}"))
    val base = Seq(
      "rows_per_s" -> Metric(rows / (wallMs / 1000.0), "1/s"),
      "latency_p50_ms" -> Metric(Util.quantile(steady.map(_.triggerMs.toDouble), 0.5), "ms"),
      "latency_p99_ms" -> Metric(Util.quantile(steady.map(_.triggerMs.toDouble), 0.99), "ms"),
      "cpu_s" -> Metric(cpu.cpuNs / 1e9 / (rows / 1e6), "s"))
    Util.log(f"backlog: ${steady.size} steady triggers, $rows rows, " +
      f"${rows / (wallMs / 1000.0)}%.0f rows/s, ${all.map(_.triggerMs).mkString(",")} ms")
    val layers = tracer.map { tr =>
      traceTriggers(tr, "stream_backlog", run, all)
      val split = spanSwitchMs.get.getOrElse(Double.MaxValue)
      def usPerRow(ts: Seq[Trigger]) =
        if (ts.isEmpty) Double.NaN
        else ts.map(_.triggerMs).sum * 1000.0 / ts.map(_.rows).sum
      val untracedUs = usPerRow(steady.filter(_.startMs < split))
      val tracedUs = usPerRow(steady.filter(_.startMs >= split))
      val overhead =
        if (untracedUs.isNaN || tracedUs.isNaN) 0.0 else (tracedUs - untracedUs) / untracedUs
      val (layerMetrics, layerProblems) = Layers.reconcile(spark(),
        (0 to Layers.Rounds).map(i => dir.resolve(fileName(i))), BacklogFileRows,
        stager.truth.get(fileName(0)), seed, freshDir, tr)
      val sourceUs = Layers.sourceFloor(spark(), dir, freshDir("control-ckpt"))
      val local1 = Layers.singleThreadDrain(dir, freshDir("local1-ckpt"))
      (layerMetrics ++ microbatchMetrics(steady) ++ Seq(
        "streaming.source.us_per_row" -> Metric(sourceUs, "us"),
        "streaming.local1.rows_per_s" -> Metric(local1, "1/s"),
        "trace.overhead_ratio" -> Metric(overhead, "ratio")), layerProblems)
    }
    val problems = checked.problems ++ layers.toSeq.flatMap(_._2)
    Outcome(problems.isEmpty, checked.attempted, checked.failed,
      layers.map(_._1).getOrElse(base), problems)
  }

  private def microbatchMetrics(ts: Seq[Trigger]): Seq[(String, Metric)] = {
    def p50(f: Trigger => Double) = Util.median(ts.map(f))
    val gaps = ts.zip(ts.drop(1)).map { case (a, b) => math.max(0.0, b.startMs - a.commitAtMs) }
    val last = ts.last
    Seq(
      "streaming.microbatch.trigger_ms_p50" -> Metric(p50(_.triggerMs.toDouble), "ms"),
      "streaming.microbatch.addbatch_ms_p50" -> Metric(p50(_.ms("addBatch").toDouble), "ms"),
      "streaming.microbatch.commit_ms_p50" ->
        Metric(p50(t => (t.ms("walCommit") + t.ms("commitOffsets")).toDouble), "ms"),
      "streaming.microbatch.plan_ms_p50" -> Metric(p50(_.ms("queryPlanning").toDouble), "ms"),
      "streaming.microbatch.gap_ms_p50" -> Metric(if (gaps.isEmpty) 0.0 else Util.median(gaps), "ms"),
      "streaming.microbatch.rows_per_trigger_p50" -> Metric(p50(_.rows.toDouble), "count"),
      "streaming.state.commit_ms_p50" -> Metric(p50(_.stateCommitMs.toDouble), "ms"),
      "streaming.state.update_ms_p50" -> Metric(p50(_.stateUpdateMs.toDouble), "ms"),
      "streaming.state.rows" -> Metric(last.stateRows.toDouble, "count"),
      "streaming.state.bytes_end" -> Metric(last.stateBytes.toDouble, "bytes"),
      "streaming.state.update_ms_slope" -> Metric(
        Util.slope(ts.indices.map(_.toDouble), ts.map(_.stateUpdateMs.toDouble)), "ms/trigger"))
  }

  /** Trigger spans with their phases laid end to end in execution order
    * (the progress API gives phase durations, not start times), and the
    * trigger's Spark jobs and stages beneath them. */
  private def traceTriggers(tr: Tracer, trace: String, run: ChangelogRun,
                            ts: Seq[Trigger]): Unit = {
    val jobs = probe.jobSpans
    ts.foreach { t =>
      val id = tr.add(trace, -1, s"trigger ${t.id}", t.startMs, t.commitAtMs,
        Map("rows" -> t.rows.toDouble, "state_rows" -> t.stateRows.toDouble,
          "state_bytes" -> t.stateBytes.toDouble,
          "state_commit_ms" -> t.stateCommitMs.toDouble,
          "state_update_ms" -> t.stateUpdateMs.toDouble))
      var at = t.startMs
      Seq("latestOffset", "getBatch", "walCommit", "queryPlanning", "addBatch",
        "commitOffsets").foreach { ph =>
        val d = t.ms(ph)
        if (d > 0) { tr.add(trace, id, ph, at, at + d); at += d }
      }
      val mine = jobs.filter(_.trace == s"batch:${run.query.id}:${t.id}")
      tr.addAll(mine.map(s =>
        s.copy(trace = trace, parent = if (s.parent == -1) id else s.parent)))
    }
  }
}
