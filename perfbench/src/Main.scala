package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Benchmark entry point, started by `run.py` on the compiled classes.
  *
  *   --mode run|selftest|fingerprints|notes (default run)
  *   --workload stream_backlog|batch_panel
  *   --seed N --seconds N --trace 0|1
  *   --work DIR          scratch space inside the checkout
  *   --data DIR          the batch panel's input tables
  *   --fingerprints F    expected panel results (JSON lines)
  *   --result F          where the result object is written
  *   --trace-out F       where a traced run writes its spans
  */
object Main {
  val Threads = 3
  /** Set-up repetitions: the first ones of a JVM are still cold (class
    * loading, JIT), so only the later ones count. */
  val SetupColdReps = 2
  val SetupWarmReps = 6

  private val probe = new Probe
  private var current: SparkSession = _

  /** Stops the running session, if any, and starts a fresh one from the
    * program's own session builder; only the thread count is chosen here. */
  def session(master: String = s"local[$Threads]"): SparkSession = {
    if (current != null) {
      current.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
    current = GraftSession.builder(master = master, appName = "perfbench").getOrCreate()
    current.sparkContext.setLogLevel("ERROR")
    current.sparkContext.addSparkListener(probe)
    current
  }

  private def readFingerprints(p: Path): Map[String, (Long, String)] = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    scala.io.Source.fromFile(p.toFile).getLines().filter(_.trim.nonEmpty).map { l =>
      val n = m.readTree(l)
      n.get("query").asText() -> (n.get("rows").asLong(), n.get("sha256").asText())
    }.toMap
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val mode = opts.getOrElse("mode", "run")
    val result = Paths.get(opt("result"))
    mode match {
      case "selftest" =>
        Files.writeString(result, SelfTest.run(Paths.get(opt("work"))))
      case "fingerprints" =>
        val w = new PanelWorkload(() => current, opt("data"), 0, probe, None, Map.empty)
        session()
        Files.writeString(result, w.fingerprints().mkString("", "\n", "\n"))
      case "notes" =>
        session()
        Files.writeString(result, Notes.countVersusFull(current, opt("data"),
          Files.createDirectories(Paths.get(opt("work")))))
      case "run" =>
        Files.writeString(result, Util.toJson(runWorkload(opts, opt)))
    }
    if (current != null) current.stop()
  }

  private def runWorkload(opts: Map[String, String], opt: String => String): Map[String, Any] = {
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val traced = opt("trace") == "1"
    val work = Files.createDirectories(Paths.get(opt("work")))
    val tracer = if (traced) Some(new Tracer) else None
    val (warmStart, measure): (() => Unit, () => Outcome) = workload match {
      case "stream_backlog" =>
        val s = new Streams(() => current, work, seed, seconds, probe, tracer)
        (() => s.warmStart(), () => s.backlog())
      case "batch_panel" =>
        val p = new PanelWorkload(() => current, opt("data"), seconds, probe, tracer,
          readFingerprints(Paths.get(opt("fingerprints"))))
        (() => p.warmStart(), () => p.run())
      case other => sys.error(s"unknown workload $other")
    }
    // set-up: a fresh session plus the workload's first program step,
    // repeated; the median of the warm repetitions is reported
    val setupMs = (0 until SetupColdReps + SetupWarmReps)
      .map(_ => Util.timed { session(); warmStart() }._2)
    Util.log("setup ms: " + setupMs.map(x => f"$x%.0f").mkString(", "))
    val out = measure()
    val metrics =
      if (traced) out.metrics
      else out.metrics ++ Seq(
        "setup_s" -> Metric(Util.median(setupMs.drop(SetupColdReps)) / 1000.0, "s"),
        "peak_rss_mb" -> Metric(Util.peakRssMb(), "MB"))
    tracer.foreach(t => t.write(Paths.get(opt("trace-out"))))
    Map("correct" -> out.correct, "attempted" -> out.attempted, "failed" -> out.failed,
      "metrics" -> metrics.map { case (k, m) => k -> Map("value" -> m.value, "unit" -> m.unit) }
        .toMap,
      "problems" -> out.problems)
  }
}
