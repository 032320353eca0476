package graft

/** Dev tool: run one query with the event log on, then print per-stage
  * wall/task time sorted descending — the empirical loop of guide §1.1
  * without the UI (disabled in this container). */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name = args(1)
    val logDir = java.nio.file.Files.createTempDirectory("graft_evlog").toString
    val spark = GraftSession.builder()
      .config("spark.eventLog.enabled", "true")
      .config("spark.eventLog.compress", "false")
      .config("spark.eventLog.dir", logDir)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warm run (codegen/JIT), then the measured run
    Bench.runToCompletion(SparkEntry.queries(name)(spark, sfDir))
    spark.catalog.clearCache()
    val t0 = System.nanoTime()
    Bench.runToCompletion(SparkEntry.queries(name)(spark, sfDir))
    println(f"[profile] $name total ${(System.nanoTime() - t0) / 1e9}%.2fs")
    spark.stop()
    // parse the event log: stage name/duration/task counts
    import scala.jdk.CollectionConverters._
    val logFiles = java.nio.file.Files.walk(java.nio.file.Paths.get(logDir))
      .iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
      .filterNot(_.getFileName.toString.startsWith("appstatus")).toSeq.sorted
    val lines = logFiles.flatMap(f =>
      new String(java.nio.file.Files.readAllBytes(f),
        java.nio.charset.StandardCharsets.UTF_8).linesIterator)
    val stageRe = """"Event":"SparkListenerStageCompleted"""".r
    case class St(id: Long, name: String, ms: Long, tasks: Long)
    val stages = lines.filter(l => stageRe.findFirstIn(l).isDefined).flatMap { l =>
      // crude field pulls — event log is one JSON object per line
      def grab(re: String): Option[String] =
        re.r.findFirstMatchIn(l).map(_.group(1))
      for {
        id <- grab(""""Stage ID":(\d+)""")
        nm <- grab(""""Stage Name":"([^"]*)"""")
        sub <- grab(""""Submission Time":(\d+)""")
        cmp <- grab(""""Completion Time":(\d+)""")
        nt <- grab(""""Number of Tasks":(\d+)""")
      } yield St(id.toLong, nm, cmp.toLong - sub.toLong, nt.toLong)
    }
    // second half of the log = the measured run
    val measured = stages.sortBy(_.id).drop(stages.size / 2)
    val gcMs = lines.filter(_.contains(""""Event":"SparkListenerTaskEnd""""))
      .flatMap(""""JVM GC Time":(\d+)""".r.findAllMatchIn(_).map(_.group(1).toLong))
      .sum
    val taskMs = lines.filter(_.contains(""""Event":"SparkListenerTaskEnd""""))
      .flatMap(""""Executor Run Time":(\d+)""".r.findAllMatchIn(_).map(_.group(1).toLong))
      .sum
    println(f"[profile] whole-log task time ${taskMs / 1000.0}%.1fs, JVM GC ${gcMs / 1000.0}%.1fs (${100.0 * gcMs / math.max(1, taskMs)}%.0f%%)")
    println(f"[profile] measured-run stages: ${measured.size}, " +
      f"sum ${measured.map(_.ms).sum / 1000.0}%.2fs")
    measured.sortBy(-_.ms).take(25).foreach(s =>
      println(f"[profile] ${s.ms / 1000.0}%7.2fs tasks=${s.tasks}%3d  stage${s.id}%4d  ${s.name.take(110)}"))
  }
}
