package graft

/** Interleaved A/B of the scan fan-out per query (dev-loop tool):
  * alternate OFF/ON rounds within one JVM so a slow host phase hits both
  * arms equally (the spot-bench runs disagreed by 30% on identical
  * plans). Arm ON enables the `Tables.loadFanned` call sites;
  * arm OFF disables them. Prints min-of-3 per arm.
  *
  * Usage: tools/run.sh graft.Debug <sfDir> ab <query>[,<query>...] ...
  */
object Debug {
  def main(args: Array[String]): Unit = {
    require(args.length > 2 && args(1) == "ab",
      "usage: graft.Debug <sfDir> ab <query>[,<query>...] ...")
    val sfDir = args(0)
    val qs = args.drop(2).mkString(",").split(",").map(_.trim).filter(_.nonEmpty)
    val spark = GraftSession.getOrCreate()
    def run(name: String, fanned: Boolean): Double = {
      spark.conf.set("spark.graft.scan.fanout", fanned.toString)
      val t0 = System.nanoTime()
      Bench.runToCompletion(SparkEntry.queries(name)(spark, sfDir))
      val sec = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      sec
    }
    for (q <- qs) {
      run(q, fanned = false) // warmup (codegen etc.)
      val (off, on) = (Array.fill(3)(0.0), Array.fill(3)(0.0))
      for (i <- 0 until 3) { off(i) = run(q, fanned = false); on(i) = run(q, fanned = true) }
      println(f"[ab] $q%-32s off=${off.min}%6.2f on=${on.min}%6.2f " +
        f"(off ${off.map(x => f"$x%.2f").mkString("/")} on ${on.map(x => f"$x%.2f").mkString("/")})")
    }
    spark.stop()
  }
}
