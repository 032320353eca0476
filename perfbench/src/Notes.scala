package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.streaming.StreamingPipeline

/** Why the benchmark never times `.count()`: for the two reference
  * queries, and for decoded + enriched payloads, times the complete result
  * against `.count()` and prints both physical plans. */
object Notes {
  def countVersusFull(spark: SparkSession, dataDir: String, work: Path): String = {
    val payloads = work.resolve("notes-payloads")
    java.nio.file.Files.createDirectories(payloads)
    new PayloadGen(1, 2486).writeFile(payloads.resolve("part-000000.txt"), 0, 0, 200000)
    val cases: Seq[(String, () => DataFrame)] = Seq(
      "stay_enrich" -> (() => SparkEntry.queries("stay_enrich")(spark, dataDir)),
      "hotels_count" -> (() => SparkEntry.queries("hotels_count")(spark, dataDir)),
      "enrich(fromJsonPayload(200k payloads))" -> (() => StreamingPipeline.enrich(
        StreamingPipeline.fromJsonPayload(spark.read.text(payloads.toString)))))
    val sb = new StringBuilder
    cases.foreach { case (name, df) =>
      def best(f: => Unit) = { f; (0 until 5).map(_ => Util.timed(f)._2).min }
      val collectMs = best(df().collect())
      val noopMs = best(df().write.format("noop").mode("overwrite").save())
      val countMs = best(df().count())
      val full = df()
      full.collect()
      val counted = df().groupBy().count()
      counted.collect()
      sb ++= s"### $name\n\n"
      sb ++= f"- complete result, `collect()`: $collectMs%.1f ms (best of 5)\n"
      sb ++= f"- complete result, `noop` sink: $noopMs%.1f ms\n"
      sb ++= f"- `.count()`: $countMs%.1f ms\n\n"
      sb ++= "Plan of the complete result:\n\n```\n" +
        full.queryExecution.executedPlan.toString + "```\n\n"
      sb ++= "Plan of `.count()`:\n\n```\n" +
        counted.queryExecution.executedPlan.toString + "```\n\n"
    }
    sb.toString
  }
}
