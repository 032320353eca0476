package perfbench

import java.security.MessageDigest
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

import graft.SparkEntry
import graft.sources.Tables

/** The batch query panel: a fixed list of `SparkEntry.queries`, each run
  * to its complete result (`collect()`: every row and column reaches the
  * caller) and checked against a fingerprint of its expected result. */
object Panel {

  /** (query, entry family). The family is the `entry/Entry*.scala` file
    * that registers the query. The panel is sized so that a cold warm-up
    * pass plus one timed pass fit a one-minute run: the median-cost query
    * of every family (for text, `text_token_count` stands in for
    * `tokenizer_bpe_apply`, whose one-off BPE staging costs 7 s per JVM),
    * the reference wire path, and `dedup_minhash_survivors`, the dedup
    * query that slowed down most when its broadcast hint went. */
  val queries: Seq[(String, String)] = Seq(
    // reference wire path
    "hotels_count" -> "core", "stay_enrich" -> "core",
    "json_wire_roundtrip" -> "core", "avro_wire_roundtrip" -> "core",
    // dedup queries that slowed down after hint removal
    "dedup_minhash_survivors" -> "dedup",
    // the median-cost query of each family
    "agg_distinct_rollup" -> "agg", "scd2_build" -> "business",
    "schema_evolution_merge" -> "core", "dedup_minhash_estimate" -> "dedup",
    "graph_ppr" -> "graph", "attribution_markov" -> "modeleval",
    "dq_freshness_audit" -> "pipeline", "join_full_outer" -> "relational",
    "outlier_trim" -> "similarity", "stats_gini_monthly" -> "stats",
    "text_token_count" -> "text", "timeseries_ljung_box" -> "timeseries",
    "feature_standardize" -> "traindata")

  val families: Seq[String] = queries.map(_._2).distinct.sorted

  // ------------------------------------------------------------ fingerprint

  private def canon(v: Any): String = v match {
    case null => "NULL"
    case d: Double => if (d == 0.0) "0.0" else d.toString
    case f: Float => if (f == 0.0f) "0.0" else f.toString
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: scala.math.BigDecimal => canon(b.bigDecimal)
    case a: Array[Byte] => a.map(x => f"$x%02x").mkString("0x", "", "")
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  /** (row count, SHA-256 of the rows) with columns in name order and rows
    * sorted, so the value does not depend on column or row order. */
  def fingerprint(df: DataFrame, rows: Array[Row]): (Long, String) = {
    val order = df.schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    val lines = rows.map(r => order.map(i => canon(r.get(i))).mkString("\u0001")).sorted
    val md = MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes("UTF-8")); md.update('\n'.toByte) }
    (rows.length.toLong, md.digest().map(x => f"$x%02x").mkString)
  }

  // --------------------------------------------------------- plan counting

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case o => o +: (o.children.flatMap(nodes) ++ o.subqueries.flatMap(nodes))
  }

  /** Join-strategy and exchange counts of the final (post-AQE) plan. */
  def planCounts(df: DataFrame): Map[String, Int] = {
    val names = nodes(df.queryExecution.executedPlan).map(_.getClass.getSimpleName)
    def n(s: String) = names.count(_ == s)
    Map("bhj" -> n("BroadcastHashJoinExec"), "smj" -> n("SortMergeJoinExec"),
      "shj" -> n("ShuffledHashJoinExec"), "bnlj" -> n("BroadcastNestedLoopJoinExec"),
      "exchanges" -> (n("ShuffleExchangeExec") + n("BroadcastExchangeExec")))
  }
}

/** One query execution of a pass. */
final case class QueryRun(name: String, family: String, tag: String,
                          startMs: Double, ms: Double, rows: Long, ok: Boolean,
                          planMs: Double, plan: Map[String, Int])

final class PanelWorkload(spark: () => SparkSession, dataDir: String,
                          seconds: Int, probe: Probe, tracer: Option[Tracer],
                          expected: Map[String, (Long, String)]) {

  /** The first timed pass is still warming up (about 8% slower than the
    * next), so every run times at least two: with one pass or two
    * depending on the host's speed, the metrics would jump between two
    * levels. */
  val MinTimedPasses = 2

  /** The timed set-up step: resolve every input table. */
  def warmStart(): Unit = Tables.all.foreach(t => Tables.load(spark(), dataDir, t).schema)

  private def runQuery(pass: String, name: String, family: String,
                       problems: mutable.ArrayBuffer[String]): QueryRun = {
    val s = spark()
    val tag = s"panel:$pass:$name"
    s.sparkContext.setJobGroup(tag, name, interruptOnCancel = false)
    val start = Util.nowEpoch
    val (res, ms) = Util.timed {
      val df = SparkEntry.queries(name)(s, dataDir)
      (df, df.collect())
    }
    s.sparkContext.clearJobGroup()
    val (df, rows) = res
    val fp = Panel.fingerprint(df, rows)
    val ok = expected.get(name).contains(fp)
    if (!ok) problems += s"$name: result $fp, expected ${expected.get(name)}"
    val planMs = df.queryExecution.tracker.phases.values.map(_.durationMs).sum.toDouble
    val plan = Panel.planCounts(df)
    // nothing a query caches may carry over into the next one
    s.catalog.clearCache()
    QueryRun(name, family, tag, start, ms, rows.length.toLong, ok, planMs, plan)
  }

  private def pass(label: String, problems: mutable.ArrayBuffer[String]): Seq[QueryRun] =
    Panel.queries.map { case (n, f) => runQuery(label, n, f, problems) }

  def run(): Outcome = {
    val problems = mutable.ArrayBuffer[String]()
    // untimed warm-up pass: JIT, codegen and the program's per-JVM staging
    val warm = pass("warmup", problems)
    Util.settle()
    val timed = mutable.ArrayBuffer[Seq[QueryRun]]()
    val t0 = System.nanoTime()
    while (timed.size < MinTimedPasses || (System.nanoTime() - t0) < seconds * 1e9)
      timed += pass(s"timed${timed.size}", problems)
    val passMs = timed.map(_.map(_.ms).sum)
    val all = timed.flatten.toSeq
    val attempted = (warm ++ all).size.toLong
    val failed = (warm ++ all).count(!_.ok).toLong
    val resultRows = timed.head.map(_.rows).sum
    val cpuPerPass = probe.sum(t => t.startsWith("panel:timed")).cpuNs / 1e9 / timed.size
    Util.log(f"panel: ${timed.size} timed passes, ${all.size} query latencies, pass s " +
      passMs.map(x => f"${x / 1000}%.2f").mkString(","))
    Util.log("warm-up | first timed pass ms: " + warm.zip(timed.head).map {
      case (w, t) => f"${t.name} ${w.ms}%.0f|${t.ms}%.0f" }.mkString(", "))
    val metrics = tracer match {
      case None => Seq(
        "rows_per_s" -> Metric(resultRows / (Util.median(passMs.toSeq) / 1000.0), "1/s"),
        "latency_p50_ms" -> Metric(Util.quantile(all.map(_.ms), 0.5), "ms"),
        "latency_p99_ms" -> Metric(Util.quantile(all.map(_.ms), 0.99), "ms"),
        "cpu_s" -> Metric(cpuPerPass, "s"))
      case Some(tr) => layers(tr, timed.last, problems)
    }
    Outcome(problems.isEmpty, attempted, failed, metrics, problems.take(20).toList)
  }

  /** Per-layer numbers from the last timed pass, then one more pass with
    * spans on: its extra wall time over the untraced pass is the tracing
    * overhead. */
  private def layers(tr: Tracer, untraced: Seq[QueryRun],
                     problems: mutable.ArrayBuffer[String]): Seq[(String, Metric)] = {
    def totals(q: QueryRun) = probe.tag(q.tag)
    val fam = Panel.families.flatMap { f =>
      val qs = untraced.filter(_.family == f)
      Seq(s"entry.$f.wall_s" -> Metric(qs.map(_.ms).sum / 1000.0, "s"),
        s"entry.$f.cpu_s" -> Metric(qs.map(q => totals(q).cpuNs).sum / 1e9, "s"))
    }
    val tt = new TaskTotals
    untraced.foreach(q => tt.add(totals(q)))
    def plan(k: String) = untraced.map(_.plan(k)).sum.toDouble
    probe.spans = true
    val traced = try pass("traced", problems) finally probe.spans = false
    val jobs = probe.jobSpans
    traced.foreach { q =>
      val id = tr.add("batch_panel", -1, s"query ${q.name}", q.startMs, q.startMs + q.ms,
        Map("rows" -> q.rows.toDouble, "plan_ms" -> q.planMs))
      tr.addAll(jobs.filter(_.trace == q.tag).map(s =>
        s.copy(trace = "batch_panel", parent = if (s.parent == -1) id else s.parent)))
    }
    val untracedS = untraced.map(_.ms).sum / 1000.0
    val tracedS = traced.map(_.ms).sum / 1000.0
    val scans = (0 until 3).map { _ =>
      Util.timed(Tables.all.foreach(t =>
        Tables.load(spark(), dataDir, t).write.format("noop").mode("overwrite").save()))._2
    }
    fam ++ Seq(
      "panel.wall_s" -> Metric(untracedS, "s"),
      "sources.scan_s" -> Metric(Util.median(scans) / 1000.0, "s"),
      "session.plan_ms" -> Metric(untraced.map(_.planMs).sum, "ms"),
      "session.jobs" -> Metric(tt.jobs.toDouble, "count"),
      "session.stages" -> Metric(tt.stages.toDouble, "count"),
      "session.tasks" -> Metric(tt.tasks.toDouble, "count"),
      "session.shuffle_read_bytes" -> Metric(tt.shuffleRead.toDouble, "bytes"),
      "session.shuffle_write_bytes" -> Metric(tt.shuffleWrite.toDouble, "bytes"),
      "session.spill_bytes" -> Metric(tt.spill.toDouble, "bytes"),
      "session.gc_ms" -> Metric(tt.gcMs.toDouble, "ms"),
      "session.peak_exec_mem_bytes" -> Metric(tt.peakExecMem.toDouble, "bytes"),
      "session.bhj" -> Metric(plan("bhj"), "count"),
      "session.smj" -> Metric(plan("smj"), "count"),
      "session.shj" -> Metric(plan("shj"), "count"),
      "session.bnlj" -> Metric(plan("bnlj"), "count"),
      "session.exchanges" -> Metric(plan("exchanges"), "count"),
      "trace.overhead_ratio" -> Metric((tracedS - untracedS) / untracedS, "ratio"))
  }

  /** Writes the panel's fingerprints, one JSON object per line. */
  def fingerprints(): Seq[String] = {
    val s = spark()
    Panel.queries.map { case (n, _) =>
      val df = SparkEntry.queries(n)(s, dataDir)
      val (rows, sha) = Panel.fingerprint(df, df.collect())
      s.catalog.clearCache()
      Util.toJson(Map("query" -> n, "rows" -> rows, "sha256" -> sha))
    }
  }
}
