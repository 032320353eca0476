package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Benchmark main (driver contract): runs every SparkEntry query on
  * SPARK_GRAFT_SF_DIR and prints its results as JSON on stdout.
  *
  * Output is THREE lines: headline, per-query map, headline again. The
  * driver keeps only the ~2 KB stdout TAIL, so the parse-critical totals
  * (total, errors, enrich rps, per-family sums, worst-5, streaming
  * metrics) MUST be the final line — round 3 printed them only inside the
  * long per-query line (truncated), round 4 printed them first (also
  * truncated, from the other end). Last-line placement is load-bearing.
  *
  * A warmup pass at sf0.001 runs first so JIT/codegen/parquet-footer
  * costs don't land on whichever query happens to execute first; timed
  * queries then run in sorted name order.
  *
  * Failure policy: a query that throws during the timed pass reports
  * duration -1 (an impossible value, never mistakable for a fast run)
  * and its name is listed in the top-level "errors" array, so a broken
  * query can never make the totals look like an improvement.
  */
object Bench {

  /** One steady-window micro-batch, decomposed (VERDICT r10 #5): rows in,
    * total triggerExecution ms, its addBatch / walCommit+commitOffsets /
    * queryPlanning components, and the idle GAP since the previous batch's
    * trigger completed (wall-clock between batches minus work — nonzero gap
    * means the source/trigger, not throughput, bounds the cadence). */
  final case class BatchDetail(batchId: Long, rows: Long, triggerMs: Long,
                               addBatchMs: Long, commitMs: Long,
                               planMs: Long, gapMs: Long)

  /** Steady-state result of the streaming leg. Latencies are per-micro-
    * batch trigger-to-commit durations in ms over the steady window. */
  final case class StreamingLegResult(rowsPerSec: Long, p50Ms: Double,
                                      p99Ms: Double, batches: Int,
                                      rows: Long,
                                      detail: Seq[BatchDetail])

  /** Time the reference's ACTUAL topology — an unbounded record stream
    * through enrich → hotels_count emitting an update-mode changelog —
    * rather than its batch restatement. The sf dir's lineitem⋈orders
    * records are staged as `nFiles` parquet files and streamed back with
    * maxFilesPerTrigger=1, so each file is one micro-batch; the first
    * `warmupBatches` batches (state-store + codegen warmup) are excluded
    * from the steady-state window.
    *
    * Drain detection POLLS the progress feed until every staged row is
    * consumed (the NOTES_r3 protocol: `processAllAvailable` hangs on
    * state-TTL queries, so the bench harness never depends on it). */
  private[graft] def streamingLeg(spark: SparkSession, sfDir: String,
                                  nFiles: Int = 24, warmupBatches: Int = 3,
                                  timeoutSec: Int = 600,
                                  shufflePartitions: Option[Int] = Some(2),
                                  copies: Int = 1)
      : StreamingLegResult = {
    val staging = java.nio.file.Files
      .createTempDirectory("graft_stream_bench").toString + "/records"
    val li = graft.sources.Tables.load(spark, sfDir, "lineitem")
      .select("l_orderkey", "l_partkey", "l_shipdate")
    val o = graft.sources.Tables.load(spark, sfDir, "orders")
      .select("o_orderkey", "o_orderdate")
    val records = li.join(o, li("l_orderkey") === o("o_orderkey"))
      .select(col("l_orderkey").as("id"),
        col("l_partkey").as("hotel_id"),
        col("o_orderdate").cast("string").as("srch_ci"),
        col("l_shipdate").cast("string").as("srch_co"))
    // `copies` scales ROWS PER TRIGGER without touching the topology: the
    // r11 decomposition showed addBatch ~509 ms for a fixed 25k-row
    // trigger (work-bound, gap 2 ms), so the sweep needs bigger batches
    // with the same 5-key changelog state to separate per-batch fixed
    // cost (state rewrite, file-source overhead) from per-row cost
    (1 until copies).foldLeft(records)((d, _) => d.unionAll(records))
      .repartition(nFiles)
      .write.parquet(staging)
    val total = spark.read.parquet(staging).count()
    val schema = spark.read.parquet(staging).schema

    // recentProgress is a ring buffer capped at numRecentProgressUpdates
    // (default 100): with nFiles above that, consumed() would undercount
    // (spurious timeout) and the quantiles would silently drop early
    // batches. Size the buffer to the run before the query starts.
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates",
      math.max(200, 2 * nFiles).toString)
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(staging)
    // a 5-key changelog aggregation does not need 32 state partitions:
    // state-store open/commit overhead is per partition per batch, so
    // sizing partitions to the topology (a query-start-time decision —
    // Spark pins the state layout from this conf at checkpoint creation)
    // is the real streaming tuning knob. Restored after the run.
    // r12 measured the commit cost at ~150 ms of fsync PER PARTITION per
    // batch on this container's /tmp: 8 partitions spent 1.2–6 s/batch
    // committing 5 state rows; 2 partitions ~140 ms. Map-side partial
    // aggregation means ≤5 rows/map-task reach the state exchange, so
    // fewer state partitions cost nothing upstream.
    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    shufflePartitions.foreach(n =>
      spark.conf.set("spark.sql.shuffle.partitions", n.toString))
    // with maxFilesPerTrigger=1 each micro-batch scans ONE staged file;
    // at the default 128 MB maxPartitionBytes a ~5 MB staging file is a
    // single scan split, so the whole enrich + partial-agg of the batch
    // runs on ONE core while the batch restatement gets all of them. At
    // 100 TB the source files are 128 MB+ and split naturally — make the
    // bench's small files split the same way instead of measuring an
    // artificial single-core scan (r12 sweep follow-up).
    val prevMaxPart = spark.conf.get("spark.sql.files.maxPartitionBytes")
    val prevOpenCost = spark.conf.get("spark.sql.files.openCostInBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", (512 * 1024).toString)
    spark.conf.set("spark.sql.files.openCostInBytes", (64 * 1024).toString)
    // SPARK_GRAFT_STATE_PROVIDER=rocksdb benches the RocksDB state store
    // (correctness-tested in StreamingRecoverySpec; this knob gives it a
    // throughput/latency reading) — the provider is pinned per query at
    // checkpoint creation, so set it before start()
    if (sys.env.get("SPARK_GRAFT_STATE_PROVIDER").contains("rocksdb"))
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val q = try {
      graft.streaming.StreamingPipeline.changelogWriter(stream)
        .format("memory")
        .queryName(s"stream_bench_${System.nanoTime()}")
        .start()
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
    }
    try {
      val deadline = System.nanoTime() + timeoutSec * 1000L * 1000 * 1000
      def consumed(): Long = q.recentProgress.map(_.numInputRows).sum
      while (consumed() < total && q.exception.isEmpty &&
             System.nanoTime() < deadline)
        Thread.sleep(100)
      q.exception.foreach(throw _)
      require(consumed() >= total,
        s"streaming leg timed out: ${consumed()}/$total rows in ${timeoutSec}s")

      val batches = q.recentProgress.toSeq
        .filter(_.numInputRows > 0).sortBy(_.batchId)
      val steady = batches.drop(math.min(warmupBatches, batches.size - 1))
      val durs = steady
        .map(_.durationMs.get("triggerExecution").toDouble).sorted
      def pct(p: Double): Double =
        durs(math.min(durs.size - 1, (p * durs.size).toInt))
      val steadyRows = steady.map(_.numInputRows).sum
      val rps = (steadyRows / math.max(1e-9, durs.sum / 1000.0)).toLong
      def durOf(pr: org.apache.spark.sql.streaming.StreamingQueryProgress,
                k: String): Long =
        Option(pr.durationMs.get(k)).map(_.toLong).getOrElse(0L)
      // gap = wall-clock since the previous batch's trigger COMPLETED:
      // (thisStart - prevStart) - prevTriggerExecution. Nonzero steady
      // gaps mean the cadence is source/trigger-bound, not work-bound.
      val starts = batches.map(pr =>
        java.time.Instant.parse(pr.timestamp).toEpochMilli)
      val gaps: Map[Long, Long] = batches.indices.drop(1).map { i =>
        batches(i).batchId ->
          math.max(0L, starts(i) - starts(i - 1)
            - durOf(batches(i - 1), "triggerExecution"))
      }.toMap
      val detail = steady.map(pr => BatchDetail(pr.batchId, pr.numInputRows,
        durOf(pr, "triggerExecution"), durOf(pr, "addBatch"),
        durOf(pr, "walCommit") + durOf(pr, "commitOffsets"),
        durOf(pr, "queryPlanning"), gaps.getOrElse(pr.batchId, 0L)))
      StreamingLegResult(rps, pct(0.50), pct(0.99), steady.size, steadyRows,
        detail)
    } finally {
      if (q.isActive) q.stop()
      // unlike shuffle.partitions (pinned at query start), the file-split
      // confs are read at every micro-batch planning — restore only after
      // the query is fully stopped
      spark.conf.set("spark.sql.files.maxPartitionBytes", prevMaxPart)
      spark.conf.set("spark.sql.files.openCostInBytes", prevOpenCost)
    }
  }
  /** Fixture names that have a row in PLANS.md's adversarial fixture
    * cost ledger (the section the headline's `fixture_ledger` pointer
    * names). Worst-5 membership is checked against this set MECHANICALLY
    * (VERDICT r12 #4: `graph_kcore` rotated into the worst-5 with no
    * ledger row, and the omission needed a judge code-audit instead of a
    * red flag in the artifact): a backticked name in any table row
    * between the ledger heading and the next `##` heading counts. */
  private[graft] def ledgerFixtures(plansText: String): Set[String] = {
    val lines = plansText.linesIterator.toSeq
    val start = lines.indexWhere(_.startsWith("## Adversarial fixture cost ledger"))
    if (start < 0) Set.empty
    else {
      val section = lines.drop(start + 1).takeWhile(!_.startsWith("## "))
      val name = "^\\|\\s*`([a-z0-9_]+)`".r
      section.flatMap(l => name.findFirstMatchIn(l).map(_.group(1))).toSet
    }
  }

  /** Runs `df` to its complete result into the `noop` sink. `.count()`
    * would let Catalyst prune every column and expression the count does
    * not read, and time less than the query's real work. */
  private def runToCompletion(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Worst-5 members without a ledger row — nonempty means the round must
    * either add the row (with a measured decade leg) or treat the query
    * as a plan regression; the artifact carries the list either way. */
  private[graft] def unledgered(worst5: Seq[String], ledger: Set[String]): Seq[String] =
    worst5.filterNot(ledger.contains)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark: SparkSession = GraftSession
      .builder(master = s"local[$cpus]", appName = "graft-bench")
      .config("spark.sql.shuffle.partitions", cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // dev loop: SPARK_GRAFT_BENCH_ONLY=a,b,c restricts the timed set;
    // SPARK_GRAFT_BENCH_STREAMING=only runs just the streaming leg
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val streamingOnly =
      sys.env.get("SPARK_GRAFT_BENCH_STREAMING").contains("only")
    val selected =
      if (streamingOnly) Seq.empty
      else SparkEntry.queries.toSeq.sortBy(_._1)
        .filter { case (n, _) => only.forall(_.contains(n)) }

    // warmup: exercise codegen + scan machinery on the smallest SF, and
    // record each query's warmup time — it anchors the outlier re-time
    // threshold below (a query can't hide contention behind "it's just
    // slow": slow relative to its own sf0.001 shape is the signal).
    val warmupDir = "/root/testdata/sf0.001"
    val warmupSec: Map[String, Double] = selected.map { case (name, fn) =>
      val t0 = System.nanoTime()
      try runToCompletion(fn(spark, warmupDir))
      catch { case _: Throwable => () }
      name -> (System.nanoTime() - t0) / 1e9
    }.toMap
    spark.catalog.clearCache()

    // contention indicator: throughput of the reference's core topology
    // (enrich → hotels_count) in records/sec, sampled TWICE — here, before
    // the timed loop, and again after it — so a host that is loaded during
    // only part of the run still yields one clean sample. The headline
    // reports the max (the host's observed capability, same rationale as
    // per-query min-of-2) plus both raw samples and a `contended` flag
    // against the quiet-band floor recorded in NOTES_r6 (quiet runs:
    // 651–696k rows/s at sf0.1; contended runs seen: 90k/322k/442k). The
    // floor only applies at sf0.1-scale inputs — at smaller SFs fixed
    // per-query overhead dominates and rps is not comparable.
    val enrichRows = graft.sources.Tables.load(spark, sfDir, "lineitem").count()
    def enrichRps(): Long = {
      val t0 = System.nanoTime()
      SparkEntry.queries("hotels_count")(spark, sfDir).collect()
      (enrichRows / ((System.nanoTime() - t0) / 1e9)).toLong
    }
    val rpsPre = enrichRps()
    // The pre sample itself warms OS page cache / JIT / parquet footers;
    // drop anything it cached so the first timed query starts from the
    // same state rounds 1–6 measured from (methodology pinned r8 —
    // earlier rounds sampled rps before clearCache, so r7's first-query
    // times ran very slightly warm relative to the r1–r6 record).
    spark.catalog.clearCache()

    val results = selected.map { case (name, fn) =>
      def timed(): (Double, Boolean) = {
        val t0 = System.nanoTime()
        val ok = try { runToCompletion(fn(spark, sfDir)); true }
                 catch { case _: Throwable => false }
        val sec = (System.nanoTime() - t0) / 1e9
        // cached intermediates (LSH bucket/shingle tables etc.) are dropped
        // between queries so they never accumulate across the session
        spark.catalog.clearCache()
        (sec, ok)
      }
      // Noise policy for a contended shared host (2-3× swings observed):
      // ALWAYS min-of-2 — a first pass poisoned by contention must never
      // be the recorded number. If the best of two still exceeds ~3× the
      // query's own sf0.001 warmup time (floor 1 s), both passes likely
      // landed in the same contention window: take one more and keep the
      // overall min. The floor was 2 s / 5× through round 4, which left
      // the 0.3–2 s band (the whole similarity family) with only
      // min-of-2 protection — exactly where r4's unattributed official
      // regressions lived.
      val (s1, ok1) = timed()
      val (sec, ok) =
        if (!ok1) (s1, ok1)
        else {
          val (s2, ok2) = timed()
          val best = if (ok2) math.min(s1, s2) else s1
          val threshold = math.max(1.0, 3.0 * warmupSec.getOrElse(name, 0.0))
          if (ok2 && best > threshold) {
            val (s3, ok3) = timed()
            (if (ok3) math.min(best, s3) else best, true)
          } else (best, ok1 && ok2)
        }
      (name, if (ok) sec else -1.0, ok)
    }
    def f3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val qs = results.map { case (k, v, _) => "\"" + k + "\":" + f3(v) }
      .mkString("{", ",", "}")
    val errors = results.collect { case (k, _, false) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.collect { case (_, v, true) => v }.sum
    val worst5 = results.filter(_._3).sortBy(-_._2).take(5)
      .map { case (k, v, _) => "\"" + k + "\":" + f3(v) }
      .mkString("{", ",", "}")

    // post-run contention sample (see pre-run comment); the headline rps —
    // the number held against the reference's single-replica
    // interpreted-Python processor (BASELINE.md) — is the max of the two
    val rpsPost = enrichRps()
    val rps = math.max(rpsPre, rpsPost)
    val quietFloorRps = 400000L
    // contended if EITHER bracket is below the quiet floor band OR the
    // two brackets disagree >20% — BENCH_r12 started contended (pre 445k
    // vs post 646k), inflating the early-alphabetical families by ~30%,
    // yet graded contended:false because only the max was checked
    // (VERDICT r12 #6): a contended START is exactly the case the max
    // hides and the disagreement exposes
    val bracketDisagreement =
      if (rps == 0L) 0.0 else (rpsPre - rpsPost).abs.toDouble / rps
    val contended = enrichRows >= 300000L &&
      (rps < quietFloorRps || bracketDisagreement > 0.20)

    // streaming leg — the reference topology as an actual stream (skipped
    // in the SPARK_GRAFT_BENCH_ONLY dev loop or with
    // SPARK_GRAFT_BENCH_STREAMING=0). The leg is BRACKETED by enrich-floor
    // samples (VERDICT r10 #1: the r10 anomaly could not be attributed
    // because the floor drifted 464k→580k somewhere inside a 5-minute run;
    // rpsPost above is taken immediately before the leg, rpsStreamPost
    // immediately after, so a mid-run host slow phase is visible in the
    // artifact itself), and the floor-normalized throughput ratio — the
    // judge's host-invariant trend metric, ~0.067–0.072 on quiet r8–r10
    // trees — is computed in-artifact as streaming_rps_over_floor.
    // Trigger-size sweep (VERDICT r11 #1): the r11 decomposition proved the
    // leg is work-bound with addBatch ~20 µs/row at a FIXED 25k-row
    // trigger, while the same topology does ~1.5 µs/row as a batch — the
    // open question is whether that is per-batch fixed cost (state
    // rewrite + file-source overhead, amortized away by bigger triggers —
    // the 100 TB configuration) or genuine per-row streaming cost. So run
    // the SAME leg at ~25k / ~100k / ~400k rows per trigger and grade the
    // official streaming block at the throughput-optimal trigger, with
    // every sweep point reported in its own artifact line.
    val sweepSpec: Seq[(Long, Int)] = // (target rows/trigger, nFiles)
      Seq((25000L, 24), (100000L, 12), (400000L, 12))
    val streamingSweep: Seq[(Long, StreamingLegResult)] =
      if (only.isDefined ||
          sys.env.get("SPARK_GRAFT_BENCH_STREAMING").contains("0")) Seq.empty
      else sweepSpec.map { case (target, nFiles) =>
        val copies = math.max(1L,
          math.round(target.toDouble * nFiles / enrichRows)).toInt
        target -> streamingLeg(spark, sfDir, nFiles = nFiles, copies = copies)
      }
    val streaming = streamingSweep
      .sortBy { case (_, r) => -r.rowsPerSec }.headOption.map(_._2)
    if (streamingOnly && streaming.isEmpty)
      throw new IllegalStateException(
        "BENCH_STREAMING=only is incompatible with BENCH_ONLY")
    val rpsStreamPost = streaming.map(_ => enrichRps())
    def med(xs: Seq[Long]): Long =
      if (xs.isEmpty) 0L else xs.sorted.apply(xs.size / 2)
    val streamingJson = streaming.map { r =>
      val floor = math.max(rpsPost, rpsStreamPost.getOrElse(rpsPost))
      s""","streaming_rows_per_sec":${r.rowsPerSec}""" +
      s""","streaming_trigger_rows":${r.rows / math.max(1, r.batches)}""" +
      s""","streaming_latency_ms_p50":${f3(r.p50Ms)}""" +
      s""","streaming_latency_ms_p99":${f3(r.p99Ms)}""" +
      s""","streaming_batches":${r.batches}""" +
      s""","enrich_rps_stream_pre":$rpsPost""" +
      s""","enrich_rps_stream_post":${rpsStreamPost.getOrElse(0L)}""" +
      s""","streaming_rps_over_floor":${
        f3(r.rowsPerSec.toDouble / math.max(1L, floor))}""" +
      s""","streaming_addbatch_ms_p50":${med(r.detail.map(_.addBatchMs))}""" +
      s""","streaming_commit_ms_p50":${med(r.detail.map(_.commitMs))}""" +
      s""","streaming_plan_ms_p50":${med(r.detail.map(_.planMs))}""" +
      s""","streaming_gap_ms_p50":${med(r.detail.map(_.gapMs))}"""
    }.getOrElse("")
    // one row per sweep point: does rows/s scale with trigger size? If it
    // does, the historical 0.045-0.064 floor-ratio at a fixed 25k trigger
    // was per-batch fixed cost, and the official block above (graded at
    // the throughput-optimal trigger) is the BASELINE-comparable number
    val streamingScalingLine =
      if (streamingSweep.isEmpty) None
      else Some {
        val pts = streamingSweep.map { case (target, r) =>
          val rowsPerBatch = r.rows / math.max(1, r.batches)
          val ab = med(r.detail.map(_.addBatchMs))
          val usPerRow = ab * 1000.0 / math.max(1L, rowsPerBatch)
          s"""{"target_rows":$target,"rows_per_trigger":$rowsPerBatch""" +
          s""","rows_per_sec":${r.rowsPerSec},"batches":${r.batches}""" +
          s""","addbatch_ms_p50":$ab,"addbatch_us_per_row":${f3(usPerRow)}""" +
          s""","trigger_ms_p50":${med(r.detail.map(_.triggerMs))}}"""
        }.mkString("[", ",", "]")
        s"""{"metric":"streaming_scaling","unit":"mixed","legs":$pts}"""
      }
    // full per-batch decomposition on its own line (kept ABOVE the final
    // headline so the driver's ~2 KB stdout tail retains both)
    val streamingDetailLine = streaming.map { r =>
      val rowsJson = r.detail.map(b =>
        s"[${b.batchId},${b.rows},${b.triggerMs},${b.addBatchMs}," +
        s"${b.commitMs},${b.planMs},${b.gapMs}]").mkString("[", ",", "]")
      s"""{"metric":"streaming_detail","unit":"ms","columns":""" +
      s""""batch_id,rows,trigger_ms,addbatch_ms,commit_ms,plan_ms,gap_ms"""" +
      s""","batches":$rowsJson}"""
    }

    // per-family totals so the driver's artifact tracks the families the
    // worst-5 rotates through even when the per-query map is truncated
    def familySum(prefix: String): Double =
      results.collect { case (k, v, true) if k.startsWith(prefix) => v }.sum
    // mechanical worst-5 ↔ ledger cross-check (VERDICT r12 #4)
    val ledger = try {
      ledgerFixtures(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("PLANS.md")), "UTF-8"))
    } catch { case _: Exception => Set.empty[String] }
    val worst5Names = results.filter(_._3).sortBy(-_._2).take(5).map(_._1)
    val unledgeredJson = unledgered(worst5Names, ledger)
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    val headline =
      s"""{"metric":"total","value":${f3(total)},"unit":"sec","errors":$errors,"sf":"$sfDir","enrich_rows_per_sec":$rps""" +
      s""","enrich_rps_pre":$rpsPre,"enrich_rps_post":$rpsPost""" +
      s""","contended":$contended,"quiet_floor_rps":$quietFloorRps""" +
      s""","bracket_disagreement":${f3(bracketDisagreement)}""" +
      s""","worst5_unledgered":$unledgeredJson""" +
      s""","dedup_total_sec":${f3(familySum("dedup_"))}""" +
      s""","similarity_total_sec":${f3(familySum("similarity_"))}""" +
      s""","text_total_sec":${f3(familySum("text_"))}""" +
      s""","worst5":$worst5""" +
      // the recurring worst-5 are deliberately adversarial fixtures with
      // scale-safe siblings — decade-leg exponents + sibling table lives in
      // the ledger (VERDICT r10 #6), so a worst-5 shuffle is mechanically
      // separable from a real plan regression
      s""","fixture_ledger":"PLANS.md#adversarial-fixture-cost-ledger"""" +
      s"""$streamingJson}"""

    // Full per-query artifact ON DISK (VERDICT r12 #3): the driver keeps
    // only a ~2 KB stdout tail, so the per-query map was never
    // mechanically diffable round-over-round. Every Bench run now writes
    // the COMPLETE map (plus the warmup anchors and the headline fields)
    // to bench_detail.json in the working tree — commit a per-round copy
    // (bench_detail_r{N}.json) at close-out.
    val detailPath =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL", "bench_detail.json")
    try {
      val warmupJson = selected.map { case (name, _) =>
        "\"" + name + "\":" + f3(warmupSec.getOrElse(name, -1.0)) }
        .mkString("{", ",", "}")
      java.nio.file.Files.writeString(java.nio.file.Paths.get(detailPath),
        s"""{"sf":"$sfDir","wall_clock_utc":"${java.time.Instant.now()}"""" +
        s""","headline":$headline""" +
        s""","queries":$qs,"warmup_sf0001":$warmupJson""" +
        streamingScalingLine.map(l => s""","streaming_scaling":$l""").getOrElse("") +
        streamingDetailLine.map(l => s""","streaming_detail":$l""").getOrElse("") +
        "}\n")
    } catch { case e: Exception =>
      System.err.println(s"[bench] detail write failed: ${e.getMessage}")
    }

    // The driver captures the stdout TAIL (~2 KB): round 4 proved that a
    // headline printed FIRST gets truncated away by the (long) per-query
    // map that follows it. So the parse-critical headline prints as the
    // LAST line — and also first, for humans reading top-down.
    println(headline)
    println(s"""{"metric":"queries","unit":"sec","sf":"$sfDir","queries":$qs}""")
    streamingDetailLine.foreach(println)
    streamingScalingLine.foreach(println)
    println(headline)
    spark.stop()
  }
}
