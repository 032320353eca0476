package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Batch benchmark main: times every SparkEntry query on
  * SPARK_GRAFT_SF_DIR and prints its results as JSON on stdout. The
  * reference changelog stream is measured by perfbench (`stream_backlog`,
  * per-batch breakdown under `--trace 1`), not here.
  *
  * Output is THREE lines: headline, per-query map, headline again. The
  * driver keeps only the ~2 KB stdout TAIL, so the parse-critical totals
  * (total, errors, enrich rps, per-family sums, worst-5) MUST be the
  * final line — round 3 printed them only inside the
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

  /** Runs `df` to its complete result into the `noop` sink — the one way
    * every main times a query. `.count()` would let Catalyst prune every
    * column and expression the count does not read, and time less than
    * the query's real work. */
  private[graft] def runToCompletion(df: DataFrame): Unit =
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

    // dev loop: SPARK_GRAFT_BENCH_ONLY=a,b,c restricts the timed set
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
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
      runToCompletion(SparkEntry.queries("hotels_count")(spark, sfDir))
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
      s""","fixture_ledger":"PLANS.md#adversarial-fixture-cost-ledger"}"""

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
        s""","queries":$qs,"warmup_sf0001":$warmupJson}""" + "\n")
    } catch { case e: Exception =>
      System.err.println(s"[bench] detail write failed: ${e.getMessage}")
    }

    // The driver captures the stdout TAIL (~2 KB): round 4 proved that a
    // headline printed FIRST gets truncated away by the (long) per-query
    // map that follows it. So the parse-critical headline prints as the
    // LAST line — and also first, for humans reading top-down.
    println(headline)
    println(s"""{"metric":"queries","unit":"sec","sf":"$sfDir","queries":$qs}""")
    println(headline)
    spark.stop()
  }
}
