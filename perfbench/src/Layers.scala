package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.streaming.StreamingPipeline

/** Per-layer costs of the reference pipeline, measured from outside
  * through its public functions, and their reconciliation with the
  * end-to-end cost of a micro-batch.
  *
  * The layers are cumulative prefixes of the pipeline run as batch jobs,
  * each written to the `noop` sink so every column it keeps is
  * materialised:
  *
  *   source         text scan
  *   decode         + fromJsonPayload, keeping the fields enrich and
  *                    hotels_count read
  *   stay_category  + enrich
  *   hotels_count   + the hotels_count aggregate
  *   sink           + toJsonPayload
  *
  * Each prefix runs over a trigger-sized payload file and over a tiny
  * file; the difference is its per-row cost, free of the job's own fixed
  * cost (planning, file listing, task launch), which the micro-batch fixed
  * cost already counts. A layer's µs/row is its prefix's per-row cost
  * minus the previous prefix's, so the layers sum to the whole pipeline.
  *
  * The host's speed drifts by tens of percent over seconds, so every
  * round measures all three sides back to back: one trigger-sized
  * micro-batch of the changelog query (end to end), one tiny micro-batch
  * of a second changelog query over the same state size (the fixed cost
  * per trigger), and every prefix on both files. Each side reports its
  * median over the rounds. A residual beyond ±15% fails the traced run's
  * checks. */
object Layers {
  val Rounds = 5
  val TinyRows = 50
  /** The layers must account for the end-to-end cost to within this share. */
  val MaxResidual = 0.15

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def prefixes(spark: SparkSession, file: Path): Seq[(String, DataFrame)] = {
    val raw = spark.read.text(file.toString)
    val decoded = StreamingPipeline.fromJsonPayload(raw)
    val counts = StreamingPipeline.hotelsCount(StreamingPipeline.enrich(decoded))
    Seq(
      "source" -> raw,
      "decode" -> decoded.select("srch_ci", "srch_co", "hotel_id"),
      "stay_category" -> StreamingPipeline.enrich(decoded)
        .select("stay_category", "hotel_id"),
      "hotels_count" -> counts,
      "sink" -> StreamingPipeline.toJsonPayload(counts))
  }

  /** Makes `src` appear in `dir` at once (a hard link), so a stream on
    * `dir` reads it as one new file, and waits for that micro-batch. */
  private def step(run: ChangelogRun, dir: Path, src: Path): Unit = {
    val n = run.triggers.size
    Files.createLink(dir.resolve(src.getFileName), src)
    run.await(run.triggers.size > n, 120000)
  }

  /** `big` holds Rounds + 1 trigger-sized files of `bigRows` rows; the
    * first is the prefixes' input and `truth` its ground truth. */
  def reconcile(spark: SparkSession, big: IndexedSeq[Path], bigRows: Int,
                truth: FileTruth, seed: Long, dir: String => Path,
                tr: Tracer): (Seq[(String, Metric)], Seq[String]) = {
    // the tiny files draw from the same hotel-id pool as the big ones
    val gen = new PayloadGen(seed, 2486)
    val tinyDir = dir("tiny")
    val tiny = (0 until Rounds + 2).map { i =>
      val p = tinyDir.resolve(f"tiny-$i%06d.txt")
      gen.writeFile(p, 1000 + i, i.toLong * TinyRows, TinyRows)
      p
    }
    val e2eDir = dir("e2e")
    val fixedDir = dir("fixed")
    val e2e = new ChangelogRun(spark, e2eDir, dir("e2e-ckpt"), None)
    val fixed = new ChangelogRun(spark, fixedDir, dir("fixed-ckpt"), None)
    val runs = Seq("big" -> prefixes(spark, big.head), "tiny" -> prefixes(spark, tiny.head))
    val times = scala.collection.mutable.Map[(String, String), List[Double]]()
    val spans = scala.collection.mutable.ArrayBuffer[(String, Double, Double)]()
    val t0 = Util.nowEpoch
    try {
      // warm-up: one micro-batch of each query and one run of each chain;
      // the fixed-cost query first reads a big file, so the state it
      // commits on every tiny trigger is as large as the e2e query's
      step(e2e, e2eDir, big.head)
      step(fixed, fixedDir, big.head)
      step(fixed, fixedDir, tiny(1))
      runs.foreach { case (_, ps) => noop(ps.last._2) }
      (1 to Rounds).foreach { r =>
        step(e2e, e2eDir, big(r))
        step(fixed, fixedDir, tiny(r + 1))
        for ((size, ps) <- runs; (name, df) <- ps) {
          val s = Util.nowEpoch
          val (_, ms) = Util.timed(noop(df))
          times((size, name)) = ms :: times.getOrElse((size, name), Nil)
          spans += ((s"prefix $name ($size file)", s, s + ms))
        }
      }
    } finally { e2e.stop(); fixed.stop() }
    val root = tr.add("layers", -1, "reconciliation rounds", t0, Util.nowEpoch)
    spans.foreach { case (n, s, e) => tr.add("layers", root, n, s, e) }
    val names = runs.head._2.map(_._1)
    val perRowUs = names.map { n =>
      n -> (Util.median(times(("big", n))) - Util.median(times(("tiny", n)))) *
        1000.0 / (bigRows - TinyRows)
    }
    val layerUs = perRowUs.zip(("none" -> 0.0) +: perRowUs).map {
      case ((n, v), (_, prev)) => n -> (v - prev)
    }
    val e2eUs = Util.median(e2e.triggers.drop(1).map(_.triggerMs.toDouble)) * 1000.0 / bigRows
    val fixedMs = Util.median(fixed.triggers.drop(2).map(_.triggerMs.toDouble))
    val model = perRowUs.last._2 + fixedMs * 1000.0 / bigRows
    val residual = (e2eUs - model) / e2eUs
    Util.log("prefix us/row: " + perRowUs.map { case (n, v) => f"$n=$v%.2f" }.mkString(" "))
    Util.log(f"reconcile: e2e $e2eUs%.3f us/row, layers $model%.3f us/row " +
      f"(fixed $fixedMs%.0f ms per trigger), residual ${residual * 100}%.1f%%")
    val kept = StreamingPipeline.fromJsonPayload(spark.read.text(big.head.toString)).count()
    val problems =
      (if (bigRows - kept == truth.nullPayloads) Nil
       else Seq(s"decode dropped ${bigRows - kept} payloads, the generator wrote " +
         s"${truth.nullPayloads} null payloads")) ++
      (if (math.abs(residual) <= MaxResidual) Nil
       else Seq(f"layer reconciliation residual ${residual * 100}%.1f%% is beyond " +
         f"±${MaxResidual * 100}%.0f%%"))
    val metricName = Map("source" -> "streaming.scan", "decode" -> "streaming.decode",
      "stay_category" -> "functions.stay_category",
      "hotels_count" -> "streaming.hotels_count", "sink" -> "streaming.sink")
    (layerUs.map { case (n, v) => s"${metricName(n)}.us_per_row" -> Metric(v, "us") } ++ Seq(
      "streaming.decode.kept_ratio" -> Metric(kept.toDouble / bigRows, "ratio"),
      "streaming.e2e.us_per_row" -> Metric(e2eUs, "us"),
      "streaming.fixed.ms_per_trigger" -> Metric(fixedMs, "ms"),
      "streaming.reconcile.abs_residual" -> Metric(math.abs(residual), "ratio")),
      problems)
  }

  /** Harness floor: a control stream with the same text source and the
    * same one-file triggers, into the `noop` sink. µs per row of its
    * second and third triggers. */
  def sourceFloor(spark: SparkSession, dir: Path, ckpt: Path): Double = {
    val q = spark.readStream.option("maxFilesPerTrigger", 1L).text(dir.toString)
      .writeStream.format("noop").option("checkpointLocation", ckpt.toString).start()
    def done = q.recentProgress.count(_.numInputRows > 0)
    try {
      val deadline = System.currentTimeMillis() + 120000
      while (done < 3 && q.exception.isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(10)
      q.exception.foreach(e => throw e)
    } finally { q.stop(); q.awaitTermination(60000) }
    val ts = q.recentProgress.filter(_.numInputRows > 0).sortBy(_.batchId).slice(1, 3)
    require(ts.nonEmpty, "control stream made no progress")
    ts.map(_.durationMs.get("triggerExecution").doubleValue).sum * 1000.0 /
      ts.map(_.numInputRows).sum
  }

  /** Rows/s of the changelog query on a `local[1]` session, over the same
    * trigger-sized files (second trigger; the first warms the session). */
  def singleThreadDrain(dir: Path, ckpt: Path): Double = {
    val spark = Main.session("local[1]")
    val run = new ChangelogRun(spark, dir, ckpt, Some(1))
    try run.await(run.triggers.size >= 2, 120000) finally run.stop()
    val t = run.triggers(1)
    t.rows / (t.triggerMs / 1000.0)
  }
}
