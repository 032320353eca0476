package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery}
import graft.streaming.StreamingPipeline

/** Streaming perf regression GATE, floor-relative (VERDICT r12 #5): the
  * r12 version asserted an ABSOLUTE addBatch p50 ≤ 450 ms against a
  * ~280 ms quiet baseline — too loose (a 150 ms real regression was
  * invisible) and host-sensitive (a slow /tmp would false-trip it,
  * because ~70% of the budget was this container's per-partition
  * state-store fsync).
  *
  * Fix: measure an IN-RUN FLOOR — a control query with the SAME
  * micro-batch machinery (same MemoryStream rows, same 4 state
  * partitions, update-mode agg, memory sink, so the same per-batch
  * fsync/WAL/offset fixed costs) but trivial per-row work — and gate the
  * changelog topology on its DELTA over that floor. Host speed
  * cancels in the difference: on a host 2× slower at fsync, both legs
  * rise together and the delta stays put, while a genuine regression in
  * the enrich/changelog path lands entirely in the delta.
  *
  * The two legs run side by side, one batch each per round, alternating
  * which goes first, and the gate reads the median of the per-round
  * deltas. Legs run one after another do not share the host's phase: a
  * shift between them moves one leg alone (floor legs of 842 ms and
  * 315 ms were seen in one sequential run). Paired batches a few hundred
  * ms apart share it, so a shift moves both sides of each delta, and the
  * median discards the rounds it splits.
  *
  * Measured quiet medians of the paired deltas (local[4], 2k-row
  * batches): addBatch ≈ −26 to +27 ms, commit ≈ ±8 ms. Gates at
  * +100 ms / +60 ms: a 100 ms sleep injected into each scan task of the
  * changelog leg went red at a median addBatch delta of 119 ms, and ~3×
  * host-speed swings in the shared fixed costs cancel instead of
  * tripping.
  */
class StreamingPerfGateSpec extends SparkSpec {
  import spark.implicits._

  private def median(xs: Seq[Long]): Long = xs.sorted.apply(xs.size / 2)

  private def durOf(pr: org.apache.spark.sql.streaming.StreamingQueryProgress,
                    k: String): Long =
    Option(pr.durationMs.get(k)).map(_.toLong).getOrElse(0L)

  private val rounds = 20
  private val warmup = 4 // codegen + state-store warmup rounds

  /** The same 2k-row payload every batch; stays span all four
    * non-error categories. */
  private val rows = (0 until 2000).map { i =>
    val nights = 1 + (i % 20)
    Booking("2020-01-01",
      java.time.LocalDate.of(2020, 1, 1).plusDays(nights).toString,
      (i % 500).toLong)
  }

  /** One memory-sink query over its own MemoryStream. */
  private final class Leg(
      writer: DataFrame => DataStreamWriter[org.apache.spark.sql.Row]) {
    private val input = {
      implicit val sqlCtx = spark.sqlContext
      MemoryStream[Booking]
    }
    val query: StreamingQuery = writer(input.toDF())
      .format("memory")
      .queryName(s"perf_gate_${System.nanoTime()}")
      .start()

    def runBatch(): Unit = {
      input.addData(rows: _*)
      query.processAllAvailable()
    }

    /** (addBatch, walCommit+commitOffsets) per data batch, by batch id. */
    def durations(): Seq[(Long, Long)] = {
      val batches = query.recentProgress.toSeq
        .filter(_.numInputRows > 0).sortBy(_.batchId)
      assert(batches.size == rounds,
        s"expected $rounds batches, got ${batches.size}")
      batches.map(pr => (durOf(pr, "addBatch"),
        durOf(pr, "walCommit") + durOf(pr, "commitOffsets")))
    }
  }

  test("changelog leg: addBatch/commit p50 gated against an in-run floor") {
    val floor = new Leg(df =>
      df.groupBy(pmod(col("hotel_id"), lit(4L)))
        .count()
        .writeStream
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Update()))
    val target = new Leg(df => StreamingPipeline.changelogWriter(df))
    val (floorDur, targetDur) =
      try {
        for (r <- 0 until rounds) {
          val pair = if (r % 2 == 0) Seq(floor, target) else Seq(target, floor)
          pair.foreach(_.runBatch())
        }
        (floor.durations().drop(warmup), target.durations().drop(warmup))
      } finally {
        floor.query.stop()
        target.query.stop()
      }
    val pairs = floorDur.zip(targetDur)
    val addDeltas = pairs.map { case (f, t) => t._1 - f._1 }
    val addDelta = median(addDeltas)
    val commitDelta = median(pairs.map { case (f, t) => t._2 - f._2 })
    info(s"paired addBatch deltas (ms): ${addDeltas.mkString(" ")}")
    info(s"addBatch: median paired delta ${addDelta}ms (target p50 " +
      s"${median(targetDur.map(_._1))}ms, floor p50 " +
      s"${median(floorDur.map(_._1))}ms); commit: median paired delta " +
      s"${commitDelta}ms (target p50 ${median(targetDur.map(_._2))}ms, " +
      s"floor p50 ${median(floorDur.map(_._2))}ms)")
    assert(addDelta <= 100,
      s"addBatch exceeds the paired in-run floor by a median ${addDelta}ms, " +
        "more than 100ms — per-batch work in the changelog path regressed " +
        "(compare Bench streaming_detail); each floor batch shares its " +
        "paired target batch's host phase and state-fsync/WAL costs, so " +
        "host speed is not an excuse")
    assert(commitDelta <= 60,
      s"commit exceeds the paired in-run floor by a median ${commitDelta}ms, " +
        "more than 60ms — offset-log/WAL commit path regressed")
  }
}
