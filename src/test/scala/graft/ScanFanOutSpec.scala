package graft

import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Locks the r15 scan fan-out gate (Tables.loadFanned → fanOut): the
  * driver testdata is one single-row-group parquet file per table, so a
  * scan-CPU-bound query runs its map side on one core; opt-in call sites
  * (SparkEntry.tF) redistribute rows by the table's key — but ONLY when
  * the file layout cannot split to the session's parallelism naturally,
  * so the exchange provably disappears at warehouse scale (files ≥
  * cores × maxPartitionBytes). Plain load() never fans: an interleaved
  * A/B showed a blanket fan-out regresses more queries than it helps
  * (Tables.scala rationale). */
class ScanFanOutSpec extends SparkSpec {

  private def withConf[A](pairs: (String, String)*)(body: => A): A = {
    val prev = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("default load() never fans: auto-fan table list is empty") {
    withConf("spark.graft.scan.fanout.minBytes" -> "0") {
      val plan = Tables.load(spark, sfDir, "lineitem")
        .queryExecution.executedPlan.toString
      assert(!plan.contains("hashpartitioning(l_orderkey"), plan)
    }
  }

  test("loadFanned fires for a small single-split file and spreads to all cores") {
    withConf("spark.graft.scan.fanout.minBytes" -> "0") {
      val df = Tables.loadFanned(spark, sfDir, "lineitem")
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("hashpartitioning(l_orderkey"), plan)
      assert(df.rdd.getNumPartitions == spark.sparkContext.defaultParallelism)
    }
  }

  test("loadFanned is a no-op at warehouse scale (natural splits >= cores)") {
    // simulate scale: shrink maxPartitionBytes until the file splits to
    // >= cores pieces on its own — the gate must then leave the scan alone
    withConf("spark.graft.scan.fanout.minBytes" -> "0",
             "spark.sql.files.maxPartitionBytes" -> "1024") {
      val plan = Tables.loadFanned(spark, sfDir, "lineitem")
        .queryExecution.executedPlan.toString
      assert(!plan.contains("hashpartitioning(l_orderkey"), plan)
    }
  }

  test("loadFanned is a no-op below the min-bytes floor and under the master toggle") {
    // sf0.001 files are all < 256 KiB, so the default floor keeps every
    // test-suite plan identical to the pre-r15 shape
    val plan = Tables.loadFanned(spark, sfDir, "lineitem")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("hashpartitioning(l_orderkey"), plan)
    withConf("spark.graft.scan.fanout" -> "false",
             "spark.graft.scan.fanout.minBytes" -> "0") {
      val p2 = Tables.loadFanned(spark, sfDir, "lineitem")
        .queryExecution.executedPlan.toString
      assert(!p2.contains("hashpartitioning(l_orderkey"), p2)
    }
  }

  test("fan-out never changes results (order-independent queries)") {
    val base = withConf("spark.graft.scan.fanout" -> "false") {
      SparkEntry.queries("orders_basket_lift")(spark, sfDir)
        .collect().map(_.toString).toSeq
    }
    val fanned = withConf("spark.graft.scan.fanout.minBytes" -> "0") {
      SparkEntry.queries("orders_basket_lift")(spark, sfDir)
        .collect().map(_.toString).toSeq
    }
    assert(base == fanned)
  }

  test("filters still push to the parquet scan through the fan-out exchange") {
    withConf("spark.graft.scan.fanout.minBytes" -> "0") {
      val df = Tables.loadFanned(spark, sfDir, "lineitem")
        .filter(col("l_shipdate") > lit("1995-01-01"))
        .select("l_orderkey", "l_shipdate")
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate)"), plan)
    }
  }
}
