package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver's synthetic parquet tables (TESTDATA.md).
  *
  * Mirrors the reference's file-source stage (SURVEY.md §2.1 S1 — the Azure
  * Blob Avro connector at /root/reference/azure-source-cc.json:4-13): a
  * partitioned columnar scan is the Spark-native equivalent; Catalyst pushes
  * filters and prunes columns into the scan automatically.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def path(dir: String, name: String): String = s"$dir/$name.parquet"

  // ------------------------------------------------ scan fan-out (r15 opt)
  //
  // The driver testdata ships ONE single-row-group parquet file per table
  // (sf0.1: lineitem 10.8 MB / 1 row group), so a scan has exactly one
  // split regardless of maxPartitionBytes — every map-side byte of work
  // (tokenize, shingle, MinHash, decode, enrich) runs on ONE core of
  // local[32]. That is the optimization guide's §2.5 "input skew: one huge
  // unsplittable file — repartition immediately after the read".
  //
  // The fan-out is SCALE-ADAPTIVE, not a local[32] constant: it fires only
  // when the file's NATURAL split count (total bytes / maxPartitionBytes,
  // or the part-file count for a directory table) is below the session's
  // parallelism — at warehouse scale files are ≥128 MB × cores and split
  // naturally, so the exchange provably disappears. Rows redistribute by
  // the table's unique/primary key (deterministic hash — never rand()),
  // chosen as the table's dominant join/grouping key so the exchange is
  // REUSED by downstream joins/aggregations keyed the same way (§2.4)
  // instead of adding a second one.
  //
  // Correctness: every declared query's arithmetic is order-independent
  // (exact-integer/decimal policy, SparkEntry scaladoc) and ends in a
  // deterministic total ORDER BY, so row placement cannot change results —
  // re-verified against the full DuckDB oracle this round.
  //
  // The fan-out is NOT free: it inserts a full shuffle of the table, so it
  // only pays when downstream per-row CPU outweighs the shuffle write plus
  // the extra stage. An interleaved A/B at sf0.1 (Debug `ab` mode — OFF/ON
  // alternating in one JVM, min-of-3, so host-load phases hit both arms)
  // showed a BLANKET fan-out is wrong: most families see no change or a
  // regression (customers_rfm 2.2→3.1 s, dedup_embedding_clusters 1.2→2.3,
  // dedup_substring_spans 5.4→8.8 — their dominant cost is downstream
  // shuffles that are already parallel, and the extra exchange only adds
  // blocks), while a handful of genuinely scan-CPU-bound consumers win
  // big (timeseries_theil_sen 2.7→0.7 s, multimodal decode, cms hashing,
  // orders_basket_lift 2.6→2.0). So the fan-out is OPT-IN per call site
  // via [[loadFanned]], the only route to it; [[load]] never fans.
  //
  // Knobs (session conf, runtime-settable):
  //   spark.graft.scan.fanout          = true|false   (default true —
  //     master toggle for the loadFanned call sites)
  //   spark.graft.scan.fanout.minBytes = long         (default 256 KiB —
  //     below this the per-row CPU a shuffle could parallelize is smaller
  //     than the shuffle's own fixed cost)
  private val fanKeys: Map[String, String] = Map(
    "customer" -> "c_custkey",
    "orders" -> "o_orderkey",
    "lineitem" -> "l_orderkey",
    "events" -> "user_id",
    "documents" -> "doc_id",
    "embeddings" -> "vec_id")

  /** Size + part-file count of a table path, resolved through Hadoop's
    * FileSystem API (ADVICE r15): java.io.File returns length 0 for any
    * non-local scheme (hdfs://, s3a://, abfss://), which would silently
    * no-op the scale gate exactly where it matters. Unreadable/missing
    * paths report (0, 1) — the gate then declines to fan, and the scan
    * itself surfaces the real error. */
  private def totalBytesAndFiles(spark: SparkSession, p: String): (Long, Int) =
    try {
      val hp = new org.apache.hadoop.fs.Path(p)
      val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val st = fs.getFileStatus(hp)
      if (st.isDirectory) {
        val parts = fs.listStatus(hp).filter { x =>
          val n = x.getPath.getName
          x.isFile && !n.startsWith("_") && !n.startsWith(".")
        }
        (parts.map(_.getLen).sum, math.max(1, parts.length))
      } else (st.getLen, 1)
    } catch { case _: java.io.IOException => (0L, 1) }

  /** Fan a freshly-scanned table out to the session's parallelism when its
    * file layout cannot split to it naturally; a no-op at warehouse scale
    * and for tables without a registered key. */
  private def fanOut(spark: SparkSession, df: DataFrame, dir: String,
                     name: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    fanKeys.get(name) match {
      case Some(key)
          if spark.conf.get("spark.graft.scan.fanout", "true").toBoolean =>
        val (bytes, nFiles) = totalBytesAndFiles(spark, path(dir, name))
        val minBytes = spark.conf
          .get("spark.graft.scan.fanout.minBytes", (256 * 1024).toString).toLong
        val maxPart = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
          spark.conf.get("spark.sql.files.maxPartitionBytes",
            (128 * 1024 * 1024).toString))
        val naturalSplits =
          math.max(nFiles.toLong, (bytes + maxPart - 1) / maxPart)
        val cores = spark.sparkContext.defaultParallelism
        if (bytes < minBytes || naturalSplits >= cores) df
        else df.repartition(cores, col(key))
      case _ => df
    }
  }

  /** [[load]] with the scan fan-out for this call site — for CPU-heavy
    * consumers (pair builders, sketch hashing, per-row decode) of tables
    * whose other consumers are shuffle-free broadcast-join/agg plans and
    * therefore must not pay a blanket exchange. A no-op once the file
    * layout splits to the session's parallelism naturally. */
  def loadFanned(spark: SparkSession, dir: String, name: String): DataFrame =
    fanOut(spark, load(spark, dir, name), dir, name)

  /** Canonical-type contract: `events.ts` always surfaces as
    * [[org.apache.spark.sql.types.TimestampType]], whatever physical parquet
    * encoding the generator shipped. Three encodings have been observed so
    * far, and each gets a branch:
    *
    *   - TIMESTAMP(NANOS) read as int64 nanos (under
    *     spark.sql.legacy.parquet.nanosAsLong): integer-divide to micros,
    *     then timestamp_micros — the same truncation DuckDB applies for
    *     TIMESTAMP_NS → TIMESTAMP, keeping both engines value-identical.
    *   - timestamp[us] without isAdjustedToUTC → Spark TIMESTAMP_NTZ: cast
    *     to TimestampType. Value-identical because the session timezone is
    *     pinned to UTC (GraftSession), so wall-clock micros == epoch micros.
    *   - timestamp[us] UTC-adjusted → already TimestampType: passthrough.
    *
    * Anything else would surface as a new type; queries call
    * unix_millis/unix_micros on `ts`, which fail analysis on non-TIMESTAMP
    * input, so a fourth encoding can't silently corrupt results.
    * TimestampContractSpec pins all three branches.
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    val df = spark.read.parquet(path(dir, name))
    if (name != "events") df
    else df.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType) =>
        // integer division — `/` would go through double and lose precision
        // at 1.7e18 ns (above 2^53), shifting timestamps by ±1 µs
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case Some(TimestampNTZType) =>
        df.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }
  }

  /** Register every table as a temp view so spark.sql(...) works too. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    all.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}
