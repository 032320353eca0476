package graft.streaming

import graft.operators.Enrich
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{Bridge, DecodeJsonPayload}
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, StreamingQuery}
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Row}

/** The reference topology (SURVEY.md §3) as Structured Streaming plans.
  *
  * Reference stages:
  *   expedia topic → Faust enrich (stay_category) → expedia_ext topic →
  *   ksqlDB CTAS group-by (count + count-distinct) → HOTELS_COUNT changelog
  *   (/root/reference/src/main.py:35-95, ci_cd/ksql/create_table.json:2)
  *
  * Spark-native realization: the SAME declarative transforms as the batch
  * path (Enrich.*) applied to an unbounded DataFrame; Catalyst's
  * IncrementalExecution turns the aggregation into stateful operators with
  * update-mode changelog emission — ksqlDB's EMIT CHANGES, per micro-batch.
  *
  * Sources are pluggable: Kafka (`readStream.format("kafka")` +
  * `fromJsonPayload`) in production, file/rate/MemoryStream in tests —
  * the plan downstream of the payload parse is identical, which is the
  * point (SURVEY.md §2.9 T7: fused topology).
  *
  * This object holds the reference topology and its helpers only; the
  * benchmark (`perfbench/`) compiles against it. Operators beyond the
  * reference live in [[StreamingExtensions]].
  */
object StreamingPipeline {

  /** The reference's 21-field expedia schema (SURVEY.md §1.2, FIXTURES.md).
    * id/hotel_id widened to LONG per the KSQL layer's BIGINT declaration. */
  val expediaSchema: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("date_time", StringType),
    StructField("site_name", IntegerType),
    StructField("posa_container", IntegerType),
    StructField("user_location_country", IntegerType),
    StructField("user_location_region", IntegerType),
    StructField("user_location_city", IntegerType),
    StructField("orig_destination_distance", DoubleType),
    StructField("user_id", LongType),
    StructField("is_mobile", IntegerType),
    StructField("is_package", IntegerType),
    StructField("channel", IntegerType),
    StructField("srch_ci", StringType),
    StructField("srch_co", StringType),
    StructField("srch_adults_cnt", IntegerType),
    StructField("srch_children_cnt", IntegerType),
    StructField("srch_rm_cnt", IntegerType),
    StructField("srch_destination_id", IntegerType),
    StructField("srch_destination_type_id", IntegerType),
    StructField("hotel_id", LongType)))

  /** S2/S3 parity — JSON payload column → typed columns, each payload
    * parsed exactly once. Null payloads, and payloads for which `from_json`
    * returns null (empty or whitespace-only strings), are dropped; every
    * other payload becomes one `schema` record, with all fields null if it
    * is malformed. Fields absent from the schema are dropped (KSQL
    * schema-on-read semantics, the reference's
    * ci_cd/ksql/create_stream.json:2).
    *
    * The parse is `DecodeJsonPayload`, which returns what `from_json`
    * returns: flat records are read on a Jackson token fast path (the
    * byte-array parser only for payloads of bytes 0x01-0x7F), and every
    * other payload goes to `from_json`'s own parser, fed as a `String`.
    * Binary payloads (Kafka's `value`) are cast to string and decoded as
    * UTF-8 with replacement, exactly as `from_json` decodes them. The
    * optimizer rule `PruneJsonPayloadFields`
    * then narrows the parse to the fields the query reads: the reference
    * changelog parses `srch_ci`, `srch_co` and `hotel_id` only.
    *
    * The parse sits in a one-element `explode` because Catalyst's
    * PushDownPredicates would otherwise copy it into the null filter
    * below the projection and parse every payload twice; a filter on a
    * generator's output cannot be pushed below the `Generate`. */
  def fromJsonPayload(raw: DataFrame, payloadCol: String = "value",
                      schema: StructType = expediaSchema): DataFrame =
    raw
      .filter(col(payloadCol).isNotNull)
      .select(explode(array(
        Bridge.column(DecodeJsonPayload(
          Bridge.expression(col(payloadCol).cast("string")), schema)))).as("r"))
      .filter(col("r").isNotNull)
      .select("r.*")

  /** Stage 1 parity — the Faust enrichment (D1–D4 + P3):
    * append stay_category from the check-in/check-out strings. */
  def enrich(records: DataFrame): DataFrame =
    Enrich.withStayCategory(records, "srch_ci", "srch_co")

  /** K1 parity — back to a single JSON payload column for a Kafka sink. */
  def toJsonPayload(df: DataFrame): DataFrame =
    df.select(to_json(struct(df.columns.map(col): _*)).as("value"))

  /** Stage 2 parity — the CTAS aggregation over the enriched stream
    * (A1–A3). Keeps ksqlDB's exact COUNT_DISTINCT via a collect_set
    * (bounded real-world cardinality per category); for bounded state at
    * high cardinality use [[hotelsCountBounded]] (SURVEY.md §7.3). */
  def hotelsCount(enriched: DataFrame): DataFrame =
    enriched
      .groupBy(col("stay_category"))
      .agg(
        count(col("hotel_id")).as("hotels_amount"),
        size(collect_set(col("hotel_id"))).cast("long").as("distinct_hotels"))

  /** The 100 TB answer (SURVEY.md §7.3): per-group state is an exact set
    * only while the group is small, an HLL sketch after — so the common
    * small-cardinality groups stay ksqlDB-exact while a pathological
    * group cannot blow up the state store. */
  def hotelsCountBounded(enriched: DataFrame, threshold: Int = 100000): DataFrame =
    enriched
      .groupBy(col("stay_category"))
      .agg(
        count(col("hotel_id")).as("hotels_amount"),
        graft.functions.BoundedDistinct
          .boundedCountDistinct(col("hotel_id"), threshold)
          .as("distinct_hotels"))

  /** Wire a streaming source through enrich → hotels_count and emit the
    * changelog (K2/K3 parity: outputMode("update") ≙ EMIT CHANGES). */
  def changelogWriter(records: DataFrame): DataStreamWriter[Row] =
    hotelsCount(enrich(records))
      .writeStream
      .outputMode(OutputMode.Update())

  /** Run the full pipeline onto an in-memory table (K3 push-query parity:
    * clients read `SELECT * FROM <name>`). */
  def startMemoryChangelog(records: DataFrame, name: String): StreamingQuery =
    changelogWriter(records)
      .format("memory")
      .queryName(name)
      .start()

  /** File-backed materialized changelog: the reference's "queryable KSQL
    * table" (K2/K3) as versioned parquet ANY engine can read. Each batch
    * merges its updates into the previous snapshot (latest row per key by
    * (tsCol, batch-wins) ordering) and writes a complete new snapshot
    * `v=<epoch>`; readers always see a whole version, never a partial
    * write, and a batch RETRY rewrites its own version (reads the max
    * version BELOW the epoch) — exactly-once without a table format.
    * Old snapshots are pruned down to `keepVersions`.
    *
    * Exactly-once across QUERY RESTARTS requires `checkpointLocation`:
    * without it Spark restarts epochIds at 0, the merge-base lookup
    * (`versions < epochId`) finds nothing, and the first post-restart
    * batch silently rebuilds v=0 from one micro-batch. With it, epoch
    * IDs continue monotonically and the merge chain is unbroken. Only
    * omit it for single-run tests. */
  def materializeChangelog(updates: DataFrame, path: String,
                           keyCols: Seq[String], tsCol: String,
                           keepVersions: Int = 2,
                           checkpointLocation: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // keepVersions == 1 would delete the merge BASE right after writing:
    // a retry of the next epoch would then find no pre-epoch snapshot and
    // rebuild the table from its lone micro-batch — permanent key loss
    require(keepVersions >= 2,
      s"keepVersions must be >= 2 (the newest pre-epoch snapshot is the " +
        s"retry merge base); got $keepVersions")
    val writer = updates.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        val spark = batch.sparkSession
        val hPath = new org.apache.hadoop.fs.Path(path)
        val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
        // only COMPLETE snapshots (job-committed, _SUCCESS present) are
        // merge-base candidates — a version left half-written by a crash
        // mid-overwrite must never seed the next merge
        val versions = completeVersions(fs, hPath)
        val cur = versions.filter(_ < epochId).sorted.lastOption
        val withSrc = batch.withColumn("_src", lit(1))
        val all = cur
          .map(v => spark.read.parquet(s"$path/v=$v").withColumn("_src", lit(0))
            .unionByName(withSrc))
          .getOrElse(withSrc)
        val others = all.columns.toSeq
          .filterNot(c => keyCols.contains(c) || c == "_src")
        // ordering: event time, then batch-beats-snapshot, then a stable
        // content hash — two same-key updates with equal tsCol in one
        // batch would otherwise tie at (ts, 1) and a retry could pick the
        // other row, rewriting v=<epoch> with different contents
        val merged = all.groupBy(keyCols.map(col): _*)
          .agg(max_by(struct(others.map(col): _*),
            struct(col(tsCol), col("_src"),
              xxhash64(others.map(col): _*))).as("r"))
          .select(keyCols.map(col) ++
            others.map(c => col(s"r.$c").as(c)): _*)
        merged.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .parquet(s"$path/v=$epochId")
        versions.filter(_ < epochId).sorted.dropRight(keepVersions - 1)
          .foreach(v => fs.delete(
            new org.apache.hadoop.fs.Path(s"$path/v=$v"), true))
        // crashed-partial snapshots (v= dir, no _SUCCESS) below the
        // current epoch can never become merge bases — only that exact
        // epoch's retry would overwrite them, and a lower epoch never
        // retries once this one runs. Without this sweep they accumulate
        // under the table path forever.
        val complete = versions.toSet
        fs.listStatus(hPath).toSeq
          .filter { st =>
            val n = st.getPath.getName
            n.startsWith("v=") && n.length > 2 && n.drop(2).forall(_.isDigit) &&
              n.drop(2).toLong < epochId && !complete(n.drop(2).toLong)
          }
          .foreach(st => fs.delete(st.getPath, true))
        ()
      }
    checkpointLocation.foreach(cp => writer.option("checkpointLocation", cp))
    writer.start()
  }

  /** Versions under `path` whose parquet job commit finished (`_SUCCESS`
    * present). A `v=<epoch>` directory is visible to listStatus the moment
    * the overwrite starts, so readers and merge-base lookups must ignore
    * in-progress or crashed-partial snapshots. */
  private def completeVersions(fs: org.apache.hadoop.fs.FileSystem,
                               hPath: org.apache.hadoop.fs.Path): Seq[Long] =
    if (!fs.exists(hPath)) Seq.empty[Long]
    else fs.listStatus(hPath).toSeq
      .filter(st => st.getPath.getName.startsWith("v=") &&
        fs.exists(new org.apache.hadoop.fs.Path(st.getPath, "_SUCCESS")))
      .map(_.getPath.getName.drop(2).toLong)

  /** Read the newest COMPLETE snapshot written by `materializeChangelog` —
    * only versions whose `_SUCCESS` marker exists are considered, so a
    * concurrent reader never sees the in-progress epoch as "latest". */
  def readMaterialized(spark: org.apache.spark.sql.SparkSession,
                       path: String): DataFrame = {
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val versions = completeVersions(fs, hPath)
    require(versions.nonEmpty, s"no complete snapshot under $path")
    spark.read.parquet(s"$path/v=${versions.max}")
  }
}
