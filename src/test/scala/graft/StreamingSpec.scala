package graft

import graft.streaming.StreamingPipeline
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Top-level so the Dataset encoder can codegen-instantiate it. */
case class Booking(srch_ci: String, srch_co: String, hotel_id: Long)

/** Quantized embedding row for the streaming Gram maintenance test. */
case class VecRow(vec_id: Long, q: Array[Long])

/** Streaming parity (SURVEY.md §2.9): the enrich → hotels_count topology
  * run as Structured Streaming with update-mode changelog emission, fed by
  * MemoryStream; asserts the BASELINE.md semantic fixtures (category
  * domain, per-key monotone counts, exact distinct). */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("enrich → hotels_count changelog over two micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Booking]
    val query = StreamingPipeline.startMemoryChangelog(
      input.toDF(), "hotels_count_test")
    try {
      input.addData(
        Booking("2020-01-01", "2020-01-03", 100L), // Short
        Booking("2020-01-01", "2020-01-08", 300L), // Standard
        Booking("bad-date", "2020-01-08", 400L))   // Erroneous
      query.processAllAvailable()
      val snap1 = spark.table("hotels_count_test")
        .groupBy("stay_category")
        .agg(max("hotels_amount").as("hotels_amount"),
          max("distinct_hotels").as("distinct_hotels"))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(snap1("Short stay") == (1L, 1L))
      assert(snap1("Standard stay") == (1L, 1L))
      assert(snap1("Erroneous data") == (1L, 1L))

      input.addData(
        Booking("2020-01-01", "2020-01-03", 100L), // Short again, same hotel
        Booking("2020-01-01", "2020-01-03", 200L)) // Short, new hotel
      query.processAllAvailable()
      val snap2 = spark.table("hotels_count_test")
        .groupBy("stay_category")
        .agg(max("hotels_amount").as("hotels_amount"),
          max("distinct_hotels").as("distinct_hotels"))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      // per-key monotone growth; exact distinct plateaus at true cardinality
      assert(snap2("Short stay") == (3L, 2L))
      assert(snap2("Standard stay") == (1L, 1L))
      // category domain invariant (BASELINE.md)
      assert(spark.table("hotels_count_test").select("stay_category")
        .distinct().as[String].collect().toSet
        .subsetOf(graft.functions.StayCategory.domain.toSet))
    } finally query.stop()
  }

  test("json payload roundtrip (Kafka wire parity, S2/S3/K1)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    val parsed = StreamingPipeline.fromJsonPayload(
      input.toDF().withColumnRenamed("value", "value"))
    val enriched = StreamingPipeline.enrich(parsed)
    val q = StreamingPipeline.toJsonPayload(enriched)
      .writeStream.format("memory").queryName("ext_topic").outputMode("append")
      .start()
    try {
      input.addData(
        """{"id":1,"hotel_id":100,"srch_ci":"2020-01-01","srch_co":"2020-01-03","site_name":2}""",
        "not json at all",
        """{"id":2,"hotel_id":200,"srch_ci":"2020-01-01","srch_co":"2020-01-20"}""")
      q.processAllAvailable()
      val out = spark.table("ext_topic").as[String].collect().sorted
      // malformed row: from_json yields a struct of null fields → id null
      assert(out.length == 3)
      val cats = out.map(s =>
        "\"stay_category\":\"([^\"]+)\"".r.findFirstMatchIn(s).map(_.group(1)))
      assert(cats.flatten.toSet == Set("Short stay", "Long stay", "Erroneous data"))
    } finally q.stop()
  }

  test("fromJsonPayload: one parse per payload, same rows as the two-parse form") {
    val payloads: Seq[String] = Seq(null, "", "   ", "\t\n", "null",
      "not json", """{"id":1,"hotel_id":10,"srch_ci":"2020-""",
      """[{"id":2,"hotel_id":20}]""", "[]", "{}",
      """{"id":"three","hotel_id":30}""",
      """{"id":4,"hotel_id":40,"extra":"x"}""")
    // file-backed on purpose: a LocalRelation is folded at optimization
    // time and its plan would show no parse at all
    val dir = java.nio.file.Files.createTempDirectory("graft_decode")
      .resolve("payloads").toString
    payloads.toDF("value").coalesce(1).write.parquet(dir)
    val raw = spark.read.parquet(dir)
    val once = StreamingPipeline.fromJsonPayload(raw)
    // reference: the former form, whose null filter on the parsed struct
    // Catalyst pushes below the projection as a second from_json
    val twice = raw
      .filter(col("value").isNotNull)
      .select(from_json(col("value").cast("string"),
        StreamingPipeline.expediaSchema).as("r"))
      .filter(col("r").isNotNull)
      .select("r.*")
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toSeq.mkString("|")).toSeq.sorted
    assert(once.schema == twice.schema)
    assert(once.columns.length == 20)
    assert(rows(once) == rows(twice))
    assert(rows(once).size <= payloads.size - 4,
      "null, empty and whitespace-only payloads must be dropped")
    def parses(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.optimizedPlan.collect { case p =>
        p.expressions.map(_.collect {
          case j: org.apache.spark.sql.catalyst.expressions.JsonToStructs => j
        }.size).sum
      }.sum
    assert(parses(twice) == 2)
    assert(parses(once) == 1, once.queryExecution.optimizedPlan.toString)
  }

  test("flatMapGroupsWithState: custom per-key state across batches") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.{UserEvent, UserTotalsUpdate}
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val input = MemoryStream[UserEvent]
    val q = StreamingPipeline.runningUserTotals(input.toDS())
      .writeStream.format("memory").queryName("user_totals")
      .outputMode("update").start()
    try {
      input.addData(
        UserEvent(1L, ts("2024-01-01 10:00:00"), 10.0),
        UserEvent(1L, ts("2024-01-01 10:01:00"), 5.0),
        UserEvent(2L, ts("2024-01-01 10:02:00"), 7.0))
      q.processAllAvailable()
      input.addData(UserEvent(1L, ts("2024-01-01 11:00:00"), 1.0))
      q.processAllAvailable()
      val m = spark.table("user_totals").as[UserTotalsUpdate].collect()
        .groupBy(_.user_id).map { case (u, rows) => u -> rows.maxBy(_.n_events) }
      assert(m(1L).n_events == 3L && math.abs(m(1L).total_value - 16.0) < 1e-9)
      assert(m(2L).n_events == 1L && math.abs(m(2L).total_value - 7.0) < 1e-9)
    } finally q.stop()
  }

  test("topKStream: streaming probes against a broadcast index match batch brute force") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Similarity
    val corpusDf = sources.Tables.load(spark, sfDir, "embeddings")
      .select("vec_id", "embedding")
    val corpus = corpusDf.as[(Long, Array[Float])].collect()
    val queryVecs = corpus.filter(_._1 < 3)

    val input = MemoryStream[(Long, Array[Float])]
    val q = Similarity.topKStream(input.toDS(), corpus, k = 5)
      .writeStream.format("memory").queryName("tws_topk").outputMode("append")
      .start()
    try {
      input.addData(queryVecs.toSeq)
      q.processAllAvailable()
      val streamed = spark.table("tws_topk")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      val batch = Similarity.bruteForceTopK(
        corpusDf,
        corpusDf.filter(col("vec_id") < 3)
          .select(col("vec_id").as("query_id"), col("embedding")),
        k = 5)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      assert(streamed === batch)
      assert(streamed.exists { case (qid, rank, vid) => qid == 0L && rank == 1 && vid == 0L })
    } finally q.stop()
  }

  test("topKStreamInt8: byte-packed broadcast probe matches batch int8TopK") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Similarity
    val corpusDf = sources.Tables.load(spark, sfDir, "embeddings")
      .select("vec_id", "embedding")
    val corpus = corpusDf.as[(Long, Array[Float])].collect()
    val queryVecs = corpus.filter(_._1 < 3)

    val input = MemoryStream[(Long, Array[Float])]
    val q = Similarity.topKStreamInt8(input.toDS(), corpus, k = 5)
      .writeStream.format("memory").queryName("tws_topk_i8").outputMode("append")
      .start()
    try {
      input.addData(queryVecs.toSeq)
      q.processAllAvailable()
      val streamed = spark.table("tws_topk_i8")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
      val batch = Similarity.int8TopK(
        corpusDf,
        corpusDf.filter(col("vec_id") < 3)
          .select(col("vec_id").as("query_id"), col("embedding")),
        k = 5)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
      assert(streamed === batch)
    } finally q.stop()
  }

  test("topKStreamPq: code-broadcast streaming ADC matches the batch ADC fold bit-for-bit") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Similarity
    val e = sources.Tables.load(spark, sfDir, "embeddings")
      .select("vec_id", "embedding")
    val books = Similarity.pqCodebooks(e, subspaces = 4, subDim = 16,
      codes = 8, iters = 1)
      .select(col("sub"), col("centroid_id"), col("embedding"))
      .as[(Int, Long, Array[Float])].collect().sortBy(x => (x._1, x._2))
    val booksDf = books.toSeq.toDF("sub", "centroid_id", "embedding")
    val cells = Similarity.pqEncode(e, booksDf, subDim = 16)
    val codes = cells.groupBy("vec_id")
      .agg(array_sort(collect_list(struct(col("sub"), col("code")))).as("sc"))
      .select(col("vec_id"),
        expr("transform(sc, x -> cast(x.code as int))").as("codes"))
      .as[(Long, Array[Int])].collect().sortBy(_._1)
    val queryVecs = e.filter(col("vec_id") < 3).as[(Long, Array[Float])].collect()

    val input = MemoryStream[(Long, Array[Float])]
    val q = Similarity.topKStreamPq(input.toDS(), books, codes, k = 10)
      .writeStream.format("memory").queryName("tws_topk_pq").outputMode("append")
      .start()
    try {
      input.addData(queryVecs.toSeq)
      q.processAllAvailable()
      val streamed = spark.table("tws_topk_pq")
        .orderBy("query_id", "rank")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id").orderBy(col("adc").desc, col("vec_id"))
      val ref = Similarity.pqAdcScores(cells,
        e.filter(col("vec_id") < 3)
          .select(col("vec_id").as("query_id"), col("embedding")),
        booksDf, subDim = 16)
        .withColumn("rank", row_number().over(w)).filter(col("rank") <= 10)
        .select("query_id", "rank", "vec_id", "adc")
        .orderBy("query_id", "rank")
        .as[(Long, Int, Long, Double)].collect().toSeq
      // same double-add order on both paths ⇒ exact equality, scores included
      assert(streamed === ref)
    } finally q.stop()
  }

  test("topKStreamIvf: cell-pruned streaming probe matches the batch IVF path") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Similarity
    val corpusDf = sources.Tables.load(spark, sfDir, "embeddings")
      .select("vec_id", "embedding")
    val centroidsDf = Similarity.kmeansCentroids(corpusDf, k = 4, iters = 2)
    val (cents, cells) = Similarity.collectCells(corpusDf, centroidsDf)
    val queryVecs = corpusDf.as[(Long, Array[Float])].collect().filter(_._1 < 3)

    val input = MemoryStream[(Long, Array[Float])]
    val q = Similarity.topKStreamIvf(input.toDS(), cents, cells, k = 5, nprobe = 2)
      .writeStream.format("memory").queryName("tws_topk_ivf").outputMode("append")
      .start()
    try {
      input.addData(queryVecs.toSeq)
      q.processAllAvailable()
      val streamed = spark.table("tws_topk_ivf")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      val batch = Similarity.ivfTopK(
        corpusDf,
        corpusDf.filter(col("vec_id") < 3)
          .select(col("vec_id").as("query_id"), col("embedding")),
        centroidsDf, k = 5, nprobe = 2)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      assert(streamed === batch)
    } finally q.stop()
  }

  test("topKStreamJoin: distributed cell-join probe matches the collected-index probe") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Similarity
    val corpusDf = sources.Tables.load(spark, sfDir, "embeddings")
      .select("vec_id", "embedding")
    val centroidsDf = Similarity.kmeansCentroids(corpusDf, k = 4, iters = 2)
    val (cents, cells) = Similarity.collectCells(corpusDf, centroidsDf)
    // the distributed probe's corpus side: a static cell-keyed FRAME —
    // never collected to the driver (the broadcast is centroids only)
    val corpusCells = Similarity.assignToCentroids(corpusDf, centroidsDf)
      .select(col("centroid_id"), col("vec_id"), col("embedding"))
    val queryVecs = corpusDf.as[(Long, Array[Float])].collect().filter(_._1 < 3)

    val refInput = MemoryStream[(Long, Array[Float])]
    val refQ = Similarity.topKStreamIvf(refInput.toDS(), cents, cells, k = 5, nprobe = 2)
      .writeStream.format("memory").queryName("twsj_ref").outputMode("append")
      .start()
    val expected = try {
      refInput.addData(queryVecs.toSeq)
      refQ.processAllAvailable()
      spark.table("twsj_ref")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    } finally refQ.stop()

    val collected = scala.collection.mutable.Set[(Long, Int, Long)]()
    val input = MemoryStream[(Long, Array[Float])]
    val q = Similarity.topKStreamJoin(input.toDS(), corpusCells, cents,
      sink = (topk, _) => collected.synchronized {
        collected ++= topk.collect()
          .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      }, k = 5, nprobe = 2)
    try {
      input.addData(queryVecs.toSeq)
      q.processAllAvailable()
      assert(collected.toSet === expected)
      assert(collected.nonEmpty)
    } finally q.stop()
  }

  test("transformWithState: running totals via the Spark-4 state API (RocksDB)") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.{UserEvent, UserTotalsUpdate}
    spark.conf.set(GraftSession.StateStoreProviderConf, GraftSession.RocksDbProvider)
    try {
      def ts(s: String) = java.sql.Timestamp.valueOf(s)
      val input = MemoryStream[UserEvent]
      val q = StreamingPipeline.runningUserTotalsTws(input.toDS())
        .writeStream.format("memory").queryName("tws_totals")
        .outputMode("update").start()
      try {
        input.addData(
          UserEvent(1L, ts("2024-01-01 10:00:00"), 10.0),
          UserEvent(1L, ts("2024-01-01 10:01:00"), 5.0),
          UserEvent(2L, ts("2024-01-01 10:02:00"), 1.0))
        q.processAllAvailable()
        input.addData(UserEvent(1L, ts("2024-01-01 10:05:00"), 2.5))
        q.processAllAvailable()
        val byUser = spark.table("tws_totals")
          .collect().map(r => UserTotalsUpdate(r.getLong(0), r.getLong(1), r.getDouble(2)))
          .groupBy(_.user_id).view.mapValues(_.maxBy(_.n_events)).toMap
        assert(byUser(1L) === UserTotalsUpdate(1L, 3L, 17.5))
        assert(byUser(2L) === UserTotalsUpdate(2L, 1L, 1.0))
      } finally q.stop()
    } finally spark.conf.unset(GraftSession.StateStoreProviderConf)
  }

  test("left-outer interval join: non-converting impression emits null-padded after watermark") {
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val imps = MemoryStream[(Long, java.sql.Timestamp)]
    val clks = MemoryStream[(Long, java.sql.Timestamp)]
    val joined = StreamingPipeline.streamStreamLeftOuterJoin(
      imps.toDF().toDF("user_id", "imp_ts"),
      clks.toDF().toDF("user_id", "click_ts"),
      keyCol = "user_id", leftTsCol = "imp_ts", rightTsCol = "click_ts",
      delay = "10 minutes", maxGap = "30 minutes")
    val q = joined.writeStream.format("memory").queryName("louter")
      .outputMode("append").start()
    try {
      // user 1 converts inside the gap; user 2 never does
      imps.addData((1L, ts("2024-01-01 10:00:00")), (2L, ts("2024-01-01 10:00:00")))
      clks.addData((1L, ts("2024-01-01 10:10:00")))
      q.processAllAvailable()
      // push the GLOBAL watermark (min over both inputs) far past
      // imp_ts + maxGap; the null-padded row emits in a FOLLOWING batch,
      // so trigger twice
      imps.addData((98L, ts("2024-01-01 13:00:00")))
      clks.addData((99L, ts("2024-01-01 13:00:00")))
      q.processAllAvailable()
      imps.addData((98L, ts("2024-01-01 13:30:00")))
      clks.addData((99L, ts("2024-01-01 13:30:00")))
      q.processAllAvailable()
      val rows = spark.table("louter")
        .select("user_id", "click_ts").collect()
        .map(r => (r.getLong(0), Option(r.getTimestamp(1)).map(_.toString)))
        .toSet
      assert(rows.contains((1L, Some("2024-01-01 10:10:00.0"))),
        s"converted impression missing: $rows")
      assert(rows.contains((2L, None)),
        s"null-padded non-conversion missing: $rows")
    } finally q.stop()
  }

  test("watermark observability: late rows are dropped AND counted in progress metrics") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String, Double)]
    val df = input.toDF().toDF("ts", "event_type", "value")
    val agg = StreamingPipeline.windowedEventCounts(df, "ts", "10 minutes", "1 hour")
    val q = agg.writeStream.format("memory").queryName("wm_obs")
      .outputMode("update").start()
    try {
      def ts(s: String) = java.sql.Timestamp.valueOf(s)
      input.addData((ts("2024-01-01 10:00:00"), "click", 1.0),
        (ts("2024-01-01 11:00:00"), "click", 1.0))
      q.processAllAvailable() // watermark now 10:50
      input.addData((ts("2024-01-01 09:00:00"), "late", 1.0))
      q.processAllAvailable()
      val dropped = q.recentProgress.flatMap(_.stateOperators)
        .map(_.numRowsDroppedByWatermark).sum
      assert(dropped >= 1, s"late row not counted as dropped (dropped=$dropped)")
      // and the late row must not have produced a 'late' window
      assert(spark.table("wm_obs")
        .filter(col("event_type") === "late").count() == 0)
    } finally q.stop()
  }

  test("materialized changelog: snapshots upsert by key, old versions pruned") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_mat").toString + "/table"
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val input = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val q = StreamingPipeline.materializeChangelog(
      input.toDF().toDF("key", "ts", "v"), base, Seq("key"), "ts")
    try {
      input.addData((1L, ts("2024-01-01 10:00:00"), 10.0),
        (2L, ts("2024-01-01 10:00:00"), 5.0))
      q.processAllAvailable()
      input.addData((1L, ts("2024-01-01 11:00:00"), 99.0))
      q.processAllAvailable()
      val snap = StreamingPipeline.readMaterialized(spark, base)
        .select("key", "v").as[(Long, Double)].collect().toMap
      assert(snap == Map(1L -> 99.0, 2L -> 5.0), s"snapshot: $snap")
      // snapshot chain pruned to keepVersions
      val vs = new java.io.File(base).listFiles().map(_.getName)
        .filter(_.startsWith("v=")).sorted
      assert(vs.length <= 2, s"versions not pruned: ${vs.toSeq}")
    } finally q.stop()
  }

  test("growing-corpus streaming dedup: later batches dedup against earlier survivors") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_grow").toString + "/corpus"
    val textA = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima mike november"
    val textB = "one two three four five six seven eight nine ten eleven twelve thirteen fourteen fifteen"
    val textC = "red orange yellow green blue indigo violet crimson amber teal navy maroon olive silver"
    val textD = "spark flink trino presto duck goose swan eagle falcon hawk owl raven crow sparrow"
    Seq((1L, textA), (2L, textB)).toDF("doc_id", "text")
      .write.parquet(s"$base/epoch=seed")
    val input = MemoryStream[(Long, String)]
    var survivorSets = Map.empty[Long, Set[Long]]
    val q = StreamingPipeline.dedupStreamGrowingCorpus(
      input.toDF().toDF("doc_id", "text"), base, "doc_id", "text",
      sink = (df, epoch) => survivorSets +=
        epoch -> df.select("doc_id").collect().map(_.getLong(0)).toSet)
    try {
      // batch 0: exact dup of seed doc A, new doc C, near-dup of C INSIDE
      // the same batch — only C survives
      input.addData((10L, textA), (11L, textC), (12L, textC + " extra"))
      q.processAllAvailable()
      // batch 1: near-dup of the batch-0 SURVIVOR (proves the corpus
      // grew), plus a genuinely new doc
      input.addData((20L, textC + " tail"), (21L, textD))
      q.processAllAvailable()
      assert(survivorSets.values.flatten.toSet == Set(11L, 21L),
        s"unexpected survivors: $survivorSets")
      val corpusIds = spark.read.parquet(base)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(corpusIds == Set(1L, 2L, 11L, 21L), s"corpus: $corpusIds")
    } finally q.stop()
  }

  test("growing-corpus dedup: a RETRIED epoch recomputes identical survivors (no self-doom)") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_retry").toString + "/corpus"
    val textA = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
    val textC = "red orange yellow green blue indigo violet crimson amber teal navy maroon"
    Seq((1L, textA)).toDF("doc_id", "text").write.parquet(s"$base/epoch=seed")
    val batch = Seq((11L, textC)).toDF("doc_id", "text")
    var out = Set.empty[Long]
    def run(): Unit = StreamingPipeline.growCorpusBatch(batch, base, 7L,
      "doc_id", "text",
      (df, _) => out = df.select("doc_id").collect().map(_.getLong(0)).toSet,
      3, 16, 4, 0.8)
    run()
    assert(out == Set(11L))
    // retry of the SAME epoch: the corpus read must exclude epoch=7's own
    // half-committed write, or the survivor dooms itself and vanishes
    run()
    assert(out == Set(11L), "retry doomed its own survivors")
    val corpus = spark.read.parquet(base)
      .select("doc_id").as[Long].collect().toSet
    assert(corpus == Set(1L, 11L))
  }

  test("materialized changelog: checkpointed RESTART continues the merge chain (no key loss)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_mat_restart")
    val base = dir.toString + "/table"
    val cp = dir.toString + "/cp"
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val input = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val df = input.toDF().toDF("key", "ts", "v")
    val q1 = StreamingPipeline.materializeChangelog(df, base, Seq("key"), "ts",
      checkpointLocation = Some(cp))
    try {
      input.addData((1L, ts("2024-01-01 10:00:00"), 10.0))
      q1.processAllAvailable()
    } finally q1.stop()
    // restart from the checkpoint: epochId must CONTINUE past the
    // pre-restart snapshot, so the new batch merges with it instead of
    // rebuilding v=0 from one micro-batch and dropping key 1
    input.addData((2L, ts("2024-01-01 11:00:00"), 5.0))
    val q2 = StreamingPipeline.materializeChangelog(df, base, Seq("key"), "ts",
      checkpointLocation = Some(cp))
    try q2.processAllAvailable() finally q2.stop()
    val snap = StreamingPipeline.readMaterialized(spark, base)
      .select("key", "v").as[(Long, Double)].collect().toMap
    assert(snap == Map(1L -> 10.0, 2L -> 5.0),
      s"restart lost pre-restart keys: $snap")
  }

  test("readMaterialized ignores an in-progress/crashed version (no _SUCCESS)") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_mat_atomic")
      .toString + "/table"
    Seq((1L, 10.0)).toDF("key", "v").write.parquet(s"$base/v=0")
    // simulate a crash mid-overwrite of v=1: directory exists, files
    // half-written, no _SUCCESS job-commit marker
    val v1 = new java.io.File(s"$base/v=1")
    v1.mkdirs()
    java.nio.file.Files.write(v1.toPath.resolve("part-00000.parquet"),
      Array[Byte](1, 2, 3))
    val snap = StreamingPipeline.readMaterialized(spark, base)
      .select("key", "v").as[(Long, Double)].collect().toMap
    assert(snap == Map(1L -> 10.0), s"read a partial snapshot: $snap")
  }

  test("changelog merge breaks equal-timestamp ties deterministically") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // two updates for the SAME key with the SAME ts in one batch: the
    // winner must be the same on every (re)run or a batch retry rewrites
    // the version with different contents
    def runOnce(): Map[Long, Double] = {
      val base = java.nio.file.Files.createTempDirectory("graft_mat_tie")
        .toString + "/table"
      val input = MemoryStream[(Long, java.sql.Timestamp, Double)]
      val q = StreamingPipeline.materializeChangelog(
        input.toDF().toDF("key", "ts", "v"), base, Seq("key"), "ts")
      try {
        input.addData((1L, ts("2024-01-01 10:00:00"), 10.0),
          (1L, ts("2024-01-01 10:00:00"), 99.0))
        q.processAllAvailable()
      } finally q.stop()
      StreamingPipeline.readMaterialized(spark, base)
        .select("key", "v").as[(Long, Double)].collect().toMap
    }
    val runs = (1 to 3).map(_ => runOnce())
    assert(runs.distinct.size == 1, s"tie-break nondeterministic: $runs")
  }

  test("materializeChangelog rejects keepVersions < 2 (would delete the retry merge base)") {
    import spark.implicits._
    val ex = intercept[IllegalArgumentException] {
      StreamingPipeline.materializeChangelog(
        Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 1.0))
          .toDF("key", "ts", "v"),
        "/tmp/unused", Seq("key"), "ts", keepVersions = 1)
    }
    assert(ex.getMessage.contains("keepVersions"))
  }

  test("transformWithState: TTL'd state expires an idle key and restarts clean") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.UserEvent
    spark.conf.set(GraftSession.StateStoreProviderConf, GraftSession.RocksDbProvider)
    try {
      def ts(s: String) = java.sql.Timestamp.valueOf(s)
      val input = MemoryStream[UserEvent]
      // 8 s TTL: long enough that the two live batches can't be split by
      // host contention, short enough to lapse during the sleep below.
      // TTL forces processing-time mode, where the engine keeps scheduling
      // micro-batches to evaluate expiry — processAllAvailable never sees
      // an idle stream, so the test polls the sink (with a throttling
      // trigger so the empty batches don't spin the checkpoint dir).
      val q = StreamingPipeline.runningUserTotalsTtl(input.toDS(), ttlMs = 8000L)
        .writeStream.format("memory").queryName("ttl_totals")
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("500 milliseconds"))
        .outputMode("update").start()
      def rows(): Seq[(Long, Double)] = spark.table("ttl_totals")
        .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq.sorted
      def waitFor(what: String)(cond: => Boolean): Unit = {
        val deadline = System.currentTimeMillis + 60000L
        while (!cond && System.currentTimeMillis < deadline) Thread.sleep(200L)
        assert(cond, s"timed out waiting for $what: ${rows()}")
      }
      try {
        input.addData(UserEvent(1L, ts("2024-01-01 10:00:00"), 10.0))
        input.addData(UserEvent(1L, ts("2024-01-01 10:00:30"), 5.0))
        // both events land within the TTL: totals reach n=2
        waitFor("pre-TTL accumulation")(rows().contains((2L, 15.0)))
        Thread.sleep(10000L) // let the TTL lapse in processing time
        input.addData(UserEvent(1L, ts("2024-01-01 10:01:00"), 1.0))
        // slot was dropped by the store: restart at n=1, never n=3
        waitFor("post-TTL restart")(rows().contains((1L, 1.0)))
        assert(!rows().exists(_._1 == 3L), s"state survived the TTL: ${rows()}")
      } finally q.stop()
    } finally spark.conf.unset(GraftSession.StateStoreProviderConf)
  }

  test("windowed event counts with watermark (T4 extension)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String, Double)]
    val df = input.toDF().toDF("ts", "event_type", "value")
    val agg = StreamingPipeline.windowedEventCounts(df, "ts", "10 minutes", "1 hour")
    val q = agg.writeStream.format("memory").queryName("win_counts")
      .outputMode("update").start()
    try {
      def ts(s: String) = java.sql.Timestamp.valueOf(s)
      input.addData(
        (ts("2024-01-01 10:05:00"), "click", 1.0),
        (ts("2024-01-01 10:45:00"), "click", 2.0),
        (ts("2024-01-01 11:05:00"), "view", 5.0))
      q.processAllAvailable()
      val rows = spark.table("win_counts")
        .groupBy("window_start", "event_type").agg(max("n").as("n"))
        .collect().map(r => (r.getTimestamp(0).toString, r.getString(1)) -> r.getLong(2)).toMap
      assert(rows(("2024-01-01 10:00:00.0", "click")) == 2L)
      assert(rows(("2024-01-01 11:00:00.0", "view")) == 1L)
    } finally q.stop()
  }

  test("transformWithState timers: session summaries emitted on watermark expiry") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.{SessionSummary, UserEvent}
    spark.conf.set(GraftSession.StateStoreProviderConf, GraftSession.RocksDbProvider)
    try {
      def ts(s: String) = java.sql.Timestamp.valueOf(s)
      val input = MemoryStream[UserEvent]
      val q = StreamingPipeline.sessionSummaries(input.toDS(), gapMs = 600000L)
        .writeStream.format("memory").queryName("tws_sessions")
        .outputMode("append").start()
      try {
        input.addData(
          UserEvent(1L, ts("2024-01-01 10:00:00"), 1.0),
          UserEvent(1L, ts("2024-01-01 10:05:00"), 2.0),
          UserEvent(2L, ts("2024-01-01 10:01:00"), 7.0))
        q.processAllAvailable()
        // advance the watermark far past both sessions' (last + gap) timers
        input.addData(UserEvent(99L, ts("2024-01-01 12:00:00"), 0.0))
        q.processAllAvailable()
        input.addData(UserEvent(99L, ts("2024-01-01 12:00:01"), 0.0))
        q.processAllAvailable()
        val out = spark.table("tws_sessions").as[SessionSummary].collect()
          .filter(_.user_id < 90).map(s => (s.user_id, s.n_events, s.total_value)).toSet
        assert(out === Set((1L, 2L, 3.0), (2L, 1L, 7.0)))
      } finally q.stop()
    } finally spark.conf.unset(GraftSession.StateStoreProviderConf)
  }

  test("session windows: gap-merged, finalized by watermark, state dropped") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String, Double)]
    val df = input.toDF().toDF("ts", "event_type", "value")
    val agg = StreamingPipeline.sessionWindowedCounts(
      df, "ts", delay = "10 minutes", gap = "30 minutes")
    val q = agg.writeStream.format("memory").queryName("sess_counts")
      .outputMode("append").start()
    try {
      def ts(s: String) = java.sql.Timestamp.valueOf(s)
      // two events 10 min apart (one session), a third 80 min later (new
      // session); then sentinels push the watermark past both session ends
      input.addData(
        (ts("2024-01-01 10:00:00"), "click", 1.0),
        (ts("2024-01-01 10:10:00"), "click", 2.0),
        (ts("2024-01-01 11:30:00"), "click", 4.0))
      q.processAllAvailable()
      input.addData((ts("2024-01-01 13:00:00"), "zz", 0.0))
      q.processAllAvailable()
      input.addData((ts("2024-01-01 13:01:00"), "zz", 0.0))
      q.processAllAvailable()
      val rows = spark.table("sess_counts")
        .filter(col("event_type") === "click")
        .collect()
        .map(r => (r.getTimestamp(0).toString, r.getTimestamp(1).toString,
          r.getLong(3), r.getDouble(4)))
        .toSet
      // session end = last event + gap; both sessions closed by watermark
      assert(rows === Set(
        ("2024-01-01 10:00:00.0", "2024-01-01 10:40:00.0", 2L, 3.0),
        ("2024-01-01 11:30:00.0", "2024-01-01 12:00:00.0", 1L, 4.0)))
    } finally q.stop()
  }

  test("enrichWithStaticDim: stream rows pick up dim columns, misses stay null") {
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val input = MemoryStream[(Long, Double)]
    val q = StreamingPipeline.enrichWithStaticDim(
      input.toDF().toDF("user_id", "amount"), dim, Seq("user_id"))
      .writeStream.format("memory").queryName("dim_enrich")
      .outputMode("append").start()
    try {
      input.addData((1L, 10.0), (3L, 5.0))
      q.processAllAvailable()
      val rows = spark.table("dim_enrich")
        .collect().map(r => (r.getLong(0), Option(r.getString(2)))).toSet
      assert(rows === Set((1L, Some("gold")), (3L, None)))
    } finally q.stop()
  }

  test("streamStreamIntervalJoin: clicks attribute to impressions within the gap only") {
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val imps = MemoryStream[(Long, java.sql.Timestamp)]
    val clicks = MemoryStream[(Long, java.sql.Timestamp)]
    val joined = StreamingPipeline.streamStreamIntervalJoin(
      imps.toDF().toDF("user_id", "imp_ts"),
      clicks.toDF().toDF("user_id", "click_ts"),
      keyCol = "user_id", leftTsCol = "imp_ts", rightTsCol = "click_ts",
      delay = "10 minutes", maxGap = "30 minutes")
    val q = joined.writeStream.format("memory").queryName("attrib")
      .outputMode("append").start()
    try {
      imps.addData((1L, ts("2024-01-01 10:00:00")))
      clicks.addData(
        (1L, ts("2024-01-01 10:10:00")),  // within 30 min -> match
        (1L, ts("2024-01-01 10:50:00")),  // outside the gap -> no match
        (2L, ts("2024-01-01 10:05:00")))  // no impression -> no match
      q.processAllAvailable()
      val rows = spark.table("attrib")
        .collect().map(r => (r.getLong(0), r.getTimestamp(2).toString)).toSet
      assert(rows === Set((1L, "2024-01-01 10:10:00.0")))
    } finally q.stop()
  }

  test("dedupStreamAgainstCorpus: foreachBatch survivors match batch incrementalDedup") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Dedup
    val corpus = spark.createDataFrame(Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (2L, "training data pipelines need deduplication at scale to stay clean")
    )).toDF("doc_id", "text")
    // 10: exact dup of corpus 1; 11: near-dup of corpus 2 (one word tweak);
    // 12: unique; 13: near-dup of 12 WITHIN the batch — survives, because
    // incrementalDedup checks new×corpus only (contract)
    val newDocs = Seq(
      (10L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (11L, "training data pipelines need deduplication at scale to remain clean"),
      (12L, "completely unrelated sentence about spark catalyst optimizer rules"),
      (13L, "completely unrelated sentence about spark catalyst optimizer rule"))

    val expected = Dedup.incrementalDedup(
      spark.createDataFrame(newDocs).toDF("doc_id", "text"), corpus,
      "doc_id", "text", threshold = 0.5)
      .collect().map(_.getLong(0)).toSet

    val collected = scala.collection.mutable.Set[Long]()
    val input = MemoryStream[(Long, String)]
    val q = StreamingPipeline.dedupStreamAgainstCorpus(
      input.toDF().toDF("doc_id", "text"), corpus, "doc_id", "text",
      sink = (batch, _) =>
        collected.synchronized { collected ++= batch.collect().map(_.getLong(0)) },
      threshold = 0.5)
    try {
      input.addData(newDocs)
      q.processAllAvailable()
      assert(collected.toSet === expected)
      assert(!collected.contains(10L) && !collected.contains(11L))
      assert(collected.contains(12L) && collected.contains(13L))
    } finally q.stop()
  }

  test("substrScrubStream: batch docs scrubbed of verbatim corpus runs via the index") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Dedup
    val xs = (0 until 40).map(i => s"x$i")
    val corpus = Seq((1L, xs.mkString(" "))).toDF("doc_id", "text")
    val idxPath = java.nio.file.Files
      .createTempDirectory("graft_substr_stream_").toString
    Dedup.writeSubstrIndex(corpus, idxPath, "doc_id", "text", shingleSize = 3)
    // 10: embeds a 10-token verbatim corpus slice between unique filler;
    // 11: fresh text — passes through untouched
    val batch = Seq(
      (10L, ("a0 a1 a2 " + xs.slice(20, 30).mkString(" ") + " b0 b1 b2")),
      (11L, (0 until 12).map(i => s"f$i").mkString(" ")))

    val got = scala.collection.mutable.Map[Long, (String, Long, Long)]()
    val input = MemoryStream[(Long, String)]
    val q = StreamingPipeline.substrScrubStream(
      input.toDF().toDF("doc_id", "text"), idxPath, "doc_id", "text",
      sink = (cleaned, _) => got.synchronized {
        cleaned.collect().foreach(r =>
          got(r.getLong(0)) = (r.getString(1), r.getLong(2), r.getLong(3)))
      })
    try {
      input.addData(batch)
      q.processAllAvailable()
      assert(got(10L) === (("a0 a1 a2 b0 b1 b2", 16L, 10L)))
      assert(got(11L) === (((0 until 12).map(i => s"f$i").mkString(" "), 12L, 0L)))
    } finally q.stop()
  }

  test("nearDupScrubStream: per-batch survivors equal the incremental batch operator") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Dedup
    val corpus = graft.sources.Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text").limit(100)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val idxPath = java.nio.file.Files
      .createTempDirectory("graft_neardup_stream_").toString
    Dedup.writeDedupIndex(corpus, idxPath, "doc_id", "text")
    val base = corpus.as[(Long, String)].collect().toSeq
    // batch 1: an exact corpus copy (doomed) + a novel doc (survives);
    // batch 2: a tail-appended near-dup (doomed by Jaccard) + novel
    val novel1 = (0 until 60).map(i => s"n$i").mkString(" ")
    val novel2 = (0 until 60).map(i => s"m$i").mkString(" ")
    val b1 = Seq((1001L, base.head._2), (1002L, novel1))
    val b2 = Seq((1003L, base(1)._2 + " tiny tail"), (1004L, novel2))

    val perEpoch = scala.collection.mutable.Map[Long, Set[Long]]()
    val input = MemoryStream[(Long, String)]
    val q = StreamingPipeline.nearDupScrubStream(
      input.toDF().toDF("doc_id", "text"), idxPath, "doc_id", "text",
      sink = (kept, epoch) => perEpoch.synchronized {
        perEpoch(epoch) = kept.select("doc_id").as[Long].collect().toSet
      })
    try {
      input.addData(b1); q.processAllAvailable()
      input.addData(b2); q.processAllAvailable()
      val streamed = perEpoch.values.reduce(_ ++ _)
      // oracle: the BATCH incremental operator on the union of batches
      val batchKeep = Dedup.incrementalDedupFromIndex(
          spark, idxPath, (b1 ++ b2).toDF("doc_id", "text"),
          "doc_id", "text")
        .select("doc_id").as[Long].collect().toSet
      assert(streamed === batchKeep, s"$perEpoch vs $batchKeep")
      assert(streamed === Set(1002L, 1004L))
      // batch boundaries respected: each epoch only reports its own docs
      assert(perEpoch.values.forall(s => s.subsetOf(Set(1002L, 1004L))))
    } finally q.stop()
  }

  test("qualityGateStream: streamed keepers equal the batch keep set, stateless plan") {
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.sources.Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
    val input = MemoryStream[(Long, String)]
    val gated = StreamingPipeline.qualityGateStream(
      input.toDF().toDF("doc_id", "text"), "text")
    val q = gated.writeStream.outputMode("append")
      .format("memory").queryName("quality_gate").start()
    try {
      input.addData(docs.take(200))
      input.addData(docs.drop(200))
      q.processAllAvailable()
      val streamed = spark.table("quality_gate")
        .select("doc_id").as[Long].collect().toSet
      val batchKeep = SparkEntry.queries("quality_model_score")(spark, sfDir)
        .filter(col("keep")).select("doc_id").as[Long].collect().toSet
      assert(streamed === batchKeep)
      assert(streamed.nonEmpty && streamed.size < docs.size)
    } finally q.stop()
  }

  test("fingerprintStream: running fingerprint equals batch fingerprint of the union") {
    implicit val sqlCtx = spark.sqlContext
    val rows = (0L until 500L).map(i => (i, s"v${i % 13}"))
    val input = MemoryStream[(Long, String)]
    val q = StreamingPipeline.fingerprintStream(
        input.toDF().toDF("k", "v"), Seq("k", "v"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("fp_stream").start()
    try {
      // two uneven batches; the commutative-sum state makes the running
      // value equal the batch fingerprint of everything so far
      input.addData(rows.take(123))
      q.processAllAvailable()
      input.addData(rows.drop(123))
      q.processAllAvailable()
      val streamed = spark.table("fp_stream")
        .select("n_rows", "content_hash").head()
      val batch = graft.operators.Layout.datasetFingerprint(
        rows.toDF("k", "v"), Seq("k", "v")).head()
      assert(streamed.getLong(0) == 500L)
      assert((streamed.getLong(0), streamed.getLong(1)) ==
        ((batch.getLong(0), batch.getLong(1))))
    } finally q.stop()
  }

  test("cms_sketch aggregates across micro-batches to the exact batch grid") {
    implicit val sqlCtx = spark.sqlContext
    val rows = (1 to 400).map(i => s"k${i % 37}")
    val input = MemoryStream[String]
    val q = input.toDF().toDF("key")
      .groupBy()
      .agg(graft.functions.CountMinFunctions.cmsSketch(col("key")).as("grid"))
      .writeStream.format("memory").queryName("cms_stream")
      .outputMode("complete").start()
    try {
      input.addData(rows.take(150))
      q.processAllAvailable()
      input.addData(rows.drop(150))
      q.processAllAvailable()
      val streamed = spark.table("cms_stream").as[Seq[Long]].head()
      val batch = rows.toDF("key")
        .agg(graft.functions.CountMinFunctions.cmsSketch(col("key")).as("grid"))
        .as[Seq[Long]].head()
      // element-wise-add merges make the streamed grid bit-equal to the
      // one-shot batch grid — the mergeable-sketch contract under
      // incremental state
      assert(streamed === batch)
      assert(streamed.sum === 400L * 4)
    } finally q.stop()
  }

  test("kmv_sketch aggregates across micro-batches to the exact batch sketch") {
    implicit val sqlCtx = spark.sqlContext
    val rows = (0L until 2000L).map(i => i % 700L) // 700 distinct, k=256 fills
    val input = MemoryStream[Long]
    val q = input.toDF().toDF("k")
      .groupBy()
      .agg(graft.functions.KmvFunctions.kmvSketch(col("k")).as("sk"))
      .writeStream.format("memory").queryName("kmv_stream")
      .outputMode("complete").start()
    try {
      input.addData(rows.take(777))
      q.processAllAvailable()
      input.addData(rows.drop(777))
      q.processAllAvailable()
      val streamed = spark.table("kmv_stream").as[Seq[Long]].head()
      val batch = rows.toDF("k")
        .agg(graft.functions.KmvFunctions.kmvSketch(col("k")).as("sk"))
        .as[Seq[Long]].head()
      // set-union merges make the incremental sketch bit-equal to the
      // one-shot batch sketch regardless of the batch split
      assert(streamed === batch)
      assert(streamed.length === 256)
    } finally q.stop()
  }

  test("trendingStream: per-window MG candidates honor the heavy-hitter guarantee") {
    implicit val sqlCtx = spark.sqlContext
    def ts(min: Int) = new java.sql.Timestamp(
      java.sql.Timestamp.valueOf("2024-01-01 10:00:00").getTime + min * 60000L)
    // three 10-min windows; window w plants bot user (700+w) at ~29% of
    // traffic over a 20-user uniform background (well above the 1/17
    // nomination threshold at k=16)
    val events = (0 until 3).flatMap { w =>
      val base = (0 until 200).map(i =>
        graft.streaming.UserEvent((i % 20).toLong, ts(w * 10 + (i % 10)), 1.0))
      val bot = (0 until 80).map(i =>
        graft.streaming.UserEvent(700L + w, ts(w * 10 + (i % 10)), 1.0))
      base ++ bot
    }
    val input = MemoryStream[graft.streaming.UserEvent]
    val q = StreamingPipeline.trendingStream(
        input.toDS(), "10 minutes", k = 16, delay = "0 seconds")
      .writeStream.format("memory").queryName("trending")
      .outputMode("append").start()
    try {
      // split mid-window: the second half still merges into w1's open
      // MG state before the watermark closes it
      val (a, b) = events.splitAt(events.size / 2)
      input.addData(a); q.processAllAvailable()
      input.addData(b); q.processAllAvailable()
      input.addData(graft.streaming.UserEvent(999L, ts(100), 0.0)); q.processAllAvailable()
      input.addData(graft.streaming.UserEvent(999L, ts(101), 0.0)); q.processAllAvailable()
      val out = spark.table("trending").collect()
        .filter(_.getLong(1) > 1L) // drop the sentinel's window
      assert(out.length === 3, out.mkString("; "))
      out.foreach { r =>
        val winStart = r.getTimestamp(0)
        val w = ((winStart.getTime - ts(0).getTime) / 600000L).toInt
        val n = r.getLong(1)
        assert(n === 280L, s"window $w n=$n")
        val items = r.getSeq[org.apache.spark.sql.Row](2)
          .map(i => i.getLong(0) -> i.getLong(1)).toMap
        // every key above n/(k+1) must be nominated; counts are lower
        // bounds within n/(k+1) of truth
        assert(items.contains(700L + w), s"window $w missing its bot: $items")
        val c = items(700L + w)
        assert(c <= 80L && c >= 80L - 280L / 17L, s"window $w bot count $c")
      }
    } finally q.stop()
  }

  test("driftStream: chained-agg TVD equals direct recompute; shifted window flagged") {
    implicit val sqlCtx = spark.sqlContext
    def ts(min: Int) = new java.sql.Timestamp(
      java.sql.Timestamp.valueOf("2024-01-01 10:00:00").getTime + min * 60000L)
    // reference distribution over $1 bins: 60% bin 0, 30% bin 1, 10% bin 2
    val refHist = Map(0L -> 60L, 1L -> 30L, 2L -> 10L)
    // window 0 matches the reference proportions exactly (TVD 0);
    // window 1 shifts mass up AND introduces bin 5, absent from the
    // reference (exercises the window-only-bin term c·Nref); bin 0 is
    // absent from window 1 (exercises the ref-only-bin mass)
    val w0 = (0 until 6).map(i => graft.streaming.UserEvent(1L, ts(i), 0.50)) ++
      (0 until 3).map(i => graft.streaming.UserEvent(2L, ts(i), 1.50)) ++
      Seq(graft.streaming.UserEvent(3L, ts(3), 2.50))
    val w1 = (0 until 4).map(i => graft.streaming.UserEvent(1L, ts(10 + i), 2.50)) ++
      (0 until 6).map(i => graft.streaming.UserEvent(2L, ts(10 + i), 5.50))
    def directPpm(values: Seq[Double]): Long = {
      val nRef = refHist.values.sum
      val counts = values.groupBy(v => math.round(v * 100) / 100)
        .map { case (b, vs) => (b, vs.size.toLong) }
      val nWin = counts.values.sum
      val num = (refHist.keySet ++ counts.keySet).toSeq.map { b =>
        math.abs(counts.getOrElse(b, 0L) * nRef -
          refHist.getOrElse(b, 0L) * nWin)
      }.sum
      1000000L * num / (2 * nWin * nRef)
    }
    val input = MemoryStream[graft.streaming.UserEvent]
    val q = StreamingPipeline.driftStream(input.toDS(), refHist,
        binWidthCents = 100L, windowDur = "10 minutes",
        delay = "0 seconds", thresholdPpm = 200000L)
      .writeStream.format("memory").queryName("drift")
      .outputMode("append").start()
    try {
      // split mid-window so agg-1 state merges across micro-batches
      val all = (w0 ++ w1).sortBy(_.ts.getTime)
      val (a, b) = all.splitAt(all.size / 2)
      input.addData(a); q.processAllAvailable()
      input.addData(b); q.processAllAvailable()
      // sentinels push the watermark past both windows (two advances:
      // one to close agg-1's windows, one to flush agg-2)
      input.addData(graft.streaming.UserEvent(99L, ts(40), 0.5)); q.processAllAvailable()
      input.addData(graft.streaming.UserEvent(99L, ts(60), 0.5)); q.processAllAvailable()
      val out = spark.table("drift").collect()
        .map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2),
          r.getBoolean(3)))
        .filter(_._2 > 1L) // drop sentinel windows
        .sortBy(_._1.getTime)
      assert(out.length === 2, out.mkString("; "))
      val Seq(r0, r1) = out.toSeq
      assert(r0._2 === 10L && r1._2 === 10L)
      assert(r0._3 === directPpm(w0.map(_.value)))
      assert(r0._3 === 0L) // exact proportional match
      assert(r1._3 === directPpm(w1.map(_.value)))
      assert(!r0._4 && r1._4, s"drift flags: $out")
    } finally q.stop()
  }

  // ------------------------------------------ stream-stream as-of join

  import graft.streaming.{AsOfJoined, QuoteEvent, UserEvent}

  private def asofTs(s: String) = java.sql.Timestamp.valueOf(s)

  /** Five lefts / five rights exercising every backward-as-of edge:
    * strictly-preceding match, equal-time inclusive match, equal-time
    * value tie-break, right-after-left non-match, and a key with no
    * rights at all. */
  private val asofLefts = Seq(
    UserEvent(1L, asofTs("2024-01-01 10:00:00"), 1.0),
    UserEvent(1L, asofTs("2024-01-01 10:10:00"), 2.0),
    UserEvent(1L, asofTs("2024-01-01 10:20:00"), 3.0),
    UserEvent(2L, asofTs("2024-01-01 10:05:00"), 4.0),
    UserEvent(3L, asofTs("2024-01-01 10:00:00"), 5.0))
  private val asofRights = Seq(
    QuoteEvent(1L, asofTs("2024-01-01 09:55:00"), 100.0),
    QuoteEvent(1L, asofTs("2024-01-01 10:10:00"), 110.0),
    QuoteEvent(1L, asofTs("2024-01-01 10:10:00"), 105.0),
    QuoteEvent(1L, asofTs("2024-01-01 10:15:00"), 120.0),
    QuoteEvent(2L, asofTs("2024-01-01 10:06:00"), 50.0))

  /** Batch truth for the same fixture via AsOf.asofBackward. */
  private def asofBatchTruth(tolUs: Option[Long]): Set[(Long, java.sql.Timestamp, Double, Option[Double])] =
    graft.operators.AsOf.asofBackward(
        asofLefts.toDF(), asofRights.toDF(),
        key = "user_id", leftTs = "ts", rightTs = "ts",
        rightVal = "quote", outCol = "quote", toleranceUs = tolUs)
      .collect().map { r =>
        (r.getLong(0), r.getTimestamp(1), r.getDouble(2),
          if (r.isNullAt(3)) None else Some(r.getDouble(3)))
      }.toSet

  private def runAsofStream(toleranceMs: Long, forwardHorizonMs: Long = 0L,
                            nearestHorizonMs: Long = 0L)(
      feed: (MemoryStream[UserEvent], MemoryStream[QuoteEvent],
             org.apache.spark.sql.streaming.StreamingQuery) => Unit): Seq[AsOfJoined] = {
    implicit val sqlCtx = spark.sqlContext
    spark.conf.set(GraftSession.StateStoreProviderConf, GraftSession.RocksDbProvider)
    try {
      val li = MemoryStream[UserEvent]
      val ri = MemoryStream[QuoteEvent]
      val name = s"asof_stream_${System.nanoTime()}"
      val joined =
        if (nearestHorizonMs > 0L)
          StreamingPipeline.asofNearestStream(
            li.toDS(), ri.toDS(), horizonMs = nearestHorizonMs, delay = "1 hour")
        else if (forwardHorizonMs > 0L)
          StreamingPipeline.asofForwardStream(
            li.toDS(), ri.toDS(), horizonMs = forwardHorizonMs, delay = "1 hour")
        else
          StreamingPipeline.asofBackwardStream(
            li.toDS(), ri.toDS(), delay = "1 hour", toleranceMs = toleranceMs)
      val q = joined
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        feed(li, ri, q)
        // two sentinel batches: the first advances the max event time, the
        // second runs with the watermark computed from it, firing timers
        ri.addData(QuoteEvent(99L, asofTs("2024-01-01 23:00:00"), 0.0))
        q.processAllAvailable()
        ri.addData(QuoteEvent(99L, asofTs("2024-01-01 23:00:01"), 0.0))
        q.processAllAvailable()
        spark.table(name).as[AsOfJoined].collect().toSeq
          .filter(_.user_id < 90L)
      } finally q.stop()
    } finally spark.conf.unset(GraftSession.StateStoreProviderConf)
  }

  test("stream-stream as-of join matches batch asofBackward on the same fixture") {
    val out = runAsofStream(toleranceMs = 0L) { (li, ri, q) =>
      li.addData(asofLefts)
      ri.addData(asofRights)
      q.processAllAvailable()
    }
    assert(out.map(j => (j.user_id, j.ts, j.value, j.quote)).toSet ===
      asofBatchTruth(None))
    // every match's quote_ts is at-or-before its probe ts
    out.foreach(j => j.quote_ts.foreach(qt => assert(!qt.after(j.ts))))
  }

  test("stream-stream as-of join with tolerance matches the batch tolerance form") {
    val tolMs = 6L * 60L * 1000L // 6 minutes: keeps 09:55→10:00, drops 09:55→10:20
    val out = runAsofStream(toleranceMs = tolMs) { (li, ri, q) =>
      li.addData(asofLefts)
      ri.addData(asofRights)
      q.processAllAvailable()
    }
    assert(out.map(j => (j.user_id, j.ts, j.value, j.quote)).toSet ===
      asofBatchTruth(Some(tolMs * 1000L)))
    // the tolerance actually binds on this fixture: 10:20's nearest right
    // (10:15, within) matches but 10:00's nearest (09:55) at exactly 5
    // minutes stays while a 7-minute-stale quote would not — assert the
    // bounded and unbounded forms genuinely differ somewhere
    assert((asofBatchTruth(Some(tolMs * 1000L)) != asofBatchTruth(None)) ||
      out.exists(_.quote.isEmpty))
  }

  test("stream-stream FORWARD as-of join matches batch asofForward inside the horizon") {
    // 30-min horizon covers every true forward gap on this fixture (10:00
    // →10:10, 10:10→10:10, 10:05→10:06) and the unmatched lefts have NO
    // later rights at all — so the horizon-bounded stream equals the
    // unbounded batch form, including the equal-time smaller-quote
    // tie-break (10:10 picks 105 over 110)
    val out = runAsofStream(toleranceMs = 0L, forwardHorizonMs = 30L * 60L * 1000L) {
      (li, ri, q) =>
        li.addData(asofLefts)
        ri.addData(asofRights)
        q.processAllAvailable()
    }
    val batch = graft.operators.AsOf.asofForward(
        asofLefts.toDF(), asofRights.toDF(),
        key = "user_id", leftTs = "ts", rightTs = "ts",
        rightVal = "quote", outCol = "quote")
      .collect().map { r =>
        (r.getLong(0), r.getTimestamp(1), r.getDouble(2),
          if (r.isNullAt(3)) None else Some(r.getDouble(3)))
      }.toSet
    assert(out.map(j => (j.user_id, j.ts, j.value, j.quote)).toSet === batch)
    // every match's quote_ts is at-or-after its probe ts, within horizon
    out.foreach(j => j.quote_ts.foreach { qt =>
      assert(!qt.before(j.ts))
      assert(qt.getTime - j.ts.getTime <= 30L * 60L * 1000L)
    })
  }

  test("as-of stream matches batch on randomized fixtures (ties, dup timestamps, split batches)") {
    // three seeded random fixtures: 5 keys, duplicate timestamps, value
    // ties, random batch split — watermark delay (1h) exceeds the
    // fixture's 50-min ts range, so the split never late-drops and the
    // stream must reproduce the batch join exactly, exercising the
    // processor's duplicate-timer and eviction paths
    for (seed <- Seq(11, 42, 99)) {
      val rnd = new scala.util.Random(seed)
      def ts(min: Int) = new java.sql.Timestamp(
        java.sql.Timestamp.valueOf("2024-01-01 10:00:00").getTime + min * 60000L)
      val lefts = (1 to 20).map(_ =>
        UserEvent(1L + rnd.nextInt(5), ts(rnd.nextInt(50)), rnd.nextInt(10).toDouble))
      val rights = (1 to 20).map(_ =>
        QuoteEvent(1L + rnd.nextInt(5), ts(rnd.nextInt(50)), rnd.nextInt(5) * 10.0))
      val cut = rnd.nextInt(20)
      val out = runAsofStream(toleranceMs = 0L) { (li, ri, q) =>
        li.addData(lefts.take(cut)); ri.addData(rights.take(cut))
        q.processAllAvailable()
        li.addData(lefts.drop(cut)); ri.addData(rights.drop(cut))
        q.processAllAvailable()
      }
      val batch = graft.operators.AsOf.asofBackward(
          lefts.toDF(), rights.toDF(),
          key = "user_id", leftTs = "ts", rightTs = "ts",
          rightVal = "quote", outCol = "quote")
        .collect().map { r =>
          (r.getLong(0), r.getTimestamp(1), r.getDouble(2),
            if (r.isNullAt(3)) None else Some(r.getDouble(3)))
        }.toSeq.sorted(Ordering.by((x: (Long, java.sql.Timestamp, Double, Option[Double])) =>
          (x._1, x._2.getTime, x._3, x._4.getOrElse(Double.MinValue))))
      val streamed = out.map(j => (j.user_id, j.ts, j.value, j.quote))
        .sorted(Ordering.by((x: (Long, java.sql.Timestamp, Double, Option[Double])) =>
          (x._1, x._2.getTime, x._3, x._4.getOrElse(Double.MinValue))))
      assert(streamed === batch, s"seed $seed mismatch")
    }
  }

  test("stream-stream NEAREST as-of join matches batch asofNearest inside the horizon") {
    // 30-min horizon covers every true forward gap on the fixture, so the
    // horizon-bounded stream equals the unbounded batch nearest — incl.
    // the equidistant→backward rule and both equal-time tie-breaks
    // (backward larger-quote at 10:10 vs forward smaller-quote)
    val out = runAsofStream(toleranceMs = 0L,
        nearestHorizonMs = 30L * 60L * 1000L) { (li, ri, q) =>
      li.addData(asofLefts)
      ri.addData(asofRights)
      q.processAllAvailable()
    }
    val batch = graft.operators.AsOf.asofNearest(
        asofLefts.toDF(), asofRights.toDF(),
        key = "user_id", leftTs = "ts", rightTs = "ts",
        rightVal = "quote", outCol = "quote")
      .collect().map { r =>
        (r.getLong(0), r.getTimestamp(1), r.getDouble(2),
          if (r.isNullAt(3)) None else Some(r.getDouble(3)))
      }.toSet
    assert(out.map(j => (j.user_id, j.ts, j.value, j.quote)).toSet === batch)
    // nearest genuinely differs from plain backward on this fixture
    // (10:00 is closer to its 09:55 past quote than 10:20 is — but 10:20's
    // nearest is the FUTURE 10:15 quote plain backward also finds; the
    // discriminating row is any left whose forward candidate wins)
    assert(out.map(j => (j.user_id, j.ts, j.value, j.quote)).toSet !=
      asofBatchTruth(None),
      "fixture does not discriminate nearest from backward")
  }

  test("NEAREST as-of stream matches batch on randomized fixtures") {
    // 60-min horizon exceeds the 50-min ts range, so the horizon never
    // binds and the streamed nearest must equal the unbounded batch
    // nearest on every seeded fixture (dup timestamps, ties, batch split)
    for (seed <- Seq(7, 23, 61)) {
      val rnd = new scala.util.Random(seed)
      def ts(min: Int) = new java.sql.Timestamp(
        java.sql.Timestamp.valueOf("2024-01-01 10:00:00").getTime + min * 60000L)
      val lefts = (1 to 20).map(_ =>
        UserEvent(1L + rnd.nextInt(5), ts(rnd.nextInt(50)), rnd.nextInt(10).toDouble))
      val rights = (1 to 20).map(_ =>
        QuoteEvent(1L + rnd.nextInt(5), ts(rnd.nextInt(50)), rnd.nextInt(5) * 10.0))
      val cut = rnd.nextInt(20)
      val out = runAsofStream(toleranceMs = 0L,
          nearestHorizonMs = 60L * 60L * 1000L) { (li, ri, q) =>
        li.addData(lefts.take(cut)); ri.addData(rights.take(cut))
        q.processAllAvailable()
        li.addData(lefts.drop(cut)); ri.addData(rights.drop(cut))
        q.processAllAvailable()
      }
      val batch = graft.operators.AsOf.asofNearest(
          lefts.toDF(), rights.toDF(),
          key = "user_id", leftTs = "ts", rightTs = "ts",
          rightVal = "quote", outCol = "quote")
        .collect().map { r =>
          (r.getLong(0), r.getTimestamp(1), r.getDouble(2),
            if (r.isNullAt(3)) None else Some(r.getDouble(3)))
        }.toSeq.sorted(Ordering.by((x: (Long, java.sql.Timestamp, Double, Option[Double])) =>
          (x._1, x._2.getTime, x._3, x._4.getOrElse(Double.MinValue))))
      val streamed = out.map(j => (j.user_id, j.ts, j.value, j.quote))
        .sorted(Ordering.by((x: (Long, java.sql.Timestamp, Double, Option[Double])) =>
          (x._1, x._2.getTime, x._3, x._4.getOrElse(Double.MinValue))))
      assert(streamed === batch, s"seed $seed mismatch")
    }
  }

  test("as-of state buffers across batches: a right arriving later still matches") {
    // the left arrives a full batch BEFORE its matching quote; a per-batch
    // join would emit null — the state-store buffer holds the left until
    // the watermark passes its time, by which point the quote has landed
    val out = runAsofStream(toleranceMs = 0L) { (li, ri, q) =>
      li.addData(UserEvent(7L, asofTs("2024-01-01 10:10:00"), 1.0))
      q.processAllAvailable()
      ri.addData(QuoteEvent(7L, asofTs("2024-01-01 10:05:00"), 77.0))
      q.processAllAvailable()
    }
    assert(out === Seq(AsOfJoined(7L, asofTs("2024-01-01 10:10:00"), 1.0,
      Some(asofTs("2024-01-01 10:05:00")), Some(77.0))))
  }

  test("rateSpikeStream: closed-day scores match the batch trailing-week formula") {
    import graft.streaming.{SpikeDay, TypedEvent}
    implicit val sqlCtx = spark.sqlContext
    spark.conf.set(GraftSession.StateStoreProviderConf,
      GraftSession.RocksDbProvider)
    try {
      val in = MemoryStream[TypedEvent]
      val name = s"spike_stream_${System.nanoTime()}"
      val q = StreamingPipeline.rateSpikeStream(in.toDS(), delay = "1 hour")
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      def ts(s: String) = java.sql.Timestamp.valueOf(s)
      // 10 days of 'click': flat week, then a 5x spike on day 9, calm day 10;
      // 'view' has only 3 days — must never be scored
      val perDay = Seq(3L, 4L, 3L, 5L, 4L, 3L, 4L, 3L, 20L, 4L)
      val clicks = perDay.zipWithIndex.flatMap { case (n, i) =>
        (0L until n).map(k =>
          TypedEvent("click", ts(f"2024-01-${i + 1}%02d 0${k % 9 + 1}:00:00")))
      }
      val views = (0 until 3).flatMap(i =>
        Seq(TypedEvent("view", ts(f"2024-01-${i + 1}%02d 05:00:00"))))
      try {
        // split mid-history so the deque state must survive micro-batches
        val (early, late) = clicks.partition(_.ts.before(ts("2024-01-06 00:00:00")))
        in.addData(early ++ views)
        q.processAllAvailable()
        in.addData(late)
        q.processAllAvailable()
        in.addData(TypedEvent("pad", ts("2024-01-12 02:00:00")))
        q.processAllAvailable()
        in.addData(TypedEvent("pad", ts("2024-01-12 02:00:01")))
        q.processAllAvailable()
        val got = spark.table(name).as[SpikeDay].collect().toSeq
          .filter(_.event_type == "click")
          .sortBy(_.day_start.getTime)
        // batch formula replay: day i >= 7 scored against prior 7 days
        val expected = perDay.zipWithIndex.drop(7).map { case (x, i) =>
          val s7 = perDay.slice(i - 7, i).sum
          val z = math.floor(1000000.0 * (x.toDouble - s7.toDouble / 7.0) /
            math.sqrt(s7.toDouble / 7.0)).toLong
          (ts(f"2024-01-${i + 1}%02d 00:00:00"), x, s7, z, z > 3000000L)
        }
        assert(got.map(g => (g.day_start, g.x, g.s7, g.z_ppm, g.spike)) ===
          expected)
        // the 5x day really flags and the calm day really does not
        assert(got.exists(_.spike) && got.exists(!_.spike))
        // under-history type never scored
        assert(!spark.table(name).as[SpikeDay].collect()
          .exists(_.event_type == "view"))
      } finally q.stop()
    } finally spark.conf.unset(GraftSession.StateStoreProviderConf)
  }

  test("cusumStream: watermark-ordered fold equals the sequential recurrence, " +
      "late rows fold in event order, state carries across epochs") {
    import graft.streaming.{CusumSummary, UserEvent}
    implicit val sqlCtx = spark.sqlContext
    spark.conf.set(GraftSession.StateStoreProviderConf,
      GraftSession.RocksDbProvider)
    try {
      val in = MemoryStream[UserEvent]
      val name = s"cusum_stream_${System.nanoTime()}"
      val q = StreamingPipeline.cusumStream(in.toDS(), delay = "1 hour")
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      def ts(s: String) = java.sql.Timestamp.valueOf(s)
      val allRows = Seq(
        UserEvent(1L, ts("2024-01-01 10:00:00"), 100.0),
        UserEvent(1L, ts("2024-01-01 10:05:00"), 400.0), // delivered LATE
        UserEvent(1L, ts("2024-01-01 10:10:00"), 200.0),
        UserEvent(1L, ts("2024-01-01 11:30:00"), 20.0), // second epoch
        UserEvent(2L, ts("2024-01-01 10:05:00"), 10.0),
        UserEvent(2L, ts("2024-01-01 10:15:00"), 500.0))
      try {
        // batch 1 in order minus the 10:05 row; batch 2 delivers it late
        // (still inside the 1 h delay), plus u2's alarm row
        in.addData(allRows(0), allRows(2), allRows(4))
        q.processAllAvailable()
        in.addData(allRows(1), allRows(5))
        q.processAllAvailable()
        // watermark to 11:00: epoch-1 timers fire, folding the buffered
        // rows in EVENT order (10:00, 10:05, 10:10) despite arrival order
        in.addData(UserEvent(99L, ts("2024-01-01 12:00:00"), 0.0))
        q.processAllAvailable()
        in.addData(UserEvent(99L, ts("2024-01-01 12:00:01"), 0.0))
        q.processAllAvailable()
        // epoch 2: one more u1 row after the first fold committed
        in.addData(allRows(3))
        q.processAllAvailable()
        in.addData(UserEvent(99L, ts("2024-01-02 00:00:00"), 0.0))
        q.processAllAvailable()
        in.addData(UserEvent(99L, ts("2024-01-02 00:00:01"), 0.0))
        q.processAllAvailable()
        val rows = spark.table(name).as[CusumSummary].collect().toSeq
          .filter(_.user_id < 90L)
        // driver replay of the exact recurrence over the full fixture
        val expected = allRows.groupBy(_.user_id).map { case (u, rs) =>
          var s = 0L; var maxS = 0L; var alarms = 0L
          rs.sortBy(r => (r.ts.getTime, r.value)).foreach { r =>
            s = math.max(0L, s + (math.round(r.value * 100) - 6000L))
            maxS = math.max(maxS, s)
            if (s > 30000L) alarms += 1
          }
          u -> ((rs.size.toLong, maxS / 100.0, alarms))
        }
        val last = rows.groupBy(_.user_id)
          .map { case (u, rs) => u -> rs.maxBy(_.n_events) }
        assert(last.keySet === Set(1L, 2L))
        last.foreach { case (u, got) =>
          val (n, maxS, alarms) = expected(u)
          assert(got.n_events === n, s"user $u n")
          assert(got.max_s === maxS, s"user $u max_s")
          assert(got.n_alarms === alarms, s"user $u alarms")
        }
        // the fold really ran twice for u1: an epoch-1 summary with three
        // events must exist alongside the final four-event one
        assert(rows.exists(r => r.user_id == 1L && r.n_events == 3L),
          s"missing intermediate epoch summary: $rows")
        // and the fixture genuinely alarms
        assert(last(1L).n_alarms > 0L && last(2L).n_alarms > 0L)
      } finally q.stop()
    } finally spark.conf.unset(GraftSession.StateStoreProviderConf)
  }

  test("gramStream: running scatter matrix equals the batch aggregate after every batch") {
    implicit val sqlCtx = spark.sqlContext
    val d = 3
    def batchGram(rows: Seq[VecRow]): (Long, Seq[Long]) = {
      val r = rows.toDF().agg(
        count(lit(1)).as("n_rows"),
        graft.functions.GramMatrix.gramMatrix(col("q"), d).as("gram")).head()
      (r.getLong(0), r.getSeq[Long](1).toSeq)
    }
    def snap(): (Long, Seq[Long]) = {
      val r = spark.table("gram_stream_test").head()
      (r.getLong(0), r.getSeq[Long](1).toSeq)
    }
    val input = MemoryStream[VecRow]
    // complete mode: the memory table always holds exactly the current
    // running aggregate — state is the one packed-triangle buffer
    val q = StreamingPipeline.gramStream(input.toDF(), d)
      .writeStream.format("memory").queryName("gram_stream_test")
      .outputMode("complete").start()
    try {
      val b1 = Seq(VecRow(1L, Array(1L, 2L, 3L)), VecRow(2L, Array(-1L, 0L, 5L)))
      input.addData(b1: _*)
      q.processAllAvailable()
      assert(snap() == batchGram(b1))
      val b2 = Seq(VecRow(3L, Array(10L, -7L, 2L)), VecRow(4L, Array(0L, 0L, 0L)))
      input.addData(b2: _*)
      q.processAllAvailable()
      // incremental maintenance across micro-batches == one batch pass
      assert(snap() == batchGram(b1 ++ b2))
      // and the triangle is the exact integer outer-product sum
      val expect = Seq((1, 1), (1, 2), (1, 3), (2, 2), (2, 3), (3, 3)).map {
        case (i, j) => (b1 ++ b2).map(v => v.q(i - 1) * v.q(j - 1)).sum }
      assert(snap()._2 == expect)
    } finally q.stop()
  }

  test("hllStream: registers equal the driver sketch, replays are idempotent") {
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val input = MemoryStream[UserEvent]
    val q = StreamingPipeline.hllStream(input.toDS())
      .writeStream.format("memory").queryName("hll_stream_test")
      .outputMode("update").start()
    def registers(): Map[Long, Long] =
      spark.table("hll_stream_test").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).map { case (b, rs) => b -> rs.map(_._2).max }
    def driverSketch(ids: Seq[Long]): Map[Long, Long] =
      ids.distinct.map { k =>
        val h = functions.HashOps.mix64(k)
        val rest = h & ((1L << 52) - 1)
        val rho = if (rest == 0) 53L
          else 53L - (64 - java.lang.Long.numberOfLeadingZeros(rest))
        (h >>> 52, rho)
      }.groupBy(_._1).map { case (b, rs) => b -> rs.map(_._2).max }
    try {
      val b1 = (1L to 200L).map(u =>
        UserEvent(u, ts("2024-01-01 10:00:00"), 1.0))
      input.addData(b1: _*)
      q.processAllAvailable()
      assert(registers() == driverSketch(b1.map(_.user_id)))
      // second batch: 100 replayed users (must not move any register) +
      // 100 new ones
      val b2 = (101L to 300L).map(u =>
        UserEvent(u, ts("2024-01-01 10:05:00"), 1.0))
      input.addData(b2: _*)
      q.processAllAvailable()
      val regs = registers()
      assert(regs == driverSketch((1L to 300L)))
      // serving-side closing fold (same as batch agg_hll_estimate):
      // small-range branch → linear counting, within 5% of 300 truth
      val vZero = 4096L - regs.size
      val est = 4096 * math.log(4096.0 / vZero)
      assert(math.abs(est / 300.0 - 1.0) < 0.05, s"est $est")
    } finally q.stop()
  }

  test("quantileStream: GK windows contain exact ranks at every emission") {
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val input = MemoryStream[UserEvent]
    val qs = Seq(0.5, 0.95, 0.99)
    val q = StreamingPipeline.quantileStream(input.toDS(), 0.01, qs)
      .writeStream.format("memory").queryName("gk_stream_test")
      .outputMode("update").start()
    def check(valuesSoFar: Seq[Double]): Unit = {
      // update-mode memory sink keeps one row per emission; latest wins
      val row = spark.table("gk_stream_test").collect()
        .maxBy(_.getLong(0))
      assert(row.getLong(0) == valuesSoFar.size.toLong)
      val gk = row.getStruct(1)
      assert(gk.getLong(0) == valuesSoFar.size.toLong)
      val sorted = valuesSoFar.sorted
      val bounds = gk.getSeq[org.apache.spark.sql.Row](1)
      assert(bounds.map(_.getDouble(0)) == qs)
      bounds.foreach { b =>
        val (quant, lo, hi) = (b.getDouble(0), b.getDouble(1), b.getDouble(2))
        // the two interpolation ranks the batch confirm pass would sort for
        val base = math.floor(quant * (sorted.size - 1)).toInt
        Seq(base, math.min(base + 1, sorted.size - 1)).foreach { r =>
          assert(sorted(r) >= lo && sorted(r) <= hi,
            s"q=$quant rank $r value ${sorted(r)} outside [$lo, $hi]")
        }
      }
    }
    try {
      // deterministic shuffled-ish values: decorrelate from arrival order
      val b1 = (1 to 500).map(i =>
        UserEvent(i.toLong, ts("2024-01-01 10:00:00"),
          ((i * 131) % 997).toDouble))
      input.addData(b1: _*)
      q.processAllAvailable()
      check(b1.map(_.value))
      // second micro-batch merges into the SAME O(1/eps) summary
      val b2 = (501 to 900).map(i =>
        UserEvent(i.toLong, ts("2024-01-01 10:05:00"),
          ((i * 733) % 1009).toDouble))
      input.addData(b2: _*)
      q.processAllAvailable()
      check((b1 ++ b2).map(_.value))
    } finally q.stop()
  }

  test("cmsStream: point estimates never undercount at every emission") {
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val input = MemoryStream[UserEvent]
    val (depth, width) = (4, 256)
    val q = StreamingPipeline.cmsStream(input.toDS(), depth, width)
      .writeStream.format("memory").queryName("cms_stream_test")
      .outputMode("update").start()
    def check(keysSoFar: Seq[Long]): Unit = {
      val row = spark.table("cms_stream_test").collect().maxBy(_.getLong(0))
      assert(row.getLong(0) == keysSoFar.size.toLong)
      val grid = row.getSeq[Long](1)
      assert(grid.size == depth * width)
      // mass conservation: each row of the grid holds exactly n counts
      assert(grid.sum == depth.toLong * keysSoFar.size)
      val trueCounts =
        keysSoFar.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      trueCounts.foreach { case (k, n) =>
        val cells = graft.functions.CountMinOps.cells(
          org.apache.spark.unsafe.types.UTF8String.fromString(k.toString),
          depth, width)
        val est =
          (0 until depth).map(r => grid(r * width + cells.getLong(r).toInt)).min
        assert(est >= n, s"key $k undercounted: est $est < true $n")
      }
    }
    try {
      val b1 = (1 to 400).map(i =>
        UserEvent((i * i % 37).toLong, ts("2024-01-01 10:00:00"), 1.0))
      input.addData(b1: _*)
      q.processAllAvailable()
      check(b1.map(_.user_id))
      // second micro-batch merges cell-wise into the SAME grid
      val b2 = (1 to 300).map(i =>
        UserEvent((i % 151).toLong, ts("2024-01-01 10:05:00"), 1.0))
      input.addData(b2: _*)
      q.processAllAvailable()
      check((b1 ++ b2).map(_.user_id))
    } finally q.stop()
  }

  test("topkStream: Misra-Gries guarantee holds across micro-batch merges") {
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val input = MemoryStream[UserEvent]
    val k = 8
    val q = StreamingPipeline.topkStream(input.toDS(), k)
      .writeStream.format("memory").queryName("topk_stream_test")
      .outputMode("update").start()
    def check(keysSoFar: Seq[Long]): Unit = {
      val row = spark.table("topk_stream_test").collect().maxBy(_.getLong(0))
      val n = keysSoFar.size.toLong
      assert(row.getLong(0) == n)
      val mg = row.getStruct(1)
      assert(mg.getLong(0) == n)
      val items = mg.getSeq[org.apache.spark.sql.Row](1)
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(items.size <= k)
      val trueCounts =
        keysSoFar.groupBy(identity).map { case (kk, v) => kk -> v.size.toLong }
      val thresh = n / (k + 1)
      // every key with true frequency > n/(k+1) must be present
      trueCounts.foreach { case (kk, c) =>
        if (c > thresh)
          assert(items.contains(kk),
            s"heavy key $kk (count $c > n/(k+1)=$thresh) missing")
      }
      // reported counts are lower bounds short by at most n/(k+1)
      items.foreach { case (kk, lb) =>
        val c = trueCounts.getOrElse(kk, 0L)
        assert(lb <= c, s"key $kk lb $lb overcounts true $c")
        assert(c - lb <= thresh, s"key $kk lb $lb short of $c by > $thresh")
      }
    }
    try {
      // skew: key 1 very heavy, 2-4 heavy, long tail of singletons
      val b1 = (1 to 300).map { i =>
        val key = if (i % 2 == 0) 1L else if (i % 3 == 0) 2L
          else if (i % 5 == 0) 3L else 100L + i
        UserEvent(key, ts("2024-01-01 10:00:00"), 1.0)
      }
      input.addData(b1: _*)
      q.processAllAvailable()
      check(b1.map(_.user_id))
      // second batch shifts the weights: a NEW heavy key must displace
      // tail candidates through the merge
      val b2 = (1 to 250).map { i =>
        val key = if (i % 2 == 0) 4L else if (i % 3 == 0) 1L else 1000L + i
        UserEvent(key, ts("2024-01-01 10:05:00"), 1.0)
      }
      input.addData(b2: _*)
      q.processAllAvailable()
      check((b1 ++ b2).map(_.user_id))
    } finally q.stop()
  }
}
