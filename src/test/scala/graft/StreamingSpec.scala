package graft

import graft.streaming.{StreamingExtensions, StreamingPipeline}
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

  test("StreamingPipeline's public defs are exactly the reference topology and its helpers") {
    // extension operators belong in StreamingExtensions; the reflection
    // skips compiler-made lambdas (synthetic) and default-argument getters
    val defs = StreamingPipeline.getClass.getDeclaredMethods.toSeq
      .filter(m => java.lang.reflect.Modifier.isPublic(m.getModifiers) && !m.isSynthetic)
      .map(_.getName).filterNot(_.contains("$default$")).toSet
    assert(defs === Set("expediaSchema", "fromJsonPayload", "enrich", "toJsonPayload",
      "hotelsCount", "hotelsCountBounded", "changelogWriter", "startMemoryChangelog",
      "materializeChangelog", "readMaterialized"))
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
      // malformed row: the decode yields a struct of null fields, as
      // from_json does → id null
      assert(out.length == 3)
      val cats = out.map(s =>
        "\"stay_category\":\"([^\"]+)\"".r.findFirstMatchIn(s).map(_.group(1)))
      assert(cats.flatten.toSet == Set("Short stay", "Long stay", "Erroneous data"))
    } finally q.stop()
  }

  /** Wire payloads as Kafka delivers them: binary `value`s, null
    * included. Edge cases of the bytes, the text and the JSON, several of
    * them inside a field the changelog reads (srch_ci, srch_co, hotel_id)
    * and again inside one it does not. */
  private val wirePayloads: Seq[Option[Array[Byte]]] = {
    import java.nio.charset.StandardCharsets.{UTF_16, UTF_16LE, UTF_8}
    def b(bytes: Int*): Array[Byte] = bytes.map(_.toByte).toArray
    val full = """{"id":1,"date_time":"2015-08-18 12:37:10","site_name":2,""" +
      """"posa_container":3,"user_location_country":66,"user_location_region":348,""" +
      """"user_location_city":48862,"orig_destination_distance":2234.2641,""" +
      """"user_id":12,"is_mobile":0,"is_package":1,"channel":9,""" +
      """"srch_ci":"2017-08-01","srch_co":"2017-08-05","srch_adults_cnt":2,""" +
      """"srch_children_cnt":0,"srch_rm_cnt":1,"srch_destination_id":8250,""" +
      """"srch_destination_type_id":1,"hotel_id":2336462864384}"""
    val text = Seq(
      "", "   ", "\t\n", "null", "not json", "42", "\"str\"",
      """{"id":1,"hotel_id":10,"srch_ci":"2020-""",
      """[{"id":2,"hotel_id":20}]""", "[]", "{}", full,
      """{"id":"three","hotel_id":30}""",
      """{"id":4,"hotel_id":40,"extra":"x"}""",
      // non-ASCII text and unicode escapes, in read and unread fields
      "{\"id\":10,\"date_time\":\"Zürich 東京 😀\",\"srch_ci\":\"2020\\u002d01\\u002d01\"," +
        "\"srch_co\":\"2020-01-05\",\"hotel_id\":100,\"x\":\"\\u00e9\\ud83d\\ude00\"}",
      // type mismatch in an unread field, and in a read one
      """{"id":11,"site_name":"abc","srch_ci":"2020-01-01","srch_co":"2020-01-02","hotel_id":110}""",
      """{"id":12,"srch_ci":7,"srch_co":"2020-01-02","hotel_id":"120"}""",
      """{"hotel_id":true,"is_mobile":[1]}""",
      // duplicate keys
      """{"id":13,"hotel_id":130,"hotel_id":131,"srch_ci":"2020-01-01","srch_ci":"2020-02-01","srch_co":"2020-02-03"}""",
      // 1e3 and 1.0 for a LONG
      """{"id":14,"hotel_id":1e3,"srch_ci":"2020-01-01","srch_co":"2020-01-02"}""",
      """{"id":15,"hotel_id":1.0,"user_id":2e1}""",
      // overflow in a read LONG, an unread LONG and an unread INT
      """{"id":16,"hotel_id":99999999999999999999}""",
      """{"id":99999999999999999999,"site_name":99999999999,"hotel_id":170}""",
      // syntax error before and after hotel_id
      """{"id":18,"srch_ci":"2020-01-01" "hotel_id":180}""",
      """{"id":19,"hotel_id":190,"srch_co":}""",
      """{"id":20,"hotel_id":200,"date_time":"x""",
      // trailing garbage
      """{"id":21,"hotel_id":210} xyz""",
      """{"id":22,"hotel_id":220}}""",
      """{"id":23,"hotel_id":230}{"id":24,"hotel_id":240}""",
      // control characters: raw in an unread and in a read string, escaped
      "{\"id\":25,\"date_time\":\"a\tb\",\"hotel_id\":250}",
      "{\"id\":26,\"srch_ci\":\"2020\n01\",\"hotel_id\":260}",
      "{\"id\":27,\"date_time\":\"a\\tb\\u0001\",\"hotel_id\":270}",
      // an escape JSON does not define, in an unread string
      """{"id":31,"date_time":"a\qb","hotel_id":310}""",
      // nested values in unread fields, case-mismatched names
      """{"id":28,"extra":{"a":[1,2,{"b":null}]},"hotel_id":280}""",
      """{"HOTEL_ID":29,"Srch_ci":"2020-01-01"}""",
      // whitespace around the object
      " \n {\"id\":30,\"hotel_id\":300} \r\n")
      .map(_.getBytes(UTF_8))
    val bytes = Seq(
      // invalid UTF-8 inside a read field, and inside an unread one
      """{"id":40,"srch_ci":"2020-01-0""".getBytes(UTF_8) ++ b(0xff) ++
        """","srch_co":"2020-01-03","hotel_id":400}""".getBytes(UTF_8),
      """{"id":41,"date_time":"""".getBytes(UTF_8) ++ b(0xc3, 0x28, 0xe2, 0x82) ++
        """","srch_ci":"2020-01-01","srch_co":"2020-01-03","hotel_id":410}""".getBytes(UTF_8),
      // a UTF-8 BOM, a leading NUL
      b(0xef, 0xbb, 0xbf) ++ """{"id":42,"hotel_id":420}""".getBytes(UTF_8),
      b(0x00) ++ """{"id":43,"hotel_id":430}""".getBytes(UTF_8),
      // UTF-16 without and with a BOM
      """{"id":44,"hotel_id":440}""".getBytes(UTF_16LE),
      """{"id":45,"hotel_id":450}""".getBytes(UTF_16))
    None +: (text ++ bytes).map(Some(_))
  }

  /** Jackson's whitespace; a payload of only these decodes to no record. */
  private def blank(p: Array[Byte]): Boolean =
    new String(p, java.nio.charset.StandardCharsets.UTF_8)
      .forall(c => c == ' ' || c == '\t' || c == '\n' || c == '\r')

  /** The payloads as a file-backed binary `value` column. File-backed on
    * purpose: a LocalRelation is folded at optimization time and its plan
    * would show no parse at all. */
  private def stagedPayloads(
      payloads: Seq[Option[Array[Byte]]] = wirePayloads): org.apache.spark.sql.DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_decode")
      .resolve("payloads").toString
    payloads.toDF("value").coalesce(1).write.parquet(dir)
    spark.read.parquet(dir)
  }

  /** The built-in reference: the former two-parse form, whose null filter
    * on the parsed struct Catalyst pushes below the projection as a
    * second `from_json`. */
  private def fromJsonReference(raw: org.apache.spark.sql.DataFrame) = raw
    .filter(col("value").isNotNull)
    .select(from_json(col("value").cast("string"),
      StreamingPipeline.expediaSchema).as("r"))
    .filter(col("r").isNotNull)
    .select("r.*")

  private def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  /** Fields parsed by each engine decode in the optimized plan. */
  private def decodedFields(df: org.apache.spark.sql.DataFrame): Seq[Seq[String]] =
    df.queryExecution.optimizedPlan.flatMap(_.expressions.flatMap(_.collect {
      case d: org.apache.spark.sql.graft.DecodeJsonPayload => d.schema.fieldNames.toSeq
    }))

  test("fromJsonPayload: one parse per payload, same rows as the two-parse form") {
    val raw = stagedPayloads()
    assert(raw.schema("value").dataType == org.apache.spark.sql.types.BinaryType)
    val once = StreamingPipeline.fromJsonPayload(raw)
    val twice = fromJsonReference(raw)
    assert(once.schema == twice.schema)
    assert(once.columns.length == 20)
    assert(sortedRows(once) == sortedRows(twice))
    val payloads = wirePayloads.flatten
    assert(sortedRows(once).size == payloads.count(p => !blank(p)),
      "null, empty and whitespace-only payloads must be dropped")
    def jsonToStructs(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.optimizedPlan.collect { case p =>
        p.expressions.map(_.collect {
          case j: org.apache.spark.sql.catalyst.expressions.JsonToStructs => j
        }.size).sum
      }.sum
    assert(jsonToStructs(twice) == 2)
    assert(jsonToStructs(once) == 0, once.queryExecution.optimizedPlan.toString)
    assert(decodedFields(once).size == 1, once.queryExecution.optimizedPlan.toString)
  }

  test("fromJsonPayload: the optimizer parses only the fields a query reads") {
    val raw = stagedPayloads()
    val ref = fromJsonReference(raw)
    val read = Seq("srch_ci", "srch_co", "hotel_id")
    val changelog = StreamingPipeline.hotelsCount(
      StreamingPipeline.enrich(StreamingPipeline.fromJsonPayload(raw)))
    val plan = changelog.queryExecution.optimizedPlan.toString
    assert(decodedFields(changelog) == Seq(read), plan)
    assert(decodedFields(StreamingPipeline.fromJsonPayload(raw)) ==
      Seq(StreamingPipeline.expediaSchema.fieldNames.toSeq))
    // a filter alone still returns all 20 columns, so nothing is dropped;
    // projecting after it keeps the filtered field and the projected one
    val filtered = StreamingPipeline.fromJsonPayload(raw).filter(col("hotel_id") > 0)
    assert(decodedFields(filtered).map(_.size) == Seq(20))
    assert(sortedRows(filtered) == sortedRows(ref.filter(col("hotel_id") > 0)))
    val projected = filtered.select("srch_ci")
    assert(decodedFields(projected) == Seq(Seq("srch_ci", "hotel_id")))
    assert(sortedRows(projected) ==
      sortedRows(ref.filter(col("hotel_id") > 0).select("srch_ci")))
    assert(StreamingPipeline.fromJsonPayload(raw).count() ==
      wirePayloads.flatten.count(p => !blank(p)))
    assert(StreamingPipeline.fromJsonPayload(raw).count() == ref.count())

    // pruned against unpruned: the engine without the rule, and from_json
    val pruned3 = StreamingPipeline.fromJsonPayload(raw).select(read.map(col): _*)
    val pruned = (sortedRows(pruned3), sortedRows(changelog))
    assert(decodedFields(pruned3) == Seq(read))
    val rule = org.apache.spark.sql.graft.PruneJsonPayloadFields.ruleName
    val key = "spark.sql.optimizer.excludedRules"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, rule)
    try {
      val whole3 = StreamingPipeline.fromJsonPayload(raw).select(read.map(col): _*)
      val wholeLog = StreamingPipeline.hotelsCount(
        StreamingPipeline.enrich(StreamingPipeline.fromJsonPayload(raw)))
      assert(decodedFields(whole3).map(_.size) == Seq(20))
      assert(decodedFields(wholeLog).map(_.size) == Seq(20))
      assert(pruned == ((sortedRows(whole3), sortedRows(wholeLog))))
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
    assert(pruned == ((sortedRows(ref.select(read.map(col): _*)),
      sortedRows(StreamingPipeline.hotelsCount(StreamingPipeline.enrich(ref))))))
  }

  /** Random payloads around the decode's fast path: shuffled field order,
    * whitespace, unknown nested fields, nulls, duplicate keys, boundary and
    * mistyped numbers, numbers for strings, truncation and trailing
    * content. */
  private def randomPayloads(n: Int, seed: Long): Seq[Option[Array[Byte]]] = {
    val r = new scala.util.Random(seed)
    import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}
    def pick[T](xs: T*): T = xs(r.nextInt(xs.length))
    def ws(): String = if (r.nextInt(4) == 0) pick(" ", "\n", "\t ", "  \r\n") else ""
    val numbers = Seq("0", "-0", "7", "2234.2641", "1e3", "1.0", "-2.5E-3", "\"12\"", "true",
      "false", "[1]", "{}",
      (Int.MaxValue - 1L).toString, Int.MaxValue.toString, (Int.MaxValue + 1L).toString,
      (Int.MinValue - 1L).toString, Int.MinValue.toString, (Int.MinValue + 1L).toString,
      (Long.MaxValue - 1L).toString, Long.MaxValue.toString, (BigInt(Long.MaxValue) + 1).toString,
      (BigInt(Long.MinValue) - 1).toString, Long.MinValue.toString, (Long.MinValue + 1L).toString)
    val strings = Seq("\"2017-08-01\"", "\"2017/08/05\"", "\"\"", "\"a\\\"b\"",
      "\"\\u00e9t\\u00e9\"", "\"Zürich\"", "42", "1.5", "true", "[\"x\"]")
    val unknown = Seq("\"extra\":{\"a\":[1,2,{\"b\":null}],\"c\":\"x\"}", "\"u\":[1,\"2\"]",
      "\"z\":\"s\"", "\"HOTEL_ID\":5", "\"n\":null")
    def value(f: org.apache.spark.sql.types.StructField): String =
      if (r.nextInt(10) == 0) "null"
      else f.dataType match {
        case LongType | IntegerType | DoubleType =>
          if (r.nextInt(3) == 0) pick(numbers: _*) else r.nextInt(100000).toString
        case _ =>
          if (r.nextInt(3) == 0) pick(strings: _*) else s"\"2020-0${1 + r.nextInt(9)}-1${r.nextInt(10)}\""
      }
    val fields = StreamingPipeline.expediaSchema.fields.toSeq
    (1 to n).map { _ =>
      val kept = r.shuffle(fields).take(r.nextInt(fields.length + 1))
      val dups = if (r.nextInt(5) == 0) Seq(pick(fields: _*)) else Nil
      val members = r.shuffle(
        (kept ++ dups).map(f => s"${ws()}\"${f.name}\"${ws()}:${ws()}${value(f)}") ++
          (if (r.nextInt(4) == 0) Seq(pick(unknown: _*)) else Nil))
      val obj = ws() + "{" + members.mkString(",") + ws() + "}" + ws()
      val text = r.nextInt(20) match {
        case 0 => obj.take(r.nextInt(obj.length))
        case 1 => obj + pick(" x", "}", "{}", "[]", "null", ",")
        case _ => obj
      }
      Some(text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
  }

  test("fromJsonPayload: randomized payloads decode as from_json does, pruned and whole") {
    val payloads = randomPayloads(2500, seed = 20261019L)
    val decode = org.apache.spark.sql.graft.DecodeJsonPayload(
      org.apache.spark.sql.catalyst.expressions.Literal(""), StreamingPipeline.expediaSchema,
      Some("UTC"))
    val fast = payloads.flatten.count(p =>
      decode.decodeFlat(org.apache.spark.unsafe.types.UTF8String.fromBytes(p)) != null)
    // both paths are exercised
    assert(fast > payloads.size / 10 && fast < payloads.size * 9 / 10, fast)
    val raw = stagedPayloads(payloads)
    val ref = fromJsonReference(raw)
    val whole = StreamingPipeline.fromJsonPayload(raw)
    assert(decodedFields(whole).map(_.size) == Seq(20))
    assert(sortedRows(whole) == sortedRows(ref))
    val read = Seq("srch_ci", "srch_co", "hotel_id")
    val pruned = StreamingPipeline.fromJsonPayload(raw).select(read.map(col): _*)
    assert(decodedFields(pruned) == Seq(read))
    assert(sortedRows(pruned) == sortedRows(ref.select(read.map(col): _*)))
  }

  test("fromJsonPayload: flat payloads take the fast path, the edge cases fall back") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.graft.DecodeJsonPayload
    import org.apache.spark.unsafe.types.UTF8String
    val whole = DecodeJsonPayload(Literal(""), StreamingPipeline.expediaSchema, Some("UTC"))
    val read = Seq("srch_ci", "srch_co", "hotel_id")
    val pruned = DecodeJsonPayload(Literal(""),
      org.apache.spark.sql.types.StructType(read.map(StreamingPipeline.expediaSchema(_))),
      Some("UTC"))
    // shaped like perfbench's PayloadGen line
    val generated = """{"id": 7, "date_time": "2017-07-30 12:37:10", "site_name": 2, """ +
      """"posa_container": 3, "user_location_country": 66, "user_location_region": 348, """ +
      """"user_location_city": 48862, "orig_destination_distance": 2234.26, """ +
      """"user_id": 12, "is_mobile": 0, "is_package": 1, "channel": 9, """ +
      """"srch_ci": "2017/08/01", "srch_co": "2017-08-05", "srch_adults_cnt": 2, """ +
      """"srch_children_cnt": 0, "srch_rm_cnt": 1, "srch_destination_id": 8250, """ +
      """"srch_destination_type_id": 1, "hotel_id": 2336462864384}"""
    for (d <- Seq(whole, pruned)) {
      val row = d.decodeFlat(UTF8String.fromString(generated))
      assert(row != null && row.numFields == d.schema.length)
      assert(row.getLong(d.schema.fieldIndex("hotel_id")) == 2336462864384L)
    }
    // the wire fixtures whose every token the fast path converts itself;
    // every other fixture must reach Spark's parser
    val flat = Set("{}", """{"id":4,"hotel_id":40,"extra":"x"}""",
      """{"id":13,"hotel_id":130,"hotel_id":131,"srch_ci":"2020-01-01","srch_ci":"2020-02-01","srch_co":"2020-02-03"}""",
      "{\"id\":27,\"date_time\":\"a\\tb\\u0001\",\"hotel_id\":270}",
      """{"id":28,"extra":{"a":[1,2,{"b":null}]},"hotel_id":280}""",
      """{"HOTEL_ID":29,"Srch_ci":"2020-01-01"}""",
      " \n {\"id\":30,\"hotel_id\":300} \r\n")
    val text = wirePayloads.flatten.map(new String(_, java.nio.charset.StandardCharsets.UTF_8))
    assert(text.count(_.startsWith("{\"id\":1,\"date_time\"")) == 1)
    val taken = wirePayloads.flatten.zip(text).map { case (p, s) =>
      s -> (whole.decodeFlat(UTF8String.fromBytes(p)) != null)
    }
    val expected = text.map(s => s -> (flat(s) || s.startsWith("{\"id\":1,\"date_time\"") ||
      s.contains("Zürich") || s.contains("\"id\":40,") || s.contains("\"id\":41,")))
    assert(taken == expected)
    assert(flat.forall(text.contains))
  }

  test("batch ivfTopK per micro-batch in foreachBatch equals ivfTopK over all queries") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Similarity
    val corpusDf = sources.Tables.load(spark, sfDir, "embeddings")
      .select("vec_id", "embedding")
    val centroidsDf = Similarity.kmeansCentroids(corpusDf, k = 4, iters = 2)
    val queryVecs = corpusDf.filter(col("vec_id") < 6)
      .as[(Long, Array[Float])].collect().sortBy(_._1)

    // the corpus stays a static frame: each micro-batch joins it, nothing
    // of it is collected to the driver
    val hits = scala.collection.mutable.ArrayBuffer[(Long, Int, Long)]()
    val input = MemoryStream[(Long, Array[Float])]
    val q = input.toDS().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[(Long, Array[Float])], _: Long) =>
        val topk = Similarity.ivfTopK(corpusDf, batch.toDF("query_id", "embedding"),
          centroidsDf, k = 5, nprobe = 2)
        hits.synchronized {
          hits ++= topk.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
        }
        ()
      }
      .start()
    try {
      input.addData(queryVecs.take(3).toSeq)
      q.processAllAvailable()
      input.addData(queryVecs.drop(3).toSeq)
      q.processAllAvailable()
      val batch = Similarity.ivfTopK(corpusDf,
        queryVecs.toSeq.toDF("query_id", "embedding"), centroidsDf, k = 5, nprobe = 2)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      assert(hits.nonEmpty)
      assert(hits.sorted === batch.toSeq.sorted)
    } finally q.stop()
  }

  test("transformWithState: running totals via the Spark-4 state API (RocksDB)") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.{UserEvent, UserTotalsUpdate}
    spark.conf.set(GraftSession.StateStoreProviderConf, GraftSession.RocksDbProvider)
    try {
      def ts(s: String) = java.sql.Timestamp.valueOf(s)
      val input = MemoryStream[UserEvent]
      val q = StreamingExtensions.runningUserTotals(input.toDS())
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

  test("watermark observability: late rows are dropped AND counted in progress metrics") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.UserEvent
    val input = MemoryStream[UserEvent]
    // update mode emits a window as soon as a row lands in it, so a late
    // row that slipped past the watermark would surface at once
    val q = StreamingExtensions.trendingStream(
        input.toDS(), "1 hour", delay = "10 minutes")
      .writeStream.format("memory").queryName("wm_obs")
      .outputMode("update").start()
    try {
      def ts(s: String) = java.sql.Timestamp.valueOf(s)
      input.addData(UserEvent(1L, ts("2024-01-01 10:00:00"), 1.0),
        UserEvent(1L, ts("2024-01-01 11:00:00"), 1.0))
      q.processAllAvailable() // watermark now 10:50
      input.addData(UserEvent(2L, ts("2024-01-01 09:00:00"), 1.0))
      q.processAllAvailable()
      val dropped = q.recentProgress.flatMap(_.stateOperators)
        .map(_.numRowsDroppedByWatermark).sum
      assert(dropped >= 1, s"late row not counted as dropped (dropped=$dropped)")
      // and the late row must not have produced a window of its own
      assert(spark.table("wm_obs")
        .filter(col("win_start") === lit(ts("2024-01-01 09:00:00"))).count() == 0)
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
    val q = StreamingExtensions.dedupStreamGrowingCorpus(
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
    def run(): Unit = StreamingExtensions.growCorpusBatch(batch, base, 7L,
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
      val q = StreamingExtensions.runningUserTotals(input.toDS(), ttlMs = 8000L)
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
    val q = StreamingExtensions.substrScrubStream(
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
    val q = StreamingExtensions.nearDupScrubStream(
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
    val gated = StreamingExtensions.qualityGateStream(
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
    val q = StreamingExtensions.fingerprintStream(
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
      def batchGrid(keys: Seq[String]): Seq[Long] = keys.toDF("key")
        .agg(graft.functions.CountMinFunctions.cmsSketch(col("key")).as("grid"))
        .as[Seq[Long]].head()
      input.addData(rows.take(150))
      q.processAllAvailable()
      // the first emission already equals the batch grid of its prefix
      assert(spark.table("cms_stream").as[Seq[Long]].head() === batchGrid(rows.take(150)))
      input.addData(rows.drop(150))
      q.processAllAvailable()
      val streamed = spark.table("cms_stream").as[Seq[Long]].head()
      val batch = batchGrid(rows)
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
    val q = StreamingExtensions.trendingStream(
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
    val q = StreamingExtensions.driftStream(input.toDS(), refHist,
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
          StreamingExtensions.asofNearestStream(
            li.toDS(), ri.toDS(), horizonMs = nearestHorizonMs, delay = "1 hour")
        else if (forwardHorizonMs > 0L)
          StreamingExtensions.asofForwardStream(
            li.toDS(), ri.toDS(), horizonMs = forwardHorizonMs, delay = "1 hour")
        else
          StreamingExtensions.asofBackwardStream(
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
      val q = StreamingExtensions.rateSpikeStream(in.toDS(), delay = "1 hour")
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
      val q = StreamingExtensions.cusumStream(in.toDS(), delay = "1 hour")
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
    val q = StreamingExtensions.gramStream(input.toDF(), d)
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
    val q = StreamingExtensions.hllStream(input.toDS())
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
    val q = StreamingExtensions.quantileStream(input.toDS(), 0.01, qs)
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

  test("topkStream: Misra-Gries guarantee holds across micro-batch merges") {
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val input = MemoryStream[UserEvent]
    val k = 8
    val q = StreamingExtensions.topkStream(input.toDS(), k)
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
