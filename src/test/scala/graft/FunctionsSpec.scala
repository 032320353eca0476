package graft

import graft.functions.{HashFunctions, HashOps, TextFunctions, VectorFunctions}
import org.apache.spark.sql.functions._

/** Text, vector, and hash function invariants. */
class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  // ------------------------------------------------------------ text

  test("tokenCount: whitespace handling") {
    val df = Seq("a b c", "  a   b  ", "", "   ", "one").toDF("t")
      .select(TextFunctions.tokenCount(col("t")).as("n")).as[Long].collect()
    assert(df.toSeq == Seq(3L, 2L, 0L, 0L, 1L))
  }

  test("shingleHashes: n-token windows, short docs get one shingle") {
    // each shingle is the polynomial combine of its tokens' FNV hashes
    def shingle(ts: String*): Long = ts.foldLeft(1125899906842597L) { (h, t) =>
      h * 31L + HashOps.fnv64(org.apache.spark.unsafe.types.UTF8String.fromString(t))
    }
    def hashes(text: String): Seq[Long] = Seq(text).toDF("t")
      .select(HashFunctions.shingleHashes(TextFunctions.tokens(col("t")), 3).as("s"))
      .as[Seq[Long]].head()
    assert(hashes("a b c d") == Seq(shingle("a", "b", "c"), shingle("b", "c", "d")))
    assert(hashes("a b") == Seq(shingle("a", "b")))
  }

  test("contentFingerprint: whitespace/case-insensitive, content-sensitive") {
    val fps = Seq("Hello  World", "hello world", "hello world!").toDF("t")
      .select(TextFunctions.contentFingerprint(col("t")).as("f"))
      .as[String].collect()
    assert(fps(0) == fps(1))
    assert(fps(0) != fps(2))
  }

  test("qualityScore in [0,1]; natural text beats punctuation soup") {
    val rows = Seq(
      "the quick brown fox jumps over the lazy dog and runs to the hills",
      "!!! ### $$$ %%% ^^^ &&& *** ((( )))").toDF("t")
      .select(TextFunctions.qualityScore(col("t")).as("q")).as[Double].collect()
    assert(rows.forall(q => q >= 0.0 && q <= 1.0))
    assert(rows(0) > rows(1))
  }

  test("langIdHeuristic picks marker-dominant language") {
    val got = Seq(
      "the cat and the dog of the house is in the garden",
      "el perro de la casa y los gatos de la ciudad",
      "le chat et les chiens de la maison et des jardins",
      "der hund und die katze ist von das haus",
      "xyzzy plugh").toDF("t")
      .select(TextFunctions.langIdHeuristic(col("t")).as("l")).as[String].collect()
    assert(got.toSeq == Seq("en", "es", "fr", "de", "und"))
  }

  test("fnv64: reference vectors, null-safe, SQL-registered") {
    // vectors recomputed independently (FNV-1a 64, two's-complement)
    val df = Seq("a", "hello world", "").toDF("s")
      .select(HashFunctions.fnv64(col("s")).as("h"))
    assert(df.collect().map(_.getLong(0)).toSeq ===
      Seq(-5808556873153909620L, 8618312879776256743L, -3750763034362895579L))
    val n = Seq[Option[String]](None).toDF("s")
      .select(HashFunctions.fnv64(col("s"))).collect()
    assert(n.head.isNullAt(0))
    graft.functions.GraftFunctions.registerAll(spark)
    assert(spark.sql("SELECT fnv64('a') h").collect().head.getLong(0) ===
      -5808556873153909620L)
  }

  test("es_max_draw: matches independent recompute, monotone in w, SQL-registered") {
    // independent recompute: max of w seeded splitmix64 draws
    def ref(base: Long, w: Int): Long =
      (1 to w).map(j => HashOps.mix64(base ^ (j * 0x9e3779b97f4a7c15L))).max
    val cases = Seq((0L, 1), (42L, 1), (42L, 7), (-1L, 25), (123456789L, 50))
    val got = cases.toDF("b", "w")
      .select(HashFunctions.esMaxDraw(col("b"), col("w")).as("p"))
      .as[Long].collect().toSeq
    assert(got === cases.map { case (b, w) => ref(b, w) })
    // max over a superset of draws can only grow: priority is monotone
    // non-decreasing in w for a fixed base (the E–S weight ordering)
    val inc = (1 to 60).map(w => ref(9876L, w))
    assert(inc.zip(inc.tail).forall { case (a, b) => a <= b })
    graft.functions.GraftFunctions.registerAll(spark)
    assert(spark.sql("SELECT es_max_draw(42L, 7) p").collect().head.getLong(0)
      === ref(42L, 7))
    // null-safe both sides
    assert(spark.sql("SELECT es_max_draw(CAST(NULL AS BIGINT), 7) p")
      .collect().head.isNullAt(0))
  }

  test("GraftExtensions injects every native function (spark.sql.extensions route)") {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.GraftExtensions().apply(ext)
    val reg = org.apache.spark.sql.graft.Bridge.appliedFunctionRegistry(ext)
    for (f <- graft.functions.GraftFunctions.builders.map(_._1))
      assert(reg.functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier(f)), f)
  }

  test("randomProjection: dims respected, signs agree with hyperplaneSig bits, SQL route") {
    val df = Seq((1L, Array(0.5f, -1.25f, 2.0f, 0.75f)))
      .toDF("vec_id", "embedding")
      .select(
        HashFunctions.randomProjection(col("embedding"), 8, 0).as("proj"),
        HashFunctions.hyperplaneSignature(col("embedding"), 8, 0).as("sig"))
    val row = df.collect().head
    val proj = row.getSeq[Double](0)
    val sig = row.getLong(1)
    assert(proj.length == 8)
    // the signature signs exactly these projections
    for (b <- 0 until 8)
      assert(((sig >> b) & 1L) == (if (proj(b) >= 0) 1L else 0L), s"bit $b of $proj")
    graft.functions.GraftFunctions.registerAll(spark)
    val viaSql = spark.sql(
      "SELECT random_projection(array(CAST(1.0 AS FLOAT)), 2, 0) p")
      .collect().head.getSeq[Double](0)
    assert(viaSql.length == 2)
  }

  test("rollingHash is order-sensitive") {
    val hs = Seq("alpha beta gamma", "gamma beta alpha").toDF("t")
      .select(TextFunctions.rollingHash(col("t")).as("h")).as[Long].collect()
    assert(hs(0) != hs(1))
  }

  test("linearMargin: matches per-feature weight sum, order-sensitive, null-safe") {
    // reference: unigram fnv weights + bigram shingle weights, by hand
    def w(h: Long) = (HashOps.mix64(h) & 1023L) - 512L
    def fnv(s: String) =
      HashOps.fnv64(org.apache.spark.unsafe.types.UTF8String.fromString(s))
    val toks = Seq("alpha", "beta", "gamma")
    val uni = toks.map(t => w(fnv(t))).sum
    val th = toks.map(fnv)
    val bi = th.sliding(2).map(p =>
      w((1125899906842597L * 31L + p(0)) * 31L + p(1))).sum
    val got = Seq((Some("alpha beta gamma"), 1), (None, 2))
      .toDF("text", "id")
      .select(HashFunctions.linearMargin(
        TextFunctions.tokens(lower(col("text")))).as("m"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    assert(got(0) === Some(uni + bi))
    assert(got(1) === None)
    // permuted tokens change bigram features ⇒ (almost surely) the margin
    val p = Seq("gamma beta alpha").toDF("text")
      .select(HashFunctions.linearMargin(
        TextFunctions.tokens(lower(col("text")))).as("m"))
      .as[Long].head()
    assert(p !== (uni + bi))
  }

  // ------------------------------------------------------------ vectors

  test("cosineSim native matches builtin HOF formulation") {
    val rnd = new scala.util.Random(7)
    val rows = (0 until 50).map { i =>
      (Array.fill(16)(rnd.nextFloat() * 2 - 1), Array.fill(16)(rnd.nextFloat() * 2 - 1))
    }
    val df = rows.toDF("a", "b").select(
      VectorFunctions.cosineSim(col("a"), col("b")).as("native"),
      VectorFunctions.cosineSimBuiltin(col("a"), col("b")).as("hof"))
    val bad = df.filter(abs(col("native") - col("hof")) > 1e-9).count()
    assert(bad == 0)
  }

  test("cosineSim: parallel=1, antiparallel=-1, orthogonal=0, zero-vec=0") {
    val df = Seq(
      (Array(1f, 2f, 3f), Array(2f, 4f, 6f)),
      (Array(1f, 0f, 0f), Array(-1f, 0f, 0f)),
      (Array(1f, 0f, 0f), Array(0f, 1f, 0f)),
      (Array(0f, 0f, 0f), Array(1f, 2f, 3f))).toDF("a", "b")
      .select(VectorFunctions.cosineSim(col("a"), col("b")).as("c"))
      .as[Double].collect()
    assert(math.abs(df(0) - 1.0) < 1e-12)
    assert(math.abs(df(1) + 1.0) < 1e-12)
    assert(math.abs(df(2)) < 1e-12)
    assert(df(3) == 0.0)
  }

  test("hyperplaneSignature: deterministic, seed-dependent, in range") {
    val v = Seq(Array.tabulate(8)(i => (i + 1).toFloat)).toDF("v")
    val s1 = v.select(VectorFunctions.hyperplaneSignature(col("v"), 12, 0).as("s")).as[Long].head()
    val s1b = v.select(VectorFunctions.hyperplaneSignature(col("v"), 12, 0).as("s")).as[Long].head()
    val s2 = v.select(VectorFunctions.hyperplaneSignature(col("v"), 12, 1).as("s")).as[Long].head()
    assert(s1 == s1b)
    assert(s1 >= 0 && s1 < (1L << 12))
    assert(s1 != s2) // different hyperplane family
  }

  // ------------------------------------------------------------ hashes

  test("simhash64: equal texts equal; near texts close; far texts far") {
    val texts = Seq(
      "spark is a unified analytics engine for large scale data processing",
      "spark is a unified analytics engine for large scale data processing",
      "spark is a unified analytics engine for large scale data processing today",
      "completely different words about gardening tulips roses and daffodils bloom")
    val hs = texts.toDF("t")
      .select(HashFunctions.simhash64(TextFunctions.tokens(lower(col("t")))).as("h"))
      .as[Long].collect()
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hs(0) == hs(1))
    assert(ham(hs(0), hs(2)) <= 12)
    assert(ham(hs(0), hs(3)) > 12)
  }

  test("SQL surface: registered native functions callable from spark.sql") {
    graft.functions.GraftFunctions.registerAll(spark)
    Seq((Array(1f, 0f), Array(1f, 0f), "a b c a b c")).toDF("x", "y", "t")
      .createOrReplaceTempView("sqlfn_test")
    val r = spark.sql("""
      SELECT cosine_similarity(x, y) AS cos,
             simhash64(split(t, ' ')) AS sh,
             minhash_hashes(shingle_hashes(split(t, ' '), 2), 8) AS mh
      FROM sqlfn_test""").collect().head
    assert(math.abs(r.getAs[Double]("cos") - 1.0) < 1e-12)
    assert(r.getSeq[Long](r.fieldIndex("mh")).size == 8)
    val agg = spark.sql(
      "SELECT bounded_count_distinct(id, 1000, 12) FROM range(500)")
      .collect().head.getLong(0)
    assert(agg == 500L)
  }

  test("maskPii: email/ip/phone redacted, ordinary text and versions untouched") {
    val masked = Seq(
      "mail a.b+c@sub.example.org now",
      "host 10.0.255.7 and phone +1 555-123-4567 or 555 1234 5678",
      "version 1.2.3 stays, 1.2.3.4.5 keeps tail, a@b stays (no tld)")
      .toDF("t").select(TextFunctions.maskPii(col("t")).as("m"))
      .as[String].collect()
    assert(masked(0) == "mail [EMAIL] now")
    assert(masked(1) == "host [IP] and phone [PHONE] or [PHONE]")
    // 1.2.3 is not an IPv4; 1.2.3.4.5 — the first four octets match, the
    // dangling .5 survives; a@b lacks a dot-TLD so it is not an email
    assert(masked(2) == "version 1.2.3 stays, [IP].5 keeps tail, a@b stays (no tld)")
  }

  test("tokenChunks: stride windows, short tail, exact-fit, empty doc") {
    val chunks = Seq(
      (1L, (1 to 10).map(i => s"w$i").mkString(" ")), // 10 tokens
      (2L, "only three tokens"),
      (3L, "   "),
      (4L, (1 to 8).map(i => s"v$i").mkString(" ")))  // exact 2 strides
      .toDF("id", "t")
      .select(col("id"), TextFunctions.tokenChunks(col("t"), 4, 4).as("c"))
      .as[(Long, Seq[String])].collect().toMap
    assert(chunks(1L) == Seq("w1 w2 w3 w4", "w5 w6 w7 w8", "w9 w10"))
    assert(chunks(2L) == Seq("only three tokens"))
    assert(chunks(3L) == Seq.empty)
    assert(chunks(4L) == Seq("v1 v2 v3 v4", "v5 v6 v7 v8"))
    // overlapping: stride < chunk
    val ov = Seq("a b c d e").toDF("t")
      .select(TextFunctions.tokenChunks(col("t"), 3, 2).as("c"))
      .as[Seq[String]].head()
    assert(ov == Seq("a b c", "c d e", "e"))
  }

  test("canonicalUrl: case, ports, utm runs, fragments, trailing slash") {
    val canon = Seq(
      "HTTPS://Ex.COM:443/Path/X?utm_source=a&utm_medium=b&utm_term=c&id=9#frag",
      "http://ex.com:80/",
      "https://ex.com/p/?utm_campaign=x",
      "https://ex.com:8443/keep-port",
      "https://ex.com/a?id=1&utm_source=t")
      .toDF("u").select(TextFunctions.canonicalUrl(col("u")).as("c"))
      .as[String].collect()
    assert(canon(0) == "https://ex.com/Path/X?id=9")
    assert(canon(1) == "http://ex.com")
    assert(canon(2) == "https://ex.com/p")
    assert(canon(3) == "https://ex.com:8443/keep-port") // non-default port kept
    assert(canon(4) == "https://ex.com/a?id=1")
  }

  test("minhash signature: deterministic, k slots, jaccard-correlated") {
    val df = Seq(
      "a b c d e f g h i j k l m n o p",
      "a b c d e f g h i j k l m n o q",  // ~high overlap
      "z y x w v u t s r q p o n m l k"). // low overlap vs first
      toDF("t").select(
        HashFunctions.minhashSignature(TextFunctions.tokens(col("t")), 64).as("sig"))
    val sigs = df.as[Seq[Long]].collect()
    assert(sigs.forall(_.size == 64))
    def agree(a: Seq[Long], b: Seq[Long]) = a.zip(b).count { case (x, y) => x == y }
    assert(agree(sigs(0), sigs(1)) > agree(sigs(0), sigs(2)))
  }

  test("mix64: the native expression equals HashOps.mix64, interpreted and codegen'd") {
    import org.apache.spark.sql.execution.{ProjectExec, SparkPlan, WholeStageCodegenExec}
    object Plans extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val r = new scala.util.Random(20261020L)
    val longs = Seq(0L, -1L, Long.MinValue, Long.MaxValue) ++ Seq.fill(200)(r.nextLong())
    val ints = Seq(0, -1, Int.MinValue, Int.MaxValue) ++ Seq.fill(50)(r.nextInt())
    def withConf[T](kv: (String, String)*)(body: => T): T = {
      val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
      kv.foreach { case (k, v) => spark.conf.set(k, v) }
      try body finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    for (codegen <- Seq(false, true)) withConf(
        "spark.sql.codegen.wholeStage" -> codegen.toString,
        "spark.sql.codegen.factoryMode" -> (if (codegen) "CODEGEN_ONLY" else "NO_CODEGEN")) {
      // the repartition keeps the projection out of the local relation,
      // so it runs in the physical plan
      val l = longs.toDF("v").repartition(2)
        .select(col("v"), HashFunctions.mix64(col("v")).as("h"))
      val i = ints.toDF("v").repartition(2)
        .select(col("v"), HashFunctions.mix64(col("v")).as("h"))
      assert(i.schema("h").dataType == org.apache.spark.sql.types.LongType)
      assert(l.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
        longs.map(v => v -> HashOps.mix64(v)).toMap)
      assert(i.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap ==
        ints.map(v => v -> HashOps.mix64(v.toLong)).toMap)
      // the plans that ran
      for (df <- Seq(l, i)) {
        val plan = df.queryExecution.executedPlan
        def has(p: SparkPlan => Boolean) = Plans.find(plan)(p).isDefined
        assert(has(_.isInstanceOf[WholeStageCodegenExec]) == codegen, plan)
        assert(has(_.isInstanceOf[ProjectExec]), plan)
      }
    }
    // a null key hashes to null
    assert(Seq[Option[Long]](None).toDF("v").repartition(1)
      .select(HashFunctions.mix64(col("v"))).head().isNullAt(0))
  }
}
