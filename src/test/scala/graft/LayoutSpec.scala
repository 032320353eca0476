package graft

import java.nio.file.Files

import graft.operators.Layout
import org.apache.spark.sql.functions._

/** Storage-layout behavior: partition pruning, bucketed shuffle-free
  * aggregation, dynamic partition overwrite. */
class LayoutSpec extends SparkSpec {
  import spark.implicits._

  test("hilbertKey: exact parity with the reference xy2d walk, bijective on a grid") {
    import spark.implicits._
    // reference implementation (Wikipedia xy2d, n = 2^16) — a third
    // implementation independent of both the Column chain and the oracle
    def xy2d(x0: Long, y0: Long): Long = {
      var (x, y, d) = (x0, y0, 0L)
      var s = 1L << 15
      val n = 1L << 16
      while (s > 0) {
        val rx = if ((x & s) > 0) 1L else 0L
        val ry = if ((y & s) > 0) 1L else 0L
        d += s * s * ((3 * rx) ^ ry)
        if (ry == 0) {
          if (rx == 1) { x = n - 1 - x; y = n - 1 - y }
          val t = x; x = y; y = t
        }
        s >>= 1
      }
      d
    }
    val rnd = new scala.util.Random(0x417BE27)
    val coords = (Seq((0L, 0L), (65535L, 0L), (0L, 65535L), (65535L, 65535L),
      (1L, 0L), (0L, 1L), (32768L, 32767L)) ++
      Seq.fill(500)((rnd.nextInt(65536).toLong, rnd.nextInt(65536).toLong)))
      .distinct
    val got = Layout.withHilbertKey(
        coords.toDF("l_partkey", "l_suppkey"), "l_partkey", "l_suppkey", "hkey")
      .select("l_partkey", "l_suppkey", "hkey")
      .as[(Long, Long, Long)].collect().toSeq
    got.foreach { case (x, y, d) =>
      assert(d == xy2d(x, y), s"($x,$y): got $d expected ${xy2d(x, y)}")
    }
    // bijectivity + curve-adjacency on a full 8x8 subgrid: consecutive d
    // values along the curve move exactly one grid step (the no-jumps
    // property Z-order lacks)
    val grid = for { x <- 0L until 8L; y <- 0L until 8L } yield (x, y)
    val keys = grid.map { case (x, y) => ((x, y), xy2d(x, y)) }
    assert(keys.map(_._2).distinct.size == 64)
    val sorted = keys.sortBy(_._2).map(_._1)
    sorted.sliding(2).foreach { case Seq((x1, y1), (x2, y2)) =>
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) == 1,
        s"curve jumped: ($x1,$y1)->($x2,$y2)"); case _ => }
  }

  test("hilbertKey: parity with the reference walk at every bits width") {
    import spark.implicits._
    // the packed state machine must agree with the textbook walk at ANY
    // recursion depth, not just the 16-bit default (the n-1 reflection
    // constant depends on bits; a depth-dependent bug would hide at 16)
    def xy2dAt(bits: Int)(x0: Long, y0: Long): Long = {
      var (x, y, d) = (x0, y0, 0L)
      var s = 1L << (bits - 1)
      val n = 1L << bits
      while (s > 0) {
        val rx = if ((x & s) > 0) 1L else 0L
        val ry = if ((y & s) > 0) 1L else 0L
        d += s * s * ((3 * rx) ^ ry)
        if (ry == 0) {
          if (rx == 1) { x = n - 1 - x; y = n - 1 - y }
          val t = x; x = y; y = t
        }
        s >>= 1
      }
      d
    }
    for (bits <- Seq(2, 4, 8)) {
      val m = (1L << bits) - 1
      val coords = (for { x <- 0L to math.min(m, 15L); y <- 0L to math.min(m, 15L) }
        yield (x, y)).toSeq
      val got = Layout.withHilbertKey(
          coords.toDF("a", "b"), "a", "b", "hk", bits = bits)
        .select("a", "b", "hk").as[(Long, Long, Long)].collect()
      got.foreach { case (x, y, d) =>
        assert(d == xy2dAt(bits)(x, y), s"bits=$bits ($x,$y)")
      }
    }
  }

  test("hilbert needs fewer curve segments per query rectangle than z-order") {
    // the clustering result the curve choice rests on (Moon et al., TKDE
    // 2001): a range query over (a, b) reads one contiguous key run per
    // "cluster" of the space-filling curve inside the rectangle — each
    // run is one seek/scan range at the storage layer. Hilbert averages
    // FEWER clusters than Morton for the same rectangles. Measured here
    // exhaustively: random rectangles on a 64x64 grid, runs counted on
    // the reference walks. (Box tightness of ALIGNED 4^k chunks is a
    // wash — both curves tile perfectly there — so run count, not box
    // size, is the honest metric.)
    def xy2d(x0: Long, y0: Long): Long = {
      var (x, y, d) = (x0, y0, 0L)
      var s = 1L << 15
      val n = 1L << 16
      while (s > 0) {
        val rx = if ((x & s) > 0) 1L else 0L
        val ry = if ((y & s) > 0) 1L else 0L
        d += s * s * ((3 * rx) ^ ry)
        if (ry == 0) {
          if (rx == 1) { x = n - 1 - x; y = n - 1 - y }
          val t = x; x = y; y = t
        }
        s >>= 1
      }
      d
    }
    def morton(x: Long, y: Long): Long =
      (0 until 16).foldLeft(0L)((acc, i) =>
        acc | (((x >> i) & 1L) << (2 * i + 1)) | (((y >> i) & 1L) << (2 * i)))
    def clusters(key: (Long, Long) => Long,
                 x0: Long, x1: Long, y0: Long, y1: Long): Int = {
      val ks = (for { x <- x0 to x1; y <- y0 to y1 } yield key(x, y)).sorted
      1 + ks.sliding(2).count { case Seq(a, b) => b != a + 1; case _ => false }
    }
    val rnd = new scala.util.Random(0xBEEF)
    var hTot = 0L
    var zTot = 0L
    for (_ <- 0 until 50) {
      val (w, h) = (2 + rnd.nextInt(14), 2 + rnd.nextInt(14))
      val x0 = rnd.nextInt(64 - w).toLong
      val y0 = rnd.nextInt(64 - h).toLong
      hTot += clusters(xy2d, x0, x0 + w, y0, y0 + h)
      zTot += clusters(morton, x0, x0 + w, y0, y0 + h)
    }
    assert(hTot < zTot, s"hilbert clusters $hTot not fewer than morton $zTot")
  }

  test("partitioned write + partition pruning in the scan") {
    val base = Files.createTempDirectory("graft_layout").toString
    val li = graft.sources.Tables.load(spark, sfDir, "lineitem")
    Layout.writePartitioned(li, s"$base/li", Seq("l_returnflag"))

    val pruned = spark.read.parquet(s"$base/li")
      .filter(col("l_returnflag") === "R")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(l_returnflag"),
      s"partition filter missing:\n$plan")
    val expected = li.filter(col("l_returnflag") === "R").count()
    assert(pruned.count() == expected)
  }

  test("bucketed table: aggregation on bucket key plans no exchange") {
    val o = graft.sources.Tables.load(spark, sfDir, "orders")
    Layout.writeBucketed(o.select("o_orderkey", "o_custkey", "o_totalprice"),
      "orders_bucketed", "o_custkey", 4)
    try {
      val agg = spark.table("orders_bucketed")
        .groupBy("o_custkey").agg(count(lit(1)).as("n"))
      val plan = agg.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning(o_custkey"),
        s"bucketed agg still shuffles:\n$plan")
      assert(agg.count() == o.select("o_custkey").distinct().count())
    } finally spark.sql("DROP TABLE IF EXISTS orders_bucketed")
  }

  test("compact: many small files collapse to the target count, data intact") {
    val base = Files.createTempDirectory("graft_compact").toString + "/t"
    val df = spark.range(0, 10000).toDF("id")
    df.repartition(32).write.parquet(base)
    def parquetFiles() = new java.io.File(base).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(parquetFiles() == 32)
    // huge target -> everything fits in one file
    val n = Layout.compact(spark, base, targetFileBytes = 1L << 30)
    assert(n == 1 && parquetFiles() == 1)
    val after = spark.read.parquet(base)
    assert(after.count() == 10000)
    assert(after.agg(sum(col("id"))).head().getLong(0) == 49995000L)
    // temp/old dirs cleaned up
    assert(!new java.io.File(base + "_compact_tmp").exists())
    assert(!new java.io.File(base + "_compact_old").exists())
  }

  test("dynamic partition overwrite replaces only the written partition") {
    val base = Files.createTempDirectory("graft_dpo").toString + "/t"
    val v1 = Seq(("a", 1), ("a", 2), ("b", 10)).toDF("p", "v")
    Layout.writePartitioned(v1, base, Seq("p"))
    assert(spark.read.parquet(base).count() == 3)
    // rewrite only partition a
    val v2 = Seq(("a", 99)).toDF("p", "v")
    val key = "spark.sql.sources.partitionOverwriteMode"
    spark.conf.set(key, "dynamic")
    try Layout.writePartitioned(v2, base, Seq("p"))
    finally spark.conf.unset(key)
    val after = spark.read.parquet(base)
    assert(after.count() == 2) // a:99 + untouched b:10
    assert(after.filter(col("p") === "b").count() == 1)
  }

  test("zOrderKey interleaves bits (Morton order fixture)") {
    // a's bits land in the odd positions, b's in the even ones
    val rows = Seq((0L, 0L), (1L, 0L), (0L, 1L), (1L, 1L), (0xFFFFL, 0L),
      (0L, 0xFFFFL), (0b1010L, 0b0101L)).toDF("a", "b")
      .select(Layout.zOrderKey(col("a"), col("b")).as("z")).as[Long].collect()
    assert(rows.toSeq == Seq(0L, 2L, 1L, 3L, 0xAAAAAAAAL, 0x55555555L,
      0b10011001L))
  }

  test("z-ordered layout: files cover rectangles, so point predicates on the SECOND dim prune") {
    val base = Files.createTempDirectory("graft_zorder").toString
    // a 64 x 64 grid: zOrderKey interleaves the raw low bits, so the two
    // dimensions must span as many significant bits for each to split
    // files early
    val grid = spark.range(0, 4096)
      .selectExpr("id % 64 AS a", "id div 64 AS b", "id AS v")
    // same data, two layouts: linear sort on a vs z-order on both
    grid.repartitionByRange(16, col("a"))
      .sortWithinPartitions("a")
      .write.mode("overwrite").parquet(s"$base/linear")
    val zkey = Layout.zOrderKey(col("a"), col("b"))
    grid.repartitionByRange(16, zkey)
      .sortWithinPartitions(zkey)
      .write.mode("overwrite").parquet(s"$base/zorder")

    // per-file [min,max] of b — how many files would a point lookup on
    // the NON-sort dimension have to open?
    def filesContaining(path: String, v: Long): Long = {
      val spans = spark.read.parquet(path)
        .groupBy(input_file_name().as("f"))
        .agg(min("b").as("lo"), max("b").as("hi"))
      spans.filter(col("lo") <= v && col("hi") >= v).count()
    }
    val zHits = filesContaining(s"$base/zorder", 40L)
    val linHits = filesContaining(s"$base/linear", 40L)
    // linear-by-a stripes span the full b range in EVERY file; z-order
    // confines each file to a 16-row band of b, a quarter of the files
    // hold a given b, and a file straddling two bands (range bounds are
    // sampled) adds at most one more each: at most half the files
    assert(linHits == 16L, s"linear layout should be unpruned: $linHits")
    assert(zHits <= 8L, s"z-order should prune lookups on b: $zHits")
    // layout must not lose or duplicate rows
    val back = spark.read.parquet(s"$base/zorder")
    assert(back.count() == 4096L)
    assert(back.agg(sum("v")).head().getLong(0) == 4095L * 4096 / 2)
  }

  test("datasetFingerprint: layout-independent, content-sensitive, null-safe") {
    val df = spark.range(0, 1000)
      .selectExpr("id AS k", "concat('v', id % 7) AS v")
    def fp(d: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val r = Layout.datasetFingerprint(d, Seq("k", "v")).head()
      (r.getLong(0), r.getLong(1))
    }
    val base = fp(df)
    // any layout of the same rows fingerprints identically
    assert(fp(df.repartition(7)) == base)
    assert(fp(df.orderBy(desc("v"), desc("k"))) == base)
    assert(fp(df.coalesce(1)) == base)
    // one edited row changes it; dropping a row changes it
    assert(fp(df.selectExpr("k", "CASE WHEN k = 500 THEN 'x' ELSE v END AS v")) != base)
    assert(fp(df.filter("k <> 500")) != base)
    // null is distinct from every cast output (concat_ws would skip it)
    val a = fp(Seq((1L, null: String)).toDF("k", "v"))
    val b = fp(Seq((1L, "")).toDF("k", "v"))
    assert(a != b)
  }

  test("datasetFingerprintBy: group fingerprints localize the changed group") {
    val df = spark.range(0, 900)
      .selectExpr("id % 3 AS g", "id AS k", "concat('v', id) AS v")
    def byG(d: org.apache.spark.sql.DataFrame): Map[Long, (Long, Long)] =
      Layout.datasetFingerprintBy(d, Seq("g"), Seq("k", "v"))
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val base = byG(df)
    assert(base.keySet == Set(0L, 1L, 2L))
    // layout-independent per group
    assert(byG(df.repartition(11)) == base)
    // edit one row in group 1 → ONLY group 1's hash moves
    val edited = byG(df.selectExpr("g", "k",
      "CASE WHEN k = 301 THEN 'tampered' ELSE v END AS v"))
    assert(edited(0L) == base(0L) && edited(2L) == base(2L))
    assert(edited(1L) != base(1L))
  }

  test("incrementalFingerprint: algebraic CDC update equals full recompute") {
    val cols = Seq("k", "v")
    val base = spark.range(0, 800).selectExpr("id AS k", "concat('v', id) AS v")
    val deletes = base.filter("k % 7 = 3")           // genuine deletes
    val inserts = spark.range(1000, 1100)            // genuine inserts
      .selectExpr("id AS k", "concat('n', id) AS v")
    val updated = base.filter("k % 7 <> 3").unionByName(inserts)
    val direct = Layout.datasetFingerprint(updated, cols).head()
    val incr = Layout.incrementalFingerprint(
      Layout.datasetFingerprint(base, cols), inserts, deletes, cols).head()
    assert((incr.getLong(0), incr.getLong(1)) ==
      ((direct.getLong(0), direct.getLong(1))))
    // empty change batch is the identity
    val idFp = Layout.incrementalFingerprint(
      Layout.datasetFingerprint(base, cols),
      base.filter("false"), base.filter("false"), cols).head()
    val baseFp = Layout.datasetFingerprint(base, cols).head()
    assert((idFp.getLong(0), idFp.getLong(1)) ==
      ((baseFp.getLong(0), baseFp.getLong(1))))
  }
}
