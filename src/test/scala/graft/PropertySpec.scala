package graft

import org.apache.spark.sql.functions._

/** Property-style sweeps of the pure kernels: invariants that must hold
  * across the input space, not just the fixtures the example tests pin.
  * Inputs come from a seeded RNG (deterministic runs) and each property
  * is evaluated as ONE DataFrame pass, so the sweep adds a handful of
  * Spark jobs total. (scalacheck's scalatest bridge isn't in the offline
  * cache, so the generators are hand-rolled.) */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new scala.util.Random(0xC0FFEE)

  test("datasetFingerprint: permutation/partition invariance + CDC algebra on random multisets") {
    import operators.Layout
    // random multiset WITH duplicates (so the sum must weight
    // multiplicity, not set membership)
    val rows = Seq.fill(400)((rnd.nextInt(40).toLong,
      s"v${rnd.nextInt(25)}")) ++ Seq.fill(20)((7L, "v7"))
    val cols = Seq("k", "v")
    def fp(d: org.apache.spark.sql.DataFrame) = {
      val r = Layout.datasetFingerprint(d, cols).head()
      (r.getLong(0), r.getLong(1))
    }
    val df = rows.toDF("k", "v")
    val base = fp(df)
    // random reshuffles and partitionings never move the fingerprint
    assert(fp(rows.reverse.toDF("k", "v")) == base)
    assert(fp(new scala.util.Random(rnd.nextLong())
      .shuffle(rows).toDF("k", "v")) == base)
    assert(fp(df.repartition(1 + rnd.nextInt(13))) == base)
    // CDC algebra on a random split: delete a random subset, insert
    // fresh rows; incremental update == recompute of the edited multiset
    val (del, keep) = rows.partition(_ => rnd.nextBoolean())
    val ins = Seq.fill(50)((100L + rnd.nextInt(40),
      s"n${rnd.nextInt(25)}"))
    val direct = fp((keep ++ ins).toDF("k", "v"))
    val incrRow = Layout.incrementalFingerprint(
      Layout.datasetFingerprint(df, cols),
      ins.toDF("k", "v"), del.toDF("k", "v"), cols).head()
    assert((incrRow.getLong(0), incrRow.getLong(1)) == direct)
  }

  test("MGSummary: frequency guarantee + lower bounds on random zipfish streams and merges") {
    import functions.MGSummary
    // 50 random trials: random stream (skewed by construction), random
    // capacity, random partitioning into sub-summaries merged pairwise
    for (_ <- 0 until 50) {
      val k = 4 + rnd.nextInt(29)
      val n = 500 + rnd.nextInt(2000)
      // zipf-ish: key j drawn with weight ~ 1/(j+1)
      val keys = Array.tabulate(n) { _ =>
        val u = rnd.nextDouble()
        (math.pow(200.0, u) - 1.0).toLong // denser near 0
      }
      val parts = 1 + rnd.nextInt(8)
      val chunks = keys.grouped(math.max(1, n / parts)).map { ch =>
        val s = new MGSummary(k); ch.foreach(s.add); s
      }.toSeq
      val merged = chunks.reduce { (a, b) => a.merge(b); a }
      val (total, items) = merged.result()
      assert(total === n.toLong)
      assert(items.length <= k)
      val trueCounts = keys.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val found = items.map(_._1).toSet
      val threshold = n.toDouble / (k + 1)
      trueCounts.foreach { case (key, c) =>
        if (c > threshold)
          assert(found.contains(key),
            s"key $key (count $c > n/(k+1)=$threshold, k=$k, parts=$parts) lost")
      }
      items.foreach { case (key, lb) =>
        assert(lb <= trueCounts(key), s"lb for $key above true count")
      }
    }
  }

  test("zOrderKey: interleave is a bijection on 16-bit pairs") {
    val pairs = Seq.fill(300)((rnd.nextLong().abs & 0xFFFFL,
      rnd.nextLong().abs & 0xFFFFL)) ++
      Seq((0L, 0L), (0xFFFFL, 0xFFFFL), (0xFFFFL, 0L), (0L, 0xFFFFL))
    val zs = pairs.toDF("a", "b")
      .select(col("a"), col("b"),
        operators.Layout.zOrderKey(col("a"), col("b")).as("z"))
      .as[(Long, Long, Long)].collect()
    zs.foreach { case (a, b, z) =>
      var (ra, rb) = (0L, 0L)
      (0 until 16).foreach { i =>
        ra |= ((z >> (2 * i + 1)) & 1L) << i
        rb |= ((z >> (2 * i)) & 1L) << i
      }
      assert(ra == a && rb == b, s"z=$z lost ($a,$b) -> ($ra,$rb)")
    }
    // bijection ⇒ no collisions across distinct pairs
    assert(zs.map(_._3).distinct.length == zs.map(t => (t._1, t._2)).distinct.length)
  }

  test("zOrderKey: monotone in each argument when the other is fixed") {
    val fixed = 0x1234L
    val as = (0L to 0xFFFFL by 97L).toSeq
    val zA = as.map((_, fixed)).toDF("a", "b")
      .select(operators.Layout.zOrderKey(col("a"), col("b")).as("z"))
      .as[Long].collect()
    assert(zA.sliding(2).forall(w => w(0) < w(1)), "not monotone in a")
    val zB = as.map((fixed, _)).toDF("a", "b")
      .select(operators.Layout.zOrderKey(col("a"), col("b")).as("z"))
      .as[Long].collect()
    assert(zB.sliding(2).forall(w => w(0) < w(1)), "not monotone in b")
  }

  test("fnv64: Column route and SQL route agree on arbitrary strings") {
    functions.GraftFunctions.registerAll(spark)
    val strs = Seq.fill(200)(rnd.alphanumeric.take(rnd.nextInt(40)).mkString) ++
      Seq("", " ", "a b  c", "ünïcödé ✓", "\ttab\nnewline")
    strs.distinct.toDF("s").createOrReplaceTempView("prop_fnv")
    val viaCol = strs.distinct.toDF("s")
      .select(col("s"), functions.HashFunctions.fnv64(col("s")).as("h"))
      .as[(String, Long)].collect().toMap
    val viaSql = spark.sql("SELECT s, fnv64(s) FROM prop_fnv")
      .as[(String, Long)].collect().toMap
    assert(viaCol == viaSql)
  }

  test("bandJoinPairs: equals brute force on random values incl. negatives and exact-delta ties") {
    import graft.operators.Skew
    // 10 trials: random deltas, values spanning zero (the truncating-div
    // bucket around 0 is WIDER than delta — the case a floor-div proof
    // doesn't cover), plus planted exact-boundary pairs
    for (trial <- 0 until 10) {
      val delta = 1L + rnd.nextInt(50)
      val n = 40 + rnd.nextInt(80)
      val vals = Seq.tabulate(n)(i =>
        (i.toLong, rnd.nextInt(40 * delta.toInt).toLong - 20L * delta)) ++
        Seq((1000L, 7L), (1001L, 7L + delta), (1002L, 7L - delta))
      val expected = (for {
        (ka, va) <- vals; (kb, vb) <- vals
        if ka < kb && math.abs(va - vb) <= delta
      } yield (ka, kb, math.abs(va - vb))).toSet
      val got = Skew.bandJoinPairs(vals.toDF("id", "v"), "id", "v", delta)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == expected,
        s"trial $trial delta=$delta: ${got.size} vs ${expected.size}")
    }
  }

  test("categoryOfNights: total function — every duration lands in its one bucket") {
    val model: Int => String = d =>
      if (d >= 1 && d <= 4) "Short stay"
      else if (d >= 5 && d <= 10) "Standard stay"
      else if (d >= 11 && d <= 14) "Standard extended stay"
      else if (d > 14) "Long stay"
      else "Erroneous data"
    val out = (-1000 to 1000).toDF("d")
      .select(col("d"), functions.StayCategory.categoryOfNights(col("d")).as("c"))
      .as[(Int, String)].collect()
    out.foreach { case (d, c) =>
      assert(c == model(d), s"duration $d -> $c, expected ${model(d)}")
    }
  }

  test("lenientDate: random dates parse in ISO, slash, and mixed forms; garbage → null") {
    // r12 rewrote lenientDate as ONE expression (translate '/'→'-' then
    // cast-parse) for the eager-CSE reason documented on it; this sweep
    // pins the semantics the 3-branch version guaranteed — plus the
    // deliberately MORE-lenient mixed-separator case — across the space.
    val days = Seq.fill(300)(rnd.nextInt(730850)) // 0..~2000 years of days
    val rows = days.map { d =>
      val date = java.time.LocalDate.ofEpochDay(d.toLong - 300000)
      val iso = date.toString
      val slash = iso.replace('-', '/')
      val mixed = // one random separator flipped
        if (rnd.nextBoolean()) iso.replaceFirst("-", "/") else slash.replaceFirst("/", "-")
      (iso, slash, mixed, iso)
    }.toDF("iso", "slash", "mixed", "expect")
    import functions.StayCategory.lenientDate
    val bad = rows
      .select(
        col("expect").cast("date").as("e"),
        lenientDate(col("iso")).as("a"),
        lenientDate(col("slash")).as("b"),
        lenientDate(col("mixed")).as("c"))
      .filter(!(col("a") === col("e") && col("b") === col("e") &&
        col("c") === col("e")))
      .count()
    assert(bad == 0L, s"$bad rows parsed wrong across the three layouts")
    // garbage and impossible dates stay null — never throw, never wrap
    val junk = Seq("not-a-date", "2020-13-40", "2020/02/30", "0000-00-00",
      "", "  ", "20200101x", "////", "1-2-3-4").toDF("s")
    val nonNull = junk.select(lenientDate(col("s")).as("p"))
      .filter(col("p").isNotNull).as[java.sql.Date].collect()
    assert(nonNull.isEmpty, s"junk parsed to: ${nonNull.toSeq}")
    // partial dates parse to the period start — Spark's cast semantics,
    // which the OLD 3-branch version's default-parse fallback had too
    // (dateutil also accepts partials); pinned so a rewrite can't drift
    val partial = Seq("2020-1", "2020/07").toDF("s")
      .select(lenientDate(col("s")).cast("string").as("p"))
      .as[String].collect().toSeq
    assert(partial == Seq("2020-01-01", "2020-07-01"), partial)
  }

  test("quantizeInt8: range bound and max-|component| saturation for random vectors") {
    val vecs = Seq.fill(100)(
      Array.fill(1 + rnd.nextInt(32))((rnd.nextFloat() - 0.5f) * 200f))
      .filter(_.exists(_ != 0.0f))
    val out = vecs.map(Tuple1(_)).toDF("v")
      .select(col("v"), functions.VectorFunctions.quantizeInt8(col("v")).as("q"))
      .as[(Array[Float], Array[Int])].collect()
    out.foreach { case (v, q) =>
      assert(q.length == v.length)
      assert(q.forall(b => b >= -127 && b <= 127))
      val maxAbsIdx = v.indices.maxBy(i => math.abs(v(i)))
      assert(math.abs(q(maxAbsIdx)) == 127,
        s"largest component must saturate: ${v.toSeq} -> ${q.toSeq}")
    }
  }

  test("tokenChunks: stride==chunkSize chunks reassemble to the exact token stream") {
    val words = Array("alpha", "bravo", "charlie", "delta", "echo")
    val cases = for {
      _ <- 1 to 100
      n = rnd.nextInt(12)
      size = 1 + rnd.nextInt(7)
    } yield (Seq.fill(n)(words(rnd.nextInt(words.length))).mkString(" "), size)
    cases.groupBy(_._2).foreach { case (size, group) =>
      val texts = group.map(_._1)
      val out = texts.toDF("t")
        .select(col("t"),
          functions.TextFunctions.tokenChunks(col("t"), size, size).as("c"))
        .as[(String, Seq[String])].collect()
      out.foreach { case (text, chunks) =>
        val tokens = text.trim match {
          case "" => Seq.empty[String]
          case t => t.split("\\s+").toSeq
        }
        assert(chunks.flatMap(c =>
          if (c.isEmpty) Nil else c.split(" ").toSeq) == tokens,
          s"'$text' size=$size -> $chunks")
      }
    }
  }

  test("Rank.globalRowNumber/globalRunningSum == single-task windows on random frames") {
    import org.apache.spark.sql.expressions.Window
    import operators.Rank
    // skewed random frame WITH heavy key ties and negative values —
    // ties exercise the range-partitioner's equal-key placement and
    // the tied-prefix-multiset contract
    val rows = Seq.tabulate(2000) { i =>
      val key = if (i % 5 == 0) 42L else rnd.nextInt(200).toLong
      (i.toLong, key, (rnd.nextInt(21) - 10).toLong)
    }
    val df = rows.toDF("id", "key", "v").repartition(7)
    for (parts <- Seq(1, 3, 32)) {
      // exact global rank: total order (key, id) — id breaks ties
      val got = Rank.globalRowNumber(df, parts, "rn", col("key"), col("id"))
        .select("id", "rn").as[(Long, Long)].collect().toMap
      val want = df.withColumn("rn",
          row_number().over(Window.orderBy(col("key"), col("id")))
            .cast("long"))
        .select("id", "rn").as[(Long, Long)].collect().toMap
      assert(got == want, s"rank diverged at numPartitions=$parts")

      // exact global inclusive prefix sum over the same total order
      val gotS = Rank.globalRunningSum(df, parts, "rs",
          col("v"), col("key"), col("id"))
        .select("id", "rs").as[(Long, Long)].collect().toMap
      val wantS = df.withColumn("rs",
          sum(col("v")).over(Window.orderBy(col("key"), col("id"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select("id", "rs").as[(Long, Long)].collect().toMap
      assert(gotS == wantS, s"prefix sum diverged at numPartitions=$parts")
    }

    // under a NON-total order (ties in the sort key), intra-group order
    // is unspecified — but the prefix at each tie group's END is the
    // cumulative total through that group, which no ordering can move.
    // Every group must contain exactly that value among its prefixes.
    val gotT = Rank.globalRunningSum(df, 8, "rs", col("v"), col("key"))
      .groupBy("key").agg(collect_list(col("rs")).as("m"))
      .as[(Long, Seq[Long])].collect().toMap
    val groupTotals = rows.groupBy(_._2).view
      .mapValues(_.map(_._3).sum).toSeq.sortBy(_._1)
    val cumAtEnd = groupTotals
      .scanLeft((Long.MinValue, 0L)) { case ((_, acc), (k, s)) =>
        (k, acc + s)
      }.drop(1).toMap
    gotT.foreach { case (k, ms) =>
      assert(ms.contains(cumAtEnd(k)),
        s"key $k: group-end prefix ${cumAtEnd(k)} missing from $ms")
    }
  }
}
