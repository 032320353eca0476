package graft

import graft.functions.StayCategory
import org.apache.spark.sql.functions._
/** D1–D3 semantics vs the reference behavior
  * (/root/reference/src/main.py:70-95): boundary table from FIXTURES.md,
  * plus a ScalaCheck sweep against an independent reimplementation of the
  * intended bucketing. */
class StayCategorySpec extends SparkSpec {
  import spark.implicits._

  private def catOf(ci: String, co: String): String =
    Seq((ci, co)).toDF("ci", "co")
      .select(StayCategory.stayCategory(col("ci"), col("co")).as("c"))
      .as[String].head()

  test("boundary table matches the reference bucketing") {
    val cases = Seq(
      ("2017-08-01", "2017-08-02", "Short stay"),            // 1
      ("2017-08-01", "2017-08-05", "Short stay"),            // 4
      ("2017-08-01", "2017-08-06", "Standard stay"),         // 5
      ("2017-08-01", "2017-08-11", "Standard stay"),         // 10
      ("2017-08-01", "2017-08-12", "Standard extended stay"),// 11
      ("2017-08-01", "2017-08-15", "Standard extended stay"),// 14
      ("2017-08-01", "2017-08-16", "Long stay"),             // 15
      ("2017-08-01", "2018-08-01", "Long stay"),
      ("2017-08-01", "2017-08-01", "Erroneous data"),        // 0 nights
      ("2017-08-05", "2017-08-01", "Erroneous data"),        // negative
      ("not-a-date", "2017-08-02", "Erroneous data"),        // parse fail ci
      ("2017-08-01", "garbage", "Erroneous data"),           // parse fail co
      ("0000-00-00 00:00:00", "2017-08-02", "Erroneous data"),
      (null, "2017-08-02", "Erroneous data"),
      ("2017/08/01", "2017/08/03", "Short stay"))            // slash format
    cases.foreach { case (ci, co, expected) =>
      assert(catOf(ci, co) == expected, s"($ci, $co)")
    }
  }

  test("exhaustive sweep: category matches independent reimplementation") {
    // independent oracle: the intended Python semantics, re-derived
    def oracle(nights: Int): String =
      if (nights >= 1 && nights <= 4) "Short stay"
      else if (nights >= 5 && nights <= 10) "Standard stay"
      else if (nights >= 11 && nights <= 14) "Standard extended stay"
      else if (nights > 14) "Long stay"
      else "Erroneous data"

    val base = java.time.LocalDate.of(2020, 1, 15)
    val rows = (-40 to 40).map { nights =>
      (base.toString, base.plusDays(nights.toLong).toString, oracle(nights))
    }
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val got = rows.toDF("ci", "co", "expected")
      .withColumn("got", StayCategory.stayCategory(col("ci"), col("co")))
      .filter(col("got") =!= col("expected"))
    assert(got.count() == 0, got.collect().mkString(";"))
  }

  test("lenientDate's replace normalizes as translate did, null included") {
    val inputs = Seq("2020/03/04", "2020/03-04", "//", "", "Zürich/東京 😀", null)
    val got = inputs.toDF("s").select(
      replace(col("s"), lit("/"), lit("-")).as("replaced"),
      translate(col("s"), "/", "-").as("translated"),
      StayCategory.lenientDate(col("s")).as("parsed"),
      try_to_date(translate(col("s"), "/", "-")).as("parsedBefore"))
      .collect().toSeq
    assert(got.map(_.getString(0)) == got.map(_.getString(1)))
    assert(got.map(_.get(2)) == got.map(_.get(3)))
    assert(got.map(_.getString(0)) ==
      Seq("2020-03-04", "2020-03-04", "--", "", "Zürich-東京 😀", null))
    assert(got.map(r => Option(r.get(2)).map(_.toString)) ==
      Seq(Some("2020-03-04"), Some("2020-03-04"), None, None, None, None))
  }

  test("category domain is exactly the 5 reference values") {
    assert(StayCategory.domain.toSet == Set(
      "Erroneous data", "Short stay", "Standard stay",
      "Standard extended stay", "Long stay"))
  }
}
