package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The reference's core per-record derivation (SURVEY.md §2.4, D1–D4):
  * lenient date parse → whole-day stay duration → category bucketing →
  * appended `stay_category` column.
  *
  * Reference: /root/reference/src/main.py:70-95 (Faust per-record Python).
  * Re-expressed as pure Catalyst column expressions — codegen'd, null-safe,
  * no UDF — implementing the *intended* semantics (exactly one output per
  * input; parse failure ⇒ 'Erroneous data'; duration ≤ 0 ⇒ 'Erroneous
  * data'), not the reference's double-emit bug (SURVEY.md §2.4 note).
  */
object StayCategory {

  val Erroneous = "Erroneous data"
  val Short = "Short stay"
  val Standard = "Standard stay"
  val StandardExtended = "Standard extended stay"
  val Long = "Long stay"

  /** All category values the engine can emit (BASELINE.md semantic fixture). */
  val domain: Seq[String] = Seq(Erroneous, Short, Standard, StandardExtended, Long)

  /** Lenient date parse (D1): the reference uses dateutil.parser.parse
    * (/root/reference/src/main.py:76-77), which accepts ISO and several
    * other layouts. Observed data is ISO `yyyy-MM-dd`; we accept that plus
    * `yyyy/MM/dd` and everything Spark's default string→date cast takes
    * (`yyyy-M-d`, trailing time-of-day, ...), null on failure.
    *
    * ONE expression, not a coalesce of per-format try_to_date branches:
    * whole-stage codegen's subexpression elimination evaluates common
    * coalesce branches EAGERLY, so the old 3-branch version paid all
    * three formatter parses on every row (~8 µs/row — measured as the
    * dominant per-row cost of the whole streaming changelog leg, r12
    * sweep). Normalizing '/'→'-' first folds the slash format into the
    * single cast-parse. Mixed-separator strings like `2020/03-04` now
    * parse instead of returning null — dateutil accepts them too, so this
    * is closer to the reference, not a deviation.
    *
    * The normalization is `replace`, not `translate`: for one
    * single-character mapping both give the same string, null included,
    * but `translate` looks every character up in a `HashMap` of `String`s
    * (11-14% of the executor CPU samples of perfbench's `stream_backlog`
    * in two JFR profiles), while `replace` is a byte search that returns
    * its input untouched when there is no '/' (2% in the same profile). On perfbench's traced `stream_backlog` (seed 7, 4-vCPU
    * host) the whole derivation, both dates, fell from 0.29 to 0.12 µs per
    * row (`functions.stay_category.us_per_row`). */
  def lenientDate(c: Column): Column = try_to_date(replace(c, lit("/"), lit("-")))

  /** Whole-day stay duration (D2): (check_out - check_in).days,
    * /root/reference/src/main.py:83. Null if either side unparseable. */
  def stayNights(checkIn: Column, checkOut: Column): Column =
    datediff(lenientDate(checkOut), lenientDate(checkIn))

  /** Category bucketing (D3) over an already-computed integer duration.
    * Boundaries per /root/reference/src/main.py:86-93: 1–4 Short, 5–10
    * Standard, 11–14 Standard extended, >14 Long, anything else (null,
    * 0, negative) Erroneous. */
  def categoryOfNights(d: Column): Column =
    when(d.between(1, 4), Short)
      .when(d.between(5, 10), Standard)
      .when(d.between(11, 14), StandardExtended)
      .when(d > 14, Long)
      .otherwise(Erroneous)

  /** D1+D2+D3 fused: category straight from the two date-string columns. */
  def stayCategory(checkIn: Column, checkOut: Column): Column =
    categoryOfNights(stayNights(checkIn, checkOut))

  /** Same bucketing for date/timestamp-typed inputs (no parse step). */
  def stayCategoryFromDates(checkIn: Column, checkOut: Column): Column =
    categoryOfNights(datediff(checkOut.cast("date"), checkIn.cast("date")))
}
