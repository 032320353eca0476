package perfbench

import java.io.{BufferedOutputStream, FileOutputStream}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}
import java.time.LocalDate
import java.util.SplittableRandom

/** The reference's five stay categories, in the order the ground truth
  * indexes them. Written out here rather than read from the program, so
  * the expected answer does not depend on the code under test. */
object Category {
  val names: IndexedSeq[String] = IndexedSeq("Erroneous data", "Short stay",
    "Standard stay", "Standard extended stay", "Long stay")

  /** Category index of a whole-day stay length (reference main.py:86-93). */
  def ofNights(n: Int): Int =
    if (n >= 1 && n <= 4) 1
    else if (n >= 5 && n <= 10) 2
    else if (n >= 11 && n <= 14) 3
    else if (n > 14) 4
    else 0
}

/** Ground truth of one payload file, computed while it is generated.
  * `ids(c)` holds the distinct non-null hotel ids of category `c`. */
final case class FileTruth(rows: Int, nullPayloads: Int, malformed: Int,
                           counts: Array[Long], ids: Array[Array[Long]])

/** Seeded generator of reference-shaped JSON payloads, one per line of a
  * text file (the file stands in for a Kafka topic partition: one line is
  * one message `value`).
  *
  * Every payload carries all 20 fields of `expediaSchema`. Stay lengths
  * cover every category boundary (0, 1, 4, 5, 10, 11, 14, 15 nights and
  * negative spans); about 9% of dates use the `yyyy/MM/dd` layout and
  * about 1% are unparseable. About 0.25% of lines are empty (the text
  * stand-in for a null message value) and about 0.25% are truncated JSON
  * (a malformed message, decoded as a record of nulls).
  *
  * File `i` depends only on (`seed`, `i`), so files can be generated in
  * any order or in parallel and the same seed always gives the same
  * bytes. Hotel ids are drawn from a fixed pool of `poolSize` ids. */
final class PayloadGen(seed: Long, poolSize: Int) {
  private val pool: Array[Long] = {
    val r = new SplittableRandom(seed ^ 0x5DEECE66DL)
    val s = scala.collection.mutable.LinkedHashSet[Long]()
    while (s.size < poolSize) s += 100000L + r.nextLong(900000000L)
    s.toArray
  }
  private val Boundaries = Array(-3, -1, 0, 1, 4, 5, 10, 11, 14, 15)
  private val BaseDay = LocalDate.of(2015, 1, 1).toEpochDay
  private val Unparseable = Array("", "unknown", "2017-13-01", "31.12.2017")

  private def date(d: LocalDate, slash: Boolean): String = {
    val s = d.toString
    if (slash) s.replace('-', '/') else s
  }

  /** Writes rows [firstId, firstId + rows) as file `index` to `target`
    * via a temporary sibling and an atomic rename. */
  def writeFile(target: Path, index: Int, firstId: Long, rows: Int): FileTruth = {
    val r = new SplittableRandom(seed * 1000003L + index)
    val counts = new Array[Long](5)
    val ids = Array.fill(5)(scala.collection.mutable.LongMap[Unit]())
    var nulls = 0
    var malformed = 0
    val tmp = target.resolveSibling("_tmp_" + target.getFileName)
    val out = new BufferedOutputStream(new FileOutputStream(tmp.toFile), 1 << 20)
    val sb = new java.lang.StringBuilder(512)
    try {
      var i = 0
      while (i < rows) {
        val id = firstId + i
        val kind = r.nextInt(10000)
        sb.setLength(0)
        if (kind < 25) {
          nulls += 1
        } else {
          val hotel = pool(r.nextInt(pool.length))
          val ci = LocalDate.ofEpochDay(BaseDay + r.nextInt(1500))
          val nights =
            if (r.nextInt(4) == 0) Boundaries(r.nextInt(Boundaries.length))
            else 1 + r.nextInt(21)
          val slash = r.nextInt(100) < 9
          val bad = r.nextInt(100) == 0
          val ciStr =
            if (bad) Unparseable(r.nextInt(Unparseable.length))
            else date(ci, slash)
          val coStr = date(ci.plusDays(nights), slash)
          sb.append("{\"id\": ").append(id)
            .append(", \"date_time\": \"").append(ci.minusDays(1 + r.nextInt(90)))
            .append(' ').append(10 + r.nextInt(14)).append(':')
            .append(10 + r.nextInt(50)).append(':').append(10 + r.nextInt(50))
            .append("\", \"site_name\": ").append(r.nextInt(50))
            .append(", \"posa_container\": ").append(r.nextInt(50))
            .append(", \"user_location_country\": ").append(r.nextInt(240))
            .append(", \"user_location_region\": ").append(r.nextInt(1000))
            .append(", \"user_location_city\": ").append(r.nextInt(56000))
            .append(", \"orig_destination_distance\": ")
          if (r.nextInt(3) == 0) sb.append("null")
          else sb.append(r.nextInt(1000000) / 100.0)
          sb.append(", \"user_id\": ").append(r.nextInt(1200000))
            .append(", \"is_mobile\": ").append(r.nextInt(2))
            .append(", \"is_package\": ").append(r.nextInt(2))
            .append(", \"channel\": ").append(r.nextInt(11))
            .append(", \"srch_ci\": \"").append(ciStr)
            .append("\", \"srch_co\": \"").append(coStr)
            .append("\", \"srch_adults_cnt\": ").append(1 + r.nextInt(4))
            .append(", \"srch_children_cnt\": ").append(r.nextInt(3))
            .append(", \"srch_rm_cnt\": ").append(1 + r.nextInt(2))
            .append(", \"srch_destination_id\": ").append(r.nextInt(65000))
            .append(", \"srch_destination_type_id\": ").append(1 + r.nextInt(9))
            .append(", \"hotel_id\": ").append(hotel).append('}')
          if (kind < 50) {
            // truncated message: parses to a record of nulls, so it lands
            // in "Erroneous data" with a null hotel id that no count sees
            // (cut before the trailing hotel_id field, so no partial
            // parse can recover an id)
            sb.setLength(20 + r.nextInt(sb.length() - 60))
            malformed += 1
          } else {
            val c = if (bad) 0 else Category.ofNights(nights)
            counts(c) += 1
            ids(c).update(hotel, ())
          }
        }
        sb.append('\n')
        out.write(sb.toString.getBytes(StandardCharsets.UTF_8))
        i += 1
      }
    } finally out.close()
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
    FileTruth(rows, nulls, malformed, counts, ids.map(_.keys.toArray))
  }
}

/** Running ground truth over the files a stream has consumed so far. */
final class Truth {
  val counts = new Array[Long](5)
  private val sets = Array.fill(5)(new scala.collection.mutable.LongMap[Unit]())
  var payloads = 0L
  var nullPayloads = 0L

  def add(t: FileTruth): Unit = {
    payloads += t.rows
    nullPayloads += t.nullPayloads
    for (c <- 0 until 5) {
      counts(c) += t.counts(c)
      t.ids(c).foreach(id => sets(c).update(id, ()))
    }
  }

  def distinct(c: Int): Long = sets(c).size.toLong

  /** Category name -> (hotels_amount, distinct_hotels) for every category
    * that has seen at least one non-null hotel id. */
  def expected: Map[String, (Long, Long)] =
    (0 until 5).filter(counts(_) > 0)
      .map(c => Category.names(c) -> (counts(c), distinct(c))).toMap
}
