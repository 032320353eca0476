package perfbench

import java.nio.file.{Files, Path}

/** Generator self-test: the same seed must give byte-identical payload
  * files, another seed must not, and the generator's own accounting must
  * add up. Returns a report; throws on the first failure. */
object SelfTest {
  def run(work: Path): String = {
    def gen(seed: Long, tag: String): (Seq[Array[Byte]], Seq[FileTruth]) = {
      val dir = Files.createDirectories(work.resolve(s"selftest-$tag"))
      val g = new PayloadGen(seed, 2486)
      val out = (0 until 3).map { i =>
        val f = dir.resolve(f"part-$i%06d.txt")
        val t = g.writeFile(f, i, i * 5000L, 5000)
        (Files.readAllBytes(f), t)
      }
      Util.deleteRecursively(dir)
      (out.map(_._1), out.map(_._2))
    }
    val (a, ta) = gen(7, "a")
    val (b, _) = gen(7, "b")
    val (c, _) = gen(8, "c")
    require(a.zip(b).forall { case (x, y) => java.util.Arrays.equals(x, y) },
      "seed 7 gave different bytes on two runs")
    require(a.zip(c).forall { case (x, y) => !java.util.Arrays.equals(x, y) },
      "seeds 7 and 8 gave identical files")
    ta.foreach { t =>
      require(t.counts.sum + t.malformed + t.nullPayloads == t.rows,
        "generator accounting does not add up to the row count")
      require(t.nullPayloads > 0 && t.malformed > 0,
        "every file must carry null and malformed payloads")
      require(t.counts.forall(_ > 0), "every file must cover all five categories")
    }
    val md = java.security.MessageDigest.getInstance("SHA-256")
    a.foreach(md.update)
    s"3 files, ${a.map(_.length).sum} bytes, sha256 " +
      md.digest().map(x => f"$x%02x").mkString + "\nselftest ok\n"
  }
}
