package graft

import org.apache.spark.sql.functions.{lit, raise_error}

/** The worst-5 ↔ fixture-ledger cross-check must be MECHANICAL
  * (VERDICT r12 #4): `graph_kcore` rotated into the final-tree worst-5
  * with no ledger row and the omission was only caught by a judge
  * code-audit. Bench now extracts the ledger's fixture names from
  * PLANS.md and reports any worst-5 member without a row in the
  * artifact's `worst5_unledgered` field; this spec pins the extraction
  * against the real PLANS.md and red-demos a fake rotation. It also pins
  * that `runToCompletion`, the one way every main times a query,
  * evaluates the whole result rather than a pruned `.count()`. */
class BenchLedgerSpec extends SparkSpec {

  private lazy val plans = new String(java.nio.file.Files.readAllBytes(
    java.nio.file.Paths.get("PLANS.md")), "UTF-8")

  test("ledger extraction finds every documented fixture in the real PLANS.md") {
    val ledger = Bench.ledgerFixtures(plans)
    // the recurring worst-5 fixtures + the occasional rotators all have
    // rows (r12 ledger) — these names are load-bearing: if a ledger row
    // is reworded or the section renamed, this fails before the bench
    // artifact silently reports everything as unledgered
    for (f <- Seq("dedup_incremental_bloom", "dedup_substring_bloom",
        "dedup_minhash_pr", "pipeline_curation", "graph_betweenness",
        "graph_sample_fidelity", "dedup_best_of_cluster",
        "dedup_substring_spans", "graph_kcore"))
      assert(ledger.contains(f), s"ledger row missing for $f; have $ledger")
  }

  test("a non-fixture rotating into the worst-5 is flagged (red demo)") {
    val ledger = Bench.ledgerFixtures(plans)
    val fakeWorst5 = Seq("dedup_incremental_bloom", "graph_betweenness",
      "join_salted_skew", "dedup_substring_spans", "graph_kcore")
    // join_salted_skew has no ledger row — exactly the rotation event
    // the ledger protocol (PLANS.md) defines as needing adjudication
    assert(Bench.unledgered(fakeWorst5, ledger) == Seq("join_salted_skew"))
    // and an all-fixture worst-5 reports clean
    assert(Bench.unledgered(fakeWorst5.filterNot(_ == "join_salted_skew"),
      ledger).isEmpty)
  }

  test("extraction is scoped to the ledger section, not the whole file") {
    val fake =
      """# doc
        |## Adversarial fixture cost ledger
        |intro text
        || fixture | leg |
        ||---|---|
        || `fixture_a` | 2.0x |
        || `fixture_b` | 1.1x |
        |## Next section
        || `not_a_fixture` | mentioned elsewhere |
        |""".stripMargin
    assert(Bench.ledgerFixtures(fake) == Set("fixture_a", "fixture_b"))
    assert(Bench.ledgerFixtures("# no ledger heading\n| `x` |") == Set.empty)
  }

  test("runToCompletion evaluates every output column, unlike .count()") {
    // .count() reads no column, so Catalyst prunes the projection and the
    // failing expression never runs; the noop sink must evaluate it
    val df = spark.range(3).select(raise_error(lit("graft-boom")).as("x"))
    val e = intercept[Exception](Bench.runToCompletion(df))
    val msgs = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(t => String.valueOf(t.getMessage))
    assert(msgs.exists(_.contains("graft-boom")), e.toString)
  }
}
