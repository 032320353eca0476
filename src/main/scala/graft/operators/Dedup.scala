package graft.operators

import graft.functions.{HashFunctions, TextFunctions, VectorFunctions}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}

/** Document deduplication for large-scale training-data pipelines.
  *
  * Five escalating strategies, all shuffle-architected for 100 TB:
  *   1. exact        — hash-groupBy on a content fingerprint (one shuffle
  *                     of (fp, id), never of document bodies)
  *   2. MinHash+LSH  — shingle → k-minhash signature → banded bucket join;
  *                     only same-bucket pairs are compared, so candidate
  *                     generation is ~linear instead of O(n²)
  *   3. SimHash      — 64-bit near-dup fingerprint; pigeonhole banding on
  *                     16-bit chunks guarantees recall for hamming ≤ 3
  *   4. n-gram Jaccard — exact verify step over candidate pairs only
  *   5. embedding    — random-hyperplane LSH buckets + exact cosine verify
  *
  * Everything is built from codegen'd builtins (xxhash64, transform,
  * array_min, aggregate) — no UDFs, no driver-side loops.
  */
object Dedup {

  // ---------------------------------------------------------------- exact

  /** Exact dedup: group by normalized-content fingerprint; keep the lowest
    * id as canonical. Output one row per distinct content. */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol), TextFunctions.contentFingerprint(col(textCol)).as("fp"))
      .groupBy("fp")
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dupes"))

  /** Exact dedup that returns the surviving rows (canonical doc per
    * fingerprint). Window-free formulation: min-id join back, so the heavy
    * side shuffles once on the fingerprint. */
  def exactDedup(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val keep = exactGroups(docs, idCol, textCol).select(col("keep_id").as(idCol))
    docs.join(keep, Seq(idCol), "left_semi")
  }

  // -------------------------------------------------------------- MinHash

  /** k-MinHash signature over a shingle array — native one-pass
    * expression (graft.functions.MinHashSignature). */
  def minhashSignature(shingles: Column, numHashes: Int): Column =
    graft.functions.HashFunctions.minhashSignature(shingles, numHashes)

  /** Token n-gram shingle hashes (native one-pass; shingle strings never
    * materialize — see HashOps.shingleHashes). */
  def hashedShingles(text: Column, shingleSize: Int): Column =
    HashFunctions.shingleHashes(TextFunctions.tokens(lower(text)), shingleSize)

  /** Docs → (id, hs) hashed-shingle table: the one expensive text pass
    * (tokenize → n-gram → FNV) that every MinHash stage derives from.
    * Compute it once, persist (or materialize to storage at warehouse
    * scale), and feed it to both candidate generation and verification. */
  def hashedShingleTable(docs: DataFrame, idCol: String, textCol: String,
                         shingleSize: Int): DataFrame =
    docs.select(col(idCol), hashedShingles(col(textCol), shingleSize).as("hs"))

  /** Docs → (id, band, bandKey) exploded LSH bucket table.
    * numHashes = bands * rowsPerBand; bandKey hashes the signature slice. */
  def minhashBuckets(docs: DataFrame, idCol: String, textCol: String,
                     shingleSize: Int, bands: Int, rowsPerBand: Int): DataFrame =
    bucketsFromShingles(hashedShingleTable(docs, idCol, textCol, shingleSize),
      idCol, bands, rowsPerBand)

  /** (id, hs) → (id, band, bandKey) bucket table (see minhashBuckets). */
  def bucketsFromShingles(sh: DataFrame, idCol: String,
                          bands: Int, rowsPerBand: Int): DataFrame = {
    val sig = HashFunctions.minhashFromHashes(col("hs"), bands * rowsPerBand)
    sh
      .select(col(idCol), sig.as("sig"))
      .select(col(idCol), posexplode(
        array((0 until bands).map { b =>
          xxhash64(lit(b), array_join(slice(col("sig"), b * rowsPerBand + 1, rowsPerBand), ","))
        }: _*)).as(Seq("band", "band_key")))
  }

  /** Candidate near-dup pairs from banded MinHash: same (band, band_key)
    * bucket ⇒ candidate. Pairs deduped across bands. The self-join is on
    * the bucket key, so work is Σ bucket² not n². */
  def minhashCandidates(docs: DataFrame, idCol: String, textCol: String,
                        shingleSize: Int = 3, bands: Int = 16,
                        rowsPerBand: Int = 4,
                        maxBucketSize: Int = 1000): DataFrame =
    candidatesFromBuckets(
      minhashBuckets(docs, idCol, textCol, shingleSize, bands, rowsPerBand),
      idCol, maxBucketSize)

  /** Bucket table → deduped candidate pairs: same (band, band_key) bucket ⇒
    * candidate, so work is Σ bucket² not n². */
  private def candidatesFromBuckets(buckets: DataFrame, idCol: String,
                                    maxBucketSize: Int): DataFrame = {
    // persist: both sides of the bucket self-join read this table; without
    // it the shingle+minhash pipeline runs twice (at warehouse scale this
    // table would be materialized to storage instead). The cache entry is
    // released by the caller's session hygiene — Verify/Bench clearCache()
    // between queries — because unpersisting here, before the consuming
    // join materializes, would defeat the reuse.
    val b = buckets
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // cap pathological buckets: boilerplate-heavy corpora put thousands of
    // docs in one bucket and the self-join goes quadratic; such docs still
    // pair up in their other (non-degenerate) bands
    val ok = b.groupBy("band", "band_key").count()
      .filter(col("count") <= maxBucketSize)
      .select("band", "band_key")
    // LEFT SEMI, no broadcast hint (ADVICE r15 pattern): the sane-bucket
    // key set grows with the corpus — AQE broadcasts it at runtime only
    // when it actually fits
    val capped = b.join(ok, Seq("band", "band_key"), "left_semi")
    val l = capped.select(col("band"), col("band_key"), col(idCol).as("id_a"))
    val r = capped.select(col("band"), col("band_key"), col(idCol).as("id_b"))
    l.join(r, Seq("band", "band_key"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** MinHash near-dup pairs with an exact n-gram Jaccard verify step over
    * the candidates (strategy 4 fused as the verifier). The corpus is
    * shingled ONCE: candidate generation minhashes the shared hashed-shingle
    * table and the verify join reads its distinct sets — at 100 TB that is
    * one full text pass instead of two. */
  def minhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   shingleSize: Int = 3, bands: Int = 16, rowsPerBand: Int = 4,
                   threshold: Double = 0.8): DataFrame =
    minhashPairsFromShingles(
      hashedShingleTable(docs, idCol, textCol, shingleSize), idCol,
      bands, rowsPerBand, threshold)

  /** `minhashPairs` over a PRECOMPUTED (id, hs) hashed-shingle table —
    * the shape that lets one materialized shingle pass feed the whole
    * dedup family (pairs, clusters, survivors, best-of-cluster) instead
    * of each re-tokenizing the corpus. At 100 TB the shingle table is an
    * index artifact on storage; here it is whatever DataFrame the caller
    * memoized. */
  def minhashPairsFromShingles(sh0: DataFrame, idCol: String,
                               bands: Int = 16, rowsPerBand: Int = 4,
                               threshold: Double = 0.8): DataFrame = {
    val sh = sh0
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    minhashPairsFromIndex(sh,
      bucketsFromShingles(sh, idCol, bands = bands, rowsPerBand = rowsPerBand),
      idCol, threshold)
  }

  /** `minhashPairs` over a fully PREBUILT LSH index: the (id, hs) shingle
    * table AND the (id, band, band_key) bucket table, both typically
    * materialized on storage. Skips signature computation entirely — the
    * k·|shingles| hash evaluations are the dominant CPU cost of candidate
    * generation, and a real LSH index stores its buckets. */
  def minhashPairsFromIndex(sh: DataFrame, buckets: DataFrame, idCol: String,
                            threshold: Double = 0.8,
                            maxBucketSize: Int = 1000): DataFrame = {
    val cands = candidatesFromBuckets(buckets, idCol, maxBucketSize)
    val shd = sh.select(col(idCol), array_distinct(col("hs")).as("sh"))
    jaccardOverShingleSets(cands, shd, idCol)
      .filter(col("jaccard") >= threshold)
  }

  /** `minhashDedup` over the prebuilt index pair (see
    * [[minhashPairsFromIndex]]). */
  def minhashDedupFromIndexTables(docs: DataFrame, sh: DataFrame,
                                  buckets: DataFrame, idCol: String,
                                  threshold: Double = 0.8): DataFrame = {
    // no distinct (r15 opt): LEFT ANTI is duplicate-insensitive on its
    // right side — one exchange fewer at every scale
    val doomed = minhashPairsFromIndex(sh, buckets, idCol, threshold)
      .select(col("id_b").as(idCol))
    docs.join(doomed, Seq(idCol), "left_anti")
  }

  /** Contiguous-overlap pairs via winnowing: docs sharing ≥ `minShared`
    * winnowed fingerprints. Same df-capped inverted-index shuffle shape
    * as the shingle variants, over an index `window`× smaller. */
  def winnowingPairs(docs: DataFrame, idCol: String, textCol: String,
                     shingleSize: Int = 3, window: Int = 4,
                     minShared: Int = 2,
                     maxPrintDf: Int = 100000): DataFrame =
    winnowingPairsFromShingles(
      hashedShingleTable(docs, idCol, textCol, shingleSize), idCol,
      window, minShared, maxPrintDf)

  /** `winnowingPairs` over a precomputed (id, hs) shingle table. `hs`
    * must be the RAW (ordered, undeduplicated) shingle sequence —
    * winnowing slides over consecutive shingles. */
  def winnowingPairsFromShingles(sh0: DataFrame, idCol: String,
                                 window: Int = 4, minShared: Int = 2,
                                 maxPrintDf: Int = 100000): DataFrame = {
    val e = sh0.select(col(idCol),
      explode(HashFunctions.winnow(col("hs"), window)).as("p"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ok = e.groupBy("p").count()
      .filter(col("count").between(2, maxPrintDf))
      .select("p")
    // LEFT SEMI, no hint (ADVICE r15 pattern): unbounded print-key set
    val capped = e.join(ok, Seq("p"), "left_semi")
    capped.select(col("p"), col(idCol).as("id_a"))
      .join(capped.select(col("p"), col(idCol).as("id_b")), Seq("p"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Signature-based Jaccard ESTIMATE pairs — the verify-free fast path:
    * est = (1/k)·Σ 1[sig_a[j] = sig_b[j]], an unbiased estimator of the
    * true Jaccard with σ = √(J(1−J)/k). At 100 TB this skips the
    * shingle-set verify join entirely (one signature pass + a k-word
    * comparison per candidate); use it to TRIAGE when ranking near-dups
    * is enough, and `minhashPairs` when the exact value gates a drop.
    * Candidates come from the shared-shingle inverted index (df ≥ 2,
    * df ≤ maxShingleDf — Σdf², never n²); the threshold is applied to
    * the integer match count (≥ ⌈minEstimate·k⌉), so no float boundary
    * can disagree across engines. */
  def minhashEstimatePairs(docs: DataFrame, idCol: String, textCol: String,
                           shingleSize: Int = 3, k: Int = 16,
                           minEstimate: Double = 0.5,
                           maxComponentDf: Int = 100000): DataFrame =
    minhashEstimatePairsFromShingles(
      hashedShingleTable(docs, idCol, textCol, shingleSize), idCol,
      k, minEstimate, maxComponentDf)

  /** `minhashEstimatePairs` over a precomputed (id, hs) shingle table. */
  def minhashEstimatePairsFromShingles(sh0: DataFrame, idCol: String,
                                       k: Int = 16,
                                       minEstimate: Double = 0.5,
                                       maxComponentDf: Int = 100000): DataFrame = {
    // the signature IS the index: explode (j, component) and self-join on
    // component equality — each matching (j, c) row pair is one matching
    // signature position, so count(*) per doc pair = m directly. k rows
    // per doc instead of a full shingle inverted index (~|doc|/k× less
    // shuffle), and no shingle-set or zip-compare step at all.
    val sigs = sh0.select(col(idCol),
        HashFunctions.minhashFromHashes(col("hs"), k).as("sig"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val e = sigs.select(col(idCol), posexplode(col("sig")).as(Seq("j", "c")))
    // df=1 components can't match; the upper cap bounds boilerplate-heavy
    // corpora exactly like the bucket caps elsewhere
    val ok = e.groupBy("j", "c").count()
      .filter(col("count").between(2, maxComponentDf))
      .select("j", "c")
    // LEFT SEMI, no hint (ADVICE r15 pattern): the (position, component)
    // key set grows with the corpus hash domain
    val capped = e.join(ok, Seq("j", "c"), "left_semi")
    val minMatches = math.ceil(minEstimate * k).toInt
    capped.select(col("j"), col("c"), col(idCol).as("id_a"))
      .join(capped.select(col("j"), col("c"), col(idCol).as("id_b")), Seq("j", "c"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("m"))
      .filter(col("m") >= minMatches)
      .withColumn("est_jaccard", round(col("m").cast("double") / k, 4))
      .select("id_a", "id_b", "est_jaccard")
  }

  /** Corpus-level MinHash dedup: returns the surviving documents. A doc is
    * dropped iff it appears as the *larger* id of a verified near-dup pair
    * — the one-pass approximation of connected components (for chains
    * a~b~c it keeps a; full CC needs iteration, which a training pipeline
    * rarely pays for). */
  def minhashDedup(docs: DataFrame, idCol: String, textCol: String,
                   shingleSize: Int = 3, bands: Int = 16, rowsPerBand: Int = 4,
                   threshold: Double = 0.8): DataFrame = {
    // no distinct (r15 opt): LEFT ANTI is duplicate-insensitive on its
    // right side — one exchange fewer at every scale
    val doomed = minhashPairs(docs, idCol, textCol, shingleSize, bands,
      rowsPerBand, threshold)
      .select(col("id_b").as(idCol))
    docs.join(doomed, Seq(idCol), "left_anti")
  }

  /** Exact n-gram Jaccard for given (id_a, id_b) pairs: joins each side to
    * its distinct shingle set, then |∩| / |∪|. */
  def withJaccard(pairs: DataFrame, docs: DataFrame, idCol: String,
                  textCol: String, shingleSize: Int): DataFrame = {
    val sh = docs.select(
      col(idCol),
      array_distinct(hashedShingles(col(textCol), shingleSize)).as("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    jaccardOverShingleSets(pairs, sh, idCol)
  }

  /** Exact Jaccard over precomputed distinct shingle sets `shd(id, sh)`. */
  private def jaccardOverShingleSets(pairs: DataFrame, shd: DataFrame,
                                     idCol: String): DataFrame =
    pairs
      .join(shd.select(col(idCol).as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(shd.select(col(idCol).as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("double"))
      .withColumn("uni", size(array_union(col("sh_a"), col("sh_b"))).cast("double"))
      .withColumn("jaccard", when(col("uni") === 0, 0.0).otherwise(col("inter") / col("uni")))
      .select(col("id_a"), col("id_b"), col("jaccard"))

  /** EXACT n-gram Jaccard near-dup pairs — no LSH, no recall loss. The
    * shuffle key is the shingle hash (inverted index), so only pairs that
    * actually share a shingle are ever scored: cost is Σ_shingle df² —
    * near-linear on natural corpora — instead of n². The exact counterpart
    * to minhashPairs for when recall must be 1.0; at 100 TB, popular
    * boilerplate shingles are the skew risk (cap via maxShingleDf). */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        shingleSize: Int = 3, threshold: Double = 0.5,
                        maxShingleDf: Int = 100000): DataFrame = {
    val sh = docs.select(
      col(idCol),
      array_distinct(hashedShingles(col(textCol), shingleSize)).as("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sizes = sh.select(col(idCol), size(col("sh")).as("n"))
    val e = sh.select(col(idCol), explode(col("sh")).as("h"))
    // df = 1 shingles can never contribute a pair — dropping them before
    // the self-join removes the (dominant) unique-shingle tail from the
    // shuffle; the upper cap bounds Σ df² against boilerplate skew
    val rare = e.groupBy("h").count()
      .filter(col("count").between(2, maxShingleDf))
      .select("h")
    // persist the capped exploded index — both self-join sides read it
    // (see containmentPairsFromShingles). LEFT SEMI with no broadcast
    // hint (ADVICE r15): the df-band set is unbounded in corpus size —
    // AQE broadcasts it at runtime when it fits, falls back to a
    // shuffle semi join when it does not, instead of dying on the 8 GB
    // broadcast cap.
    val capped = e.join(rare, Seq("h"), "left_semi")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val common = capped.select(col("h"), col(idCol).as("id_a"))
      .join(capped.select(col("h"), col(idCol).as("id_b")), Seq("h"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("c"))
    common
      .join(sizes.select(col(idCol).as("id_a"), col("n").as("na")), Seq("id_a"))
      .join(sizes.select(col(idCol).as("id_b"), col("n").as("nb")), Seq("id_b"))
      .withColumn("jaccard",
        col("c").cast("double") / (col("na") + col("nb") - col("c")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Per-cluster canonical election: for each cluster keep the member
    * with the highest score, breaking score ties by minimum id. Two-step
    * (max score, then min id among the best) so the election is exactly
    * replicable on any engine without relying on arg_max/struct-comparison
    * semantics; both aggregations key on the (small) cluster table.
    * Returns (clusterCol, keep_id, n_members, best_score). */
  def bestOfCluster(members: DataFrame, clusterCol: String, idCol: String,
                    scoreCol: String): DataFrame = {
    // localCheckpoint, not persist: the member table is consumed by BOTH
    // election steps, and a lazy persist costs an extra materialization
    // job before the first consumer — checkpointing eagerly once is
    // cheaper for a post-CC (small) table and truncates the upstream
    // CC lineage at the same time
    val m = members.localCheckpoint()
    val best = m.groupBy(clusterCol)
      .agg(max(col(scoreCol)).as("best_score"), count(lit(1)).as("n_members"))
    val keep = m.join(best, Seq(clusterCol))
      .filter(col(scoreCol) === col("best_score"))
      .groupBy(clusterCol).agg(min(col(idCol)).as("keep_id"))
    keep.join(best, Seq(clusterCol))
      .select(col(clusterCol), col("keep_id"), col("n_members"),
        col("best_score"))
  }

  /** Shingle CONTAINMENT pairs: score = |A∩B| / min(|A|, |B|) — catches
    * near-SUPERSET duplicates (a doc embedded verbatim inside a longer
    * one) that symmetric Jaccard misses when lengths differ: a 100-shingle
    * doc fully inside a 1000-shingle doc has Jaccard 0.1 but containment
    * 1.0. Same inverted-index shuffle shape as `ngramJaccardPairs`
    * (Σ df² with df∈[2, maxShingleDf], never n²). */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       shingleSize: Int = 3, threshold: Double = 0.8,
                       maxShingleDf: Int = 100000): DataFrame =
    containmentPairsFromShingles(
      hashedShingleTable(docs, idCol, textCol, shingleSize), idCol,
      threshold, maxShingleDf)

  /** `containmentPairs` over a precomputed (id, hs) shingle table. */
  def containmentPairsFromShingles(sh0: DataFrame, idCol: String,
                                   threshold: Double = 0.8,
                                   maxShingleDf: Int = 100000): DataFrame = {
    val sh = sh0.select(col(idCol), array_distinct(col("hs")).as("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sizes = sh.select(col(idCol), size(col("sh")).as("n"))
    val e = sh.select(col(idCol), explode(col("sh")).as("h"))
    val rare = e.groupBy("h").count()
      .filter(col("count").between(2, maxShingleDf))
      .select("h")
    // persist the CAPPED exploded index, not just the array table: both
    // sides of the self-join consume it, and without the cache each side
    // re-runs explode + semi-filter over the full shingle table. LEFT
    // SEMI, no broadcast hint (ADVICE r15): the df-band set is unbounded
    // in corpus size — AQE broadcasts at runtime only when it fits.
    val capped = e.join(rare, Seq("h"), "left_semi")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val common = capped.select(col("h"), col(idCol).as("id_a"))
      .join(capped.select(col("h"), col(idCol).as("id_b")), Seq("h"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("c"))
    common
      .join(sizes.select(col(idCol).as("id_a"), col("n").as("na")), Seq("id_a"))
      .join(sizes.select(col(idCol).as("id_b"), col("n").as("nb")), Seq("id_b"))
      .withColumn("containment",
        col("c").cast("double") / least(col("na"), col("nb")).cast("double"))
      .filter(col("containment") >= threshold)
      .select("id_a", "id_b", "containment")
  }

  /** Connected components over an undirected near-dup edge list by
    * iterative min-label propagation: every node's label converges to the
    * minimum id in its component (deterministic fixpoint, independent of
    * execution order). Each iteration is one equi-join + one aggregation —
    * both plain shuffles on the node id — and the loop runs O(diameter)
    * times, which for near-dup clusters (small, dense) is a handful.
    * `localCheckpoint` truncates the lineage so plans stay flat.
    *
    * This turns pairwise dedup into cluster dedup: keep min(id) per
    * component, drop the rest — the full-transitive version of
    * minhashDedup's one-hop approximation. */
  def connectedComponents(pairs: DataFrame, idA: String = "id_a",
                          idB: String = "id_b",
                          maxIters: Int = 50): DataFrame = {
    // cache the DIRECTED pair list, not the symmetric union: the union
    // reads the cache twice instead of running the upstream pairs pipeline
    // per branch. No distinct — duplicate edges are harmless under
    // min-propagation (min is idempotent), so deduping them would buy
    // nothing for a full shuffle of the edge list.
    val p0 = pairs.select(col(idA).as("src"), col(idB).as("dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // materialize with the cheapest possible job (count pipelines map-side,
    // no extra shuffle): every loop iteration references the edges TWICE
    // (neighbor join + label seed), and fusing an UNFILLED cache into the
    // first iteration recomputes the pairs pipeline per branch (measured
    // 6× slower at sf0.1)
    p0.count()
    val edges = p0.unionByName(p0.select(col("dst").as("src"), col("src").as("dst")))
    // Convergence check without a per-iteration join: labels only ever
    // DECREASE under min-propagation, so Σ lbl is strictly monotone while
    // anything changes — one tiny aggregate over the checkpointed labels
    // replaces the join+filter+count job.
    // decimal(38,0) sum: exact and overflow-free even for 10^10 nodes with
    // 2^40-range ids; null (empty graph) coalesces to 0 = immediate stop
    def lblSum(df: DataFrame): java.math.BigDecimal =
      df.agg(coalesce(sum(col("lbl").cast("decimal(38,0)")),
        lit(java.math.BigDecimal.ZERO))).head().getDecimal(0)
    // pointer jump (path doubling): remap each label through its own
    // label — L'(id) = L(L(id)). Every label is a member node's id
    // (≤ its own), so the self-join always matches; the reachable
    // distance doubles per iteration and the loop runs O(log diameter)
    // times instead of O(diameter). The input must already be
    // checkpointed: the self-join reads it twice, and measurement showed
    // fusing jump+propagation into one job REPLANS (AQE) the aggregation
    // per branch instead of reusing it.
    def jumped(prop: DataFrame): DataFrame = prop
      .join(prop.select(col("id").as("lbl"), col("lbl").as("lbl2")),
        Seq("lbl"), "left")
      .select(col("id"), coalesce(col("lbl2"), col("lbl")).as("lbl"))
      .localCheckpoint()
    // Iteration 0 fused onto the edge list: min over the closed
    // neighborhood is one aggregation (no seed label table, no join) —
    // label(u) = min(u, min over neighbors). Near-dup graphs are dense, so
    // most nodes reach their component min right here.
    var labels = jumped(
      edges.groupBy("src").agg(min("dst").as("md"))
        .select(col("src").as("id"), least(col("src"), col("md")).as("lbl"))
        .localCheckpoint())
    var prevSum = lblSum(labels)
    var converged = false
    var iter = 1
    while (!converged && iter < maxIters) {
      val viaNbr = edges
        .join(labels.select(col("id").as("dst"), col("lbl")), Seq("dst"))
        .select(col("src").as("id"), col("lbl"))
      val next = jumped(
        labels.unionByName(viaNbr)
          .groupBy("id").agg(min("lbl").as("lbl"))
          .localCheckpoint())
      // convergence: Σ lbl strictly decreases until the fixpoint; dense
      // graphs fixpoint at iteration 0 and stop after one confirmation.
      val nextSum = lblSum(next)
      converged = nextSum.compareTo(prevSum) == 0
      prevSum = nextSum
      labels = next
      iter += 1
    }
    p0.unpersist()
    labels.select(col("id").as("doc_id"), col("lbl").as("cluster_id"))
  }

  /** Benchmark decontamination: (train, bench, n_shared) for every train
    * doc sharing ≥ `minShared` distinct shingles with an eval/benchmark
    * doc. Shuffle key is the shingle hash (inverted index) — the bench
    * side is tiny in practice, so the join is bench-bounded; `maxShingleDf`
    * caps boilerplate skew exactly as in ngramJaccardPairs. */
  def crossCorpusOverlap(train: DataFrame, bench: DataFrame, idCol: String,
                         textCol: String, shingleSize: Int = 3,
                         minShared: Int = 3,
                         maxShingleDf: Int = 100000): DataFrame = {
    def exploded(d: DataFrame, as: String) = d.select(
      col(idCol).as(as),
      explode(array_distinct(hashedShingles(col(textCol), shingleSize))).as("h"))
    val te = exploded(train, "train_id")
    val be = exploded(bench, "bench_id")
    val rare = be.groupBy("h").count().filter(col("count") <= maxShingleDf)
      .select("h")
    te.join(be.join(broadcast(rare), Seq("h")), Seq("h"))
      .groupBy("train_id", "bench_id")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Cross-corpus NEAR-duplicate pairs via MinHash LSH: band-bucket
    * candidates generated between the two sides only (never within a
    * side), then exact-Jaccard verified — the near-dup decontamination
    * shape (train docs paraphrase-level-close to a benchmark doc), one
    * rung stricter than shingle-overlap counting (crossCorpusOverlap)
    * and one looser than verbatim-span scrubbing (crossCorpusSpans).
    * Ids must be disjoint across sides. Scale shape identical to
    * incrementalDedup's near leg: probe×corpus buckets only, the bench
    * side tiny in practice. */
  def crossCorpusNearDups(train: DataFrame, bench: DataFrame, idCol: String,
                          textCol: String, shingleSize: Int = 3,
                          bands: Int = 16, rowsPerBand: Int = 4,
                          threshold: Double = 0.8): DataFrame = {
    val shT = hashedShingleTable(train, idCol, textCol, shingleSize)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val shB = hashedShingleTable(bench, idCol, textCol, shingleSize)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bT = bucketsFromShingles(shT, idCol, bands, rowsPerBand)
      .select(col("band"), col("band_key"), col(idCol).as("id_a"))
    val bB = bucketsFromShingles(shB, idCol, bands, rowsPerBand)
      .select(col("band"), col("band_key"), col(idCol).as("id_b"))
    val cands = bT.join(bB, Seq("band", "band_key"))
      .select("id_a", "id_b").distinct()
    val shd = shT.unionByName(shB)
      .select(col(idCol), array_distinct(col("hs")).as("sh"))
    jaccardOverShingleSets(cands, shd, idCol)
      .filter(col("jaccard") >= threshold)
      .select(col("id_a").as("train_id"), col("id_b").as("bench_id"),
        col("jaccard"))
  }

  /** Incremental dedup: drop from `newDocs` everything that exactly or
    * nearly duplicates the EXISTING `corpus` (ids must be disjoint). The
    * production shape for rolling ingestion — each batch dedups against
    * the accumulated corpus without re-pairing the corpus with itself:
    * exact via fingerprint semi-join, near via MinHash buckets of both
    * sides joined new×corpus only, then exact-Jaccard verified. */
  def incrementalDedup(newDocs: DataFrame, corpus: DataFrame, idCol: String,
                       textCol: String, shingleSize: Int = 3, bands: Int = 16,
                       rowsPerBand: Int = 4,
                       threshold: Double = 0.8): DataFrame = {
    def fp(d: DataFrame) = d.select(
      col(idCol), TextFunctions.contentFingerprint(col(textCol)).as("fp"))
    // left_semi instead of inner-join-on-distinct (r15 opt): the doomed
    // set feeds ONLY an anti join, so multiplicity never matters — the
    // semi join drops the corpus-side distinct's exchange outright
    val exactDoomed = fp(newDocs)
      .join(fp(corpus).select("fp"), Seq("fp"), "left_semi")
      .select(col(idCol))
    val shNew = hashedShingleTable(newDocs, idCol, textCol, shingleSize)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val shOld = hashedShingleTable(corpus, idCol, textCol, shingleSize)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bNew = bucketsFromShingles(shNew, idCol, bands, rowsPerBand)
      .select(col("band"), col("band_key"), col(idCol).as("id_a"))
    val bOld = bucketsFromShingles(shOld, idCol, bands, rowsPerBand)
      .select(col("band"), col("band_key"), col(idCol).as("id_b"))
    val cands = bNew.join(bOld, Seq("band", "band_key"))
      .select("id_a", "id_b").distinct()
    val shd = shNew.unionByName(shOld)
      .select(col(idCol), array_distinct(col("hs")).as("sh"))
    val nearDoomed = jaccardOverShingleSets(cands, shd, idCol)
      .filter(col("jaccard") >= threshold)
      .select(col("id_a").as(idCol))
    // no distinct on doomed (r15 opt): LEFT ANTI is duplicate-insensitive
    // on its right side, so the union feeds the anti join directly — one
    // exchange fewer at every scale
    val doomed = exactDoomed.unionByName(nearDoomed)
    newDocs.join(doomed, Seq(idCol), "left_anti")
  }

  /** [[incrementalDedup]] with a broadcast Bloom prefilter on BOTH corpus
    * key sets (exact content fingerprints and LSH band keys): the batch
    * side is first filtered to bloom might-contain suspects, and only the
    * suspects pay the exact confirm joins. Semantics are IDENTICAL to
    * incrementalDedup (bloom false positives die in the confirm joins,
    * false negatives are impossible), so the two share an oracle.
    *
    * The 100 TB shape: the corpus blooms are built once, offline, next to
    * the dedup index (~10 bits per corpus key — a 10-billion-doc corpus
    * with 16 bands is ~200 GB of band keys but only ~20 GB of bloom, and
    * per-table blooms can be sharded; here one in-memory filter stands in
    * for that artifact). Each ingest batch then broadcast-probes the
    * bloom locally and ships ONLY suspects into the shuffle join against
    * the corpus key table — for mostly-novel batches (the common case)
    * that's a >100× reduction of the join's probe side. */
  def incrementalDedupBloom(newDocs: DataFrame, corpus: DataFrame, idCol: String,
                            textCol: String, shingleSize: Int = 3, bands: Int = 16,
                            rowsPerBand: Int = 4, threshold: Double = 0.8,
                            bloomWords: Int = 0, bloomK: Int = 7): DataFrame = {
    import graft.functions.Bloom
    // bloomWords = 0 (default) sizes each filter from its own key count at
    // ~10 bits/key — the shape an offline index build uses. A FIXED size
    // is a scale trap: the r12 decade audit measured this query 3.8×
    // superlinear at 10× corpus because 2^20 bits saturate at ~800k band
    // keys (FP ≈ 97% — the prefilter silently stops filtering and every
    // probe pays the confirm join). Semantics are unaffected either way.
    // Cap at 2^21 words (16 MiB): these filters ride the PLAN as literals
    // (see Bloom.literal below), so past ~13M keys the FP rate degrades
    // gracefully rather than shipping a gigabyte plan — a corpus that big
    // materializes sharded filters offline next to the dedup index.
    def sizedWords(nKeys: Long): Int =
      math.min(1L << 21, math.max(16384L, (nKeys * 10 + 63) / 64)).toInt
    // the 64-bit probe KEY is projected once and persisted: the filter's
    // k conjuncts would otherwise each inline the md5+regex fingerprint
    // (no cross-conjunct subexpression elimination — measured as the
    // whole probe cost); the fp frames also each feed two consumers
    def fp(d: DataFrame) = d.select(
      col(idCol), TextFunctions.contentFingerprint(col(textCol)).as("fp"))
      .withColumn("key", xxhash64(col("fp")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val corpusFp = fp(corpus)
    // Bloom sizing (r15 opt): fpWords keys = one fingerprint ROW per
    // corpus doc and band keys = exactly `bands` bucket rows per corpus
    // doc, so both sizes derive from ONE pruned count of the corpus —
    // identical word counts to the old corpusFp.count()/bOld.count()
    // row-count sizing (⇒ byte-identical filters), without the two jobs
    // that each materialized a whole cached fingerprint/bucket table
    // just to read its size. Offline, these counts come from the dedup
    // index's catalog statistics.
    val nCorpus =
      if (bloomWords > 0) -1L else corpus.select(col(idCol)).count()
    val fpWords =
      if (bloomWords > 0) bloomWords else sizedWords(nCorpus)
    val shNew = hashedShingleTable(newDocs, idCol, textCol, shingleSize)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val shOld = hashedShingleTable(corpus, idCol, textCol, shingleSize)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bNew = bucketsFromShingles(shNew, idCol, bands, rowsPerBand)
      .select(col("band"), col("band_key"), col(idCol).as("id_a"))
    // persisted: the bloom build consumes the corpus bucket table once;
    // without the persist the minhash signatures would be recomputed for
    // the candidate join
    val bOld = bucketsFromShingles(shOld, idCol, bands, rowsPerBand)
      .select(col("band"), col("band_key"), col(idCol).as("id_b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bandWords =
      if (bloomWords > 0) bloomWords else sizedWords(nCorpus * bands)
    // blooms are index artifacts: built distributed (map-side bit_or),
    // reduced to words×8 bytes on the driver, inlined as plan LITERALS —
    // the probe is a plain codegen'd filter, no join, no per-row copy of
    // the filter array (offline, they'd be built next to the dedup
    // index). BOTH filters build in one fused action (r15 opt — the
    // fingerprint and bucket subtrees materialize concurrently instead
    // of as two serial jobs; Debug's phase breakdown put the serial
    // builds at the top of this operator's cost).
    val Seq(fpArr, bandArr) = Bloom.buildWordsMulti(Seq(
      (corpusFp, "key", fpWords, bloomK),
      (bOld.select(xxhash64(col("band"), col("band_key")).as("key")),
        "key", bandWords, bloomK)))
    val fpBloom = Bloom.literal(fpArr)
    val bandBloom = Bloom.literal(bandArr)
    val fpSuspects = fp(newDocs)
      .filter(Bloom.mightContain(fpBloom, col("key"), fpWords, bloomK))
      .select(col(idCol), col("fp"))
    // left_semi instead of inner-join-on-distinct (r15 opt, see
    // incrementalDedup): doomed feeds an anti join, multiplicity is moot
    val exactDoomed = fpSuspects
      .join(corpusFp.select("fp"), Seq("fp"), "left_semi")
      .select(col(idCol))
    val bNewSuspects = bNew
      .filter(Bloom.mightContain(bandBloom,
        xxhash64(col("band"), col("band_key")), bandWords, bloomK))
      .select("band", "band_key", "id_a")
    val cands = bNewSuspects.join(bOld, Seq("band", "band_key"))
      .select("id_a", "id_b").distinct()
    val shd = shNew.unionByName(shOld)
      .select(col(idCol), array_distinct(col("hs")).as("sh"))
    val nearDoomed = jaccardOverShingleSets(cands, shd, idCol)
      .filter(col("jaccard") >= threshold)
      .select(col("id_a").as(idCol))
    // no distinct: LEFT ANTI is duplicate-insensitive on its right side
    val doomed = exactDoomed.unionByName(nearDoomed)
    newDocs.join(doomed, Seq(idCol), "left_anti")
  }

  // ------------------------------------------------ paragraph-level dedup

  /** C4-style paragraph-level dedup: drop every repeated paragraph except
    * its FIRST occurrence (ordered by (doc id, position)), then reassemble
    * each document from its surviving paragraphs — the standard boilerplate
    * scrub (license footers, nav text, newsletter blurbs) that document-
    * level dedup cannot touch. Documents whose every paragraph is a repeat
    * disappear entirely, as in C4.
    *
    * Shuffle shape: first-occurrence election shuffles only (fingerprint,
    * 64-bit location) pairs — never paragraph text; the survivors are then
    * selected by a semi-join on the unique location key and reassembled
    * with one groupBy on the doc id. Requires < 10^6 paragraphs per doc
    * (location key = id·10^6 + position). */
  def paragraphDedup(docs: DataFrame, idCol: String, textCol: String,
                     sep: String = "\n\n"): DataFrame = {
    // persisted: both the first-occurrence election and the survivor
    // semi-join read this table — without it the split/explode text pass
    // runs twice (materialize to storage instead at warehouse scale)
    val paras = docs
      .select(col(idCol), posexplode(
        split(col(textCol), java.util.regex.Pattern.quote(sep)))
        .as(Seq("pos", "para")))
      .filter(trim(col("para")) =!= "")
      .withColumn("loc", col(idCol) * 1000000L + col("pos"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val keepLocs = paras
      .select(TextFunctions.contentFingerprint(col("para")).as("fp"), col("loc"))
      .groupBy("fp").agg(min("loc").as("loc"))
      .select("loc")
    paras.join(keepLocs, Seq("loc"), "left_semi")
      .groupBy(col(idCol))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("para")))),
          x => x("para")), sep).as(textCol))
  }

  // ------------------------------------------------ exact substring spans

  /** Exact substring-level dedup (the ExactSubstr family of Lee et al.
    * 2022, "Deduplicating Training Data Makes Language Models Better"):
    * find maximal verbatim token runs of length ≥ L shared across
    * documents and return per-document removal spans. The paper builds a
    * monolithic suffix array — not a distributed-friendly artifact at
    * 100 TB — but its output is exactly recoverable from the positional
    * shingle index this engine already builds: a shared substring of
    * t ≥ L tokens appears as a run of t−k+1 consecutive shared
    * k-shingles at a constant position delta, and conversely every run
    * of m ≥ minRun consecutive shared shingles is a verbatim(-modulo-
    * hash-collision) shared substring of m+k−1 tokens, so L = minRun+k−1.
    *
    * Shuffle shape: one positional shingle pass — only (id, pos, hash64)
    * triples ever shuffle, never text — then a df-capped inverted-index
    * self-join (Σdf², never n²), a run-island window keyed on
    * (id_a, id_b, pos-delta), and a per-doc interval-union window. All
    * stages are linear in the number of shingle matches at any scale.
    *
    * Returns (doc_id, span_start, span_end, span_tokens): merged maximal
    * token intervals [span_start, span_end) whose text appears verbatim
    * in at least one other document. Downstream removal = cut these
    * spans (keeping one canonical occurrence is a policy layer on top). */
  def substringSpans(docs: DataFrame, idCol: String, textCol: String,
                     shingleSize: Int = 3, minRun: Int = 6,
                     maxShingleDf: Int = 100000,
                     keepFirst: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // persisted: the df filter and the capped self-join both read it
    val sh = docs.select(col(idCol).as("id"),
        posexplode(hashedShingles(col(textCol), shingleSize))
          .as(Seq("pos", "h")))
      .withColumn("pos", col("pos").cast("long"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // df ≥ 2 occurrences or the shingle can't match across docs; the cap
    // bounds Σdf² against boilerplate skew (matches the other families)
    // LEFT SEMI, no broadcast hint (ADVICE r15): unbounded df-band set —
    // AQE broadcasts at runtime only when it fits
    val shared = sh.groupBy("h").count()
      .filter(col("count").between(2, maxShingleDf)).select("h")
    // persist the CAPPED positional index (r16 opt, the ngramJaccard
    // pattern): both self-join sides read it, and without the cache each
    // side re-runs the posexplode + semi filter — the profiler showed
    // the two sides racing as concurrent ~2.7 s materializations
    val capped = sh.join(shared, Seq("h"), "left_semi")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val matches = capped
      .select(col("h"), col("id").as("id_a"), col("pos").as("pa"))
      .join(capped.select(col("h"), col("id").as("id_b"), col("pos").as("pb")),
        Seq("h"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("diff", col("pa") - col("pb"))
    // gaps-and-islands: within a (pair, delta) group, consecutive pa
    // values share (pa − row_number), so each island is one maximal run.
    // (r16: a collect_list + array-fold variant of this step was
    // implemented, oracle-verified and REJECTED on measurement — the
    // ObjectHashAggregate's per-group array state more than doubled the
    // family's wall: spans 5.6 → 12.5 s, index 3.5 → 5.6 s; the sorted
    // window is the faster island builder here.)
    val wRun = Window.partitionBy("id_a", "id_b", "diff").orderBy("pa")
    val runs = matches
      .withColumn("grp", col("pa") - row_number().over(wRun))
      .groupBy("id_a", "id_b", "diff", "grp")
      .agg(min("pa").as("run_start"), count(lit(1)).as("run_len"))
      .filter(col("run_len") >= minRun)
    // a run of m shingles starting at token p covers tokens [p, p+m+k−1)
    val spanEnd = col("run_start") + col("run_len") + lit(shingleSize - 1L)
    val bSide = runs.select(col("id_b").as("doc_id"),
      (col("run_start") - col("diff")).as("s"),
      (spanEnd - col("diff")).as("e"))
    // keepFirst: flag only the HIGHER id of every pair, so the globally
    // minimal doc containing a duplicated substring is never flagged for
    // it (it can't be id_b of any matching pair) — each distinct
    // substring survives in at least one document, which is exactly the
    // keep-one-occurrence policy of Lee et al. 2022 §3.2
    val spans =
      if (keepFirst) bSide
      else runs.select(col("id_a").as("doc_id"),
        col("run_start").as("s"), spanEnd.as("e")).unionByName(bSide)
    mergeSpans(spans)
  }

  /** Per-doc interval union of (doc_id, s, e) half-open token spans →
    * (doc_id, span_start, span_end, span_tokens). distinct first: many
    * partners emit the same (doc, s, e) span, and only with unique rows
    * is the (s, e) window order TOTAL — with duplicates, the
    * island-start flag and the cumulative island sum can see tied rows
    * in different orders and split one island into two identical
    * groups. */
  private def mergeSpans(spans: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wDoc = Window.partitionBy("doc_id").orderBy("s", "e")
    val prevMax = max("e")
      .over(wDoc.rowsBetween(Window.unboundedPreceding, -1))
    spans.distinct()
      .withColumn("ni",
        when(col("s") > coalesce(prevMax, lit(-1L)), 1L).otherwise(0L))
      .withColumn("island", sum("ni").over(wDoc))
      .groupBy("doc_id", "island")
      .agg(min("s").as("span_start"), max("e").as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start")).as("span_tokens"))
  }

  /** Apply substring-removal spans to the corpus: cut the flagged token
    * ranges out of each document and return
    * (id, clean_text, n_tokens, n_removed). Pair with
    * `substringSpans(keepFirst = true)` for the full Lee et al. 2022
    * ExactSubstr pipeline: every duplicated substring keeps exactly its
    * lowest-id occurrence and is cut everywhere else.
    *
    * Scale shape: the span table collapses to one small array per
    * flagged doc and LEFT-joins the corpus (docs with no spans pass
    * through untouched); the cut itself is a codegen'd higher-order
    * filter over the token array — no explode, no per-token shuffle,
    * text shuffles zero times. clean_text is the canonical token stream
    * (lowercased, single-space), i.e. the same normalization the
    * shingle positions were computed over. */
  def applySpans(docs: DataFrame, spans: DataFrame, idCol: String,
                 textCol: String): DataFrame = {
    val sp = spans.groupBy(col("doc_id").as(idCol))
      .agg(collect_list(struct(col("span_start").as("s"),
        col("span_end").as("e"))).as("spans"))
    val emptySpans = array().cast("array<struct<s:bigint,e:bigint>>")
    docs.select(col(idCol), col(textCol))
      .join(sp, Seq(idCol), "left")
      .withColumn("toks", TextFunctions.tokens(lower(col(textCol))))
      .withColumn("sp", coalesce(col("spans"), emptySpans))
      .withColumn("kept", filter(col("toks"), (t, i) =>
        !exists(col("sp"), span =>
          i.cast("long") >= span.getField("s") &&
            i.cast("long") < span.getField("e"))))
      .select(col(idCol),
        array_join(col("kept"), " ").as("clean_text"),
        size(col("toks")).cast("long").as("n_tokens"),
        (size(col("toks")) - size(col("kept"))).cast("long").as("n_removed"))
  }

  /** Materialize the positional-shingle index of a corpus for
    * INCREMENTAL substring dedup: (id, pos, h) triples, pre-filtered to
    * hashes with corpus document frequency ≤ maxShingleDf (boilerplate
    * cap — identical matches would be found for them by every batch,
    * uselessly). Built once offline; every ingest batch probes it
    * without re-tokenizing a byte of corpus text. */
  def writeSubstrIndex(corpus: DataFrame, path: String, idCol: String,
                       textCol: String, shingleSize: Int = 3,
                       maxShingleDf: Int = 100000): Unit = {
    val pos = corpus.select(col(idCol).as("id"),
        posexplode(hashedShingles(col(textCol), shingleSize))
          .as(Seq("pos", "h")))
      .withColumn("pos", col("pos").cast("long"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val keep = pos.groupBy("h").count()
        .filter(col("count") <= maxShingleDf).select("h")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        // LEFT SEMI, no broadcast hint (ADVICE r15): the kept-hash set is
        // unbounded in corpus size — AQE broadcasts only when it fits
        pos.join(keep, Seq("h"), "left_semi")
          .select("id", "pos", "h")
          .write.mode(SaveMode.Overwrite).parquet(s"$path/pos")
        // bloom of the index's distinct shingle hashes, stored NEXT TO
        // the index: a batch probe drops non-matching shingles before
        // the shuffle join ([[substringSpansFromIndexBloom]]). ~10 bits
        // per distinct kept hash.
        import graft.functions.Bloom
        val sp = corpus.sparkSession
        import sp.implicits._
        val words = Bloom.wordsFor(keep.count())
        val bw = Bloom.buildWords(keep, "h", words)
        bw.zipWithIndex.map { case (w, i) => (i, w) }.toSeq
          .toDF("i", "w")
          .write.mode(SaveMode.Overwrite).parquet(s"$path/bloom")
        Seq((words, 7)).toDF("words", "k")
          .write.mode(SaveMode.Overwrite).parquet(s"$path/bloommeta")
      } finally { keep.unpersist(); () }
    } finally { pos.unpersist(); () }
  }

  /** [[substringSpansFromIndex]] with the stored index bloom as a batch
    * prefilter: the batch's positional shingles are probed against the
    * ~10-bit/hash filter LOCALLY, and only might-contain shingles enter
    * the shuffle join against the index. Results are IDENTICAL — a
    * dropped shingle had no matching index rows, and a false positive
    * simply joins to nothing — but for mostly-novel ingest the join's
    * probe side shrinks to the (rare) genuinely-shared shingles. */
  def substringSpansFromIndexBloom(spark: org.apache.spark.sql.SparkSession,
                                   path: String, newDocs: DataFrame,
                                   idCol: String, textCol: String,
                                   shingleSize: Int = 3,
                                   minRun: Int = 6): DataFrame = {
    import graft.functions.Bloom
    val meta = spark.read.parquet(s"$path/bloommeta").head()
    val (words, k) = (meta.getInt(0), meta.getInt(1))
    val arr = new Array[Long](words)
    spark.read.parquet(s"$path/bloom").collect()
      .foreach(r => arr(r.getInt(0)) = r.getLong(1))
    val bl = Bloom.literal(arr)
    spansAgainstPositional(
      positionalShingles(newDocs, idCol, textCol, shingleSize)
        .filter(Bloom.mightContain(bl, col("h"), words, k)),
      spark.read.parquet(s"$path/pos"), shingleSize, minRun)
  }

  /** Incremental exact-substring dedup: removal spans of a NEW batch
    * against the materialized corpus positional index
    * ([[writeSubstrIndex]]). Only batch text is shingled; matching is
    * batch × index (never corpus × corpus), runs and interval union as
    * [[substringSpans]]. Spans are emitted for the new docs only — the
    * corpus is the kept canonical side, which is keep-first with the
    * corpus as "first". At 100 TB this is the rolling-ingest form: per
    * batch, text work is O(batch) and match work is Σ df(batch shingle)
    * over the capped index. */
  def substringSpansFromIndex(spark: org.apache.spark.sql.SparkSession,
                              path: String, newDocs: DataFrame,
                              idCol: String, textCol: String,
                              shingleSize: Int = 3,
                              minRun: Int = 6): DataFrame =
    spansAgainstPositional(
      positionalShingles(newDocs, idCol, textCol, shingleSize),
      spark.read.parquet(s"$path/pos"), shingleSize, minRun)

  /** Cross-corpus exact-substring spans WITHOUT a materialized index:
    * verbatim runs of probe docs that appear anywhere in `corpus`,
    * corpus shingled inline with the df cap applied. Same semantics as
    * [[substringSpansFromIndex]] over a just-built index — use this
    * when the corpus is small or ad hoc (e.g. a benchmark suite for
    * decontamination), the index form for a large standing corpus. */
  def crossCorpusSpans(probe: DataFrame, corpus: DataFrame, idCol: String,
                       textCol: String, shingleSize: Int = 3,
                       minRun: Int = 6,
                       maxShingleDf: Int = 100000): DataFrame = {
    val cp = positionalShingles(corpus, idCol, textCol, shingleSize)
    val keep = cp.groupBy("h").count()
      .filter(col("count") <= maxShingleDf).select("h")
    // LEFT SEMI, no broadcast hint (ADVICE r15): unbounded kept-hash set
    spansAgainstPositional(
      positionalShingles(probe, idCol, textCol, shingleSize),
      cp.join(keep, Seq("h"), "left_semi"), shingleSize, minRun)
  }

  /** Docs → (id, pos, h) positional shingle triples. */
  private def positionalShingles(docs: DataFrame, idCol: String,
                                 textCol: String,
                                 shingleSize: Int): DataFrame =
    docs.select(col(idCol).as("id"),
        posexplode(hashedShingles(col(textCol), shingleSize))
          .as(Seq("pos", "h")))
      .withColumn("pos", col("pos").cast("long"))

  /** Probe-side positional shingles vs a corpus-side positional table:
    * run-islands per (probe, corpus, delta), spans for PROBE docs only,
    * merged per doc. */
  private def spansAgainstPositional(np: DataFrame, cp: DataFrame,
                                     shingleSize: Int,
                                     minRun: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val matches = np
      .select(col("h"), col("id").as("id_n"), col("pos").as("pn"))
      .join(cp.select(col("h"), col("id").as("id_c"),
        col("pos").as("pc")), Seq("h"))
      .withColumn("diff", col("pn") - col("pc"))
    val wRun = Window.partitionBy("id_n", "id_c", "diff").orderBy("pn")
    val runs = matches
      .withColumn("grp", col("pn") - row_number().over(wRun))
      .groupBy("id_n", "id_c", "diff", "grp")
      .agg(min("pn").as("run_start"), count(lit(1)).as("run_len"))
      .filter(col("run_len") >= minRun)
    val spanEnd = col("run_start") + col("run_len") + lit(shingleSize - 1L)
    mergeSpans(runs.select(col("id_n").as("doc_id"),
      col("run_start").as("s"), spanEnd.as("e")))
  }

  // ------------------------------------------------- persisted dedup index

  /** Materialize the corpus side of incremental dedup ONCE, so rolling
    * ingestion never re-shingles the corpus. Three artifacts under `path`:
    *   fp/       — distinct content fingerprints (exact-dup check)
    *   buckets/  — (band, band_key, id) MinHash LSH bucket table
    *   shingles/ — (id, sh) distinct hashed-shingle sets (Jaccard verify)
    * At 100 TB this is THE incremental-dedup enabler: the per-batch cost
    * becomes shingle(new) + three joins against on-disk artifacts instead
    * of a full corpus text pass per batch. The corpus is shingled exactly
    * once here (shared persist feeds both buckets and shingles). Extend
    * the index by appending the same three artifacts for each accepted
    * batch (ids are disjoint, all three are unioned by construction). */
  def writeDedupIndex(corpus: DataFrame, path: String, idCol: String,
                      textCol: String, shingleSize: Int = 3, bands: Int = 16,
                      rowsPerBand: Int = 4): Unit = {
    val sh = hashedShingleTable(corpus, idCol, textCol, shingleSize)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      corpus.select(TextFunctions.contentFingerprint(col(textCol)).as("fp"))
        .distinct()
        .write.mode(SaveMode.Overwrite).parquet(s"$path/fp")
      bucketsFromShingles(sh, idCol, bands, rowsPerBand)
        .write.mode(SaveMode.Overwrite).parquet(s"$path/buckets")
      sh.select(col(idCol), array_distinct(col("hs")).as("sh"))
        .write.mode(SaveMode.Overwrite).parquet(s"$path/shingles")
    } finally { sh.unpersist(); () }
  }

  /** `writeDedupIndex` with BUCKETED layout (catalog tables, not paths):
    * `<prefix>_fp` bucketed by fp, `<prefix>_buckets` by band_key,
    * `<prefix>_shingles` by the id — each bucketed+sorted on exactly the
    * key its probe join uses, so the CORPUS side of every probe join is
    * read pre-partitioned with ZERO exchange; only the (small) new batch
    * shuffles to match. This is the 100 TB form: the index is written
    * once, and no ingest batch ever re-shuffles it. Any existing tables
    * under the prefix are replaced. */
  def writeDedupIndexBucketed(corpus: DataFrame, tablePrefix: String,
                              idCol: String, textCol: String,
                              shingleSize: Int = 3, bands: Int = 16,
                              rowsPerBand: Int = 4, buckets: Int = 8): Unit = {
    val spark = corpus.sparkSession
    Seq("fp", "buckets", "shingles").foreach(sfx =>
      spark.sql(s"DROP TABLE IF EXISTS ${tablePrefix}_$sfx"))
    val sh = hashedShingleTable(corpus, idCol, textCol, shingleSize)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      Layout.writeBucketed(
        corpus.select(TextFunctions.contentFingerprint(col(textCol)).as("fp"))
          .distinct(),
        s"${tablePrefix}_fp", "fp", buckets)
      Layout.writeBucketed(
        bucketsFromShingles(sh, idCol, bands, rowsPerBand),
        s"${tablePrefix}_buckets", "band_key", buckets)
      Layout.writeBucketed(
        sh.select(col(idCol), array_distinct(col("hs")).as("sh")),
        s"${tablePrefix}_shingles", idCol, buckets)
    } finally { sh.unpersist(); () }
  }

  /** Probe the BUCKETED index: `incrementalDedupFromIndex` semantics with
    * every corpus-side join reading the bucketed tables in place. The
    * merge hints pin sort-merge joins so the bucketed layout is actually
    * used — with a bucketed corpus that is the deliberate choice (a
    * broadcast of the new side would also work for tiny batches, but the
    * bucketed plan is the one that survives arbitrarily large batches). */
  def incrementalDedupFromBucketedIndex(spark: SparkSession,
                                        tablePrefix: String,
                                        newDocs: DataFrame, idCol: String,
                                        textCol: String, shingleSize: Int = 3,
                                        bands: Int = 16, rowsPerBand: Int = 4,
                                        threshold: Double = 0.8): DataFrame = {
    // left_semi (r15 opt): doomed feeds an anti join, multiplicity moot
    val exactDoomed = newDocs
      .select(col(idCol), TextFunctions.contentFingerprint(col(textCol)).as("fp"))
      .join(spark.table(s"${tablePrefix}_fp").hint("merge"), Seq("fp"),
        "left_semi")
      .select(col(idCol))
    val shNew = hashedShingleTable(newDocs, idCol, textCol, shingleSize)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // candidate join on band_key ALONE: the band index is already hashed
    // into band_key (xxhash64(band, slice)), so a cross-band match is a
    // 64-bit hash collision whose spurious candidate the exact-Jaccard
    // verify drops — and a single-column join key equal to the bucket
    // column is what lets the V1 bucketed scan feed the sort-merge join
    // with zero corpus-side exchange (join keys must equal bucket cols)
    val bNew = bucketsFromShingles(shNew, idCol, bands, rowsPerBand)
      .select(col("band_key"), col(idCol).as("id_a"))
    val bOld = spark.table(s"${tablePrefix}_buckets").hint("merge")
      .select(col("band_key"), col(idCol).as("id_b"))
    val cands = bNew.join(bOld, Seq("band_key"))
      .select("id_a", "id_b").distinct()
    val scored = cands
      .join(shNew.select(col(idCol).as("id_a"),
        array_distinct(col("hs")).as("sh_a")), Seq("id_a"))
      .join(spark.table(s"${tablePrefix}_shingles").hint("merge")
        .select(col(idCol).as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("double"))
      .withColumn("uni", size(array_union(col("sh_a"), col("sh_b"))).cast("double"))
    val nearDoomed = scored
      .filter(col("uni") > 0 && col("inter") / col("uni") >= threshold)
      .select(col("id_a").as(idCol))
    // no distinct: LEFT ANTI is duplicate-insensitive on its right side
    val doomed = exactDoomed.unionByName(nearDoomed)
    newDocs.join(doomed, Seq(idCol), "left_anti")
  }

  /** `incrementalDedup` against a materialized index (same semantics, same
    * LSH parameters as the `writeDedupIndex` call — band keys must line
    * up). Only the NEW batch is shingled; the corpus side arrives as three
    * parquet scans. The candidate join keys on (band, band_key) with the
    * small new side driving, and the verify join fetches corpus shingle
    * sets only for candidate ids. */
  def incrementalDedupFromIndex(spark: SparkSession, path: String,
                                newDocs: DataFrame, idCol: String,
                                textCol: String, shingleSize: Int = 3,
                                bands: Int = 16, rowsPerBand: Int = 4,
                                threshold: Double = 0.8): DataFrame = {
    // left_semi (r15 opt): doomed feeds an anti join, multiplicity moot
    val exactDoomed = newDocs
      .select(col(idCol), TextFunctions.contentFingerprint(col(textCol)).as("fp"))
      .join(spark.read.parquet(s"$path/fp"), Seq("fp"), "left_semi")
      .select(col(idCol))
    val shNew = hashedShingleTable(newDocs, idCol, textCol, shingleSize)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bNew = bucketsFromShingles(shNew, idCol, bands, rowsPerBand)
      .select(col("band"), col("band_key"), col(idCol).as("id_a"))
    val bOld = spark.read.parquet(s"$path/buckets")
      .select(col("band"), col("band_key"), col(idCol).as("id_b"))
    val cands = bNew.join(bOld, Seq("band", "band_key"))
      .select("id_a", "id_b").distinct()
    val scored = cands
      .join(shNew.select(col(idCol).as("id_a"),
        array_distinct(col("hs")).as("sh_a")), Seq("id_a"))
      .join(spark.read.parquet(s"$path/shingles")
        .select(col(idCol).as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("double"))
      .withColumn("uni", size(array_union(col("sh_a"), col("sh_b"))).cast("double"))
    val nearDoomed = scored
      .filter(col("uni") > 0 && col("inter") / col("uni") >= threshold)
      .select(col("id_a").as(idCol))
    // no distinct: LEFT ANTI is duplicate-insensitive on its right side
    val doomed = exactDoomed.unionByName(nearDoomed)
    newDocs.join(doomed, Seq(idCol), "left_anti")
  }

  // -------------------------------------------------------------- SimHash

  /** 64-bit SimHash over word tokens — native one-pass expression
    * (graft.functions.SimHash64). */
  def simhash64(text: Column): Column =
    graft.functions.HashFunctions.simhash64(TextFunctions.tokens(lower(text)))

  /** Hamming distance between two 64-bit fingerprints. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs: band the fingerprint into 4×16-bit chunks and
    * bucket-join (pigeonhole: hamming ≤ 3 ⇒ at least one chunk equal, so
    * recall is exact for maxHamming ≤ 3), then verify with bit_count.
    *
    * Oversized chunk buckets are REFINED, not dropped (r13): the earlier
    * cap silently broke the pigeonhole guarantee once a bucket crossed
    * `maxBucketSize` — the r13 full-tree sf1 ORACLE sweep caught 2,340
    * missing pairs at 110k docs (18 chunk buckets over the 1000 cap, max
    * 1935; invisible at the official SFs where every bucket is small —
    * the same silent-saturation class as r12's fixed-width blooms). A
    * pair inside an oversized (chunk, value) bucket agrees on those 16
    * bits, so its ≤ maxHamming differing bits all lie in the OTHER 48;
    * splitting those 48 bits into 4 sub-chunks of 12 re-applies the
    * pigeonhole (≤3 diffs over 4 sub-chunks ⇒ ≥1 equal), cutting the
    * expected bucket 4096× while keeping recall EXACT — with ONE loud
    * exception: a sub-bucket that is STILL oversized after the split is
    * a mass of ≥ maxBucketSize near-identical fingerprints whose pair
    * output is inherently quadratic, and it is dropped (the compute
    * bound; exact duplicates are exact-dedup's job, and production
    * emits cluster representatives for near-identical masses).
    *
    * For maxHamming > 3 no pigeonhole guarantee exists at either level,
    * so the refinement is NOT applied and oversized buckets are dropped
    * as before — that regime (dedup_simhash_tuning's d-histogram) is a
    * measurement of capped banding's natural reach, where the cap is
    * part of the semantics. */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3, maxBucketSize: Int = 1000): DataFrame = {
    val fp = docs.select(col(idCol), simhash64(col(textCol)).as("fp"))
    val banded = fp.select(col(idCol), col("fp"), posexplode(
      array((0 until 4).map(c =>
        shiftright(col("fp"), c * 16).bitwiseAND(lit(0xFFFFL))): _*))
      .as(Seq("chunk", "chunk_val")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val counts = banded.groupBy("chunk", "chunk_val").count()
    val ok = counts.filter(col("count") <= maxBucketSize)
      .select("chunk", "chunk_val")
    val over = counts.filter(col("count") > maxBucketSize)
      .select("chunk", "chunk_val")
    def pairsWithin(df: DataFrame, keys: Seq[String]): DataFrame = {
      val l = df.select(keys.map(col) ++
        Seq(col(idCol).as("id_a"), col("fp").as("fp_a")): _*)
      val r = df.select(keys.map(col) ++
        Seq(col(idCol).as("id_b"), col("fp").as("fp_b")): _*)
      l.join(r, keys)
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          hamming64(col("fp_a"), col("fp_b")).as("hamming"))
    }
    val base = pairsWithin(
      banded.join(broadcast(ok), Seq("chunk", "chunk_val")),
      Seq("chunk", "chunk_val"))
    // the 48 bits OUTSIDE chunk c, packed low; then 4×12-bit sub-chunks
    val rest =
      when(col("chunk") === 0,
        shiftright(col("fp"), 16).bitwiseAND(lit(0xFFFFFFFFFFFFL)))
      .when(col("chunk") === 1, col("fp").bitwiseAND(lit(0xFFFFL))
        .bitwiseOR(shiftleft(
          shiftright(col("fp"), 32).bitwiseAND(lit(0xFFFFFFFFL)), 16)))
      .when(col("chunk") === 2, col("fp").bitwiseAND(lit(0xFFFFFFFFL))
        .bitwiseOR(shiftleft(
          shiftright(col("fp"), 48).bitwiseAND(lit(0xFFFFL)), 32)))
      .otherwise(col("fp").bitwiseAND(lit(0xFFFFFFFFFFFFL)))
    val sub = banded.join(broadcast(over), Seq("chunk", "chunk_val"))
      .withColumn("__rest", rest)
      .select(col("chunk"), col("chunk_val"), col(idCol), col("fp"),
        posexplode(array((0 until 4).map(sc =>
          shiftright(col("__rest"), sc * 12).bitwiseAND(lit(0xFFFL))): _*))
          .as(Seq("sub", "sub_val")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // final cap on sub-buckets: one that is STILL oversized after the
    // 4096× split is a mass of near-identical fingerprints whose pair
    // output is inherently quadratic — drop it (exact-dedup's job; this
    // is the compute bound, and the only remaining recall exception, now
    // loud in the guarantee statement above)
    val subOk = sub.groupBy("chunk", "chunk_val", "sub", "sub_val").count()
      .filter(col("count") <= maxBucketSize)
      .select("chunk", "chunk_val", "sub", "sub_val")
    val refined = pairsWithin(
      sub.join(broadcast(subOk), Seq("chunk", "chunk_val", "sub", "sub_val")),
      Seq("chunk", "chunk_val", "sub", "sub_val"))
    val all = if (maxHamming <= 3) base.unionByName(refined) else base
    all.distinct()
      .filter(col("hamming") <= maxHamming)
  }

  // ---------------------------------------------------- embedding near-dup

  /** Embedding near-duplicates: random-hyperplane LSH signature buckets
    * (multi-probe via `bands` independent bit-groups) + exact cosine
    * verify with the native CosineSimilarity expression. */
  def embeddingPairs(embs: DataFrame, idCol: String, vecCol: String,
                     minCosine: Double = 0.95, bits: Int = 16,
                     bands: Int = 4, maxBucketSize: Int = 1000): DataFrame = {
    // one independent hyperplane family per band (seed = band index)
    val allBanded = embs.select(col(idCol), col(vecCol), posexplode(
      array((0 until bands).map(b =>
        VectorFunctions.hyperplaneSignature(col(vecCol), bits, b)): _*))
      .as(Seq("band", "band_key")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // same degenerate-bucket cap as simhashPairs/candidatesFromBuckets:
    // a mass of identical embeddings would make one bucket quadratic
    val ok = allBanded.groupBy("band", "band_key").count()
      .filter(col("count") <= maxBucketSize)
      .select("band", "band_key")
    val banded = allBanded.join(broadcast(ok), Seq("band", "band_key"))
    val l = banded.select(col("band"), col("band_key"),
      col(idCol).as("id_a"), col(vecCol).as("v_a"))
    val r = banded.select(col("band"), col("band_key"),
      col(idCol).as("id_b"), col(vecCol).as("v_b"))
    l.join(r, Seq("band", "band_key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        VectorFunctions.cosineSim(col("v_a"), col("v_b")).as("cosine"))
      .distinct()
      .filter(col("cosine") >= minCosine)
  }
}
