package graft.operators

import graft.functions.VectorFunctions
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Batch operators only: a streaming caller runs them on each micro-batch
  * in `foreachBatch`. `bruteForceTopK` is exact (broadcast the small query
  * set against the corpus, native-expression cosine) and is the
  * correctness oracle for the ANN paths: LSH buckets (`lshTopK`), IVF
  * cells (`ivfTopK` and its materialized index), int8 (`int8TopK`) and
  * product quantization (`pqTopK`).
  *
  * Every top-k ranks through one helper, `topKPerQuery`: a per-query
  * row_number ordered by score desc, then id — a deterministic tie-break,
  * stable across engines and runs.
  */
object Similarity {

  /** The ranking policy: per `queryIdCol`, order by `scoreCol` desc then
    * `idCol`, keep rows with `rank` ≤ k. */
  private def topKPerQuery(scored: DataFrame, queryIdCol: String,
                           scoreCol: String, idCol: String, k: Int): DataFrame =
    scored
      .withColumn("rank", row_number().over(Window.partitionBy(col(queryIdCol))
        .orderBy(col(scoreCol).desc, col(idCol))))
      .filter(col("rank") <= k)

  /** The IVF cell probe: each query scores the broadcast centroids and
    * keeps its `nprobe` best cells as (queryIdCol, centroidIdCol, q_vec). */
  private def probeCells(queries: DataFrame, centroids: DataFrame, nprobe: Int,
                         vecCol: String, queryIdCol: String,
                         centroidIdCol: String): DataFrame =
    topKPerQuery(queries.select(col(queryIdCol), col(vecCol).as("q_vec"))
      .join(broadcast(centroids.select(col(centroidIdCol), col(vecCol).as("c_vec"))))
      .withColumn("c_cos", VectorFunctions.cosineSim(col("q_vec"), col("c_vec"))),
      queryIdCol, "c_cos", centroidIdCol, nprobe)
      .select(col(queryIdCol), col(centroidIdCol), col("q_vec"))

  /** The probed cells of a materialized IVF index. Probe cell ids are
    * resolved on the driver (|Q|·nprobe longs — metadata, not data) so the
    * cell filter is a literal IN-list that prunes partitions at scan time. */
  private def readProbedCells(spark: org.apache.spark.sql.SparkSession,
                              path: String, probes: DataFrame,
                              centroidIdCol: String): DataFrame = {
    val probed = probes.select(centroidIdCol).distinct()
      .collect().map(_.getLong(0))
    spark.read.parquet(path).filter(col(centroidIdCol).isin(probed: _*))
  }

  /** Exact cosine top-k: every (query, corpus) pair, k best per query. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding",
                     queryIdCol: String = "query_id"): DataFrame = {
    val q = queries.select(col(queryIdCol), col(vecCol).as("q_vec"))
    val scored = corpus.select(col(idCol), col(vecCol))
      .join(broadcast(q))
      .withColumn("cosine", VectorFunctions.cosineSim(col(vecCol), col("q_vec")))
    topKPerQuery(scored, queryIdCol, "cosine", idCol, k)
      .select(col(queryIdCol), col("rank"), col(idCol), col("cosine"))
  }

  /** Top-k by symmetric int8-quantized dot product: both sides quantized
    * (`VectorFunctions.quantizeInt8`, 4× smaller than float32), scored
    * with the exact integer dot — scores are order-independent BIGINTs,
    * reproducible bit-for-bit on any engine or partitioning. The memory
    * path for ANN at 100 TB: a quantized broadcast index ships 4× more
    * vectors per executor; re-rank the short list with float cosine when
    * exact ordering matters. */
  def int8TopK(corpus: DataFrame, queries: DataFrame, k: Int,
               idCol: String = "vec_id", vecCol: String = "embedding",
               queryIdCol: String = "query_id"): DataFrame = {
    val c = corpus.select(col(idCol),
      VectorFunctions.quantizeInt8(col(vecCol)).as("qv"))
    val q = queries.select(col(queryIdCol),
      VectorFunctions.quantizeInt8(col(vecCol)).as("qq"))
    topKPerQuery(c.join(broadcast(q))
      .withColumn("qdot", VectorFunctions.int8Dot(col("qv"), col("qq"))),
      queryIdCol, "qdot", idCol, k)
      .select(col(queryIdCol), col("rank"), col(idCol), col("qdot"))
  }

  /** LSH-bucketed ANN top-k: probe `bands` independent hyperplane
    * signatures, union candidates, exact-rerank. Recall < 1 by design;
    * raise `bands` (or lower `bits`) for higher recall. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              bits: Int = 12, bands: Int = 4,
              idCol: String = "vec_id", vecCol: String = "embedding",
              queryIdCol: String = "query_id"): DataFrame = {
    def banded(df: DataFrame, id: String, vec: String) =
      df.select(col(id), col(vec), posexplode(
        array((0 until bands).map(b =>
          VectorFunctions.hyperplaneSignature(col(vec), bits, b)): _*))
        .as(Seq("band", "band_key")))
    val c = banded(corpus.select(col(idCol), col(vecCol)), idCol, vecCol)
    val q = banded(queries.select(col(queryIdCol), col(vecCol).as("q_vec")),
      queryIdCol, "q_vec")
    val cands = c.join(broadcast(q), Seq("band", "band_key"))
      .select(col(queryIdCol), col(idCol), col(vecCol), col("q_vec"))
      .dropDuplicates(queryIdCol, idCol)
      .withColumn("cosine", VectorFunctions.cosineSim(col(vecCol), col("q_vec")))
    topKPerQuery(cands, queryIdCol, "cosine", idCol, k)
      .select(col(queryIdCol), col("rank"), col(idCol), col("cosine"))
  }

  /** Quantizer cell count for a corpus of `n` vectors: ⌈√n⌉, clamped to
    * [kMin, kMax]. A FIXED k is the classic IVF scale bug — cell
    * population grows linearly with the corpus, so within-cell work
    * (Σ|cell|² in SemDeDup, per-cell probe scans in IVF) and per-cell
    * file sizes grow without bound. k = √n balances the two costs that
    * pull against each other: coarse-quantizer assignment is O(n·k) and
    * per-cell probe work is O(n/k), so their product is minimized (and
    * each cell holds ~√n vectors) at k = √n — the standard IVF sizing
    * rule (FAISS's nlist guidance). At n = 10⁹ (a ~100 TB corpus of
    * 256-byte vectors) this gives k ≈ 31,623 centroids ≈ 8 MB — still
    * comfortably driver-collectable and broadcastable. `kMax` caps the
    * centroid table at a broadcast-safe size; past it, shard the corpus
    * and train per-shard quantizers. */
  def autoK(n: Long, kMin: Int = 8, kMax: Int = 1 << 18): Int =
    math.min(kMax.toLong, math.max(kMin.toLong,
      math.ceil(math.sqrt(n.toDouble)).toLong)).toInt

  /** Deterministic Lloyd's k-means over an Array[Float] embedding column —
    * trains the IVF coarse quantizer. Init = first k vectors by id (spread
    * is irrelevant for bucketing quality at few iterations; determinism
    * is what the correctness harness needs). The per-iteration reduce is
    * the classic explode-to-(cell, dim) shape: one shuffle of (cell, dim,
    * value) triples, never of whole vectors.
    *
    * `exactMeans = true` (default) computes each centroid coordinate as a
    * sequential double fold in ascending-id order — run-stable and
    * replicable bit-for-bit by an external oracle, at the cost of
    * collecting each cell's members per dimension (fine while cells fit
    * in memory). `false` uses streaming `avg`: scales to arbitrarily
    * large cells but the FP addition order — hence the last ulp of each
    * centroid — depends on partitioning. */
  def kmeansCentroids(corpus: DataFrame, k: Int, iters: Int,
                      idCol: String = "vec_id", vecCol: String = "embedding",
                      centroidIdCol: String = "centroid_id",
                      exactMeans: Boolean = true): DataFrame = {
    val spark = corpus.sparkSession
    var centroids = corpus.orderBy(col(idCol)).limit(k)
      .select(row_number().over(Window.orderBy(col(idCol))).cast("long").minus(1)
        .as(centroidIdCol), col(vecCol))
      .persist()
    centroids.count()
    (0 until iters).foreach { _ =>
      val assigned = assignToCentroids(corpus, centroids, idCol, vecCol, centroidIdCol)
      val meanExpr =
        if (exactMeans)
          aggregate(
            sort_array(collect_list(struct(col(idCol), col("v").cast("double").as("x")))),
            lit(0.0), (acc, e) => acc + e.getField("x")) /
            count(lit(1)).cast("double")
        else avg(col("v"))
      val next = assigned
        .select(col(centroidIdCol), col(idCol), posexplode(col(vecCol)).as(Seq("dim", "v")))
        .groupBy(col(centroidIdCol), col("dim"))
        .agg(meanExpr.as("v"))
        .groupBy(col(centroidIdCol))
        .agg(array_sort(collect_list(struct(col("dim"), col("v")))).as("dv"))
        .select(col(centroidIdCol),
          transform(col("dv"), e => e.getField("v").cast("float")).as(vecCol))
        .persist()
      next.count()
      centroids.unpersist()
      centroids = next
    }
    centroids
  }

  /** IVF (inverted-file) ANN: corpus pre-assigned to its nearest centroid
    * cell; a query probes its `nprobe` closest cells and reranks only
    * those cells' vectors with exact cosine. At warehouse scale the
    * assigned corpus is written partitioned by cell id, so a query reads
    * a handful of partitions instead of the corpus. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
              k: Int, nprobe: Int = 2,
              idCol: String = "vec_id", vecCol: String = "embedding",
              queryIdCol: String = "query_id",
              centroidIdCol: String = "centroid_id"): DataFrame = {
    val cells = assignToCentroids(corpus, centroids, idCol, vecCol, centroidIdCol)
      .select(col(centroidIdCol), col(idCol), col(vecCol))
    val probes = probeCells(queries, centroids, nprobe, vecCol, queryIdCol,
      centroidIdCol)
    topKPerQuery(cells.join(broadcast(probes), Seq(centroidIdCol))
      .withColumn("cosine", VectorFunctions.cosineSim(col(vecCol), col("q_vec"))),
      queryIdCol, "cosine", idCol, k)
      .select(col(queryIdCol), col("rank"), col(idCol), col("cosine"))
  }

  /** Materialize the IVF index: corpus assigned to cells, written
    * partitioned BY CELL ID. A probe then reads only its cells'
    * directories (PartitionFilters) — at 100 TB this is the difference
    * between scanning the corpus and scanning nprobe/k of it. */
  def writeIvfIndex(corpus: DataFrame, centroids: DataFrame, path: String,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    centroidIdCol: String = "centroid_id"): Unit =
    Layout.writePartitioned(
      assignToCentroids(corpus, centroids, idCol, vecCol, centroidIdCol)
        .select(col(centroidIdCol), col(idCol), col(vecCol)),
      path, Seq(centroidIdCol))

  /** Incremental IVF index append — the streaming-ingest sibling of
    * `incrementalDedupFromIndex`. Newly ingested vectors are assigned to
    * the EXISTING coarse quantizer's cells and written as NEW files into
    * the cell-partitioned layout (SaveMode.Append): no re-cluster, no
    * rewrite of existing cells — at 100 TB the corpus grows daily and a
    * full rebuild per batch is exactly what this avoids. Cell membership
    * is a pure function of (vector, centroids), so append-then-probe is
    * EXACTLY equal to rebuild-then-probe under the same centroids
    * (OperatorsSpec asserts the parity).
    *
    * Returns the per-cell appended counts plus the batch's mean
    * assignment cosine per cell — the drift signal: when appended mass
    * concentrates in few cells or assignment cosines degrade vs the
    * training epoch, that is the re-cluster trigger (tracked by the
    * caller across batches; the index itself never needs it to stay
    * exact). */
  def appendToIvfIndex(batch: DataFrame, centroids: DataFrame, path: String,
                       idCol: String = "vec_id", vecCol: String = "embedding",
                       centroidIdCol: String = "centroid_id"): DataFrame = {
    val assigned = assignToCentroids(batch, centroids, idCol, vecCol,
        centroidIdCol)
      .select(col(centroidIdCol), col(idCol), col(vecCol))
    Layout.writePartitioned(assigned, path, Seq(centroidIdCol),
      mode = org.apache.spark.sql.SaveMode.Append)
    assigned
      .join(broadcast(centroids.select(col(centroidIdCol),
        col(vecCol).as("c_vec"))), Seq(centroidIdCol))
      .withColumn("a_cos", VectorFunctions.cosineSim(col(vecCol), col("c_vec")))
      .groupBy(col(centroidIdCol))
      .agg(count(lit(1)).as("n_appended"),
        avg(col("a_cos")).as("mean_assign_cos"))
  }

  /** Re-cluster-and-swap — the ACTION the drift trigger calls for. When
    * `appendToIvfIndex`'s readout (concentrating appended mass, degrading
    * assignment cosines) says the base-trained quantizer no longer fits
    * the grown corpus, this retrains the coarse quantizer ON the grown
    * corpus (read from the index itself), writes the re-assigned corpus
    * cell-partitioned into a fresh directory, and installs it over
    * `path` with the `Layout.compact` rename protocol (move aside →
    * install → roll back on failure). Each rename is atomic but the PAIR
    * is not: between rename(path→old) and rename(tmp→path) a concurrent
    * reader sees no directory at `path` (FileNotFound, never a
    * half-written mix), and a crash in that window leaves the intact
    * index parked at `_recluster_old` for manual restore — true
    * single-rename atomicity needs a manifest/indirection pointer, which
    * this layout deliberately avoids (plain parquet dirs stay readable
    * by any engine). Stale `_recluster_tmp`/`_recluster_old` dirs from a
    * crashed prior attempt are cleaned up front so a retry cannot fail
    * on rename-onto-existing-path.
    *
    * Training is a deterministic pure function of the vector SET
    * (first-k init by ascending id, canonical ascending-id mean folds),
    * so the post-swap index equals a from-scratch build on the same
    * corpus EXACTLY — probes agree bit-for-bit (OperatorsSpec asserts
    * map-equality; the oracle replays train-on-full in SQL). The
    * retrained centroids are collected driver-side (k×dim floats —
    * metadata) BEFORE the swap so the returned frame never re-reads the
    * moved files. */
  def reclusterIvfIndex(spark: org.apache.spark.sql.SparkSession,
                        path: String,
                        idCol: String = "vec_id", vecCol: String = "embedding",
                        centroidIdCol: String = "centroid_id",
                        iters: Int = 2): DataFrame = {
    import spark.implicits._
    val corpus = spark.read.parquet(path).select(col(idCol), col(vecCol))
    val trained = kmeansCentroids(corpus, autoK(corpus.count()), iters,
        idCol, vecCol)
      .select(col(centroidIdCol).cast("long"), col(vecCol))
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    val cents = spark.createDataset(trained.toIndexedSeq)
      .toDF(centroidIdCol, vecCol)
    val tmp = new org.apache.hadoop.fs.Path(path + "_recluster_tmp")
    val hPath0 = new org.apache.hadoop.fs.Path(path)
    val fs0 = hPath0.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a crashed prior attempt may have left staging/parked dirs behind;
    // rename onto an existing path returns false, so clean them up front.
    // _recluster_old is only stale if `path` itself exists (a crash
    // BETWEEN the two renames leaves the sole intact index parked there —
    // never delete it in that state; the read above already failed loudly
    // if `path` was missing).
    fs0.delete(tmp, true)
    if (fs0.exists(hPath0))
      fs0.delete(new org.apache.hadoop.fs.Path(path + "_recluster_old"), true)
    Layout.writePartitioned(
      assignToCentroids(corpus, cents, idCol, vecCol, centroidIdCol)
        .select(col(centroidIdCol), col(idCol), col(vecCol)),
      tmp.toString, Seq(centroidIdCol))
    val old = new org.apache.hadoop.fs.Path(path + "_recluster_old")
    if (!fs0.rename(hPath0, old))
      throw new java.io.IOException(s"recluster: cannot move $path aside")
    if (!fs0.rename(tmp, hPath0)) {
      val rolledBack = fs0.rename(old, hPath0)
      throw new java.io.IOException(
        if (rolledBack) s"recluster: cannot install $tmp (rolled back to prior index)"
        else s"recluster: cannot install $tmp AND rollback failed — sole intact " +
          s"index parked at ${path}_recluster_old; restore it manually")
    }
    fs0.delete(old, true)
    cents
  }

  /** Query a materialized IVF index: only the probed cells' partitions
    * are read (see `readProbedCells`). */
  def ivfTopKFromIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                       queries: DataFrame, centroids: DataFrame, k: Int,
                       nprobe: Int = 2,
                       idCol: String = "vec_id", vecCol: String = "embedding",
                       queryIdCol: String = "query_id",
                       centroidIdCol: String = "centroid_id"): DataFrame = {
    val probes = probeCells(queries, centroids, nprobe, vecCol, queryIdCol,
      centroidIdCol)
    topKPerQuery(readProbedCells(spark, path, probes, centroidIdCol)
      .join(broadcast(probes), Seq(centroidIdCol))
      .withColumn("cosine", VectorFunctions.cosineSim(col(vecCol), col("q_vec"))),
      queryIdCol, "cosine", idCol, k)
      .select(col(queryIdCol), col("rank"), col(idCol), col("cosine"))
  }

  /** Radius (range) search over a materialized IVF index — the sibling
    * of [[ivfTopKFromIndex]] for "ALL neighbors with cosine ≥ τ" (near-
    * dup mining, dedup-by-threshold): same driver-resolved probe-cell
    * pruning, but the rerank keeps every candidate above the threshold
    * instead of the top k. Recall is bounded by the probed cells exactly
    * as for top-k (quantified by the recall-sweep query); result size is
    * data-dependent, so callers aggregate or bound downstream. */
  def ivfRangeFromIndex(spark: org.apache.spark.sql.SparkSession,
                        path: String, queries: DataFrame,
                        centroids: DataFrame, minCosine: Double,
                        nprobe: Int = 2,
                        idCol: String = "vec_id", vecCol: String = "embedding",
                        queryIdCol: String = "query_id",
                        centroidIdCol: String = "centroid_id"): DataFrame = {
    val probes = probeCells(queries, centroids, nprobe, vecCol, queryIdCol,
      centroidIdCol)
    readProbedCells(spark, path, probes, centroidIdCol)
      .join(broadcast(probes), Seq(centroidIdCol))
      .withColumn("cosine", VectorFunctions.cosineSim(col(vecCol), col("q_vec")))
      .filter(col("cosine") >= minCosine)
      .select(col(queryIdCol), col(idCol), col("cosine"))
  }

  // -------------------------------------------- product quantization (PQ)

  /** Product-quantization codebooks: each vector is split into
    * `subspaces` contiguous sub-vectors of `subDim` dims, and every
    * subspace trains its own `codes`-centroid codebook with the SAME
    * deterministic Lloyd iterations as the IVF coarse quantizer (first-k
    * init, cosine assignment with (cosine desc, cid asc) tie-break,
    * exact ascending-id mean folds) — so the DuckDB oracle replicates it
    * bit-for-bit per subspace. Returns (sub, centroid_id, vecCol). */
  def pqCodebooks(corpus: DataFrame, subspaces: Int, subDim: Int,
                  codes: Int, iters: Int,
                  idCol: String = "vec_id",
                  vecCol: String = "embedding"): DataFrame =
    (0 until subspaces).map { sub =>
      kmeansCentroids(
        corpus.select(col(idCol),
          slice(col(vecCol), sub * subDim + 1, subDim).as(vecCol)),
        codes, iters, idCol, vecCol)
        .select(lit(sub).as("sub"), col("centroid_id"), col(vecCol))
    }.reduce(_ unionByName _)

  /** PQ-encode the corpus: one (id, sub, code) row per subspace, the
    * nearest codeword under the same cosine/tie-break rule as
    * assignToCentroids. THIS is the stored ANN index at 100 TB:
    * `subspaces` small ints per vector instead of 4·dim bytes of floats
    * (64-dim float32 → 4 codes ≈ 64× less index than the raw vectors),
    * so an executor's memory holds the whole corpus's codes and the
    * shuffle ships code ids, never embeddings. */
  def pqEncode(corpus: DataFrame, codebooks: DataFrame,
               subDim: Int,
               idCol: String = "vec_id",
               vecCol: String = "embedding"): DataFrame =
    corpus.select(col(idCol), col(vecCol))
      .join(broadcast(codebooks.select(col("sub"), col("centroid_id"),
        col(vecCol).as("c_vec"))))
      .withColumn("cs", VectorFunctions.cosineSim(
        slice(col(vecCol), col("sub") * subDim + lit(1), lit(subDim)),
        col("c_vec")))
      .groupBy(col(idCol), col("sub"))
      .agg(max_by(col("centroid_id"),
        struct(col("cs"), negate(col("centroid_id")))).as("code"))

  /** PQ asymmetric-distance top-k: queries stay full precision; each
    * (query, subspace, codeword) dot product is computed ONCE into a
    * |Q|·subspaces·codes lookup table, broadcast to the codes; a corpus
    * vector's approximate score is the sub-ascending fold of its codes'
    * LUT entries (deterministic double order — reproducible on any
    * partitioning), and only the top `rerank` candidates per query pay
    * the exact-cosine rerank against their full vectors. At warehouse
    * scale the ADC phase touches ONLY the code index; the rerank is a
    * |Q|·rerank point-lookup join. */
  def pqTopK(corpus: DataFrame, queries: DataFrame, codebooks: DataFrame,
             k: Int, rerank: Int = 50, subDim: Int = 16,
             idCol: String = "vec_id", vecCol: String = "embedding",
             queryIdCol: String = "query_id"): DataFrame =
    pqTopKOverCells(pqEncode(corpus, codebooks, subDim, idCol, vecCol),
      corpus, queries, codebooks, k, rerank, subDim, idCol, vecCol, queryIdCol)

  /** The ADC scoring stage of `pqTopKOverCells`: (queryIdCol, idCol, adc)
    * for every (query, corpus vector) pair — the sub-ascending double fold
    * of the query's LUT entries at the vector's codes. */
  private def pqAdcScores(cells: DataFrame, queries: DataFrame,
                          codebooks: DataFrame, subDim: Int, idCol: String,
                          vecCol: String, queryIdCol: String): DataFrame = {
    val lut = queries.select(col(queryIdCol), col(vecCol).as("q_vec"))
      .join(broadcast(codebooks.select(col("sub"),
        col("centroid_id").as("code"), col(vecCol).as("c_vec"))))
      .select(col(queryIdCol), col("sub"), col("code"),
        VectorFunctions.dotProduct(
          slice(col("q_vec"), col("sub") * subDim + lit(1), lit(subDim)),
          col("c_vec")).as("part"))
    cells.join(broadcast(lut), Seq("sub", "code"))
      .groupBy(col(queryIdCol), col(idCol))
      .agg(aggregate(
        sort_array(collect_list(struct(col("sub"), col("part")))),
        lit(0.0), (acc, e) => acc + e.getField("part")).as("adc"))
  }

  /** ADC + rerank over an already-encoded (id, sub, code) cell table —
    * the one PQ search, shared by the inline `pqTopK` and the
    * materialized code index: the top `rerank` candidates by ADC score
    * pay the exact-cosine rerank, both ranked by `topKPerQuery`. */
  def pqTopKOverCells(cells: DataFrame, corpus: DataFrame,
                      queries: DataFrame, codebooks: DataFrame,
                      k: Int, rerank: Int, subDim: Int,
                      idCol: String = "vec_id", vecCol: String = "embedding",
                      queryIdCol: String = "query_id"): DataFrame = {
    val adc = pqAdcScores(cells, queries, codebooks, subDim,
      idCol, vecCol, queryIdCol)
    val cand = topKPerQuery(adc, queryIdCol, "adc", idCol, rerank)
      .select(col(queryIdCol), col(idCol))
    topKPerQuery(cand.join(corpus.select(col(idCol), col(vecCol)), Seq(idCol))
      .join(broadcast(queries.select(col(queryIdCol), col(vecCol).as("q_vec"))),
        Seq(queryIdCol))
      .withColumn("cosine", VectorFunctions.cosineSim(col(vecCol), col("q_vec"))),
      queryIdCol, "cosine", idCol, k)
      .select(col(queryIdCol), col("rank"), col(idCol), col("cosine"))
  }

  /** Hard-negative mining for contrastive / embedding training: for
    * each query, the top-k most-similar corpus vectors drawn from a
    * DIFFERENT cluster than the query's own. Same-cluster neighbors are
    * the easy positives/near-dups; the highest-cosine vectors OUTSIDE
    * the query's cell are exactly the confusable negatives a contrastive
    * objective needs. `cells` is (id, centroid_id) as produced by
    * [[assignToCentroids]] — at warehouse scale a materialized table,
    * assigned once per corpus version, not per mining run.
    *
    * Scale shape: queries (with their cell) broadcast; the corpus is
    * scanned once, joined to its cell table on the id, scored against
    * the broadcast, and top-k'd per query — Spark 4's WindowGroupLimit
    * caps the rank shuffle at k rows per query per partition. */
  def hardNegatives(corpus: DataFrame, queries: DataFrame,
                    cells: DataFrame, k: Int,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    queryIdCol: String = "query_id"): DataFrame = {
    val q = queries.select(col(queryIdCol), col(vecCol).as("q_vec"))
      .join(broadcast(cells.select(col(idCol).as(queryIdCol),
        col("centroid_id").as("q_cell"))), Seq(queryIdCol))
    val scored = corpus.select(col(idCol), col(vecCol))
      .join(cells.select(col(idCol), col("centroid_id").as("c_cell")),
        Seq(idCol))
      .join(broadcast(q))
      .filter(col("c_cell") =!= col("q_cell"))
      .withColumn("cosine", VectorFunctions.cosineSim(col(vecCol), col("q_vec")))
    topKPerQuery(scored, queryIdCol, "cosine", idCol, k)
      .select(col(queryIdCol), col("rank"), col(idCol), col("cosine"))
  }

  /** IVF-style coarse quantization: assign every vector to the nearest of
    * `centroids` (a small broadcast table of (centroid_id, vector)); ANN
    * then searches only the probed cells. This is the classic inverted-file
    * layout — at 100 TB the corpus is written partitioned by cell id so a
    * query touches a handful of partitions. */
  def assignToCentroids(corpus: DataFrame, centroids: DataFrame,
                        idCol: String = "vec_id", vecCol: String = "embedding",
                        centroidIdCol: String = "centroid_id"): DataFrame = {
    val scored = corpus
      .join(broadcast(centroids.select(col(centroidIdCol), col(vecCol).as("c_vec"))))
      .withColumn("cosine", VectorFunctions.cosineSim(col(vecCol), col("c_vec")))
      .drop("c_vec")
    // argmax via max_by, not a window row_number: the partial aggregate
    // combines the k candidate rows per vector map-side, so the shuffle
    // carries ~|corpus| rows instead of |corpus|·k, and nothing is sorted.
    // Tie-break matches the old formulation: highest cosine, then lowest
    // centroid id (negate() flips the struct ordering's second field).
    val payload = scored.columns.filterNot(_ == idCol).map(col)
    scored
      .groupBy(col(idCol))
      .agg(max_by(struct(payload: _*),
        struct(col("cosine"), negate(col(centroidIdCol)))).as("_best"))
      .select(col(idCol) +: scored.columns.filterNot(_ == idCol)
        .map(c => col(s"_best.$c").as(c)): _*)
  }
}
