package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Vector similarity + nearest-neighbor search over embedding columns
  * (`array<float>`). Covers the reference's vector surface (O4 `Nearest`,
  * provider/redis.go:454-493 HNSW / pinecone.go) re-expressed for batch Spark:
  * brute-force exact top-k as the baseline, random-hyperplane LSH bucketing as
  * the scale path (HNSW is a serving-side index; for 100 TB batch scans the
  * bucketed-join shape is the right primitive).
  *
  * All arithmetic is sequential left-to-right double accumulation
  * (`aggregate` over `zip_with`) — deterministic and reproducible across
  * engines, which the DuckDB oracle relies on.
  */
object Vectors {

  /** Dot product, accumulated sequentially in double (custom expression —
    * allocation-free; identical arithmetic to the zip_with/aggregate fold
    * and to the DuckDB oracle's list_dot_product over DOUBLE[]). */
  def dot(a: Column, b: Column): Column =
    graft.functions.expressions.VectorExprs.dot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Sequential double dot product for `array<double>` columns (the
    * `array<double>` twin of [[dot]]): products folded left-to-right from
    * 0.0 ≡ DuckDB list_dot_product. */
  def dotDouble(a: Column, b: Column): Column =
    graft.functions.expressions.VectorExprs.dotDouble(a, b)

  /** Johnson-Lindenstrauss random projection `inDim → outDim` with the
    * Achlioptas (2003) sparse matrix: entries √(3/outDim)·{+1, −1, 0} with
    * probabilities {1/6, 1/6, 2/3}, drawn from md5("rp|row|col") — no RNG
    * state, so the SAME matrix materializes on every executor, every run,
    * and in the DuckDB oracle. The matrix is built driver-side and shipped
    * once per task inside a [[expressions.MatVec]] reference object (the
    * IVF-centroid pattern, minus per-row lambda interpretation): the
    * projection is one compiled pass over the vector in the scan
    * projection, zero shuffles.
    *
    * At 100 TB this is the embedding-compression primitive: 64→16 dims is
    * 4× less shuffle/storage for ANN bucketing and near-dup banding, with
    * JL-bounded cosine distortion. */
  def randomProjection(vec: Column, inDim: Int, outDim: Int): Column = {
    require(inDim > 0 && outDim > 0, "dims must be positive")
    val s = math.sqrt(3.0 / outDim)
    val rows: Array[Array[Double]] = Array.tabulate(outDim, inDim) { (j, i) =>
      ((graft.functions.expressions.Md5Hash64.lower(s"rp|$j|$i")
        & Long.MaxValue) % 6) match {
        case 0L => s
        case 1L => -s
        case _  => 0.0
      }
    }
    graft.functions.expressions.VectorExprs.matVec(vec, rows)
  }

  // ------------------------------------------------- int8 quantization

  /** Per-vector symmetric int8 scale (max |x| / 127; 0 for the zero
    * vector). Quantized storage is 4× smaller than float32 — at corpus
    * scale that is the difference between an in-memory ANN shard and a
    * spilled one; dot products on int8 SIMD-vectorize on modern CPUs. */
  def int8Scale(vec: Column): Column =
    array_max(transform(vec, x => abs(x.cast("double")))) / lit(127.0)

  /** Symmetric int8 quantization against `scale` — round-half-up via
    * `floor(x/s + 0.5)` (identical in every engine; `round()` half-mode
    * conventions differ). Values land in [-127, 127]. */
  def quantizeInt8(vec: Column, scale: Column): Column =
    when(scale === 0, transform(vec, _ => lit(0L)))
      .otherwise(transform(vec,
        x => floor(x.cast("double") / scale + lit(0.5)).cast("long")))

  /** Reconstruction: q * scale. */
  def dequantizeInt8(q: Column, scale: Column): Column =
    transform(q, x => x.cast("double") * scale)

  /** Exact brute-force top-k: for each query vector, the k nearest corpus
    * vectors by cosine. Queries are broadcast (small side by construction);
    * the corpus is scanned once, fully parallel; per-query top-k is a window
    * over (sim desc, id asc) — deterministic tie-break.
    *
    * At 1000-executor scale: corpus-partition-local top-k via the window's
    * partial aggregation + AQE; no corpus shuffle beyond the final per-query
    * k rows. */
  def annTopK(corpus: DataFrame, corpusId: String, corpusVec: String,
              queries: DataFrame, queryId: String, queryVec: String,
              k: Int): DataFrame = {
    // norms precomputed per side (once per row, not per pair); cosine per
    // pair is then a single dot + two multiplies — same arithmetic order as
    // dot/(sqrt(aa)*sqrt(bb)), so oracle-identical.
    val q = broadcast(queries.select(col(queryId).as("query_id"),
      col(queryVec).as("__qv"), norm(col(queryVec)).as("__qn")))
    val scored = corpus.select(col(corpusId).as("neighbor_id"),
        col(corpusVec).as("__cv"), norm(col(corpusVec)).as("__cn"))
      .crossJoin(q)
      .withColumn("cosine", dot(col("__qv"), col("__cv")) / (col("__qn") * col("__cn")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= k && col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(col("cosine"), 6).as("cosine"), col("__rn").cast("long").as("rank"))
  }

  /** Contrastive hard-negative mining: per query, the top-`k` corpus
    * vectors whose cosine falls in `[lo, hi)` — similar enough to be
    * informative negatives, below the near-duplicate band that would make
    * them false negatives (the standard retrieval-training sampling rule).
    * Same broadcast-queries / one-corpus-scan shape as [[annTopK]]; the
    * band filter runs BEFORE the per-query window, so ranking state holds
    * band rows only. */
  def hardNegatives(corpus: DataFrame, corpusId: String, corpusVec: String,
                    queries: DataFrame, queryId: String, queryVec: String,
                    lo: Double, hi: Double, k: Int): DataFrame = {
    val q = broadcast(queries.select(col(queryId).as("query_id"),
      col(queryVec).as("__qv"), norm(col(queryVec)).as("__qn")))
    val scored = corpus.select(col(corpusId).as("neighbor_id"),
        col(corpusVec).as("__cv"), norm(col(corpusVec)).as("__cn"))
      .crossJoin(q)
      .withColumn("cosine",
        dot(col("__qv"), col("__cv")) / (col("__qn") * col("__cn")))
      .where(col("query_id") =!= col("neighbor_id") &&
        col("cosine") >= lo && col("cosine") < hi)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= k)
      .select(col("query_id"), col("neighbor_id"),
        round(col("cosine"), 6).as("cosine"),
        col("__rn").cast("long").as("rank"))
  }

  /** IVF-style approximate top-k — the scale path for corpus sizes where the
    * brute-force cross join is too wide. Classic inverted-file search
    * (Jégou et al. 2011) re-expressed relationally:
    *
    *  1. `nlist` centroids picked deterministically from the corpus itself
    *     (the nlist smallest id-hashes — uniform over the corpus, no RNG
    *     state; plans as TakeOrderedAndProject, a distributed partial top-k);
    *  2. one corpus pass assigns each vector to its nearest centroid — the
    *     centroids are collected to the driver (nlist·dim floats,
    *     metadata-scale) and inlined as LITERALS, so the argmax is a
    *     when-chain evaluated in the scan projection: ZERO shuffle, vs the
    *     old crossJoin + window shape that exchanged corpus×nlist rows;
    *  3. each query probes its `nprobe` nearest cells; scoring joins only
    *     those cells' vectors — a broadcast-equi-join on cell id, so the
    *     scan is ~nprobe/nlist of the corpus instead of all of it.
    *
    * Returns the same schema as [[annTopK]]. Recall depends on
    * (nlist, nprobe); the spec and the `ann_topk_ivf` driver query check it
    * against the exact baseline. */
  def annTopKIVF(corpus: DataFrame, corpusId: String, corpusVec: String,
                 queries: DataFrame, queryId: String, queryVec: String,
                 k: Int, nlist: Int = 16, nprobe: Int = 4): DataFrame = {
    val c = corpus.select(col(corpusId).as("__cid"), col(corpusVec).as("__cv"),
      norm(col(corpusVec)).as("__cn"))
    // 1. deterministic centroid sample (metadata-scale collect: nlist rows)
    val centRows = c.orderBy(xxhash64(col("__cid")).asc).limit(nlist).collect()
    val cents = centRows.map { r =>
      (r.get(0), r.getSeq[Float](1).toArray, r.getDouble(2))
    }
    // EMPTY corpus → no cells to probe; schema-correct empty result
    if (cents.isEmpty)
      return queries.select(col(queryId).as("query_id")).limit(0)
        .crossJoin(corpus.select(col(corpusId).as("neighbor_id")).limit(0))
        .withColumn("cosine", lit(0.0)).withColumn("rank", lit(0L))
    val centroids = broadcast(
      c.orderBy(xxhash64(col("__cid")).asc)
        .limit(nlist)
        .select(col("__cid").as("cent_id"), col("__cv").as("cent_v"),
          col("__cn").as("cent_n")))
    // 2. nearest-centroid argmax as a scan-projection `array_max` over
    // (sim, cid) structs built from the literal centroids — linear-size
    // expression (a when-chain fold would double the tree per centroid),
    // lexicographic struct max = max sim, larger cid on (measure-zero) float
    // ties. |v| is constant per row, so argmax of dot(v,c)/|c| suffices
    // (no per-row sqrt of the corpus norm needed).
    val cellExpr = array_max(array(cents.map { case (cid, cv, cn) =>
      struct((dot(col("__cv"), typedlit(cv)) / cn).as("s"), lit(cid).as("c"))
    }: _*)).getField("c")
    val assigned = c.withColumn("cell", cellExpr)
      .select(col("cell"), col("__cid"), col("__cv"), col("__cn"))
    // 3. queries probe their nprobe nearest cells
    val q = queries.select(col(queryId).as("query_id"), col(queryVec).as("__qv"),
      norm(col(queryVec)).as("__qn"))
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("__sim").desc, col("cent_id").asc)
    val probes = q.crossJoin(centroids)
      .withColumn("__sim", dot(col("__qv"), col("cent_v")) / (col("__qn") * col("cent_n")))
      .withColumn("__r", row_number().over(wProbe))
      .filter(col("__r") <= nprobe)
      .select(col("query_id"), col("__qv"), col("__qn"), col("cent_id").as("cell"))
    val wRank = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    broadcast(probes).join(assigned, Seq("cell"))
      .withColumn("cosine", dot(col("__qv"), col("__cv")) / (col("__qn") * col("__cn")))
      .select(col("query_id"), col("__cid").as("neighbor_id"), col("cosine"))
      .withColumn("__rn", row_number().over(wRank))
      .where(col("__rn") <= k && col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(col("cosine"), 6).as("cosine"), col("__rn").cast("long").as("rank"))
  }

  /** Corpus-scale k-nearest-neighbor SELF-join — the neighbor-graph
    * primitive (per-document top-k over the WHOLE corpus, the input to
    * graph-based semantic clustering / retrieval-index audits / hard-mining
    * at corpus scale). [[annTopKIVF]] broadcasts its probe side, which is
    * right for a handful of query vectors and wrong when every corpus row
    * is a query; here BOTH sides stay distributed:
    *
    *  1. an IVF codebook from deterministic spherical k-means
    *     ([[kmeansModel]]: md5-order init, `iters` integer-sum refinement
    *     rounds — every round replayable in the oracle);
    *  2. per-row cell assignment is ONE compiled pass over the
    *     task-constant normalized centroid matrix: the corpus leg takes
    *     the argmax cell via [[expressions.MatVecArgMax]] (kmeans tie
    *     rule — larger cell id), the probe leg the top-`nprobe` cells via
    *     [[expressions.MatVecTopCells]] (sim desc, cell desc). Both are
    *     scan projections, zero shuffle, O(nlist·dim) per row;
    *  3. candidates = probes ⋈ assignments on cell — a SHUFFLE equi-join
    *     (no broadcast: both legs are corpus-sized), each side exchanged
    *     once on the cell key; a (query, neighbor) pair can arise in at
    *     most one cell, so no candidate dedup shuffle is needed;
    *  4. exact cosine verification + per-query top-k window
    *     (sim desc, id asc — the [[annTopK]] tie rule), self-pairs
    *     excluded before ranking.
    *
    * Scale: candidate work is ~`nprobe/nlist` of the n² brute-force
    * matrix; `nlist` scales with the corpus so cells stay executor-sized
    * (√n is the classic IVF rule). A degenerate codebook (mass in one
    * cell) degrades toward brute force — `maxCellFreq` caps such cells
    * with a logged drop count ([[Dedup.capHotKeys]] rule) so a skewed
    * embedding space cannot quadratically blow up one reducer.
    *
    * Returns the [[annTopK]] schema: (query_id, neighbor_id, cosine, rank). */
  def knnJoinIVF(df: DataFrame, idCol: String, vecCol: String,
                 k: Int, nlist: Int = 8, nprobe: Int = 2, iters: Int = 1,
                 seed: String = "km",
                 maxCellFreq: Int = Int.MaxValue): DataFrame = {
    require(k > 0 && nlist > 0 && nprobe > 0, "k, nlist, nprobe > 0")
    val (_, cents) = kmeansModel(df, idCol, vecCol, nlist, iters, seed)
    val base = df.select(col(idCol).as("__id"), col(vecCol).as("__v"))
    // EMPTY corpus → schema-correct empty result (robustness contract)
    if (cents.isEmpty)
      return base.select(col("__id").as("query_id"),
        col("__id").as("neighbor_id"), lit(0.0).as("cosine"),
        lit(0L).as("rank")).limit(0)
    knnJoinWithCodebook(df, idCol, vecCol, k, nprobe, cents, maxCellFreq)
  }

  /** The IVF operating rule as code: `nlist ≈ √n` (Jégou et al.'s classic
    * setting) keeps cells executor-sized as the corpus grows — candidate
    * work is ~n·nprobe·(n/nlist), so a FIXED nlist degrades quadratically
    * while √n holds the family at ~n^1.5 (the measured
    * `knn_join_fixed_over_scaled_nlist_x10` gap in BENCH_skew). Clamped
    * to [1, 4096]: beyond that the per-row assignment kernel (nlist·dim
    * FLOPs) wants a coarse-quantizer tree instead, which is the
    * documented next step, not this operator. */
  def nlistForCorpus(n: Long): Int =
    math.max(1L, math.min(4096L, math.round(math.sqrt(n.toDouble)))).toInt

  /** [[knnJoinIVF]] with the √n rule applied from a corpus count the
    * caller usually already has (a fresh `df.count()` otherwise — one
    * cheap metadata-ish scan next to the search itself). */
  def knnJoinIVFAuto(df: DataFrame, idCol: String, vecCol: String,
                     k: Int, nprobe: Int = 2, iters: Int = 1,
                     seed: String = "km",
                     maxCellFreq: Int = Int.MaxValue,
                     corpusCount: Option[Long] = None): DataFrame =
    knnJoinIVF(df, idCol, vecCol, k,
      nlist = nlistForCorpus(corpusCount.getOrElse(df.count())),
      nprobe = nprobe, iters = iters, seed = seed,
      maxCellFreq = maxCellFreq)

  /** [[knnJoinIVFPQ]] with the √n rule applied to the IVF codebook (the
    * PQ subspace codebooks keep their fixed `codebookK` — quantizer
    * resolution, not cell count, and independent of corpus size). */
  def knnJoinIVFPQAuto(df: DataFrame, idCol: String, vecCol: String,
                       k: Int, nprobe: Int = 2, iters: Int = 1,
                       m: Int = 4, subDim: Int = 16, codebookK: Int = 8,
                       pqIters: Int = 1, rerank: Int = 20,
                       seed: String = "km",
                       maxCellFreq: Int = Int.MaxValue,
                       corpusCount: Option[Long] = None,
                       int8Rerank: Boolean = false): DataFrame =
    knnJoinIVFPQ(df, idCol, vecCol, k,
      nlist = nlistForCorpus(corpusCount.getOrElse(df.count())),
      nprobe = nprobe, iters = iters, m = m, subDim = subDim,
      codebookK = codebookK, pqIters = pqIters, rerank = rerank,
      seed = seed, maxCellFreq = maxCellFreq, int8Rerank = int8Rerank)

  /** [[knnJoinIVF]] against a FIXED codebook — the incremental topology's
    * building block (train the codebook once, search any corpus snapshot
    * against it). Candidate ranking is on the ROUNDED cosine (6 dp, the
    * output precision) with id tie-break, so a merge of previously-ranked
    * rows with fresh candidates ([[knnJoinIncrement]]) reproduces a full
    * recompute EXACTLY — an unrounded rank key would not survive the
    * round-trip through a stored (rounded) neighbor list. */
  def knnJoinWithCodebook(df: DataFrame, idCol: String, vecCol: String,
                          k: Int, nprobe: Int, cents: Array[Array[Double]],
                          maxCellFreq: Int = Int.MaxValue): DataFrame = {
    require(cents.nonEmpty, "empty codebook")
    val assigned = cellAssignments(df, idCol, vecCol, cents, maxCellFreq)
    val probes = cellProbes(df, idCol, vecCol, cents, nprobe)
    rankCandidates(probes, assigned, k)
  }

  /** (cell, __id, __v) leg: argmax cell per row (kmeans tie rule — larger
    * cell id) via the one-pass compiled [[expressions.MatVecArgMax]]
    * kernel in the scan projection; hot cells over `maxCellFreq` dropped
    * with a logged count. */
  private def cellAssignments(df: DataFrame, idCol: String, vecCol: String,
                              cents: Array[Array[Double]],
                              maxCellFreq: Int): DataFrame = {
    val assignedC = df.select(col(idCol).as("__id"), col(vecCol).as("__v"))
      .withColumn("cell", graft.functions.expressions.VectorExprs
        .matVecArgMax(col("__v"), normalizeRows(cents)).cast("long"))
      .select(col("cell"), col("__id"), col("__v"))
    if (maxCellFreq == Int.MaxValue) assignedC
    else graft.functions.Dedup.capHotKeys(
      assignedC, "cell", maxCellFreq, "knnJoinIVF")
  }

  /** (query_id, __qv, cell) leg: top-nprobe cells per row — the compiled
    * [[expressions.MatVecTopCells]] kernel, (sim desc, cell desc) order
    * whose rank 1 ≡ the argmax assignment rule. Scan projection, zero
    * shuffle. */
  private def cellProbes(df: DataFrame, idCol: String, vecCol: String,
                         cents: Array[Array[Double]],
                         nprobe: Int): DataFrame =
    df.select(col(idCol).as("__id"), col(vecCol).as("__v"))
      .withColumn("__pc", graft.functions.expressions.VectorExprs
        .matVecTopCells(col("__v"), normalizeRows(cents),
          math.min(nprobe, cents.length)))
      .select(col("__id").as("query_id"), col("__v").as("__qv"),
        explode(col("__pc")).as("__c"))
      .select(col("query_id"), col("__qv"), col("__c").cast("long").as("cell"))

  /** Sequential left-to-right double dot — LOAD-BEARING for bit-exact
    * oracle parity (≡ DuckDB `list_dot_product`); every driver-side model
    * dot goes through this one definition. */
  private[functions] def dotSeq(a: Array[Double], b: Array[Double]): Double = {
    var acc = 0.0
    var i = 0
    while (i < a.length) { acc += a(i) * b(i); i += 1 }
    acc
  }

  /** Row-normalize a centroid matrix with the left-to-right norm fold,
    * zero-norm rows kept verbatim — the single assignment-normalization
    * rule shared by every kmeans/IVF/PQ consumer (≡ the oracle's
    * `y / sqrt(list_dot_product(cv, cv))`). */
  private[functions] def normalizeRows(
      c: Array[Array[Double]]): Array[Array[Double]] =
    c.map { row =>
      val n = math.sqrt(dotSeq(row, row))
      if (n == 0) row else row.map(_ / n)
    }

  /** Candidates = probes ⋈ assignments on cell (SHUFFLE equi-join — both
    * legs can be corpus-sized), exact rounded cosine, per-query top-k
    * (cosine desc, id asc), self-pairs excluded before ranking. */
  private def rankCandidates(probes: DataFrame, assigned: DataFrame,
                             k: Int): DataFrame = {
    val wRank = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    probes.join(assigned, Seq("cell"))
      .where(col("query_id") =!= col("__id"))
      .withColumn("cosine", round(cosine(col("__qv"), col("__v")), 6))
      .select(col("query_id"), col("__id").as("neighbor_id"), col("cosine"))
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .where(col("rank") <= k)
  }

  /** IVF-PQ kNN self-join — [[knnJoinIVF]]'s production-scale variant.
    * The classic ADC asymmetry (driver-built per-QUERY lookup tables,
    * [[pqSearch]]) does not transpose to a self-join: every row is a
    * query, and a per-row m×k LUT column outweighs the raw vector it
    * replaces. The all-pairs form of Jégou et al.'s scheme is SYMMETRIC
    * distance (SDC): ONE m×k×k table of raw-centroid inner products,
    * broadcast as a literal, scores any candidate pair as m table lookups
    * over the two rows' CODES — so each join leg carries m small ints
    * instead of the vector (m bytes/doc through the shuffle at
    * production dims, the whole point of PQ), and the exact math touches
    * only the `rerank` shortlist per query:
    *
    *  1. IVF codebook + m PQ subspace codebooks (deterministic
    *     [[kmeansModel]], seeds `km` / `pq0..pq{m-1}` — every round
    *     oracle-replayable; the m trainings run concurrently);
    *  2. ONE scan per leg: IVF cell (argmax / top-nprobe) + the m
    *     subspace codes, all compiled matVec argmaxes in the scan
    *     projection (codes assign against NORMALIZED centroids — the
    *     kmeans rule; SDC entries use RAW centroids — the [[pqSearch]]
    *     LUT rule, normalizing wrecks the ranking);
    *  3. candidates = cell-keyed shuffle join carrying codes only;
    *     SDC score = Σ_s sdc_s[codeA][codeB], rounded, ranked
    *     (desc, id asc), top-`rerank` per query;
    *  4. exact rounded-cosine rerank on the shortlist — two id-keyed
    *     joins re-attach vectors to shortlist-sized tables only.
    *
    * `int8Rerank = true` swaps the rerank payload for TINYINT arrays
    * (the [[quantizeInt8]] convention — 1 byte/component instead of 4):
    * the round-11 shuffle-bytes measurement showed the rerank joins, not
    * the code-carrying candidate join, dominate this operator's shuffle
    * volume (the pair intermediate carries a full vector per shortlist
    * row through the second join), so shrinking THAT payload is the
    * scale lever. Cosine is scale-invariant (positive per-vector scales
    * factor out), so ranking happens directly on the integer vectors —
    * deterministic and oracle-replayable; the recall trade is int8
    * rounding on near-tie cosines.
    *
    * Returns the [[annTopK]] schema. Recall trades on (nprobe, rerank);
    * the knn_graph_pq oracle replays the WHOLE topology cell-exactly. */
  def knnJoinIVFPQ(df: DataFrame, idCol: String, vecCol: String,
                   k: Int, nlist: Int = 8, nprobe: Int = 2, iters: Int = 1,
                   m: Int = 4, subDim: Int = 16, codebookK: Int = 8,
                   pqIters: Int = 1, rerank: Int = 20,
                   seed: String = "km",
                   maxCellFreq: Int = Int.MaxValue,
                   int8Rerank: Boolean = false): DataFrame = {
    require(k > 0 && nlist > 0 && nprobe > 0 && m > 0 && subDim > 0 &&
      rerank >= k, "k, nlist, nprobe, m, subDim > 0; rerank >= k")
    val (_, cents) = kmeansModel(df, idCol, vecCol, nlist, iters, seed)
    val base = df.select(col(idCol).as("__id"), col(vecCol).as("__v"))
    if (cents.isEmpty)
      return base.select(col("__id").as("query_id"),
        col("__id").as("neighbor_id"), lit(0.0).as("cosine"),
        lit(0L).as("rank")).limit(0)
    // fail fast on a subspace layout that doesn't fit the embedding: a
    // mismatch would make slice() feed wrong-length arrays into the code
    // kernels, whose null results silently drop/misrank candidates
    require(m * subDim <= cents(0).length,
      s"m*subDim = ${m * subDim} exceeds embedding dim ${cents(0).length}")
    // m subspace codebooks, trained concurrently (pqSearch pattern)
    val parts = {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      Await.result(Future.sequence((0 until m).toList.map { s =>
        Future(kmeansModel(
          df.select(col(idCol),
            slice(col(vecCol), s * subDim + 1, subDim).as("__sub")),
          idCol, "__sub", codebookK, pqIters, seed = s"pq$s")._2)
      }), scala.concurrent.duration.Duration.Inf)
    }
    // SDC tables: raw-centroid inner products, one k×k literal per
    // subspace (model-scale: m·k² doubles, broadcast with the plan)
    val sdc: Seq[Array[Array[Double]]] = parts.map { cs =>
      cs.map(a => cs.map(b => dotSeq(a, b)))
    }
    // one scan computes the IVF cell + every subspace's code, each a
    // one-pass compiled kernel ([[expressions.MatVecArgMax]]) in the scan
    // projection. The earlier materialize-dots-then-argmax-lambda shape
    // was defeated by CollapseProject, which inlines a single-reference
    // column straight back into the lambda body — and higher-order
    // functions evaluate their lambda per element with no invariant
    // hoisting, re-evaluating the whole subDim×k product once PER
    // CODEBOOK ENTRY (k× the intended scan cost; proven by the committed
    // plans). The fused kernel computes all dots and the argmax in one
    // compiled loop, so there is no intermediate column to mis-inline.
    def withCodes(d: DataFrame): DataFrame =
      (0 until m).foldLeft(d) { (acc, s) =>
        acc.withColumn(s"__code$s", graft.functions.expressions.VectorExprs
          .matVecArgMax(slice(col("__v"), s * subDim + 1, subDim),
            normalizeRows(parts(s))))
      }
    val codeCols = (0 until m).map(s => col(s"__code$s"))
    val assignedC = withCodes(
      base.withColumn("cell", graft.functions.expressions.VectorExprs
        .matVecArgMax(col("__v"), normalizeRows(cents)).cast("long")))
      .select(col("cell") +: col("__id") +: codeCols: _*)
    val assigned =
      if (maxCellFreq == Int.MaxValue) assignedC
      // own capStats tag: capStats holds the LAST run per tag (and a
      // non-firing run REMOVES it), so sharing knnJoinIVF's tag would let
      // either operator's cap regression hide behind the other's in the
      // skew harness
      else graft.functions.Dedup.capHotKeys(
        assignedC, "cell", maxCellFreq, "knnJoinIVFPQ")
    val probes = withCodes(
      base.withColumn("__pc", graft.functions.expressions.VectorExprs
        .matVecTopCells(col("__v"), normalizeRows(cents),
          math.min(nprobe, cents.length))))
      .select(col("__id").as("query_id") +: col("__pc") +:
        codeCols.zipWithIndex.map { case (c, s) => c.as(s"__qcode$s") }: _*)
      .withColumn("__c", explode(col("__pc")))
      .select(col("query_id") +: col("__c").cast("long").as("cell") +:
        (0 until m).map(s => col(s"__qcode$s")): _*)
    // SDC score: m literal-table lookups over the pair's codes
    val sdcScore = (0 until m).map { s =>
      element_at(element_at(typedlit(sdc(s).map(_.toSeq).toSeq),
        col(s"__qcode$s") + 1), col(s"__code$s") + 1)
    }.reduceLeft(_ + _)
    val wSdc = Window.partitionBy(col("query_id"))
      .orderBy(col("__sdc").desc, col("neighbor_id").asc)
    val shortlist = probes.join(assigned, Seq("cell"))
      .where(col("query_id") =!= col("__id"))
      .withColumn("__sdc", round(sdcScore, 6))
      .select(col("query_id"), col("__id").as("neighbor_id"), col("__sdc"))
      .withColumn("__rn", row_number().over(wSdc))
      .where(col("__rn") <= rerank)
      .select(col("query_id"), col("neighbor_id"))
    // rerank: vectors re-attached to the shortlist only — full float32
    // (exact), or tinyint-quantized when the caller trades rounding on
    // near-tie cosines for a 4× smaller join payload
    val vecs =
      if (!int8Rerank) base.withColumn("__n", norm(col("__v")))
      else {
        val q8 = transform(
          quantizeInt8(col("__v"), int8Scale(col("__v"))), _.cast("tinyint"))
        base.withColumn("__v", q8)
          // norm of the INTEGER vector (scales cancel in cosine)
          .withColumn("__n", sqrt(dotDouble(
            transform(col("__v"), _.cast("double")),
            transform(col("__v"), _.cast("double")))))
      }
    val wCos = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    val paired = shortlist
      .join(vecs.select(col("__id").as("query_id"), col("__v").as("__qv"),
        col("__n").as("__qn")), Seq("query_id"))
      .join(vecs.select(col("__id").as("neighbor_id"), col("__v").as("__nv"),
        col("__n").as("__nn")), Seq("neighbor_id"))
    val dotExpr =
      if (!int8Rerank) dot(col("__qv"), col("__nv"))
      else dotDouble(transform(col("__qv"), _.cast("double")),
        transform(col("__nv"), _.cast("double")))
    paired
      .withColumn("cosine", round(dotExpr / (col("__qn") * col("__nn")), 6))
      .select(col("query_id"), col("neighbor_id"), col("cosine"))
      .withColumn("rank", row_number().over(wCos).cast("long"))
      .where(col("rank") <= k)
  }

  /** Incremental kNN-graph maintenance — the steady-state corpus-growth
    * path (the [[graft.functions.Dedup]] persisted-signature pattern for
    * neighbor graphs): yesterday's graph + yesterday's rows + today's
    * batch → today's graph, WITHOUT re-searching old-vs-old.
    *
    *  - new queries (the batch) search everything: batch probes ⋈
    *    (old ∪ batch) assignments;
    *  - existing queries only gain candidates FROM the batch: old probes
    *    ⋈ batch assignments — at a daily-batch : corpus ratio of ε this
    *    join touches ε of the old side's candidate work, and the batch
    *    assignment leg is broadcast-sized;
    *  - merge = prevTopK ∪ fresh existing-query candidates, re-ranked
    *    (rounded cosine desc, id asc) top-k.
    *
    * EXACT by the top-k merge identity: a full recompute's per-query
    * candidate set over (old ∪ batch) splits into old-corpus candidates —
    * whose top-k survivors are precisely prevTopK — and batch candidates,
    * all of which the fold scores; ranking on the stored (rounded)
    * cosine makes the merge reproduce the full rank order bit-for-bit.
    * Proven ≡ [[knnJoinWithCodebook]] over the union in KnnJoinSpec and
    * on the knn_graph_incr oracle. The codebook stays FROZEN across folds
    * (retrain = rebuild, like [[assignToCentroids]]'s contract); `prev`
    * must carry the rows the graph was built from. `maxCellFreq` caps are
    * per-snapshot here (old-corpus caps baked into prevTopK, batch caps on
    * the fold) — the exactness identity is for the uncapped setting; a
    * fired cap is a documented, logged recall trade at either granularity. */
  def knnJoinIncrement(prevTopK: DataFrame,
                       prev: DataFrame, batch: DataFrame,
                       idCol: String, vecCol: String,
                       k: Int, nprobe: Int, cents: Array[Array[Double]],
                       maxCellFreq: Int = Int.MaxValue): DataFrame = {
    require(cents.nonEmpty, "empty codebook")
    val assignedBatch = cellAssignments(batch, idCol, vecCol, cents, maxCellFreq)
    val assignedAll = cellAssignments(
      prev.select(col(idCol), col(vecCol))
        .unionByName(batch.select(col(idCol), col(vecCol))),
      idCol, vecCol, cents, maxCellFreq)
    // new queries: full search over old ∪ batch
    val newRows = rankCandidates(
      cellProbes(batch, idCol, vecCol, cents, nprobe), assignedAll, k)
    // existing queries: fresh candidates from the batch only
    val freshOld = rankCandidates(
      cellProbes(prev, idCol, vecCol, cents, nprobe), assignedBatch, k)
      .select("query_id", "neighbor_id", "cosine")
    val wRank = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    val merged = prevTopK.select("query_id", "neighbor_id", "cosine")
      .unionByName(freshOld)
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .where(col("rank") <= k)
    merged.unionByName(newRows)
  }

  /** Random-hyperplane (SimHash-for-vectors) LSH signature: bit p = sign of
    * dot(v, plane_p), planes derived from md5("p|i") ∈ uniform[-1, 1) — no
    * RNG state, reproducible on any cluster AND in the DuckDB oracle
    * (`(md5_number_lower(p || '|' || i) % 2^63) % 2000001 - 1000000) / 1e6`).
    * Computed in the scan projection by
    * [[graft.functions.expressions.HyperplaneSig]], which tabulates the
    * constant plane matrix once per task instead of re-deriving the md5
    * components per row. */
  def hyperplaneSignature(vec: Column, numPlanes: Int): Column =
    graft.functions.expressions.VectorExprs.hyperplaneSig(vec, numPlanes)

  /** Approximate near-duplicate pairs by embedding cosine: LSH-bucket on the
    * hyperplane signature (multi-probe: the full signature plus each
    * single-bit flip neighborhood collapses to bucketing on signature
    * quarters, pigeonhole-style like SimHash), verify candidates exactly.
    * Output (idA < idB, cosine >= threshold). */
  def cosineNearDups(df: DataFrame, idCol: String, vecCol: String,
                     numPlanes: Int = 16, threshold: Double = 0.95,
                     checkpointSignatures: Boolean = false,
                     maxBandFreq: Int = 2000): DataFrame = {
    // barrier: signature reused by both join legs and both band exprs
    // (the CollapseProject inlining hazard Dedup.barrier documents;
    // checkpoint=true for the cluster-scale recompute-on-loss rationale)
    val sig = graft.functions.Dedup.barrier(
      df.select(col(idCol).as("__id"), col(vecCol).as("__v"),
        hyperplaneSignature(col(vecCol), numPlanes).as("__sig")),
      checkpointSignatures)
    // bucket on signature halves: Hamming-1-close signatures share a half.
    // Band legs carry ONLY (band, id) — the candidate-pair dedup shuffle
    // moves 16 bytes/pair, never the vectors; payloads re-attach by id from
    // the cached signature table (the keys-only branch of
    // Dedup.lshCandidateJoin). Hot bands (a degenerate signature half
    // shared by > maxBandFreq vectors — n² candidates in that bucket) are
    // dropped with a logged count before the join.
    val banded = graft.functions.Dedup.capHotKeys(
      sig.select(col("__id"), col("__sig")).withColumn("__key", explode(array(
        struct(lit(0).as("bi"), col("__sig").bitwiseAND(lit((1L << (numPlanes / 2)) - 1)).as("bv")),
        struct(lit(1).as("bi"), shiftright(col("__sig"), numPlanes / 2).as("bv"))))),
      "__key", maxBandFreq, "cosineNearDups")
    graft.functions.Dedup.lshCandidateJoin(banded, batch = None,
        Some(sig.select(col("__id"), col("__v").as("__p"))),
        cosine, _ >= threshold)
      .select(col("idA"), col("idB"), round(col("__score"), 6).as("cosine"))
  }

  /** Exact (brute-force) cosine near-dup pairs — oracle-checkable baseline;
    * O(n²), small inputs only. */
  def cosineNearDupsExact(df: DataFrame, idCol: String, vecCol: String,
                          threshold: Double): DataFrame = {
    val a = df.select(col(idCol).as("idA"), col(vecCol).as("__va"))
    val b = df.select(col(idCol).as("idB"), col(vecCol).as("__vb"))
    a.crossJoin(b).where(col("idA") < col("idB"))
      .withColumn("cosine", cosine(col("__va"), col("__vb")))
      .where(col("cosine") >= threshold)
      .select(col("idA"), col("idB"), round(col("cosine"), 6).as("cosine"))
  }

  // ---------------------------------------------------------------- kmeans

  /** Deterministic spherical k-means (Lloyd's, cosine assignment) — the
    * clustering primitive behind cluster-balanced diversity sampling and
    * mix planning over embedding corpora.
    *
    * Every source of nondeterminism is pinned so the whole refinement loop
    * replays in the DuckDB oracle:
    *  - init = the k corpus vectors with the smallest
    *    `md5(id || '|km')` 16-hex prefix (cells numbered 0..k-1 in that
    *    order) — no RNG, unlike the xxhash64 IVF sample the oracle can't
    *    compute;
    *  - assignment = argmax over [[expressions.MatVec]] dots against
    *    PRE-normalized centroid rows (each component divided by the norm
    *    BEFORE the fold, so the sequential double accumulation is
    *    bit-identical to `list_dot_product(v, list_transform(c, y->y/n))`);
    *    ties (measure-zero) go to the larger cell id;
    *  - centroid update sums `floor(x·2²⁰ + 0.5)` INTEGERS per component —
    *    an order-independent BIGINT sum where a double sum would depend on
    *    the partial-aggregation tree — then divides once in double. The
    *    2⁻²⁰ quantization is far below float32 input precision;
    *  - an emptied cluster keeps its previous centroid.
    *
    * Scale: each round is ONE aggregation over (cell, component) — dim×
    * rows of 20 B through a map-side-combined shuffle collapsing to k×dim
    * — plus a k×dim driver collect (the model, metadata-sized by
    * definition; same rationale as BpeTrain's argmax). Assignment is a
    * scan-stage compiled expression, zero shuffle.
    *
    * Output: (id, cell) for `iters` refinement rounds (iters=0 assigns to
    * the init vectors). */
  def kmeansAssign(df: DataFrame, idCol: String, vecCol: String,
                   k: Int, iters: Int, seed: String = "km"): DataFrame =
    kmeansModel(df, idCol, vecCol, k, iters, seed)._1

  /** [[kmeansAssign]] plus the trained centroids (the codebook — needed
    * by ADC search, which scores against centroids rather than members).
    * The centroid matrix is the model: k x dim doubles, metadata-scale
    * by definition. */
  def kmeansModel(df: DataFrame, idCol: String, vecCol: String,
                  k: Int, iters: Int, seed: String = "km")
      : (DataFrame, Array[Array[Double]]) = {
    require(k > 0 && iters >= 0, "k > 0, iters >= 0")
    val e = df.select(col(idCol).as("__id"), col(vecCol).as("__v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val hashOrd = substring(
      md5(concat_ws("|", col("__id").cast("string"), lit(seed))), 1, 16)
    // init: k vectors by md5 order (metadata-scale collect — the model)
    var cents: Array[Array[Double]] = e
      .withColumn("__h", hashOrd).orderBy(col("__h").asc, col("__id").asc)
      .limit(k).collect()
      .map(_.getSeq[Float](1).map(_.toDouble).toArray)
    // EMPTY corpus → no model; assignments are the (id, cell) empty frame
    // (the empty-input robustness contract — don't fault in matVec)
    if (cents.isEmpty)
      return (e.select(col("__id").as(idCol))
        .withColumn("cell", lit(0L)).limit(0), cents)

    // one-pass compiled argmax in the scan projection (ties → larger cell,
    // the kmeans rule); the fused kernel avoids the CollapseProject
    // inlining that made the dots-column + argmax-lambda shape O(k²·dim)
    def assigned(c: Array[Array[Double]]): DataFrame =
      e.withColumn("cell", graft.functions.expressions.VectorExprs
        .matVecArgMax(col("__v"), normalizeRows(c)).cast("long"))

    var a = assigned(cents)
    for (_ <- 1 to iters) {
      // order-independent integer sums per (cell, component)
      val sums = a.select(col("cell"), posexplode(col("__v")).as(Seq("pos", "x")))
        .groupBy(col("cell"), col("pos"))
        .agg(sum(floor(col("x").cast("double") * 1048576.0 + 0.5).cast("long"))
          .as("sx"), count(lit(1)).as("n"))
        .collect()
      val byCell = sums.groupBy(_.getLong(0))
      cents = cents.zipWithIndex.map { case (prev, cell) =>
        byCell.get(cell.toLong) match {
          case Some(rows) =>
            val row = prev.clone()
            rows.foreach { r =>
              row(r.getInt(1)) =
                r.getLong(2).toDouble / r.getLong(3) / 1048576.0
            }
            row
          case None => prev // emptied cluster keeps its centroid
        }
      }
      a = assigned(cents)
    }
    (a.select(col("__id").as(idCol), col("cell")), cents)
  }

  /** Assign vectors to a FIXED centroid codebook (cosine argmax, ties
    * to the higher cell — the [[kmeansModel]] rule, expression-for-
    * expression): the incremental path — train the codebook on
    * yesterday's corpus once, assign every new batch against it with NO
    * retraining, exactly like [[graft.functions.Dedup]]'s persisted
    * signature tables. The codebook ships as a task-serialized matrix
    * through the compiled [[expressions.VectorExprs.matVec]]; assignment
    * is a scan projection, zero shuffles. */
  def assignToCentroids(df: DataFrame, idCol: String, vecCol: String,
                        centroids: Array[Array[Double]]): DataFrame = {
    require(centroids.nonEmpty, "empty codebook")
    df.select(col(idCol), col(vecCol).as("__v"))
      .withColumn("cell", graft.functions.expressions.VectorExprs
        .matVecArgMax(col("__v"), normalizeRows(centroids)).cast("long"))
      .select(col(idCol), col("cell"))
  }

  /** Cluster-balanced diversity sample: k-means the corpus, keep the
    * `perCluster` members of each cluster with the smallest
    * `md5(id || '|ds')` — the "spread the sample across embedding space"
    * primitive (cluster-then-sample), deterministic end to end. */
  def diversitySample(df: DataFrame, idCol: String, vecCol: String,
                      k: Int, iters: Int, perCluster: Int): DataFrame = {
    val a = kmeansAssign(df, idCol, vecCol, k, iters)
    val h = substring(
      md5(concat_ws("|", col(idCol).cast("string"), lit("ds"))), 1, 16)
    a.withColumn("__h", h)
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("cell")).orderBy(col("__h").asc, col(idCol).asc)))
      .where(col("__rn") <= perCluster)
      .select(col(idCol), col("cell"), col("__rn").cast("long").as("pick_rank"))
  }

  /** Semantic deduplication (SemDeDup, Abbas et al. 2023,
    * arXiv:2303.09540): k-means the embedding corpus, then look for
    * near-duplicates ONLY inside each cluster — exact pairwise cosine
    * within a cell, never across cells. A row is dropped when some
    * smaller-id member of its cell sits at cosine ≥ `threshold` (min-id
    * keeps, the same deterministic survivor rule as the LSH families).
    *
    * Scale: this is the embedding-space analogue of LSH banding — the
    * quadratic verify is confined to cells of ~n/k rows, so the candidate
    * join costs Σ|cell|² instead of n². The cell equi-join plans as a
    * shuffle hash/sort-merge join on `cell`, and `maxCellPairs` bounds a
    * degenerate cell the way `Dedup.capHotKeys` bounds a hot LSH band:
    * cells bigger than √maxCellPairs are dropped from PAIRING (their
    * members all survive) with a logged count rather than exploding. */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    k: Int, iters: Int, threshold: Double,
                    maxCellPairs: Long = 4000000L): DataFrame = {
    val maxCellRows = math.sqrt(maxCellPairs.toDouble).toLong
    val a = kmeansAssign(df, idCol, vecCol, k, iters)
    val vecs = df.select(col(idCol).as("__vid"), col(vecCol).as("__v"))
    val m = a.join(vecs, col(idCol) === col("__vid"))
      .select(col(idCol), col("cell"), col("__v"))
    val sized = m.withColumn("__csz",
      count(lit(1)).over(Window.partitionBy(col("cell"))))
    val pairable = sized.where(col("__csz") <= maxCellRows).drop("__csz")
    val x = pairable.select(col("cell"), col(idCol).as("idA"), col("__v").as("__va"))
    val y = pairable.select(col("cell"), col(idCol).as("idB"), col("__v").as("__vb"))
    val dropped = x.join(y, Seq("cell")).where(col("idA") < col("idB"))
      .where(cosine(col("__va"), col("__vb")) >= threshold)
      .select(col("idB").as("__dup")).distinct()
    m.join(dropped, col(idCol) === col("__dup"), "left_outer")
      .select(col(idCol), col("cell"),
        when(col("__dup").isNull, lit(1L)).otherwise(lit(0L)).as("keep"))
  }

  /** Product-quantization codes (Jégou et al. 2011): split each vector
    * into `m` contiguous `subDim`-wide subspaces and learn an independent
    * `k`-centroid codebook per subspace with [[kmeansAssign]] (seeded
    * `pq0..pq{m-1}` so the codebooks differ); a vector's code is its m
    * nearest-centroid cells — `m·log2(k)` bits instead of `dim·32`,
    * the storage layout IVF-PQ search decodes with ADC lookups.
    *
    * Scale: m independent kmeans passes over sliced columns (the slice is
    * a scan-stage projection) joined back on id — each pass has
    * kmeansAssign's one-aggregation-per-round budget; the join keys are
    * the corpus ids, AQE-planned. Determinism inherits from
    * kmeansAssign's md5 init + pinned arithmetic, so the DuckDB oracle
    * replays every codebook and every code. */
  def pqCodes(df: DataFrame, idCol: String, vecCol: String,
              m: Int, subDim: Int, k: Int, iters: Int): DataFrame = {
    require(m > 0 && subDim > 0, "m and subDim must be positive")
    (0 until m).map { s =>
      kmeansAssign(
        df.select(col(idCol),
          slice(col(vecCol), s * subDim + 1, subDim).as("__sub")),
        idCol, "__sub", k, iters, seed = s"pq$s")
        .withColumnRenamed("cell", s"code$s")
    }.reduce(_.join(_, idCol))
  }

  /** ADC (asymmetric distance computation) search over PQ codes — the
    * query half of IVF-PQ: each query builds an m×k LOOKUP TABLE of
    * query-subvector · normalized-centroid dots (driver-side, model×query
    * scale), and every document scores as m table lookups on its codes —
    * `element_at` over literal arrays in the scan projection: ZERO
    * per-document float math beyond m adds, zero shuffle, top-k as
    * TakeOrderedAndProject. This is why PQ wins at 100 TB: the corpus
    * pass touches only the code columns (m bytes/doc), never the vectors.
    *
    * Scores are INNER products against the reconstruction: LUT entry =
    * query-subvector · RAW centroid (the subspace mean — normalizing per
    * subspace would inflate tight clusters' magnitudes and wreck the
    * ranking; probed in PqSpec), so `Σ_m lut_m[code_m] = q · v̂`.
    * Determinism: left-to-right double dots ≡ `list_dot_product`; per-doc
    * score adds the m lookups in subspace order; ties break on id.
    * Output: (query_id, vec_id, adc, rank) per query, `topK` rows. */
  /** With `rerank > 0`, the ADC pass only SHORTLISTS `rerank` candidates
    * per query and the final `topK` comes from exact cosine on the
    * shortlist — the production IVF-PQ + rerank topology: the full-corpus
    * pass reads m bytes/doc, the exact math touches `rerank` vectors per
    * query. Output cols then carry `cosine` instead of `adc`. */
  def pqSearch(df: DataFrame, idCol: String, vecCol: String,
               m: Int, subDim: Int, k: Int, iters: Int,
               queries: Seq[(Long, Array[Double])], topK: Int,
               rerank: Int = 0): DataFrame = {
    if (queries.isEmpty) { // empty-input contract: schema-correct no rows
      val scoreCol = if (rerank <= 0) "adc" else "cosine"
      return df.select(col(idCol)).limit(0)
        .withColumn("query_id", lit(0L))
        .withColumn(scoreCol, lit(0.0))
        .withColumn("rank", lit(0L))
        .select(col("query_id"), col(idCol), col(scoreCol), col("rank"))
    }
    // train the m codebooks + code the corpus (same seeds as pqCodes)
    // the m codebook trainings are independent chains of small jobs —
    // run them concurrently so their per-round driver round-trips overlap
    // (results are deterministic regardless of completion order)
    val parts = {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      Await.result(Future.sequence((0 until m).toList.map { s =>
        Future(kmeansModel(
          df.select(col(idCol),
            slice(col(vecCol), s * subDim + 1, subDim).as("__sub")),
          idCol, "__sub", k, iters, seed = s"pq$s"))
      }), scala.concurrent.duration.Duration.Inf)
    }
    val codes = parts.zipWithIndex.map { case ((a, _), s) =>
      a.withColumnRenamed("cell", s"code$s")
    }.reduce(_.join(_, idCol))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def dotLR(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0
      var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }
      acc
    }
    // ALL queries in one plan: the LUTs ride a broadcast queries frame
    // (one array column per subspace), so the corpus pass is a single
    // broadcast join + per-query WindowGroupLimit — job count is O(1) in
    // the number of queries, not O(queries).
    val spark = df.sparkSession
    import spark.implicits._
    val qRows = queries.map { case (qid, qv) =>
      val luts = (0 until m).map { s =>
        val sub = qv.slice(s * subDim, (s + 1) * subDim)
        parts(s)._2.map(c => dotLR(sub, c)).toSeq
      }
      (qid, qv.toSeq, math.sqrt(dotLR(qv, qv)), luts)
    }.toDF("query_id", "__qv", "__qn", "__luts")
    val score = (0 until m).map { s =>
      element_at(element_at(col("__luts"), s + 1),
        col(s"code$s").cast("int") + 1)
    }.reduceLeft(_ + _)
    val wAdc = Window.partitionBy(col("query_id"))
      .orderBy(col("__adc").desc, col(idCol))
    val scored = codes.join(broadcast(qRows))
      .withColumn("__adc", round(score, 6))
    if (rerank <= 0) {
      scored.withColumn("rank", row_number().over(wAdc).cast("long"))
        .where(col("rank") <= topK)
        .select(col("query_id"), col(idCol), col("__adc").as("adc"),
          col("rank"))
    } else {
      val short = scored.withColumn("__rn", row_number().over(wAdc))
        .where(col("__rn") <= rerank)
        .select(col("query_id"), col(idCol), col("__qv"), col("__qn"))
      val wCos = Window.partitionBy(col("query_id"))
        .orderBy(col("cosine").desc, col(idCol))
      short
        .join(df.select(col(idCol),
          col(vecCol).cast("array<double>").as("__dv")), idCol)
        .withColumn("cosine", round(
          dotDouble(col("__qv"), col("__dv")) /
            (col("__qn") * sqrt(dotDouble(col("__dv"), col("__dv")))), 6))
        .withColumn("rank", row_number().over(wCos).cast("long"))
        .where(col("rank") <= topK)
        .select(col("query_id"), col(idCol), col("cosine"), col("rank"))
    }
  }

  /** Embedding-table quality audit — per group: row count, vectors with
    * the wrong dimension, all-zero vectors (cosine-undefined: every
    * similarity op here divides by the norm), non-finite components, and
    * the nearest-rank median norm (drift in the norm distribution is the
    * embedding-model-version tripwire). The gate the ANN/dedup family
    * assumes has already run.
    *
    * Norms use the same sequential-fold dot as every similarity op
    * (≡ list_dot_product), rounded 6 before ranking; the median is the
    * [[graft.ops.Profile.numericProfile]] integer-rank rule. One scan
    * projection + one group-keyed window + a groups-sized rollup. */
  def embeddingAudit(df: DataFrame, idCol: String, vecCol: String,
                     groupCol: String, expectedDim: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val v = col(vecCol)
    val base = df.select(col(groupCol).as("g"), col(idCol).as("__id"),
      (size(v) =!= expectedDim).cast("long").as("__bad_dim"),
      (!exists(v, x => x =!= 0.0f)).cast("long").as("__zero"),
      exists(v, x => isnan(x) || abs(x) === lit(Float.PositiveInfinity))
        .cast("long").as("__nonfinite"),
      round(sqrt(dot(v, v)), 6).as("__norm"))
    val w = Window.partitionBy(col("g")).orderBy(col("__norm"), col("__id"))
    val wAll = Window.partitionBy(col("g"))
    val ranked = base.select(col("g"), col("__bad_dim"), col("__zero"),
      col("__nonfinite"), col("__norm"),
      row_number().over(w).as("__rk"), count(lit(1)).over(wAll).as("__n"))
    ranked.groupBy(col("g"))
      .agg(count(lit(1)).as("n_vectors"),
        sum(col("__bad_dim")).as("n_bad_dim"),
        sum(col("__zero")).as("n_zero"),
        sum(col("__nonfinite")).as("n_nonfinite"),
        min(when(col("__rk") === expr("(__n + 1) div 2"), col("__norm")))
          .as("p50_norm"))
  }
}
