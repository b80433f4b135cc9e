package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation,
  LogicalPlan, Project}
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.LongType
import org.apache.spark.unsafe.Platform

/** Deduplication operators for web-scale corpora. Training-data-pipeline
  * extensions (not in the reference, which has no text surface — SURVEY.md
  * §2.9); designs follow the published MinHash/SimHash literature
  * (Broder 1997; Charikar 2002; Lee et al. 2021 "Deduplicating Training Data
  * Makes Language Models Better").
  *
  * Scale design:
  *  - exact dedup: one hash-shuffle on a 32-byte digest, map-side partial agg;
  *  - MinHash/LSH: signatures computed in the scan projection (codegen'd
  *    expressions, no UDF), candidate generation is an explode + groupBy on
  *    (band, bandHash) — the classic band-bucket join — so cost is
  *    O(docs × bands) rows shuffled, never O(docs²);
  *  - verification joins only touch candidate pairs.
  */
object Dedup {

  /** Optimizer barrier for small derived tables that feed multiple plan legs
    * (CollapseProject would otherwise inline the defining expressions once
    * per downstream use — see minhashNearDups). `persist` (default) caches;
    * `checkpoint` = true instead writes a reliable checkpoint (requires
    * `SparkContext.setCheckpointDir`) — prefer it at cluster scale so a lost
    * executor re-reads the materialized table instead of recomputing the
    * whole signature pass, and so the barrier survives cache eviction. */
  private[graft] def barrier(df: DataFrame, checkpoint: Boolean): DataFrame =
    if (checkpoint) df.checkpoint()
    else df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** Fan a NARROW scan out to the session's parallelism before a heavy
    * per-row projection (sketch signatures, BPE encode, codec work). A
    * small input file splits into fewer scan partitions than cores
    * (FilePartition packs by `maxPartitionBytes`), so a CPU-bound
    * scan-stage expression runs on 1-3 of the session's cores while the
    * rest idle — measured 1 scan task for the sf0.1 documents corpus on
    * local[32]. At cluster scale the input has >= cores natural splits
    * and this is a NO-OP (the condition fails; no shuffle is added), so
    * the 100 TB plan shape is unchanged — this is the guide §2 "derive
    * partitioning from input size" rule, applied to scans.
    *
    * Results are unaffected: every consumer downstream of the fan-out
    * sites is hash/key-based and order-independent (the determinism
    * contract all queries already pin). */
  private[graft] def fanOut(df: DataFrame): DataFrame =
    spread(df, smallScan(df))

  /** The small-scan gate behind [[fanOut]] — one partition probe. Two
    * gates: relative (the scan fills under half the cores) AND absolute
    * (the input is genuinely small-file-shaped). Without the absolute
    * bound, a mid-size corpus (a few thousand splits) on a very large
    * cluster (defaultParallelism ≫ splits) would round-robin its raw
    * payload just to fill cores — a full shuffle that costs more than the
    * idle cores save. 64 splits ≈ 8 GB at the default 128 MB split size;
    * past that, natural splits carry the parallelism. A streaming frame
    * is never small (the probe needs a batch plan). */
  private def smallScan(df: DataFrame): Boolean = !df.isStreaming && {
    val parts = df.queryExecution.toRdd.getNumPartitions
    parts * 2 < df.sparkSession.sparkContext.defaultParallelism && parts <= 64
  }

  /** Round-robin `df` to the session's parallelism when the gate said
    * `small`; callers that act on one probe twice pass its answer here. */
  private def spread(df: DataFrame, small: Boolean): DataFrame =
    if (small) df.repartition(df.sparkSession.sparkContext.defaultParallelism)
    else df

  private lazy val log = org.slf4j.LoggerFactory.getLogger("graft.Dedup")

  /** Cap activity of the LAST run per `what` tag: (hot keys dropped, rows
    * dropped). Log lines aren't assertable; the skew harness and specs read
    * this to prove the guard actually fired on a planted-hot corpus. */
  private[graft] val capStats =
    scala.collection.concurrent.TrieMap.empty[String, (Long, Long)]

  /** Star-contraction rounds the LAST [[closePairs]] call ran, 0 when it
    * closed on the driver (same observability pattern as [[capStats]]):
    * the skew harness asserts the O(log n) round bound on chain graphs
    * with this. */
  @volatile private[graft] var lastClusterRounds: Int = 0

  /** Document-frequency cap on bucket keys before an LSH self-join — the
    * standard guard against the n² blow-up of a "hot" bucket (template-heavy
    * web corpora put boilerplate headers/footers in millions of documents; a
    * band/fingerprint value shared by n docs yields n² candidate rows).
    *
    * Keys occurring in more than `cap` rows are dropped entirely (docs in a
    * bucket that size are boilerplate-similar, not near-duplicate-similar in
    * any useful sense) and the dropped key/row counts are logged so coverage
    * loss is explicit, never silent. Cost: one extra aggregation on the key
    * (column-pruned, map-side partial) + a broadcast anti-join — the hot-key
    * list is tiny by construction (each key covers > cap rows).
    */
  private[graft] def capHotKeys(df: DataFrame, keyCol: String, cap: Int,
                                what: String): DataFrame = {
    require(cap > 0, s"$what: frequency cap must be positive")
    // The hot-key table stays distributed end-to-end: aggregated (map-side
    // partial, column-pruned), persisted at metadata scale (≤ rows/cap keys
    // — each covers > cap rows), and consumed directly as the broadcast
    // build side of the anti-join. The key VALUES never ride through the
    // driver; only a two-long (n_keys, n_rows) summary does, for the log.
    val hotDf = df.groupBy(col(keyCol)).agg(count(lit(1)).as("__freq"))
      .where(col("__freq") > cap)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val stats = hotDf
      .agg(count(lit(1)).as("k"), coalesce(sum(col("__freq")), lit(0L)).as("r"))
      .head()
    if (stats.getLong(0) == 0L) { hotDf.unpersist(); capStats.remove(what); df }
    else {
      log.warn(s"$what: dropping ${stats.getLong(0)} bucket key(s) with more " +
        s"than $cap occurrences (${stats.getLong(1)} rows) " +
        "before candidate generation")
      capStats.put(what, (stats.getLong(0), stats.getLong(1)))
      df.join(broadcast(hotDf.select(col(keyCol))), Seq(keyCol), "left_anti")
    }
  }

  /** The LSH candidate join every near-dup family runs (filter-then-verify):
    * the caller bands its rows into `(__key, __id[, __p])` sides — keys,
    * hot-key cap and barriers are the family's own — and this joins them on
    * `__key`, keeps one orientation per id pair, verifies, and emits each
    * `(idA, idB)` once with its `__score`.
    *
    *  - `batch = None` (the corpus against itself, full run): `idA < idB`;
    *    `Some(b)` (a new batch banded against the corpus, which holds the
    *    batch too — incremental run): `idA ≠ idB`, then the canonical
    *    `(least, greatest)` — old–old pairs cannot occur, new–new ones
    *    come out once.
    *  - `payload = None`: both sides carry the payload `__p` inline, and
    *    `score` runs inside the join stage. `Some(t)`: the sides are
    *    keys-only, the `(idA, idB)` set is deduped first, and `t`'s
    *    `(__id, __p)` rows re-attach by id — the shuffle moves metadata
    *    only and `score` runs once per distinct pair.
    *  - `score` must be symmetric (it sees either orientation); `keep` is
    *    the verify predicate on it. Pairs dedup after the verify, so an id
    *    with several payload rows still emits its pairs once. */
  private[functions] def lshCandidateJoin(
      corpus: DataFrame, batch: Option[DataFrame],
      payload: Option[DataFrame], score: (Column, Column) => Column,
      keep: Column => Column): DataFrame = {
    val selfJoin = batch.isEmpty
    def leg(side: DataFrame, s: String) = side.select(
      Seq(col("__key"), col("__id").as(s"__id$s")) ++
        (if (payload.isEmpty) Seq(col("__p").as(s"__p$s")) else Nil): _*)
    val (l, r) = (col("__idL"), col("__idR"))
    val joined = leg(batch.getOrElse(corpus), "L")
      .join(leg(corpus, "R"), Seq("__key"))
      .where(if (selfJoin) l < r else l =!= r)
    val ids = Seq((if (selfJoin) l else least(l, r)).as("idA"),
      (if (selfJoin) r else greatest(l, r)).as("idB"))
    val scored = payload match {
      case None =>
        joined.select(ids :+ score(col("__pL"), col("__pR")).as("__score"): _*)
      case Some(t) =>
        joined.select(ids: _*).dropDuplicates("idA", "idB")
          .join(t.select(col("__id").as("idA"), col("__p").as("__pa")),
            Seq("idA"))
          .join(t.select(col("__id").as("idB"), col("__p").as("__pb")),
            Seq("idB"))
          .select(col("idA"), col("idB"),
            score(col("__pa"), col("__pb")).as("__score"))
    }
    scored.where(keep(col("__score"))).dropDuplicates("idA", "idB")
  }

  // ---------------------------------------------------------------- exact

  /** Edit-distance (Levenshtein) near-dup pairs: prefix blocking — docs
    * sharing their first `prefixLen` chars land in one block — then an
    * exact `levenshtein` verify at `dist <= maxRel · max(len)` on the
    * block-local pairs. The record-linkage companion to the shingle
    * families: catches small in-place edits that keep the head intact
    * (common for template/boilerplate corpora) with a much cheaper
    * candidate step than MinHash, at the cost of missing head edits.
    *
    * Scale: blocks join on a 32-byte md5 block key; a degenerate block
    * (every doc opening with the same boilerplate) is dropped with a
    * logged count by the same [[capHotKeys]] gate as every LSH band. The
    * O(len²) Levenshtein runs only on block-surviving pairs. */
  def editNearDups(df: DataFrame, textCol: String, idCol: String,
                   prefixLen: Int = 24, maxRel: Double = 0.2,
                   maxBlockFreq: Int = 2000): DataFrame = {
    val blocked = capHotKeys(
      df.select(col(idCol).as("__id"), col(textCol).as("__txt"))
        .withColumn("__blk", md5(substring(col("__txt"), 1, prefixLen))),
      "__blk", maxBlockFreq, "editNearDups")
    val a = blocked.select(col("__blk"), col("__id").as("idA"), col("__txt").as("__ta"))
    val b = blocked.select(col("__blk"), col("__id").as("idB"), col("__txt").as("__tb"))
    a.join(b, Seq("__blk")).where(col("idA") < col("idB"))
      .withColumn("edit_dist", levenshtein(col("__ta"), col("__tb")).cast("long"))
      .where(col("edit_dist") <=
        lit(maxRel) * greatest(length(col("__ta")), length(col("__tb"))))
      .select(col("idA"), col("idB"), col("edit_dist"))
  }

  /** Jaro-Winkler record linkage: first-token blocking + JW verify —
    * the name-variant linkage family ([[editNearDups]] covers in-place
    * edits via Levenshtein; JW favors shared prefixes/transpositions, the
    * shape of human-entered variants). Returns `(idA, idB, jw)` with
    * idA < idB and jw ≥ `minSim` (rounded 6 dp AFTER the unrounded gate,
    * so the gate decision is bit-identical to the oracle's).
    *
    * Scale shape: the comparator is O(|a|·|b|) per pair, so the block
    * structure bounds the work — pair cost is Σ block_size², and
    * [[capHotKeys]] drops degenerate hot blocks (a stop-word first token)
    * with the logged-drop convention shared by every LSH family here.
    * `blockTokens` is the block-granularity knob: common first tokens make
    * sub-cap blocks grow quadratically with corpus size (measured 2 s →
    * 72 s at 1×→10× in SkewBench with blockTokens = 1); the 2-token key —
    * the DEFAULT, because a default nobody should run at scale is the
    * wrong default — keeps the same clone detection with bounded blocks,
    * at the standard recall trade (variants differing inside the key land
    * in different blocks — production linkage runs multiple blocking
    * passes). The coarse 1-token blocking stays available as an explicit
    * opt-in for high-recall small-corpus passes. */
  def fuzzyLink(df: DataFrame, nameCol: String, idCol: String,
                minSim: Double = 0.9, maxBlockFreq: Int = 2000,
                blockTokens: Int = 2): DataFrame = {
    require(blockTokens >= 1, "blockTokens must be >= 1")
    val blockKey = concat_ws(" ", (1 to blockTokens).map(i =>
      split_part(col("__nm"), lit(" "), lit(i))): _*)
    val blocked = capHotKeys(
      df.select(col(idCol).as("__id"), col(nameCol).as("__nm"))
        .withColumn("__blk", blockKey),
      "__blk", maxBlockFreq, "fuzzyLink")
    val a = blocked.select(col("__blk"), col("__id").as("idA"), col("__nm").as("__na"))
    val b = blocked.select(col("__blk"), col("__id").as("idB"), col("__nm").as("__nb"))
    a.join(b, Seq("__blk")).where(col("idA") < col("idB"))
      .withColumn("__jw", graft.functions.expressions.StringSim
        .jaroWinkler(col("__na"), col("__nb")))
      .where(col("__jw") >= minSim)
      .select(col("idA"), col("idB"), round(col("__jw"), 6).as("jw"))
  }

  /** Multi-pass blocked linkage — the production recall remedy the
    * [[fuzzyLink]] docs point at: candidates from the UNION of several
    * bounded blocking keys, each pass individually capped. Pass 1 is the
    * default 2-token prefix key over the raw names; pass 2 is the
    * sorted-neighborhood pass — the SORTED first-2-token key
    * (least/greatest, identical semantics in DuckDB) with the comparator
    * run on the token-sorted names, catching word-order transpositions
    * ("acme corp" vs "corp acme") the prefix pass separates. A pair
    * found by both passes keeps its best score. Cost is the sum of two
    * bounded passes — still corpus-linear, unlike widening one key. */
  def fuzzyLinkMultiPass(df: DataFrame, nameCol: String, idCol: String,
                         minSim: Double = 0.9,
                         maxBlockFreq: Int = 2000): DataFrame = {
    val prefixPass = fuzzyLink(df, nameCol, idCol, minSim, maxBlockFreq)
    val t1 = split_part(col("__nm"), lit(" "), lit(1))
    val t2 = split_part(col("__nm"), lit(" "), lit(2))
    // sorted-neighborhood pass: block on the sorted first-2-token key AND
    // compare on the fully token-sorted name — JW's prefix weighting
    // rejects word-order transpositions even when a key unites them, so
    // the comparator must see the variant class the key targets
    val sortedNm = array_join(array_sort(split(col("__nm"), " ")), " ")
    val blocked = capHotKeys(
      df.select(col(idCol).as("__id"), col(nameCol).as("__nm"))
        .withColumn("__blk", concat_ws(" ", least(t1, t2), greatest(t1, t2)))
        .withColumn("__snm", sortedNm),
      "__blk", maxBlockFreq, "fuzzyLinkSorted")
    val a = blocked.select(col("__blk"), col("__id").as("idA"), col("__snm").as("__na"))
    val b = blocked.select(col("__blk"), col("__id").as("idB"), col("__snm").as("__nb"))
    val sortedPass = a.join(b, Seq("__blk")).where(col("idA") < col("idB"))
      .withColumn("__jw", graft.functions.expressions.StringSim
        .jaroWinkler(col("__na"), col("__nb")))
      .where(col("__jw") >= minSim)
      .select(col("idA"), col("idB"), round(col("__jw"), 6).as("jw"))
    // a pair found by both passes keeps its best score (deterministic max)
    prefixPass.unionByName(sortedPass)
      .groupBy("idA", "idB").agg(max(col("jw")).as("jw"))
  }

  /** Exact dedup on canonicalized content: keeps the row with the smallest
    * `idCol` per distinct normalized text. Group key is the md5 digest, not
    * the text itself — 32 bytes/row through the shuffle regardless of doc
    * size. */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(col("__fp")).orderBy(col(idCol).asc)
    df.withColumn("__fp", TextFunctions.fingerprintMd5(col(textCol)))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__fp", "__rn")
  }

  // ---------------------------------------------------------------- minhash

  /** MinHash signature over byte k-grams of the normalized text — custom
    * Catalyst expression ([[graft.functions.expressions.MinHashSig]]: sliding
    * byte-window hashing + universal-hash permutations, computed in the scan
    * stage). */
  def minhashSignature(text: Column, shingleK: Int, numHashes: Int): Column =
    graft.functions.expressions.HashExprs.minhashSig(
      TextFunctions.normalizedText(text), shingleK, numHashes)

  /** LSH band keys: the signature split into `bands` bands of `rowsPerBand`,
    * each band reduced to one 64-bit key. Two docs share a band key iff their
    * band signatures agree exactly — P(collision) ≈ 1-(1-j^r)^b for Jaccard j. */
  def lshBandKeys(signature: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      xxhash64(lit(b), slice(signature, b * rowsPerBand + 1, rowsPerBand))
    }: _*)

  /** Candidate near-duplicate pairs via MinHash LSH. Three-stage filter so
    * heavy payloads never ride the candidate shuffle:
    *  1. band-bucket self-join on the 64-long signature (512 B/row — NOT the
    *     multi-KB shingle arrays);
    *  2. cheap signature-estimated Jaccard (fraction of agreeing minhash
    *     components, O(numHashes) per pair) with slack below the threshold;
    *  3. exact shingle-set Jaccard only for the survivors (re-joined to the
    *     shingle table by id).
    * Output: (idA, idB, jaccard) with idA < idB and exact jaccard >= threshold.
    */
  def minhashNearDups(df: DataFrame, textCol: String, idCol: String,
                      shingleK: Int = 5, numHashes: Int = 64, bands: Int = 16,
                      threshold: Double = 0.8,
                      checkpointSignatures: Boolean = false,
                      maxBandFreq: Int = 2000): DataFrame =
    minhashNearDupsImpl(df, textCol, idCol, shingleK, numHashes, bands,
      threshold, checkpointSignatures, maxBandFreq, wideShape = None)

  /** [[minhashNearDups]] with the candidate-shape gate overridable —
    * `wideShape = Some(b)` pins the metadata-banding (true) or
    * inline-signature (false) candidate shape; `None` derives it from the
    * corpus scan (the production path). Spec hook: both shapes must
    * return identical pairs. */
  private[graft] def minhashNearDupsImpl(
      df: DataFrame, textCol: String, idCol: String,
      shingleK: Int, numHashes: Int, bands: Int,
      threshold: Double, checkpointSignatures: Boolean,
      maxBandFreq: Int, wideShape: Option[Boolean]): DataFrame = {
    val docs = df.select(col(idCol).as("doc_id"), col(textCol).as("__t"))
    // One probe decides the signature fan-out, the verify fan-out and the
    // candidate shape: a corpus with ≥ 64 natural splits (≈ 8 GB at the
    // default split size) or filling half the cores is "wide".
    val small = smallScan(docs)
    // barrier: CollapseProject would otherwise inline the signature
    // expression once per band key per join leg (~17 evals/row — measured
    // 35 s vs 2 s for the signatures themselves at 5k docs before this
    // barrier), and the table feeds BOTH self-join legs. id + 64 longs —
    // ~600 B/row, negligible at any doc count that fits a cluster's
    // aggregate memory; spills to disk otherwise.
    val sigs = barrier(signatureRows(spread(docs, small), shingleK, numHashes),
      checkpointSignatures)
    minhashPairs(sigs, batchSigs = None, docs, small,
      wideShape.getOrElse(!small), shingleK, numHashes, bands, threshold,
      maxBandFreq, "minhashNearDups", checkpointSignatures)
  }

  /** Reusable signature table (doc_id, sig) — the artifact an incremental
    * pipeline persists (e.g. [[graft.sources.Writers.writeVersioned]])
    * so corpus signatures are computed once, not per arriving batch. */
  def minhashSignatureTable(df: DataFrame, textCol: String, idCol: String,
                            shingleK: Int = 5, numHashes: Int = 64): DataFrame =
    signatureRows(fanOut(df.select(col(idCol).as("doc_id"), col(textCol).as("__t"))),
      shingleK, numHashes)

  /** `(doc_id, sig)` over a `(doc_id, __t)` scan. Docs shorter than
    * shingleK chars have NO k-grams: their signature would be the
    * all-MaxValue sentinel, band-colliding every tiny doc with every other
    * one (and KgramJaccard calls two empty sets 1.0). They cannot be
    * near-duplicates under a k-gram measure, so they are filtered out —
    * matching the DuckDB oracle, which never emits them. */
  private def signatureRows(docs: DataFrame, shingleK: Int,
                            numHashes: Int): DataFrame =
    docs.select(col("doc_id"),
        TextFunctions.normalizedText(col("__t")).as("__norm"))
      .where(char_length(col("__norm")) >= shingleK)
      .select(col("doc_id"), graft.functions.expressions.HashExprs
        .minhashSig(col("__norm"), shingleK, numHashes).as("sig"))

  /** Incremental near-dup detection: pairs TOUCHING the new batch only,
    * against precomputed corpus signatures. At 100 TB this is the only
    * sane steady state — a daily 0.1% batch re-hashes 0.1% of the corpus,
    * bands it against the stored signature table (signatures: ~600 B/doc,
    * 3 orders of magnitude smaller than the text), and never recomputes
    * or reshuffles the existing corpus text; only verified candidates
    * re-read text payloads by id. Old–old pairs are excluded by
    * construction (they were reported when their batch arrived); new–new
    * pairs appear once (orientation + dedup).
    *
    * `corpusSigs` must come from [[minhashSignatureTable]] with the same
    * parameters; `allDocs` provides text for the exact verify. */
  def minhashNearDupsIncremental(corpusSigs: DataFrame, allDocs: DataFrame,
                                 newDocs: DataFrame, textCol: String, idCol: String,
                                 shingleK: Int = 5, numHashes: Int = 64,
                                 bands: Int = 16, threshold: Double = 0.8,
                                 maxBandFreq: Int = 2000): DataFrame =
    minhashNearDupsIncrementalImpl(corpusSigs, allDocs, newDocs, textCol,
      idCol, shingleK, numHashes, bands, threshold, maxBandFreq,
      wideShape = None)

  /** [[minhashNearDupsIncremental]] with the candidate-shape gate
    * overridable (same spec hook as [[minhashNearDupsImpl]]). */
  private[graft] def minhashNearDupsIncrementalImpl(
      corpusSigs: DataFrame, allDocs: DataFrame, newDocs: DataFrame,
      textCol: String, idCol: String, shingleK: Int, numHashes: Int,
      bands: Int, threshold: Double, maxBandFreq: Int,
      wideShape: Option[Boolean]): DataFrame = {
    val newSigs = barrier(
      minhashSignatureTable(newDocs, textCol, idCol, shingleK, numHashes),
      checkpoint = false)
    // barriered: the union feeds the banding pass AND both signature
    // re-attach legs — without it each consumer re-reads the
    // corpus-signature source (OPTIMIZATION_r15.md: five near-identical source
    // passes per run at the 10× SF)
    val allSigs = barrier(corpusSigs.unionByName(newSigs),
      checkpoint = false)
    // the shape and the verify fan-out gate on the corpus text scan
    val docs = allDocs.select(col(idCol).as("doc_id"), col(textCol).as("__t"))
    val small = smallScan(docs)
    minhashPairs(allSigs, Some(newSigs), docs, small,
      wideShape.getOrElse(!small), shingleK, numHashes, bands, threshold,
      maxBandFreq, "minhashNearDupsIncremental", checkpoint = false)
  }

  /** Candidates, estimate and exact verify shared by [[minhashNearDups]]
    * (`batchSigs = None`) and [[minhashNearDupsIncremental]] over
    * `(doc_id, sig)` tables; `docs` is the `(doc_id, __t)` text scan and
    * `small` its gate answer.
    *
    * Candidate generation: TWO measured shapes, gated on corpus scale,
    * identical output (spec-pinned by MinhashShapeSpec):
    *
    *  - INLINE (small corpora): both band-join legs carry the 512 B
    *    signature and the agree-estimate runs streaming inside the join
    *    stage, so the dedup exchange sees only survivors. Fewest
    *    stages — r15 A/B: 1.5 s vs 2.3-2.8 s per consumer at sf0.1,
    *    where stage latency, not bytes, binds.
    *
    *  - WIDE (≥ 64-split corpora): the band join shuffles
    *    (band, id) METADATA ONLY — the r14 shape moved the full signatures
    *    through the exchange, ~40× the bytes the join needs (297 MB per
    *    leg at a 50 k-doc corpus, OPTIMIZATION_r15.md at the synthesized 10× SF;
    *    594 MB → 26 MB after). Signatures re-attach to the DEDUPED pair
    *    set by id — AQE broadcasts the pair side in the common O(dups)
    *    case — and the estimate runs once per distinct pair instead of
    *    once per band collision. r15 A/B at the 10× SF: family −5..−14%;
    *    at a real cluster the exchange bytes are network, not page cache,
    *    and dominate.
    *
    * Hot-band guard either way: a degenerate band key shared by n docs
    * yields n² candidates — its document frequency is capped on the
    * corpus side (which holds the batch too) before the join. */
  private def minhashPairs(
      sigs: DataFrame, batchSigs: Option[DataFrame], docs: DataFrame,
      small: Boolean, wide: Boolean, shingleK: Int, numHashes: Int,
      bands: Int, threshold: Double, maxBandFreq: Int, what: String,
      checkpoint: Boolean): DataFrame = {
    val rowsPerBand = numHashes / bands
    def banded(s: DataFrame) = s.select(
      Seq(col("doc_id").as("__id")) ++ (if (wide) Nil else Seq(col("sig").as("__p"))) :+
        explode(lshBandKeys(col("sig"), bands, rowsPerBand)).as("__key"): _*)
    val corpus = capHotKeys(
      if (wide) barrier(banded(sigs), checkpoint = false) else banded(sigs),
      "__key", maxBandFreq, what)
    // Integer compare (# agreeing components >= minAgree) — no float
    // boundary, bit-identical in the DuckDB oracle.
    val minAgree = math.ceil((threshold - 0.15) * numHashes).toInt
    val agree = (x: Column, y: Column) =>
      aggregate(zip_with(x, y, (a, b) => when(a === b, 1).otherwise(0)),
        lit(0), (acc, v) => acc + v)
    val pairs = lshCandidateJoin(corpus, batchSigs.map(banded),
      if (wide) Some(sigs.select(col("doc_id").as("__id"), col("sig").as("__p")))
      else None,
      agree, _ >= minAgree).select("idA", "idB")
    // checkpoint: the candidate pairs feed THREE consumers below (the
    // id semi-filter via explode and both verify joins) — materialize the
    // LSH join once instead of trusting exchange reuse across the legs.
    // Candidate pairs are O(dups), small by the pipeline's own premise.
    // honor the caller's reliability flag (same contract as the signature
    // barrier): local checkpoints pin blocks to executors and die with
    // them — on a cluster pass checkpointSignatures = true so a lost
    // executor re-reads the pair set instead of failing the query
    val estimated =
      if (checkpoint) pairs.checkpoint() else pairs.localCheckpoint()

    // Verify only candidate-involved docs. The previous
    // shape normalized EVERY doc's text in both join legs (measured: the
    // two broadcast-leg builds were the two slowest single-task stages of
    // the whole query, ~0.9 s + 0.3 s at sf0.1 — full-corpus
    // normalizedText twice); the semi-join prunes the text scan to the
    // pair-involved ids before any per-char work. Unhinted joins: AQE
    // broadcasts the candidate-id side when it is small and falls back to
    // a single shuffle of the doc table otherwise (the old shape's
    // at-scale fallback shuffled the full text table twice).
    val candIds = estimated
      .select(explode(array(col("idA"), col("idB"))).as("doc_id")).distinct()
    // fan the verify scan out on small corpora: a small-file corpus packs
    // into ONE scan split (openCost packing), so the semi-join + normalize
    // + kgram verify all ran as a single task (OPTIMIZATION_r15.md: a 4.5 s 1-task
    // stage at the synthesized 10× SF inside every closure consumer). A
    // no-op once the corpus has natural splits.
    val txt = spread(docs, small)
      .join(candIds, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), TextFunctions.normalizedText(col("__t")).as("__n"))
    estimated
      .join(txt.select(col("doc_id").as("idA"), col("__n").as("__ta")), Seq("idA"))
      .join(txt.select(col("doc_id").as("idB"), col("__n").as("__tb")), Seq("idB"))
      .withColumn("jaccard", graft.functions.expressions.HashExprs
        .kgramJaccard(col("__ta"), col("__tb"), shingleK))
      .where(col("jaccard") >= threshold)
      .select(col("idA"), col("idB"), round(col("jaccard"), 6).as("jaccard"))
      // an id repeated in the text input joins once per copy: each
      // verified pair leaves once
      .dropDuplicates("idA", "idB")
  }

  // ---------------------------------------------------------------- n-gram jaccard

  /** Exact n-gram Jaccard similarity for an explicit candidate pair set
    * (pairs: columns idA, idB) — [[graft.functions.expressions.KgramJaccard]]
    * over normalized text. */
  def ngramJaccard(docs: DataFrame, pairs: DataFrame, textCol: String,
                   idCol: String, k: Int = 3): DataFrame = {
    val txt = docs.select(col(idCol).as("__jid"),
      TextFunctions.normalizedText(col(textCol)).as("__jtxt"))
    pairs
      .join(txt.withColumnRenamed("__jid", "idA").withColumnRenamed("__jtxt", "__ta"), Seq("idA"))
      .join(txt.withColumnRenamed("__jid", "idB").withColumnRenamed("__jtxt", "__tb"), Seq("idB"))
      .withColumn("jaccard", graft.functions.expressions.HashExprs
        .kgramJaccard(col("__ta"), col("__tb"), k))
      .select(col("idA"), col("idB"), round(col("jaccard"), 6).as("jaccard"))
  }

  // ---------------------------------------------------------------- simhash

  /** Winnowing fingerprints over normalized text (rolling window-min of
    * k-gram hashes — [[graft.functions.expressions.WinnowFingerprint]]). */
  def winnowFingerprints(text: Column, shingleK: Int = 5, window: Int = 8): Column =
    graft.functions.expressions.HashExprs.winnowFingerprint(
      TextFunctions.normalizedText(text), shingleK, window)

  /** Winnowing near-dup pairs (MOSS-style shared substrings): documents
    * sharing at least `minShared` winnowing fingerprints — any shared
    * substring of `window + shingleK - 1` chars guarantees a shared
    * fingerprint. Bucketed self-join on the fingerprint value — never
    * all-pairs — with the same hot-bucket frequency cap as the other LSH
    * joins (a boilerplate fingerprint in n docs would otherwise create n²
    * candidate rows). */
  def winnowNearDups(df: DataFrame, textCol: String, idCol: String,
                     shingleK: Int = 5, window: Int = 8, minShared: Int = 3,
                     maxFpFreq: Int = 2000): DataFrame = {
    // barrier: the fingerprint table feeds both self-join legs and the
    // cap's frequency scan — one winnowing pass, not three
    val fps = capHotKeys(
      barrier(fanOut(df.select(col(idCol).as("__id"), col(textCol).as("__t")))
        .select(col("__id"),
          explode(winnowFingerprints(col("__t"), shingleK, window)).as("__fp")),
        checkpoint = false),
      "__fp", maxFpFreq, "winnowNearDups")
    val a = fps.select(col("__id").as("idA"), col("__fp"))
    val b = fps.select(col("__id").as("idB"), col("__fp"))
    a.join(b, Seq("__fp")).where(col("idA") < col("idB"))
      .groupBy(col("idA"), col("idB"))
      .agg(count(lit(1)).cast("long").as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  /** Containment (quote-inclusion) pairs — documents whose k-gram
    * content lives INSIDE another document: candidates from shared
    * winnowing fingerprints (a contained substring of length ≥
    * window + k − 1 must share a fingerprint — the MOSS guarantee works
    * for asymmetric inclusion exactly as for near-duplication), verified
    * with [[expressions.KgramContainment]] of the SHORTER text in the
    * longer. This is the detector Jaccard-gated pipelines structurally
    * miss: a 50-char quote inside a 5000-char article has Jaccard ≈ 0.01
    * and containment ≈ 1.
    *
    * Same scale shape as [[winnowNearDups]] (capped fingerprint
    * self-join); the verify joins the candidate PAIRS back to the two
    * texts — pair-bounded, the corpus never self-joins on text. Returns
    * `(id_small, id_big, n_shared, containment)` for pairs at or above
    * `minContainment` (ties in length break by id: the smaller id is
    * "small" on equal lengths). */
  def containmentPairs(df: DataFrame, textCol: String, idCol: String,
                       shingleK: Int = 20, window: Int = 24,
                       minShared: Int = 2, minContainment: Double = 0.5,
                       maxFpFreq: Int = 2000): DataFrame = {
    val cand = winnowNearDups(df, textCol, idCol, shingleK, window,
      minShared, maxFpFreq)
      // feeds the id semi-filter AND the pair join — materialize once
      .localCheckpoint()
    // verify on the SAME normalized text the fingerprint stage hashed,
    // but only for candidate-involved docs (the minhashNearDups
    // semi-filter pattern — the full corpus was normalized per leg before)
    val candIds = cand
      .select(explode(array(col("idA"), col("idB"))).as("__tid")).distinct()
    // fanOut before the semi-join: the single-split small-file scan
    // otherwise funnels the normalize + containment verify into one task
    // (same fix as the minhash verify legs)
    val texts = fanOut(
        df.select(col(idCol).as("__tid"), col(textCol).as("__rawt")))
      .join(candIds, Seq("__tid"), "left_semi")
      .select(col("__tid"),
        TextFunctions.normalizedText(col("__rawt")).as("__txt"))
      .withColumn("__len", length(col("__txt")))
    val withTexts = cand
      .join(texts.select(col("__tid").as("idA"), col("__txt").as("__ta"),
        col("__len").as("__la")), "idA")
      .join(texts.select(col("__tid").as("idB"), col("__txt").as("__tb"),
        col("__len").as("__lb")), "idB")
    val aIsSmall = col("__la") < col("__lb") ||
      (col("__la") === col("__lb") && col("idA") < col("idB"))
    withTexts
      .select(
        when(aIsSmall, col("idA")).otherwise(col("idB")).as("id_small"),
        when(aIsSmall, col("idB")).otherwise(col("idA")).as("id_big"),
        col("n_shared"),
        round(when(aIsSmall,
          graft.functions.expressions.HashExprs.kgramContainment(
            col("__ta"), col("__tb"), shingleK))
          .otherwise(graft.functions.expressions.HashExprs.kgramContainment(
            col("__tb"), col("__ta"), shingleK)), 6).as("containment"))
      .where(col("containment") >= minContainment)
  }

  /** 64-bit SimHash over whitespace tokens (Charikar 2002) — custom Catalyst
    * expression ([[graft.functions.expressions.SimHash64]]). */
  def simhash64(text: Column): Column =
    graft.functions.expressions.HashExprs.simhash64(TextFunctions.tokens(text))

  /** Hamming distance between two 64-bit simhashes. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs: bucket by the 4 16-bit quarters of the simhash
    * (any pair within Hamming distance ≤ 3 of a 64-bit hash shares at least
    * one exact quarter — pigeonhole), verify with full Hamming distance.
    * Structurally UNBOUNDED at corpus scale: random 16-bit band agreement
    * yields ≈ n²/2¹⁶ candidate pairs between unrelated docs by
    * construction (measured 45.6× at 1×→10× in SkewBench). Kept for
    * cross-checking and high-threshold (maxHamming > numBlocks −
    * comboSize) recall; the scale path is [[simhashNearDupsBounded]]. */
  def simhashNearDups(df: DataFrame, textCol: String, idCol: String,
                      maxHamming: Int = 3, maxBandFreq: Int = 2000): DataFrame =
    hammingNearDups(
      fanOut(df.select(col(idCol).as("__id"), col(textCol).as("__t")))
        .select(col("__id"), simhash64(col("__t")).as("__h")),
      "__id", "__h", maxHamming, maxBandFreq, "simhashNearDups")

  /** Bounded SimHash near-dup pairs — block-combination candidate keys
    * (the web-crawl simhash table construction of Manku, Jain & Das Sarma,
    * "Detecting Near-Duplicates for Web Crawling", WWW 2007): the 64 bits
    * split into `numBlocks` blocks; each doc emits one key per
    * `comboSize`-subset of blocks (the concatenated block values). A pair
    * within Hamming ≤ `maxHamming` differs in ≤ maxHamming blocks, so with
    * `numBlocks − comboSize ≥ maxHamming` some emitted subset is untouched
    * on both sides — FULL recall, like the quarter bands, but the key is
    * `comboSize·64/numBlocks` ≈ 32 bits wide: random agreement is
    * C(B,c)·n²/2³² instead of 4·n²/2¹⁶ — the structural quadratic term is
    * ~6000× smaller and stays below the verify cost for any realistic
    * corpus. Exact `bit_count` verify on candidates; hot keys capped. */
  def simhashNearDupsBounded(df: DataFrame, textCol: String, idCol: String,
                             maxHamming: Int = 3, numBlocks: Int = 6,
                             comboSize: Int = 3,
                             maxBandFreq: Int = 2000): DataFrame =
    hammingBoundedCandidates(simhashRows(df, textCol, idCol), maxHamming,
      numBlocks, comboSize, maxBandFreq, "simhashNearDupsBounded",
      _ <= maxHamming)

  /** `(__id, __p)` simhash rows of a text input, fanned out before the
    * per-row hash (one small-scan probe). */
  private def simhashRows(df: DataFrame, textCol: String,
                          idCol: String): DataFrame =
    fanOut(df.select(col(idCol).as("__id"), col(textCol).as("__t")))
      .select(col("__id"), simhash64(col("__t")).as("__p"))

  /** The exploded combo-key array for [[hammingNearDupsBounded]]'s block
    * construction over a 64-bit hash column: one struct per
    * `comboSize`-subset of the `numBlocks` blocks. */
  private def comboKeyArray(h: Column, numBlocks: Int, comboSize: Int,
                            maxHamming: Int, what: String): Column = {
    require(numBlocks >= 2 && numBlocks <= 64,
      s"$what: numBlocks must be in [2, 64], got $numBlocks")
    require(comboSize >= 1 && comboSize <= numBlocks,
      s"$what: comboSize must be in [1, numBlocks], got $comboSize")
    require(numBlocks - comboSize >= maxHamming,
      s"$what: recall guarantee needs numBlocks - comboSize >= maxHamming " +
        s"(got $numBlocks - $comboSize < $maxHamming)")
    // block i covers bits [off(i), off(i)+w(i)); widths differ by <= 1
    val base = 64 / numBlocks
    val rem = 64 % numBlocks
    val widths = Array.tabulate(numBlocks)(i => base + (if (i < rem) 1 else 0))
    val offs = widths.scanLeft(0)(_ + _)
    def blockVal(i: Int): Column =
      if (widths(i) == 64) h
      else shiftright(h, offs(i)).bitwiseAND(lit((1L << widths(i)) - 1L))
    val combos = (0 until numBlocks).combinations(comboSize).toArray
    array(combos.zipWithIndex.map { case (cb, ci) =>
      struct(lit(ci).as("ci") +:
        cb.toIndexedSeq.zipWithIndex.map { case (b, j) =>
          blockVal(b).as(s"v$j")
        }: _*)
    }: _*)
  }

  /** The four 16-bit quarter bands of a 64-bit hash as `(band, key)`
    * structs — by pigeonhole, two hashes within Hamming ≤ 3 agree on at
    * least one. The batch quarter-band families and the streaming matcher
    * ([[graft.streaming.StreamingDedup]]) key on this one expression. */
  private[graft] def quarterBands(h: Column): Column =
    array((0 until 4).map { b =>
      struct(lit(b).as("band"),
        shiftrightunsigned(h, b * 16).bitwiseAND(lit(0xFFFFL)).as("key"))
    }: _*)

  /** `(__id, __p)` hash rows of a Hamming-family input. */
  private def hashRows(hashed: DataFrame, idCol: String,
                       hashCol: String): DataFrame =
    hashed.select(col(idCol).as("__id"), col(hashCol).as("__p"))

  /** Band `(__id, __p)` hash rows on `keys` of the hash. */
  private def hashKeyed(h: DataFrame, keys: Column => Column): DataFrame =
    h.withColumn("__key", explode(keys(col("__p"))))

  /** The candidate join over keyed hash sides with the hash inline on both
    * legs and the exact Hamming distance as score; `keep` is the verify. */
  private def hammingJoin(corpus: DataFrame, batch: Option[DataFrame],
                          keep: Column => Column): DataFrame =
    lshCandidateJoin(corpus, batch, payload = None,
      (a, b) => hamming64(a, b).cast("long"), keep)
      .select(col("idA"), col("idB"), col("__score").as("hamming"))

  /** The distinct candidate pairs (idA < idB, hamming) the bounded
    * block-combination scheme generates over `(__id, __p)` hash rows, with
    * `keep` as the verify — `_ => lit(true)` gives the pairs BEFORE the
    * exact Hamming verify, the measurable quantity behind the
    * 20·n²/2³² random-collision model. Callers fan the rows out. */
  private def hammingBoundedCandidates(rows: DataFrame, maxHamming: Int,
                                       numBlocks: Int, comboSize: Int,
                                       maxBandFreq: Int, what: String,
                                       keep: Column => Column): DataFrame = {
    val keyed = capHotKeys(
      hashKeyed(barrier(rows, checkpoint = false),
        comboKeyArray(_, numBlocks, comboSize, maxHamming, what)),
      "__key", maxBandFreq, what)
    hammingJoin(keyed, batch = None, keep)
  }

  /** Bounded Hamming near-dups over 64-bit fingerprints — the
    * block-combination core behind [[simhashNearDupsBounded]], usable for
    * perceptual image hashes too. Guarantee: `numBlocks − comboSize ≥
    * maxHamming` ⇒ every qualifying pair shares ≥ 1 combo key (pigeonhole
    * over blocks), so output = ALL pairs with Hamming ≤ maxHamming among
    * uncapped keys, identical to [[hammingNearDups]]'s recall at that
    * threshold. Cost shape: C(numBlocks, comboSize) rows/doc through one
    * shuffle (20 at the 6-choose-3 default vs the quarter bands' 4) buys
    * ~32-bit keys whose random-collision mass is corpus-scale-bounded —
    * the trade Manku et al. run in production. Output (idA < idB,
    * hamming ≤ maxHamming). */
  def hammingNearDupsBounded(hashed: DataFrame, idCol: String,
                             hashCol: String, maxHamming: Int = 3,
                             numBlocks: Int = 6, comboSize: Int = 3,
                             maxBandFreq: Int = 2000,
                             what: String = "hammingNearDupsBounded"): DataFrame =
    hammingBoundedCandidates(fanOut(hashRows(hashed, idCol, hashCol)),
      maxHamming, numBlocks, comboSize, maxBandFreq, what, _ <= maxHamming)

  /** Candidate-pair COUNT of the bounded scheme on `df` — the skew
    * harness's measured side of the model-vs-measured envelope probe. */
  def simhashBoundedCandidateCount(df: DataFrame, textCol: String,
                                   idCol: String, maxHamming: Int = 3,
                                   numBlocks: Int = 6, comboSize: Int = 3,
                                   maxBandFreq: Int = 2000): Long =
    hammingBoundedCandidates(simhashRows(df, textCol, idCol), maxHamming,
      numBlocks, comboSize, maxBandFreq, "simhashBoundedCandidateCount",
      _ => lit(true)).count()

  /** Near-dup pairs among 64-bit fingerprints by Hamming distance — the
    * banding core shared by SimHash (text) and perceptual image hashes:
    * quarter-band pigeonhole candidates (Hamming ≤ 3 pairs MUST agree on a
    * 16-bit quarter; larger thresholds trade a little recall for never
    * going all-pairs), hot bands capped, exact bit_count verify on
    * candidates only. Output (idA < idB, hamming ≤ maxHamming). */
  def hammingNearDups(hashed: DataFrame, idCol: String, hashCol: String,
                      maxHamming: Int = 3, maxBandFreq: Int = 2000,
                      what: String = "hammingNearDups"): DataFrame = {
    // barrier: the hash table feeds both self-join legs AND the cap's
    // frequency scan — persist so the fingerprint pass runs once
    val keyed = capHotKeys(
      hashKeyed(barrier(hashRows(hashed, idCol, hashCol), checkpoint = false),
        quarterBands),
      "__key", maxBandFreq, what)
    hammingJoin(keyed, batch = None, _ <= maxHamming)
  }

  /** Incremental Hamming-family near-dups — the image/simhash sibling of
    * [[minhashNearDupsIncremental]], same steady state: `corpusHashes` is
    * the persisted (id, hash64) table (8 B/doc of state — e.g. aHashes via
    * [[graft.sources.Writers.writeVersioned]]); only the NEW batch is
    * hashed/decoded, banded against the union, and reported. Old–old pairs
    * are excluded by construction; new–new pairs appear once. The
    * frequency cap is taken on the UNION table, so a quarter that goes hot
    * as the corpus grows starts being dropped exactly when the full-corpus
    * run would drop it. */
  def hammingNearDupsIncremental(corpusHashes: DataFrame, newHashes: DataFrame,
                                 idCol: String, hashCol: String,
                                 maxHamming: Int = 3, maxBandFreq: Int = 2000,
                                 what: String = "hammingNearDupsIncremental"): DataFrame =
    hammingIncremental(corpusHashes, newHashes, idCol, hashCol, quarterBands,
      maxHamming, maxBandFreq, what)

  /** Incremental Hamming near-dups over the BOUNDED block-combination
    * keys — [[hammingNearDupsIncremental]]'s quarter bands replaced by
    * [[hammingNearDupsBounded]]'s Manku construction, so the steady-state
    * candidate mass is C(B,c)·batch·corpus/2³² instead of
    * 4·batch·corpus/2¹⁶: the same ~6000× structural reduction the batch
    * mode gets, on the path that makes a growing corpus affordable at
    * all. Same contract: only pairs touching `newHashes` are reported,
    * old–old pairs excluded by construction, the frequency cap taken on
    * the UNION table. */
  def hammingNearDupsIncrementalBounded(corpusHashes: DataFrame,
                                        newHashes: DataFrame,
                                        idCol: String, hashCol: String,
                                        maxHamming: Int = 3,
                                        numBlocks: Int = 6, comboSize: Int = 3,
                                        maxBandFreq: Int = 2000,
                                        what: String = "hammingNearDupsIncrementalBounded"): DataFrame =
    hammingIncremental(corpusHashes, newHashes, idCol, hashCol,
      comboKeyArray(_, numBlocks, comboSize, maxHamming, what),
      maxHamming, maxBandFreq, what)

  /** The new batch banded on `keys` against the capped union of corpus
    * and batch — both incremental Hamming families. */
  private def hammingIncremental(corpusHashes: DataFrame, newHashes: DataFrame,
                                 idCol: String, hashCol: String,
                                 keys: Column => Column, maxHamming: Int,
                                 maxBandFreq: Int, what: String): DataFrame = {
    val newH = barrier(hashRows(newHashes, idCol, hashCol), checkpoint = false)
    val allH = hashRows(corpusHashes, idCol, hashCol).unionByName(newH)
    hammingJoin(capHotKeys(hashKeyed(allH, keys), "__key", maxBandFreq, what),
      Some(hashKeyed(newH, keys)), _ <= maxHamming)
  }

  /** Largest edge-row count [[closePairs]] closes on the driver. 2^18
    * rows are 4 MB as long pairs (2^18 × 16 B). The driver keeps them in
    * primitive arrays: the collected ids, the sorted distinct nodes, an
    * `Int` union-find over their indices, and a label relation of one
    * 24-byte UnsafeRow per doc in one byte array. Measured at the gate
    * (`SkewBench.gateProbe`: 64 scattered chains, 2^18 edges, local[4] on
    * 4 cores, 3 runs): the driver close takes 1.2-1.8 s, its calling
    * thread allocates 73 MB in all (the collected rows included), and the
    * returned plan keeps a 17 MB label relation; the star loop takes
    * 20-22 s (13 rounds) on the same graph. One edge past the gate, the
    * wasted collect of G + 1 rows costs at most a few seconds on a 20 s
    * star close (20.0-26.4 s gated against 20.2-22.2 s alone, within
    * run-to-run noise). Peak live driver heap was not measured. */
  private[graft] val DriverEdges: Int = 1 << 18

  private val longPair = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)

  /** Resolve near-dup PAIRS into clusters — the one connected-components
    * closure. Every doc maps to the smallest id reachable through the pair
    * graph (`cluster_id == doc_id` marks the canonical keeper, so "keep one
    * per cluster" is a plain filter). Input `idA`/`idB` (long ids); output
    * `(doc_id, cluster_id)` for every doc on a pair that is not a
    * self-loop.
    *
    * `prior` folds the pairs into an EXISTING `(doc_id, cluster_id)`
    * labeling without re-closing its history. A labeled component is a
    * star by construction, so it re-enters as |members| doc→cluster edges
    * however many pairs built it; cluster ids are member ids, so the
    * component minima equal a full recompute over old ∪ new pairs. The
    * output then covers every doc of `prior` and `pairs`; a doc no edge
    * touches keeps itself.
    *
    * Small graphs close on the driver. An input that is neither local nor
    * cached is first checkpointed (lazily), so the gate and the star loop
    * share one run of its lineage. The gate then collects at most G + 1
    * edge rows with one `limit(G + 1).collect()` per input: the `prior`
    * labels first (a local `prior`, such as another small closure's
    * output, collects without a job), then the pairs. At or under
    * G = [[DriverEdges]] rows, one union-find ([[minLabels]]) over them is
    * the exact closure — no round, no checksum — and the labels come back
    * as a local relation.
    *
    * Past G, three steps, none with a probe job of its own:
    *  1. union-find inside each input partition ([[localStars]]): every
    *     local component leaves as a star on its local minimum — same
    *     components, same minima, self-loops and repeated pairs gone. A
    *     dense dup clique that lands in one partition arrives as a star;
    *  2. one `distinct` over those edges (a node seen by several
    *     partitions can repeat an edge);
    *  3. large-star / small-star contraction (Kiveris, Lattanzi, Mirrokni,
    *     Rastogi & Vassilvitskii, "Connected Components in MapReduce and
    *     Beyond", SoCC 2014) over the merges the partitions left. Per
    *     round, large-star connects every strictly-larger neighbor of u to
    *     `m(u) = min(Γ(u) ∪ u)` and small-star connects u's smaller
    *     neighbors and u itself to the minimum of that set: one
    *     groupBy(min) + join each, over an edge set that only shrinks
    *     toward the star forest, O(log n) rounds where min-label
    *     propagation pays the graph diameter. The fixpoint is an
    *     order-independent edge-set checksum (count + sum of pair md5s)
    *     that is stable across a full alternation, so the loop pays its
    *     initial checksum and one confirming round even when step 1
    *     already left the star forest.
    *
    * Every round checkpoints its edges: the plan references the previous
    * round's edges several times, so lineage would otherwise grow
    * exponentially with the round count. In `prior` mode the returned
    * labels read both inputs again, so a cached one is checkpointed too
    * (the loop's first checksum materializes it). `checkpoint = false`
    * (default) uses a LAZY `localCheckpoint` — the round's checksum is the
    * materializing action, so a round is one job — but local checkpoints
    * pin blocks to executors; on a cluster pass `checkpoint = true` for an
    * eager reliable checkpoint (requires `SparkContext.setCheckpointDir`; a lazy
    * one would recompute the lineage for its write). A run that reaches
    * `maxIter` before the fixpoint is logged, and every call logs one INFO
    * line with the path taken, its edge rows and its rounds. */
  def closePairs(pairs: DataFrame, prior: Option[DataFrame] = None,
                 maxIter: Int = 25, checkpoint: Boolean = false): DataFrame =
    closePairsImpl(pairs, prior, maxIter, checkpoint, DriverEdges)

  /** [[closePairs]] with the driver gate overridable: `driverEdges = 0`
    * sends every graph through the star loop without the gate's collect.
    * Spec and SkewBench hook: both paths must return identical labels. */
  private[graft] def closePairsImpl(pairs: DataFrame, prior: Option[DataFrame],
      maxIter: Int, checkpoint: Boolean, driverEdges: Int): DataFrame = {
    // the gate's collect and the star loop both read the inputs: a local
    // or cached one is cheap to read twice, anything else is checkpointed
    // once, lazily, so the first reader materializes it for the second
    def pin(d: DataFrame): DataFrame =
      if (readsOnly(d, {
          case _: LocalRelation | _: InMemoryRelation => true
          case _ => false })) d
      else ckpt(d, checkpoint)
    val ids = pin(pairs.select(col("idA").cast("long").as("idA"),
      col("idB").cast("long").as("idB")))
    val priorIds = prior.map(p => pin(p.select(
      col("doc_id").cast("long").as("doc_id"),
      col("cluster_id").cast("long").as("cluster_id"))))
    // one `collect` of at most n rows, kept as two primitive columns
    def take(d: DataFrame, n: Int): (Array[Long], Array[Long]) = {
      val qe = d.limit(n).queryExecution
      val rows = SQLExecution.withNewExecutionId(qe, Some("collect"))(
        qe.executedPlan.executeCollect())
      val (a, b) = (new Array[Long](rows.length), new Array[Long](rows.length))
      for (i <- rows.indices) {
        a(i) = rows(i).getLong(0); b(i) = rows(i).getLong(1)
      }
      (a, b)
    }
    val none = (Array.emptyLongArray, Array.emptyLongArray)
    lazy val (priorA, priorB) = priorIds.fold(none)(take(_, driverEdges + 1))
    lazy val (pairA, pairB) =
      if (priorA.length > driverEdges) none
      else take(ids, driverEdges + 1 - priorA.length)
    lazy val edgeRows = priorA.length + pairA.length
    // a gate of 0 sends every graph to the star loop without collecting
    if (driverEdges > 0 && edgeRows <= driverEdges) {
      val (nodes, labels) = minLabels(priorA ++ pairA, priorB ++ pairB)
      // the labeled docs: every prior doc and pair end, or without prior
      // the ends of the pairs that are not self-loops
      val labeled = new Array[Boolean](nodes.length)
      def mark(x: Long): Unit =
        labeled(java.util.Arrays.binarySearch(nodes, x)) = true
      for (i <- priorA.indices) mark(priorA(i))
      for (i <- pairA.indices)
        if (prior.isDefined || pairA(i) != pairB(i)) {
          mark(pairA(i)); mark(pairB(i))
        }
      lastClusterRounds = 0
      log.info(s"closePairs: driver union-find, $edgeRows edge rows, 0 rounds")
      labelRelation(pairs.sparkSession, nodes, labels, labeled)
    } else starClose(ids, priorIds, maxIter, checkpoint)
  }

  /** True when `d` only projects and filters leaves that `leaf` accepts. */
  private def readsOnly(d: DataFrame, leaf: LogicalPlan => Boolean): Boolean =
    d.queryExecution.optimizedPlan.find {
      case _: Project | _: Filter => false
      case p => !leaf(p)
    }.isEmpty

  /** Lazy local checkpoint, or an eager reliable one when `reliable`. */
  private def ckpt(d: DataFrame, reliable: Boolean): DataFrame =
    if (reliable) d.checkpoint() else d.localCheckpoint(eager = false)

  /** [[closePairs]] past the driver gate: per-partition union-find, then
    * the star-contraction loop (steps 1-3 there). */
  private def starClose(pairIds: DataFrame, priorIds: Option[DataFrame],
                        maxIter: Int, checkpoint: Boolean): DataFrame = {
    // prior mode's labels read both inputs again after the call returns,
    // when a cache the caller holds may be gone: only local or
    // checkpointed frames may feed them
    def fixed(d: DataFrame): DataFrame =
      if (readsOnly(d, {
          case _: LocalRelation | _: LogicalRDD => true
          case _ => false })) d
      else ckpt(d, checkpoint)
    val prior = priorIds.map(fixed)
    val ids = if (prior.isDefined) fixed(pairIds) else pairIds
    def canon(e: DataFrame): DataFrame = e.select(
        least(col("u"), col("v")).as("u"),
        greatest(col("u"), col("v")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
    def checksum(d: DataFrame): (Long, String) = {
      // DECIMAL(38,0) sum: md5 longs are 2^63-scale, a BIGINT sum
      // overflows under ANSI
      val r = d.agg(count(lit(1)).as("n"),
        coalesce(sum(graft.functions.expressions.Md5Long(
            concat_ws("|", col("u"), col("v"))).cast("decimal(38,0)")),
          lit(0).cast("decimal(38,0)")).as("h")).head()
      (r.getLong(0), r.getDecimal(1).toPlainString)
    }
    val edges = prior.fold(ids)(p =>
      p.where(col("doc_id") =!= col("cluster_id")).union(ids))
    var e = ckpt(edges.as(longPair).mapPartitions(localStars)(longPair)
      .toDF("u", "v").distinct(), checkpoint)
    var prevSum = checksum(e)
    val edgeRows = prevSum._1
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // large-star: (v, m(u)) for v ∈ Γ(u), v > u
      val adj = e.select(col("u").as("s"), col("v").as("d"))
        .unionByName(e.select(col("v").as("s"), col("u").as("d")))
      val mAll = adj.groupBy(col("s")).agg(min(col("d")).as("__mn"))
        .select(col("s"), least(col("__mn"), col("s")).as("m"))
      val large = canon(adj.join(mAll, "s").where(col("d") > col("s"))
        .select(col("d").as("u"), col("m").as("v")))
      // small-star over the large-star output: u's strictly-smaller
      // neighbors and u itself all connect to their minimum
      val adj2 = large.select(col("u").as("s"), col("v").as("d"))
        .unionByName(large.select(col("v").as("s"), col("u").as("d")))
      val smaller = adj2.where(col("d") < col("s"))
      val mSmall = smaller.groupBy(col("s")).agg(min(col("d")).as("m"))
      e = ckpt(canon(
        smaller.join(mSmall, "s")
          .select(col("d").as("u"), col("m").as("v"))
          .unionByName(mSmall.select(col("s").as("u"), col("m").as("v")))),
        checkpoint)
      val cs = checksum(e)
      converged = cs == prevSum
      prevSum = cs
      iter += 1
    }
    if (!converged)
      log.warn(s"closePairs: stopped at maxIter=$maxIter before fixpoint")
    lastClusterRounds = iter
    log.info(s"closePairs: star loop, $edgeRows edge rows after the " +
      s"per-partition union-find, $iter rounds")
    // star forest: every non-root points at its component min, roots at
    // themselves
    val labels = e.select(col("v").as("doc_id"), col("u").as("cluster_id"))
      .union(e.select(col("u"), col("u")))
      .groupBy(col("doc_id")).agg(min(col("cluster_id")).as("cluster_id"))
    prior.fold(labels) { p =>
      val all = p.select(col("doc_id"))
        .union(ids.select(col("idA")))
        .union(ids.select(col("idB")))
        .distinct()
      all.join(labels, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
    }
  }

  /** Connected components of the edges `a(i)`–`b(i)`: the distinct nodes,
    * ascending, and for each the smallest node of its component. One
    * union-find with path compression over node indices, in primitive
    * arrays: a union hangs the larger root under the smaller and indices
    * follow id order, so every root is its component's minimum, and
    * self-loops and repeated pairs union nothing. */
  private def minLabels(a: Array[Long], b: Array[Long]): (Array[Long], Array[Long]) = {
    val all = a ++ b
    java.util.Arrays.sort(all)
    var n = 0
    for (i <- all.indices)
      if (n == 0 || all(n - 1) != all(i)) { all(n) = all(i); n += 1 }
    val nodes = java.util.Arrays.copyOf(all, n)
    val parent = Array.range(0, n)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (c != r) { val next = parent(c); parent(c) = r; c = next }
      r
    }
    def at(x: Long): Int = java.util.Arrays.binarySearch(nodes, x)
    for (i <- a.indices) {
      val ra = find(at(a(i)))
      val rb = find(at(b(i)))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    val labels = new Array[Long](n)
    for (i <- 0 until n) labels(i) = nodes(find(i))
    (nodes, labels)
  }

  /** [[minLabels]] over a partition's pairs: one `(root, node)` edge per
    * non-root node, so every local component leaves as a star on its
    * local minimum. */
  private def localStars(pairs: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
    val (a, b) = (Array.newBuilder[Long], Array.newBuilder[Long])
    pairs.foreach { case (x, y) => a += x; b += y }
    val (nodes, labels) = minLabels(a.result(), b.result())
    nodes.indices.iterator.collect {
      case i if labels(i) != nodes(i) => (labels(i), nodes(i)) }
  }

  /** The `(doc_id, cluster_id)` rows of the labeled nodes as a local
    * relation: one 24-byte UnsafeRow per doc, all in one byte array. */
  private def labelRelation(spark: SparkSession, nodes: Array[Long],
                            labels: Array[Long], labeled: Array[Boolean]): DataFrame = {
    val rowBytes = 24 // null bits + two longs
    val rows = new Array[InternalRow](labeled.count(identity))
    val buf = new Array[Byte](rows.length * rowBytes)
    var k = 0
    for (i <- nodes.indices) if (labeled(i)) {
      val r = new UnsafeRow(2)
      r.pointTo(buf, Platform.BYTE_ARRAY_OFFSET + k * rowBytes, rowBytes)
      r.setLong(0, nodes(i)); r.setLong(1, labels(i))
      rows(k) = r; k += 1
    }
    ColumnBridge.ofRows(spark, LocalRelation(
      Seq(AttributeReference("doc_id", LongType, nullable = false)(),
        AttributeReference("cluster_id", LongType, nullable = false)()),
      scala.collection.immutable.ArraySeq.unsafeWrapArray(rows)))
  }

  /** Cross-source duplicate provenance: near-duplicate pairs (the MinHash
    * LSH pipeline, same parameters as [[minhashNearDups]]) rolled up by
    * unordered source pair — the matrix that tells a corpus owner which
    * feeds mirror each other (and which source to drop when budgeting
    * ingestion).
    *
    * 100 TB design: all the heavy lifting is the already-bucketed LSH
    * pipeline; the source attachment is two id-keyed joins against an
    * id→source projection (broadcastable when the duplicate set is small,
    * AQE decides), and the final aggregation is `n_sources²`-scale. */
  def crossSourceDups(docs: DataFrame, textCol: String, idCol: String,
                      sourceCol: String,
                      threshold: Double = 0.5): DataFrame = {
    val pairs = minhashNearDups(docs, textCol, idCol, threshold = threshold)
      .select(col("idA"), col("idB"))
    val src = docs.select(col(idCol).cast("long").as("__id"),
      col(sourceCol).as("__src"))
    pairs
      .join(src.select(col("__id").as("idA"), col("__src").as("__sa")), "idA")
      .join(src.select(col("__id").as("idB"), col("__src").as("__sb")), "idB")
      .groupBy(
        least(col("__sa"), col("__sb")).as("source_a"),
        greatest(col("__sa"), col("__sb")).as("source_b"))
      .agg(count(lit(1)).as("n_near_dup_pairs"))
  }

  /** SPAN-level exact duplication (Lee et al. 2021 §4 "ExactSubstr"): token
    * n-grams occurring in >= minDocFreq documents are "duplicated spans";
    * per document, overlapping/adjacent hit spans merge into islands and
    * the output reports island count, covered-token count, and the covered
    * fraction. The span-granular complement of document-level MinHash: it
    * finds boilerplate stitched INTO otherwise-unique documents, which no
    * whole-document or shingle-set signature flags.
    *
    * Scale shape: grams are exploded in the scan stage (hashed to 63-bit
    * md5 keys, the text never leaves the scan) — twice, once per consumer
    * (df count and hit positions): materializing the exploded gram table
    * (corpus x n rows) would dwarf the second parquet read, so
    * recomputation is the deliberate trade. Doc-frequency is one
    * partial-aggregated shuffle on the gram key (the exact-dedup shape);
    * the hot-gram set joins back by gram key (sort-merge — the hot side is
    * NOT assumed broadcast-small: on web corpora boilerplate grams are a
    * sizable fraction); island merging is two doc-keyed window/agg passes
    * bounded by per-document hit counts. Merge rule pinned: spans merge
    * when start <= accumulated end (half-open intervals — adjacency
    * merges), replayed verbatim by the oracle's window chain. */
  def dupSpans(docs: DataFrame, textCol: String, idCol: String, n: Int,
               minDocFreq: Int = 2): DataFrame = {
    val toks = docs.select(col(idCol),
      size(filter(split(lower(trim(col(textCol))), "\\s+"),
        x => length(x) > 0)).cast("long").as("n_tokens"))
    dupIslands(docs, textCol, idCol, n, minDocFreq)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_dup_spans"),
        sum(col("__e") - col("__s")).as("n_dup_tokens"))
      .join(toks, Seq(idCol))
      .select(col(idCol), col("n_dup_spans"), col("n_dup_tokens"),
        col("n_tokens"),
        round(col("n_dup_tokens").cast("double") / col("n_tokens"), 6)
          .as("dup_span_frac"))
  }

  /** The merged (idCol, __s, __e) duplicated-span islands behind
    * [[dupSpans]] and [[scrubDupSpans]] — half-open token intervals,
    * disjoint per document by construction (the merge pass). */
  private def dupIslands(docs: DataFrame, textCol: String, idCol: String,
                         n: Int, minDocFreq: Int): DataFrame = {
    val grams = docs
      .select(col(idCol),
        posexplode(Decontam.wordNgrams(col(textCol), n)).as(Seq("__pos", "__g")))
      .select(col(idCol), col("__pos"),
        expressions.Md5Long(col("__g")).bitwiseAND(lit(Long.MaxValue)).as("__h"))
    val hot = grams
      .groupBy(col("__h"))
      .agg(countDistinct(col(idCol)).as("__df"))
      .where(col("__df") >= minDocFreq)
      .select(col("__h"))
    val hits = grams.join(hot, "__h").select(col(idCol), col("__pos"))
    val byDoc = Window.partitionBy(col(idCol)).orderBy(col("__pos"))
    val runEnd = max(col("__pos") + n)
      .over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
    hits
      .withColumn("__st",
        when(col("__pos") > coalesce(runEnd, lit(-1L)), 1L).otherwise(0L))
      .withColumn("__isl", sum(col("__st")).over(byDoc))
      .groupBy(col(idCol), col("__isl"))
      .agg(min(col("__pos")).as("__s"), max(col("__pos") + n).as("__e"))
  }

  /** Exact-substring REMOVAL (the second half of Lee et al. ExactSubstr):
    * rebuilds each document's text with every duplicated-span island cut
    * out. Tokens are the TOKS_LOWER contract (lowercase, \s+ split,
    * empties dropped) so positions line up with [[dupSpans]] exactly;
    * kept tokens re-join with single spaces.
    *
    * Scale shape: the island table (bounded by per-doc hit counts, NOT
    * corpus x n) is collected into one array per document and LEFT-joined
    * back on the doc key — one shuffle; the token-level cut is then a
    * per-row higher-order filter (`exists` over the doc's own islands),
    * zero extra shuffles and no token-level join. Islands are disjoint per
    * doc, so no token can be cut twice. */
  def scrubDupSpans(docs: DataFrame, textCol: String, idCol: String, n: Int,
                    minDocFreq: Int = 2): DataFrame = {
    val islands = dupIslands(docs, textCol, idCol, n, minDocFreq)
      .groupBy(col(idCol))
      .agg(collect_list(struct(col("__s"), col("__e"))).as("__isl"))
    val noIslands = array().cast("array<struct<__s:bigint,__e:bigint>>")
    docs
      .select(col(idCol),
        filter(split(lower(trim(col(textCol))), "\\s+"),
          x => length(x) > 0).as("__toks"))
      .join(islands, Seq(idCol), "left")
      .withColumn("__kept",
        filter(
          transform(col("__toks"),
            (t, i) => struct(t.as("t"), i.cast("long").as("p"))),
          tp => !exists(coalesce(col("__isl"), noIslands),
            isl => tp("p") >= isl("__s") && tp("p") < isl("__e"))))
      .select(col(idCol),
        array_join(transform(col("__kept"), tp => tp("t")), " ")
          .as("clean_text"),
        size(col("__kept")).cast("long").as("n_kept"),
        (size(col("__toks")) - size(col("__kept"))).cast("long")
          .as("n_removed"))
  }

  /** Survivorship merge (golden record) — one consolidated row per
    * cluster where EACH FIELD independently takes the value from the
    * highest-priority member that has it non-null (MDM "most recent /
    * most complete wins" rules): the field-level completion of
    * [[closePairs]] + keep-best, which can only pick whole rows. A
    * cluster whose best row lacks a field still fills it from a lesser
    * member — that is the point.
    *
    * Determinism: `priority` must be a total order over members (tie
    * column folded in by the caller); `max_by` with the NULL-masked
    * priority ignores members missing the field, identically in both
    * engines (`arg_max` NULL semantics). All-null fields stay NULL.
    *
    * Scale shape: ONE cluster-keyed partial aggregate — map-side
    * combine, no window, no per-cluster sort; a hot cluster costs only
    * its own max-tracking. */
  def goldenRecord(df: DataFrame, clusterCol: String,
                   priority: org.apache.spark.sql.Column,
                   fields: Seq[String]): DataFrame = {
    require(fields.nonEmpty, "fields must be non-empty")
    val aggs = count(lit(1)).as("n_members") +:
      fields.map(f =>
        max_by(col(f), when(col(f).isNotNull, priority)).as(f))
    df.groupBy(col(clusterCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** Content-defined-chunking storage-dedup audit — per group, how much
    * of the corpus is REDUNDANT at chunk granularity: texts are cut at
    * [[expressions.CdcChunkStarts]] boundaries (rolling md5 cut ≡ 0 mod
    * `modulus`, expected chunk ≈ modulus chars), chunks are keyed by
    * their 63-bit md5, and the report compares total vs distinct chunk
    * mass — the restic/borg dedup-ratio estimate, and the edit-stable
    * complement of [[dupSpans]] (a shifted copy re-aligns at the next
    * content cut instead of missing every fixed window).
    *
    * Scale shape: boundary detection is a scan-stage compiled
    * expression; the explode fan-out is chunks-per-doc (≈ len/modulus);
    * ONE (group, chunk-hash) partial aggregate — map-side combine
    * collapses repeats — then a groups-sized rollup. All counts exact
    * BIGINTs; the ratio is the single rounded double division. */
  def cdcDedupStats(docs: DataFrame, idCol: String, textCol: String,
                    groupCol: String, gramK: Int = 8,
                    modulus: Int = 64): DataFrame = {
    val ch = docs.where(length(col(textCol)) > 0)
      .select(col(groupCol).as("g"), col(textCol).as("__t"),
        length(col(textCol)).as("__len"),
        expressions.CdcChunkStarts(col(textCol), gramK, modulus)
          .as("__starts"))
      .select(col("g"), col("__t"), col("__len"), col("__starts"),
        posexplode(col("__starts")).as(Seq("__idx", "__s")))
      .select(col("g"),
        (coalesce(try_element_at(col("__starts"), col("__idx") + lit(2)),
          col("__len") + 1) - col("__s")).as("__clen"),
        col("__s"), col("__t"))
      .select(col("g"), col("__clen"),
        expressions.Md5Long(expr("substring(__t, __s, __clen)"))
          .bitwiseAND(lit(Long.MaxValue)).as("__h"))
    val cd = ch.groupBy(col("g"), col("__h"))
      .agg(count(lit(1)).as("__n"), min(col("__clen")).as("__cl"))
    cd.groupBy(col("g"))
      .agg(sum(col("__n")).as("n_chunks"),
        count(lit(1)).as("n_distinct"),
        sum(col("__n") * col("__cl")).as("total_chars"),
        sum(col("__cl")).as("distinct_chars"))
      .select(col("g"), col("n_chunks"), col("n_distinct"),
        col("total_chars"), col("distinct_chars"),
        round(lit(1.0) - col("distinct_chars").cast("double") /
          col("total_chars").cast("double"), 6).as("dedup_ratio"))
  }
}
