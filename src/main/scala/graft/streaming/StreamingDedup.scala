package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** STREAMING near-duplicate detection — the ingest-time twin of the batch
  * [[graft.functions.Dedup.simhashNearDupsBounded]] family: documents
  * arrive on a stream and each one is checked against everything already
  * seen, emitting `(idA, idB, hamming)` pairs the moment the duplicate
  * lands (the reference's streaming ComputationMode, metadata.proto:
  * 228-232, applied to the dedup surface the way a crawl pipeline runs
  * Manku et al.'s simhash table online).
  *
  * Construction: 64-bit SimHash per document (the same codegen'd
  * [[graft.functions.Dedup.simhash64]] expression as the batch path),
  * exploded into the four 16-bit quarter bands. By pigeonhole, any pair
  * within Hamming ≤ 3 agrees on at least one untouched quarter, so
  * per-band stateful matching has FULL recall at the ≤ 3 threshold —
  * the streamed pair set (distinct, canonical `idA < idB`) equals the
  * batch all-pairs answer exactly, which is what the oracle checks.
  *
  * State: one group per (band, 16-bit value) bucket via
  * `flatMapGroupsWithState`, holding the (doc_id, simhash) list of bucket
  * members. Each arriving document compares against the bucket's members
  * (within-batch arrivals included), emits matches, joins the bucket.
  * Scale: state is partitioned by bucket key — the same layout the batch
  * band join shuffles to — and `maxPerBucket` caps any hot bucket
  * (boilerplate-heavy crawls) exactly like the batch `maxBandFreq`
  * guard: arrivals into a FULL bucket are dropped entirely (counted in
  * [[lastDropsAcc]]), bounding per-bucket lifetime work at C(cap, 2).
  *
  * Eviction: two modes. [[dupPairsStream]] runs full-history
  * (`NoTimeout` — dup detection against everything ever seen; state
  * grows with the corpus, bounded only by the bucket cap), while
  * [[dupPairsStreamTtl]] is the recent-window mode a 100 TB ingest
  * needs: a pair only counts when the two docs' EVENT times are within
  * `ttl`, members older than `watermark − ttl` are pruned on every
  * bucket visit (they can never match a non-late future arrival), and
  * an idle bucket's whole state is garbage-collected by an event-time
  * timeout once the watermark passes its newest member + ttl — so
  * steady-state state size is (arrival rate × ttl), not corpus size.
  * The gate query runs full-history; StreamingDedupSpec proves the TTL
  * mode's expiry (expired members stop matching, idle state removed)
  * and StateStoreBench measures the bounded-state envelope. */
object StreamingDedup {

  case class BandedDoc(band: Int, key: Long, docId: Long, sig: Long)
  case class DupPair(idA: Long, idB: Long, hamming: Int)
  case class BucketState(members: List[(Long, Long)], dropped: Long)
  case class BandedDocTs(band: Int, key: Long, docId: Long, sig: Long,
                         ts: java.sql.Timestamp)
  /** TTL-mode bucket state: (docId, sig, eventTimeMs) members. */
  case class TtlBucketState(members: List[(Long, Long, Long)], dropped: Long)

  /** Accumulator behind the LAST [[dupPairsStream]] call's bucket-cap
    * drops — read `.value` DRIVER-side after the stream completes
    * (observability twin of the batch capStats). */
  @volatile var lastDropsAcc: org.apache.spark.util.LongAccumulator = _

  /** Explode a (idCol, textCol) frame — batch or streaming — into quarter-
    * band rows keyed for the stateful matcher. */
  def bandedDocs(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val sig = graft.functions.Dedup.simhash64(col(textCol))
    docs.select(col(idCol).cast("long").as("docId"), sig.as("sig"))
      .select(col("docId"), col("sig"),
        explode(graft.functions.Dedup.quarterBands(col("sig"))).as("bk"))
      .select(col("bk.band").as("band"), col("bk.key").as("key"),
        col("docId"), col("sig"))
  }

  /** [[bandedDocs]] carrying the event-time column through for the TTL
    * matcher (`ts` must be watermarked by the caller before
    * [[dupPairsStreamTtl]] — the watermark drives member pruning and
    * bucket garbage collection). */
  def bandedDocsTs(docs: DataFrame, textCol: String, idCol: String,
                   tsCol: String): DataFrame = {
    val sig = graft.functions.Dedup.simhash64(col(textCol))
    docs.select(col(idCol).cast("long").as("docId"), sig.as("sig"),
        col(tsCol).cast("timestamp").as("ts"))
      .select(col("docId"), col("sig"), col("ts"),
        explode(graft.functions.Dedup.quarterBands(col("sig"))).as("bk"))
      .select(col("bk.band").as("band"), col("bk.key").as("key"),
        col("docId"), col("sig"), col("ts"))
  }

  /** Recent-window stateful matcher — the state-LIFECYCLE twin of
    * [[dupPairsStream]]: a match requires the two docs' event times
    * within `ttlMs` of each other (exact, evaluated per pair), and the
    * watermark bounds state:
    *
    *  - on every bucket visit, members with `ts < watermark − ttlMs` are
    *    pruned — any future non-late arrival has `ts ≥ watermark`, so a
    *    pruned member could only have matched data later than the
    *    watermark allows;
    *  - each update arms an event-time timeout at newest-member + ttl;
    *    when the watermark passes it with no new arrivals, the WHOLE
    *    bucket state is removed (idle-bucket GC).
    *
    * So with in-watermark data the emitted pair set is exactly the batch
    * all-pairs answer filtered to `|tsA − tsB| ≤ ttlMs` (distinct across
    * bands, as ever), while state holds only ~(arrival rate × ttl) rows
    * regardless of how long the stream runs. `banded` must come from
    * [[bandedDocsTs]] with `withWatermark("ts", …)` applied. */
  def dupPairsStreamTtl(spark: SparkSession, banded: DataFrame,
                        ttlMs: Long, maxHamming: Int = 3,
                        maxPerBucket: Int = 2000): Dataset[DupPair] = {
    import spark.implicits._
    require(ttlMs > 0, "ttlMs > 0")
    val drops = spark.sparkContext.longAccumulator("streamingDedupDrops")
    lastDropsAcc = drops
    banded.as[BandedDocTs]
      .groupByKey(r => (r.band, r.key))
      .flatMapGroupsWithState[TtlBucketState, DupPair](
        OutputMode.Update, GroupStateTimeout.EventTimeTimeout) {
        (_: (Int, Long), rows: Iterator[BandedDocTs],
         state: GroupState[TtlBucketState]) =>
          if (state.hasTimedOut) { // idle bucket: watermark passed
            state.remove()        // newest member + ttl → GC everything
            Iterator.empty
          } else {
            val wm = state.getCurrentWatermarkMs()
            var st = state.getOption.getOrElse(TtlBucketState(Nil, 0L))
            if (wm > 0) // prune members no non-late arrival can match
              st = st.copy(members = st.members.filter(_._3 >= wm - ttlMs))
            val out = scala.collection.mutable.ArrayBuffer.empty[DupPair]
            rows.foreach { r =>
              val tsMs = r.ts.getTime
              if (st.members.length >= maxPerBucket) {
                drops.add(1L)
                st = st.copy(dropped = st.dropped + 1L)
              } else {
                st.members.foreach { case (otherId, otherSig, otherTs) =>
                  if (otherId != r.docId &&
                      math.abs(tsMs - otherTs) <= ttlMs) {
                    val d = java.lang.Long.bitCount(r.sig ^ otherSig)
                    if (d <= maxHamming)
                      out += DupPair(math.min(r.docId, otherId),
                        math.max(r.docId, otherId), d)
                  }
                }
                st = st.copy(members = (r.docId, r.sig, tsMs) :: st.members)
              }
            }
            if (st.members.isEmpty && st.dropped == 0L) state.remove()
            else {
              state.update(st)
              val newest =
                if (st.members.isEmpty) wm else st.members.map(_._3).max
              // must be strictly past the current watermark or Spark
              // rejects the timestamp; an already-expired bucket gets the
              // next possible tick and GCs on the following batch
              state.setTimeoutTimestamp(math.max(newest + ttlMs, wm + 1L))
            }
            out.iterator
          }
      }
  }

  /** Stateful per-bucket matcher: emits one [[DupPair]] per (band-local)
    * match with Hamming ≤ `maxHamming`; distinct-ing across bands is the
    * reader's one-line job (a pair can match in up to 4 bands). */
  def dupPairsStream(spark: SparkSession, banded: DataFrame,
                     maxHamming: Int = 3,
                     maxPerBucket: Int = 2000): Dataset[DupPair] = {
    import spark.implicits._
    val drops = spark.sparkContext.longAccumulator("streamingDedupDrops")
    lastDropsAcc = drops
    banded.as[BandedDoc]
      .groupByKey(r => (r.band, r.key))
      .flatMapGroupsWithState[BucketState, DupPair](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (_: (Int, Long), rows: Iterator[BandedDoc], state: GroupState[BucketState]) =>
          var st = state.getOption.getOrElse(BucketState(Nil, 0L))
          val out = scala.collection.mutable.ArrayBuffer.empty[DupPair]
          rows.foreach { r =>
            // FULL bucket = known-hot key (boilerplate): arrivals are
            // dropped entirely — no matching, no joining — mirroring the
            // batch maxBandFreq guard's "hot keys emit no candidates"
            // rule and bounding per-bucket work at C(cap, 2) forever
            if (st.members.length >= maxPerBucket) {
              drops.add(1L)
              st = st.copy(dropped = st.dropped + 1L)
            } else {
              st.members.foreach { case (otherId, otherSig) =>
                if (otherId != r.docId) {
                  val d = java.lang.Long.bitCount(r.sig ^ otherSig)
                  if (d <= maxHamming)
                    out += DupPair(math.min(r.docId, otherId),
                      math.max(r.docId, otherId), d)
                }
              }
              st = st.copy(members = (r.docId, r.sig) :: st.members)
            }
          }
          state.update(st)
          out.iterator
      }
  }

  /** Streaming EXACT dedup: parquet files streamed through one running
    * fingerprint → keeper aggregation — groupBy(md5 of normalized text)
    * keeping the MINIMUM id plus the copy count. Deterministic regardless
    * of file/micro-batch arrival order (unlike `dropDuplicates`' keep-
    * whichever-arrived-first), so the streamed answer equals the batch
    * exact-dedup rule and a SQL oracle can replay it. Complete-mode
    * memory sink: the keeper table is digest-scale (one row per DISTINCT
    * document). At 100 TB the streaming state is one (16-byte digest,
    * long, long) entry per distinct doc — the same digest-keyed shuffle
    * the batch [[graft.functions.Dedup.exact]] pays, held as state; the
    * memory sink is the bounded-gate convenience, a real deployment
    * writes the keepers to a sink table. */
  def exactKeepersFileStream(spark: SparkSession, input: StreamRun.Input,
                             maxFilesPerTrigger: Int = 4,
                             idCol: String = "doc_id",
                             textCol: String = "text"): DataFrame =
    StreamRun.replay(spark, "stream_exact", Seq(input), maxFilesPerTrigger,
        outputMode = "complete") { streams =>
      streams.head
        .select(graft.functions.TextFunctions.fingerprintMd5(col(textCol)).as("fp"),
          col(idCol))
        .groupBy(col("fp"))
        .agg(min(col(idCol)).as(idCol), count(lit(1)).as("copies"))
    }

  /** End-to-end convenience for the gate and tests: stream the docs
    * through a file source, run the matcher to completion, return the
    * DISTINCT canonical pair table — by the pigeonhole guarantee, equal
    * to batch all-pairs Hamming ≤ `maxHamming`. */
  def runFileStream(spark: SparkSession, input: StreamRun.Input, maxHamming: Int = 3,
                    maxPerBucket: Int = 2000,
                    maxFilesPerTrigger: Int = 4,
                    idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame =
    distinctPairs(StreamRun.replay(spark, "stream_dedup", Seq(input),
        maxFilesPerTrigger, outputMode = "update") { streams =>
      dupPairsStream(spark, bandedDocs(streams.head, textCol, idCol),
        maxHamming, maxPerBucket).toDF()
    })

  /** [[runFileStream]]'s TTL twin: (idCol, tsCol, textCol) parquet files
    * streamed through [[dupPairsStreamTtl]] with watermark `delay`;
    * returns the distinct canonical pair table — for in-watermark data,
    * batch all-pairs Hamming ≤ `maxHamming` restricted to
    * `|tsA − tsB| ≤ ttlMs`. */
  def runFileStreamTtl(spark: SparkSession, input: StreamRun.Input, ttlMs: Long,
                       delay: String = "0 seconds", maxHamming: Int = 3,
                       maxPerBucket: Int = 2000,
                       maxFilesPerTrigger: Int = 4,
                       idCol: String = "doc_id",
                       tsCol: String = "ts",
                       textCol: String = "text"): DataFrame =
    distinctPairs(StreamRun.replay(spark, "stream_dedup_ttl", Seq(input),
        maxFilesPerTrigger, outputMode = "update") { streams =>
      dupPairsStreamTtl(spark,
        bandedDocsTs(streams.head, textCol, idCol, tsCol).withWatermark("ts", delay),
        ttlMs, maxHamming, maxPerBucket).toDF()
    })

  private def distinctPairs(pairs: DataFrame): DataFrame =
    pairs.select(col("idA"), col("idB"), col("hamming").cast("long").as("hamming"))
      .distinct()
}
