package graft.functions

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** BPE vocabulary TRAINING (Sennrich et al. 2016) — learns the merge table
  * [[graft.functions.expressions.BpeVocab]]-style tables come from, closing
  * the loop with [[TextFunctions.bpeTokenCount]] (application) and
  * `vocab_topk` (frequency vocabulary).
  *
  * Algorithm, exactly as published: words (lowercase whitespace tokens,
  * restricted to `[a-z]+` so the symbol alphabet is closed) start as
  * character sequences; each round counts adjacent symbol pairs weighted by
  * word frequency, picks the most frequent pair (ties: lexicographic — the
  * paper leaves this unspecified, we pin it for reproducibility), and
  * merges its non-overlapping occurrences left-to-right in every word.
  *
  * Scale design: the training corpus collapses to the DISTINCT-WORD
  * frequency table in one aggregation — at 100 TB that is ~10⁷-10⁸ rows
  * (vocabulary growth is sublinear in corpus size), and every round is one
  * column-pruned aggregation over it plus ONE collected row (the argmax —
  * the merge table IS the model and is metadata-sized by definition).
  * Words are carried with each symbol individually wrapped — `(a)(b)(c)`
  * — so a merge is a plain non-overlapping `replace(w, '(a)(b)', '(ab)')`:
  * adjacent merge sites never share characters (a `|`-separated encoding
  * WOULD share its boundary pipe, silently skipping every other site in a
  * run — probed in the spec). This keeps each round a scan-stage
  * projection and makes the whole loop replayable verbatim in the DuckDB
  * oracle (same single-source trick as the BpeCount application oracle).
  * Per-round `localCheckpoint` keeps round r from recomputing rounds
  * 0..r-1 AND truncates the logical plan (the pair-count query reads the
  * table twice, so un-truncated lineage doubles per round — the
  * closePairs exponential-plan lesson).
  *
  * Output: (merge_rank, lhs, rhs, pair_count) — rank 1 = first-learned.
  */
object BpeTrain {

  def train(docs: DataFrame, textCol: String, numMerges: Int): DataFrame = {
    require(numMerges > 0, "numMerges must be positive")
    val spark = docs.sparkSession
    val wf = graft.functions.Dedup.fanOut(docs.select(col(textCol)))
      .select(explode(split(lower(col(textCol)), "\\s+")).as("word"))
      .where(col("word").rlike("^[a-z]+$"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
    // localCheckpoint, not persist: the pair-count query references the
    // round's table TWICE (both zip_with slices), so without lineage
    // truncation the collapsed projection doubles per round — an
    // exponential plan string that OOMs explain/UI rendering near ~20
    // rounds (the closePairs lesson; measured here). Checkpoint makes
    // each round's plan a leaf.
    var words = wf
      .select(expr(
        "array_join(transform(split(word, ''), x -> concat('(', x, ')')), '')")
        .as("w"), col("freq"))
      .localCheckpoint()

    val merges = scala.collection.mutable.ArrayBuffer.empty[Row]
    var r = 1
    var exhausted = false
    while (r <= numMerges && !exhausted) {
      // adjacent-pair counts, weighted by word frequency; zip_with over the
      // symbol array and its shift (slice of length 0 → no pairs — safe for
      // single-symbol words, where sequence() would descend)
      val best = words
        .select(expr("split(substring(w, 2, length(w) - 2), '\\\\)\\\\(')")
          .as("sy"), col("freq"))
        .select(explode(zip_with(
          slice(col("sy"), lit(1), greatest(size(col("sy")) - 1, lit(0))),
          slice(col("sy"), lit(2), greatest(size(col("sy")) - 1, lit(0))),
          (a, b) => struct(a.as("lhs"), b.as("rhs")))).as("p"), col("freq"))
        .groupBy(col("p.lhs"), col("p.rhs"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("lhs").asc, col("rhs").asc)
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val (a, b, cnt) =
          (best.head.getString(0), best.head.getString(1), best.head.getLong(2))
        merges += Row(r.toLong, a, b, cnt)
        // non-overlapping left-to-right merge: explicit per-symbol wrappers
        words = words.select(
            expr(s"replace(w, '($a)($b)', '(${a}${b})')").as("w"), col("freq"))
          .localCheckpoint()
        r += 1
      }
    }
    spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters
        .SeqHasAsJava(merges.toSeq).asJava),
      StructType(Seq(
        StructField("merge_rank", LongType, nullable = false),
        StructField("lhs", StringType, nullable = false),
        StructField("rhs", StringType, nullable = false),
        StructField("pair_count", LongType, nullable = false))))
  }

  /** Batched BPE training — the scale path past [[train]]'s
    * one-Spark-job-per-merge ceiling (a realistic 32k-merge vocabulary
    * means 32k sequential jobs there). Per round, ONE aggregation yields
    * the top-`batch` candidate pairs in (count desc, lhs, rhs) order; a
    * greedy driver-side scan accepts every pair whose BOTH symbols are
    * unseen among earlier-accepted pairs of the round, and all accepted
    * merges apply in ONE chained-replace projection. Symbol-disjoint
    * merges touch disjoint occurrence sites, so their replaces commute
    * and none invalidates another's count — each accepted merge is
    * exactly the merge sequential BPE would pick at its turn UNLESS an
    * earlier same-round merge could have changed its count; the greedy
    * disjointness test excludes precisely those. (The standard fast-
    * trainer batching trade: a documented, deterministic variant of the
    * sequential order, not bit-identical to it.)
    *
    * Runs exactly `rounds` rounds (or until no pairs remain) — a fixed
    * round count keeps the DuckDB oracle statically generatable; each
    * round accepts ≥1 merge (the top pair is always accepted), typically
    * ~batch/2, so merges ≈ rounds × batch/2. Driver state per round is
    * the `batch`-row argmax slice — still metadata-sized.
    *
    * Output: (merge_rank, lhs, rhs, pair_count), rank in acceptance
    * order across rounds. */
  def trainBatched(docs: DataFrame, textCol: String, rounds: Int,
                   batch: Int = 64): DataFrame = {
    require(rounds > 0 && batch > 0, "rounds and batch must be positive")
    val spark = docs.sparkSession
    val wf = graft.functions.Dedup.fanOut(docs.select(col(textCol)))
      .select(explode(split(lower(col(textCol)), "\\s+")).as("word"))
      .where(col("word").rlike("^[a-z]+$"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
    // localCheckpoint per round for the same exponential-plan reason as
    // [[train]] (the pair-count query reads the table twice)
    var words = wf
      .select(expr(
        "array_join(transform(split(word, ''), x -> concat('(', x, ')')), '')")
        .as("w"), col("freq"))
      .localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer.empty[Row]
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      val top = words
        .select(expr("split(substring(w, 2, length(w) - 2), '\\\\)\\\\(')")
          .as("sy"), col("freq"))
        .select(explode(zip_with(
          slice(col("sy"), lit(1), greatest(size(col("sy")) - 1, lit(0))),
          slice(col("sy"), lit(2), greatest(size(col("sy")) - 1, lit(0))),
          (a, b) => struct(a.as("lhs"), b.as("rhs")))).as("p"), col("freq"))
        .groupBy(col("p.lhs"), col("p.rhs"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("lhs").asc, col("rhs").asc)
        .limit(batch).collect()
      if (top.isEmpty) exhausted = true
      else {
        val used = scala.collection.mutable.Set.empty[String]
        val accepted = top.toSeq.flatMap { row =>
          val (a, b) = (row.getString(0), row.getString(1))
          if (used(a) || used(b)) None
          else { used += a; used += b; Some((a, b, row.getLong(2))) }
        }
        accepted.foreach { case (a, b, cnt) =>
          merges += Row(merges.size + 1L, a, b, cnt)
        }
        // one projection applies the whole batch: disjoint symbols ⇒
        // disjoint sites ⇒ the replace chain is order-independent (pinned
        // to acceptance order anyway)
        val applied = accepted.foldLeft(col("w")) { case (acc, (a, b, _)) =>
          replace(acc, lit(s"($a)($b)"), lit(s"($a$b)"))
        }
        words = words.select(applied.as("w"), col("freq")).localCheckpoint()
        r += 1
      }
    }
    spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters
        .SeqHasAsJava(merges.toSeq).asJava),
      StructType(Seq(
        StructField("merge_rank", LongType, nullable = false),
        StructField("lhs", StringType, nullable = false),
        StructField("rhs", StringType, nullable = false),
        StructField("pair_count", LongType, nullable = false))))
  }

  /** PRODUCTION-SCALE exact BPE — the bounded-job-count path past both
    * [[train]] (one job per merge) and [[trainBatched]] (one job per
    * ~32 merges, and a documented variant of the sequential order, not
    * identical to it). The load-bearing observation: after ONE
    * aggregation the training state is the DISTINCT-WORD frequency table,
    * which is vocabulary-sized — sublinear in corpus size (a 100 TB web
    * corpus has ~10⁷-10⁸ distinct `[a-z]+` words, a few GB of (word,
    * freq) pairs) — so the entire merge closure can run driver-side with
    * incrementally-maintained pair counts, the same architecture every
    * production tokenizer trainer uses on top of a word-count pass.
    * Spark does what it's good at (the corpus-sized count); the driver
    * does what it's good at (10⁴ sequential argmax steps over in-memory
    * state). Total Spark jobs: ~3, independent of `numMerges`.
    *
    * EXACT sequential BPE: same argmax (count desc, lhs asc, rhs asc)
    * and same non-overlapping left-to-right merge as [[train]] — the two
    * agree merge-for-merge (spec-pinned), so [[train]]'s replay oracle
    * validates this path too.
    *
    * When the distinct-word table exceeds `driverWordLimit`, the
    * top-`driverWordLimit` words by (freq desc, word asc) train the
    * vocabulary and the dropped tail's weight fraction is logged — the
    * standard min-frequency truncation every tokenizer trainer applies,
    * made explicit. At the default 2M limit that tail is mass-negligible
    * on natural corpora (Zipf: rank-2M words are hapax-frequency). */
  def trainScaled(docs: DataFrame, textCol: String, numMerges: Int,
                  driverWordLimit: Int = 2000000): DataFrame = {
    require(numMerges > 0, "numMerges must be positive")
    require(driverWordLimit > 0, "driverWordLimit must be positive")
    val spark = docs.sparkSession
    val wf = graft.functions.Dedup.fanOut(docs.select(col(textCol)))
      .select(explode(split(lower(col(textCol)), "\\s+")).as("word"))
      .where(col("word").rlike("^[a-z]+$"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val kept = wf.orderBy(col("freq").desc, col("word").asc)
        .limit(driverWordLimit)
        .collect().map(r => (r.getString(0), r.getLong(1)))
      val totals = wf.agg(count(lit(1)).as("n"),
        coalesce(sum(col("freq")), lit(0L)).as("f")).head()
      if (totals.getLong(0) > kept.length) {
        val keptMass = kept.iterator.map(_._2).sum.toDouble
        logScaled.warn(f"trainScaled: vocabulary ${totals.getLong(0)} > " +
          f"limit $driverWordLimit; training on top-$driverWordLimit words " +
          f"covering ${keptMass / totals.getLong(1)}%.4f of token mass")
      }
      val merges = exactBpeClosure(kept, numMerges)
      spark.createDataFrame(
        new java.util.ArrayList[Row](scala.jdk.CollectionConverters
          .SeqHasAsJava(merges.zipWithIndex.map { case ((a, b, c), i) =>
            Row(i + 1L, a, b, c)
          }).asJava),
        StructType(Seq(
          StructField("merge_rank", LongType, nullable = false),
          StructField("lhs", StringType, nullable = false),
          StructField("rhs", StringType, nullable = false),
          StructField("pair_count", LongType, nullable = false))))
    } finally wf.unpersist()
  }

  private lazy val logScaled =
    org.slf4j.LoggerFactory.getLogger("graft.BpeTrain")

  /** In-memory exact BPE over a (word, freq) table: priority queue with
    * lazy deletion over incrementally-maintained pair counts; a pair →
    * containing-words index bounds each merge step to the words it
    * actually touches. Semantics identical to [[train]]'s per-round
    * Spark replay (argmax tie-break and left-to-right non-overlapping
    * merge), verified merge-for-merge in BpeTrainSpec. */
  private[graft] def exactBpeClosure(wordFreqs: Array[(String, Long)],
                                     numMerges: Int): Seq[(String, String, Long)] = {
    import scala.collection.mutable
    val syms = wordFreqs.map { case (w, _) =>
      mutable.ArrayBuffer.from(w.map(_.toString)) }
    val freqs = wordFreqs.map(_._2)
    val pairCount = mutable.HashMap.empty[(String, String), Long]
    val pairWords = mutable.HashMap.empty[(String, String), mutable.Set[Int]]
    def addPair(p: (String, String), wi: Int, f: Long): Unit = {
      pairCount.updateWith(p) { c => Some(c.getOrElse(0L) + f) }
      pairWords.getOrElseUpdate(p, mutable.Set.empty) += wi
    }
    for (wi <- syms.indices; i <- 0 until syms(wi).length - 1)
      addPair((syms(wi)(i), syms(wi)(i + 1)), wi, freqs(wi))
    // max-heap: count desc, then lexicographically SMALLEST (lhs, rhs)
    // wins — Ordering reversed on the strings so the min-lex pair is max
    implicit val ord: Ordering[(Long, String, String)] =
      Ordering.by[(Long, String, String), (Long, String, String)] {
        case (c, a, b) => (c, a, b)
      }(Ordering.Tuple3(Ordering.Long, Ordering.String.reverse,
        Ordering.String.reverse))
    val pq = mutable.PriorityQueue.empty[(Long, String, String)]
    pairCount.foreach { case ((a, b), c) => pq.enqueue((c, a, b)) }
    val out = mutable.ArrayBuffer.empty[(String, String, Long)]
    var done = false
    while (out.length < numMerges && !done) {
      // lazy deletion: drop stale heap entries (count changed since push)
      var best: Option[(Long, String, String)] = None
      while (best.isEmpty && pq.nonEmpty) {
        val e = pq.dequeue()
        if (pairCount.getOrElse((e._2, e._3), 0L) == e._1) best = Some(e)
      }
      best match {
        case None => done = true
        case Some((cnt, a, b)) =>
          out += ((a, b, cnt))
          val merged = a + b
          val touched = pairWords.getOrElse((a, b), mutable.Set.empty)
          val changed = mutable.Set.empty[(String, String)]
          for (wi <- touched) {
            val s = syms(wi); val f = freqs(wi)
            // old adjacent-pair multiset of this word
            val oldPairs = (0 until s.length - 1).map(i => (s(i), s(i + 1)))
            // left-to-right non-overlapping merge (replace() semantics:
            // a consumed site is not re-examined within the pass)
            val ns = mutable.ArrayBuffer.empty[String]
            var i = 0
            while (i < s.length) {
              if (i < s.length - 1 && s(i) == a && s(i + 1) == b) {
                ns += merged; i += 2
              } else { ns += s(i); i += 1 }
            }
            syms(wi) = ns
            val newPairs = (0 until ns.length - 1).map(i => (ns(i), ns(i + 1)))
            oldPairs.foreach { p =>
              pairCount.updateWith(p)(c => c.map(_ - f)); changed += p
            }
            newPairs.foreach { p => addPair(p, wi, f); changed += p }
          }
          changed.foreach { p =>
            val c = pairCount.getOrElse(p, 0L)
            if (c <= 0L) { pairCount.remove(p); pairWords.remove(p) }
            else pq.enqueue((c, p._1, p._2))
          }
          // the merged pair itself is exhausted
          pairCount.remove((a, b)); pairWords.remove((a, b))
      }
    }
    out.toSeq
  }

  /** Tokenizer-faithful ENCODE with a learned merge table — the apply half
    * of the train → encode loop (what a training-data pipeline actually
    * ships to the trainer). Every document's words are wrapped
    * `(a)(b)(c)`-style and the merges replayed IN RANK ORDER as the same
    * non-overlapping left-to-right `replace` the trainer used, so
    * segmentations match training exactly. Words outside `[a-z]+` (the
    * closed training alphabet) pass through as single OOV symbols.
    *
    * Output per document: the BPE token count and an md5 digest of the
    * space-joined segmentations in word order — compact, order-pinned
    * evidence of the exact segmentation, replayable in the oracle.
    *
    * Scale: merges are a metadata-sized broadcast (literals in the plan);
    * each DISTINCT word is segmented ONCE (the vocabulary is sublinear in
    * corpus size — the same collapse `train` rides) and the (word → seg)
    * table broadcast back over the word-instance stream, so the per-merge
    * replace chain runs vocabulary-many times, not token-many; the only
    * corpus-sized work is the explode and one (doc, position)-light
    * aggregation back to documents. */
  def encodeDigest(docs: DataFrame, idCol: String, textCol: String,
                   merges: Seq[(String, String)]): DataFrame = {
    val words = graft.functions.Dedup.fanOut(
        docs.select(col(idCol), col(textCol)))
      .select(col(idCol),
        posexplode(split(lower(trim(col(textCol))), "\\s+")).as(Seq("__p", "__w")))
      .where(length(col("__w")) > 0)
    val wrapped0 = when(col("__w").rlike("^[a-z]+$"),
        expr("array_join(transform(split(__w, ''), x -> concat('(', x, ')')), '')"))
      .otherwise(concat(lit("("), col("__w"), lit(")")))
    val seg = merges.foldLeft(wrapped0) { case (acc, (l, r)) =>
      replace(acc, lit(s"($l)($r)"), lit(s"($l$r)"))
    }
    val nTok = ((length(col("__seg")) -
      length(replace(col("__seg"), lit(")("), lit("")))) / 2 + 1).cast("long")
    val segTable = words.select(col("__w")).distinct()
      .withColumn("__seg", seg).withColumn("__nt", nTok)
    words.join(broadcast(segTable), "__w")
      .groupBy(col(idCol))
      .agg(
        sum(col("__nt")).as("n_bpe_tokens"),
        md5(array_join(transform(
          array_sort(collect_list(struct(col("__p"), col("__seg")))),
          s => s.getField("__seg")), " ")).as("seg_digest"))
  }
}
