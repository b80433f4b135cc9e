package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data selection by importance resampling (DSIR — Xie et al. 2023,
  * "Data Selection for Language Models via Importance Resampling"): score
  * every corpus document by how much more likely its hashed-n-gram bag is
  * under a target distribution (the data you want more of) than under the
  * raw corpus distribution. Documents are then sampled ∝ exp(weight) — the
  * weight column is the operator's output; sampling composes with
  * [[Sampling]].
  *
  * Features are md5-hashed word uni+bigrams folded into `buckets` buckets
  * (the paper's hashed generative model); both distributions get add-1
  * smoothing, and a document's log-importance is
  * Σ_b c_b · (ln p̂_target[b] − ln q̂_raw[b]) over its bucket counts c_b.
  *
  * Scale design: grams explode in the scan stage (single-walk
  * [[expressions.WordNgrams]]); the only corpus-size shuffle is the
  * (doc, bucket) partial-agg count — everything downstream is
  * buckets-bounded: the raw distribution re-aggregates those counts to B
  * rows, the target side is the (small) target corpus aggregated to ≤ B
  * rows, and the per-bucket log-ratio table broadcasts back onto the doc
  * counts.
  *
  * Float discipline (oracle-exact): every count is integer; the ONLY
  * doubles are the two `ln` calls per bucket, immediately rounded to 9 dp
  * and fixed as DECIMAL — the per-document weight is then an exact
  * DECIMAL dot product (order-independent, any engine), surfaced as
  * round(double, 6).
  */
object Importance {

  /** Word uni+bigrams of the TOKS_LOWER normalization (the corpus-wide
    * tokenization contract shared with [[UnigramLM]]/[[Decontam]]). */
  private def grams(text: Column): Column = concat(
    expressions.NgramExprs.wordNgrams(lower(trim(text)), 1),
    expressions.NgramExprs.wordNgrams(lower(trim(text)), 2))

  /** md5-folded feature bucket (≡ DuckDB
    * `md5_number_lower(g) % 2^63 % buckets`). */
  private def bucketOf(g: Column, buckets: Int): Column =
    (expressions.Md5Long(g).bitwiseAND(lit(Long.MaxValue)) % buckets)
      .cast("int")

  /** (idCol, n_grams, dsir_weight) for every corpus document. `target`
    * needs only `textCol`; it is typically a filtered slice of the corpus
    * or a separate reference set. */
  def dsirWeights(corpus: DataFrame, target: DataFrame, textCol: String,
                  idCol: String, buckets: Int = 4096): DataFrame = {
    require(buckets > 0, "buckets must be positive")
    val b = lit(buckets)

    // barriers: docBkt feeds the raw distribution AND the final dot product,
    // raw feeds the ratio table AND its own total, tgt likewise — without
    // them every consumer re-derives its input from the parquet scan (plan
    // showed 10 corpus scans; with the barriers the corpus is read once,
    // the target once). docBkt is the one corpus-order table — persist is
    // MEMORY_AND_DISK; prefer checkpoint at cluster scale (Dedup.barrier
    // note).
    // fanOut (guide §2, the dedup-family scan-parallelism floor): the
    // gram explode + md5 bucket hash is the query's CPU stage and ran as
    // ONE scan task on the single-file sf corpus (OPTIMIZATION_r15.md: a 1-task
    // ~470 ms stage on local[32]); a no-op once the input has >= cores/2
    // natural splits.
    val docBkt = Dedup.barrier(
      Dedup.fanOut(corpus.select(col(idCol), col(textCol)))
      .select(col(idCol), explode(grams(col(textCol))).as("__g"))
      .select(col(idCol), bucketOf(col("__g"), buckets).as("__b"))
      .groupBy(col(idCol), col("__b"))
      .agg(count(lit(1)).as("__c")), checkpoint = false)

    val raw = Dedup.barrier(
      docBkt.groupBy(col("__b")).agg(sum(col("__c")).as("__r")),
      checkpoint = false)
    val tgt = Dedup.barrier(
      Dedup.fanOut(target.select(col(textCol)))
      .select(explode(grams(col(textCol))).as("__g"))
      .select(bucketOf(col("__g"), buckets).as("__b"))
      .groupBy(col("__b")).agg(count(lit(1)).as("__t")), checkpoint = false)

    // distribution totals as literals: single-row aggregates over the
    // already-cached bucket tables (metadata-scale collect, the IVF-centroid
    // pattern) — cheaper than two broadcast cross-joins per λ row
    val rtot = Option(raw.agg(sum(col("__r"))).head.get(0))
      .map(_.asInstanceOf[Long]).getOrElse(0L) // empty corpus → 0, not NPE
    val ttot = Option(tgt.agg(sum(col("__t"))).head.get(0))
      .map(_.asInstanceOf[Long]).getOrElse(0L)

    // per-bucket log ratio λ_b, pinned to 9 dp DECIMAL so the downstream
    // dot product is exact integer·decimal arithmetic in any engine.
    // Buckets outside the corpus never matter (c_b = 0), so raw LEFT JOIN
    // target covers the support.
    val lam = raw
      .join(tgt, Seq("__b"), "left")
      .select(col("__b"),
        round(
          log((coalesce(col("__t"), lit(0L)) + lit(1.0)) /
              (lit(ttot) + b)) -
            log((col("__r") + lit(1.0)) / (lit(rtot) + b)),
          9).cast("decimal(18,9)").as("__lam"))

    docBkt
      .join(broadcast(lam), Seq("__b"))
      .groupBy(col(idCol))
      .agg(sum(col("__c")).as("n_grams"),
        // round in EXACT decimal space (HALF_UP in both engines), only then
        // surface as double — rounding via double would let a 9-dp midpoint
        // fall on either side of the 6th decimal depending on the engine.
        // Operand precisions are pinned so the product stays within 38
        // digits at scale 9: a long × decimal(28,9) product overflows
        // Spark's cap and silently drops the scale to 6.
        round(sum(col("__c").cast("decimal(12,0)") * col("__lam")), 6)
          .cast("double").as("dsir_weight"))
  }
}
