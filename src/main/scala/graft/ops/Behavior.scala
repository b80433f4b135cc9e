package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Per-entity behavioral feature vectors from an event stream — the
  * feature-engineering layer the funnel/retention/transition reports roll
  * up from: each entity gets a fixed-width activity profile (hour-of-day
  * histogram, activity entropy, night share) and an activity-trend slope,
  * ready to register as wide features and serve.
  *
  * Float discipline: histograms and OLS sums are exact BIGINTs; the
  * entropy terms are rounded 9 dp and pinned to DECIMAL before the exact
  * sum (the [[InfoTheory]] rule — here the per-entity sum has ≤ 24 terms
  * but the same order-independence argument applies); night share and the
  * OLS slope are each ONE rounded double division over exact integers.
  *
  * Scale shape: both features are single entity-keyed partial aggregates
  * — 24 conditional counters (profile) or 5 OLS accumulators (trend) per
  * entity, map-side combined; no window, no per-entity sort, so a hot
  * entity costs only its own additions. */
object Behavior {

  /** (entity, n_events, hour_counts[24], activity_entropy, night_frac);
    * night = hours 0-5. Entropy is over the hour distribution, nats. */
  def hourProfile(events: DataFrame, entityCol: String,
                  tsCol: String): DataFrame = {
    val h = hour(col(tsCol))
    val hourCounts = (0 until 24).map(k =>
      sum(when(h === k, 1L).otherwise(0L)).as(s"__h$k"))
    val aggs = count(lit(1)).as("n_events") +: hourCounts
    val agg = events.groupBy(col(entityCol)).agg(aggs.head, aggs.tail: _*)
    val n = col("n_events")
    val terms = (0 until 24).map { k =>
      val p = col(s"__h$k").cast("double") / n.cast("double")
      when(col(s"__h$k") === 0, lit(java.math.BigDecimal.ZERO)
          .cast("decimal(18,9)"))
        .otherwise(round(-p * log(p), 9).cast("decimal(18,9)"))
    }
    val night = (0 until 6).map(k => col(s"__h$k")).reduce(_ + _)
    // histogram rendered as a CSV string: full fidelity with scalar
    // cells, so any engine (and the row-hash gate) compares it directly
    agg.select(col(entityCol), col("n_events"),
      concat_ws(",", (0 until 24).map(k => col(s"__h$k").cast("string")): _*)
        .as("hour_counts_csv"),
      // each pairwise sum re-pinned to (18,9): a bare 24-term chain grows
      // precision past Spark's 38-digit cap, which silently DROPS the
      // scale to 6 (the decimal-overflow trap the OracleSql header
      // documents); the cast is lossless here (terms sum < 10⁹)
      terms.reduce((a, b) => (a + b).cast("decimal(18,9)"))
        .cast("double").as("activity_entropy"),
      round(night.cast("double") / n, 6).as("night_frac"))
  }

  /** (entity, n_days, slope): OLS slope of events-per-day over the day
    * index — the activity-velocity feature. NULL slope for single-day
    * entities (degenerate fit). All sums exact BIGINTs; the slope is one
    * rounded double division `(nΣxy − ΣxΣy) / (nΣx² − (Σx)²)`. */
  def activityTrend(events: DataFrame, entityCol: String,
                    tsCol: String): DataFrame = {
    val daily = events
      .groupBy(col(entityCol),
        datediff(date_trunc("day", col(tsCol)), lit("1970-01-01").cast("date"))
          .cast("long").as("__x"))
      .agg(count(lit(1)).as("__y"))
    daily.groupBy(col(entityCol))
      .agg(count(lit(1)).as("n_days"),
        sum(col("__x")).as("__sx"), sum(col("__y")).as("__sy"),
        sum(col("__x") * col("__y")).as("__sxy"),
        sum(col("__x") * col("__x")).as("__sxx"))
      .select(col(entityCol), col("n_days"),
        when(col("n_days") * col("__sxx") - col("__sx") * col("__sx") === 0,
          lit(null).cast("double"))
          .otherwise(round(
            (col("n_days") * col("__sxy") - col("__sx") * col("__sy"))
              .cast("double") /
              (col("n_days") * col("__sxx") - col("__sx") * col("__sx"))
                .cast("double"), 6)).as("slope"))
  }

  /** RFM customer segmentation — per entity: Recency (days since last
    * activity vs the table's own as-of date), Frequency (activity
    * count), Monetary (DECIMAL-exact amount sum), each scored into
    * `nBins` equal-count bins, plus the concatenated segment code
    * ("555" = recent/frequent/big-spender) — the classic CRM/feature
    * table beside [[hourProfile]].
    *
    * Bin rule (pinned for the oracle): rank entities under the total
    * order (metric, entity) and score `1 + ((rank−1)·nBins) div n` —
    * the [[graft.functions.Mix.curriculumBins]] integer-rank arithmetic,
    * no ntile, no float thresholds. Higher frequency/monetary ⇒ higher
    * score; recency is inverted (`nBins+1 − bin`) so MORE RECENT ⇒
    * HIGHER score. Recency days are integer date arithmetic on
    * truncated DATEs — no epoch-seconds rounding ambiguity.
    *
    * Scale shape: one entity-keyed partial aggregate (map-side combine
    * → entities-sized table), then three distributed range-exchange
    * ranks ([[Materialize.withDistributedRowNumber]] — no
    * single-partition window) over that SAME aggregate (identical
    * subtrees — AQE exchange reuse serves one aggregation to all three
    * ranks), re-joined on the entity key. Everything after the first
    * aggregate is entities-scale. */
  /** Day-of-week seasonal profile per group — the multiplicative
    * seasonality factors (Mon..Sun mean daily volume over the group's
    * overall mean daily volume) that a naive seasonal forecast divides
    * out before trend fitting ([[activityTrend]], [[Smooth.holt]]) and a
    * monitoring gate multiplies back in before alarming on "low
    * weekend traffic".
    *
    * dow is Spark `weekday` (0 = Monday .. 6 = Sunday) ≡ DuckDB
    * `isodow − 1` — pinned because the engines' default `dayofweek`
    * conventions differ. Means are one rounded double division over
    * exact BIGINT day counts/totals; the factor is ONE more rounded
    * division of the two pinned means. Days with zero events do not
    * produce rows, so means are over OBSERVED days (pinned semantics —
    * use [[graft.SparkEntry]]'s gap_fill spine upstream when zero days
    * must count).
    *
    * Scale shape: one (group, day) partial aggregate (map-side combine
    * collapses the event stream to group×days rows), a ≤ 7-rows-per-
    * group rollup, and the per-group totals broadcast back — nothing
    * beyond groups×7 after the first aggregate. */
  def seasonalDow(events: DataFrame, groupCol: String,
                  tsCol: String): DataFrame = {
    val daily = events
      .groupBy(col(groupCol), col(tsCol).cast("date").as("__d"))
      .agg(count(lit(1)).as("__cnt"))
    val byDow = daily
      .groupBy(col(groupCol), weekday(col("__d")).cast("long").as("dow"))
      .agg(count(lit(1)).as("n_days"), sum(col("__cnt")).as("total"))
    val overall = broadcast(daily.groupBy(col(groupCol))
      .agg(count(lit(1)).as("__gn"), sum(col("__cnt")).as("__gt")))
    byDow.join(overall, groupCol)
      .select(col(groupCol), col("dow"), col("n_days"), col("total"),
        round(col("total").cast("double") / col("n_days"), 6)
          .as("mean_cnt"),
        round(round(col("total").cast("double") / col("n_days"), 6) /
          round(col("__gt").cast("double") / col("__gn"), 6), 6)
          .as("factor"))
  }

  /** Exponential-decay recency features — per entity, event count and
    * value mass where an event aged `d` days (vs the table's own as-of
    * date) weighs `2^(−d/halfLife)`: the standard freshness-weighted
    * engagement feature that a plain count can't express (yesterday's
    * click ≫ last quarter's).
    *
    * Float discipline: ages are exact integer days on truncated DATEs
    * (the [[rfm]] rule); each weight `round(exp(−ln2·d/h), 9)` and each
    * weighted value `round(w·v, 9)` is pinned to DECIMAL(18,9) BEFORE
    * the per-entity sum — exact, order-independent totals, one rounded
    * double per output column. The 9-dp pin also absorbs any libm ulp
    * difference between engines' `exp`.
    *
    * Scale shape: one entity-keyed partial aggregate over the scan (the
    * weight is scan-stage arithmetic); the as-of date is a 1-row
    * broadcast. */
  def decayFeatures(df: DataFrame, entityCol: String, tsCol: String,
                    value: org.apache.spark.sql.Column,
                    halfLifeDays: Int): DataFrame = {
    require(halfLifeDays >= 1, s"halfLifeDays must be >= 1")
    val asOf = broadcast(df.agg(max(col(tsCol).cast("date")).as("__asof")))
    val aged = df.crossJoin(asOf)
      .select(col(entityCol),
        datediff(col("__asof"), col(tsCol).cast("date")).cast("long")
          .as("__d"),
        value.cast("decimal(18,2)").as("__v"))
    val w = round(exp(col("__d").cast("double") *
      (-math.log(2.0) / halfLifeDays)), 9).cast("decimal(18,9)")
    aged
      .select(col(entityCol), w.as("__w"),
        // weight × value stays in DECIMAL — a double product here sits on
        // 9-dp midpoints whenever the engines' exp differ by one ulp
        round(w * col("__v"), 6).cast("decimal(18,6)").as("__wv"))
      .groupBy(col(entityCol))
      .agg(count(lit(1)).as("n_events"),
        sum(col("__w")).cast("double").as("decayed_count"),
        sum(col("__wv")).cast("double").as("decayed_value"))
  }

  def rfm(df: DataFrame, entityCol: String, tsCol: String,
          amount: org.apache.spark.sql.Column, nBins: Int = 5): DataFrame = {
    require(nBins >= 2, s"nBins must be >= 2, got $nBins")
    val asOf = broadcast(df.agg(max(col(tsCol).cast("date")).as("__asof")))
    // persist: the entity aggregate feeds FIVE consumers (the count, the
    // three rank passes and the final join spine) — without the barrier
    // each re-ran the scan + groupBy (profiled: 31 jobs for this one
    // query). Entity-grain rows are small by construction.
    val base = df
      .groupBy(col(entityCol))
      .agg(max(col(tsCol).cast("date")).as("__last"),
        count(lit(1)).as("frequency"),
        sum(amount.cast("decimal(18,2)")).as("__m"))
      .crossJoin(asOf)
      .select(col(entityCol),
        datediff(col("__asof"), col("__last")).cast("long")
          .as("recency_days"),
        col("frequency"), col("__m"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = broadcast(base.agg(count(lit(1)).as("__n")))
    def score(metric: String, as: String) =
      Materialize.withDistributedRowNumber(
          base.select(col(entityCol), col(metric)),
          Seq(col(metric), col(entityCol)))
        .crossJoin(n)
        .select(col(entityCol),
          expr(s"1 + ((row_number - 1) * $nBins) div __n").as(as))
    // The three rank passes are independent, and each runs EAGER jobs at
    // construction (withDistributedRowNumber: range-partitioner sample +
    // zipWithIndex count) — overlap them (guide §2.6) instead of paying
    // three sequential multi-job passes. OPTIMIZATION_r15.md: the serialized
    // passes were ~3.2 s of a 4.7 s query. base is materialized first so
    // the forked passes read the cache instead of racing its first
    // compute.
    base.count()
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val fFut = Future(score("frequency", "f_score"))
    val mFut = Future(score("__m", "m_score"))
    // recency ranks ascending (most recent first) then inverts
    val rFut = Future(score("recency_days", "__rb")
      .select(col(entityCol), (lit(nBins + 1) - col("__rb")).as("r_score")))
    val fS = Await.result(fFut, Duration.Inf)
    val mS = Await.result(mFut, Duration.Inf)
    val rS = Await.result(rFut, Duration.Inf)
    base.join(rS, entityCol).join(fS, entityCol).join(mS, entityCol)
      .select(col(entityCol), col("recency_days"), col("frequency"),
        col("__m").cast("double").as("monetary"),
        col("r_score"), col("f_score"), col("m_score"),
        concat(col("r_score"), col("f_score"), col("m_score"))
          .as("segment"))
  }
}
