package graft.plans

import graft.SparkSpec
import graft.functions.{TextFunctions => TF}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class TextStatsOncePerRowSpec extends SparkSpec {

  private def gated(extra: DataFrame => DataFrame = identity): DataFrame = {
    val st = TF.textStats(col("text"))
    extra(spark.read.parquet(s"$sf001/documents.parquet"))
      .where(TF.qualityScoreFrom(st) >= 0.5 && TF.langIdFrom(st) === "en")
      .select(col("doc_id"))
  }

  // the session is shared across suites: restore whatever strategies
  // another suite installed instead of clearing them
  private def withStrategy[A](body: => A): A = {
    val ex = spark.experimental
    val before = ex.extraStrategies
    ex.extraStrategies = Seq(TextStatsOncePerRow)
    try body finally ex.extraStrategies = before
  }

  private def countTextStats(df: DataFrame): Int =
    "text_stats".r.findAllIn(
      df.queryExecution.executedPlan.toString).length

  test("splits repeated-TextStats filters into one walk per row") {
    val plain = gated().collect().map(_.getLong(0)).toSet
    assert(plain.nonEmpty)
    val (rewritten, planHits) = withStrategy {
      val df = gated()
      (df.collect().map(_.getLong(0)).toSet, countTextStats(df))
    }
    assert(rewritten == plain) // bit-identical results
    // one TextStats evaluation in the projection, zero in the filter
    assert(planHits == 1, s"expected 1 text_stats in plan, got $planHits")
    assert(countTextStats(gated()) >= 2) // default planning keeps the copies
  }

  test("non-TextStats conjuncts still reach the parquet scan pushdown") {
    withStrategy {
      val plan = gated(_.where(col("doc_id") > 100L))
        .queryExecution.executedPlan.toString
      assert(plan.contains("PushedFilters") && plan.contains("GreaterThan(doc_id,100"),
        s"doc_id pushdown lost:\n$plan")
    }
  }

  test("single-use TextStats filters are left to default planning") {
    // analyzed conditions (unanalyzed Columns wrap expressions in
    // ColumnNodes that collect() can't see through)
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter}
    def filterCond(df: DataFrame) =
      df.queryExecution.optimizedPlan.collectFirst {
        case LFilter(c, _) => c
      }.get
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    val st = TF.textStats(col("text"))
    val single = filterCond(docs.where(st.getField("n_tokens") > 10))
    assert(!TextStatsOncePerRow.wouldRewrite(single))
    val repeated = filterCond(docs.where(
      TF.qualityScoreFrom(st) >= 0.5 && TF.langIdFrom(st) === "en"))
    assert(TextStatsOncePerRow.wouldRewrite(repeated))
  }

  test("GraftExtensions wires the strategy and the SQL function surface") {
    // applies cleanly (the config path is exercised by Verify/Bench JVMs)
    new graft.GraftExtensions().apply(
      new org.apache.spark.sql.SparkSessionExtensions)
    assert(graft.functions.Registry.builders.map(_._1.funcName) ==
      Seq("minhash_sig", "simhash64", "kgram_jaccard", "fvec_dot",
        "jaro_winkler", "word_ngrams", "md5_hll", "kgram_containment",
        "hll_union_est"))
  }

  test("AsOfMergeStrategy.setup is idempotent: one entry after two calls") {
    val ex = spark.experimental
    val before = ex.extraStrategies
    ex.extraStrategies = before.filterNot(_ == AsOfMergeStrategy)
    try {
      AsOfMergeStrategy.setup(spark)
      AsOfMergeStrategy.setup(spark)
      assert(ex.extraStrategies.count(_ == AsOfMergeStrategy) == 1)
    } finally ex.extraStrategies = before
  }
}
