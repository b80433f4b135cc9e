package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import graft.functions.expressions.{FloatVectorDot, HllUnionEst, JaroWinkler, KgramContainment, KgramJaccard, Md5Hll, MinHashSig, SimHash64, WordNgrams}

/** SQL registration of the engine's custom expressions, so SQL
  * transformations (T1) can call them alongside the built-in library —
  * the reference's "full engine SQL surface" contract extended with our
  * additions (SURVEY.md §2.10).
  *
  * [[builders]] is the ONE function table: [[registerAll]] installs it on
  * a live session, and [[graft.GraftExtensions]] injects the same entries
  * into sessions configured with the extension.
  *
  * Usage in SQL after `Registry.registerAll(spark)`:
  * {{{
  *   SELECT minhash_sig(text, 5, 64), simhash64(tokens),
  *          kgram_jaccard(a, b, 5), fvec_dot(v1, v2) ...
  * }}}
  */
object Registry {

  type Builder = (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  private def intLit(e: Expression): Int = e match {
    case Literal(v: Int, _) => v
    case other =>
      throw new IllegalArgumentException(s"expected integer literal, got $other")
  }

  private def fn(name: String, cls: Class[_], arity: Int, usage: String)(
      build: Seq[Expression] => Expression): Builder =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name),
      (exprs: Seq[Expression]) => {
        require(exprs.length == arity, usage)
        build(exprs)
      })

  val builders: Seq[Builder] = Seq(
    fn("minhash_sig", classOf[MinHashSig], 3,
      "minhash_sig(text, shingleK, numHashes)") { e =>
      MinHashSig(e.head, intLit(e(1)), intLit(e(2))) },
    fn("simhash64", classOf[SimHash64], 1, "simhash64(array<string>)") { e =>
      SimHash64(e.head) },
    fn("kgram_jaccard", classOf[KgramJaccard], 3,
      "kgram_jaccard(a, b, shingleK)") { e =>
      KgramJaccard(e.head, e(1), intLit(e(2))) },
    fn("fvec_dot", classOf[FloatVectorDot], 2, "fvec_dot(a, b)") { e =>
      FloatVectorDot(e.head, e(1)) },
    fn("jaro_winkler", classOf[JaroWinkler], 2, "jaro_winkler(a, b)") { e =>
      JaroWinkler(e.head, e(1)) },
    fn("word_ngrams", classOf[WordNgrams], 2, "word_ngrams(text, n)") { e =>
      WordNgrams(e.head, intLit(e(1))) },
    fn("md5_hll", classOf[Md5Hll], 1, "md5_hll(string_col)") { e =>
      Md5Hll(e.head).toAggregateExpression() },
    fn("kgram_containment", classOf[KgramContainment], 3,
      "kgram_containment(a, b, shingleK)") { e =>
      KgramContainment(e.head, e(1), intLit(e(2))) },
    fn("hll_union_est", classOf[HllUnionEst], 2,
      "hll_union_est(sketch_a, sketch_b)") { e =>
      HllUnionEst(e.head, e(1), 10) })

  def registerAll(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    builders.foreach { case (id, _, build) =>
      reg.createOrReplaceTempFunction(id.funcName, build, "scala_udf")
    }
  }
}
