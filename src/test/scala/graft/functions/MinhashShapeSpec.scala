package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The two LSH candidate shapes — inline signatures on the band-join legs
  * (small corpora) vs metadata-only band legs with signatures re-attached
  * to the deduped pair set (wide corpora) — must return IDENTICAL pairs:
  * the gate is a performance branch, never a semantic one. Runs on the
  * real sf0.001 documents corpus so band collisions, the hot-band cap and
  * the estimate filter are all exercised.
  *
  * Results compare as sorted sequences, not sets: a set hides duplicate
  * output rows, which is exactly how the shapes can diverge when an id
  * appears more than once on the signature side. */
class MinhashShapeSpec extends SparkSpec {
  import spark.implicits._

  private def docs = spark.read.parquet(s"$sf001/documents.parquet")
    .select(col("doc_id"), col("text"))

  private def rows(df: DataFrame): Seq[(Long, Long, Double)] =
    df.as[(Long, Long, Double)].collect().toSeq.sortBy(r => (r._1, r._2))

  private def full(in: DataFrame, wide: Boolean) =
    rows(Dedup.minhashNearDupsImpl(in, "text", "doc_id",
      5, 64, 16, 0.8, false, 2000, wideShape = Some(wide)))

  private def incremental(corpusSigs: DataFrame, newDocs: DataFrame,
                          wide: Boolean) =
    rows(Dedup.minhashNearDupsIncrementalImpl(corpusSigs, docs, newDocs,
      "text", "doc_id", 5, 64, 16, 0.5, 2000, wideShape = Some(wide)))

  private val isNew = col("doc_id") % 5 === 4

  test("minhashNearDups: wide and inline shapes agree (threshold 0.8)") {
    val inline = full(docs, wide = false)
    assert(inline.nonEmpty, "fixture must produce pairs")
    assert(full(docs, wide = true) == inline)
  }

  test("minhashNearDups: shapes agree when doc ids repeat") {
    // every id of the new slice appears twice in the input, so twice on
    // the signature side and twice on the text side of the verify join
    val repeated = docs.unionByName(docs.filter(isNew))
    val inline = full(repeated, wide = false)
    assert(inline.nonEmpty, "fixture must produce pairs")
    assert(inline.distinct == inline, "a repeated id emits each pair once")
    assert(full(repeated, wide = true) == inline)
  }

  test("minhashNearDupsIncremental: wide and inline shapes agree " +
      "(threshold 0.5, dense candidates)") {
    val corpusSigs = Dedup.minhashSignatureTable(
      docs.filter(!isNew), "text", "doc_id")
    val inline = incremental(corpusSigs, docs.filter(isNew), wide = false)
    assert(inline.nonEmpty, "fixture must produce pairs")
    assert(incremental(corpusSigs, docs.filter(isNew), wide = true) == inline)
  }

  test("minhashNearDupsIncremental: shapes agree when new ids are also " +
      "in the corpus signatures") {
    // the corpus table already holds the batch's ids: each new id is in
    // both corpusSigs and the batch's own signatures
    val corpusSigs = Dedup.minhashSignatureTable(docs, "text", "doc_id")
    val inline = incremental(corpusSigs, docs.filter(isNew), wide = false)
    assert(inline.nonEmpty, "fixture must produce pairs")
    assert(inline.distinct == inline, "inline shape emits each pair once")
    assert(incremental(corpusSigs, docs.filter(isNew), wide = true) == inline)
  }
}
