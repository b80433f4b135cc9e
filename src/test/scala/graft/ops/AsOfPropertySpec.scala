package graft.ops

import java.sql.Timestamp
import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.SparkSpec

/** Property tests for the as-of join invariants (SURVEY.md §5):
  * `f.ts <= l.ts` inclusive, NULL padding, deterministic tie semantics, and
  * agreement between the two physical strategies — checked against a
  * brute-force in-memory oracle on randomized event sets.
  */
class AsOfPropertySpec extends SparkSpec {
  import spark.implicits._

  private val genEvents: Gen[List[(Long, Long, Double)]] =
    Gen.listOfN(40, for {
      entity <- Gen.choose(0L, 4L)
      tsSec <- Gen.choose(0L, 20L)
      value <- Gen.choose(1, 50).map(_.toDouble)
    } yield (entity, tsSec, value))

  private def toTs(sec: Long) = new Timestamp(1700000000000L + sec * 1000)

  /** Brute-force oracle: for a label row, the qualifying feature value is the
    * max by (ts, value) among rows with same entity and f.ts <= l.ts. */
  private def oracle(feats: List[(Long, Long, Double)], e: Long, lts: Long): Option[Double] =
    feats.filter(f => f._1 == e && f._2 <= lts)
      .sortBy(f => (f._2, f._3)).lastOption.map(_._3)

  test("as-of join matches brute-force oracle on random event sets") {
    val prop = Prop.forAll(genEvents, genEvents) {
      (featEv: List[(Long, Long, Double)], labelEv: List[(Long, Long, Double)]) =>
        labelEv.isEmpty || {
          val feat = featEv.map(f => (f._1, toTs(f._2), f._3)).toDF("fe", "fts", "fv")
          val label = labelEv.map(l => (l._1, toTs(l._2), l._3)).toDF("le", "lts", "lv")
          val got = AsOfJoin.trainingSet(label, Map("entity" -> "le"), "lv",
              Some("lts"), Seq(FeatureSide(feat, "fe", "fv", Some("fts"), "f")))
            .collect()
          got.length == labelEv.length && got.forall { r =>
            val e = r.getLong(0)
            val lts = (r.getTimestamp(1).getTime - 1700000000000L) / 1000
            val expected = oracle(featEv, e, lts)
            val actual = if (r.isNullAt(2)) None else Some(r.getDouble(2))
            actual == expected
          }
        }
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(res.passed, res.toString)
  }
}

class UpsertSpec extends SparkSpec {
  import spark.implicits._
  private def ts(s: Long) = new Timestamp(s * 1000)

  test("upsert refreshes only entities with newer events") {
    val snap = Seq((1L, 10.0, ts(100)), (2L, 20.0, ts(100))).toDF("entity", "value", "ts")
    val updates = Seq(
      (1L, 11.0, ts(200)), // newer -> wins
      (2L, 5.0, ts(50)),   // older -> ignored
      (3L, 30.0, ts(100))  // new entity -> inserted
    ).toDF("entity", "value", "ts")
    val got = Materialize.upsert(snap, updates)
      .select("entity", "value").as[(Long, Double)].collect().toMap
    assert(got == Map(1L -> 11.0, 2L -> 20.0, 3L -> 30.0))
  }
}

class ReadersSpec extends SparkSpec {
  import spark.implicits._

  test("CSV write/read round-trip (S1/K2)") {
    val dir = graft.TempDirs.create("graft-csv").toString
    val df = Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("id", "s", "v")
    val out = graft.sources.Writers.writeCsv(df, dir, header = true)
    val back = graft.sources.Readers.csv(spark, out)
    assert(back.count() == 2)
    assert(back.columns.toSeq == Seq("id", "s", "v"))
    assert(back.where($"s" === "b").select("v").as[Double].collect().head == 2.5)
  }
}
