package graft.sched

import java.sql.Timestamp
import graft.SparkSpec
import graft.sources.Writers
import graft.streaming.IncrementalRunner

/** The production loop, composed: a Schedule decides a refresh is due, the
  * TaskRunner executes IncrementalRunner.refreshLatest with run records,
  * and a crash-and-restart resumes without reprocessing — the reference's
  * coordinator behavior (scheduler + task DAG + idempotent jobs) in one
  * test. */
class OrchestratedRefreshSpec extends SparkSpec {
  import spark.implicits._
  private def ts(s: Long) = new Timestamp(s * 1000)

  test("scheduled, recorded, resumable incremental refresh") {
    val events = graft.TempDirs.create("graft_oev").toString
    val snap = graft.TempDirs.create("graft_osn").toString
    val state = graft.TempDirs.create("graft_ost").toString
    val sched = Schedule(everyMs = 60000)
    val runner = new TaskRunner(spark, state, maxAttempts = 2, backoffMs = 1)

    // tick 1: delta arrives, schedule fires, refresh runs under the runner
    Writers.writeVersioned(
      Seq((1L, 10.0, ts(100)), (2L, 20.0, ts(100))).toDF("entity", "value", "ts"),
      events)
    val tick1 = sched.lastDue(61000).get
    assert(sched.isDue(61000, None))
    val (r1, v1) = runner.run("refresh", s"tick-$tick1") {
      IncrementalRunner.refreshLatest(spark, events, snap).get
    }
    assert(r1.status == "success" && v1.isDefined)
    assert(Writers.readLatest(spark, snap).count() == 2)

    // same tick re-fires after a "crash" → resumed, NOT re-run
    val (r1b, _) = runner.run("refresh", s"tick-$tick1") {
      fail("must not re-execute a completed tick")
    }
    assert(r1b.status == "skipped")
    assert(!sched.isDue(61000, Some(tick1)))

    // tick 2: new delta, new runKey, refresh folds only the delta
    Thread.sleep(5)
    Writers.writeVersioned(
      Seq((1L, 11.0, ts(200)), (3L, 30.0, ts(100))).toDF("entity", "value", "ts"),
      events)
    val tick2 = sched.lastDue(125000).get
    assert(sched.isDue(125000, Some(tick1)) && tick2 > tick1)
    val (r2, _) = runner.run("refresh", s"tick-$tick2") {
      IncrementalRunner.refreshLatest(spark, events, snap).get
    }
    assert(r2.status == "success")
    val got = Writers.readLatest(spark, snap)
      .select("entity", "value").as[(Long, Double)].collect().toMap
    assert(got == Map(1L -> 11.0, 2L -> 20.0, 3L -> 30.0))
    // the run ledger has exactly the two successful ticks
    assert(runner.runs().count(_.status == "success") == 2)
  }
}
