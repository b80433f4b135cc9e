package graft.sched

import java.util.concurrent.ConcurrentLinkedQueue

import graft.SparkSpec
import org.apache.hadoop.conf.Configuration

/** Store-side fencing enforcement — the zombie-ex-holder scenario the
  * LeaseLocker scaladoc says only the downstream store can close: a holder
  * whose lease was broken resumes and its ledger/catalog write must be
  * REJECTED while the new holder's succeeds (reference role: psql advisory
  * locks guarding the task-run table, ffsync/locker.go:110). */
class FenceSpec extends SparkSpec {

  private val conf = new Configuration()
  private def freshDir() =
    graft.TempDirs.create("graft_fence").toString

  /** Delegates exclusion to a MemoryLocker but hands the body SCRIPTED
    * fencing tokens — a deterministic stand-in for a lease that was broken
    * between two holders (the real token monotonicity across a break is
    * proven in LeaseLockerSpec; this isolates the store-side check). */
  private final class ScriptedLocker(tokens: Long*) extends Locker {
    private val mem = new MemoryLocker
    private val q = new ConcurrentLinkedQueue[java.lang.Long]()
    tokens.foreach(t => q.add(t))
    def withLock[T](key: String)(body: => T): T = mem.withLock(key)(body)
    def tryWithLock[T](key: String)(body: => T): Option[T] =
      mem.tryWithLock(key)(body)
    override def withLockFenced[T](key: String)(body: Long => T): T =
      mem.withLock(key)(body(Option(q.poll()).map(_.longValue())
        .getOrElse(sys.error("ScriptedLocker: token script exhausted"))))
  }

  test("FenceGuard: monotone accept, equal accept, stale reject, unfenced no-op") {
    val dir = freshDir()
    val g = new FenceGuard(dir, conf, "t")
    assert(g.stored() == -1L)
    g.check(Locker.Unfenced) // unfenced locker: passes, writes nothing
    assert(g.stored() == -1L)
    g.check(5L)
    assert(g.stored() == 5L)
    g.check(7L) // larger: accepted, becomes the stored token
    g.check(7L) // equal: same holder re-checking — accepted
    assert(g.stored() == 7L)
    val e = intercept[StaleFenceException](g.check(6L))
    assert(e.getMessage.contains("6") && e.getMessage.contains("7"))
    assert(g.stored() == 7L, "a rejected check must not move the token")
    // a second guard instance over the same dir sees the durable token
    assert(new FenceGuard(dir, conf, "t").stored() == 7L)
  }

  test("a crash mid-publish (tmp written, fence deleted, rename lost) " +
    "cannot lose the high-water token") {
    import org.apache.hadoop.fs.Path
    val dir = freshDir()
    val g = new FenceGuard(dir, conf, "c")
    g.check(9L)
    assert(g.stored() == 9L)
    // simulate the delete+rename fallback dying between its two steps
    // while publishing token 11: only the tmp file survives
    val fs = new Path(dir).getFileSystem(conf)
    val out = fs.create(new Path(dir, ".c.fence.tmp"), true)
    out.write("11".getBytes("UTF-8")); out.close()
    fs.delete(new Path(dir, ".c.fence"), false)
    // a fresh guard (restarted process) still remembers the accepted token
    val g2 = new FenceGuard(dir, conf, "c")
    assert(g2.stored() == 11L, "tmp fallback must carry the token")
    intercept[StaleFenceException](g2.check(10L))
    g2.check(12L) // a live holder's larger token republishes cleanly
    assert(g2.stored() == 12L)
  }

  test("real LeaseLocker tokens drive the guard: ex-holder's resumed write " +
    "is rejected after the next holder's write") {
    val dir = "file:" + graft.TempDirs.create("graft_fence_l")
    val locker = new LeaseLocker(dir, conf)
    val guard = new FenceGuard(dir, conf, "ledger")
    // holder A acquires, writes, releases — then STALLS holding its token
    val tokenA = locker.withLockFenced("ledger") { tok =>
      guard.check(tok); tok
    }
    // holder B (the post-break successor; strict in-JVM token monotonicity
    // guarantees tokenB > tokenA even within one millisecond) writes
    val tokenB = locker.withLockFenced("ledger") { tok =>
      guard.check(tok); tok
    }
    assert(tokenB > tokenA, s"tokens must be strictly monotone: $tokenA, $tokenB")
    // zombie A resumes with its stale token: the store must reject
    intercept[StaleFenceException](guard.check(tokenA))
    assert(guard.stored() == tokenB)
  }

  test("TaskRunner ledger: a stale-token append is rejected and leaves the " +
    "ledger untouched; the new holder's append lands") {
    val dir = freshDir()
    // script: run 1 (one success append) carries token 10; run 2 (zombie)
    // carries 5; run 3 (new holder) carries 12
    val runner = new TaskRunner(spark, dir, maxAttempts = 1, backoffMs = 1,
      locker = new ScriptedLocker(10L, 5L, 12L))
    assert(runner.run("mat", "v1")(1)._1.status == "success")
    val before = runner.runs()
    assert(before.map(_.status) == Seq("success"))
    // zombie append: body runs (claim locks are exclusion, not fencing)
    // but the ledger write is fenced off — surfaced loudly
    intercept[StaleFenceException](runner.run("mat", "v2")(2))
    val after = new TaskRunner(spark, dir, maxAttempts = 1, backoffMs = 1,
      locker = new ScriptedLocker(12L)).runs()
    assert(after == before, "rejected write must not alter the ledger")
    // the new holder (fresh runner, larger token) writes fine
    val runner3 = new TaskRunner(spark, dir, maxAttempts = 1, backoffMs = 1,
      locker = new ScriptedLocker(12L, 13L))
    assert(runner3.run("mat", "v3")(3)._1.status == "success")
  }

  test("CatalogStore.save: stale token rejected, document preserved") {
    import graft.catalog._
    val dir = freshDir()
    val catA = new Catalog(spark)
    catA.registerEntity(EntityDef("user"))
    CatalogStore.save(catA, spark, dir, new ScriptedLocker(20L))
    val catZombie = new Catalog(spark) // empty — would erase A's state
    intercept[StaleFenceException](
      CatalogStore.save(catZombie, spark, dir, new ScriptedLocker(19L)))
    val loaded = CatalogStore.load(spark, dir)
    assert(loaded.allEntities.map(_.name) == Seq("user"),
      "rejected save must leave the previous document intact")
    // successor with a larger token saves fine
    val catB = new Catalog(spark)
    catB.registerEntity(EntityDef("user"))
    catB.registerEntity(EntityDef("item"))
    CatalogStore.save(catB, spark, dir, new ScriptedLocker(21L))
    assert(CatalogStore.load(spark, dir).allEntities.map(_.name) ==
      Seq("user", "item"))
  }
}
