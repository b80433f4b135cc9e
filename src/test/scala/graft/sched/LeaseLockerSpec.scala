package graft.sched

import java.util.concurrent.{CountDownLatch, TimeUnit}

import graft.SparkSpec
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path => HPath}

/** The remote-scheme lease-file locker, forced through the Hadoop
  * FileSystem path on a `file:` URI (the always-available binding):
  * exclusion against a foreign process's lease, heartbeat liveness,
  * expiry break with monotone fencing tokens, idle release. */
class LeaseLockerSpec extends SparkSpec {

  private def freshUri(): String =
    "file:" + graft.TempDirs.create("graft_lease")

  private val conf = new Configuration()

  private def leaseFileOf(dirUri: String, key: String): HPath = {
    val fs = FileSystem.get(new java.net.URI(dirUri), conf)
    val files = fs.listStatus(new HPath(dirUri))
      .map(_.getPath).filter(_.getName.startsWith(key))
    assert(files.length == 1, s"expected one lease for $key, got ${files.toSeq}")
    files.head
  }

  test("exclusion across instances; lease file exists while held, gone after") {
    val dir = freshUri()
    val a = new LeaseLocker(dir, conf)
    val b = new LeaseLocker(dir, conf)
    val held = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val t = new Thread(() => a.withLock("task-1") {
      held.countDown(); release.await(10, TimeUnit.SECONDS); ()
    })
    t.start()
    assert(held.await(5, TimeUnit.SECONDS))
    assert(b.tryWithLock("task-1")(1).isEmpty, "instance B must see A's lease")
    val fs = FileSystem.get(new java.net.URI(dir), conf)
    val lease = leaseFileOf(dir, "task-1")
    assert(fs.exists(lease))
    release.countDown(); t.join(5000)
    assert(!fs.exists(lease), "release must delete the lease")
    assert(b.tryWithLock("task-1")(2).contains(2))
    assert(a.tryWithLock("other")(3).contains(3)) // keys independent
  }

  test("a FOREIGN process's live lease blocks; an expired one is broken " +
    "with a monotone fencing token") {
    val dir = freshUri()
    val fs = FileSystem.get(new java.net.URI(dir), conf)
    fs.mkdirs(new HPath(dir))
    val l = new LeaseLocker(dir, conf, leaseExpiryMs = 60000L,
      heartbeatMs = 1000L)
    // plant a lease as another PROCESS would (bypassing this JVM's gate):
    // same name scheme the locker uses
    val key = "claim"
    val planted = new HPath(new HPath(dir),
      s"$key.${Integer.toHexString(key.hashCode)}.lease")
    val out = fs.create(planted, false)
    out.write("token=5\nowner=other-host#999\n".getBytes("UTF-8"))
    out.close()
    // fresh mtime → live foreign holder → not acquirable
    assert(l.tryWithLock(key)(1).isEmpty, "live foreign lease must block")
    // age it past expiry → breakable; token must exceed the dead holder's
    fs.setTimes(planted, System.currentTimeMillis() - 120000L, -1)
    val seen = l.withLockFenced(key) { tok => tok }
    assert(seen > 5L, s"fencing token $seen must exceed the broken lease's 5")
    // wall-clock tokens: a later clean acquisition is still monotone
    val later = l.withLockFenced(key) { tok => tok }
    assert(later >= seen, s"token regressed: $seen then $later")
  }

  test("heartbeat keeps a long-running holder's lease alive past expiry") {
    val dir = freshUri()
    // expiry shorter than the body's runtime: only the heartbeat's mtime
    // refresh keeps the waiter from breaking the lease mid-body
    val holder = new LeaseLocker(dir, conf, leaseExpiryMs = 1200L,
      heartbeatMs = 300L, pollMs = 100L)
    val waiter = new LeaseLocker(dir, conf, leaseExpiryMs = 1200L,
      heartbeatMs = 300L, pollMs = 100L)
    val held = new CountDownLatch(1)
    @volatile var stolen = false
    val t = new Thread(() => holder.withLock("hb") {
      held.countDown()
      Thread.sleep(3000) // >2× expiry
    })
    t.start()
    assert(held.await(5, TimeUnit.SECONDS))
    // probe from a "second process" (fresh instance, but the JVM gate is
    // per-path... so probe the FILE protocol directly: the lease must
    // never look expired while the holder heartbeats)
    val fs = FileSystem.get(new java.net.URI(dir), conf)
    val lease = leaseFileOf(dir, "hb")
    (1 to 5).foreach { _ =>
      Thread.sleep(500)
      val age = System.currentTimeMillis() -
        fs.getFileStatus(lease).getModificationTime
      if (age > 1200L) stolen = true
    }
    t.join(10000)
    assert(!stolen, "lease mtime went stale mid-body despite heartbeat")
    // after the body, the waiter acquires normally
    assert(waiter.tryWithLock("hb")(7).contains(7))
  }

  test("reentrant acquire runs the body; forDir keeps file-scheme on " +
    "FileLocker and unreachable remote schemes on the memory fallback") {
    val dir = freshUri()
    val l = new LeaseLocker(dir, conf)
    assert(l.withLock("k") { l.withLock("k") { 42 } } == 42)
    assert(l.withLock("k") { l.tryWithLock("k")(7) }.contains(7))
    // no s3a binding in this sandbox → documented MemoryLocker fallback
    val remote = Locker.forDir("s3a://bucket/graft_" + System.nanoTime())
    assert(remote.isInstanceOf[MemoryLocker])
    val local = Locker.forDir(
      graft.TempDirs.create("graft_fd").toString)
    assert(local.isInstanceOf[FileLocker])
  }

  test("REAL second process: its lease blocks this JVM until it releases") {
    val dir = freshUri()
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val pb = new ProcessBuilder(javaBin, "-cp",
      System.getProperty("java.class.path"),
      "graft.sched.LeaseHold", dir, "xjob", "3000")
    pb.redirectErrorStream(true)
    val proc = pb.start()
    try {
      // wait for the foreign PID to actually hold the lease
      val rd = new java.io.BufferedReader(
        new java.io.InputStreamReader(proc.getInputStream))
      var line = rd.readLine()
      val deadline = System.currentTimeMillis() + 30000
      while (line != null && line != "HELD" &&
             System.currentTimeMillis() < deadline) line = rd.readLine()
      assert(line == "HELD", s"holder never reported HELD (last: $line)")
      val mine = new LeaseLocker(dir, conf, pollMs = 100L)
      assert(mine.tryWithLock("xjob")(1).isEmpty,
        "foreign process holds the lease; this JVM must not acquire")
      // blocking acquire waits the holder out (3 s hold ≪ 60 s expiry, so
      // this succeeds via RELEASE, not via lease-break)
      val got = mine.withLockFenced("xjob")(tok => tok)
      assert(got > 0L)
      assert(proc.waitFor(30, TimeUnit.SECONDS) && proc.exitValue() == 0)
    } finally proc.destroyForcibly()
  }

  test("two TaskRunners claiming through LeaseLockers (the remote-catalog " +
    "topology forced through the Hadoop path): every task exactly once") {
    val stateDir = graft.TempDirs.create("graft_lease_tr").toString
    val leaseDir = "file:" + stateDir + "/.lease"
    // each runner gets its OWN LeaseLocker instance over one lease dir —
    // the two-driver remote topology (forDir would hand local dirs a
    // FileLocker; injecting forces the lease protocol)
    val r1 = new TaskRunner(spark, stateDir, backoffMs = 1,
      locker = new LeaseLocker(leaseDir, conf, pollMs = 50L))
    val r2 = new TaskRunner(spark, stateDir, backoffMs = 1,
      locker = new LeaseLocker(leaseDir, conf, pollMs = 50L))
    val tasks = (1 to 4).map(i => s"task$i")
    val execs = tasks.map(t => t ->
      new java.util.concurrent.atomic.AtomicInteger(0)).toMap
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val start = new CountDownLatch(1)
    for (runner <- Seq(r1, r2); t <- tasks)
      pool.submit(new Runnable {
        def run(): Unit = {
          start.await()
          runner.run(t, "k") {
            execs(t).incrementAndGet()
            Thread.sleep(5)
            t
          }
          ()
        }
      })
    start.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(60, TimeUnit.SECONDS))
    tasks.foreach(t => assert(execs(t).get() == 1,
      s"$t ran ${execs(t).get()} times under the lease locker"))
    val ledger = r1.runs()
    tasks.foreach { t =>
      assert(ledger.count(r => r.task == t && r.status == "success") == 1, t)
    }
  }

  test("claimant race over one lease dir: holders never overlap, and while " +
    "one holds, every other claim fails") {
    val dir = freshUri()
    val a = new LeaseLocker(dir, conf, pollMs = 50L)
    val b = new LeaseLocker(dir, conf, pollMs = 50L)
    // deterministic half: a holder pinned by latches — every concurrent
    // claim must fail while it holds (no wall-clock assumptions)
    val held = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val holder = new Thread(() => a.withLock("run!job!k") {
      held.countDown(); release.await(10, TimeUnit.SECONDS); ()
    })
    holder.start()
    assert(held.await(5, TimeUnit.SECONDS))
    for (l <- Seq(a, b); _ <- 1 to 3)
      assert(l.tryWithLock("run!job!k")(1).isEmpty)
    release.countDown(); holder.join(5000)
    // racing half: overlap detection instead of a winner count (a late
    // claimant may legitimately win AFTER an early winner releases)
    val inBody = new java.util.concurrent.atomic.AtomicInteger(0)
    @volatile var overlapped = false
    val start = new CountDownLatch(1)
    val threads = for (l <- Seq(a, b); _ <- 1 to 3) yield new Thread(() => {
      start.await()
      l.tryWithLock("run!job!k") {
        if (inBody.incrementAndGet() > 1) overlapped = true
        Thread.sleep(30)
        inBody.decrementAndGet()
      }
      ()
    })
    threads.foreach(_.start())
    start.countDown()
    threads.foreach(_.join(10000))
    assert(!overlapped, "two claimants held the lease simultaneously")
  }
}
