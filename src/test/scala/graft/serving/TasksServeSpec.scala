package graft.serving

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.catalog.Catalog
import graft.serving.ProtoWire.{R, W}
import org.sparkproject.connect.grpc.{CallOptions, ManagedChannel, StatusRuntimeException}
import org.sparkproject.connect.grpc.netty.NettyChannelBuilder
import org.sparkproject.connect.grpc.stub.ClientCalls

/** The scheduler plane over a real TCP/HTTP2 connection —
  * `featureform.scheduling.proto.Tasks` (scheduling.proto:18-33, hosted by
  * the reference metadata server) against the TaskRunner's durable attempt
  * ledger: create → status transitions → logs/resume/scheduler ids → reads,
  * all by a hand-encoded wire client. */
class TasksServeSpec extends SparkSpec {
  import Grpc.method
  import MetadataServe.TasksServiceName
  import org.sparkproject.connect.grpc.MethodDescriptor.MethodType._

  private def withServer(body: (graft.sched.TaskRunner, ManagedChannel) => Unit): Unit =
    withServerCapped(MetadataServe.WatchCancelMax)(body)

  private def withServerCapped(watchCancelMax: Int)
      (body: (graft.sched.TaskRunner, ManagedChannel) => Unit): Unit = {
    val stateDir = graft.TempDirs.create("graft_tasks").toString
    val runner = new graft.sched.TaskRunner(spark, stateDir)
    val srv = new MetadataServe(new Catalog(spark), tasks = Some(runner),
      watchCancelMax = watchCancelMax).start()
    val ch = NettyChannelBuilder.forAddress("127.0.0.1", srv.boundPort)
      .usePlaintext().build()
    try body(runner, ch)
    finally { ch.shutdownNow(); srv.stop() }
  }

  private def unary(ch: ManagedChannel, rpc: String, req: Array[Byte]): Array[Byte] =
    ClientCalls.blockingUnaryCall(ch, method(TasksServiceName, rpc, UNARY),
      CallOptions.DEFAULT, req)

  private def stream(ch: ManagedChannel, rpc: String,
                     req: Array[Byte] = Array.emptyByteArray): Seq[Array[Byte]] =
    ClientCalls.blockingServerStreamingCall(ch,
      method(TasksServiceName, rpc, SERVER_STREAMING), CallOptions.DEFAULT, req)
      .asScala.toSeq

  private def idMsg(field: Int, id: String)(w: W): Unit =
    w.msg(field)(_.str(1, id))
  private def runTask(run: String, task: String): Array[Byte] = {
    val w = new W; idMsg(1, run)(w); idMsg(2, task)(w); w.result()
  }
  private def taskId(task: String): Array[Byte] = {
    val w = new W; w.str(1, task); w.result()
  }

  /** Decode TaskRunMetadata fields we assert on. */
  private def runMeta(msg: Array[Byte])
      : (String, String, Int, Seq[String], String, String, String) = {
    val r = new R(msg)
    var run = ""; var task = ""; var status = 0; var err = ""
    var resume = ""; var sched = ""
    val logs = scala.collection.mutable.ArrayBuffer.empty[String]
    def inner(s: R): String = {
      var id = ""
      var m = true
      while (m) s.readTag() match {
        case (0, _) => m = false
        case (1, _) => id = s.readString()
        case (_, wt) => s.skip(wt)
      }
      id
    }
    var more = true
    while (more) r.readTag() match {
      case (0, _) => more = false
      case (1, _) => run = inner(r.readSlice())
      case (2, _) => task = inner(r.readSlice())
      case (12, _) => logs += r.readString()
      case (13, _) =>
        val s = r.readSlice()
        var sm = true
        while (sm) s.readTag() match {
          case (0, _) => sm = false
          case (1, _) => status = s.readVarint().toInt
          case (2, _) => err = s.readString()
          case (_, wt) => s.skip(wt)
        }
      case (15, _) => resume = inner(r.readSlice())
      case (17, _) => sched = r.readString()
      case (_, wt) => r.skip(wt)
    }
    (run, task, status, logs.toSeq, err, resume, sched)
  }

  test("create → status transitions → end time → logs/resume/scheduler: " +
       "the full run lifecycle over the wire, durable in the ledger") {
    withServer { (runner, ch) =>
      // CreateTaskRun returns the RunID
      val createReq = { val w = new W; idMsg(1, "mat_f_click")(w); w.str(2, "2024-03-01"); w.result() }
      val runId = {
        val r = new R(unary(ch, "CreateTaskRun", createReq))
        assert(r.readTag()._1 == 1)
        r.readString()
      }
      assert(runId == "2024-03-01")

      // created → RUNNING(5) → READY(3) via SetRunStatus appends
      def setStatus(st: Int, msg: String = ""): Unit = {
        val w = new W
        idMsg(1, runId)(w); idMsg(2, "mat_f_click")(w)
        w.msg(3) { s => s.enum(1, st); if (msg.nonEmpty) s.str(2, msg) }
        unary(ch, "SetRunStatus", w.result())
      }
      setStatus(5)
      setStatus(3)
      // logs + resume + scheduler ids
      val logW = new W
      idMsg(1, runId)(logW); idMsg(2, "mat_f_click")(logW)
      logW.str(3, "started batch 7")
      unary(ch, "AddRunLog", logW.result())
      val resW = new W
      idMsg(1, runId)(resW); idMsg(2, "mat_f_click")(resW)
      resW.msg(3)(_.str(1, "resume-42"))
      unary(ch, "SetRunResumeID", resW.result())
      val schW = new W
      idMsg(1, runId)(schW); idMsg(2, "mat_f_click")(schW)
      schW.str(3, "sched-9")
      unary(ch, "SetRunSchedulerID", schW.result())
      val endW = new W
      idMsg(1, runId)(endW); idMsg(2, "mat_f_click")(endW)
      endW.msg(3)(_.int64(1, 1710000000L))
      unary(ch, "SetRunEndTime", endW.result())

      // GetRunMetadata reflects the latest state + sidecar ids
      val (r1, t1, st1, logs1, _, resume1, sched1) =
        runMeta(unary(ch, "GetRunMetadata", runTask(runId, "mat_f_click")))
      assert((r1, t1) == ((runId, "mat_f_click")))
      assert(st1 == 3) // READY survived the end-time append (copy keeps status)
      assert(logs1 == Seq("started batch 7")) // reserved prefixes filtered
      assert(resume1 == "resume-42" && sched1 == "sched-9")

      // the ledger is DURABLE: the runner's own view agrees
      assert(runner.runs().count(_.task == "mat_f_click") == 4) // create + 2 status + end
      assert(runner.runLogs("mat_f_click", runId).size == 3)

      // WatchForCancel returns current status
      val wr = new R(unary(ch, "WatchForCancel", runTask(runId, "mat_f_click")))
      assert(wr.readTag()._1 == 1 && wr.readVarint() == 3L)

      // GetTaskByID + GetLatestRun + streams
      val tr = new R(unary(ch, "GetTaskByID", taskId("mat_f_click")))
      assert(tr.readTag()._1 == 1) // TaskID msg present
      val (lr, _, _, _, _, _, _) =
        runMeta(unary(ch, "GetLatestRun", taskId("mat_f_click")))
      assert(lr == runId)
      assert(stream(ch, "GetAllRuns").size == 1)
      assert(stream(ch, "GetRuns", taskId("mat_f_click")).size == 1)
      assert(stream(ch, "GetRuns", taskId("other_task")).isEmpty)

      // unfinished excludes READY; a fresh created run shows up
      assert(stream(ch, "GetUnfinishedRuns").isEmpty)
      val c2 = { val w = new W; idMsg(1, "mat_f_click")(w); w.str(2, "2024-03-02"); w.result() }
      unary(ch, "CreateTaskRun", c2)
      val unf = stream(ch, "GetUnfinishedRuns")
      assert(unf.size == 1 && runMeta(unf.head)._1 == "2024-03-02")

      // unknown run → NOT_FOUND
      val nf = intercept[StatusRuntimeException] {
        unary(ch, "GetRunMetadata", runTask("nope", "mat_f_click"))
      }
      assert(nf.getStatus.getCode.toString == "NOT_FOUND")
    }
  }

  test("concurrent CreateTaskRun calls mint DISTINCT run keys (atomic " +
       "counter, no full-ledger scan race) and all runs land") {
    withServer { (runner, ch) =>
      // seed one named run so the mint starts past existing run-N keys
      unary(ch, "CreateTaskRun",
        { val w = new W; idMsg(1, "t")(w); w.str(2, "run-3"); w.result() })
      val keys = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
      val threads = (1 to 8).map { _ =>
        new Thread(() => {
          val req = { val w = new W; idMsg(1, "t")(w); w.result() }
          val r = new R(unary(ch, "CreateTaskRun", req))
          assert(r.readTag()._1 == 1)
          keys.add(r.readString())
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      assert(keys.size == 8, "8 concurrent creates → 8 distinct keys")
      assert(!keys.contains("run-3"), "minted keys skip existing ones")
      assert(runner.latestRuns().count(_.task == "t") == 9)
    }
  }

  test("SyncUnfinishedRuns re-queues orphaned running rows as pending; " +
       "a run whose claim is LIVE is left alone") {
    withServer { (runner, ch) =>
      val now = System.currentTimeMillis()
      // orphan: a crashed coordinator's running row — claim held by nobody
      runner.record(graft.sched.TaskRun("orphan", "k1", 0, "running", now, 0L, None))
      // live: a run mid-execution in THIS process (claim held by the body)
      runner.record(graft.sched.TaskRun("live", "k2", 0, "running", now, 0L, None))
      val gate = new java.util.concurrent.CountDownLatch(1)
      val started = new java.util.concurrent.CountDownLatch(1)
      val holder = new Thread(() =>
        runner.run("live", "k2") { started.countDown(); gate.await(); 1 })
      holder.start()
      assert(started.await(10, java.util.concurrent.TimeUnit.SECONDS))
      unary(ch, "SyncUnfinishedRuns", Array.emptyByteArray)
      assert(runner.latestRun("orphan", "k1").get.status == "pending",
        "orphaned running row re-queues")
      assert(runner.latestRun("live", "k2").get.status == "running",
        "live run untouched")
      gate.countDown(); holder.join(10000)
      assert(runner.latestRun("live", "k2").get.status == "success")
    }
  }

  test("a run with wire-minted attempt rows still reports its execution " +
       "outcome: SetRunStatus(RUNNING) then execute → READY, not a " +
       "forever-PENDING burial") {
    withServer { (runner, ch) =>
      val c = { val w = new W; idMsg(1, "mat")(w); w.str(2, "r1"); w.result() }
      unary(ch, "CreateTaskRun", c)
      // an executor reports RUNNING over the wire (attempt 1), crashes,
      // and the reconcile re-queues (attempt 2) — the classic trail
      val sw = new W
      idMsg(1, "r1")(sw); idMsg(2, "mat")(sw); sw.msg(3)(_.enum(1, 5)) // RUNNING
      val beforeRunning = System.currentTimeMillis()
      unary(ch, "SetRunStatus", sw.result())
      // a RUNNING report stamps startMs = report time (the heartbeat the
      // orphan staleness guard keys on), not the created row's time
      assert(runner.latestRun("mat", "r1").get.startMs >= beforeRunning)
      // a FRESH report is never swept by an aged sync...
      assert(runner.syncUnfinishedRuns(olderThanMs = 60000L) == 0)
      // ...while the explicit RPC (threshold 0) re-queues it
      unary(ch, "SyncUnfinishedRuns", Array.emptyByteArray)
      assert(runner.latestRun("mat", "r1").get.status == "pending")
      // the daemon executes the re-queued run: the success must seed PAST
      // the pending@2 row and surface on the wire as READY (3)
      val (rec, _) = runner.run("mat", "r1") { 1 }
      assert(rec.status == "success" && rec.attempt == 3)
      val r = new R(unary(ch, "GetRunMetadata", runTask("r1", "mat")))
      var st = -1L
      var more = true
      while (more) r.readTag() match {
        case (0, _) => more = false
        case (13, _) =>
          val s = r.readSlice()
          var sm = true
          while (sm) s.readTag() match {
            case (0, _) => sm = false
            case (1, _) => st = s.readVarint()
            case (_, wt) => s.skip(wt)
          }
        case (_, wt) => r.skip(wt)
      }
      assert(st == 3L, s"wire must report READY after execution, got $st")
      // resume holds over the bookkeeping rows too: a re-run is skipped
      assert(runner.run("mat", "r1") { 2 }._1.status == "skipped")
    }
  }

  test("WatchForCancel beyond the concurrent-watcher cap degrades to an " +
       "immediate status report instead of pinning another server thread") {
    withServerCapped(watchCancelMax = 1) { (runner, ch) =>
      val c = { val w = new W; idMsg(1, "t")(w); w.str(2, "r1"); w.result() }
      unary(ch, "CreateTaskRun", c) // created — NOT terminal
      // watcher 1 takes the only slot and blocks on the live run
      val blocked = new Thread(() =>
        try unary(ch, "WatchForCancel", runTask("r1", "t"))
        catch { case _: Throwable => () })
      blocked.setDaemon(true); blocked.start()
      Thread.sleep(300)
      assert(blocked.isAlive, "first watcher must long-poll")
      // watcher 2: no slot free → immediate CURRENT status, no blocking
      val t0 = System.currentTimeMillis()
      val r = new R(unary(ch, "WatchForCancel", runTask("r1", "t")))
      assert(System.currentTimeMillis() - t0 < 5000,
        "capped watcher must answer immediately")
      assert(r.readTag()._1 == 1 && r.readVarint() == 1L) // created
    }
  }

  test("WatchForCancel blocks until the run turns terminal: a concurrent " +
       "wire cancel resolves the watch with CANCELLED") {
    withServer { (runner, ch) =>
      val c = { val w = new W; idMsg(1, "longtask")(w); w.str(2, "r1"); w.result() }
      unary(ch, "CreateTaskRun", c) // created — NOT terminal
      val watched = new java.util.concurrent.atomic.AtomicLong(-1L)
      val watcher = new Thread(() => {
        val r = new R(unary(ch, "WatchForCancel", runTask("r1", "longtask")))
        assert(r.readTag()._1 == 1)
        watched.set(r.readVarint())
      })
      watcher.start()
      Thread.sleep(300) // let the watch actually block on a live run
      assert(watcher.isAlive, "watch must not resolve while the run is live")
      val cw = new W
      idMsg(1, "r1")(cw); idMsg(2, "longtask")(cw)
      cw.msg(3)(_.enum(1, 6)) // CANCELLED
      unary(ch, "SetRunStatus", cw.result())
      watcher.join(30000)
      assert(!watcher.isAlive && watched.get() == 6L,
        "watch resolves with CANCELLED once the cancel lands")
    }
  }

  test("runner-executed work is visible over the wire: a TaskRunner.run " +
       "attempt shows as a READY run with its ledger identity") {
    withServer { (runner, ch) =>
      runner.run("refresh", "2024-04-01") { 42 }
      val (run, task, st, _, _, _, _) =
        runMeta(unary(ch, "GetLatestRun", taskId("refresh")))
      assert((run, task, st) == (("2024-04-01", "refresh", 3)))
    }
  }

  test("a RUNNING re-report is a heartbeat: startMs refreshes but the " +
       "attempt counter does not inflate") {
    withServer { (runner, ch) =>
      val createReq = {
        val w = new W; idMsg(1, "hb_task")(w); w.str(2, "k"); w.result()
      }
      val runId = { val r = new R(unary(ch, "CreateTaskRun", createReq))
        r.readTag(); r.readString() }
      def setRunning(): Unit = {
        val w = new W
        idMsg(1, runId)(w); idMsg(2, "hb_task")(w)
        w.msg(3)(_.enum(1, 5))
        unary(ch, "SetRunStatus", w.result())
      }
      setRunning() // created → running: a real transition, attempt 1
      val first = runner.latestRun("hb_task", runId).get
      assert(first.status == "running" && first.attempt == 1)
      Thread.sleep(5)
      setRunning(); setRunning() // heartbeats — keep-alive re-reports
      val cur = runner.latestRun("hb_task", runId).get
      assert(cur.attempt == 1,
        s"heartbeats must not bump the attempt counter, got ${cur.attempt}")
      assert(cur.startMs > first.startMs,
        "the heartbeat must refresh the staleness clock (startMs)")
      // a genuine transition after heartbeats still bumps
      val w = new W
      idMsg(1, runId)(w); idMsg(2, "hb_task")(w)
      w.msg(3)(_.enum(1, 3))
      unary(ch, "SetRunStatus", w.result())
      assert(runner.latestRun("hb_task", runId).get.attempt == 2)
    }
  }

  test("a wire RUNNING report over a crashed daemon's attempt-0 marker is " +
       "an ADOPTION (attempt 1), not a heartbeat — the own-id fast-resume " +
       "must never race a live external executor") {
    withServer { (runner, ch) =>
      // the crash artifact: daemon s1's running marker + owner breadcrumb
      runner.record(graft.sched.TaskRun("adopted", "k", 0, "running",
        System.currentTimeMillis(), 0L, None))
      runner.addRunLog("adopted", "k",
        graft.sched.Scheduler.OwnerPrefix + "s1")
      // an external executor adopts the orphan over the wire
      val w = new W
      idMsg(1, "k")(w); idMsg(2, "adopted")(w)
      w.msg(3)(_.enum(1, 5))
      unary(ch, "SetRunStatus", w.result())
      val cur = runner.latestRun("adopted", "k").get
      assert(cur.status == "running" && cur.attempt == 1,
        s"adoption must bump to attempt 1, got ${cur.attempt}")
      // the restarted daemon s1 must NOT fast-resume the adopted run
      // (attempt >= 1 disqualifies it from the own-orphan bypass)
      val calls = new java.util.concurrent.atomic.AtomicInteger(0)
      val s1 = new graft.sched.Scheduler(runner, "s1",
        _ => Some(() => calls.incrementAndGet()))
      assert(s1.tick().isEmpty && calls.get() == 0,
        "own-id bypass claimed a run a live external executor adopted")
    }
  }

  test("a server without a ledger does not register the Tasks service") {
    val srv = new MetadataServe(new Catalog(spark)).start()
    val ch = NettyChannelBuilder.forAddress("127.0.0.1", srv.boundPort)
      .usePlaintext().build()
    try {
      val e = intercept[StatusRuntimeException] {
        unary(ch, "GetAllRuns", Array.emptyByteArray)
      }
      assert(e.getStatus.getCode.toString == "UNIMPLEMENTED")
    } finally { ch.shutdownNow(); srv.stop() }
  }
}
