package graft.perfbench

import java.lang.management.{BufferPoolMXBean, ManagementFactory}
import java.net.{InetAddress, ServerSocket}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, LinkedBlockingQueue}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.{Server, Tables}
import graft.engine.Engine

/** One benchmark run inside one JVM: the engine and its pgwire server
  * (`Server.serve` on an ephemeral loopback port) plus the load generator
  * that drives it over raw pgwire.
  *
  *   java -cp <classpath> graft.perfbench.Main <plan_dir>
  *
  * Reads the generated plan (see [[Plan]]), creates and loads the engine
  * [[SetupReps]] times, warms the last one up, runs the timed window, and
  * writes `<plan_dir>/out/`: `records.jsonl` (one line per statement, with
  * the rows it returned), `run.json`, and for a traced run `spans.jsonl`
  * and `replay.jsonl`. Metrics and result checks are computed from these
  * files by perfbench/run.py.
  */
object Main {

  /** Set-ups per run; `setup_s` takes their median, so one slow set-up
    * (a collector pause, a busy disk) does not decide it.
    */
  val SetupReps = 3

  final case class Rec(stmt: Stmt, pid: Int, schedNs: Long, startNs: Long,
      endNs: Long, r: Reply, wlo: Int, whi: Int)

  def main(args: Array[String]): Unit = {
    val plan = new Plan(Paths.get(args(0)).toAbsolutePath)
    val out = plan.dir.resolve("out")
    Files.createDirectories(out)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val cpus = plan("cpus")
    val work = Paths.get(plan("work_dir"))
    val spark = Tables.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionReadyS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val trace = plan("trace") == "1"
    val tracer = new Tracer(spark)
    if (trace) tracer.install()

    // ---- set-up: the engine, its tables and the server, repeated; then
    // the warm-up statements once, over pgwire, on the engine that serves.
    // An earlier repetition's server is closed and its tables dropped once
    // it is timed, so the run holds only the engine it measures.
    val tables = plan("tables").split(",")
    val repS = new Array[Double](SetupReps)
    var engine: Engine = null
    var socket: ServerSocket = null
    var server: Thread = null
    for (k <- 0 until SetupReps) {
      if (socket != null) {
        socket.close()
        server.join()
        tables.foreach(t => engine.run(s"drop table $t"))
      }
      val t0 = System.nanoTime()
      val wh = work.resolve(s"warehouse-$k").toString
      engine = if (trace && k == SetupReps - 1) new TracedEngine(spark, wh, tracer)
        else new Engine(spark, wh)
      tables.foreach { t =>
        engine.run(s"create table $t (${plan(s"ddl.$t")})")
        engine.run(s"copy $t from '${plan("data_dir")}/$t.parquet' (format parquet)")
      }
      socket = new ServerSocket(0, 64, InetAddress.getLoopbackAddress)
      val (srv, eng) = (socket, engine)
      server = new Thread(() => Server.serve(srv, eng), "perfbench-server")
      server.setDaemon(true)
      server.start()
      repS(k) = (System.nanoTime() - t0) / 1e9
    }
    val port = socket.getLocalPort
    // warm-up statements of one role run in order on one connection; roles
    // run side by side
    val w0 = System.nanoTime()
    val warmupError = new java.util.concurrent.atomic.AtomicReference[String]()
    val warmers = plan.warmup.groupBy(_.role).values.map { list =>
      new Thread(() => {
        val c = new PgClient(port)
        try list.foreach { s =>
          val r = send(c, s)
          if (r.error != null) warmupError.compareAndSet(null, s"${r.error}: ${s.sql}")
        } finally c.close()
      })
    }
    warmers.foreach(_.start())
    warmers.foreach(_.join())
    if (warmupError.get != null) sys.error("warm-up statement failed: " + warmupError.get)
    val warmupS = (System.nanoTime() - w0) / 1e9
    val setupS = sessionReadyS + median(repS.toIndexedSeq) + warmupS

    // ---- timed window ----
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs = gcBeans.map(_.getCollectionTime).sum
    val codegen = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val cg0 = codegen.getCount
    val gc0 = gcMs
    val hits0 = engine.planCacheHits.get
    tracer.active = trace
    val lockWait = new LockSampler(engine, trace)
    val firstStmtS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val windowNs = plan.int("seconds") * 1000000000L
    val start = System.nanoTime()
    val recs = new ConcurrentLinkedQueue[Rec]()
    val writesDone = new AtomicInteger()
    val stop = new AtomicBoolean(false)
    val late = new ConcurrentLinkedQueue[java.lang.Long]()
    val pids = new ConcurrentLinkedQueue[Integer]()

    def exec(c: PgClient, s: Stmt, schedNs: Long): Unit = {
      val wlo = writesDone.get
      val t0 = System.nanoTime()
      val r = try send(c, s) catch {
        case e: Exception =>
          stop.set(true) // the connection is unusable after a client error
          Reply(null, s"client: $e", Vector.empty, null, 0, 0, 0, 0, 0)
      }
      val t1 = System.nanoTime()
      if (s.isWrite) writesDone.incrementAndGet()
      recs.add(Rec(s, c.pid, if (schedNs == 0L) t0 else schedNs, t0, t1, r, wlo, writesDone.get))
    }

    val threads = if (plan("mode") == "open") {
      val q = new LinkedBlockingQueue[Option[(Stmt, Long)]]()
      val conns = plan.int("open_conns")
      val workers = (0 until conns).map { _ =>
        new Thread(() => {
          val c = new PgClient(port); pids.add(c.pid)
          var next = q.take()
          while (next.isDefined) {
            val (s, sched) = next.get
            if (!stop.get) exec(c, s, sched)
            next = q.take()
          }
          c.close()
        })
      }
      val dispatcher = new Thread(() => {
        plan.statements.iterator.takeWhile(_.schedUs * 1000L < windowNs)
          .takeWhile(_ => !stop.get).foreach { s =>
            val due = start + s.schedUs * 1000L
            var now = System.nanoTime()
            while (now < due) {
              java.util.concurrent.locks.LockSupport.parkNanos(due - now)
              now = System.nanoTime()
            }
            late.add(now - due)
            q.put(Some((s, due)))
          }
        workers.foreach(_ => q.put(None))
      })
      dispatcher +: workers
    } else {
      // a role sends whole cycles (a TPC-H stream, a writer cycle): the
      // first always, each further one only if, as long as the last one
      // took, it ends by the deadline. Finishing whatever cycle is in
      // progress at the deadline instead would let a first cycle that ends
      // just before it double the run's work. A role that follows another
      // runs until that one is done.
      val roles = plan.statements.groupBy(_.role).toSeq.sortBy(_._1)
      val done = roles.map(_._1 -> new java.util.concurrent.CountDownLatch(1)).toMap
      roles.map { case (role, list) =>
        val cycle = plan.conf.get(s"cycle.$role").map(_.toInt).getOrElse(1)
        val leader = plan.conf.get(s"follows.$role").map(r => done(r.toInt))
        new Thread(() => {
          val c = new PgClient(port); pids.add(c.pid)
          var i = 0
          var cycleStart = start
          def more: Boolean = leader match {
            case Some(l) => l.getCount > 0
            case None => i == 0 || i % cycle != 0 || {
              val now = System.nanoTime()
              val last = now - cycleStart
              cycleStart = now
              now - start + last <= windowNs
            }
          }
          while (i < list.size && !stop.get && more) {
            exec(c, list(i), 0L)
            i += 1
          }
          c.close()
          done(role).countDown()
        })
      }
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val end = System.nanoTime()
    lockWait.stop()
    val rssMb = peakRssMb()
    val gcS = (gcMs - gc0) / 1000.0
    // memory the run still holds once a full collection has run, so that
    // neither garbage nor the collector's time-driven heap sizing counts
    System.gc()
    val mem = ManagementFactory.getMemoryMXBean
    val buffers = ManagementFactory.getPlatformMXBeans(classOf[BufferPoolMXBean]).asScala
    val retainedMb = (mem.getHeapMemoryUsage.getUsed + mem.getNonHeapMemoryUsage.getUsed +
      buffers.map(_.getMemoryUsed).sum) / 1048576.0
    val cg1 = codegen.getCount
    val codegenMs = (cg1 - cg0) * codegen.getSnapshot.getMean
    val hits = engine.planCacheHits.get - hits0
    val persistRdds = spark.sparkContext.getPersistentRDDs.size
    val blockMemMb = spark.sparkContext.getExecutorMemoryStatus.values
      .map { case (max, free) => max - free }.sum / 1e6
    if (trace) tracer.drain()
    tracer.active = false

    // ---- storage, measured on the warehouse the run wrote ----
    val wh = Paths.get(engine.warehouse)
    val files = dataFiles(wh)
    val whBytes = dirBytes(wh)
    val liveBytes = if (plan("space_amp") == "1") {
      val dst = work.resolve("space-amp")
      tables.map { t =>
        val d = dst.resolve(t).toString
        engine.run(s"copy (select * from $t) to '$d' (format parquet)")
        dirBytes(Paths.get(d))
      }.sum
    } else 0L

    // ---- engine-direct replays for the wire split (traced run only) ----
    val replay = new StringBuilder
    if (trace) replayDirect(engine, plan, recs.asScala.toVector, replay)

    // ---- outputs ----
    val w = Files.newBufferedWriter(out.resolve("records.jsonl"), UTF_8)
    try recs.asScala.toVector.sortBy(_.startNs).foreach { rec =>
      w.write(recordJson(rec, start)); w.write('\n')
    } finally w.close()
    if (trace) {
      Files.write(out.resolve("spans.jsonl"), tracer.spans.asScala.mkString("", "\n", "\n").getBytes(UTF_8))
      Files.write(out.resolve("replay.jsonl"), replay.toString.getBytes(UTF_8))
    }
    val lateMs = late.asScala.map(_.toDouble / 1e6).toVector.sorted
    val perTable = files.groupBy(p => wh.relativize(p).getName(0).toString)
      .map { case (t, fs) => s""""$t":${fs.size}""" }.mkString("{", ",", "}")
    val runJson = Seq(
      s""""jvm_start_ms":$jvmStartMs""",
      s""""session_ready_s":$sessionReadyS""",
      s""""setup_reps_s":[${repS.mkString(",")}]""",
      s""""warmup_s":$warmupS""",
      s""""setup_s":$setupS""",
      s""""first_stmt_s":$firstStmtS""",
      s""""window_start_ms":${Clock.ms(start)}""",
      s""""window_s":${(end - start) / 1e9}""",
      s""""peak_rss_mb":$rssMb""",
      s""""retained_mb":$retainedMb""",
      s""""plan_cache_hits":$hits""",
      s""""gc_s":$gcS""",
      s""""codegen_compiles":${cg1 - cg0}""",
      s""""codegen_ms":$codegenMs""",
      s""""lock_wait_s":${lockWait.integralS}""",
      s""""persist_rdds_end":$persistRdds""",
      s""""block_mem_mb_end":$blockMemMb""",
      s""""warehouse_bytes":$whBytes""",
      s""""warehouse_files":${files.size}""",
      s""""files_per_table":$perTable""",
      s""""live_bytes":$liveBytes""",
      s""""gen_late_ms_max":${lateMs.lastOption.getOrElse(0.0)}""",
      s""""gen_late_ms_p99":${if (lateMs.isEmpty) 0.0 else lateMs(((lateMs.size - 1) * 0.99).toInt)}""",
      s""""pids":[${pids.asScala.mkString(",")}]""",
      s""""java_version":"${System.getProperty("java.version")}"""",
      s""""spark_version":"${spark.version}"""",
      s""""scala_version":"${scala.util.Properties.versionNumberString}"""")
    Files.write(out.resolve("run.json"), runJson.mkString("{", ",", "}\n").getBytes(UTF_8))
    socket.close()
    spark.stop()
  }

  private def send(c: PgClient, s: Stmt): Reply =
    if (s.proto == 'X') c.execute(s.sql, s.param, s.keep)
    else c.query(s.sql, s.keep, s.copy)

  /** Replays read texts and COPY payloads directly against the engine
    * (`Engine.run` plus full row iteration; the engine's file COPY) so the
    * checker can subtract them from the client's times. Each text runs
    * twice, after a SET that invalidates the plan cache: once planned
    * afresh and once served from the cache, matching either case the
    * client saw.
    */
  private def replayDirect(engine: Engine, plan: Plan, recs: Vector[Rec],
      outBuf: StringBuilder): Unit = {
    val n = plan.int("replay_reads")
    val reads = recs.filter(r => !r.stmt.isWrite && r.stmt.copy == null && r.r.error == null)
      .sortBy(_.startNs)
    val step = math.max(1, reads.size / math.max(1, n))
    val sample = reads.indices.by(step).take(n).map(reads)
    var k = 0
    sample.foreach { rec =>
      val text = if (rec.stmt.proto == 'X') graft.Pgwire.bindParams(rec.stmt.sql, Seq(rec.stmt.param))
        else rec.stmt.sql
      k += 1
      engine.run(s"set perfbench.replay = $k")
      val times = (0 until 2).map { _ =>
        val t0 = System.nanoTime()
        val it = engine.run(text).toLocalIterator()
        while (it.hasNext) it.next()
        (System.nanoTime() - t0) / 1e6
      }
      outBuf ++= s"""{"kind":"read","id":${rec.stmt.id},"cold_ms":${times(0)},"warm_ms":${times(1)}}""" + "\n"
    }
    if (plan.conf.get("replay_copy").contains("1")) {
      val t = plan("tables").split(",").head
      engine.run(s"create table perfbench_copy_replay (${plan(s"ddl.$t")})")
      recs.filter(r => r.stmt.copy != null && r.r.error == null).foreach { rec =>
        val t0 = System.nanoTime()
        engine.run(s"copy perfbench_copy_replay from '${rec.stmt.copy}' (format text)")
        val ms = (System.nanoTime() - t0) / 1e6
        outBuf ++= s"""{"kind":"copy","id":${rec.stmt.id},"direct_ms":$ms}""" + "\n"
      }
    }
  }

  private def recordJson(rec: Rec, start: Long): String = {
    def rel(ns: Long): String = if (ns == 0L) "null" else ((ns - start) / 1e6).toString
    val r = rec.r
    val body =
      if (r.digest != null && rec.stmt.keep == KeepDigest) r.digest.mkString("\"digest\":[", ",", "]")
      else r.rows.map(_.map(v => if (v == null) "null" else Json.str(v)).mkString("[", ",", "]"))
        .mkString("\"rows\":[", ",", "]")
    s"""{"id":${rec.stmt.id},"role":${rec.stmt.role},"cls":"${rec.stmt.cls}","pid":${rec.pid},""" +
      s""""sched":${rel(rec.schedNs)},"start":${rel(rec.startNs)},"end":${rel(rec.endNs)},""" +
      s""""first_row":${rel(r.firstRowNs)},"copy_start":${rel(r.copyStartNs)},""" +
      s""""start_wall":${Clock.ms(rec.startNs)},"end_wall":${Clock.ms(rec.endNs)},""" +
      s""""tag":${Option(r.tag).map(Json.str).getOrElse("null")},""" +
      s""""error":${Option(r.error).map(Json.str).getOrElse("null")},""" +
      s""""n":${r.rowCount},"bytes":${r.bytesIn},"decode_ns":${r.decodeNs},""" +
      s""""wlo":${rec.wlo},"whi":${rec.whi},$body}"""
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)

  private def walk(p: Path): Vector[Path] =
    if (!Files.exists(p)) Vector.empty
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).toVector finally s.close()
    }
  private def dirBytes(p: Path): Long = walk(p).map(Files.size).sum
  private def dataFiles(p: Path): Vector[Path] =
    walk(p).filter(_.getFileName.toString.endsWith(".parquet"))
}

/** Integral of the statement lock's queue length over the window, sampled
  * every millisecond: thread-seconds spent waiting on the lock.
  */
final class LockSampler(engine: Engine, on: Boolean) {
  @volatile private var running = on
  @volatile var integralS = 0.0
  private val t = new Thread(() => {
    var last = System.nanoTime()
    while (running) {
      java.util.concurrent.locks.LockSupport.parkNanos(1000000L)
      val now = System.nanoTime()
      integralS += engine.stmtLock.getQueueLength * (now - last) / 1e9
      last = now
    }
  }, "perfbench-lock-sampler")
  t.setDaemon(true)
  if (on) t.start()
  def stop(): Unit = { running = false; if (on) t.join() }
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\t' => b ++= "\\t"
      case '\r' => b ++= "\\r"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
