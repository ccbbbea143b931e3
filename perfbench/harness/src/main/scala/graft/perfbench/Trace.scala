package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}

import graft.engine.{Engine, Session}

/** Wall clock in fractional epoch milliseconds, with nanoTime resolution,
  * so client spans line up with Spark's millisecond event times.
  */
object Clock {
  private val epochNs0 = System.currentTimeMillis() * 1000000L
  private val nano0 = System.nanoTime()
  def ms(nanoTime: Long): Double = (epochNs0 + (nanoTime - nano0)) / 1e6
  def nowMs: Double = ms(System.nanoTime())
}

/** In-memory span store for the traced run. Spans are JSON objects kept
  * as strings and written out once, after the timed window.
  */
final class Tracer(spark: SparkSession) {
  val spans = new ConcurrentLinkedQueue[String]()
  @volatile var active = false

  def emit(json: String): Unit = if (active) spans.add(json)

  private def group(p: java.util.Properties): String =
    if (p == null) "" else Option(p.getProperty("spark.jobGroup.id")).getOrElse("")

  private final class StageAcc {
    var tasks = 0L; var durMs = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var inB = 0L; var shrB = 0L; var shwB = 0L; var spillB = 0L
    var recW = 0L; var bytesW = 0L
  }
  private val stageAcc = new java.util.concurrent.ConcurrentHashMap[(Int, Int), StageAcc]()

  /** Catalyst's planning phases from the execution's
    * `QueryExecution.tracker`. The end event carries the QueryExecution
    * that session-level QueryExecutionListeners receive, but only this
    * event also carries the execution id that joins it to a connection;
    * its accessor is not public Scala API, hence the reflective call.
    */
  private def phases(e: SparkListenerSQLExecutionEnd): Unit = {
    val qe = scala.util.Try(e.getClass.getMethod("qe").invoke(e).asInstanceOf[QueryExecution])
      .toOption.orNull
    if (qe != null) {
      val ps = qe.tracker.phases.map { case (name, p) =>
        s"""\"$name\":[${p.startTimeMs},${p.endTimeMs}]"""
      }
      emit(s"""{"kind":"phases","exec":${e.executionId}${ps.map("," + _).mkString}}""")
    }
  }

  /** Scheduler events: jobs carry the connection's job group; stages and
    * tasks join to them by id. SQL executions carry the same group.
    */
  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      emit(s"""{"kind":"job_start","job":${e.jobId},"t":${e.time},""" +
        s""""group":"${group(e.properties)}","stages":[${e.stageIds.mkString(",")}]}""")
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      emit(s"""{"kind":"job_end","job":${e.jobId},"t":${e.time}}""")
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (active) {
      val a = stageAcc.computeIfAbsent((e.stageId, e.stageAttemptId), _ => new StageAcc)
      val m = e.taskMetrics
      a.synchronized {
        a.tasks += 1
        a.durMs += e.taskInfo.duration
        if (m != null) {
          a.runMs += m.executorRunTime; a.cpuNs += m.executorCpuTime; a.gcMs += m.jvmGCTime
          a.inB += m.inputMetrics.bytesRead
          a.shrB += m.shuffleReadMetrics.totalBytesRead
          a.shwB += m.shuffleWriteMetrics.bytesWritten
          a.spillB += m.diskBytesSpilled
          a.recW += m.outputMetrics.recordsWritten; a.bytesW += m.outputMetrics.bytesWritten
        }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      val a = Option(stageAcc.remove((s.stageId, s.attemptNumber()))).getOrElse(new StageAcc)
      emit(s"""{"kind":"stage","stage":${s.stageId},"start":${s.submissionTime.getOrElse(0L)},""" +
        s""""end":${s.completionTime.getOrElse(0L)},"tasks":${a.tasks},"task_ms":${a.durMs},""" +
        s""""run_ms":${a.runMs},"cpu_ns":${a.cpuNs},"gc_ms":${a.gcMs},"in_b":${a.inB},""" +
        s""""shr_b":${a.shrB},"shw_b":${a.shwB},"spill_b":${a.spillB},""" +
        s""""rec_w":${a.recW},"bytes_w":${a.bytesW}}""")
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        emit(s"""{"kind":"sql_start","exec":${s.executionId},"t":${s.time},""" +
          s""""group":"${s.jobGroupId.getOrElse("")}"}""")
      case s: SparkListenerSQLExecutionEnd =>
        emit(s"""{"kind":"sql_end","exec":${s.executionId},"t":${s.time}}""")
        phases(s)
      case _ => ()
    }
  }

  def install(): Unit = spark.sparkContext.addSparkListener(listener)

  /** Blocks until Spark's listener bus has delivered every queued event. */
  def drain(): Unit = {
    // the bus has no public flush; a trailing job's end event is the
    // marker that everything queued before it on the same queue (the
    // shared one both listeners sit on) was delivered
    val marker = new java.util.concurrent.CountDownLatch(1)
    val l = new SparkListener {
      override def onJobEnd(e: SparkListenerJobEnd): Unit = marker.countDown()
    }
    spark.sparkContext.addSparkListener(l)
    spark.sparkContext.parallelize(Seq(1), 1).count()
    marker.await(30, java.util.concurrent.TimeUnit.SECONDS)
    spark.sparkContext.removeSparkListener(l)
  }
}

/** The engine with its public statement entry point timed from outside:
  * each top-level call from the server records an `engine.run` span with
  * the calling connection's job group and whether the plan cache served it.
  */
final class TracedEngine(spark: SparkSession, warehouse: String, tracer: Tracer)
    extends Engine(spark, warehouse) {
  override def run(sql: String, session: Session): DataFrame = {
    val hits0 = planCacheHits.get
    val t0 = Clock.nowMs
    var ok = false
    try {
      val df = super.run(sql, session)
      ok = true
      df
    } finally {
      val t1 = Clock.nowMs
      val hit = planCacheHits.get - hits0
      val g = Option(spark.sparkContext.getLocalProperty("spark.jobGroup.id")).getOrElse("")
      tracer.emit(s"""{"kind":"engine_run","group":"$g","start":$t0,"end":$t1,"hit":$hit,"ok":$ok}""")
    }
  }
}
