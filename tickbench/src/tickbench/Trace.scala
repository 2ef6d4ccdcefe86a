package tickbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters read at op boundaries on the client thread. The untraced
  * run reads none of them. */
final case class Probe(fs: Array[Long], gcMs: Long, compiles: Long,
    compileMs: Long)

object Probe {
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val compileTimes = CodegenMetrics.METRIC_COMPILATION_TIME

  def now(): Probe = {
    val n = compileTimes.getCount
    // the histogram keeps every sample until its 1028-sample reservoir
    // fills; past that, mean × count is the best the metric offers
    val snap = compileTimes.getSnapshot
    val ms = if (n <= snap.size) snap.getValues.sum else (snap.getMean * n).toLong
    Probe(CountingLocalFs.snapshot(), gcs.map(_.getCollectionTime).sum, n, ms)
  }
}

final case class JobRec(id: Int, op: String, startMs: Long, var endMs: Long)
final case class TaskRec(stage: Int, runMs: Long, recordsRead: Long,
    bytesRead: Long, bytesWritten: Long)
final case class PhaseRec(startMs: Long, analysisMs: Long, optimizerMs: Long,
    planningMs: Long)

/** Listener-side tracing: Spark jobs, stages and tasks, tagged with the
  * op that issued them through a local property, and Catalyst phase
  * times per executed query. Events arrive asynchronously; [[drain]]
  * waits until every event posted before it has been delivered. */
final class Trace(spark: SparkSession) {
  val OpProperty = "tickbench.op"
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stageOp = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val phases = new ConcurrentLinkedQueue[PhaseRec]()
  @volatile private var drainedJob = -1

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val op = Option(e.properties).flatMap(p => Option(p.getProperty(OpProperty)))
        .getOrElse("")
      e.stageInfos.foreach(st => stageOp.put(st.stageId, op))
      jobs.put(e.jobId, JobRec(e.jobId, op, e.time, -1L))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
      if (Option(jobs.get(e.jobId)).exists(_.op == Trace.DrainOp))
        drainedJob = e.jobId
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(e.taskMetrics).foreach { m =>
        tasks.add(TaskRec(e.stageId, m.executorRunTime,
          m.inputMetrics.recordsRead, m.inputMetrics.bytesRead,
          m.outputMetrics.bytesWritten))
      }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
      if (ph.nonEmpty)
        phases.add(PhaseRec(ph.values.map(_.startTimeMs).min,
          ms("analysis"), ms("optimization"), ms("planning")))
    }
    override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit = ()
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  /** Run `body` with its Spark jobs tagged as op `id`. */
  def tagged[A](id: String)(body: => A): A = {
    val sc = spark.sparkContext
    sc.setLocalProperty(OpProperty, id)
    try body finally sc.setLocalProperty(OpProperty, null)
  }

  /** Block until the shared listener queue has delivered everything
    * posted so far: a marker job's end is queued behind every earlier
    * event, and the query-execution listener shares that queue. */
  def drain(): Unit = {
    tagged(Trace.DrainOp)(spark.sparkContext.parallelize(Seq(1), 1).count())
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (drainedJob < 0 && System.nanoTime() < deadline) Thread.sleep(5)
    require(drainedJob >= 0, "listener events did not drain within 60 s")
    drainedJob = -1
  }

  def jobsOf(op: String): Seq[JobRec] =
    jobs.values.asScala.filter(_.op == op).toSeq.sortBy(_.id)
  def tasksOf(op: String): Seq[TaskRec] =
    tasks.asScala.filter(t => stageOp.get(t.stage) == op).toSeq
  def allTasks: Seq[TaskRec] = tasks.asScala.toSeq
  def phasesIn(startMs: Long, endMs: Long): Seq[PhaseRec] =
    phases.asScala.filter(p => p.startMs >= startMs && p.startMs <= endMs).toSeq
}

object Trace {
  val DrainOp = "__drain"
}
