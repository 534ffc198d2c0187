package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Span recorder for the traced pass, built only on Spark's public listener
  * interfaces: a `SparkListener` (jobs, stages, task metrics), a
  * `StreamingQueryListener` (micro-batch progress) and a
  * `QueryExecutionListener` (the Catalyst phases of every executed plan),
  * plus the returned Dataset's `queryExecution.tracker`.
  *
  * The runner drains the listener bus after every query, so each event is
  * delivered while its query is current and is attributed to it exactly.
  * Spans are kept in memory and written once, at the end:
  * query -> {build, action} -> job -> stage, query -> micro-batch, and the
  * Catalyst phases under the build or action span they ran in.
  */
final class Tracer private (planNames: Set[String]) extends SparkListener {

  final class QueryRec(val name: String) {
    val phases = mutable.ArrayBuffer.empty[(String, Double, Double)]
    val jobs = mutable.ArrayBuffer.empty[JobRec]
    val batches = mutable.ArrayBuffer.empty[Map[String, Double]]
    val plans = mutable.ArrayBuffer.empty[(String, String)]
  }
  final class JobRec(val id: Int, val start: Double, val stageIds: Seq[Int]) {
    var end: Double = Double.NaN
    val stages = mutable.ArrayBuffer.empty[(Int, Double, Double, Map[String, Double])]
  }

  @volatile private var current: QueryRec = new QueryRec("(setup)")
  private val done = mutable.ArrayBuffer.empty[QueryRec]
  private val jobOfStage = new ConcurrentHashMap[Int, JobRec]()
  private val openJobs = new ConcurrentHashMap[Int, JobRec]()
  private val taskAcc = new ConcurrentHashMap[Int, mutable.Map[String, Double]]()

  def beginQuery(name: String): Unit = current = new QueryRec(name)

  /** The Catalyst phases the build call already ran on the returned plan. */
  def built(df: DataFrame): Unit = recordPhases(current, df.queryExecution.tracker)

  /** Close the current query once every event it caused has been delivered. */
  def endQuery(spark: SparkSession): Unit = {
    org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
    done += current
    current = new QueryRec("(idle)")
  }

  private def recordPhases(q: QueryRec, t: QueryPlanningTracker): Unit = synchronized {
    t.phases.foreach { case (phase, s) =>
      q.phases += ((phase, s.startTimeMs.toDouble, s.endTimeMs.toDouble))
    }
  }

  // ---- SparkListener ----
  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val j = new JobRec(e.jobId, e.time.toDouble, e.stageIds)
    openJobs.put(e.jobId, j)
    e.stageIds.foreach(jobOfStage.putIfAbsent(_, j))
    synchronized(current.jobs += j)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(openJobs.remove(e.jobId)).foreach(_.end = e.time.toDouble)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val acc = taskAcc.computeIfAbsent(e.stageId, _ => mutable.Map.empty[String, Double])
    val m = e.taskMetrics
    def add(k: String, v: Double): Unit = acc.update(k, acc.getOrElse(k, 0.0) + v)
    add("tasks", 1)
    if (m != null) {
      add("task_ms", m.executorRunTime.toDouble)
      add("cpu_ms", m.executorCpuTime / 1e6)
      add("gc_ms", m.jvmGCTime.toDouble)
      add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add("spill_bytes", m.diskBytesSpilled.toDouble)
      add("input_bytes", m.inputMetrics.bytesRead.toDouble)
      add("input_rows", m.inputMetrics.recordsRead.toDouble)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    val attrs = Option(taskAcc.remove(s.stageId)).map(_.toMap).getOrElse(Map.empty)
    Option(jobOfStage.get(s.stageId)).foreach { j =>
      val start = s.submissionTime.map(_.toDouble).getOrElse(j.start)
      val end = s.completionTime.map(_.toDouble).getOrElse(start)
      synchronized(j.stages += ((s.stageId, start, end, attrs)))
    }
  }

  // ---- QueryExecutionListener ----
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val q = current
      recordPhases(q, qe.tracker)
      if (planNames.contains(q.name))
        Tracer.this.synchronized(q.plans += ((funcName, qe.executedPlan.toString)))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      recordPhases(current, qe.tracker)
  }

  // ---- StreamingQueryListener ----
  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val durs = p.durationMs.asScala.map { case (k, v) => s"$k.ms" -> v.toDouble }
      val ops = p.stateOperators.toSeq
      val b = Map(
        "start_ms" -> start,
        "batch_id" -> p.batchId.toDouble,
        "input_rows" -> p.numInputRows.toDouble,
        "state_commit_ms" -> ops.map(_.commitTimeMs.toDouble).sum,
        "state_rows" -> ops.map(_.numRowsTotal.toDouble).sum,
        "state_bytes" -> ops.map(_.memoryUsedBytes.toDouble).sum,
        "late_rows_dropped" -> ops.map(_.numRowsDroppedByWatermark.toDouble).sum
      ) ++ durs
      val q = current
      Tracer.this.synchronized(q.batches += b)
    }
  }

  /** Every recorded span as one JSON document, with the runner's query
    * windows as the roots. */
  def spansJson(timings: Seq[Runner.Timing]): String = synchronized {
    require(timings.size == done.size, "every timed query must be closed")
    val j = new Json
    var nextId = 0L
    def span(parent: Long, query: Int, kind: String, name: String,
        start: Double, end: Double, attrs: Iterable[(String, Double)]): Long = {
      nextId += 1
      j.obj {
        j.num("id", nextId.toDouble); j.num("parent", parent.toDouble)
        j.num("query", query); j.str("kind", kind); j.str("name", name)
        j.num("start_ms", start); j.num("end_ms", end)
        j.field("attrs")(j.objOf(attrs) { case (k, v) => j.num(k, v) })
      }
      nextId
    }
    j.obj {
      j.field("spans") {
        j.arr(timings.zip(done).zipWithIndex) { case ((t, q), qi) =>
          val qid = span(0, qi, "query", t.name, t.start, t.end,
            Seq("ok" -> (if (t.ok) 1.0 else 0.0), "codegen_compiles" -> t.compiles.toDouble))
          val build = span(qid, qi, "build", t.name, t.start, t.buildEnd, Nil)
          val action = span(qid, qi, "action", t.name, t.buildEnd, t.end, Nil)
          def phaseParent(at: Double): Long = if (at < t.buildEnd) build else action
          q.phases.foreach { case (ph, s, e) =>
            span(phaseParent(s), qi, "phase", ph, s, e, Nil)
          }
          q.jobs.foreach { job =>
            val jid = span(phaseParent(job.start), qi, "job", s"job ${job.id}",
              job.start, if (job.end.isNaN) job.start else job.end, Nil)
            job.stages.foreach { case (sid, s, e, attrs) =>
              span(jid, qi, "stage", s"stage $sid", s, e, attrs)
            }
          }
          q.batches.foreach { b =>
            val s = b("start_ms")
            span(qid, qi, "micro-batch", s"batch ${b("batch_id").toLong}",
              s, s + b.getOrElse("triggerExecution.ms", 0.0), b - "start_ms")
          }
        }
      }
      j.field("plans") {
        j.objOf(timings.zip(done).filter(_._2.plans.nonEmpty)) { case (t, q) =>
          j.field(t.name)(j.arr(q.plans) { case (fn, plan) =>
            j.obj { j.str("func", fn); j.str("plan", plan) }
          })
        }
      }
    }
    j.result
  }
}

object Tracer {
  def attach(spark: SparkSession, planNames: Set[String]): Tracer = {
    val t = new Tracer(planNames)
    spark.sparkContext.addSparkListener(t)
    spark.listenerManager.register(t.qeListener)
    spark.streams.addListener(t.streamListener)
    t
  }
}
