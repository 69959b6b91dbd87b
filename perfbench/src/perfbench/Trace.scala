package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. `parent` is -1 for spans the analysis parents by
  * time (jobs, planner phases); times are epoch microseconds. */
final case class Span(id: Long, parent: Long, name: String, startUs: Long, endUs: Long,
    attrs: Map[String, Any])

/** In-memory span recorder for the traced run. Spans opened by the
  * benchmark around its calls into each layer carry an explicit parent;
  * Spark jobs and stages arrive from one SparkListener, planner phases
  * from one QueryExecutionListener, and are parented by time afterwards
  * (see stats.py). Everything is written out when the run ends. */
final class Tracer {
  private val epochUs0 = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()
  private var nextId = 0L
  private val buf = ArrayBuffer.empty[Span]

  def nowUs(): Long = epochUs0 + (System.nanoTime() - nano0) / 1000L

  def spans: Seq[Span] = synchronized(buf.toSeq)

  def add(parent: Long, name: String, startUs: Long, endUs: Long,
      attrs: Map[String, Any] = Map.empty): Unit = synchronized {
    nextId += 1
    buf += Span(nextId, parent, name, startUs, endUs, attrs)
  }

  /** Reserve an id for a span whose end is not known yet. */
  def open(): Long = synchronized { nextId += 1; nextId }

  def close(id: Long, parent: Long, name: String, startUs: Long,
      attrs: Map[String, Any] = Map.empty): Unit = synchronized {
    buf += Span(id, parent, name, startUs, nowUs(), attrs)
  }

  /** Per planning tracker (by identity): the time up to which its phases
    * are recorded. */
  private val phaseMarks = new java.util.IdentityHashMap[QueryPlanningTracker, Long]()

  /** Records the planner phases of `t` that are not recorded yet. A
    * tracker can come back: the result of a query is recorded after
    * construction, the listener reports it again if construction ran an
    * action on the result itself, and `Memo` returns the same DataFrame
    * on every call for one input. Spark merges a phase measured again
    * into [first start, last end], so a phase that ends by the tracker's
    * mark is recorded already, and one that ends after it is recorded
    * from the mark on. */
  def phases(t: QueryPlanningTracker, parent: Long,
      attrs: Map[String, Any] = Map.empty): Unit = synchronized {
    val markUs: Long = Option(phaseMarks.get(t)).getOrElse(Long.MinValue)
    var upTo = markUs
    t.phases.foreach { case (phase, s) =>
      val end = s.endTimeMs * 1000L
      if (end > markUs) add(parent, s"plan.$phase", math.max(s.startTimeMs * 1000L, markUs), end, attrs)
      upTo = math.max(upTo, end)
    }
    phaseMarks.put(t, upTo)
  }

  /** Jobs and stages, with the per-stage task metrics the exec layer
    * reports. A job keeps its call site so table resolution can be told
    * apart from other construction-time jobs. */
  val sparkListener: SparkListener = new SparkListener {
    private val jobStarts = scala.collection.mutable.Map.empty[Int, (Long, String, Seq[Int])]
    private val stageToJob = scala.collection.mutable.Map.empty[Int, Long]
    private val jobSpanIds = scala.collection.mutable.Map.empty[Int, Long]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      // the result stage is named after the job's call site, the first
      // frame outside Spark, e.g. "parquet at Tables.scala:19"
      val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
      jobStarts(e.jobId) = (e.time * 1000L, site, e.stageIds)
      val id = open()
      jobSpanIds(e.jobId) = id
      e.stageIds.foreach(s => stageToJob(s) = id)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStarts.remove(e.jobId).foreach { case (start, site, stages) =>
        val id = jobSpanIds.remove(e.jobId).get
        Tracer.this.synchronized {
          buf += Span(id, -1, "job", start, e.time * 1000L,
            Map("call_site" -> site, "job_id" -> e.jobId, "n_stages" -> stages.size,
              "ok" -> (e.jobResult == JobSucceeded)))
        }
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val si = e.stageInfo
      val m = si.taskMetrics
      val start = si.submissionTime.getOrElse(0L) * 1000L
      val end = si.completionTime.getOrElse(0L) * 1000L
      add(stageToJob.getOrElse(si.stageId, -1L), "stage", start, end,
        if (m == null) Map("tasks" -> si.numTasks)
        else Map("tasks" -> si.numTasks,
          "cpu_ns" -> m.executorCpuTime,
          "run_ms" -> m.executorRunTime,
          "gc_ms" -> m.jvmGCTime,
          "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
          "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled)))
    }
  }

  /** Planner phases of every executed QueryExecution (construction-time
    * actions and the timed write alike), and whether its physical plan
    * scans a cached relation. */
  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(funcName, qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(funcName, qe)

    private def record(funcName: String, qe: QueryExecution): Unit = {
      val cacheScan = try qe.executedPlan.toString.contains("InMemoryTableScan")
        catch { case _: Throwable => false }
      phases(qe.tracker, -1, Map("func" -> funcName, "cache_scan" -> cacheScan))
    }
  }
}
