package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** One timed interval of the span tree, in epoch microseconds. A span's id
  * is its index in the trace; `parent` is -1 for a root (`query`) span.
  */
final case class Span(id: Int, parent: Int, name: String, qid: String,
                      startUs: Long, endUs: Long)

/** Records spans and per-layer counts of traced queries, read only through
  * Spark's public listener APIs.
  *
  * Every job the driver submits carries the local property [[Tracer.Key]]
  * = `<qid>|<phase>` (phase `build` or `execute`), so jobs, stages and
  * tasks are attributed to their query however late the listener bus
  * delivers them. Block updates and streaming progress carry no such tag;
  * they are attributed to the query open when they arrive, which is exact
  * because [[endQuery]] waits until the bus has delivered every event of
  * the query before the next one opens.
  */
final class Tracer(spark: SparkSession) extends SparkListener {
  import Tracer._

  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val counters = mutable.LinkedHashMap.empty[String, mutable.Map[String, Double]]
  @volatile private var current = ""

  // (qid, phase) -> the span id of that phase, which parents its jobs
  private val phaseSpan = mutable.Map.empty[(String, String), Int]
  private val jobs = mutable.Map.empty[Int, JobRec]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageSubmitMs = mutable.Map.empty[(Int, Int), Long]
  private val submitted = mutable.Set.empty[Int]
  private val barriers = mutable.Map.empty[Int, Long]
  private var barrierSeen = -1L

  private val blockBytes = mutable.Map.empty[String, Long]
  private val rddBytes = mutable.Map.empty[Int, Long].withDefaultValue(0L)
  private val rddOwner = mutable.Map.empty[Int, String]
  private val ownerBytes = mutable.Map.empty[String, Long].withDefaultValue(0L)

  private var streamsStarted = 0L
  private var streamsEnded = 0L
  private val trackers = mutable.Map.empty[String, List[QueryPlanningTracker]]

  private def newSpan(parent: Int, name: String, qid: String, s: Long, e: Long): Int =
    synchronized { spans += Span(spans.size, parent, name, qid, s, e); spans.size - 1 }

  private def setEnd(id: Int, e: Long): Unit = synchronized { spans(id) = spans(id).copy(endUs = e) }

  private def counts(qid: String): mutable.Map[String, Double] =
    counters.getOrElseUpdate(qid, mutable.Map.empty[String, Double].withDefaultValue(0.0))
  private def add(qid: String, key: String, v: Double): Unit = synchronized { counts(qid)(key) += v }
  private def max(qid: String, key: String, v: Double): Unit =
    synchronized { counts(qid)(key) = math.max(counts(qid)(key), v) }

  private def tagOf(p: java.util.Properties): Option[(String, String)] =
    Option(p).flatMap(p => Option(p.getProperty(Key))).map { t =>
      val i = t.lastIndexOf('|'); (t.substring(0, i), t.substring(i + 1))
    }

  private val streamListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      Tracer.this.synchronized { streamsStarted += 1 }
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val q = current
      add(q, "streaming.batches", 1)
      add(q, "streaming.rows", e.progress.numInputRows.toDouble)
      add(q, "streaming.batch_ms", e.progress.batchDuration.toDouble)
    }
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      Tracer.this.synchronized { streamsEnded += 1 }
  }

  // every query execution that completes: eager actions while the
  // DataFrame is built, then its final write
  private val executionListener = new QueryExecutionListener {
    def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = planned(qe)
    def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = planned(qe)
    private def planned(qe: QueryExecution): Unit = Tracer.this.synchronized {
      val q = current
      if (q.nonEmpty) trackers(q) = qe.tracker :: trackers.getOrElse(q, Nil)
    }
  }

  def register(): Unit = {
    sc.addSparkListener(this)
    spark.streams.addListener(streamListener)
    spark.listenerManager.register(executionListener)
  }

  def unregister(): Unit = {
    sc.removeSparkListener(this)
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(executionListener)
  }

  // ---- driver side: called around each query, in order -------------------

  /** Open query `qid` at `t0` and its `build` span; returns the query span. */
  def beginQuery(qid: String, t0: Long): Int = {
    current = qid
    val q = newSpan(-1, "query", qid, t0, t0)
    openPhase(q, qid, "build", t0)
    q
  }

  /** Close `build` and open `execute` at `t`. */
  def beginExecute(q: Int, qid: String, t: Long): Unit = {
    setEnd(synchronized(phaseSpan((qid, "build"))), t)
    openPhase(q, qid, "execute", t)
  }

  private def openPhase(q: Int, qid: String, phase: String, t: Long): Unit = {
    synchronized { phaseSpan((qid, phase)) = newSpan(q, phase, qid, t, t) }
    sc.setLocalProperty(Key, s"$qid|$phase")
  }

  /** Close the query's driver phases at `tEnd`, wait for the bus, then
    * record the Catalyst phases of the query's executions and the cache it
    * leaves. `built` is the tracker of the built DataFrame, whose analysis
    * ran in build; `rddsBefore` are the persistent RDD ids when the query
    * opened.
    */
  def endQuery(q: Int, qid: String, tEnd: Long, built: Option[QueryPlanningTracker],
               rddsBefore: Set[Int], oversized: Int): Unit = {
    sc.setLocalProperty(Key, null)
    val (b, x) = synchronized((phaseSpan((qid, "build")), phaseSpan.get((qid, "execute"))))
    setEnd(x.getOrElse(b), tEnd)
    drain()
    val (build, execStart) = synchronized((spans(b), x.map(spans(_).startUs)))
    add(qid, "build.ms", (build.endUs - build.startUs) / 1e3)
    add(qid, "exec.oversized_tasks", oversized)
    val executed = synchronized(trackers.remove(qid).getOrElse(Nil))
    for (t <- (built.toList ++ executed).distinct) {
      for ((phase, p) <- t.phases if PlanPhases.contains(phase)) {
        add(qid, s"plans.${phase}_ms", p.durationMs.toDouble)
        // a phase that ran several times reports its first start and its
        // summed duration
        val s = p.startTimeMs * 1000
        val parent = if (execStart.exists(s >= _)) x.get else b
        newSpan(parent, s"plans.$phase", qid, s, s + p.durationMs * 1000)
      }
      for ((rule, r) <- t.rules if rule.startsWith("graft.plans.")) {
        add(qid, "plans.graft_rule_ms", r.totalTimeNs / 1e6)
        add(qid, "plans.graft_rule_runs", r.numInvocations.toDouble)
        add(qid, "plans.graft_rule_effective_runs", r.numEffectiveInvocations.toDouble)
      }
    }
    val left = sc.getPersistentRDDs.keySet.toSet -- rddsBefore
    synchronized {
      add(qid, "cache.left_rdds", left.size)
      add(qid, "cache.left_bytes", left.toSeq.map(rddBytes(_)).sum.toDouble)
    }
  }

  /** Record the `clear_cache` span and close the query at its end. */
  def clearedCache(q: Int, qid: String, s: Long, e: Long): Unit = {
    newSpan(q, "clear_cache", qid, s, e)
    setEnd(q, e)
    current = ""
  }

  /** Wait until the listener bus has delivered every event posted so far:
    * run a tagged one-task job and wait for its end event, which the bus
    * delivers after everything queued before it; then wait until every
    * streaming query started so far has terminated, which the streaming
    * bus delivers after that query's progress events.
    */
  private def drain(): Unit = {
    val id = System.nanoTime()
    sc.setLocalProperty(Key, s"$id|$Barrier")
    sc.parallelize(Seq(0), 1).foreach(_ => ())
    sc.setLocalProperty(Key, null)
    val deadline = System.currentTimeMillis() + 30000
    def done = synchronized(barrierSeen == id && streamsEnded == streamsStarted)
    while (!done && System.currentTimeMillis() < deadline) Thread.sleep(1)
    if (!done) sys.error("listener bus did not drain within 30 s")
  }

  // ---- listener side ------------------------------------------------------

  override def onJobStart(e: SparkListenerJobStart): Unit = tagOf(e.properties).foreach {
    case (id, Barrier) => synchronized { barriers(e.jobId) = id.toLong }
    case (qid, phase) => synchronized {
      val span = newSpan(phaseSpan((qid, phase)), "job", qid, e.time * 1000, e.time * 1000)
      jobs(e.jobId) = JobRec(qid, phase, span, e.stageIds)
      e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
      add(qid, "exec.jobs", 1)
      if (phase == "build") add(qid, "build.jobs", 1)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    barriers.remove(e.jobId).foreach(id => barrierSeen = id)
    jobs.get(e.jobId).foreach { j =>
      setEnd(j.spanId, e.time * 1000)
      add(j.qid, "exec.stages_skipped",
        j.stageIds.count(s => !submitted.contains(s)))
    }
  }

  private def stageOwner(stageId: Int): Option[JobRec] = stageJob.get(stageId).flatMap(jobs.get)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val si = e.stageInfo
    stageOwner(si.stageId).foreach { j =>
      stageSubmitMs((si.stageId, si.attemptNumber())) =
        si.submissionTime.getOrElse(System.currentTimeMillis())
      submitted += si.stageId
      add(j.qid, "exec.stages", 1)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    for (j <- stageOwner(si.stageId); start <- stageSubmitMs.get((si.stageId, si.attemptNumber())))
      newSpan(j.spanId, "stage", j.qid, start * 1000,
        si.completionTime.getOrElse(System.currentTimeMillis()) * 1000)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOwner(e.stageId).foreach { j =>
      val q = j.qid
      val ti = e.taskInfo
      add(q, "exec.tasks", 1)
      if (j.phase == "build") add(q, "build.tasks", 1)
      if (ti != null) {
        if (!ti.successful) add(q, "exec.tasks_failed", 1)
        stageSubmitMs.get((e.stageId, e.stageAttemptId)).foreach { s =>
          add(q, "exec.sched_wait_ms", math.max(0L, ti.launchTime - s).toDouble)
        }
      }
      val m = e.taskMetrics
      if (m != null) {
        add(q, "exec.run_ms", m.executorRunTime.toDouble)
        add(q, "exec.cpu_ms", m.executorCpuTime / 1e6)
        add(q, "exec.gc_ms", m.jvmGCTime.toDouble)
        max(q, "exec.peak_task_mem_bytes", m.peakExecutionMemory.toDouble)
        add(q, "exec.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        add(q, "shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add(q, "shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add(q, "shuffle.fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
        add(q, "sources.input_bytes", m.inputMetrics.bytesRead.toDouble)
        add(q, "sources.output_bytes", m.outputMetrics.bytesWritten.toDouble)
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    info.blockId.asRDDId.foreach { id =>
      val q = current
      val owner = rddOwner.getOrElseUpdate(id.rddId, q)
      val bytes = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      val delta = bytes - blockBytes.getOrElse(info.blockId.name, 0L)
      blockBytes(info.blockId.name) = bytes
      rddBytes(id.rddId) += delta
      ownerBytes(owner) += delta
      if (bytes > 0 && q.nonEmpty) add(q, "cache.blocks_written", 1)
      if (owner.nonEmpty) max(owner, "cache.peak_bytes", ownerBytes(owner).toDouble)
    }
  }

  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = synchronized {
    val prefix = s"rdd_${e.rddId}_"
    blockBytes.keys.filter(_.startsWith(prefix)).toSeq.foreach(blockBytes.remove)
    rddOwner.get(e.rddId).foreach(o => ownerBytes(o) -= rddBytes(e.rddId))
    rddBytes.remove(e.rddId)
  }

  def results: (Seq[Span], Map[String, Map[String, Double]]) = synchronized {
    (spans.toSeq, counters.map { case (k, v) => k -> v.toMap }.toMap)
  }
}

object Tracer {
  val Key = "perfbench.span"
  private final case class JobRec(qid: String, phase: String, spanId: Int, stageIds: Seq[Int])
  private val Barrier = "barrier"
  private val PlanPhases = Set("analysis", "optimization", "planning")
}
