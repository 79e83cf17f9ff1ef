package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec, ShuffleQueryStageExec}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Per-op collector, attached from outside the engine: a Spark listener
  * attributes jobs, stages, tasks, shuffle, spill, CPU and GC to the job
  * group the benchmark sets around each op; a streaming-query listener keeps
  * every micro-batch's progress; [[Probe.planStats]] walks the final AQE
  * plan. */
final class Probe extends SparkListener {
  import Probe._

  private val groups = new ConcurrentHashMap[String, Acc]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobInfo = new ConcurrentHashMap[Int, (String, String, Long)]()
  private val stageRead = new ConcurrentHashMap[Int, mutable.ArrayBuffer[Long]]()

  def acc(group: String): Acc = groups.computeIfAbsent(group, _ => new Acc)

  /** The sum over job groups: an op's own, plus those Spark sets for each
    * run of the op's streaming queries. */
  def accOf(gs: Seq[String]): Acc = {
    val out = new Acc
    gs.map(acc).foreach { a =>
      a.synchronized {
        out.jobs += a.jobs; out.stages += a.stages; out.tasks += a.tasks
        out.runMs += a.runMs; out.cpuNs += a.cpuNs; out.gcMs += a.gcMs; out.waitMs += a.waitMs
        out.fetchWaitMs += a.fetchWaitMs; out.shuffleWrite += a.shuffleWrite
        out.shuffleRead += a.shuffleRead; out.spill += a.spill; out.inputBytes += a.inputBytes
        out.inputRows += a.inputRows; out.outputBytes += a.outputBytes
        out.sinkNanos += a.sinkNanos; out.readSkew = math.max(out.readSkew, a.readSkew)
        a.jobsBySite.foreach { case (k, v) => out.jobsBySite(k) += v }
      }
    }
    out
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val group = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("none")
    // the final stage's name is the job's short call site, its details the
    // long one: the stack of the action, which names every engine file on
    // the way to it (a V2Pipeline job's action is in StageRunner)
    val last = e.stageInfos.sortBy(_.stageId).lastOption
    val site = last.map(_.name).getOrElse("")
    val stack = last.map(_.details).getOrElse("")
    jobInfo.put(e.jobId, (group, site, e.time))
    e.stageIds.foreach(stageGroup.put(_, group))
    val a = acc(group)
    a.synchronized {
      a.jobs += 1
      CallSites.filter(c => stack.contains(s"($c.scala:")).foreach(c => a.jobsBySite(c) += 1)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobInfo.remove(e.jobId)).foreach { case (group, site, t0) =>
      if (SinkSites.exists(site.startsWith)) {
        val a = acc(group)
        a.synchronized { a.sinkNanos += (e.time - t0) * 1000000L }
      }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val id = e.stageInfo.stageId
    val a = acc(stageGroup.getOrDefault(id, "none"))
    val reads = Option(stageRead.remove(id)).map(_.toSeq).getOrElse(Seq.empty)
    a.synchronized {
      a.stages += 1
      if (reads.size > 1 && reads.sum > 0)
        a.readSkew = math.max(a.readSkew, reads.max.toDouble / (reads.sum.toDouble / reads.size))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val a = acc(stageGroup.getOrDefault(e.stageId, "none"))
    val info = e.taskInfo
    val gettingResult = if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
    val wait = math.max(0L, info.duration - m.executorRunTime - m.executorDeserializeTime -
      m.resultSerializationTime - gettingResult)
    val read = m.shuffleReadMetrics.totalBytesRead
    if (read > 0)
      stageRead.computeIfAbsent(e.stageId, _ => mutable.ArrayBuffer.empty[Long]).synchronized {
        stageRead.get(e.stageId).append(read)
      }
    a.synchronized {
      a.tasks += 1
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.waitMs += wait
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRead += read
      a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.inputBytes += m.inputMetrics.bytesRead
      a.inputRows += m.inputMetrics.recordsRead
      a.outputBytes += m.outputMetrics.bytesWritten
    }
  }
}

object Probe {
  /** Job attribution by the engine source files in Spark's long call site;
    * a job whose stack passes through several counts for each. */
  val CallSites: Seq[String] = Seq("V1Pipeline", "V2Pipeline", "IterativeStage", "Packing")
  /** Call sites of the audit/sink writes (`parquet at` is also a read's
    * schema job, so it is not one of them). */
  val SinkSites: Seq[String] = Seq("json at", "save at")

  final class Acc {
    var jobs, stages, tasks = 0L
    var runMs, cpuNs, gcMs, waitMs, fetchWaitMs = 0L
    var shuffleWrite, shuffleRead, spill, inputBytes, inputRows, outputBytes = 0L
    var sinkNanos = 0L
    var readSkew = 0.0
    val jobsBySite: mutable.Map[String, Long] = mutable.Map.empty.withDefaultValue(0L)
  }

  final case class PlanStats(exchanges: Int, memoScans: Int)

  /** Exchanges and memo scans of the FINAL plan: walks into AQE's current
    * plan, query stages and subqueries. Under AQE a shuffle shows up as a
    * ShuffleQueryStageExec leaf; a plain ShuffleExchangeLike walk sees 0. */
  def planStats(plan: SparkPlan): PlanStats = {
    var ex = 0
    var memo = 0
    def walk(p: SparkPlan): Unit = {
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case s: ShuffleQueryStageExec => ex += 1; walk(s.plan)
        case q: QueryStageExec => walk(q.plan)
        case _: RDDScanExec => memo += 1
        case _ =>
      }
      p.children.foreach(walk)
      p.subqueries.foreach(walk)
    }
    walk(plan)
    PlanStats(ex, memo)
  }

  /** One micro-batch's progress; `startMs + triggerMs` is its commit. */
  final case class Batch(query: java.util.UUID, name: String, batchId: Long, startMs: Long,
      triggerMs: Long, addBatchMs: Long, walCommitMs: Long, stateCommitMs: Long,
      stateRows: Long, stateBytes: Long)

  /** Keeps every streaming micro-batch's progress, and traces each batch as
    * a span of the op its query belongs to. */
  final class StreamProbe extends StreamingQueryListener {
    import StreamingQueryListener._
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[Batch]()

    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      val b = Batch(p.id, Option(p.name).getOrElse(""), p.batchId,
        java.time.Instant.parse(p.timestamp).toEpochMilli,
        d("triggerExecution"), d("addBatch"), d("walCommit"),
        p.stateOperators.map(_.commitTimeMs).sum,
        p.stateOperators.map(_.numRowsTotal).sum,
        p.stateOperators.map(_.memoryUsedBytes).sum)
      batches.add(b)
      Trace.record("stream_batch", Trace.epochMsToNanos(b.startMs),
        Trace.epochMsToNanos(b.startMs + b.triggerMs), Main.opOf(b.name))
    }
  }
}
