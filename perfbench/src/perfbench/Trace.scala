package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Exchange / sort counts of an executed plan, looking through AQE
  * query stages. */
object PlanShape extends AdaptiveSparkPlanHelper {
  def exchanges(p: SparkPlan): Int = collect(p) { case e: ShuffleExchangeLike => e }.size
  def sorts(p: SparkPlan): Int = collect(p) { case s: SortExec => s }.size

  /** Scans of the bucketed store's accumulated table (`BucketedStore`
    * names it graft_bucketed_acc_v<k>). */
  def accScans(p: SparkPlan): Int = collect(p) {
    case s: FileSourceScanExec if s.tableIdentifier.exists(_.table.startsWith("graft_bucketed_acc_")) => s
  }.size

  /** Exchanges + sorts on the join sides that scan the accumulated table. */
  def accSide(p: SparkPlan): Int =
    collect(p) { case j: BaseJoinExec => j }.flatMap(_.children).filter(accScans(_) > 0)
      .map(side => exchanges(side) + sorts(side)).sum
}

/** The traced run's instrumentation: Spark's public listener
  * interfaces, attached from the benchmark's side only. Every event is
  * kept with its wall-clock time and attributed afterwards to the op
  * whose interval contains it (ops run one at a time). */
final class Tracer(spark: SparkSession) {
  final case class JobRec(id: Int, start: Long, var end: Long, callSite: String, stages: Seq[Int])
  final case class StageRec(id: Int, submit: Long, complete: Long, tasks: Int)
  final case class TaskRec(stage: Int, launch: Long, finish: Long, runMs: Long, inBytes: Long,
      outBytes: Long, shW: Long, shR: Long, spill: Long, peak: Long)
  final case class ExecRec(start: Long, durS: Double, analysisS: Double, optS: Double,
      planS: Double, exchanges: Int, sorts: Int, accScans: Int, accSide: Int)
  final case class Progress(addBatchMs: Long, commitMs: Long, stateRows: Long,
      stateBytes: Long, stateful: Boolean)

  private val jobs = ArrayBuffer.empty[JobRec]
  private val stages = ArrayBuffer.empty[StageRec]
  private val tasks = ArrayBuffer.empty[TaskRec]
  private val execs = ArrayBuffer.empty[ExecRec]
  private val progress = ArrayBuffer.empty[Progress]
  @volatile private var lastEvent = System.currentTimeMillis()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      lastEvent = System.currentTimeMillis()
      // A stage's name is its job's short call site ("csv at XenaTsv.scala:143").
      val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
      jobs += JobRec(e.jobId, e.time, -1L, site, e.stageInfos.map(_.stageId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      lastEvent = System.currentTimeMillis()
      jobs.find(_.id == e.jobId).foreach(_.end = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      lastEvent = System.currentTimeMillis()
      val i = e.stageInfo
      for (s <- i.submissionTime; c <- i.completionTime) stages += StageRec(i.stageId, s, c, i.numTasks)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      lastEvent = System.currentTimeMillis()
      val m = e.taskMetrics
      val info = e.taskInfo
      if (m != null) tasks += TaskRec(e.stageId, info.launchTime, info.finishTime,
        m.executorRunTime, m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.diskBytesSpilled, m.peakExecutionMemory)
      else tasks += TaskRec(e.stageId, info.launchTime, info.finishTime, 0, 0, 0, 0, 0, 0, 0)
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def s(k: String): Double = ph.get(k).map(_.durationMs / 1e3).getOrElse(0.0)
      val start = if (ph.isEmpty) System.currentTimeMillis() - durationNs / 1000000
        else ph.values.map(_.startTimeMs).min
      val plan = qe.executedPlan
      val rec = ExecRec(start, durationNs / 1e9, s("analysis"), s("optimization"), s("planning"),
        PlanShape.exchanges(plan), PlanShape.sorts(plan), PlanShape.accScans(plan),
        PlanShape.accSide(plan))
      Tracer.this.synchronized { lastEvent = System.currentTimeMillis(); execs += rec }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      val rec = Progress(d("addBatch"), d("walCommit") + d("commitOffsets"),
        p.stateOperators.map(_.numRowsTotal).sum, p.stateOperators.map(_.memoryUsedBytes).sum,
        p.stateOperators.nonEmpty)
      Tracer.this.synchronized { lastEvent = System.currentTimeMillis(); progress += rec }
    }
  }

  private var codegen0 = (0L, 0L)
  private var gc0 = 0L
  private var codegenClasses = 0L
  private var codegenMs = 0L
  private var gcMs = 0L

  private def codegenNow(): (Long, Long) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getValues.sum)
  }
  private def gcNow(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    codegen0 = codegenNow()
    gc0 = gcNow()
  }

  def detach(): Unit = {
    val c = codegenNow()
    codegenClasses = c._1 - codegen0._1
    codegenMs = c._2 - codegen0._2
    gcMs = gcNow() - gc0
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Listener delivery is asynchronous: wait until every started job
    * has ended and the buses have been quiet for a moment. */
  def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    def busy = synchronized(jobs.exists(_.end < 0)) ||
      System.currentTimeMillis() - lastEvent < 300
    while (busy && System.currentTimeMillis() < deadline) Thread.sleep(50)
  }

  /** Length of the union of [a, b) intervals clipped to [lo, hi). */
  private def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var end = lo
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foreach { case (a, b) =>
        if (b > end) { total += b - math.max(a, end); end = b }
      }
    total
  }

  /** Per-layer totals over the run's ops, and one record per op. */
  def layers(ops: Seq[Op]): (Map[String, Double], Seq[Seq[(String, Any)]]) = synchronized {
    def opAt(t: Long): Option[Op] = ops.find(o => o.startMs <= t && t <= o.endMs)
    val jobOp = jobs.flatMap(j => opAt(j.start).map(j -> _))
    val stageJob = jobOp.flatMap { case (j, _) => j.stages.map(_ -> j) }.toMap
    val stageOp = stages.flatMap(s => stageJob.get(s.id).flatMap(j => opAt(j.start)).map(s -> _))
    val tasksBy = tasks.groupBy(_.stage)
    val execOp = execs.flatMap(e => opAt(e.start).map(e -> _))
    def tsum(st: Iterable[StageRec])(f: TaskRec => Long): Long =
      st.toSeq.flatMap(s => tasksBy.getOrElse(s.id, Nil)).map(f).sum
    def dur(s: StageRec): Double = (s.complete - s.submit) / 1e3
    val mb = 1024.0 * 1024.0
    val cliKinds = Set("etl", "merge", "metadata", "store_merge", "export")

    val perOp = ops.map { o =>
      val st = stageOp.collect { case (s, x) if x eq o => s }
      val jb = jobOp.collect { case (j, x) if x eq o => j }
      val ex = execOp.collect { case (e, x) if x eq o => e }
      val tk = st.flatMap(s => tasksBy.getOrElse(s.id, Nil))
      val latMs = (o.latencyS * 1e3).toLong
      val stageCover = covered(st.map(s => (s.submit, s.complete)).toSeq, o.startMs, o.endMs)
      val taskCover = covered(tk.map(t => (t.launch, t.finish)).toSeq, o.startMs, o.endMs)
      (o, st, jb, ex, tk, math.max(0L, latMs - stageCover) / 1e3, math.max(0L, latMs - taskCover) / 1e3)
    }
    val allSt = perOp.flatMap(_._2)
    val allEx = perOp.flatMap(_._4)
    val allTk = perOp.flatMap(_._5)
    def opsOf(kinds: String*) = perOp.filter(p => kinds.contains(p._1.kind))
    val etl = opsOf("etl")
    val etlStages = etl.flatMap(_._2)
    def writes(s: StageRec): Boolean = tsum(Seq(s))(_.outBytes) > 0
    // XenaTsv.write's coalesce(1): the single-task stage that writes a
    // Cli verb's TSV (AQE submits it from a pool thread, so its call
    // site does not name XenaTsv).
    val sinkStages = opsOf("etl", "merge", "export").flatMap(_._2).filter(s => s.tasks == 1 && writes(s))
    val inferJobs = perOp.flatMap(_._3).filter { j =>
      j.callSite.contains("XenaTsv") &&
        tsum(allSt.filter(s => j.stages.contains(s.id)))(_.outBytes) == 0
    }
    val mergeEx = opsOf("merge").flatMap(_._4)
    val store = opsOf("store_merge")
    // the bucketed saveAsTable of the next store version
    val commitStages = store.flatMap(_._2).filter(writes)
    val stateful = progress.filter(_.stateful)

    val m = Map[String, Double](
      "plan.analysis_s" -> allEx.map(_.analysisS).sum,
      "plan.optimizer_s" -> allEx.map(_.optS).sum,
      "plan.physical_s" -> allEx.map(_.planS).sum,
      "codegen.classes" -> codegenClasses.toDouble,
      "codegen.s" -> codegenMs / 1e3,
      "sched.jobs" -> perOp.map(_._3.size).sum.toDouble,
      "sched.stages" -> allSt.size.toDouble,
      "sched.tasks" -> allTk.size.toDouble,
      "exec.driver_gap_s" -> perOp.map(_._6).sum,
      "exec.task_s" -> allTk.map(_.runMs).sum / 1e3,
      "shuffle.write_mb" -> allTk.map(_.shW).sum / mb,
      "shuffle.read_mb" -> allTk.map(_.shR).sum / mb,
      "spill.mb" -> allTk.map(_.spill).sum / mb,
      "mem.peak_exec_mb" -> (if (allTk.isEmpty) 0.0 else allTk.map(_.peak).max / mb),
      "gc.s" -> gcMs / 1e3,
      "cli.idle_s" -> perOp.filter(p => cliKinds(p._1.kind)).map(_._7).sum,
      "transform.input_mb" -> tsum(etlStages)(_.inBytes) / mb,
      "transform.stage_s" -> etlStages.filter(s => tsum(Seq(s))(_.inBytes) > 0).map(dur).sum,
      "transform.shuffle_mb" -> tsum(etlStages)(_.shW) / mb,
      "xenatsv.sink_s" -> sinkStages.map(dur).sum,
      "xenatsv.sink_mb" -> tsum(sinkStages)(_.outBytes) / mb,
      "xenatsv.infer_s" -> inferJobs.map(j => (j.end - j.start) / 1e3).sum,
      "xenaops.merge_s" -> mergeEx.map(_.durS).sum,
      "xenaops.merge_exchanges" -> mergeEx.map(_.exchanges).sum.toDouble,
      "xenaops.merge_sorts" -> mergeEx.map(_.sorts).sum.toDouble,
      "store.commit_s" -> commitStages.map(dur).sum,
      "store.write_mb" -> tsum(commitStages)(_.outBytes) / mb,
      "store.acc_exchanges" -> store.flatMap(_._4).map(_.accSide).sum.toDouble,
      "metadata.s" -> opsOf("metadata").map(_._1.latencyS).sum,
      "streaming.addbatch_s" -> progress.map(_.addBatchMs).sum / 1e3,
      "streaming.commit_s" -> progress.map(_.commitMs).sum / 1e3,
      "streaming.state_rows" -> stateful.lastOption.map(_.stateRows.toDouble).getOrElse(0.0),
      "streaming.state_mb" -> stateful.lastOption.map(_.stateBytes / mb).getOrElse(0.0))

    val records = perOp.map { case (o, st, jb, ex, tk, gap, idle) =>
      Seq[(String, Any)](
        "round" -> o.round, "kind" -> o.kind, "name" -> o.name, "latency_s" -> o.latencyS,
        "ok" -> o.ok, "jobs" -> jb.size, "stages" -> st.size, "tasks" -> tk.size,
        "task_s" -> tk.map(_.runMs).sum / 1e3, "driver_gap_s" -> gap, "idle_s" -> idle,
        "analysis_s" -> ex.map(_.analysisS).sum, "optimizer_s" -> ex.map(_.optS).sum,
        "physical_s" -> ex.map(_.planS).sum, "exchanges" -> ex.map(_.exchanges).sum,
        "sorts" -> ex.map(_.sorts).sum, "acc_scans" -> ex.map(_.accScans).sum,
        "acc_side_exchanges_sorts" -> ex.map(_.accSide).sum, "input_mb" -> tk.map(_.inBytes).sum / mb,
        "output_mb" -> tk.map(_.outBytes).sum / mb, "shuffle_write_mb" -> tk.map(_.shW).sum / mb,
        "shuffle_read_mb" -> tk.map(_.shR).sum / mb,
        "call_sites" -> jb.map(_.callSite).distinct.mkString(" | "))
    }
    (m, records)
  }
}
