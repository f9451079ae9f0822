package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed span: `iteration` → `<query>` → `build` / `action`. Times are
  * epoch milliseconds, the clock Spark's own events use. */
final case class Span(id: Long, name: String, parent: Long, iteration: Int,
    query: String, startMs: Long, endMs: Long)

/** Work the listener saw, charged to the span whose id was the job group
  * when the work was submitted. */
final case class JobRec(group: String, module: String, cut: Boolean,
    startMs: Long, var endMs: Long)
final case class StageRec(group: String, module: String, cut: Boolean, tasks: Int,
    runMs: Long, cpuNs: Long, gcMs: Long, inputBytes: Long, inputRows: Long,
    shuffleWriteBytes: Long, shuffleReadBytes: Long, spillBytes: Long)
final case class TaskRec(group: String, launchMs: Long, finishMs: Long)
final case class BlockRec(group: String, rddId: Int, bytes: Long)
final case class PlanRec(atMs: Long, planMs: Long)

/** Spark listener plus query-execution listener for the traced run. Events
  * arrive on Spark's listener bus thread; readers drain the bus first. */
final class TraceListener extends SparkListener with QueryExecutionListener {
  private val execSite = mutable.Map.empty[Long, String]
  private val stageKey = mutable.Map.empty[Int, (String, String, Boolean)]
  private val rddGroup = mutable.Map.empty[Int, String]
  private val openJobs = mutable.Map.empty[Int, JobRec]
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val stages = mutable.ArrayBuffer.empty[StageRec]
  val tasks = mutable.ArrayBuffer.empty[TaskRec]
  val blocks = mutable.ArrayBuffer.empty[BlockRec]
  val plans = mutable.ArrayBuffer.empty[PlanRec]

  private def group(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse("")

  /** A SQL job's call site is its execution's (jobs that AQE submits from
    * its own threads carry only a thread-pool stack; a nested execution
    * takes its root's); other jobs use the call site recorded on their stage. */
  private def callSite(p: java.util.Properties, stageDetails: => String): String =
    Option(p).flatMap(x => Option(x.getProperty("spark.sql.execution.id")))
      .flatMap(id => execSite.get(id.toLong))
      .getOrElse(stageDetails)

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      execSite(s.executionId) = s.rootExecutionId
        .filter(_ != s.executionId).flatMap(execSite.get)
        .getOrElse(s.details)
    }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val details = e.stageInfos.sortBy(-_.stageId).headOption.map(_.details).getOrElse("")
    val site = callSite(e.properties, details)
    val rec = JobRec(group(e.properties), Stats.module(site), Stats.viaCut(site), e.time, e.time)
    openJobs(e.jobId) = rec
    jobs += rec
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    openJobs.remove(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val g = group(e.properties)
    val site = callSite(e.properties, e.stageInfo.details)
    stageKey(e.stageInfo.stageId) = (g, Stats.module(site), Stats.viaCut(site))
    e.stageInfo.rddInfos.foreach(r => rddGroup.getOrElseUpdate(r.id, g))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val (g, m, cut) = stageKey.getOrElse(i.stageId, ("", "action", false))
    val t = i.taskMetrics
    if (t != null) stages += StageRec(g, m, cut, i.numTasks, t.executorRunTime,
      t.executorCpuTime, t.jvmGCTime, t.inputMetrics.bytesRead,
      t.inputMetrics.recordsRead, t.shuffleWriteMetrics.bytesWritten,
      t.shuffleReadMetrics.totalBytesRead, t.diskBytesSpilled)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val g = stageKey.get(e.stageId).map(_._1).getOrElse("")
    tasks += TaskRec(g, e.taskInfo.launchTime, e.taskInfo.finishTime)
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    b.blockId.asRDDId.filter(_ => b.storageLevel.isValid).foreach { id =>
      blocks += BlockRec(rddGroup.getOrElse(id.rddId, ""), id.rddId,
        b.memSize + b.diskSize)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      val phases = qe.tracker.phases.values
      if (phases.nonEmpty) plans += PlanRec(phases.map(_.endTimeMs).max,
        phases.map(p => p.endTimeMs - p.startTimeMs).sum)
    }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}

/** Per-layer numbers from the spans and the listener's records. Each metric
  * is the median over measured iterations of its per-iteration value; the
  * `<query>.*` metrics are medians over that query's invocations. */
object Layers {

  /** The modules that report per-layer numbers. `label`, `query`, `ingest`
    * and `report` submit no job of their own on these workloads: their lazy
    * work is fused into stages that the final action runs, so it is charged
    * to `action`. `label` is kept (it reads 0) so eager label work would
    * show; the other three are left out. */
  val Modules: Seq[String] = Seq("model", "label", "analytics", "graph",
    "text", "sim", "action")

  private val MB = 1024.0 * 1024.0

  def metrics(spans: Seq[Span], calls: Seq[Call], t: TraceListener,
      iterations: Seq[Int], queries: Seq[String], cores: Int, factRows: Long,
      lshPrecision: Double): Seq[(String, Double, String)] = {
    val byGroup = spans.map(s => s"pb-${s.id}" -> s).toMap
    def spanOf(g: String) = byGroup.get(g)
    def iterOf(g: String) = spanOf(g).map(_.iteration).getOrElse(-1)
    def med(f: Int => Double): Double = Stats.median(iterations.map(f))
    val iterSpan = spans.filter(_.name == "iteration").map(s => s.iteration -> s).toMap
    val leaves = spans.filter(s => s.name == "build" || s.name == "action")

    def jobsIn(i: Int) = t.jobs.filter(j => iterOf(j.group) == i)
    def stagesIn(i: Int) = t.stages.filter(s => iterOf(s.group) == i)
    def sumStages(i: Int)(f: StageRec => Long) = stagesIn(i).map(f).sum.toDouble
    def busyMs(i: Int) = sumStages(i)(_.runMs)
    // The program's time in an iteration is its build and action spans; the
    // harness's own time around them (result fingerprint, progress lines)
    // is query.self_s and iteration.self_s and counts neither as idle nor
    // as wall.
    def programMs(i: Int) = leaves.filter(_.iteration == i).map(l => l.endMs - l.startMs).sum
    def idleMs(i: Int) = leaves.filter(_.iteration == i).map { l =>
      Stats.selfTime((l.startMs, l.endMs), t.tasks
        .filter(x => iterOf(x.group) == i).map(x => (x.launchMs, x.finishMs)).toSeq)
    }.sum
    def plansIn(i: Int) = {
      val ls = leaves.filter(_.iteration == i)
      t.plans.filter(p => ls.exists(l => p.atMs >= l.startMs && p.atMs <= l.endMs))
    }
    def blocksIn(i: Int) = t.blocks.filter(b => iterOf(b.group) == i)

    val spark = Seq(
      ("spark.jobs", med(jobsIn(_).size), "count"),
      ("spark.stages", med(stagesIn(_).size), "count"),
      ("spark.tasks", med(sumStages(_)(_.tasks)), "count"),
      ("spark.idle_s", med(idleMs(_) / 1e3), "s"),
      ("spark.core_util", med(i => busyMs(i) / (programMs(i).toDouble * cores)), "share"),
      ("spark.busy_s", med(busyMs(_) / 1e3), "s"),
      ("spark.cpu_s", med(sumStages(_)(_.cpuNs) / 1e9), "s"),
      ("spark.gc_s", med(sumStages(_)(_.gcMs) / 1e3), "s"),
      ("spark.input_mb", med(sumStages(_)(_.inputBytes) / MB), "MB"),
      ("spark.input_rows", med(sumStages(_)(_.inputRows)), "rows"),
      ("spark.scan_ratio", med(sumStages(_)(_.inputRows) / factRows), "ratio"),
      ("spark.shuffle_write_mb", med(sumStages(_)(_.shuffleWriteBytes) / MB), "MB"),
      ("spark.shuffle_read_mb", med(sumStages(_)(_.shuffleReadBytes) / MB), "MB"),
      ("spark.spill_mb", med(sumStages(_)(_.spillBytes) / MB), "MB"),
      ("catalyst.queries", med(plansIn(_).size), "count"),
      ("catalyst.plan_s", med(plansIn(_).map(_.planMs).sum / 1e3), "s"))

    def layer(name: String, job: JobRec => Boolean, stage: StageRec => Boolean) = Seq(
      (s"$name.jobs", med(jobsIn(_).count(job)), "count"),
      (s"$name.busy_s", med(i => stagesIn(i).filter(stage).map(_.runMs).sum / 1e3), "s"),
      (s"$name.wall_s", med(i => Stats.covered(jobsIn(i).filter(job)
        .map(j => (j.startMs, j.endMs)).toSeq) / 1e3), "s"))
    val modules = Modules.flatMap(m => layer(m, _.module == m, _.module == m)) ++
      layer("PlanProbe", _.cut, _.cut)

    val measured = calls.filter(c => iterations.contains(c.iteration))
    def callJobs(c: Call) = t.jobs.count(j => spanOf(j.group)
      .exists(s => s.iteration == c.iteration && s.query == c.query))
    def perCall(q: String)(f: Call => Double) = {
      val xs = measured.filter(_.query == q).map(f)
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    val perQuery = queries.sorted.flatMap { q =>
      Seq(
        (s"$q.s", perCall(q)(c => c.buildS + c.actionS), "s"),
        (s"$q.build_s", perCall(q)(_.buildS), "s"),
        (s"$q.action_s", perCall(q)(_.actionS), "s"),
        (s"$q.jobs", perCall(q)(callJobs(_).toDouble), "count"))
    }

    val querySpans = spans.filter(s => !Set("iteration", "build", "action")(s.name))
    def selfOfQueries(i: Int) = querySpans.filter(_.iteration == i).map { q =>
      Stats.selfTime((q.startMs, q.endMs), leaves.filter(_.parent == q.id)
        .map(l => (l.startMs, l.endMs)))
    }.sum
    val selves = Seq(
      ("iteration.self_s", med(i => Stats.selfTime(
        (iterSpan(i).startMs, iterSpan(i).endMs),
        spans.filter(s => s.iteration == i && s.parent == iterSpan(i).id)
          .map(s => (s.startMs, s.endMs))) / 1e3), "s"),
      ("query.self_s", med(selfOfQueries(_) / 1e3), "s"))

    val cuts = Seq(
      ("PlanProbe.cuts", med(blocksIn(_).map(_.rddId).distinct.size), "count"),
      ("PlanProbe.cut_mb", med(blocksIn(_).map(_.bytes).sum / MB), "MB"),
      ("text.cc.jobs", perCall("q_cc_chain")(callJobs(_).toDouble), "count"),
      ("text.lsh.precision", lshPrecision, "share"))

    spark ++ modules ++ perQuery ++ selves ++ cuts
  }
}
