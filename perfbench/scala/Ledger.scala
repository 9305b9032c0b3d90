package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

import scala.collection.mutable

/** Spans plus a SparkListener ledger of jobs and tasks, kept in memory
  * and summarised when the traced run ends.
  *
  * Every timestamp is wall-clock milliseconds, the clock Spark stamps its
  * job events with, so span and job intervals compare directly. With one
  * client, a job belongs to the span it starts in, whatever thread ran
  * it, so jobs that `Jobs.par2` or the DFL pool launch on helper threads
  * are attributed by time. Busy time is the measure of the union of job
  * intervals clipped to the span, so overlapping jobs count once and the
  * driver gap (span wall minus busy) can never go negative.
  *
  * The SQL plans the engine runs name their shuffle exchanges, so the
  * records each exchange writes are kept per exchange: a workload can
  * count the rows of one exchange, such as a candidate-pair stream,
  * apart from the other shuffles in its span. */
final class Ledger extends SparkListener {
  import Ledger._

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stageTasks = mutable.HashMap.empty[Int, TaskAgg]
  private val stagesDone = mutable.HashMap.empty[Int, Int]
  private val spans = mutable.ArrayBuffer.empty[Span]
  /** Accumulator id of each exchange's written-records metric -> the
    * exchange's plan string, without expression and plan ids. */
  private val exchanges = mutable.HashMap.empty[Long, String]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => addExchanges(s.sparkPlanInfo)
    case u: SparkListenerSQLAdaptiveExecutionUpdate => addExchanges(u.sparkPlanInfo)
    case _ =>
  }

  private def addExchanges(p: SparkPlanInfo): Unit = synchronized {
    if (p.nodeName == "Exchange")
      p.metrics.filter(_.name == RecordsWritten).foreach(m =>
        exchanges(m.accumulatorId) = plainPlan(p.simpleString))
    p.children.foreach(addExchanges)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val desc = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
    jobs(e.jobId) = Job(e.jobId, e.time, -1L, desc)
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(end = e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).foreach(j =>
      stagesDone(j) = stagesDone.getOrElse(j, 0) + 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val a = stageTasks.getOrElseUpdate(e.stageId, new TaskAgg)
      a.tasks += 1
      a.cpuNs += m.executorCpuTime
      a.runMs += m.executorRunTime
      a.gcMs += m.jvmGCTime
      a.inputBytes += m.inputMetrics.bytesRead
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.durationsMs += e.taskInfo.duration
      e.taskInfo.accumulables.foreach { acc =>
        if (acc.name.contains(RecordsWritten)) acc.update.foreach(v =>
          a.accumRecords(acc.id) = a.accumRecords.getOrElse(acc.id, 0L) + v.toString.toLong)
      }
    }
  }

  /** Runs `body` inside a span; returns its result. */
  def span[T](name: String, parent: String = "", request: String = "")(body: => T): T = {
    val t0 = System.currentTimeMillis()
    try body finally {
      val t1 = System.currentTimeMillis()
      synchronized { spans += Span(name, t0, t1, parent, request) }
    }
  }

  def allSpans: Seq[Span] = synchronized(spans.toList)

  /** Job, task and phase totals over the given spans. */
  def summarise(over: Seq[Span]): Summary = synchronized {
    val s = new Summary
    over.foreach { sp =>
      val inside = jobs.values.filter(j =>
        j.start >= sp.start && j.start <= sp.end && j.end >= 0).toSeq
      val iv = inside.map(j => (j.start, math.min(j.end, sp.end)))
      val busy = unionMs(iv)
      s.wallMs += sp.end - sp.start
      s.busyMs += busy
      s.overlapMs += overlapMs(iv)
      s.jobs += inside.size
      inside.groupBy(j => phaseOf(j.desc)).foreach { case (ph, js) =>
        val p = s.phases.getOrElseUpdate(ph, new PhaseAgg)
        p.jobs += js.size
        p.busyMs += unionMs(js.map(j => (j.start, math.min(j.end, sp.end))))
      }
      val ids = inside.map(_.id).toSet
      stageJob.iterator.filter { case (_, j) => ids.contains(j) }.foreach {
        case (st, _) => stageTasks.get(st).foreach(s.tasks.add)
      }
      inside.foreach(j => s.stages += stagesDone.getOrElse(j.id, 0))
    }
    s.tasks.accumRecords.foreach { case (id, n) =>
      exchanges.get(id).foreach(x =>
        s.exchangeRecords(x) = s.exchangeRecords.getOrElse(x, 0L) + n)
    }
    s
  }
}

object Ledger {
  final case class Job(id: Int, start: Long, end: Long, desc: String)
  final case class Span(name: String, start: Long, end: Long, parent: String,
      request: String)

  final class TaskAgg {
    var tasks = 0L
    var cpuNs = 0L
    var runMs = 0L
    var gcMs = 0L
    var inputBytes = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var shuffleWriteRecords = 0L
    var spill = 0L
    val durationsMs = mutable.ArrayBuffer.empty[Long]
    /** Records written, per exchange metric accumulator id. */
    val accumRecords = mutable.HashMap.empty[Long, Long]

    def add(o: TaskAgg): Unit = {
      tasks += o.tasks; cpuNs += o.cpuNs; runMs += o.runMs; gcMs += o.gcMs
      inputBytes += o.inputBytes; shuffleRead += o.shuffleRead
      shuffleWrite += o.shuffleWrite; shuffleWriteRecords += o.shuffleWriteRecords
      spill += o.spill; durationsMs ++= o.durationsMs
      o.accumRecords.foreach { case (id, n) =>
        accumRecords(id) = accumRecords.getOrElse(id, 0L) + n }
    }
  }

  final class PhaseAgg { var jobs = 0L; var busyMs = 0L }

  final class Summary {
    var wallMs = 0L
    var busyMs = 0L
    var overlapMs = 0L
    var jobs = 0L
    var stages = 0L
    val tasks = new TaskAgg
    val phases = mutable.LinkedHashMap.empty[String, PhaseAgg]
    /** Records written per exchange plan string (see [[plainPlan]]). */
    val exchangeRecords = mutable.HashMap.empty[String, Long]
    def gapMs: Long = wallMs - busyMs
  }

  /** Name of the SQL metric of the records a shuffle exchange writes. */
  val RecordsWritten = "shuffle records written"

  /** A plan node string without its expression ids (`#12L`) and plan id,
    * so it reads the same in every run: `Exchange hashpartitioning(id_a,
    * id_b, 4), ENSURE_REQUIREMENTS`. */
  def plainPlan(s: String): String =
    s.replaceAll("#\\d+L?", "").replaceAll(",? *\\[plan_id=\\d+\\]", "").trim

  /** The phase labels the engine sets with `Jobs.labeled`, by prefix of
    * the job description. */
  val Phases: Seq[(String, String)] = Seq(
    "gram:" -> "gram_scan",
    "irls:" -> "irls_pass",
    "rank-pick:" -> "rank_pick",
    "prefix-sum:" -> "prefix_sum",
    "equity:" -> "equity_sums",
    "rif: grouped moments" -> "rif_moments",
    "rif: one-point density" -> "rif_density",
    "kde:" -> "kde_grid",
    "silverman:" -> "kde_grid",
    "heckman:" -> "heckman_selection",
    "dfl:" -> "dfl")

  val PhaseNames: Seq[String] = Phases.map(_._2).distinct :+ "unlabeled"

  def phaseOf(desc: String): String =
    Phases.collectFirst { case (p, n) if desc.startsWith(p) => n }
      .getOrElse("unlabeled")

  /** Measure of the union of [start, end] intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a > curE) { total += curE - curS; curS = a; curE = b }
      else if (b > curE) curE = b
    }
    total + (curE - curS)
  }

  /** Measure of the time covered by at least two intervals. */
  def overlapMs(iv: Seq[(Long, Long)]): Long = {
    val ev = iv.filter { case (a, b) => b > a }
      .flatMap { case (a, b) => Seq((a, 1), (b, -1)) }.sortBy(e => (e._1, e._2))
    var depth = 0
    var last = 0L
    var total = 0L
    ev.foreach { case (t, d) =>
      if (depth >= 2) total += t - last
      depth += d
      last = t
    }
    total
  }

  /** Registers a fresh ledger on the session's listener bus. */
  def attach(spark: SparkSession): Ledger = {
    val l = new Ledger
    spark.sparkContext.addSparkListener(l)
    l
  }

  /** Waits until the listener bus has delivered every posted event. */
  def drain(spark: SparkSession): Unit =
    org.apache.spark.PerfbenchAccess.drainListeners(spark.sparkContext)
}
