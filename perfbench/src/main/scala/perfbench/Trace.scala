package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.{PerfbenchBridge, SparkSession}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

import scala.collection.mutable

/** Scheduler, executor, shuffle and memory counters of one job group. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var tasksOk = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleWriteB = 0L
  var shuffleReadB = 0L
  var spillB = 0L
  var outputB = 0L
  var planMs = 0L
  /** (launch, finish) epoch millis of every finished task. */
  val taskSpans = mutable.ArrayBuffer.empty[(Long, Long)]

  def +=(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; tasksOk += o.tasksOk
    runMs += o.runMs; gcMs += o.gcMs; shuffleWriteB += o.shuffleWriteB
    shuffleReadB += o.shuffleReadB; spillB += o.spillB; outputB += o.outputB
    planMs += o.planMs; taskSpans ++= o.taskSpans
  }

  /** Wall millis within [from, to] during which at least one task ran. */
  def busyMs(from: Long, to: Long): Long = {
    var busy = 0L
    var end = from
    taskSpans.map { case (a, b) => (a max from, b min to) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
      .foreach { case (a, b) =>
        if (b > end) { busy += b - (a max end); end = b }
      }
    busy
  }
}

/** A named interval around one call; `parent` is -1 for a root span. */
final case class Span(id: Int, parent: Int, name: String, group: String,
    startMs: Long, endMs: Long) {
  def sec: Double = (endMs - startMs) / 1000.0
}

/** Benchmark-side tracer. A `SparkListener` attributes every job, stage
  * and task to the job group that was active when the job started, and
  * the planning time of every SQL execution to the group that ran it;
  * `span` records a named interval around a call into a library module
  * and gives the call its own job group. Nothing inside the library is
  * instrumented. */
final class Tracer(spark: SparkSession) extends SparkListener {
  private val sc = spark.sparkContext
  private val groups = mutable.Map.empty[String, Counters]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val sqlGroup = mutable.Map.empty[Long, String]
  /** Totals kept independently of the per-group map, so the two can be
    * cross-checked (`consistent`). */
  val total = new Counters
  @volatile private var callbackNanos = 0L
  private var drainNanos = 0L

  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[(Int, String)]
  private var nextId = 0

  sc.addSparkListener(this)

  private def timed(body: => Unit): Unit = synchronized {
    val t0 = System.nanoTime()
    body
    callbackNanos += System.nanoTime() - t0
  }

  private def countersOf(group: String): Counters = groups.getOrElseUpdate(group, new Counters)
  private val NoGroup = "(none)"

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse(NoGroup)
    e.stageInfos.foreach(s => stageGroup(s.stageId) = g)
    countersOf(g).jobs += 1
    total.jobs += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
    countersOf(stageGroup.getOrElse(e.stageInfo.stageId, NoGroup)).stages += 1
    total.stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val c = countersOf(stageGroup.getOrElse(e.stageId, NoGroup))
    Seq(c, total).foreach { t =>
      t.tasks += 1
      if (e.taskInfo.successful) t.tasksOk += 1
      t.taskSpans += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
      Option(e.taskMetrics).foreach { m =>
        t.runMs += m.executorRunTime
        t.gcMs += m.jvmGCTime
        t.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        t.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
        t.spillB += m.diskBytesSpilled
        t.outputB += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      timed { sqlGroup(s.executionId) = s.jobGroupId.getOrElse(NoGroup) }
    case end: SparkListenerSQLExecutionEnd =>
      timed {
        val g = sqlGroup.remove(end.executionId).getOrElse(NoGroup)
        PerfbenchBridge.queryExecution(end).foreach { qe =>
          val ms = Seq("analysis", "optimization", "planning")
            .flatMap(qe.tracker.phases.get).map(_.durationMs).sum
          countersOf(g).planMs += ms
          total.planMs += ms
        }
      }
    case _ =>
  }

  /** Wait until every event posted so far has reached this listener. */
  def drain(): Unit = {
    val t0 = System.nanoTime()
    PerfbenchBridge.drainListenerBus(sc)
    drainNanos += System.nanoTime() - t0
  }

  /** Run `body` as a named span with its own job group. */
  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val group = s"$name#$id"
    val parent = stack.headOption
    stack = (id, group) :: stack
    sc.setJobGroup(group, name, interruptOnCancel = false)
    val t0 = System.currentTimeMillis()
    try body
    finally {
      val t1 = System.currentTimeMillis()
      stack = stack.tail
      parent match {
        case Some((_, g)) => sc.setJobGroup(g, g, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
      spans += Span(id, parent.map(_._1).getOrElse(-1), name, group, t0, t1)
      if (parent.isEmpty) drain()
    }
  }

  /** Counters of one span's own group (not its children's). */
  def own(s: Span): Counters = synchronized(groups.getOrElse(s.group, new Counters))

  /** Counters of a span and all its descendants. */
  def inclusive(s: Span): Counters = {
    val c = new Counters
    c += own(s)
    spans.filter(_.parent == s.id).foreach(ch => c += inclusive(ch))
    c
  }

  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq
  def roots: Seq[Span] = spans.filter(_.parent < 0).toSeq

  /** True when the per-group sums equal the listener's totals. */
  def consistent: Boolean = synchronized {
    val sum = new Counters
    groups.values.foreach(sum += _)
    sum.jobs == total.jobs && sum.stages == total.stages && sum.tasks == total.tasks &&
      sum.tasksOk == total.tasksOk && sum.runMs == total.runMs &&
      sum.shuffleWriteB == total.shuffleWriteB && sum.shuffleReadB == total.shuffleReadB &&
      sum.spillB == total.spillB && sum.planMs == total.planMs
  }

  /** Share of `wallMs` the tracer spent in listener callbacks and in
    * waiting for the listener bus. */
  def overhead(wallMs: Long): Double =
    if (wallMs <= 0) 0.0 else (callbackNanos + drainNanos) / 1e6 / wallMs

  /** Megabytes of cached RDD blocks right now (memory and disk). */
  def cachedMb: Double =
    sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6

  def toJson: Map[String, Any] = {
    val rows = spans.sortBy(_.id).map { s =>
      val c = own(s)
      Map(
        "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "group" -> s.group,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "jobs" -> c.jobs,
        "stages" -> c.stages, "tasks" -> c.tasks, "run_ms" -> c.runMs,
        "shuffle_write_b" -> c.shuffleWriteB, "spill_b" -> c.spillB,
        "plan_ms" -> c.planMs)
    }
    val sum = new Counters
    synchronized(groups.values.foreach(sum += _))
    def counts(c: Counters) = Map("jobs" -> c.jobs, "stages" -> c.stages,
      "tasks" -> c.tasks, "run_ms" -> c.runMs, "plan_ms" -> c.planMs)
    Map("spans" -> rows.toSeq, "groups_sum" -> counts(sum), "totals" -> counts(total),
      "consistent" -> consistent)
  }
}

/** JSON rendering of perfbench.Main's result and trace files. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  def render(v: Any): String = mapper.writeValueAsString(v)
}
