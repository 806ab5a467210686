package graftbench

import java.io.{File, PrintWriter}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: an op (parent null) or one public engine call inside it.
  * Times are epoch milliseconds, so they line up with listener events;
  * `wallNs` is the precise duration. */
final case class Span(id: String, parent: String, op: Int, name: String,
    startMs: Long, endMs: Long, wallNs: Long, gcMs: Long = 0L, janino: Long = 0L)

/** Spans recorded from outside the engine, around each public call,
  * plus the Spark events that fall inside them. Jobs and their tasks
  * are attributed to a call through the job group set before the call;
  * query-planning phases by the call interval that contains them (the
  * driver issues one call at a time). Everything stays in memory until
  * [[write]] at the end of the run. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer[Span]()

  private final case class JobRec(group: String, start: Long, var end: Long, cc: Boolean)
  private final class TaskAgg { var n = 0L; var runMs = 0L; var cpuNs = 0L; var shuffleBytes = 0L }
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val tasks = new ConcurrentHashMap[String, TaskAgg]()
  private val plans = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
  private val events = new java.util.concurrent.atomic.AtomicLong()

  private val GroupKey = "spark.jobGroup.id"

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      events.incrementAndGet()
      val g = Option(e.properties).map(_.getProperty(GroupKey)).orNull
      if (g != null && g.startsWith(Tracer.Prefix)) {
        // a job runs inside ConnectedComponents when that module is on
        // the call-site stack Spark records for its stages
        val cc = e.stageInfos.exists(_.details.contains("graft.ops.ConnectedComponents"))
        jobs.put(e.jobId, JobRec(g, e.time, -1L, cc))
        e.stageIds.foreach(s => stageGroup.put(s, g))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      events.incrementAndGet()
      val j = jobs.get(e.jobId)
      if (j != null) j.end = e.time
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val g = Option(e.properties).map(_.getProperty(GroupKey)).orNull
      if (g != null && g.startsWith(Tracer.Prefix)) stageGroup.put(e.stageInfo.stageId, g)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      events.incrementAndGet()
      val g = stageGroup.get(e.stageId)
      if (g != null && e.taskMetrics != null) {
        val a = tasks.computeIfAbsent(g, _ => new TaskAgg)
        val m = e.taskMetrics
        a.synchronized {
          a.n += 1
          a.runMs += m.executorRunTime
          a.cpuNs += m.executorCpuTime
          a.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      events.incrementAndGet()
      addPhases(qe)
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  sc.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  private var callSeq = 0

  /** Run `f` as call `name` of op `op`, under its own job group. */
  def call[T](op: Int, name: String)(f: => T): T = {
    callSeq += 1
    val id = s"${Tracer.Prefix}$op.$callSeq"
    sc.setJobGroup(id, name, interruptOnCancel = false)
    val (ms, ns) = (System.currentTimeMillis(), System.nanoTime())
    try f
    finally {
      val wall = System.nanoTime() - ns
      sc.clearJobGroup()
      spans.synchronized { spans += Span(id, s"${Tracer.Prefix}$op", op, name, ms, ms + wall / 1000000L, wall) }
    }
  }

  /** Record the op span itself. */
  def op(op: Int, name: String, startMs: Long, wallNs: Long, gcMs: Long, janino: Long): Unit =
    spans.synchronized {
      spans += Span(s"${Tracer.Prefix}$op", null, op, name, startMs, startMs + wallNs / 1000000L,
        wallNs, gcMs, janino)
    }

  /** Planning time of a plan that was built but never executed: no
    * QueryExecutionListener event fires for it. */
  def planOnly(qe: QueryExecution): Unit = addPhases(qe)

  /** Each planning phase (analysis, optimization, planning) is charged
    * to the call whose interval contains its start. */
  private def addPhases(qe: QueryExecution): Unit =
    qe.tracker.phases.values.foreach(p => plans.add((p.startTimeMs, p.endTimeMs - p.startTimeMs)))

  /** Wait until the asynchronous listener bus has gone quiet. */
  def drain(): Unit = {
    var last = -1L
    var quiet = 0
    val deadline = System.currentTimeMillis() + 10000L
    while (quiet < 3 && System.currentTimeMillis() < deadline) {
      Thread.sleep(100)
      val open = jobs.values.asScala.count(_.end < 0)
      val seen = events.get
      if (seen == last && open == 0) quiet += 1 else quiet = 0
      last = seen
    }
  }

  def close(): Unit = {
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Per-call statistics, attributed to one span. */
  final case class CallStats(span: Span, jobs: Int, tasks: Long, runS: Double, cpuS: Double,
      shuffleMb: Double, planS: Double, gapS: Double, ccJobs: Int, ccWallS: Double)

  private def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS, curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  def stats(): Seq[CallStats] = {
    val js = jobs.values.asScala.toSeq
    val byGroup = js.groupBy(_.group)
    val planList = plans.asScala.toSeq
    val callSpans = spans.filter(_.parent != null).toSeq
    callSpans.map { s =>
      val mine = byGroup.getOrElse(s.id, Nil)
      val iv = mine.map(j => (math.max(j.start, s.startMs), math.min(if (j.end < 0) s.endMs else j.end, s.endMs)))
        .filter { case (a, b) => b > a }
      val ccIv = mine.filter(_.cc).map(j => (j.start, if (j.end < 0) s.endMs else j.end))
      val t = Option(tasks.get(s.id))
      val planMs = planList.filter { case (st, _) => st >= s.startMs && st <= s.endMs }.map(_._2).sum
      CallStats(s, mine.size, t.map(_.n).getOrElse(0L), t.map(_.runMs / 1e3).getOrElse(0.0),
        t.map(_.cpuNs / 1e9).getOrElse(0.0), t.map(_.shuffleBytes / 1048576.0).getOrElse(0.0),
        planMs / 1e3, math.max(0.0, s.wallNs / 1e9 - unionMs(iv) / 1e3),
        mine.count(_.cc), unionMs(ccIv) / 1e3)
    }
  }

  def opSpans: Seq[Span] = spans.filter(_.parent == null).toSeq

  /** Write every span, one JSON object per line. */
  def write(f: File, k: Int): Unit = {
    f.getParentFile.mkdirs()
    val all = stats()
    val st = all.map(c => c.span.id -> c).toMap
    val opRun = all.groupBy(_.span.op).map { case (o, cs) => o -> cs.map(_.runS).sum }
    val w = new PrintWriter(f, "UTF-8")
    try spans.foreach { s =>
      val base = s"""{"span":"${s.id}","parent":${Option(s.parent).map(p => "\"" + p + "\"").getOrElse("null")},""" +
        s""""op":${s.op},"name":"${s.name}","start_ms":${s.startMs},"end_ms":${s.endMs},"wall_s":${s.wallNs / 1e9}"""
      val extra = st.get(s.id) match {
        case Some(c) =>
          s""","jobs":${c.jobs},"tasks":${c.tasks},"task_cpu_s":${c.cpuS},"shuffle_mb":${c.shuffleMb},""" +
            s""""plan_s":${c.planS},"driver_gap_s":${c.gapS},"cc_jobs":${c.ccJobs},"cc_wall_s":${c.ccWallS}"""
        case None =>
          s""","util":${opRun.getOrElse(s.op, 0.0) / (s.wallNs / 1e9 * k)},"gc_s":${s.gcMs / 1e3},"janino_n":${s.janino}"""
      }
      w.println(base + extra + "}")
    } finally w.close()
  }
}

object Tracer {
  val Prefix = "bench-op-"
}
