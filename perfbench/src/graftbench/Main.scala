package graftbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Command line: `--workload W --seed N --seconds S --trace 0|1
  * --size full|smoke --work DIR --spans FILE --result FILE`.
  * Runs one workload in one JVM through `Graft.session(k)`, one driver
  * thread issuing ops in a closed loop, and writes the result JSON. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      size: String, work: File, spans: File, result: File, cores: Int)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      m.getOrElse("size", "full"), new File(need("work")), new File(need("spans")),
      new File(need("result")), m.getOrElse("cores", "4").toInt)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val wl = Workload.named(a.workload, a.size, a.seed)
    val t0 = System.nanoTime()
    val spark = graft.Graft.session(a.cores)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val code =
      try { run(a, wl, spark, sessionS); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
      finally spark.stop()
    // an idle pool thread would otherwise hold the JVM open for ~20 s
    System.exit(code)
  }

  val MinOps = 2

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else s(math.min(s.size - 1, math.ceil(p * s.size).toInt - 1).max(0))
  }

  def run(a: Args, wl: Workload, spark: SparkSession, sessionS: Double): Unit = {
    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    val h = new Harness(spark, a.cores, tracer)
    wl.work = a.work
    a.work.mkdirs()

    // set-up: the day-0 build, repeated; the last repetition is served
    val buildS = (0 until wl.setupReps).map(r => h.setup(r, s"${a.workload}.setup")(wl.build(h, r)))
    val tc = System.nanoTime()
    wl.prepareChecks(h)
    val checksS = (System.nanoTime() - tc) / 1e9
    val tw = System.nanoTime()
    (0 until wl.warmups).foreach(_ => wl.op(h, counted = false))
    val warmupS = (System.nanoTime() - tw) / 1e9
    val setupS = sessionS + median(buildS) + warmupS

    // timed phase: closed loop, one op at a time, for `seconds` and at
    // least MinOps ops, so every run has a median; a traced run ends on
    // a whole ABBA cycle (see Harness.op)
    val start = System.nanoTime()
    while ((System.nanoTime() - start) / 1e9 < a.seconds || h.attempted < MinOps ||
        (a.trace && h.attempted % Harness.Cycle != 0))
      wl.op(h, counted = true)
    val phaseS = (System.nanoTime() - start) / 1e9

    // finish drops the checks' references, so the heap reading holds
    // the engine's state only
    val extra = wl.finish(h)
    // Spark frees blocks of collected shuffles and broadcasts from a
    // cleaner thread after a GC finds them unreachable, so collect until
    // the cleaner has caught up and keep the smallest reading
    val heapMb = (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(300)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
    val walls = h.opWalls.toSeq

    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("wall_s", if (walls.isEmpty) 0.0 else walls.sum / walls.size, "s"),
      ("op_p50_s", median(walls), "s"),
      ("heap_live_mb", heapMb, "MB")) ++ extra

    println(f"workload ${a.workload} size ${a.size} seed ${a.seed} cores ${a.cores} trace ${if (a.trace) 1 else 0}")
    println(f"setup: session ${sessionS}%.3f s, day-0 build ${buildS.map(b => f"$b%.3f").mkString("/")} s " +
      f"(median of ${buildS.size}), warm-up ${warmupS}%.3f s over ${wl.warmups} ops; " +
      f"check references ${checksS}%.3f s (not set-up); JVM up ${ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f s")
    println(f"timed phase ${phaseS}%.3f s: ${h.attempted} ops attempted, ${h.failed} failed, " +
      f"failed_ops ${if (h.attempted == 0) 0.0 else h.failed.toDouble / h.attempted}%.4f; " +
      f"op latency p50 ${median(walls)}%.4f s p90 ${pct(walls, 0.9)}%.4f s max ${if (walls.isEmpty) 0.0 else walls.max}%.4f s over ${walls.size} ops")
    println("op walls (s): " + walls.map(w => f"$w%.3f").mkString(" "))
    h.failures.foreach { case (check, n) => println(s"failed check $check: $n ops (first: ${h.firstFailure(check)})") }
    wl.report().foreach(println)

    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) e2e
      else {
        val t = tracer.get
        t.drain()
        t.write(a.spans, a.cores)
        println(s"spans written to ${a.spans.getPath}")
        val layer = Layers.metrics(t, a.cores, h, wl)
        t.close()
        layer
      }
    if (a.trace) {
      println("end-to-end (traced run; the untraced run reports these):")
      e2e.foreach { case (n, v, u) => println(f"  $n%-24s $v%.6f $u") }
    }
    println("metrics:")
    metrics.foreach { case (n, v, u) => println(f"  $n%-50s $v%.6f $u") }

    val json = metrics.map { case (n, v, u) => s""""$n": {"value": ${jnum(v)}, "unit": "$u"}""" }
      .mkString("{", ", ", "}")
    val correct = h.failed == 0 && h.attempted > 0
    val out = s"""{"correct": $correct, "attempted": ${h.attempted}, "failed": ${h.failed}, "metrics": $json}"""
    a.result.getParentFile.mkdirs()
    java.nio.file.Files.write(a.result.toPath, out.getBytes("UTF-8"))
  }

  private def jnum(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}

/** Op accounting, shared by every workload: times each op, runs its
  * check outside the timing, counts failures by check name, and routes
  * engine calls through the tracer when tracing. In a traced run the
  * timed ops alternate traced and untraced in ABBA order (traced,
  * untraced, untraced, traced, ...), so the run measures its own
  * overhead and a cost that grows from op to op (the daily index) falls
  * equally on both sides. */
final class Harness(val spark: SparkSession, val cores: Int, val tracer: Option[Tracer]) {
  var attempted = 0
  var failed = 0
  val opWalls = mutable.ArrayBuffer[Double]()
  val tracedWalls = mutable.ArrayBuffer[Double]()
  val untracedWalls = mutable.ArrayBuffer[Double]()
  val failures = mutable.LinkedHashMap[String, Int]()
  private val first = mutable.HashMap[String, String]()
  def firstFailure(check: String): String = first.getOrElse(check, "")

  private var opSeq = 0
  private var current = 0
  private var tracing = false

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum
  private def janino(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** One public engine call of the current op or set-up repetition. */
  def call[T](name: String)(f: => T): T = tracer match {
    case Some(t) if tracing => t.call(current, name)(f)
    case _ => f
  }

  /** Run set-up repetition `rep`, traced as op -(rep + 1) so set-up-only
    * calls (`save`, `clusterLabels`) get layer numbers; returns seconds. */
  def setup(rep: Int, name: String)(f: => Unit): Double = {
    current = -(rep + 1)
    tracing = tracer.isDefined
    val (g0, j0, ms) = (gcMs(), janino(), System.currentTimeMillis())
    val t0 = System.nanoTime()
    try f finally tracing = false
    val wall = System.nanoTime() - t0
    tracer.foreach(_.op(current, name, ms, wall, gcMs() - g0, janino() - j0))
    wall / 1e9
  }

  /** Run one op: `timed` is measured, `check` is not. Returns whether
    * the op passed. */
  def op[R](name: String, counted: Boolean)(timed: => R)(check: R => Seq[String]): Boolean = {
    opSeq += 1
    current = opSeq
    val phase = attempted % Harness.Cycle
    tracing = tracer.isDefined && counted && (phase == 0 || phase == Harness.Cycle - 1)
    val traced = tracing
    val (g0, j0, ms) = (gcMs(), janino(), System.currentTimeMillis())
    val t0 = System.nanoTime()
    val res: Either[String, R] =
      try Right(timed)
      catch { case e: Throwable => Left(s"op.exception: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}") }
    val wall = System.nanoTime() - t0
    if (tracing) tracer.get.op(current, name, ms, wall, gcMs() - g0, janino() - j0)
    tracing = false
    val problems = res match {
      case Left(err) => Seq(err)
      case Right(r) =>
        try check(r)
        catch { case e: Throwable => Seq(s"check.exception: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}") }
    }
    if (counted) {
      attempted += 1
      if (res.isRight) {
        opWalls += wall / 1e9
        if (tracer.isDefined) (if (traced) tracedWalls else untracedWalls) += wall / 1e9
      }
      if (problems.nonEmpty) {
        failed += 1
        problems.map(p => p.takeWhile(_ != ':') -> p).toMap.foreach { case (c, p) =>
          failures(c) = failures.getOrElse(c, 0) + 1
          first.getOrElseUpdate(c, p)
        }
      }
    }
    problems.isEmpty
  }
}

object Harness {
  /** Length of the traced run's ABBA cycle of traced and untraced ops. */
  val Cycle = 4
}
