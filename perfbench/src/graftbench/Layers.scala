package graftbench

import Main.median

/** The per-layer metrics of a traced run, named `<Module>.<call>.<stat>`
  * after the engine's public calls. A call the workload does not make
  * reads 0. Call statistics are medians over the timed ops' spans; a
  * call made only during set-up (`save`, `clusterLabels`) takes its
  * set-up spans. */
object Layers {

  /** The calls every traced run reports; a workload adds its own
    * (`Workload.calls`). */
  val Calls: Seq[String] = Seq(
    "DedupIndex.index",
    "DedupIndex.maintainClustersFromRows", "DedupIndex.append", "DedupIndex.saveForest",
    "DedupIndex.snapshot", "DedupIndex.expire", "DedupIndex.save", "DedupIndex.clusterLabels",
    "WordCount.counts", "GemmQueries.matC", "BlockGemm.multiply", "TraceExport.toJson")

  /** (stat, unit, better) */
  val Stats: Seq[(String, String, String)] = Seq(
    ("wall_s", "s", "lower"), ("jobs", "count", "lower"), ("tasks", "count", "lower"),
    ("task_cpu_s", "s", "lower"), ("shuffle_mb", "MB", "lower"), ("plan_s", "s", "lower"),
    ("driver_gap_s", "s", "lower"))

  val Others: Seq[(String, String, String)] = Seq(
    ("ConnectedComponents.jobs", "count", "lower"), ("ConnectedComponents.wall_s", "s", "lower"),
    ("op.util", "ratio", "higher"), ("op.gc_s", "s", "lower"), ("op.janino_n", "count", "lower"),
    ("trace.overhead_s", "s", "lower"))

  /** Every per-layer metric of a run making `calls` as (name, unit,
    * better), in report order. */
  def all(calls: Seq[String]): Seq[(String, String, String)] =
    (for (c <- calls; (s, u, b) <- Stats) yield (s"$c.$s", u, b)) ++ Others

  def metrics(t: Tracer, k: Int, h: Harness, wl: Workload): Seq[(String, Double, String)] = {
    val calls = Calls ++ wl.calls
    val stats = t.stats()
    val (opPhase, setup) = stats.partition(_.span.op > 0)
    val perCall = calls.map { c =>
      val pick = Some(opPhase.filter(_.span.name == c)).filter(_.nonEmpty)
        .getOrElse(setup.filter(_.span.name == c))
      c -> pick
    }.toMap
    def stat(cs: Seq[t.CallStats], s: String): Double = median(cs.map { c =>
      s match {
        case "wall_s" => c.span.wallNs / 1e9
        case "jobs" => c.jobs.toDouble
        case "tasks" => c.tasks.toDouble
        case "task_cpu_s" => c.cpuS
        case "shuffle_mb" => c.shuffleMb
        case "plan_s" => c.planS
        case "driver_gap_s" => c.gapS
      }
    })
    val ops = t.opSpans.filter(_.op > 0)
    val byOp = opPhase.groupBy(_.span.op)
    def perOp(f: (Span, Seq[t.CallStats]) => Double): Double =
      median(ops.map(o => f(o, byOp.getOrElse(o.op, Nil))))
    val values: Map[String, Double] =
      (for (c <- calls; (s, _, _) <- Stats) yield s"$c.$s" -> stat(perCall(c), s)).toMap ++ Map(
        "ConnectedComponents.jobs" -> perOp((_, cs) => cs.map(_.ccJobs).sum.toDouble),
        "ConnectedComponents.wall_s" -> perOp((_, cs) => cs.map(_.ccWallS).sum),
        "op.util" -> perOp((o, cs) => cs.map(_.runS).sum / (o.wallNs / 1e9 * k)),
        "op.gc_s" -> perOp((o, _) => o.gcMs / 1e3),
        "op.janino_n" -> perOp((o, _) => o.janino.toDouble),
        "trace.overhead_s" -> (median(h.tracedWalls.toSeq) - median(h.untracedWalls.toSeq)))
    println(f"tracing overhead: traced op p50 ${median(h.tracedWalls.toSeq)}%.4f s " +
      f"(${h.tracedWalls.size} ops) - untraced op p50 ${median(h.untracedWalls.toSeq)}%.4f s " +
      f"(${h.untracedWalls.size} ops) = ${values("trace.overhead_s")}%.4f s")
    all(calls).map { case (n, u, _) => (n, values(n), u) }
  }
}
