package graftbench

import java.io.File
import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.core.CacheScope
import graft.gemm.{BlockGemm, GemmQueries}
import graft.llm.DedupIndex
import graft.trace.TraceExport
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** One benchmark workload: a repeatable day-0 build, the references
  * its checks need, and the op the timed phase repeats. */
abstract class Workload {
  var work: File = _
  /** Day-0 build repetitions timed for setup_s (the last one is served). */
  def setupReps: Int
  /** Untimed ops after set-up that absorb first-call codegen and JIT. */
  def warmups: Int
  def build(h: Harness, rep: Int): Unit
  def prepareChecks(h: Harness): Unit
  def op(h: Harness, counted: Boolean): Unit
  /** Workload-specific end-to-end metrics as (name, value, unit), after
    * the timed phase. It then drops the references the checks keep, so
    * the heap reading that follows holds the engine's state only. */
  def finish(h: Harness): Seq[(String, Double, String)]
  def report(): Seq[String] = Nil
  /** Engine calls this workload makes beyond `Layers.Calls`, reported
    * per layer in its traced runs. */
  val calls: Seq[String] = Nil

  protected def dir(name: String): String = new File(work, name).getAbsolutePath
  protected def readDocs(h: Harness, path: String): DataFrame =
    h.spark.read.schema(Gen.DocSchema).json(path)

  /** Signature lanes of index rows (doc_id, h, mh0..mh15); null when the
    * doc is too short to shingle. */
  protected def lanes(rows: DataFrame): Map[Long, Array[Long]] =
    rows.select(col("doc_id") +: (0 until 16).map(i => col(s"mh$i")): _*).collect().map { r =>
      r.getLong(0) -> (if (r.isNullAt(1)) null else Array.tabulate(16)(i => r.getLong(i + 1)))
    }.toMap

  protected def bytesUnder(path: String): Long = {
    val s = Files.walk(new File(path).toPath)
    try s.iterator.asScala.filter(p => Files.isRegularFile(p)).map(p => Files.size(p)).sum
    finally s.close()
  }
}

object Workload {
  def named(name: String, size: String, seed: Long): Workload = {
    val smoke = size match {
      case "smoke" => true
      case "full" => false
      case other => throw new IllegalArgumentException(s"unknown --size $other")
    }
    name match {
      case "dedup_serve" =>
        if (smoke) new DedupServe(seed, corpus = 500, day = 50)
        else new DedupServe(seed, corpus = 3000, day = 150)
      case "dedup_daily" =>
        if (smoke) new DedupDaily(seed, corpus = 500, day = 50)
        else new DedupDaily(seed, corpus = 3000, day = 150)
      case "mapreduce_core" =>
        if (smoke) new MapReduceCore(seed, lines = 4000, n = 128)
        else new MapReduceCore(seed, lines = 20000, n = 256)
      case other => throw new IllegalArgumentException(s"unknown --workload $other")
    }
  }

  /** Corpus mix: 3% exact and 5% near copies inside the corpus, 4%
    * boilerplate-header docs; each day's batch: 10% exact and 10% near
    * copies of corpus docs, 3% header docs and four syndication pairs. */
  def corpus(seed: Long, n: Int): Gen.Corpus = new Gen.Corpus(seed, n,
    Gen.Mix(exact = 0.03, near = 0.05, header = 0.04),
    Gen.Mix(exact = 0.10, near = 0.10, header = 0.03), syndPairs = 4)
}

/** The dedup workloads' shared set-up: a seeded corpus, the day-0 index
  * built, saved, clustered and snapshotted as version 1, and the exact
  * >= 14/16 graph over the index's lanes that their checks use. */
abstract class DedupWorkload(seed: Long, corpus: Int, day: Int) extends Workload {
  // the day-0 build is the costliest set-up; two repetitions keep the
  // run inside its time budget
  val setupReps = 2
  // the op after a single warm-up day still ran up to 20% slower than
  // the next one (JIT)
  val warmups = 2
  protected var root: String = _
  protected var path: String = _
  protected var gen: Gen.Corpus = _
  protected var exact: Checks.ExactGraph = _
  protected var live = mutable.HashSet[Long]()
  protected var days = 0
  private var liveDocs = 0

  def build(h: Harness, rep: Int): Unit = {
    root = dir(s"dedup-$rep")
    gen = Workload.corpus(seed, corpus)
    Gen.writeDocParts(new File(root, "corpus"), gen.docs, h.cores)
    path = s"$root/index"
    val rows = h.call("DedupIndex.index")(DedupIndex.index(readDocs(h, s"$root/corpus")))
    h.call("DedupIndex.save")(DedupIndex.save(h.spark, rows, path))
    val labels = h.call("DedupIndex.clusterLabels")(
      CacheScope.scoped(DedupIndex.clusterLabels(DedupIndex.load(h.spark, path))))
    h.call("DedupIndex.saveForest")(DedupIndex.saveForest(h.spark, labels, path, gen = 1))
    h.call("DedupIndex.snapshot")(DedupIndex.snapshot(h.spark, path, 1, forestGen = Some(1)))
    days = 0
  }

  def prepareChecks(h: Harness): Unit = {
    exact = new Checks.ExactGraph
    live.clear()
    lanes(h.spark.read.parquet(s"$path/rows.parquet")).toSeq.sortBy(_._1).foreach { case (id, s) =>
      exact.add(id, s)
      live += id
    }
  }

  /** The next day's batch, written as JSON lines. */
  protected def nextBatch(): (Seq[Doc], String) = {
    days += 1
    val docs = gen.batch(days, day)
    val f = new File(root, s"day-$days.jsonl")
    Gen.writeDocs(f, docs)
    (docs, f.getAbsolutePath)
  }

  /** Drops the check references; returns the artifact bytes on disk per
    * live indexed doc. */
  protected def release(): Double = {
    liveDocs = live.size
    gen = null
    exact = null
    live = null
    bytesUnder(path).toDouble / liveDocs
  }

  protected def scale: String =
    s"day-0 corpus $corpus docs, $days days of $day docs (warm-up included), $liveDocs live docs"
}

/** The read path, one batch per op: `loadAt` the pinned day-0 version and
  * `dedupBatch` the batch against it, result collected. The index never
  * changes, so every op serves against the same 3k docs. Not in
  * BENCHMARK.json: the engine's `dedupBatch` over-counts `n_neardup` on
  * the syndication pairs (two batch docs chained through an escalated
  * bucket, ROADMAP open item 1), so most seeds fail `serve.n_neardup`. */
final class DedupServe(seed: Long, corpus: Int, day: Int) extends DedupWorkload(seed, corpus, day) {
  override val calls = Seq("DedupIndex.loadAt", "DedupIndex.dedupBatch")
  private var texts: Set[String] = _
  private var nearSum, refSum = 0L

  override def prepareChecks(h: Harness): Unit = {
    super.prepareChecks(h)
    texts = gen.docs.map(_.text).toSet
  }

  def op(h: Harness, counted: Boolean): Unit = {
    val (docs, f) = nextBatch()
    h.op("dedup_serve", counted) {
      val idx = h.call("DedupIndex.loadAt")(DedupIndex.loadAt(h.spark, path, 1))
      h.call("DedupIndex.dedupBatch")(
        CacheScope.scoped(DedupIndex.dedupBatch(readDocs(h, f), idx)).collect())
    } { served =>
      // the batch's lanes, from the engine's own index build of it
      val truth = Checks.serveTruth(docs, texts, lanes(DedupIndex.index(readDocs(h, f))), exact.index)
      val got = served.toSeq.map(r => Checks.ServeRow(r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      if (counted) {
        nearSum += got.map(_.nNear).sum
        refSum += truth.nearRef.values.sum
      }
      Checks.checkServe(got, truth)
    }
  }

  def finish(h: Harness): Seq[(String, Double, String)] = {
    texts = null
    Seq(
      ("neardup_recall", if (refSum == 0) 1.0 else nearSum.toDouble / refSum, "ratio"),
      ("index_bytes_per_doc", release(), "B/doc"))
  }

  override def report(): Seq[String] = Seq(
    s"serve: $scale; n_neardup $nearSum vs $refSum docs with a >=14/16 indexed partner over the timed batches")
}

/** The write path, one ingest day per op against the index as of the
  * last snapshot: index the batch (cached), maintain the cluster forest,
  * append, save the forest generation, snapshot, expire old versions. */
final class DedupDaily(seed: Long, corpus: Int, day: Int) extends DedupWorkload(seed, corpus, day) {
  private var version = 1

  override def build(h: Harness, rep: Int): Unit = {
    super.build(h, rep)
    version = 1
  }

  def op(h: Harness, counted: Boolean): Unit = {
    val (_, f) = nextBatch()
    val v = version
    h.op("dedup_daily", counted) {
      val rows = h.call("DedupIndex.index") {
        val r = DedupIndex.index(readDocs(h, f)).persist()
        r.count()
        r
      }
      val labels = h.call("DedupIndex.maintainClustersFromRows")(
        CacheScope.scoped(DedupIndex.maintainClustersFromRows(h.spark, path, v, rows)))
      h.call("DedupIndex.append")(DedupIndex.append(h.spark, rows, path))
      h.call("DedupIndex.saveForest")(DedupIndex.saveForest(h.spark, labels, path, gen = v + 1))
      h.call("DedupIndex.snapshot")(DedupIndex.snapshot(h.spark, path, v + 1, forestGen = Some(v + 1)))
      h.call("DedupIndex.expire")(DedupIndex.expire(h.spark, path, keepLast = 2))
      rows
    } { rows =>
      version = v + 1
      val sigs = lanes(rows)
      rows.unpersist()
      sigs.toSeq.sortBy(_._1).foreach { case (id, s) => exact.add(id, s); live += id }
      val labels = h.spark.read.parquet(s"$path/forest.parquet/gen-${v + 1}")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      Checks.checkLabels(labels, live, exact.comps)
    }
  }

  def finish(h: Harness): Seq[(String, Double, String)] =
    Seq(("index_bytes_per_doc", release(), "B/doc"))

  override def report(): Seq[String] = Seq(s"daily: $scale")
}

/** The paper's own surface: WordCount, the reference-shape GEMM, a
  * blocked GEMM on seeded matrices, and the op-trace export. */
final class MapReduceCore(seed: Long, lines: Int, n: Int) extends Workload {
  val setupReps = 3
  // its first op costs 4x a warm one (MLlib and Breeze load and
  // compile), and the next two still trend down
  val warmups = 3
  private val Grid = 8
  private var text, matA, matB: String = _
  private var wantCounts: Map[String, Long] = _
  private var wantMatC: Map[(Long, Long), Long] = _
  private var wantBlocks: Map[(Long, Long), Long] = _
  private var a, b: Array[Int] = _
  private var distinctWords = 0

  def build(h: Harness, rep: Int): Unit = {
    val root = dir(s"mapreduce-$rep")
    text = s"$root/text.txt"
    matA = s"$root/a.csv"
    matB = s"$root/b.csv"
    Gen.writeText(new File(text), seed, lines)
    a = Gen.writeMatrix(new File(matA), seed * 31 + 1, n)
    b = Gen.writeMatrix(new File(matB), seed * 31 + 2, n)
  }

  def prepareChecks(h: Harness): Unit = {
    val src = scala.io.Source.fromFile(text, "UTF-8")
    try wantCounts = Checks.wordCounts(src.getLines())
    finally src.close()
    wantBlocks = Checks.blockSums(a, b, n, Grid)
    wantMatC = Checks.matCReference()
  }

  private def matrix(h: Harness, p: String): DataFrame =
    h.spark.read.schema(Gen.MatrixSchema).csv(p)

  def op(h: Harness, counted: Boolean): Unit = {
    val edge = n / Grid
    h.op("mapreduce_core", counted) {
      val wc = h.call("WordCount.counts")(graft.Graft.wordCount(h.spark, text).counts.collect())
      val c = h.call("GemmQueries.matC")(GemmQueries.matC(h.spark).collect())
      val blocks = h.call("BlockGemm.multiply")(CacheScope.scoped(
        BlockGemm.multiply(h.spark, matrix(h, matA), matrix(h, matB))
          .groupBy(expr(s"i div $edge").as("ib"), expr(s"j div $edge").as("jb"))
          .agg(sum("v").cast("long").as("s"))).collect())
      val json = h.call("TraceExport.toJson") {
        val df = GemmQueries.matC(h.spark)
        val j = TraceExport.toJson(df)
        h.tracer.foreach(_.planOnly(df.queryExecution))
        j
      }
      (wc, c, blocks, json)
    } { case (wc, c, blocks, json) =>
      Checks.checkWordCount(wc.toSeq.map(r => (r.getString(0), r.getLong(1))), wantCounts) ++
        Checks.checkMatC(c.toSeq.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))), wantMatC) ++
        Checks.checkBlockSums(blocks.toSeq.map((r: Row) => (r.getLong(0), r.getLong(1), r.getLong(2))), wantBlocks) ++
        Checks.checkTrace(json)
    }
  }

  def finish(h: Harness): Seq[(String, Double, String)] = {
    distinctWords = wantCounts.size
    wantCounts = null
    wantMatC = null
    wantBlocks = null
    a = null
    b = null
    // keeps no index
    Seq(("index_bytes_per_doc", 1.0, "B/doc"))
  }

  override def report(): Seq[String] = Seq(
    s"mapreduce: WordCount $lines lines ($distinctWords distinct words), matC 128x512x128, " +
      s"BlockGemm ${n}x${n}x$n, trace export of the matC plan")
}
