package graftbench

import java.io.File
import java.nio.file.Files

/** Tests of the benchmark itself, no Spark needed:
  *  - the generator writes identical bytes for the same seed, and
  *    different bytes for another seed;
  *  - every checker passes the exact result and rejects a deliberately
  *    wrong one, and the op accounting counts that op as failed under
  *    the check's name.
  * Usage: `graftbench.SelfTest <scratch dir>`; exits 1 on any failure. */
object SelfTest {
  private var bad = 0
  private def expect(cond: Boolean, what: String): Unit =
    if (cond) println(s"ok   $what") else { bad += 1; println(s"FAIL $what") }

  private def generate(dir: File, seed: Long): Seq[File] = {
    val c = Workload.corpus(seed, 300)
    val fs = Seq("corpus.jsonl", "batch.jsonl", "text.txt", "a.csv").map(new File(dir, _))
    Gen.writeDocs(fs(0), c.docs)
    Gen.writeDocs(fs(1), c.batch(3, 60))
    Gen.writeText(fs(2), seed, 200)
    Gen.writeMatrix(fs(3), seed, 32)
    fs
  }

  /** Runs `result` through the harness's op accounting with `check`. */
  private def counted[R](result: => R)(check: R => Seq[String]): Harness = {
    val h = new Harness(null, 4, None)
    h.op("selftest", counted = true)(result)(check)
    h
  }

  def main(argv: Array[String]): Unit = {
    val root = new File(argv.headOption.getOrElse(sys.error("usage: SelfTest <scratch dir>")))
    val (a, b, c) = (generate(new File(root, "a"), 7), generate(new File(root, "b"), 7),
      generate(new File(root, "c"), 8))
    a.zip(b).foreach { case (x, y) =>
      expect(java.util.Arrays.equals(Files.readAllBytes(x.toPath), Files.readAllBytes(y.toPath)),
        s"seed 7 twice gives identical ${x.getName}")
    }
    a.zip(c).foreach { case (x, y) =>
      expect(!java.util.Arrays.equals(Files.readAllBytes(x.toPath), Files.readAllBytes(y.toPath)),
        s"seeds 7 and 8 give different ${x.getName}")
    }

    // serve check: two indexed signatures; batch docs 10 (exact copy of
    // 1), 11 (15/16 of 1), 12 (8/16 of 2: not near)
    val s1 = Array.tabulate(16)(i => 100L + i)
    val s2 = Array.tabulate(16)(i => 200L + i)
    val idx = new Checks.BandIndex
    idx.add(1, s1); idx.add(2, s2)
    val near = s1.clone(); near(15) = 999L
    val far = s2.clone(); (0 until 8).foreach(i => far(i) = 900L + i)
    val docs = Seq(Doc(10, "en", "t1"), Doc(11, "en", "t1x"), Doc(12, "de", "t3"))
    val truth = Checks.serveTruth(docs, Set("t1", "t2"), Map(10L -> s1, 11L -> near, 12L -> far), idx)
    val right = Seq(Checks.ServeRow("de", 1, 0, 0), Checks.ServeRow("en", 2, 1, 2))
    expect(Checks.checkServe(right, truth).isEmpty, "serve check passes the exact result")
    val overNear = Seq(Checks.ServeRow("de", 1, 0, 1), Checks.ServeRow("en", 2, 1, 2))
    val h1 = counted(overNear)(Checks.checkServe(_, truth))
    expect(h1.failed == 1 && h1.failures.contains("serve.n_neardup"),
      "serve: an n_neardup above the reference counts as a failed op")
    val wrongExact = Seq(Checks.ServeRow("de", 1, 0, 0), Checks.ServeRow("en", 2, 2, 2))
    expect(counted(wrongExact)(Checks.checkServe(_, truth)).failures.contains("serve.n_exact_dup"),
      "serve: a wrong n_exact_dup counts as a failed op")
    expect(counted(right.take(1))(Checks.checkServe(_, truth)).failures.contains("serve.langs"),
      "serve: a missing language row counts as a failed op")

    // dedup_daily: exact graph {1,2} {3}; labels must be per-doc, min, no over-merge
    val g = new Checks.ExactGraph
    g.add(1, s1); g.add(2, near); g.add(3, s2)
    val ids = Set(1L, 2L, 3L)
    expect(Checks.checkLabels(Seq(1L -> 1L, 2L -> 1L, 3L -> 3L), ids, g.comps).isEmpty,
      "daily check passes the exact labels")
    expect(Checks.checkLabels(Seq(1L -> 1L, 2L -> 2L, 3L -> 3L), ids, g.comps).isEmpty,
      "daily check accepts an under-merged (split) cluster")
    expect(counted(Seq(1L -> 1L, 2L -> 1L, 3L -> 1L))(Checks.checkLabels(_, ids, g.comps))
      .failures.contains("daily.no_overmerge"), "daily: an over-merged cluster counts as a failed op")
    expect(counted(Seq(1L -> 2L, 2L -> 2L, 3L -> 3L))(Checks.checkLabels(_, ids, g.comps))
      .failures.contains("daily.min_label"), "daily: a non-min label counts as a failed op")
    expect(counted(Seq(1L -> 1L, 2L -> 1L))(Checks.checkLabels(_, ids, g.comps))
      .failures.contains("daily.one_label"), "daily: an unlabelled doc counts as a failed op")

    // mapreduce_core
    val want = Checks.wordCounts(Iterator("The cat, the.  CAT", ".dog"))
    expect(want == Map("the" -> 2L, "cat" -> 2L, "dog" -> 1L), "word count reference normalizes")
    expect(Checks.checkWordCount(want.toSeq, want).isEmpty, "word count check passes the exact counts")
    expect(counted(want.toSeq.map { case (w, n) => (w, if (w == "cat") n + 1 else n) })(
      Checks.checkWordCount(_, want)).failures.contains("wordcount.counts"),
      "word count: one wrong count counts as a failed op")
    val wantC = Checks.matCReference()
    val matC = wantC.toSeq.map { case ((i, j), v) => (i, j, v) }
    expect(Checks.checkMatC(matC, wantC).isEmpty, "matC check passes the closed form")
    expect(counted(matC.map { case (i, j, v) => if (i == 3 && j == 5) (i, j, v + 1) else (i, j, v) })(
      Checks.checkMatC(_, wantC)).failures.contains("gemm.matC_closed_form"), "matC: one wrong cell counts as a failed op")
    val (ma, mb) = (Array.tabulate(64)(i => i % 7 - 3), Array.tabulate(64)(i => i % 5 - 2))
    val blocks = Checks.blockSums(ma, mb, 8, 2)
    val direct = (for (ib <- 0 until 2; jb <- 0 until 2) yield (ib.toLong, jb.toLong) ->
      (for (i <- ib * 4 until ib * 4 + 4; j <- jb * 4 until jb * 4 + 4; k <- 0 until 8)
        yield ma(i * 8 + k).toLong * mb(k * 8 + j)).sum).toMap
    expect(blocks == direct, "rank-factored block sums equal the direct product's")
    val bs = blocks.toSeq.map { case ((i, j), v) => (i, j, v) }
    expect(Checks.checkBlockSums(bs, blocks).isEmpty, "block check passes the exact sums")
    expect(counted(bs.map { case (i, j, v) => if (i == 0 && j == 1) (i, j, v - 1) else (i, j, v) })(
      Checks.checkBlockSums(_, blocks)).failures.contains("gemm.rank_factored"),
      "gemm: one wrong block sum counts as a failed op")
    val dag = """[{"index": 0, "dependency": []}, {"index": 1, "dependency": [0]}]"""
    expect(Checks.checkTrace(dag).isEmpty, "trace check passes a DAG")
    expect(counted("""[{"index": 0, "dependency": [1]}, {"index": 1, "dependency": [0]}]""")(
      Checks.checkTrace).failures.contains("trace.dag"), "trace: a cycle counts as a failed op")
    expect(counted("""[{"index": 0, "dependency": []}, {"index": 0, "dependency": []}]""")(
      Checks.checkTrace).failures.contains("trace.ids"), "trace: repeated ids count as a failed op")
    expect(counted[Int](throw new IllegalStateException("boom"))(_ => Nil).failures.contains("op.exception"),
      "an op that throws counts as failed")

    println(if (bad == 0) "selftest: ok" else s"selftest: $bad failed")
    sys.exit(if (bad == 0) 0 else 1)
  }
}
