package graftbench

import scala.collection.mutable

/** Driver-side exact references and the output checks built on them.
  * Every check returns the list of its failures (empty = passed), each
  * prefixed with the check's name so a failed op names what failed. */
object Checks {

  /** Lanes agreeing between two 16-lane MinHash signatures. */
  def agree(a: Array[Long], b: Array[Long]): Int = {
    var n = 0
    var i = 0
    while (i < 16) { if (a(i) == b(i)) n += 1; i += 1 }
    n
  }

  val Threshold = 14

  /** Band buckets over 16-lane signatures: 4 bands of 4 lanes. Two
    * signatures that agree on >= 14 lanes disagree on at most 2, so at
    * least 2 of the 4 bands agree completely and they share a bucket:
    * probing the buckets finds every >= 14/16 partner, exactly. */
  final class BandIndex {
    private final case class Key(band: Int, l0: Long, l1: Long, l2: Long, l3: Long)
    private val buckets = mutable.HashMap[Key, mutable.ArrayBuffer[Int]]()
    private val ids = mutable.ArrayBuffer[Long]()
    private val lanes = mutable.ArrayBuffer[Array[Long]]()
    private def keys(s: Array[Long]) =
      (0 until 4).map(b => Key(b, s(4 * b), s(4 * b + 1), s(4 * b + 2), s(4 * b + 3)))

    def add(id: Long, sig: Array[Long]): Unit = {
      val slot = ids.size
      ids += id
      lanes += sig
      keys(sig).foreach(k => buckets.getOrElseUpdate(k, mutable.ArrayBuffer()) += slot)
    }

    /** Ids of indexed signatures agreeing with `sig` on >= 14 lanes. */
    def partners(sig: Array[Long]): Set[Long] =
      keys(sig).iterator.flatMap(k => buckets.getOrElse(k, Nil))
        .filter(s => agree(sig, lanes(s)) >= Threshold).map(ids(_)).toSet
  }

  /** Union-find over doc ids. */
  final class UnionFind {
    private val parent = mutable.HashMap[Long, Long]()
    def add(x: Long): Unit = parent.getOrElseUpdate(x, x)
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    def union(a: Long, b: Long): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
  }

  /** The exact >= 14/16 graph over every doc seen so far, kept as
    * components. Docs with no signature are isolated nodes. */
  final class ExactGraph {
    val index = new BandIndex
    val comps = new UnionFind
    def add(id: Long, sig: Array[Long]): Unit = {
      comps.add(id)
      if (sig != null) {
        index.partners(sig).foreach(comps.union(id, _))
        index.add(id, sig)
      }
    }
  }

  // ---- dedup_serve: the serve of a batch ----------------------------

  /** One `dedupBatch` result row. */
  final case class ServeRow(lang: String, nNew: Long, nExact: Long, nNear: Long)

  /** Per-language truth for one batch: docs, exact copies of an indexed
    * text, and docs agreeing >= 14/16 lanes with some indexed doc. */
  final case class ServeTruth(n: Map[String, Long], exact: Map[String, Long],
      nearRef: Map[String, Long])

  def serveTruth(batch: Seq[Doc], indexedTexts: collection.Set[String],
      batchSigs: Map[Long, Array[Long]], index: BandIndex): ServeTruth = {
    def per(p: Doc => Boolean) =
      batch.filter(p).groupBy(_.lang).map { case (l, ds) => l -> ds.size.toLong }
    ServeTruth(
      per(_ => true),
      per(d => indexedTexts.contains(d.text)),
      per(d => batchSigs.get(d.id).exists(s => s != null && index.partners(s).nonEmpty)))
  }

  def checkServe(rows: Seq[ServeRow], t: ServeTruth): Seq[String] = {
    val got = rows.map(r => r.lang -> r).toMap
    val langs = (t.n.keySet ++ got.keySet).toSeq.sorted
    langs.flatMap { l =>
      got.get(l) match {
        case None => Seq(s"serve.langs: no result row for $l")
        case Some(r) =>
          val want = t.n.getOrElse(l, 0L)
          val wantExact = t.exact.getOrElse(l, 0L)
          val ref = t.nearRef.getOrElse(l, 0L)
          Seq(
            if (r.nNew != want) Some(s"serve.n_new: $l got ${r.nNew}, want $want") else None,
            if (r.nExact != wantExact) Some(s"serve.n_exact_dup: $l got ${r.nExact}, want $wantExact") else None,
            if (r.nNear > ref) Some(s"serve.n_neardup: $l got ${r.nNear} > $ref docs with a >=14/16 indexed partner") else None
          ).flatten
      }
    }
  }

  // ---- dedup_daily: the maintained labels ----------------------------

  /** Labels (id, lbl) of every live doc after a maintain: each expected
    * doc exactly once, each label its cluster's min id, and no cluster
    * joining docs the exact >= 14/16 graph keeps apart. */
  def checkLabels(labels: Seq[(Long, Long)], expected: collection.Set[Long],
      exact: UnionFind): Seq[String] = {
    val out = mutable.ArrayBuffer[String]()
    val byId = labels.groupBy(_._1)
    val dup = byId.count(_._2.size > 1)
    if (dup > 0) out += s"daily.one_label: $dup docs carry more than one label"
    val missing = expected.count(id => !byId.contains(id))
    if (missing > 0) out += s"daily.one_label: $missing docs carry no label"
    val extra = byId.keys.count(id => !expected.contains(id))
    if (extra > 0) out += s"daily.one_label: $extra labelled ids are not indexed docs"
    val clusters = labels.groupBy(_._2)
    val notMin = clusters.count { case (l, ms) => ms.map(_._1).min != l }
    if (notMin > 0) out += s"daily.min_label: $notMin clusters are not labelled by their min id"
    val joined = clusters.count { case (_, ms) =>
      ms.iterator.map(m => exact.find(m._1)).toSet.size > 1
    }
    if (joined > 0) out += s"daily.no_overmerge: $joined clusters join docs the exact graph keeps apart"
    out.toSeq
  }

  // ---- mapreduce_core -------------------------------------------------

  /** The WordCount reference: whitespace split, lowercase, strip only
    * `,` and `.`, drop empty tokens. */
  def wordCounts(lines: Iterator[String]): Map[String, Long] = {
    val m = mutable.HashMap[String, Long]()
    lines.foreach(_.split("\\s+").foreach { t =>
      val w = t.toLowerCase.replace(",", "").replace(".", "")
      if (w.nonEmpty) m(w) = m.getOrElse(w, 0L) + 1
    })
    m.toMap
  }

  def checkWordCount(got: Seq[(String, Long)], want: Map[String, Long]): Seq[String] = {
    val g = got.toMap
    if (g.size != got.size) Seq(s"wordcount.unique: ${got.size - g.size} words repeated")
    else if (g == want) Nil
    else {
      val bad = (g.keySet ++ want.keySet).count(w => g.get(w) != want.get(w))
      Seq(s"wordcount.counts: $bad of ${want.size} words differ from the driver count")
    }
  }

  /** GemmQueries.matC's closed form: C(i,j) = Σ_k A(i,k)·B(k,j) with
    * A(i,k) = (7i + 13k) % 10, B(k,j) = (11k + 3j) % 10, 128×512×128. */
  def matCReference(): Map[(Long, Long), Long] = {
    val out = mutable.HashMap[(Long, Long), Long]()
    for (i <- 0 until 128; j <- 0 until 128) {
      var s = 0L
      var k = 0
      while (k < 512) { s += ((i * 7 + k * 13) % 10).toLong * ((k * 11 + j * 3) % 10); k += 1 }
      out((i.toLong, j.toLong)) = s
    }
    out.toMap
  }

  def checkMatC(got: Seq[(Long, Long, Long)], want: Map[(Long, Long), Long]): Seq[String] = {
    val bad = got.count { case (i, j, v) => !want.get((i, j)).contains(v) }
    val seen = got.map(r => (r._1, r._2)).toSet.size
    Seq(
      if (got.size != want.size || seen != want.size)
        Some(s"gemm.matC_shape: ${got.size} rows, $seen cells, want ${want.size}") else None,
      if (bad > 0) Some(s"gemm.matC_closed_form: $bad cells differ") else None
    ).flatten
  }

  /** Block checksums of C = A·B over `g`×`g` blocks by the rank-factored
    * identity Σ_{i∈I,j∈J} C(i,j) = Σ_k (Σ_{i∈I} A(i,k))·(Σ_{j∈J} B(k,j)),
    * O(n²) instead of the n³ product. */
  def blockSums(a: Array[Int], b: Array[Int], n: Int, g: Int): Map[(Long, Long), Long] = {
    val e = n / g
    val ar = Array.ofDim[Long](g, n) // ar(ib)(k) = Σ_{i in block ib} A(i,k)
    val br = Array.ofDim[Long](n, g) // br(k)(jb) = Σ_{j in block jb} B(k,j)
    for (i <- 0 until n; k <- 0 until n) ar(i / e)(k) += a(i * n + k)
    for (k <- 0 until n; j <- 0 until n) br(k)(j / e) += b(k * n + j)
    (for (ib <- 0 until g; jb <- 0 until g) yield {
      var s = 0L
      var k = 0
      while (k < n) { s += ar(ib)(k) * br(k)(jb); k += 1 }
      (ib.toLong, jb.toLong) -> s
    }).toMap
  }

  def checkBlockSums(got: Seq[(Long, Long, Long)], want: Map[(Long, Long), Long]): Seq[String] = {
    val g = got.map(r => (r._1, r._2) -> r._3).toMap
    val bad = want.count { case (k, v) => !g.get(k).contains(v) }
    Seq(
      if (g.size != want.size) Some(s"gemm.block_shape: ${g.size} blocks, want ${want.size}") else None,
      if (bad > 0) Some(s"gemm.rank_factored: $bad of ${want.size} block sums differ") else None,
      if (g.values.sum != want.values.sum) Some("gemm.total: block sums do not add up to the total") else None
    ).flatten
  }

  /** The op-trace JSON is an array of ops with unique `index` ids whose
    * `dependency` lists name only earlier ops — a DAG by construction. */
  def checkTrace(json: String): Seq[String] = {
    import org.json4s._
    val parsed =
      try Right(org.json4s.jackson.JsonMethods.parse(json))
      catch { case e: Exception => Left(s"trace.json: does not parse (${e.getMessage.take(80)})") }
    parsed match {
      case Left(err) => Seq(err)
      case Right(JArray(ops)) if ops.nonEmpty =>
        val ids = ops.map(o => o \ "index")
        val ints = ids.collect { case JInt(v) => v.toLong }
        if (ints.size != ops.size) Seq("trace.ids: an op has no integer index")
        else if (ints.distinct.size != ints.size) Seq("trace.ids: op indices repeat")
        else {
          val known = ints.toSet
          val bad = ops.zip(ints).count { case (o, id) =>
            o \ "dependency" match {
              case JArray(ds) => ds.exists {
                case JInt(d) => !known.contains(d.toLong) || d.toLong >= id
                case _ => true
              }
              case _ => true
            }
          }
          if (bad > 0) Seq(s"trace.dag: $bad ops depend on a missing or later op") else Nil
        }
      case Right(_) => Seq("trace.json: not a non-empty array of ops")
    }
  }
}
