package graftbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets

import scala.collection.mutable.ArrayBuffer

/** SplitMix64: a fixed, fully specified generator, so a seed names the
  * same bytes on every JVM. */
final class Rng(seed: Long) {
  private var s = seed
  def nextLong(): Long = {
    s += 0x9E3779B97F4A7C15L
    var z = s
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def nextInt(n: Int): Int = java.lang.Long.remainderUnsigned(nextLong(), n.toLong).toInt
  def nextDouble(): Double = (nextLong() >>> 11).toDouble / (1L << 53).toDouble
  def between(lo: Int, hi: Int): Int = lo + nextInt(hi - lo + 1)
}

/** A Zipf(1) sampler over `n` ranks (inverse CDF by binary search). */
final class Zipf(n: Int) {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / (i + 1))
    val t = w.sum
    var acc = 0.0
    w.map { x => acc += x / t; acc }
  }
  def sample(r: Rng): Int = {
    val u = r.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}

final case class Doc(id: Long, lang: String, text: String)

/** Seeded input generator. Every input the engine reads is written by
  * this object as a file; the same seed always yields the same bytes.
  *
  * Traffic dimensions:
  *  - corpus mix: exact copies and one-word-edit near-copies of earlier
  *    docs over five languages with their own alphabets (Cyrillic, and
  *    Latin with language-specific diacritics), so shingling sees
  *    non-ASCII code points;
  *  - boilerplate flood: docs that are one long site header plus a
  *    short body; the header dominates their MinHash lanes, so their
  *    band-pair buckets grow past `MinHash.DefaultCap`;
  *  - syndication pairs: in each batch, a new article under the header
  *    plus a one-word-edit copy of it — near each other, not near any
  *    indexed doc;
  *  - WordCount text: Zipf vocabulary with mixed case and `,`/`.` noise;
  *  - GEMM inputs: integer matrices whose k·max|A|·max|B| stays inside
  *    BlockGemm's 2^53 bound. */
object Gen {

  val Langs: Vector[String] = Vector("en", "de", "fr", "es", "ru")
  private val LangWeights = Vector(40, 15, 15, 15, 15)
  private val Alphabets: Map[String, String] = Map(
    "en" -> "abcdefghijklmnopqrstuvwxyz",
    "de" -> "abcdefghijklmnopqrstuvwxyzäöüß",
    "fr" -> "abcdefghijklmnopqrstuvwxyzéèàç",
    "es" -> "abcdefghijklmnopqrstuvwxyzñáó",
    "ru" -> "абвгдежзиклмнопрстуфхцчшыэюя")
  private val VocabSize = 3000

  /** Per-language vocabularies, fixed by the seed. */
  final class Vocab(seed: Long) {
    private val r = new Rng(seed ^ 0x5eedL)
    val words: Map[String, Vector[String]] = Langs.map { l =>
      val a = Alphabets(l)
      val seen = scala.collection.mutable.LinkedHashSet[String]()
      while (seen.size < VocabSize)
        seen += Vector.fill(r.between(3, 9))(a.charAt(r.nextInt(a.length))).mkString
      l -> seen.toVector
    }.toMap
    private val zipf = new Zipf(VocabSize)
    def word(lang: String, r: Rng): String = words(lang)(zipf.sample(r))
    def draw(lang: String, n: Int, r: Rng): Vector[String] = Vector.fill(n)(word(lang, r))
  }

  /** Shares of exact copies, one-word-edit near copies and header docs. */
  final case class Mix(exact: Double, near: Double, header: Double)

  /** The corpus and its batches: `Corpus.batch(i)` is deterministic in
    * (seed, i) and independent of which other batches were drawn. */
  final class Corpus(seed: Long, val n: Int, mix: Mix, batchMix: Mix, syndPairs: Int) {
    val vocab = new Vocab(seed)
    /** The site header: ~150 English words (~900 characters). */
    val header: String = vocab.draw("en", 150, new Rng(seed ^ 0x4eadL)).mkString(" ")

    private def pickLang(r: Rng): String = {
      var u = r.nextInt(LangWeights.sum)
      var i = 0
      while (u >= LangWeights(i)) { u -= LangWeights(i); i += 1 }
      Langs(i)
    }
    private def fresh(id: Long, r: Rng): Doc = {
      val l = pickLang(r)
      Doc(id, l, vocab.draw(l, r.between(50, 90), r).mkString(" "))
    }
    private def headerDoc(id: Long, bodyWords: Int, r: Rng): Doc =
      Doc(id, "en", header + " " + vocab.draw("en", bodyWords, r).mkString(" "))
    /** Replace one word of the body (never the header) with another. */
    def edit(d: Doc, r: Rng): Doc = {
      val hasHeader = d.text.startsWith(header + " ")
      val body = if (hasHeader) d.text.substring(header.length + 1) else d.text
      val ws = body.split(' ')
      val i = r.nextInt(ws.length)
      var w = vocab.word(d.lang, r)
      while (w == ws(i)) w = vocab.word(d.lang, r)
      ws(i) = w
      d.copy(text = (if (hasHeader) header + " " else "") + ws.mkString(" "))
    }

    /** Day-0 corpus, ids 1..n: fresh docs, header docs, and exact and
      * near copies of earlier corpus docs. */
    lazy val docs: Vector[Doc] = {
      val r = new Rng(seed ^ 0xc0de5L)
      val out = ArrayBuffer[Doc]()
      for (i <- 1 to n) {
        val u = r.nextDouble()
        val d =
          if (out.nonEmpty && u < mix.exact) out(r.nextInt(out.size)).copy(id = i.toLong)
          else if (out.nonEmpty && u < mix.exact + mix.near)
            edit(out(r.nextInt(out.size)), r).copy(id = i.toLong)
          else if (u < mix.exact + mix.near + mix.header)
            headerDoc(i.toLong, r.between(12, 24), r)
          else fresh(i.toLong, r)
        out += d
      }
      out.toVector
    }

    /** Ingest batch `b` of `size` docs with ids disjoint from the corpus
      * and from every other batch: exact copies and near copies of
      * corpus docs, new header docs, `syndPairs` syndication pairs, and
      * fresh docs. */
    def batch(b: Int, size: Int): Vector[Doc] = {
      val mix = batchMix
      val r = new Rng(seed * 1000003L + b)
      val base = 10L * n + b.toLong * size * 2
      val out = ArrayBuffer[Doc]()
      def id = base + out.size
      for (_ <- 0 until syndPairs) {
        val art = headerDoc(id, r.between(40, 60), r)
        out += art
        out += edit(art, r).copy(id = id)
      }
      while (out.size < size) {
        val u = r.nextDouble()
        if (u < mix.exact) out += docs(r.nextInt(n)).copy(id = id)
        else if (u < mix.exact + mix.near) out += edit(docs(r.nextInt(n)), r).copy(id = id)
        else if (u < mix.exact + mix.near + mix.header) out += headerDoc(id, r.between(12, 24), r)
        else out += fresh(id, r)
      }
      out.toVector
    }
  }

  private def writer(f: File): BufferedWriter = {
    f.getParentFile.mkdirs()
    new BufferedWriter(new OutputStreamWriter(new FileOutputStream(f), StandardCharsets.UTF_8), 1 << 16)
  }

  private def jsonStr(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  /** Docs as JSON lines: {"doc_id":…,"lang":…,"text":…}. */
  def writeDocs(f: File, docs: Seq[Doc]): Unit = {
    val w = writer(f)
    try docs.foreach { d =>
      w.write(s"""{"doc_id":${d.id},"lang":${jsonStr(d.lang)},"text":${jsonStr(d.text)}}""")
      w.write('\n')
    } finally w.close()
  }

  /** Docs as `parts` JSON-lines files `part-0000i.jsonl` under `dir`, in
    * id order, the way a crawl lands as several files. */
  def writeDocParts(dir: File, docs: Seq[Doc], parts: Int): Unit = {
    val per = (docs.size + parts - 1) / parts
    docs.grouped(per).zipWithIndex.foreach { case (ds, i) =>
      writeDocs(new File(dir, f"part-$i%05d.jsonl"), ds)
    }
  }

  val DocSchema = "doc_id BIGINT, lang STRING, text STRING"

  /** WordCount input: `lines` lines of 40–60 Zipf-drawn English words,
    * each word lower, Capitalized or UPPER case, some carrying a
    * trailing `,` or `.`, or a leading `.`. */
  def writeText(f: File, seed: Long, lines: Int): Unit = {
    val vocab = new Vocab(seed)
    val r = new Rng(seed ^ 0x7e47L)
    val w = writer(f)
    try for (_ <- 0 until lines) {
      val n = r.between(40, 60)
      var i = 0
      while (i < n) {
        if (i > 0) w.write(if (r.nextInt(20) == 0) "  " else " ")
        val base = vocab.word("en", r)
        val cased = r.nextInt(10) match {
          case 0 => base.toUpperCase(java.util.Locale.ROOT)
          case 1 | 2 => base.capitalize
          case _ => base
        }
        val noisy = r.nextInt(12) match {
          case 0 => cased + ","
          case 1 => cased + "."
          case 2 => "." + cased
          case 3 => cased + ".,"
          case _ => cased
        }
        w.write(noisy)
        i += 1
      }
      w.write('\n')
    } finally w.close()
  }

  /** Dense n×n integer matrix with entries in [-MaxAbs, MaxAbs], as
    * coordinate CSV lines `i,j,v`; returns the values row-major. */
  val MaxAbs = 99
  def writeMatrix(f: File, seed: Long, n: Int): Array[Int] = {
    val r = new Rng(seed)
    val vals = Array.fill(n * n)(r.nextInt(2 * MaxAbs + 1) - MaxAbs)
    val w = writer(f)
    try {
      var i = 0
      while (i < n) {
        var j = 0
        while (j < n) {
          w.write(s"$i,$j,${vals(i * n + j)}\n")
          j += 1
        }
        i += 1
      }
    } finally w.close()
    vals
  }

  val MatrixSchema = "i BIGINT, j BIGINT, v BIGINT"
}
