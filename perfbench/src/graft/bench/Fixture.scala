package graft.bench

import java.util.SplittableRandom

final case class Doc(id: Long, title: String, text: String)
final case class Query(id: Long, text: String)

/** Fixture sizes. `bench` is what the benchmark measures; `tiny` keeps the
  * smoke test short. */
final case class Sizes(name: String, baseDocs: Int, vocab: Int, meanLen: Int,
                       appendDocs: Int, deleteDocs: Int, logQueries: Int)

object Sizes {
  val bench = Sizes("bench", baseDocs = 5000, vocab = 20000, meanLen = 60,
    appendDocs = 300, deleteDocs = 30, logQueries = 40)
  val tiny = Sizes("tiny", baseDocs = 600, vocab = 10000, meanLen = 30,
    appendDocs = 40, deleteDocs = 8, logQueries = 8)
  def byName(n: String): Sizes = n match {
    case "bench" => bench
    case "tiny"  => tiny
    case other   => throw new IllegalArgumentException(s"unknown size '$other'")
  }
}

/** Seeded generator for the corpus, the query stream and the append and
  * delete batches. Every stream is a pure function of (seed, stream, index),
  * so the same seed yields a byte-identical fixture however many items a
  * time-bounded run draws.
  *
  * Corpus: a Zipf(1.0) vocabulary of `sizes.vocab` pseudo-words, lognormal
  * document lengths, a title per document, and mixed case, punctuation and
  * whitespace so the analyzer does real work. All text is ASCII.
  *
  * Queries: 1–4 terms, half from the head of the vocabulary (long
  * postings) and half from its tail; one query in twenty is made of terms
  * absent from the vocabulary. */
final class Fixture(val seed: Long, val sizes: Sizes) {
  import Fixture._

  private def rng(stream: Long, index: Long = 0L): SplittableRandom =
    new SplittableRandom(mix(mix(seed) ^ mix(stream * 0x9E3779B97F4A7C15L + index)))

  /** Vocabulary in rank order: `vocab(0)` is the most frequent word.
    * Frequent words are short and their shape is fixed by rank, so the
    * corpus's bytes per token do not swing with the seed. */
  val vocab: Array[String] = {
    val r = rng(StreamVocab)
    val seen = new java.util.HashSet[String]()
    val out = new Array[String](sizes.vocab)
    var i = 0
    while (i < out.length) {
      val w =
        if (i >= 1000 && r.nextInt(50) == 0) (1000 + r.nextInt(9000)).toString
        else {
          val sb = new StringBuilder
          val syl = if (i < 30) 1 else if (i < 500) 2 else if (i < 5000) 3 else 2 + r.nextInt(3)
          var s = 0
          while (s < syl) {
            sb.append(Consonants.charAt(r.nextInt(Consonants.length)))
            sb.append(Vowels.charAt(r.nextInt(Vowels.length)))
            if (i >= 500 && r.nextInt(3) == 0) sb.append(Consonants.charAt(r.nextInt(Consonants.length)))
            s += 1
          }
          sb.toString
        }
      if (seen.add(w)) { out(i) = w; i += 1 }
    }
    out
  }

  private val cdf: Array[Double] = {
    val c = new Array[Double](vocab.length)
    var acc = 0.0
    var i = 0
    while (i < c.length) { acc += 1.0 / (i + 1); c(i) = acc; i += 1 }
    c
  }

  private def zipfRank(r: SplittableRandom): Int = {
    val u = r.nextDouble() * cdf(cdf.length - 1)
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(if (i >= 0) i else -i - 1, cdf.length - 1)
  }

  /** One surface form of a word: mixed case, sometimes wrapped in
    * punctuation that the analyzer strips. */
  private def render(w: String, r: SplittableRandom, sb: StringBuilder): Unit = {
    val p = r.nextInt(100)
    if (p < 3) sb.append(if (r.nextBoolean()) '(' else '"')
    val c = r.nextInt(10)
    if (c < 7) sb.append(w)
    else if (c < 9) sb.append(w.charAt(0).toUpper).append(w, 1, w.length)
    else sb.append(w.toUpperCase(java.util.Locale.ROOT))
    if (p >= 85) sb.append(Suffixes(r.nextInt(Suffixes.length)))
  }

  private def separator(r: SplittableRandom, sb: StringBuilder): Unit = {
    val s = r.nextInt(40)
    sb.append(if (s == 0) "\t" else if (s == 1) "\n" else if (s == 2) " - "
      else if (s == 3) "  " else " ")
  }

  private def doc(id: Long, r: SplittableRandom): Doc = {
    val len = {
      val g = math.sqrt(-2 * math.log(1 - r.nextDouble())) *
        math.cos(2 * math.Pi * r.nextDouble())
      val mu = math.log(sizes.meanLen.toDouble) - LenSigma * LenSigma / 2
      math.max(3, math.min(sizes.meanLen * 8, math.round(math.exp(mu + LenSigma * g)).toInt))
    }
    val text = new StringBuilder
    var i = 0
    while (i < len) {
      if (i > 0) separator(r, text)
      render(vocab(zipfRank(r)), r, text)
      i += 1
    }
    val title = new StringBuilder
    val tl = 2 + r.nextInt(5)
    i = 0
    while (i < tl) {
      if (i > 0) title.append(' ')
      val w = vocab(zipfRank(r))
      title.append(w.charAt(0).toUpper).append(w, 1, w.length)
      i += 1
    }
    Doc(id, title.toString, text.toString)
  }

  /** Base corpus: doc ids 0 until baseDocs. */
  lazy val baseDocs: IndexedSeq[Doc] = {
    val r = rng(StreamCorpus)
    (0 until sizes.baseDocs).map(i => doc(i.toLong, r))
  }

  /** Append batch k: `appendDocs` new documents with ids disjoint from the
    * base corpus and from every other batch. */
  def appendBatch(k: Int): IndexedSeq[Doc] = {
    val r = rng(StreamAppend, k)
    val first = sizes.baseDocs.toLong + k.toLong * sizes.appendDocs
    (0 until sizes.appendDocs).map(i => doc(first + i, r))
  }

  /** Delete batch k: `deleteDocs` distinct ids drawn from `live` (sorted
    * ascending, so the choice depends only on the live set). */
  def deleteBatch(k: Int, live: IndexedSeq[Long]): IndexedSeq[Long] = {
    val r = rng(StreamDelete, k)
    val picked = scala.collection.mutable.LinkedHashSet.empty[Long]
    val want = math.min(sizes.deleteDocs, live.size)
    while (picked.size < want) picked += live(r.nextInt(live.size))
    picked.toIndexedSeq
  }

  private def absentWord(r: SplittableRandom): String =
    "qx" + (r.nextInt(900000) + 100000).toString

  /** Query number k of a stream. The shape is fixed by k, so any eight
    * consecutive queries carry the same mix: 1 + k % 4 terms, alternately
    * from the head and the tail of the vocabulary, starting with the head
    * when k / 4 is even; every twentieth query has only absent terms. The
    * terms themselves are drawn from `r`. */
  private def queryText(k: Int, r: SplittableRandom): String = {
    val n = 1 + k % 4
    val absent = k % 20 == 19
    val sb = new StringBuilder
    var i = 0
    while (i < n) {
      if (i > 0) sb.append(' ')
      val w =
        if (absent) absentWord(r)
        else if ((k / 4 + i) % 2 == 0) vocab(r.nextInt(HeadTerms))
        else vocab(vocab.length / 4 + r.nextInt(vocab.length - vocab.length / 4))
      render(w, r, sb)
      i += 1
    }
    sb.toString
  }

  /** Single-query stream: query k. */
  def query(k: Int): Query = Query(k.toLong, queryText(k, rng(StreamQuery, k)))

  /** Batch log k: `logQueries` queries with ids 0 until logQueries. */
  def log(k: Int): IndexedSeq[Query] = {
    val r = rng(StreamLog, k)
    (0 until sizes.logQueries).map(i => Query(i.toLong, queryText(i, r)))
  }

  /** SHA-256 over the base corpus and the first items of every stream. */
  lazy val digest: String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def put(s: String): Unit = md.update((s + "\u0000").getBytes("UTF-8"))
    vocab.foreach(put)
    baseDocs.foreach(d => put(s"${d.id}\t${d.title}\t${d.text}"))
    (0 until 64).foreach(k => put(query(k).text))
    (0 until 4).foreach { k =>
      log(k).foreach(q => put(q.text))
      appendBatch(k).foreach(d => put(s"${d.id}\t${d.title}\t${d.text}"))
      deleteBatch(k, baseDocs.map(_.id)).foreach(id => put(id.toString))
    }
    md.digest().map(b => f"$b%02x").mkString
  }
}

object Fixture {
  private val StreamVocab = 1L
  private val StreamCorpus = 2L
  private val StreamAppend = 3L
  private val StreamDelete = 4L
  private val StreamQuery = 5L
  private val StreamLog = 6L

  /** Head of the vocabulary that half the query terms come from. */
  val HeadTerms = 100
  private val LenSigma = 0.6
  // no q or x: absent query terms start with "qx" and so never collide
  private val Consonants = "bcdfghjklmnprstvwz"
  private val Vowels = "aeiou"
  private val Suffixes = Array(",", ".", ";", ":", "!", "?", ")", "'", "\"", "...")

  /** SplitMix64 finalizer. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}
