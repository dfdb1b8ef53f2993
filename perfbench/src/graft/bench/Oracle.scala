package graft.bench

import scala.collection.mutable

/** Independent BM25 reference over the generator's live corpus, in plain
  * Scala: its own analyzer, its own inverted index, no Spark and nothing
  * from `graft.index` or `graft.search`.
  *
  * k1 = 1.2, b = 0.75, idf = ln(1 + (N − df + 0.5)/(df + 0.5)); ties break
  * by score descending, then doc_id ascending. */
final class Oracle {
  import Oracle._

  private final class Entry(val title: String, val length: Int, val terms: Array[String])

  private val docs = mutable.LongMap.empty[Entry]
  private val postings = mutable.HashMap.empty[String, mutable.LongMap[Int]]
  private var lengthSum = 0L

  def add(d: Doc): Unit = {
    require(!docs.contains(d.id), s"oracle: doc ${d.id} added twice")
    val toks = analyze(d.text)
    val tf = mutable.HashMap.empty[String, Int]
    toks.foreach(t => tf(t) = tf.getOrElse(t, 0) + 1)
    tf.foreach { case (t, n) => postings.getOrElseUpdate(t, mutable.LongMap.empty)(d.id) = n }
    docs(d.id) = new Entry(d.title, toks.length, tf.keys.toArray)
    lengthSum += toks.length
  }

  def remove(id: Long): Unit = docs.remove(id).foreach { e =>
    e.terms.foreach { t =>
      val p = postings(t)
      p.remove(id)
      if (p.isEmpty) postings.remove(t)
    }
    lengthSum -= e.length
  }

  def totalDocs: Long = docs.size.toLong
  def avgDl: Double = lengthSum.toDouble / docs.size
  def df(term: String): Long = postings.get(term).map(_.size.toLong).getOrElse(0L)
  def vocabSize: Int = postings.size
  def postingsCount: Long = postings.valuesIterator.map(_.size.toLong).sum
  def vocab: Map[String, Long] = postings.iterator.map { case (t, p) => t -> p.size.toLong }.toMap

  /** Postings of the query's distinct terms: the rows a perfectly pruned
    * scan would read. */
  def postingsOf(query: String): Long = analyze(query).distinct.map(df).sum

  /** BM25 score of every live document matching at least one query term. */
  def scores(query: String): mutable.LongMap[Double] = {
    val out = mutable.LongMap.empty[Double]
    val n = totalDocs.toDouble
    val avg = avgDl
    analyze(query).distinct.foreach { t =>
      postings.get(t).foreach { p =>
        val df = p.size.toDouble
        val idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
        p.foreach { case (id, tf) =>
          val dl = docs(id).length.toDouble
          val part = idf * (tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * dl / avg)))
          out(id) = out.getOrElse(id, 0.0) + part
        }
      }
    }
    out
  }

  /** Checks a returned ranking against the reference; None when it agrees.
    * Scores are compared within a relative tolerance, since summation order
    * differs; the check requires every returned score to match, the ranking
    * to be ordered, no better document to be missing, and exact score ties
    * to break by doc_id ascending. */
  def check(query: String, got: IndexedSeq[Hit], k: Int = TopK): Option[String] = {
    val s = scores(query)
    def tol(x: Double): Double = 1e-9 * math.max(1.0, math.abs(x))
    val want = math.min(k, s.size)
    if (got.size != want) return Some(s"returned ${got.size} rows, expected $want")
    if (got.map(_.docId).distinct.size != got.size) return Some("duplicate doc_id in result")
    var i = 0
    while (i < got.size) {
      val h = got(i)
      if (h.rank != i + 1) return Some(s"rank ${h.rank} at position ${i + 1}")
      s.get(h.docId) match {
        case None => return Some(s"doc ${h.docId} does not match the query (or is deleted)")
        case Some(ref) =>
          if (math.abs(ref - h.score) > tol(ref))
            return Some(s"doc ${h.docId} score ${h.score}, expected $ref")
          if (h.title != docs(h.docId).title)
            return Some(s"doc ${h.docId} title '${h.title}', expected '${docs(h.docId).title}'")
      }
      if (i > 0) {
        val p = got(i - 1)
        if (h.score > p.score + tol(p.score)) return Some(s"not ordered at rank ${i + 1}")
        if (h.score == p.score && h.docId < p.docId)
          return Some(s"tie at rank ${i + 1} not broken by doc_id ascending")
      }
      i += 1
    }
    if (got.nonEmpty) {
      val floor = s(got.last.docId)
      val returned = got.map(_.docId).toSet
      s.find { case (id, sc) => sc > floor + tol(floor) && !returned(id) }
        .foreach { case (id, sc) => return Some(s"missed doc $id with score $sc > $floor") }
    }
    None
  }
}

final case class Hit(rank: Int, docId: Long, title: String, score: Double)

object Oracle {
  val K1 = 1.2
  val B = 0.75
  val TopK = 10

  /** ASCII analyzer: lowercase, anything but [a-z0-9] separates tokens. */
  def analyze(text: String): IndexedSeq[String] = {
    val out = IndexedSeq.newBuilder[String]
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i <= text.length) {
      val c = if (i < text.length) text.charAt(i) else ' '
      val l = if (c >= 'A' && c <= 'Z') (c + 32).toChar else c
      if ((l >= 'a' && l <= 'z') || (l >= '0' && l <= '9')) sb.append(l)
      else if (sb.length > 0) { out += sb.toString; sb.setLength(0) }
      i += 1
    }
    out.result()
  }

  def of(docs: Iterable[Doc]): Oracle = {
    val o = new Oracle
    docs.foreach(o.add)
    o
  }
}
