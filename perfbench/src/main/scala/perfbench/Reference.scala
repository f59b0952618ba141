package perfbench

import graft.analysis.Analyzer
import graft.core.{Bm25Params, CorpusDoc}
import graft.search.{OracleScorer, SearchMode}

import scala.collection.mutable

/** Expected top-k of a query: `(doc_id, score)` in (score desc, doc_id asc)
  * order, plus the matched (field, term) pairs and their summed df. */
final case class RefAnswer(top: Vector[(Long, Double)], matched: Seq[(String, String)],
                           postings: Long)

/** In-memory BM25 reference over a live document set.
  *
  * Documents are analyzed once with `OracleScorer.analyze`; each query then
  * follows `OracleScorer.search` term for term — exact or prefix-expanded
  * (capped at 100 in (term, field) order) pairs, `SearchEngine.expandFuzzy`'s
  * first-character + containment rule for fuzzy queries, the pinned BM25
  * expression, contributions summed in ascending (field, term) order, and
  * ties broken by ascending doc_id. It re-scans nothing per query, so every
  * query of a stream can be checked. */
final class Reference(docs: Seq[CorpusDoc], fields: Seq[String] = CorpusDoc.Fields,
                      params: Bm25Params = Bm25Params()) {
  private val analyzed = OracleScorer.analyze(docs, fields).toArray
  private val n = analyzed.length.toLong
  private val posOf: Map[Long, Int] = analyzed.iterator.zipWithIndex
    .map { case (a, i) => a.doc.doc_id -> i }.toMap
  private val avgdl: Map[String, Double] = fields.map { f =>
    f -> (if (n == 0) 0.0 else analyzed.iterator.map(_.dl(f).toLong).sum.toDouble / n)
  }.toMap
  private val post: Map[(String, String), Array[Int]] = {
    val m = mutable.HashMap.empty[(String, String), mutable.ArrayBuffer[Int]]
    analyzed.indices.foreach { i =>
      analyzed(i).tf.keysIterator.foreach(k => m.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += i)
    }
    m.iterator.map { case (k, v) => k -> v.toArray }.toMap
  }
  private val vocab: Map[String, Array[String]] =
    post.keys.groupBy(_._1).map { case (f, ks) => f -> ks.iterator.map(_._2).toArray.sorted }

  def df(field: String, term: String): Long = post.get((field, term)).map(_.length.toLong).getOrElse(0L)

  /** (field, term) df of every indexed pair, as `termDf()` reports them. */
  def dfMap: Map[(String, String), Long] = post.map { case (k, v) => k -> v.length.toLong }

  private def expand(fs: Seq[String], keep: String => Boolean): Seq[(String, String)] =
    fs.flatMap(f => vocab.getOrElse(f, Array.empty[String]).iterator.filter(keep).map(t => (f, t)))
      .sortBy { case (f, t) => (t, f) }.take(100)

  def matched(q: Query): Seq[(String, String)] = {
    val qTerms = Analyzer.tokenize(q.text).distinct.sorted.toSeq
    val pairs =
      if (q.fuzzy) qTerms.flatMap { k =>
        val need = k.distinct
        expand(q.fields, t => t.nonEmpty && t.charAt(0) == k.charAt(0) && need.forall(c => t.indexOf(c) >= 0))
      }
      else if (q.prefix) qTerms.flatMap(p => expand(q.fields, _.startsWith(p)))
      else q.fields.flatMap(f => qTerms.map(t => (f, t)))
    pairs.distinct.sorted
  }

  /** Σdf over the matched pairs; 8 bytes per posting of it is the input of
    * the driver fast-path gate (`driverWandMaxBytes`). */
  def postings(q: Query): Long = matched(q).iterator.map { case (f, t) => df(f, t) }.sum

  private def part(pos: Int, f: String, t: String, idf: Double): Double = {
    val tf = analyzed(pos).tf((f, t)).toDouble
    val dl = analyzed(pos).dl(f).toDouble
    idf * (tf * (params.k1 + 1.0)) /
      (tf + params.k1 * (1.0 - params.b + params.b * dl / avgdl(f)))
  }

  private def idf(f: String, t: String): Double = {
    val d = df(f, t)
    math.log(1.0 + (n - d + 0.5) / (d + 0.5))
  }

  def answer(q: Query, k: Int): RefAnswer = {
    val m = matched(q)
    val acc = new Array[Double](analyzed.length)
    val touched = new Array[Boolean](analyzed.length)
    m.foreach { case (f, t) =>
      val ps = post.getOrElse((f, t), Array.emptyIntArray)
      if (ps.nonEmpty) {
        val w = idf(f, t)
        ps.foreach { p => acc(p) += part(p, f, t, w); touched(p) = true }
      }
    }
    val ok = andFilter(q)
    val top = analyzed.indices.iterator.filter(i => touched(i) && ok(i))
      .map(i => (analyzed(i).doc.doc_id, acc(i))).toVector
      .sortBy { case (d, s) => (-s, d) }.take(k)
    RefAnswer(top, m, m.iterator.map { case (f, t) => df(f, t) }.sum)
  }

  /** AND keeps documents holding every query term in some searched field. */
  private def andFilter(q: Query): Int => Boolean =
    if (q.mode != SearchMode.And) _ => true
    else {
      val qTerms = Analyzer.tokenize(q.text).distinct
      val hits = new Array[Int](analyzed.length)
      qTerms.foreach { t =>
        q.fields.flatMap(f => post.getOrElse((f, t), Array.emptyIntArray)).distinct
          .foreach(p => hits(p) += 1)
      }
      p => hits(p) == qTerms.length
    }

  /** The reference score of one document, if the query retrieves it. */
  def scoreOf(q: Query, matchedPairs: Seq[(String, String)], docId: Long): Option[Double] =
    posOf.get(docId).filter(andFilter(q)).flatMap { p =>
      val ps = matchedPairs.filter(k => analyzed(p).tf.contains(k))
      if (ps.isEmpty) None
      else Some(ps.foldLeft(0.0) { case (s, (f, t)) => s + part(p, f, t, idf(f, t)) })
    }

  /** Checks a returned top-k against the reference: same length, every rank
    * within `tol` of the expected score, and every returned document scored
    * within `tol` of its own reference score (so ties may permute). Returns
    * the first mismatch. */
  def check(q: Query, ref: RefAnswer, got: Seq[(Long, Double)], tol: Double = 1e-5): Option[String] = {
    if (got.size != ref.top.size) return Some(s"${got.size} hits, expected ${ref.top.size}")
    got.indices.iterator.map { i =>
      val (d, s) = got(i)
      if (math.abs(s - ref.top(i)._2) > tol) Some(f"rank $i score $s%.7f, expected ${ref.top(i)._2}%.7f")
      else scoreOf(q, ref.matched, d) match {
        case Some(r) if math.abs(r - s) <= tol => None
        case other => Some(s"doc $d scored $s, reference $other")
      }
    }.collectFirst { case Some(e) => e }
  }
}
