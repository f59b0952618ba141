package perfbench

import graft.analysis.Analyzer
import graft.core.CorpusDoc
import graft.corpus.CorpusGen
import graft.search.SearchMode

import scala.util.hashing.MurmurHash3

/** One top-k request of a query stream. `kind` names its shape. */
final case class Query(kind: String, text: String, fields: Seq[String],
                       mode: SearchMode, prefix: Boolean = false,
                       fuzzy: Boolean = false) {
  def label: String = s"$kind:${fields.mkString(",")}:$text"
}

/** Seeded input generation. Every corpus, near-copy, write batch and query
  * stream is a pure function of the workload seed (and, for query terms, of
  * the store's `termDf()` — itself a function of the seeded corpus). */
object Inputs {
  val NumRepos = 100
  val IdentCount = 4000
  val AllFields: Seq[String] = CorpusDoc.Fields

  def docs(seed: Long, firstId: Long, n: Int): Vector[CorpusDoc] = {
    val vocab = new CorpusGen.Vocab(seed, IdentCount)
    (firstId until firstId + n).iterator
      .map(id => CorpusGen.genDoc(id, seed, NumRepos, vocab)).toVector
  }

  /** Near-copies of `count` long documents of `from`, as (source id, copy):
    * the source content plus one extra token, so the 3-shingle Jaccard to
    * the source is above 0.99. Sources are distinct, so each copy adds
    * exactly one dedup victim. */
  def nearCopies(from: Seq[CorpusDoc], count: Int, firstId: Long,
                 rnd: java.util.Random): Vector[(Long, CorpusDoc)] = {
    val long = from.filter(d => Analyzer.tokenize(d.content).length >= 120).toVector
    require(long.size >= count, s"only ${long.size} sources for $count near-copies")
    shuffled(long, rnd).take(count).zipWithIndex.map { case (d, i) =>
      d.doc_id -> d.copy(doc_id = firstId + i, content = d.content + " nearcopy" + (i % 7))
    }
  }

  /** Order-sensitive fingerprint of a document sequence. */
  def fingerprint(ds: Seq[CorpusDoc]): Int = MurmurHash3.orderedHash(ds.iterator.map(_.##))

  def shuffled[A](xs: Vector[A], rnd: java.util.Random): Vector[A] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toVector.asInstanceOf[Vector[A]]
  }
}

/** Query terms bucketed by document frequency, read from `termDf()`.
  * `deciles(0)` holds the most frequent tenth of the content vocabulary. */
final class TermSpace(df: Map[(String, String), Long]) {
  private def byDf(field: String): Vector[String] =
    df.iterator.collect { case ((`field`, t), d) => (t, d) }.toVector
      .sortBy { case (t, d) => (-d, t) }.map(_._1)

  private val content = byDf("content")
  val deciles: Vector[Vector[String]] = {
    val n = content.size
    (0 until 10).map(i => content.slice(i * n / 10, (i + 1) * n / 10)).toVector
  }
  val paths: Vector[String] = byDf("path")
  val langs: Vector[String] = byDf("lang")

  def term(rnd: java.util.Random, from: Int, until: Int): String = {
    val d = deciles(from + rnd.nextInt(until - from))
    d(rnd.nextInt(d.size))
  }

  private def terms(rnd: java.util.Random, n: Int, from: Int, until: Int): String =
    Iterator.continually(term(rnd, from, until)).distinct.take(n).mkString(" ")

  /** One query of the mixed shape distribution over deciles [from, until):
    * 1-term, OR/AND/WAND 2–5 terms, prefix, fuzzy, and path/lang-scoped. */
  def mixed(rnd: java.util.Random, from: Int, until: Int, maxTerms: Int): Query =
    shaped(rnd.nextInt(Shapes), rnd, from, until, maxTerms)

  /** Number of query shapes [[shaped]] knows. */
  val Shapes = 8

  /** A query of shape `kind` (0 until [[Shapes]]) over deciles [from, until). */
  def shaped(kind: Int, rnd: java.util.Random, from: Int, until: Int, maxTerms: Int): Query = {
    val all = Inputs.AllFields
    def nTerms = 2 + rnd.nextInt(math.max(1, maxTerms - 1))
    kind match {
      case 0 => Query("one", term(rnd, from, until), all, SearchMode.Wand)
      case 1 => Query("or", terms(rnd, nTerms, from, until), all, SearchMode.Or)
      // AND over the more frequent half of the range, so most match something
      case 2 => Query("and", terms(rnd, 2, from, (from + until + 1) / 2), all, SearchMode.And)
      case 3 => Query("wand", terms(rnd, nTerms, from, until), all, SearchMode.Wand)
      case 4 =>
        val t = Iterator.continually(term(rnd, from, until)).find(_.length >= 4).get
        Query("prefix", t.take(3 + rnd.nextInt(2)), all, SearchMode.Or, prefix = true)
      case 5 =>
        val t = Iterator.continually(term(rnd, from, until)).find(_.length >= 5).get
        Query("fuzzy", t, Seq("content"), SearchMode.Or, fuzzy = true)
      case 6 => Query("path", paths(rnd.nextInt(paths.size)), Seq("path"), SearchMode.Wand)
      case _ =>
        Query("lang", s"${langs(rnd.nextInt(langs.size))} ${term(rnd, from, until)}",
          Seq("lang", "content"), SearchMode.Wand)
    }
  }

  /** A pasted-snippet lookup: AND over the first `n` distinct tokens of a
    * document's content (the document itself always matches). */
  def snippet(doc: CorpusDoc, n: Int): Query = {
    val toks = Analyzer.tokenize(doc.content).distinct
    require(toks.length >= n, s"doc ${doc.doc_id} has only ${toks.length} distinct tokens")
    Query("wide_and", toks.take(n).mkString(" "), Seq("content"), SearchMode.And)
  }
}
