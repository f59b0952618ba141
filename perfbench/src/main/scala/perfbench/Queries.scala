package perfbench

import graft.analysis.Analyzer
import graft.index.PostingCodec
import graft.search.SearchEngine

import java.util.concurrent.{Callable, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable

/** A stream entry: the query and its reference answer. */
final case class Item(q: Query, ref: RefAnswer)

/** Issues queries against one engine, times them, and checks each answer
  * against its reference outside the timed section. In a traced run every
  * query is preceded by the per-layer probes (analyze, expand, fetch,
  * decode), which are timed separately from the query itself. */
final class QueryRunner(engine: SearchEngine, reference: Reference,
                        obs: Observer, res: Result) {
  private val seq = new AtomicLong

  private def exec(q: Query): Vector[(Long, Double)] = {
    val df =
      if (q.fuzzy) engine.searchFuzzy(q.text, q.fields, k = Sizes.K)
      else engine.search(q.text, q.fields, q.prefix, Sizes.K, q.mode)
    df.collect().iterator.map(r => (r.getLong(0), r.getDouble(1))).toVector
  }

  private def probe(q: Query, ref: RefAnswer): Unit = {
    val terms = obs.span("search.analyze")(Analyzer.tokenize(q.text).distinct.sorted.toSeq)
    val pairs =
      if (q.prefix) obs.span("search.expand")(terms.flatMap(engine.expandPrefix(_, q.fields)).distinct)
      else if (q.fuzzy) obs.span("search.expand")(terms.flatMap(engine.expandFuzzy(_, q.fields)).distinct)
      else q.fields.flatMap(f => terms.map(t => (f, t)))
    val blobs = obs.span("search.fetch")(
      if (pairs.isEmpty) Array.empty[Array[Byte]]
      else engine.matchedShards(pairs).select("blob").collect().map(_.getAs[Array[Byte]](0)))
    obs.span("search.decode")(blobs.foreach(PostingCodec.decodeAll))
    postings.addAndGet(ref.postings)
  }

  /** Σdf of the matched pairs over every probed query. */
  val postings = new AtomicLong

  /** Runs one query; returns its latency in ms when the answer is right.
    * Queries of kind `wide_and` that throw are counted as the known >64-term
    * AND defect rather than as failures. */
  def run(item: Item): Option[Double] = {
    val q = item.q
    val id = seq.getAndIncrement()
    if (obs.enabled) probe(q, item.ref)
    val t0 = Env.nowNs
    val got =
      try Right(obs.tagged(s"q:$id")(exec(q)))
      catch { case e: Exception => Left(e) }
    val ms = Env.msSince(t0)
    got match {
      case Left(e) if q.kind == "wide_and" =>
        res.knownDefect(s"${q.kind}: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(120)}"); None
      case Left(e) =>
        res.wrong(s"${q.label.take(80)} threw ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(160)}"); None
      case Right(hits) =>
        reference.check(q, item.ref, hits) match {
          case None => res.ok(); Some(ms)
          case Some(err) => res.wrong(s"${q.label.take(80)}: $err"); None
        }
    }
  }

  def queriesRun: Long = seq.get

  /** Closed loop: `clients` threads each issue the next stream item as soon
    * as their previous query returns, until `budgetMs` has passed and the
    * next item starts a new block of `blockLen` (so a run covers whole
    * blocks of a stratified stream). Returns every successful latency. */
  def closedLoop(stream: IndexedSeq[Item], clients: Int, budgetMs: Double,
                 blockLen: Int = 1): Vector[Double] = {
    val next = new AtomicLong
    val deadline = Env.nowNs + (budgetMs * 1e6).toLong
    val pool = Executors.newFixedThreadPool(clients)
    try {
      val futs = (0 until clients).map { _ =>
        pool.submit(new Callable[Vector[Double]] {
          def call(): Vector[Double] = {
            val out = mutable.ArrayBuffer.empty[Double]
            var i = next.getAndIncrement()
            while (Env.nowNs < deadline || i % blockLen != 0) {
              run(stream((i % stream.size).toInt)).foreach(out += _)
              i = next.getAndIncrement()
            }
            out.toVector
          }
        })
      }
      futs.flatMap(_.get())
    } finally {
      pool.shutdownNow()
      pool.awaitTermination(60, TimeUnit.SECONDS)
    }
  }.toVector
}
