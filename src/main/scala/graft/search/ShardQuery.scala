package graft.search

import graft.core.Bm25Params
import graft.index.PostingCodec

/** Scoring inputs of one matched (field, term) pair: its (boosted) idf, its
  * field's avgdl and, in AND mode only, the query-term bits the pair
  * satisfies (⌈terms/64⌉ words, so AND has no term cap; null otherwise). */
private[search] final case class PairStat(idf: Double, avgdl: Double, mask: Array[Long])

/** Deleted postings: doc_id → highest deleted segment, as sorted primitive
  * arrays (a binary search per lookup, no boxing). */
private[search] final class Tombstones private (ids: Array[Long], maxSeg: Array[Int])
    extends Serializable {
  def isEmpty: Boolean = ids.isEmpty
  /** Whether `doc`'s posting in segment `seg` is deleted. */
  def killed(doc: Long, seg: Int): Boolean = {
    val i = java.util.Arrays.binarySearch(ids, doc)
    i >= 0 && seg <= maxSeg(i)
  }
}

private[search] object Tombstones {
  val empty: Tombstones = new Tombstones(Array.emptyLongArray, Array.emptyIntArray)
  /** From raw (doc_id, max_seg) rows; a doc deleted twice keeps its max. */
  def apply(rows: Iterable[(Long, Int)]): Tombstones =
    if (rows.isEmpty) empty
    else {
      val m = rows.groupMapReduce(_._1)(_._2)(math.max).toArray.sortBy(_._1)
      new Tombstones(m.map(_._1), m.map(_._2))
    }
}

/** One query as the per-shard-group scoring kernel sees it — the ONE kernel
  * behind every search path. The driver pool (small candidate sets) and the
  * executor tasks of the distributed plan both call [[scoreGroup]] on
  * shard groups: all matched rows of one docId-range shard, so a doc's
  * every contribution lands in one call and groups never share a doc.
  *
  * Serializable: the distributed plan ships it inside its mapPartitions
  * closure. */
private[search] final case class ShardQuery(
    stats: Map[(String, String), PairStat], mode: SearchMode, terms: Int,
    bm25: Bm25Params, k: Int) {
  import ShardQuery.ShardRow

  private val words = if (mode == SearchMode.And) (terms + 63) >>> 6 else 0

  /** Scores one shard's rows into `heap`. Rows are visited in ascending
    * (field, term, seg) order, so every doc sums its contributions in the
    * oracle scorer's (field, term) order and scores are bit-identical to
    * it on every path. OR and AND accumulate into a [[DriverScoreMap]]
    * (AND keeps docs whose mask holds every query term); WAND runs
    * [[WandExecutor.runWand]] over block-max cursors. */
  def scoreGroup(group: Iterable[ShardRow], tomb: Tombstones, heap: BoundedHitHeap): Unit = {
    val rows = group.iterator.filter(r => stats.contains((r._1, r._2))).toArray
      .sortBy(r => (r._1, r._2, r._3))
    if (rows.isEmpty) return
    if (mode == SearchMode.Wand) {
      val k1 = bm25.k1; val b = bm25.b
      WandExecutor.runWand(rows.map { case (f, t, seg, _, blocks, blob) =>
        val st = stats((f, t))
        new TermCursor(seg, st.idf, st.avgdl, k1, b,
          new PostingCodec.Cursor(blob, PostingCodec.decodeBlocks(blocks)))
      }, tomb, heap)
    } else accumulate(rows, tomb, heap)
  }

  /** Allocation-free exhaustive accumulation: varints decoded inline (no
    * tuple per posting) into a primitive open-addressing map pre-sized from
    * the group's blob bytes (≥ 3 bytes per posting bounds its docs). */
  private def accumulate(rows: Array[ShardRow], tomb: Tombstones, heap: BoundedHitHeap): Unit = {
    val bytes = rows.iterator.map(_._6.length.toLong).sum
    val est = math.min(bytes / 3 + 16, 1L << 21).toInt
    val acc = new DriverScoreMap(math.max(est * 10 / 7, 1 << 10), words)
    val k1 = bm25.k1; val b = bm25.b
    val noTomb = tomb.isEmpty
    rows.foreach { case (f, t, seg, _, _, blob) =>
      val st = stats((f, t))
      val idf = st.idf; val avgdl = st.avgdl; val mask = st.mask
      var p = 0
      var prevDoc = 0L
      while (p < blob.length) {
        // inline LEB128 × 3: docId delta, tf, dl
        var v = 0L; var shift = 0; var by = 0
        do { by = blob(p) & 0xff; v |= (by & 0x7fL) << shift; shift += 7; p += 1 }
        while ((by & 0x80) != 0)
        val d = prevDoc + v
        prevDoc = d
        v = 0L; shift = 0
        do { by = blob(p) & 0xff; v |= (by & 0x7fL) << shift; shift += 7; p += 1 }
        while ((by & 0x80) != 0)
        val tf = v.toDouble
        v = 0L; shift = 0
        do { by = blob(p) & 0xff; v |= (by & 0x7fL) << shift; shift += 7; p += 1 }
        while ((by & 0x80) != 0)
        val dl = v.toDouble
        if (noTomb || !tomb.killed(d, seg)) {
          // EXACT expression shape of OracleScorer — re-associating it
          // would break bit-identity
          val part = idf * (tf * (k1 + 1.0)) /
            (tf + k1 * (1.0 - b + b * dl / avgdl))
          acc.add(d, part, mask)
        }
      }
    }
    acc.foreach { (d, s, matchedTerms) =>
      if (words == 0 || matchedTerms == terms) heap.offer(d, s)
    }
  }

  /** One executor task of the distributed plan: rows arrive sorted by
    * shard, each group holding its shard's posting rows plus any tagged
    * tombstone rows of its doc range (field = null, doc_id, seg = max
    * deleted segment). Groups stream through one heap, so task memory is
    * one shard's matched rows and θ tightens across the task's groups. */
  def scorePartition(rows: Iterator[ShardQuery.TaggedRow]): Iterator[(Long, Double)] = {
    val heap = new BoundedHitHeap(k)
    val group = scala.collection.mutable.ArrayBuffer.empty[ShardRow]
    val tombRows = scala.collection.mutable.ArrayBuffer.empty[(Long, Int)]
    var shard = Long.MinValue
    def flush(): Unit = {
      if (group.nonEmpty) scoreGroup(group, Tombstones(tombRows), heap)
      group.clear(); tombRows.clear()
    }
    rows.foreach { case (f, t, seg, sh, blocks, blob, doc) =>
      if (sh != shard) { flush(); shard = sh }
      if (f == null) tombRows += ((doc, seg)) else group += ((f, t, seg, sh, blocks, blob))
    }
    flush()
    heap.result().iterator
  }
}

private[search] object ShardQuery {
  /** (field, term, seg, shard, blocks, blob) — one posting-shard row. */
  type ShardRow = (String, String, Int, Long, Array[Byte], Array[Byte])
  /** A [[ShardRow]] plus doc_id, the distributed plan's row: posting rows
    * carry doc_id -1, tombstone rows a null field. */
  type TaggedRow = (String, String, Int, Long, Array[Byte], Array[Byte], Long)
  /** Encoders derived once: deriving one by reflection costs milliseconds
    * per query. */
  lazy val shardRowEncoder: org.apache.spark.sql.Encoder[ShardRow] =
    org.apache.spark.sql.Encoders.product[ShardRow]
  lazy val taggedEncoder: org.apache.spark.sql.Encoder[TaggedRow] =
    org.apache.spark.sql.Encoders.product[TaggedRow]
  lazy val hitEncoder: org.apache.spark.sql.Encoder[(Long, Double)] =
    org.apache.spark.sql.Encoders.product[(Long, Double)]
}

/** One shared daemon pool for driver-side shard-group scoring. Each call
  * bounds its own concurrency (`par`, the session's defaultParallelism —
  * never a hard-coded core count), so a query runs at most `par` units at
  * once however many queries share the pool. */
private[graft] object DriverPool {
  private val pool = java.util.concurrent.Executors.newCachedThreadPool { (r: Runnable) =>
    val t = new Thread(r, "graft-driver-score")
    t.setDaemon(true)
    t
  }

  /** Runs `unit(0 until n)` with at most `par` in flight and returns the
    * results in unit order. The first failure stops siblings from starting
    * further units and is rethrown as itself (never wrapped in an
    * ExecutionException). One unit or one core runs inline. */
  def run[A: scala.reflect.ClassTag](n: Int, par: Int)(unit: Int => A): Array[A] = {
    val out = new Array[A](n)
    if (n <= 1 || par <= 1) {
      var u = 0
      while (u < n) { out(u) = unit(u); u += 1 }
    } else {
      val next = new java.util.concurrent.atomic.AtomicInteger(0)
      val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
      val workers = Seq.fill(math.min(par, n))(pool.submit(new Runnable {
        def run(): Unit =
          try {
            var u = next.getAndIncrement()
            while (u < n && failure.get == null) { out(u) = unit(u); u = next.getAndIncrement() }
          } catch { case t: Throwable => failure.compareAndSet(null, t) }
      }))
      workers.foreach(_.get()) // workers never throw: failures land in `failure`
      val t = failure.get
      if (t != null) throw t
    }
    out
  }
}
