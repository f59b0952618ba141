package graft.search

import graft.analysis.Analyzer
import graft.core._
import graft.index.IndexStore
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver-side per-(field, term) query statistics. */
final case class TermStat(field: String, term: String, df: Long,
                          idf: Double, avgdl: Double)

/** Query modes. The reference's multi-term search is disjunctive
  * accumulation (OR, indexing.go:385-493); AND is the intersection variant
  * the north rule's WAND path assumes; Wand is AND/OR-equivalent top-k with
  * block-max pruning. */
sealed trait SearchMode
object SearchMode {
  case object Or extends SearchMode
  case object And extends SearchMode
  case object Wand extends SearchMode // OR semantics + block-max pruning
}

/** BM25 top-k search over an [[IndexStore]] (SURVEY.md §A.4 pinned scorer).
  *
  * Every query — OR, AND (any number of terms), WAND, prefix, fuzzy — is
  * scored by ONE per-shard-group kernel, [[ShardQuery.scoreGroup]]: posting
  * shards hold disjoint docId ranges (shard = doc_id / shardSpan), so each
  * shard's matched rows score independently into a bounded heap, and the
  * merged per-group top-ks are the global top-k. Where the kernel runs is
  * the only routing decision:
  *
  *  - driver path (Σdf·8 ≤ `driverWandMaxBytes` and the tombstones fit the
  *    driver map): the pruned shard rows come from the driver LRU or one
  *    collect, and shard groups are scored concurrently on the shared
  *    [[DriverPool]]. A warm repeat query runs zero Spark jobs.
  *  - distributed path: ONE shuffle-free Spark job. The store's shard range
  *    (cached per version token) splits into G = min(defaultParallelism,
  *    #shards) contiguous ranges; each range reads its rows through the
  *    pushed `field IN` / `term IN` / shard-range scan filter (plus its doc
  *    range's raw tombstone rows, tagged, when the store has deletes) and
  *    is `coalesce(1)`-ed into one partition. The union of the ranges is
  *    sorted by shard within partitions, the kernel runs in
  *    `mapPartitions`, and `orderBy(score desc, doc_id asc).limit(k)`
  *    becomes TakeOrderedAndProject, which merges the ≤ G·k hits inside the
  *    same job. The plan has zero Exchanges and stays visible in
  *    `explain()`.
  *
  * Both paths sum each doc's contributions in ascending (field, term)
  * order, so every path is bit-identical to [[OracleScorer]].
  */
class SearchEngine(val store: IndexStore) {
  import store.spark.implicits._

  private def spark: SparkSession = store.spark
  private def bm25: Bm25Params = store.cfg.bm25

  /** Decoded posting rows for the given shard subset — via the native
    * Catalyst generator [[graft.functions.PostingExplode]]: the blob is
    * consumed straight from the UnsafeRow inside GenerateExec, with no typed
    * encoder round-trip. */
  def decode(shards: DataFrame): DataFrame =
    shards.select($"field", $"term", $"seg",
      graft.functions.GraftFunctions.posting_explode($"blob"))

  /** Expands a `beginsWith` prefix to concrete index terms via a range scan
    * on the term-sorted df table — the analogue of the reference's radix
    * `WalkPrefix` with its 100-subtree cap (indexing.go:773-785). */
  def expandPrefix(prefix: String, fields: Seq[String], cap: Int = 100): Seq[(String, String)] = {
    // an empty prefix would "match" cap arbitrary terms — reject loudly
    // (search() never passes one; tokenization drops empty terms)
    require(prefix.nonEmpty, "prefix must be non-empty")
    val lo = prefix.toLowerCase
    // Range pruning needs a successor string upper-bounding every
    // lo-prefixed term in UTF-8 (code point) order. Incrementing the
    // final UTF-16 unit is only order-preserving while it stays strictly
    // below the surrogate range; prefixes ending at U+D7FF or above
    // (incl. astral prefixes, whose last unit is a low surrogate, and
    // U+FFFF-adjacent chars) fall back to an unpruned startswith scan —
    // correct, just not min/max-pruned, and vanishingly rare.
    val pred =
      if (lo.nonEmpty && lo.last < 0xD7FF.toChar) {
        val hi = lo.init + (lo.last + 1).toChar
        $"term" >= lo && $"term" < hi
      } else $"term".startsWith(lo)
    cachedExpansion("p", prefix, fields, cap)(pred)
  }

  /** Fuzzy term expansion (reference FuzzySearch, indexing.go:689-709):
    * walk the dictionary subtree of the query's first character and keep
    * terms containing every character of the query. As a term-dictionary
    * range scan + character-containment filter, it needs no extra index.
    * Capped at `cap` terms in deterministic (term, field) order — the same
    * bound the prefix walk applies — so a one-letter fuzzy query against a
    * corpus-scale dictionary never collects an unbounded term list to the
    * driver. */
  def expandFuzzy(key: String, fields: Seq[String], cap: Int = 100): Seq[(String, String)] = {
    val k = key.toLowerCase
    if (k.isEmpty) return Seq.empty
    val lo = k.substring(0, 1)
    val hi = (k.charAt(0) + 1).toChar.toString
    val containsAll = k.distinct.map(c => $"term".contains(c.toString)).reduce(_ && _)
    cachedExpansion("f", k, fields, cap)($"term" >= lo && $"term" < hi && containsAll)
  }

  /** Version-invalidated LRU for prefix/fuzzy expansions (≤ cap pairs per
    * entry) — warm expanding queries need no dictionary-scan job. */
  private val expandCache =
    new java.util.LinkedHashMap[(String, String, Seq[String], Int), Seq[(String, String)]](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, String, Seq[String], Int), Seq[(String, String)]]): Boolean =
        size() > 4096
    }

  /** The first `cap` dictionary pairs of `fields` matching `pred`, in
    * (term, field) order. The one dictionary scan also reads each pair's
    * df, which seeds the df cache under the version token the scan read,
    * so scoring the expansion needs no second dictionary scan. */
  private def cachedExpansion(kind: String, key: String, fields: Seq[String], cap: Int)(
      pred: Column): Seq[(String, String)] = {
    refreshIfStale()
    val ck = (kind, key, fields, cap)
    val (tok, termDf, cached) = synchronized { (cacheToken, termDfC, expandCache.get(ck)) }
    if (cached != null) cached
    else {
      // dictionary scan outside the monitor
      val rows = termDf.filter($"field".isInCollection(fields) && pred)
        .select($"field", $"term", $"df").orderBy($"term", $"field").limit(cap)
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toSeq
      val v = rows.map(_._1)
      synchronized {
        if (cacheToken == tok) {
          if (expandCache.get(ck) == null) expandCache.put(ck, v)
          rows.foreach { case (pair, df) => dfCache.put(pair, java.lang.Long.valueOf(df)) }
        }
      }
      v
    }
  }

  /** Fuzzy search: expand each query token with [[expandFuzzy]], then score
    * the matched terms with the standard BM25 accumulation. */
  def searchFuzzy(query: String, fields: Seq[String] = CorpusDoc.Fields,
                  k: Int = 100): DataFrame = {
    val qTerms = Analyzer.tokenize(query).distinct.sorted.toSeq
    val src = qTerms.flatMap(t => expandFuzzy(t, fields)).map { case (f, t) => (f, t, 0) }
    topK(src, qTerms.size, k, SearchMode.Or)
  }

  /** Full search entry point mirroring the reference API
    * (`POST /index/search` body {Query, Fields, BeginsWith},
    * indexRoutes.go:13-17): analyze the query with the same analyzer as the
    * index (indexing.go:384), match terms exactly or by prefix, score with
    * pinned BM25, return top-k (doc_id, score). */
  def search(query: String, fields: Seq[String] = CorpusDoc.Fields,
             beginsWith: Boolean = false, k: Int = 100,
             mode: SearchMode = SearchMode.Or,
             boosts: Map[String, Double] = Map.empty): DataFrame = {
    val qTerms = Analyzer.tokenize(query).distinct.sorted.toSeq
    if (qTerms.isEmpty) return spark.emptyDataset[Hit].toDF()
    // a negative boost would flip idf's sign and invert WAND's upper bounds
    // into lower bounds, silently breaking pruning
    require(boosts.values.forall(_ >= 0.0), s"boosts must be >= 0: $boosts")
    // each matched pair keeps the index of the query term it expands from,
    // so AND stays "every query term has ≥1 matched expansion" under prefix
    // expansion
    val src: Seq[(String, String, Int)] = qTerms.zipWithIndex.flatMap { case (t, i) =>
      if (beginsWith) expandPrefix(t, fields).map { case (f, mt) => (f, mt, i) }
      else fields.map(f => (f, t, i))
    }
    topK(src, qTerms.size, k, mode, boosts)
  }

  /** Top-k hits hydrated with the stored documents (reference loads the ≤100
    * hit docs from disk, indexing.go:534-537); broadcast join on ≤k ids. */
  def searchDocs(query: String, fields: Seq[String] = CorpusDoc.Fields,
                 beginsWith: Boolean = false, k: Int = 100,
                 mode: SearchMode = SearchMode.Or,
                 boosts: Map[String, Double] = Map.empty): DataFrame = {
    val hits = search(query, fields, beginsWith, k, mode, boosts)
    store.liveCorpus().join(broadcast(hits), Seq("doc_id"))
      .orderBy(desc("score"), asc("doc_id"))
  }

  // ---------- per-store-version caches ----------
  // fieldStats / tombstones / the unioned table plans are re-read only when
  // the store's version token changes (any segment commit or tombstone).
  // This removes 3-4 driver-side jobs + file listings from EVERY query —
  // the reference pays none of these because its index lives in RAM.

  private var cacheToken: String = null
  private var fieldStatsC: Map[String, (Long, Long)] = Map.empty
  private var tombstoneC: Tombstones = Tombstones.empty
  private var tombSmallC: Boolean = true
  private var postingsC: DataFrame = _
  private var termDfC: DataFrame = _
  /** (lowest, highest) posting shard; None = the store has no postings. */
  private var shardRangeC: Option[(Long, Long)] = None
  /** The distributed plan's tagged tombstone rows; None = no deletes. */
  private var tombRowsC: Option[DataFrame] = None

  private def refreshIfStale(): Unit = synchronized {
    val t = store.versionToken()
    if (t != cacheToken) {
      fieldStatsC = store.fieldStats()
      // size-guard the driver tombstone map: past the configured bound the
      // map is never collected — such stores score on the distributed path,
      // whose tasks read their own doc range's tombstone rows (a bulk
      // delete of 10^9 ids must not OOM the driver)
      val tombCount = store.tombstoneCount()
      tombSmallC = tombCount <= store.cfg.maxDriverTombstones
      tombstoneC = if (tombSmallC) Tombstones(store.tombstoneMap()) else Tombstones.empty
      tombRowsC = if (tombCount == 0) None else Some(store.tombstonesDF().select(
        lit(null).cast("string").as("field"), lit(null).cast("string").as("term"),
        $"max_seg".as("seg"), expr(s"doc_id div ${store.cfg.shardSpan}").as("shard"),
        lit(null).cast("binary").as("blocks"), lit(null).cast("binary").as("blob"), $"doc_id"))
      postingsC = store.postings()
      termDfC = store.termDf()
      shardRangeC = store.postingsShardRange()
      blobCache.clear()
      blobCacheSize = 0L
      dfCache.clear()
      expandCache.clear()
      cacheToken = t
    }
  }

  // ---------- driver posting-blob cache ----------
  // Bounded LRU of collected shard rows per (field, term) — the driver fast
  // paths' analogue of the reference's all-in-RAM radix tree (its postings
  // are always resident, indexing.go:130-139). Only lists small enough for
  // the fast paths ever reach here; a repeat query over cached terms runs
  // ZERO Spark jobs. Invalidated wholesale when the store version changes.

  private type ShardRow = ShardQuery.ShardRow
  private val blobCache =
    new java.util.LinkedHashMap[(String, String), Array[ShardRow]](64, 0.75f, true)
  private var blobCacheSize = 0L
  private def rowBytes(r: ShardRow): Long =
    (if (r._5 == null) 0 else r._5.length).toLong + r._6.length + 64

  private def collectRows(pairs: Seq[(String, String)]): Array[ShardRow] =
    matchedShards(pairs)
      .select($"field", $"term", $"seg", $"shard", $"blocks", $"blob")
      .as(ShardQuery.shardRowEncoder).collect()

  /** Shard rows for the matched pairs, served from the LRU where possible.
    * Rows fetched by this call are returned even if eviction (or a version
    * change) keeps them out of the cache — a query never loses its own
    * data. The Spark collect for misses runs OUTSIDE the engine monitor so
    * one cold query cannot serialize every other query on this engine;
    * inserts re-check the version token (never poison a newer cache).
    *
    * Version consistency: cache hits are captured under one version token
    * and the miss collect runs unlocked, so a concurrent CRUD (notably a
    * compact() that renumbers segments) landing in between would hand one
    * query rows from TWO store versions. If the token moved while misses
    * were fetched, the whole fetch (hits + misses) is retried once from the
    * new version; a second concurrent bump is accepted (bounded retry —
    * CRUD is rare relative to queries, and the tombstone filter still
    * guards deletes either way). */
  private def fetchShardRows(matched0: Seq[(String, String)]): Array[ShardRow] = {
    // dedupe: a duplicated pair would double-score its term
    val matched = matched0.distinct
    refreshIfStale()
    if (store.cfg.driverBlobCacheBytes <= 0) return collectRows(matched)
    def attempt(retriesLeft: Int): Array[ShardRow] = {
      val (tok, hits, missKeys) = synchronized {
        val h = Map.newBuilder[(String, String), Array[ShardRow]]
        val m = Seq.newBuilder[(String, String)]
        matched.foreach { key =>
          val c = blobCache.get(key)
          if (c != null) h += key -> c else m += key
        }
        (cacheToken, h.result(), m.result())
      }
      val fetched: Map[(String, String), Array[ShardRow]] =
        if (missKeys.isEmpty) Map.empty
        else collectRows(missKeys).groupBy(r => (r._1, r._2))
      if (missKeys.nonEmpty) synchronized {
        if (cacheToken == tok) {
          missKeys.foreach { key =>
            if (blobCache.get(key) == null) { // racing filler may have won
              val rows = fetched.getOrElse(key, Array.empty[ShardRow])
              blobCache.put(key, rows)
              blobCacheSize += rows.iterator.map(rowBytes).sum
            }
          }
          val it = blobCache.entrySet().iterator()
          while (blobCacheSize > store.cfg.driverBlobCacheBytes && it.hasNext) {
            val e = it.next()
            blobCacheSize -= e.getValue.iterator.map(rowBytes).sum
            it.remove()
          }
        }
      }
      val mixedVersions = missKeys.nonEmpty && hits.nonEmpty && {
        refreshIfStale()
        synchronized { cacheToken != tok }
      }
      if (mixedVersions && retriesLeft > 0) attempt(retriesLeft - 1)
      else matched.iterator.flatMap(k =>
        hits.getOrElse(k, fetched.getOrElse(k, Array.empty[ShardRow]))).toArray
    }
    attempt(1)
  }

  private def cachedTermDf(): DataFrame = { refreshIfStale(); termDfC }
  private def cachedTombstones(): Tombstones = { refreshIfStale(); tombstoneC }
  /** Whether the tombstone set fits the driver-map bound; when false, every
    * query scores on the distributed path, which reads tombstones as rows. */
  def tombstonesSmall: Boolean = { refreshIfStale(); tombSmallC }

  // ---------- scoring internals ----------

  /** idf + avgdl + df statistics for the matched (field, term) pairs,
    * computed on the driver (≤ |fields|·|terms| rows).
    *
    * Per-field boosts scale idf here, at the single source of scoring
    * statistics: every downstream use (exhaustive accumulation, WAND
    * global/block upper bounds and contributions) is linear in idf, so
    * one multiplication boosts them all consistently —
    * WAND pruning stays safe because bounds scale with contributions. */
  private def termStats(matched0: Seq[(String, String)],
                        boosts: Map[String, Double] = Map.empty): Seq[TermStat] = {
    refreshIfStale()
    val matched = matched0.distinct // one stat row per pair, always
    val fstats = fieldStatsC
    val dfMap = fetchDfs(matched)
    matched.flatMap { case (f, t) =>
      dfMap.get((f, t)).filter(_ > 0).flatMap { df =>
        fstats.get(f).collect { case (n, sumDl) if n > 0 =>
          val boost = boosts.getOrElse(f, 1.0)
          val idf = boost * math.log(1.0 + (n - df + 0.5) / (df + 0.5))
          val avgdl = sumDl.toDouble / n
          TermStat(f, t, df, idf, avgdl)
        }
      }
    }
  }

  /** Per-(field, term) dfs with a version-invalidated LRU (8-byte values —
    * the bound is entry count). Misses fetch in one pruned scan; absent
    * pairs are negative-cached as 0 so repeated misses cost nothing, and
    * prefix/fuzzy expansions seed their pairs' dfs. A warm repeat query
    * thus needs no Spark job for its statistics. */
  private val dfCache = new java.util.LinkedHashMap[(String, String), java.lang.Long](1024, 0.75f, true) {
    override def removeEldestEntry(
        e: java.util.Map.Entry[(String, String), java.lang.Long]): Boolean = size() > (1 << 17)
  }

  private def fetchDfs(matched: Seq[(String, String)]): Map[(String, String), Long] = {
    val (tok, hits, missKeys) = synchronized {
      val h = Map.newBuilder[(String, String), Long]
      val m = Seq.newBuilder[(String, String)]
      matched.distinct.foreach { key =>
        val c = dfCache.get(key)
        if (c != null) h += key -> c.longValue else m += key
      }
      (cacheToken, h.result(), m.result())
    }
    if (missKeys.isEmpty) hits
    else {
      // dictionary scan outside the monitor (see fetchShardRows)
      val fieldsTouched = missKeys.map(_._1).distinct
      val terms = missKeys.map(_._2).distinct
      val fetched = cachedTermDf()
        .filter($"field".isInCollection(fieldsTouched) && $"term".isInCollection(terms))
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      synchronized {
        if (cacheToken == tok) missKeys.foreach { key =>
          dfCache.put(key, java.lang.Long.valueOf(fetched.getOrElse(key, 0L)))
        }
      }
      hits ++ missKeys.map(key => key -> fetched.getOrElse(key, 0L))
    }
  }

  /** Selects only the shards of the matched terms — equality pushdown on the
    * (field, term)-sorted postings table. */
  def matchedShards(matched0: Seq[(String, String)]): DataFrame = {
    val matched = matched0.distinct // duplicates would fool the cross-product check
    refreshIfStale()
    val (all, range) = synchronized { (postingsC, shardRangeC) }
    if (range.isEmpty) return all
    val bounded = boundedShards(all, matched)
    // when the matched set IS the fields × terms cross product (every
    // non-prefix query), the IN filters are already exact — skip the
    // broadcast semi-join and its exchange/job. Prefix expansion, where
    // matched terms differ per field, still enforces the exact pair set.
    val crossSize = matched.map(_._1).distinct.size.toLong * matched.map(_._2).distinct.size
    if (matched.size.toLong == crossSize) bounded
    else bounded.join(broadcast(matched.toDF("field", "term")), Seq("field", "term"), "left_semi")
  }

  /** Two parquet-pushable IN filters bound the scan to the matched pairs'
    * fields × terms — a superset of the pairs, which the kernel narrows
    * to the exact set (rows without a [[PairStat]] are skipped). */
  private def boundedShards(all: DataFrame, matched: Seq[(String, String)]): DataFrame =
    all.filter($"field".isInCollection(matched.map(_._1).distinct) &&
      $"term".isInCollection(matched.map(_._2).distinct))

  /** Scores the matched pairs (each with the index of the query term it
    * expands from) and returns the top-k, on the driver or as one Spark job
    * (see the class doc for the routing). */
  private def topK(src: Seq[(String, String, Int)], terms: Int, k: Int, mode: SearchMode,
                   boosts: Map[String, Double] = Map.empty): DataFrame = {
    val matched = src.map(s => (s._1, s._2)).distinct
    val stats = termStats(matched, boosts)
    if (stats.isEmpty) return spark.emptyDataset[Hit].toDF()
    val masks: Map[(String, String), Array[Long]] =
      if (mode != SearchMode.And) Map.empty
      else src.groupBy(s => (s._1, s._2)).map { case (pair, vs) =>
        val m = new Array[Long]((terms + 63) >>> 6)
        vs.foreach { case (_, _, i) => m(i >>> 6) |= 1L << (i & 63) }
        pair -> m
      }
    val q = ShardQuery(stats.map(s =>
      (s.field, s.term) -> PairStat(s.idf, s.avgdl, masks.getOrElse((s.field, s.term), null))).toMap,
      mode, terms, bm25, k)
    // ~8 bytes/posting is conservative for the varint triplets + block meta
    if (stats.map(_.df).sum * 8 <= store.cfg.driverWandMaxBytes && tombstonesSmall)
      driverTopK(matched, q)
    else distributedTopK(matched, q)
  }

  /** Driver path: shard groups of the collected (or LRU-cached) rows are
    * scored concurrently on the shared pool, each into its own heap under a
    * shared θ floor, then merged — per-group top-ks of disjoint docId
    * ranges merge into the global top-k under (score desc, doc_id asc). */
  private def driverTopK(matched: Seq[(String, String)], q: ShardQuery): DataFrame = {
    // rows BEFORE tombstones: if a concurrent delete lands between the two
    // reads, the tombstone lookup is the newer of the pair and the deleted
    // doc is still filtered (the reverse order could resurface it)
    val groups = fetchShardRows(matched).groupBy(_._4).values.toArray
    val tomb = cachedTombstones()
    val shared = new SharedTheta
    val heap = new BoundedHitHeap(q.k)
    DriverPool.run(groups.length, math.max(1, spark.sparkContext.defaultParallelism)) { u =>
      val h = new BoundedHitHeap(q.k, shared)
      q.scoreGroup(groups(u), tomb, h)
      h
    }.foreach(_.result().foreach { case (d, s) => heap.offer(d, s) })
    // already (score desc, doc_id asc)-sorted and ≤ k: plain LocalRelation
    spark.createDataset(heap.result())(ShardQuery.hitEncoder).toDF("doc_id", "score")
  }

  /** A one-row union child whose partitioning differs from the ranges'.
    * Spark 4 plans a Union of children that all report SinglePartition as a
    * partition-ZIPPING union — every range in ONE task. With this child the
    * union concatenates, one task per range. Its tombstone-tagged row sits
    * in shard Long.MinValue, a group with no postings, so no score changes. */
  private lazy val unionGuard: DataFrame =
    spark.createDataset(Seq[ShardQuery.TaggedRow]((null, null, 0, Long.MinValue, null, null, -1L)))(
      ShardQuery.taggedEncoder).toDF("field", "term", "seg", "shard", "blocks", "blob", "doc_id")

  /** Distributed path: ONE shuffle-free Spark job (see the class doc). */
  private def distributedTopK(matched: Seq[(String, String)], q: ShardQuery): DataFrame = {
    refreshIfStale()
    val (all, range, tombRows) = synchronized { (postingsC, shardRangeC, tombRowsC) }
    val (lo, hi) = range.getOrElse(return spark.emptyDataset[Hit].toDF())
    val n = hi - lo + 1
    val g = math.max(1L, math.min(spark.sparkContext.defaultParallelism.toLong, n))
    val span = store.cfg.shardSpan
    val rows = boundedShards(all, matched)
      .select($"field", $"term", $"seg", $"shard", $"blocks", $"blob", lit(-1L).as("doc_id"))
    val ranges = (0L until g).map { i =>
      val (a, b) = (lo + n * i / g, lo + n * (i + 1) / g)
      val part = rows.filter($"shard" >= a && $"shard" < b)
      tombRows.fold(part)(t => part.union(t.filter($"doc_id" >= a * span && $"doc_id" < b * span)))
        .coalesce(1)
    }
    val union = if (ranges.size == 1) ranges.head else (ranges :+ unionGuard).reduce(_ union _)
    union.sortWithinPartitions("shard")
      .as(ShardQuery.taggedEncoder).mapPartitions(q.scorePartition)(ShardQuery.hitEncoder)
      .toDF("doc_id", "score").orderBy(desc("score"), asc("doc_id")).limit(q.k)
  }
}
