package perfbench

import graft.analysis.Analyzer
import graft.core.{CorpusDoc, IndexConfig}
import graft.corpus.CorpusGen
import graft.index.IndexStore
import graft.pipeline.Dedup
import graft.search.SearchEngine
import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Parsed command line of one run. `cores` is the machine's core count. */
final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      work: String, cores: Int)

/** Corpus sizes and engine settings. All of them are fixed here so that two
  * commits run the identical benchmark. */
object Sizes {
  val K = 10
  val SetupReps = 3
  val ShardSpan: Long = 1L << 11
  val BuildDocs = 3000
  val QueryDocs = 3000
  /** query_scale: candidate-volume gate and driver LRU budget. A query with
    * a top-decile content term crosses the gate; the long tail of distinct
    * low-df queries overflows the LRU. */
  val ScaleWandMaxBytes: Long = 24L << 10
  val ScaleBlobCacheBytes: Long = 32L << 10
  /** Distinct terms of a query_scale snippet lookup (AND, over 64). */
  val WideAndTerms = 70
}

/** State shared by one run: the current session, its scratch paths, the
  * result, and the trace/untraced split of the measured time. */
final class Run(val a: Args, val res: Result) {
  var spark: SparkSession = Env.session(a.cores, a.work)
  def dir(name: String): String = s"${a.work}/$name"

  def restart(cores: Int): Unit = {
    Env.stop(spark)
    spark = Env.session(cores, a.work)
  }

  def dataset(docs: Seq[CorpusDoc]): Dataset[CorpusDoc] =
    spark.createDataset(docs)(Encoders.product[CorpusDoc]).repartition(a.cores)

  def put(name: String, v: Double): Unit = res.put(name, v)
  def note(msg: String): Unit = println(s"# ${a.workload}: $msg")

  /** Median of `Sizes.SetupReps` timed set-ups, reported as `setup_s`. */
  def setup[A](f: => A): A = {
    val runs = (1 to Sizes.SetupReps).map(_ => Env.timedMs(f))
    put("setup_s", Env.median(runs.map(_._2)) / 1000)
    note(f"setup ${runs.map(_._2 / 1000).map(s => f"$s%.2f").mkString(" ")} s")
    runs.last._1
  }

  /** Measures for `a.seconds`. With `overhead`, a traced run spends the
    * first half untraced and the second half traced, and reports the
    * relative difference of the two halves' median op latency as
    * `trace.overhead_frac`; without it, a traced run is traced throughout. */
  def measure(overhead: Boolean)(body: (Boolean, Double) => Vector[Double]): Vector[Double] = {
    val budget = a.seconds * 1000.0
    if (!a.trace) body(false, budget)
    else if (!overhead) body(true, budget)
    else {
      val plain = body(false, budget / 2)
      val traced = body(true, budget / 2)
      if (plain.nonEmpty && traced.nonEmpty)
        put("trace.overhead_frac", Env.median(traced) / Env.median(plain) - 1)
      note(f"trace overhead ${res.get("trace.overhead_frac").getOrElse(0.0) * 100}%.1f%%")
      traced
    }
  }

  /** op latency percentiles and the sample count behind them. */
  def latencies(xs: Vector[Double], unit: String): Unit = {
    res.check(xs.nonEmpty, "no successful operation was measured")
    if (xs.nonEmpty) {
      put("op_p50_ms", Env.percentile(xs, 0.5))
      put("op_p90_ms", Env.percentile(xs, 0.9))
      put("op_p99_ms", Env.percentile(xs, 0.99))
      note(f"$unit latency n=${xs.size} p50=${Env.percentile(xs, 0.5)}%.2f " +
        f"p90=${Env.percentile(xs, 0.9)}%.2f p99=${Env.percentile(xs, 0.99)}%.2f ms")
    }
  }

  def storeBytes(base: String, docs: Seq[CorpusDoc]): Unit = {
    val raw = docs.iterator.map(d =>
      CorpusDoc.Fields.iterator.map(f => CorpusDoc.fieldValue(d, f).getBytes("UTF-8").length.toLong).sum).sum
    put("store_bytes_per_corpus_byte", Env.bytesUnder(spark, base).toDouble / raw)
  }

  /** Stage wall times and posting-table sizes of one built segment. */
  def indexLayers(base: String, store: IndexStore, segId: Int): Unit = {
    Seq("corpus", "postings", "df", "docstats", "fieldstats").foreach { st =>
      val f = java.nio.file.Paths.get(s"$base/seg-$segId/_checkpoints/$st.json")
      val json = if (java.nio.file.Files.exists(f)) java.nio.file.Files.readString(f) else ""
      def field(k: String): Double =
        s""""$k":(\\d+)""".r.findFirstMatchIn(json).map(_.group(1).toDouble).getOrElse(0.0)
      put(s"index.stage.${st}_ms", field("wallMs"))
      if (st == "postings") put("index.postings_bytes", field("bytes"))
    }
    val p = store.postings()
    val row = p.agg(count(lit(1)), sum(col("count"))).head()
    put("index.shard_rows", row.getLong(0).toDouble)
    put("index.postings_rows", row.getLong(1).toDouble)
  }

  /** Tokens per second of `Analyzer.tokenize` over the corpus' content. */
  def analysisLayer(docs: Seq[CorpusDoc]): Unit = {
    val sample = docs.take(2000).map(_.content)
    sample.foreach(Analyzer.tokenize) // JIT warm-up
    val (n, ms) = Env.timedMs(sample.iterator.map(Analyzer.tokenize(_).length.toLong).sum)
    put("analysis.tokens_per_s", n / (ms / 1000))
  }

  /** Gives the asynchronous listener bus time to deliver pending events. */
  def drain(): Unit = Thread.sleep(300)

  def sparkLayers(obs: Observer, wallMs: Double, cores: Int): Unit = {
    drain()
    obs.sparkMetrics(wallMs, cores).foreach { case (k, v) => put(k, v) }
  }

  def heap(): Unit = put("heap_after_gc_mb", Env.heapAfterGcMb())

  /** The input self-check: one seed reproduces the same corpus and query
    * stream (or write round), and the next seed gives different ones. */
  def seedCheck(streamOf: Long => Seq[String]): Unit = {
    val s = a.seed
    def docsOf(seed: Long) = Inputs.docs(seed, 0, 200)
    res.check(Inputs.fingerprint(docsOf(s)) == Inputs.fingerprint(docsOf(s)),
      "corpus not reproducible from its seed")
    res.check(Inputs.fingerprint(docsOf(s)) != Inputs.fingerprint(docsOf(s + 1)),
      "two seeds gave the same corpus")
    res.check(streamOf(s) == streamOf(s), "query stream not reproducible from its seed")
    res.check(streamOf(s) != streamOf(s + 1), "two seeds gave the same query stream")
  }

  def close(): Unit = Env.stop(spark)
}

object Workloads {
  val names: Seq[String] = Seq("build", "query_scale", "query_warm")

  def run(a: Args, res: Result): Unit = {
    val r = new Run(a, res)
    try a.workload match {
      case "build" => build(r)
      case "query_warm" => queryWarm(r)
      case "query_scale" => queryScale(r)
    } finally r.close()
  }

  private def cfg: IndexConfig = IndexConfig(shardSpan = Sizes.ShardSpan)

  private def newStore(r: Run, base: String, c: IndexConfig = cfg): IndexStore = {
    Env.delete(r.spark, base)
    new IndexStore(r.spark, base, c)
  }

  /** Builds the store a query or write workload reads; returns its wall ms. */
  private def buildStore(r: Run, base: String, docs: Seq[CorpusDoc], c: IndexConfig): (IndexStore, Double) = {
    val store = newStore(r, base, c)
    val (_, ms) = Env.timedMs(store.createSegment(r.dataset(docs)))
    r.note(f"store of ${docs.size} docs built in ${ms / 1000}%.2f s")
    (store, ms)
  }

  /** The store's `termDf()` on the driver; must equal the reference's. */
  private def termSpace(r: Run, store: IndexStore, ref: Reference): TermSpace = {
    val df = store.termDf().collect().iterator
      .map(row => (row.getString(0), row.getString(1)) -> row.getLong(2)).toMap
    r.res.check(df == ref.dfMap, s"termDf() differs from the reference (${df.size} vs ${ref.dfMap.size} pairs)")
    new TermSpace(df)
  }

  // ---------------------------------------------------------------- build

  /** The index write path at 4N = nproc cores: `add` (fresh ids plus
    * near-copies), a merge of the segments, `delete`, a second `add` and
    * `delete` on a built store, then a full `createSegment` of the seeded
    * corpus. The op is one write. A traced run adds an `update`, the pair
    * build at N = max(1, nproc/4) cores for the scaling efficiency, the
    * first query after the writes and a dry-run dedup sweep that must find
    * exactly the injected near-copies. */
  private def build(r: Run): Unit = {
    val a = r.a
    val n1 = math.max(1, a.cores / 4)
    val n4 = math.min(a.cores, 4 * n1)
    val corpusDir = r.dir("corpus")
    val docs = Inputs.docs(a.seed, 0, Sizes.BuildDocs)
    r.seedCheck(s => writeRound(s, docs).ids.map(_.toString))
    r.setup {
      CorpusGen.generate(r.spark, Sizes.BuildDocs, a.seed, Inputs.NumRepos, Inputs.IdentCount)
        .write.mode("overwrite").parquet(corpusDir)
    }
    def buildAt(cores: Int, base: String, obs: Boolean): (IndexStore, Double, Option[Observer]) = {
      if (r.spark.sparkContext.defaultParallelism != cores) r.restart(cores)
      val store = newStore(r, base)
      val o = if (obs) Some(new Observer(Some(r.spark.sparkContext))) else None
      val corpus = r.spark.read.parquet(corpusDir).as[CorpusDoc](Encoders.product[CorpusDoc])
      val (_, ms) = Env.timedMs(store.createSegment(corpus))
      o.foreach { x => r.drain(); x.detach() }
      (store, ms, o)
    }
    r.restart(n4)
    val writeMs = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    var written = 0L
    var writeWall = 0.0
    var round = 0
    // Each round first builds, untimed, the store its incremental writes
    // change (in the first round this is also the JIT warm-up), and times
    // the full build last, on a warm JVM. A traced run makes one traced
    // round: an untraced one beside it would not fit the run's time limit.
    val lat = r.measure(overhead = false) { (traced, budget) =>
      val t0 = Env.nowNs
      val out = mutable.ArrayBuffer.empty[Double]
      while (out.isEmpty || Env.msSince(t0) < budget) {
        val batch = writeRound(a.seed + round, docs)
        round += 1
        val (store, _, _) = buildAt(n4, r.dir("store"), obs = false)
        val obs = if (traced) new Observer(Some(r.spark.sparkContext)) else Observer.off
        def write(name: String, n: Int, ms: Double): Unit = {
          writeMs.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += ms
          out += ms
          r.res.ok()
          if (!traced) { written += n; writeWall += ms }
        }
        def timed(name: String, n: Int)(f: => Unit): Unit =
          write(name, n, Env.timedMs(obs.span(s"index.$name")(f))._2)
        timed("add", batch.adds(0).size)(store.add(r.dataset(batch.adds(0))))
        timed("merge", 0)(store.mergeSmallSegments(Sizes.BuildDocs + batch.adds(0).size))
        timed("delete", batch.deletes(0).size)(store.delete(batch.deletes(0)))
        timed("add", batch.adds(1).size)(store.add(r.dataset(batch.adds(1))))
        timed("delete", batch.deletes(1).size)(store.delete(batch.deletes(1)))
        if (traced) timed("update", batch.update.size)(store.update(r.dataset(batch.update)))
        val live = if (traced) batch.live else batch.liveWithoutUpdate
        r.res.check(store.liveCorpus().count() == live.size, "live document count after the writes")
        val ref = new Reference(live)
        val qr = new QueryRunner(new SearchEngine(store), ref, Observer.off, r.res)
        val firstMs = writeProbes.map(q => Item(q, ref.answer(q, Sizes.K))).flatMap(qr.run).headOption
        if (traced) {
          obs.detach()
          r.put("search.first_query_after_write_ms", firstMs.getOrElse(0.0))
          r.put("index.segments", store.segments.size.toDouble)
          r.put("index.tombstones", store.tombstoneCount().toDouble)
          r.analysisLayer(docs)
          pipelineLayers(r, store, batch.copies)
        }
        val pair = if (traced) Some(buildAt(n1, r.dir("store-n"), obs = false)._2) else None
        val base = r.dir("store-full")
        val (full, buildMs, buildObs) = buildAt(n4, base, obs = traced)
        write("build", Sizes.BuildDocs, buildMs)
        r.res.check(full.segments.map(_.numDocs).sum == Sizes.BuildDocs, "built segment doc count")
        if (round == 1) r.storeBytes(base, docs)
        if (traced) {
          pair.foreach(t1 => r.put("build.scaling_efficiency", (t1 / buildMs) / (n4.toDouble / n1)))
          r.note(f"scaling efficiency ${r.res.get("build.scaling_efficiency").getOrElse(0.0)}%.3f (N=$n1, 4N=$n4)")
          buildObs.foreach(o => r.sparkLayers(o, buildMs, n4))
          r.indexLayers(base, full, full.segments.head.id)
        }
      }
      out.toVector
    }
    r.latencies(lat, s"write (${n4}c)")
    r.put("items_per_s", written / (writeWall / 1000))
    r.note(writeMs.map { case (k, v) => f"$k ${Env.median(v.toSeq)}%.0f ms" }.mkString("writes: ", ", ", ""))
    Seq("build", "add", "delete", "update", "merge").foreach { k =>
      r.put(s"index.${k}_ms", writeMs.get(k).map(v => Env.median(v.toSeq)).getOrElse(0.0))
    }
    r.heap()
  }

  /** Queries checked after the writes: exact, prefix and AND shapes. */
  private val writeProbes: Seq[Query] = Seq(
    Query("check", "return static nearcopy3", Inputs.AllFields, graft.search.SearchMode.Or),
    Query("check", "han", Inputs.AllFields, graft.search.SearchMode.Or, prefix = true))

  /** One round's writes against the seeded corpus `docs`: two adds (100
    * fresh docs plus 8 near-copies, then 100 fresh docs), two deletes of 40
    * ids and a rewrite of 30 ids — never a near-copy or its source — and
    * the live sets that result with and without the rewrite. */
  final case class WriteRound(adds: Vector[Vector[CorpusDoc]], deletes: Vector[Vector[Long]],
                              update: Vector[CorpusDoc], live: Vector[CorpusDoc],
                              liveWithoutUpdate: Vector[CorpusDoc], copies: Int) {
    def ids: Seq[Long] = adds.flatten.map(_.doc_id) ++ deletes.flatten ++ update.map(_.doc_id)
  }

  private def writeRound(seed: Long, docs: Vector[CorpusDoc]): WriteRound = {
    val rnd = new java.util.Random(seed ^ 0x5eedL)
    val first = docs.size.toLong
    val fresh = Inputs.docs(seed + 1, first, 100)
    val cps = Inputs.nearCopies(docs, 8, first + 100, rnd)
    val fresh2 = Inputs.docs(seed + 2, first + 108, 100)
    val keep = cps.flatMap { case (src, c) => Seq(src, c.doc_id) }.toSet
    val pick = Inputs.shuffled(docs.map(_.doc_id).filterNot(keep), rnd)
    val deletes = Vector(pick.take(40), pick.slice(40, 80))
    val update = pick.slice(80, 110).map(id => Inputs.docs(seed + 3, id, 1).head)
    val deleted = deletes.flatten.toSet
    val rewritten = update.map(_.doc_id).toSet
    val kept = docs.filterNot(d => deleted(d.doc_id)) ++ fresh ++ cps.map(_._2) ++ fresh2
    WriteRound(Vector(fresh ++ cps.map(_._2), fresh2), deletes, update,
      kept.filterNot(d => rewritten(d.doc_id)) ++ update, kept, cps.size)
  }

  // ---------------------------------------------------------- query_warm

  /** A 64-query pool whose postings fit the default 64 MB driver LRU; after
    * warm-up every query is served by the driver fast path. */
  private def queryWarm(r: Run): Unit = {
    val a = r.a
    val docs = Inputs.docs(a.seed, 0, Sizes.QueryDocs)
    val base = r.dir("store")
    val (store, buildMs) = buildStore(r, base, docs, cfg)
    r.put("index.build_ms", buildMs)
    val ref = new Reference(docs)
    val space = termSpace(r, store, ref)
    def poolOf(seed: Long): Vector[Query] = {
      val rnd = new java.util.Random(seed)
      Vector.fill(64)(space.mixed(rnd, 0, 10, 5))
    }
    r.seedCheck(s => poolOf(s).map(_.label))
    val pool = poolOf(a.seed).map(q => Item(q, ref.answer(q, Sizes.K)))
    val rnd = new java.util.Random(a.seed * 31 + 7)
    val stream = Vector.fill(4096)(pool(rnd.nextInt(pool.size)))
    val engine = r.setup {
      val e = new SearchEngine(store)
      warm(e, pool.map(_.q))
      e
    }
    measureQueries(r, engine, ref, stream, a.cores)
    r.storeBytes(base, docs)
    r.heap()
  }

  /** Fills an engine's caches for a query pool with a handful of Spark
    * jobs: the prefix/fuzzy expansions, then one driver-path OR over every
    * exact and expanded term, which loads all their posting rows and dfs. */
  private def warm(e: SearchEngine, pool: Seq[Query]): Unit = {
    val terms = pool.flatMap { q =>
      val ts = Analyzer.tokenize(q.text).distinct.toSeq
      if (q.prefix) ts.flatMap(e.expandPrefix(_, q.fields)).map(_._2)
      else if (q.fuzzy) ts.flatMap(e.expandFuzzy(_, q.fields)).map(_._2)
      else ts
    }.distinct
    e.search(terms.mkString(" "), k = Sizes.K, mode = graft.search.SearchMode.Wand).collect()
    ()
  }

  /** The closed-loop query measurement shared by both query workloads. */
  private def measureQueries(r: Run, engine: SearchEngine, ref: Reference,
                             stream: IndexedSeq[Item], clients: Int, blockLen: Int = 1): Unit = {
    var layer: Option[(QueryRunner, Observer, Double)] = None
    val lat = r.measure(overhead = true) { (traced, budget) =>
      val obs = if (traced) new Observer(Some(r.spark.sparkContext)) else Observer.off
      val qr = new QueryRunner(engine, ref, obs, r.res)
      val t0 = Env.nowNs
      val xs = qr.closedLoop(stream, clients, budget, blockLen)
      val wall = Env.msSince(t0)
      if (!traced) r.put("items_per_s", xs.size / (wall / 1000))
      else {
        r.drain()
        layer = Some((qr, obs, wall))
      }
      obs.detach()
      xs
    }
    r.latencies(lat, s"query($clients clients)")
    layer.foreach { case (qr, obs, wall) => searchLayers(r, qr, obs, wall, lat) }
  }

  private def searchLayers(r: Run, qr: QueryRunner, obs: Observer, wall: Double,
                           lat: Vector[Double]): Unit = {
    r.sparkLayers(obs, wall, r.a.cores)
    val nq = math.max(1L, qr.queriesRun).toDouble
    val isQuery = (t: String) => t.startsWith("q:")
    Seq("analyze", "expand", "fetch", "decode").foreach { s =>
      r.put(s"search.${s}_ms", obs.spanMs(s"search.$s") / nq)
    }
    r.put("search.query_ms", if (lat.isEmpty) 0.0 else lat.sum / lat.size)
    r.put("search.postings_per_query", qr.postings.get / nq)
    r.put("search.jobs_per_query", obs.jobsWhere(isQuery) / nq)
    r.put("search.tasks_per_query", obs.tasksWhere(isQuery) / nq)
    r.put("search.shuffle_bytes_per_query", obs.shuffleWhere(isQuery) / nq)
    r.put("search.driver_path_share", 1.0 - obs.shuffledTagCount(isQuery) / nq)
    r.note(f"traced: ${qr.queriesRun} queries, ${obs.jobsWhere(isQuery)} query jobs, " +
      f"driver-path share ${r.res.get("search.driver_path_share").getOrElse(0.0)}%.3f")
  }

  // --------------------------------------------------------- query_scale

  /** The same kind of store behind a small fast-path gate and LRU: queries
    * with a top-decile term run as distributed Spark jobs, a repeated hot
    * set stays on the warm driver path, and a long tail of distinct
    * low-df queries misses the LRU. */
  private def queryScale(r: Run): Unit = {
    val a = r.a
    val docs = Inputs.docs(a.seed, 0, Sizes.QueryDocs)
    val base = r.dir("store")
    val c = cfg.copy(driverWandMaxBytes = Sizes.ScaleWandMaxBytes,
      driverBlobCacheBytes = Sizes.ScaleBlobCacheBytes)
    val (store, buildMs) = buildStore(r, base, docs, c)
    r.put("index.build_ms", buildMs)
    val ref = new Reference(docs)
    val space = termSpace(r, store, ref)
    val gate = Sizes.ScaleWandMaxBytes
    def est(q: Query) = 8 * ref.postings(q)
    val snippetSources = docs.filter(d => Analyzer.tokenize(d.content).distinct.length >= Sizes.WideAndTerms)
    /** (hot set, stream). The hot set holds one query of every shape.
      * Every block of 25 stream positions holds, in seeded order, 16 hot-set
      * repeats, 3 fresh low-df queries, 5 OR/WAND/prefix queries over
      * top-decile terms and 1 wide AND. */
    def streamOf(seed: Long, blocks: Int): (Vector[Query], Vector[Query]) = {
      val rnd = new java.util.Random(seed)
      val rarest = Query("one", space.deciles(9).head, Inputs.AllFields, graft.search.SearchMode.Wand)
      def driverQ(kind: Int) =
        Iterator.continually(space.shaped(kind, rnd, 4, 10, 3)).take(100)
          .find(est(_) <= gate).getOrElse(rarest)
      // shapes that reliably cross the gate; after 100 misses, the OR of
      // the five most frequent terms always does
      val heavyKinds = Vector(1, 3, 4, 1, 3)
      val hottest = Query("or", space.deciles(0).take(5).mkString(" "), Inputs.AllFields,
        graft.search.SearchMode.Or)
      def heavyQ(i: Int) =
        Iterator.continually(space.shaped(heavyKinds(i), rnd, 0, 1, 5)).take(100)
          .find(est(_) > gate).getOrElse(hottest)
      def wideQ() = space.snippet(snippetSources(rnd.nextInt(snippetSources.size)), Sizes.WideAndTerms)
      val hot = Vector.tabulate(space.Shapes)(driverQ)
      hot -> Vector.fill(blocks) {
        Inputs.shuffled(Vector.fill(16)(hot(rnd.nextInt(hot.size))) ++
          Vector.fill(3)(driverQ(rnd.nextInt(space.Shapes))) ++
          Vector.tabulate(5)(heavyQ) :+ wideQ(), rnd)
      }.flatten
    }
    r.seedCheck(s => streamOf(s, 1)._2.map(_.label))
    val answers = mutable.HashMap.empty[String, Item]
    def item(q: Query) = answers.getOrElseUpdate(q.label, Item(q, ref.answer(q, Sizes.K)))
    val (hotQs, qs) = streamOf(a.seed, 4 + a.seconds / 2)
    val stream = qs.map(item)
    val hot = hotQs.map(item)
    val driverShare = stream.count(i => i.q.kind != "wide_and" && 8 * i.ref.postings <= gate).toDouble / stream.size
    r.note(f"gate $gate B: predicted driver-path share $driverShare%.3f of the stream")
    // LRU overflow: posting bytes of every distinct driver-path pair the
    // stream touches, over the LRU budget
    val rowBytes = store.postings()
      .groupBy(col("field"), col("term"))
      .agg(sum(length(col("blob")) + length(col("blocks")) + lit(64)).as("b"))
      .collect().iterator.map(x => (x.getString(0), x.getString(1)) -> x.getLong(2)).toMap
    val working = stream.filter(i => 8 * i.ref.postings <= gate).flatMap(_.ref.matched).distinct
      .map(rowBytes.getOrElse(_, 0L)).sum
    r.put("search.lru_overflow", working.toDouble / Sizes.ScaleBlobCacheBytes)
    r.note(f"driver working set ${working / 1024.0}%.0f KiB over a ${Sizes.ScaleBlobCacheBytes >> 10} KiB LRU")
    val engine = r.setup {
      val e = new SearchEngine(store)
      val qr = new QueryRunner(e, ref, Observer.off, r.res)
      hot.foreach(qr.run)
      e
    }
    measureQueries(r, engine, ref, stream, 1, blockLen = 25)
    r.put("search.wide_and_failed", r.res.knownDefectFailures.toDouble)
    r.storeBytes(base, docs)
    r.heap()
  }

  /** Runs the dry-run near-duplicate sweep stage by stage through the public
    * functions `Dedup.sweepIndex(dryRun = true)` chains — shingles, MinHash
    * signatures, LSH candidates, Jaccard-verified pairs, `dupGroups` — and
    * checks that it finds exactly `copies` victims. */
  private def pipelineLayers(r: Run, store: IndexStore, copies: Int): Unit = {
    val docs = store.liveCorpus().select(col("doc_id"), col("content")).cache()
    docs.count()
    val (sh, shMs) = Env.timedMs { val s = Dedup.shingles(docs, "content").cache(); s.count(); s }
    val (sigs, sigMs) = Env.timedMs { val s = Dedup.minHashSignatures(sh).cache(); s.count(); s }
    val (cand, candMs) = Env.timedMs {
      val b = Dedup.lshBuckets(sigs, 16, 4)
      b.select(col("band"), col("key"), col("doc_id").as("id_a"))
        .join(b.select(col("band"), col("key"), col("doc_id").as("id_b")), Seq("band", "key"))
        .filter(col("id_a") < col("id_b")).select("id_a", "id_b").distinct().count()
    }
    val (pairs, pairMs) = Env.timedMs {
      val p = Dedup.minHashLshPairs(docs, textCol = "content", minJaccard = 0.9).cache(); p.count(); p
    }
    val verified = pairs.count()
    val (victims, grpMs) = Env.timedMs(
      Dedup.dupGroups(pairs).filter(col("doc_id") =!= col("keep_id")).count())
    r.res.check(victims == copies, s"dedup sweep found $victims victims, injected $copies")
    r.put("pipeline.shingles_ms", shMs)
    r.put("pipeline.signatures_ms", sigMs)
    r.put("pipeline.lsh_pairs_ms", candMs + pairMs)
    r.put("pipeline.groups_ms", grpMs)
    r.put("pipeline.candidate_pairs", cand.toDouble)
    r.put("pipeline.verified_pairs", verified.toDouble)
    r.put("pipeline.verified_ratio", if (cand == 0) 0.0 else verified.toDouble / cand)
    // sweepIndex(dryRun = true) is exactly these two calls on the live corpus
    r.put("pipeline.sweep_ms", pairMs + grpMs)
    Seq(docs, sh, sigs, pairs).foreach(_.unpersist())
  }
}
