package graft

import graft.core._
import graft.corpus.CorpusGen
import graft.index.{IndexBuilder, IndexStore}
import graft.search.{OracleScorer, SearchEngine, SearchMode}
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end build + search parity against the single-node oracle scorer
  * (SURVEY.md §5 items 2-5; FIXTURES.md §4-5). */
class IndexSearchSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // small shardSpan forces multi-shard posting lists even at 300 docs
  private val cfg = IndexConfig(shardSpan = 64)
  private lazy val corpusDS = CorpusGen.generate(spark, 300, seed = 7, numRepos = 20)
  private lazy val corpusLocal: Seq[CorpusDoc] = corpusDS.collect().toSeq
  private lazy val store: IndexStore = {
    val s = new IndexStore(spark, TestSpark.tempDir("idx"), cfg)
    s.createSegment(corpusDS)
    s
  }
  private lazy val engine = new SearchEngine(store)

  private def assertMatchesOracle(query: String,
                                  fields: Seq[String] = CorpusDoc.Fields,
                                  beginsWith: Boolean = false,
                                  k: Int = 10,
                                  mode: SearchMode = SearchMode.Or,
                                  corpus: Seq[CorpusDoc] = null): Unit = {
    val c = Option(corpus).getOrElse(corpusLocal)
    val oracle = OracleScorer.search(c, query, fields, beginsWith, k,
      andSemantics = mode == SearchMode.And, cfg.bm25)
    val got = engine.search(query, fields, beginsWith, k, mode)
      .collect().map(r => Hit(r.getLong(0), r.getDouble(1))).toSeq
    assert(got.map(_.doc_id) == oracle.map(_.doc_id),
      s"rank mismatch for [$query] mode=$mode bw=$beginsWith\n got=$got\n exp=$oracle")
    got.zip(oracle).foreach { case (g, o) =>
      assert(math.abs(g.score - o.score) <= 1e-5,
        s"score drift for [$query] doc=${g.doc_id}: ${g.score} vs ${o.score}")
    }
  }

  test("index postings match per-doc analysis (spot check)") {
    val doc = corpusLocal.head
    val tf = graft.analysis.Analyzer.termFrequencies(doc.content)
    val term = tf.keys.min
    val decoded = engine.decode(
      engine.matchedShards(Seq(("content", term)))).collect()
      .map(r => (r.getLong(3), r.getInt(4), r.getInt(5)))
    val mine = decoded.find(_._1 == doc.doc_id)
    assert(mine.exists(_._2 == tf(term)), s"tf mismatch for $term")
    val dl = graft.analysis.Analyzer.tokenize(doc.content).length
    assert(mine.exists(_._3 == dl))
  }

  test("flatMap postings path equals relational explode path (content field)") {
    val viaFlatMap = IndexBuilder.postings(corpusDS, Seq("content"))
      .select($"term", $"doc_id", $"tf", $"dl")
    val viaExplode = IndexBuilder.termFrequenciesDF(corpusDS.toDF(), "content")
      .select($"term", $"doc_id", $"tf".cast("int").as("tf"), $"dl".cast("int").as("dl"))
    assert(viaFlatMap.exceptAll(viaExplode).isEmpty &&
      viaExplode.exceptAll(viaFlatMap).isEmpty)
  }

  test("single exact term, rare and hot (OR)") {
    assertMatchesOracle("import", Seq("content"))          // hot Zipf head
    val rare = corpusLocal.flatMap(d =>
      graft.analysis.Analyzer.tokenize(d.content)).groupBy(identity)
      .minBy(_._2.size)._1
    assertMatchesOracle(rare, Seq("content"))
  }

  test("multi-term OR across all fields") {
    assertMatchesOracle("import class scala", CorpusDoc.Fields)
    assertMatchesOracle("the license go", CorpusDoc.Fields, k = 25)
  }

  test("multi-term AND semantics") {
    assertMatchesOracle("import the", Seq("content"), mode = SearchMode.And)
    assertMatchesOracle("import class def val", Seq("content"), mode = SearchMode.And)
  }

  test("distributed paths (fast path disabled) rank-identical to oracle") {
    val distStore = new graft.index.IndexStore(spark,
      TestSpark.tempDir("dist"), cfg.copy(driverWandMaxBytes = 0))
    distStore.createSegment(corpusDS)
    val distEngine = new SearchEngine(distStore)
    Seq(SearchMode.Wand, SearchMode.Or, SearchMode.And).foreach { mode =>
      Seq("import", "import class scala", "the license apache def").foreach { q =>
        val oracle = OracleScorer.search(corpusLocal, q, Seq("content"), k = 10,
          andSemantics = mode == SearchMode.And)
        val got = distEngine.search(q, Seq("content"), k = 10, mode = mode)
          .collect().map(r => Hit(r.getLong(0), r.getDouble(1))).toSeq
        assert(got.map(_.doc_id) == oracle.map(_.doc_id), s"dist rank for [$q] $mode")
        // one kernel sums in the oracle's (field, term) order: bit-identical
        got.zip(oracle).foreach { case (g, o) =>
          assert(g.score == o.score, s"dist score for [$q] $mode doc=${g.doc_id}: ${g.score} vs ${o.score}")
        }
      }
    }
  }

  test("AND over more than 64 terms (exact and prefix) equals the oracle bit for bit on both paths") {
    // 70 distinct query terms; every third doc holds all of them, the rest
    // miss one. Each prefix "wideNN" expands to exactly one term, so the
    // oracle's AND (distinct expanded terms) and the engine's (every query
    // term has a matched expansion) coincide.
    val words = (0 until 70).map(i => f"wide$i%02dq")
    val docs = (0 until 48).map { d =>
      val kept = if (d % 3 == 0) words else words.filterNot(_ == words(d % 70))
      val extra = Seq.fill(d % 4 + 1)(words(d % 70)) ++ Seq.fill(d % 5)(s"filler$d")
      CorpusDoc(d.toLong, "r", s"p$d", f"$d%040x", "en", (kept ++ extra).mkString(" "))
    }
    val wideCfg = IndexConfig(shardSpan = 8, fields = Seq("content"))
    Seq(wideCfg, wideCfg.copy(driverWandMaxBytes = 0)).foreach { c =>
      val st = new IndexStore(spark, TestSpark.tempDir("wideand"), c)
      st.createSegment(spark.createDataset(docs))
      val eng = new SearchEngine(st)
      Seq((words.mkString(" "), false), (words.map(_.dropRight(1)).mkString(" "), true)).foreach {
        case (q, bw) =>
          val oracle = OracleScorer.search(docs, q, Seq("content"), bw, k = 10,
            andSemantics = true, params = c.bm25)
          val got = eng.search(q, Seq("content"), bw, k = 10, mode = SearchMode.And)
            .collect().map(r => Hit(r.getLong(0), r.getDouble(1))).toSeq
          assert(oracle.size == 10, s"fixture must fill the top-10: $oracle")
          assert(got == oracle,
            s"wide AND (prefix=$bw, driverWandMaxBytes=${c.driverWandMaxBytes})\n got=$got\n exp=$oracle")
      }
    }
  }

  test("WAND rank-identical to oracle and to exhaustive") {
    Seq("import", "import class scala", "the license apache def",
        "handle stream merge").foreach { q =>
      assertMatchesOracle(q, Seq("content"), mode = SearchMode.Wand)
    }
    // all-fields WAND
    assertMatchesOracle("import scala org-001/repo-010", CorpusDoc.Fields,
      mode = SearchMode.Wand)
  }

  test("beginsWith prefix search (radix WalkPrefix analogue)") {
    assertMatchesOracle("imp", Seq("content"), beginsWith = true)
    assertMatchesOracle("cla str", Seq("content"), beginsWith = true)
  }

  test("field-scoped search touches only the requested field") {
    assertMatchesOracle("scala", Seq("lang"))
    assertMatchesOracle("import", Seq("path", "content"))
  }

  test("miss query returns empty") {
    assert(engine.search("zzz_not_a_term_zzz", Seq("content")).isEmpty)
  }

  test("per-row sha256 invariant (input_hint)") {
    import org.apache.spark.sql.functions._
    val src = corpusDS.select($"doc_id", sha2($"content", 256).as("s"))
    val stored = store.docStats().withColumnRenamed("content_sha", "s")
    assert(src.exceptAll(stored).isEmpty && stored.exceptAll(src).isEmpty)
  }

  test("parallel driver scoring is bit-identical to the oracle across many shard groups") {
    // shardSpan 16 → ~19 disjoint shard groups at 300 docs, so with the
    // local[4] test session the driver fast paths score on the shared pool
    // (round-6: concurrent per-shard units + SharedTheta floor for WAND).
    // Scores must stay EXACTLY equal to the sequential oracle sum — the
    // per-doc summation order is unchanged inside a unit and docs never
    // span units, so no tolerance is allowed here.
    val parStore = new IndexStore(spark, TestSpark.tempDir("parshard"),
      IndexConfig(shardSpan = 16))
    parStore.createSegment(corpusDS)
    val parEngine = new SearchEngine(parStore)
    Seq(SearchMode.Or, SearchMode.And, SearchMode.Wand).foreach { mode =>
      Seq("import", "import class scala", "the license apache def").foreach { q =>
        val oracle = OracleScorer.search(corpusLocal, q, Seq("content"), k = 10,
          andSemantics = mode == SearchMode.And, params = cfg.bm25)
        val got = parEngine.search(q, Seq("content"), k = 10, mode = mode)
          .collect().map(r => Hit(r.getLong(0), r.getDouble(1))).toSeq
        assert(got.map(_.doc_id) == oracle.map(_.doc_id),
          s"parallel rank mismatch for [$q] $mode\n got=$got\n exp=$oracle")
        got.zip(oracle).foreach { case (g, o) =>
          assert(g.score == o.score,
            s"parallel score not bit-identical for [$q] doc=${g.doc_id}: ${g.score} vs ${o.score}")
        }
      }
    }
  }

  test("stats: df/N/avgdl match oracle definitions") {
    val fstats = store.fieldStats()
    assert(fstats("content")._1 == corpusLocal.size)
    val totalDl = corpusLocal.map(d =>
      graft.analysis.Analyzer.tokenize(d.content).length.toLong).sum
    assert(fstats("content")._2 == totalDl)
    val df = store.termDf().filter($"field" === "content" && $"term" === "import")
      .collect().head.getLong(2)
    val expected = corpusLocal.count(d =>
      graft.analysis.Analyzer.tokenize(d.content).contains("import"))
    assert(df == expected)
  }
}
