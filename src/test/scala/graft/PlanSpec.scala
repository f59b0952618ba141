package graft

import graft.core.IndexConfig
import graft.corpus.CorpusGen
import graft.index.IndexStore
import graft.search.{SearchEngine, SearchMode}
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan audits: the scale story only holds if the plans are what we
  * think they are. Checks parquet filter pushdown on the term dictionary and
  * the postings, and that a distributed top-k is one shuffle-free job
  * merged by TakeOrderedAndProject (no global sort). */
class PlanSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private lazy val engine: SearchEngine = {
    // fast path off: the audits target the DISTRIBUTED plans
    val store = new IndexStore(spark, TestSpark.tempDir("plan"),
      IndexConfig(shardSpan = 64, fields = Seq("content"), driverWandMaxBytes = 0))
    store.createSegment(CorpusGen.generate(spark, 120, seed = 31))
    new SearchEngine(store)
  }

  private def physicalPlan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("exact-term search pushes term equality into the parquet scan") {
    val plan = physicalPlan(engine.search("import", Seq("content"), k = 10))
    assert(plan.contains("PushedFilters"), plan.take(2000))
    assert(plan.contains("In(term") || plan.contains("EqualTo(term") ||
      plan.contains("IsNotNull(term"), "term filter must reach the scan:\n" + plan.take(3000))
    // no pushed-filter-free full scan of the postings table
    assert(!plan.contains("PushedFilters: []") ||
      plan.split("PushedFilters").length <= 2,
      "postings scan must carry pushed filters:\n" + plan.take(3000))
  }

  test("prefix search pushes the term range into the df-table scan") {
    val dfScan = engine.store.termDf()
      .filter(org.apache.spark.sql.functions.col("term") >= "im" &&
        org.apache.spark.sql.functions.col("term") < "in")
    val plan = physicalPlan(dfScan)
    assert(plan.contains("GreaterThanOrEqual(term,im)") && plan.contains("LessThan(term,in)"),
      "range predicate must be pushed:\n" + plan.take(3000))
  }

  test("distributed top-k is ONE shuffle-free plan merged by TakeOrderedAndProject") {
    Seq(("import class", SearchMode.Or, false), ("import class", SearchMode.And, false),
        ("import the", SearchMode.Wand, false), ("im cl", SearchMode.Or, true)).foreach {
      case (q, mode, bw) =>
        val plan = physicalPlan(engine.search(q, Seq("content"), bw, k = 10, mode))
        assert(!plan.contains("Exchange"), s"$mode plan must not shuffle or broadcast:\n" + plan.take(3000))
        assert(!plan.contains("Join"), s"$mode plan must not join:\n" + plan.take(3000))
        assert(plan.contains("TakeOrderedAndProject"),
          s"$mode top-k must merge in TakeOrderedAndProject:\n" + plan.take(3000))
        assert(!plan.contains("GlobalLimit"), "no global sort expected")
    }
  }

  test("every shard range's postings scan pushes In(term) and its shard bounds") {
    val df = engine.search("import class the", Seq("content"), k = 10)
    // the full pushed-filter lists (the plan string abbreviates them)
    val pushed = df.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toString.endsWith("/postings")) =>
        s.metadata("PushedFilters")
    }
    val (lo, hi) = engine.store.postingsShardRange().get
    val g = math.min(spark.sparkContext.defaultParallelism.toLong, hi - lo + 1)
    assert(g > 1 && pushed.size == g,
      s"expected one postings scan per shard range ($g):\n" + physicalPlan(df).take(4000))
    pushed.foreach { f =>
      assert(f.contains("In(term") && f.contains("GreaterThanOrEqual(shard,") &&
        f.contains("LessThan(shard,"), "scan must push the term set and its shard range: " + f)
    }
  }

  test("OR-mode exhaustive aggregation carries no per-doc set aggregate") {
    val df = engine.search("import class", Seq("content"), k = 10, mode = SearchMode.Or)
    val plan = physicalPlan(df)
    assert(!plan.contains("collect_set"),
      "OR mode must not aggregate a term set per doc:\n" + plan.take(3000))
  }

  test("AND over more than 64 terms plans the same shuffle-free job (no distinct aggregate)") {
    val words = engine.store.termDf().select("term").distinct().orderBy("term")
      .collect().map(_.getString(0)).take(70)
    assert(words.length == 70)
    val plan = physicalPlan(engine.search(words.mkString(" "), Seq("content"), k = 10,
      mode = SearchMode.And))
    assert(!plan.contains("Exchange") && !plan.contains("count(distinct"),
      "wide AND must stay one shuffle-free job:\n" + plan.take(3000))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(3000))
  }

  test("fused curate is ONE parquet scan, zero shuffles, inside codegen") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val plan = physicalPlan(graft.pipeline.Curation.curate(docs))
    // "Scan parquet" also matches inside "FileScan parquet" — one count
    // per scan node either way
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans == 1, s"curate must read the corpus exactly once (got $scans):\n" +
      plan.take(2000))
    assert(!plan.contains("Exchange"), "curate must not shuffle:\n" + plan.take(2000))
    assert(plan.contains("WholeStageCodegen") || plan.contains("*("),
      "curate must stay inside codegen:\n" + plan.take(2000))
  }

  test("curation operators (sampling, split, PII scrub) are shuffle-free codegen'd maps") {
    import org.apache.spark.sql.functions._
    val docs = spark.range(0, 1000).select(col("id").as("doc_id"),
      concat(lit("text of doc "), col("id").cast("string")).as("text"),
      when(col("id") % 2 === 0, "en").otherwise("fr").as("lang"))
    val plans = Seq(
      graft.pipeline.Sampling.stratifiedSample(docs, "lang", "doc_id",
        Map("en" -> 500000L, "fr" -> 250000L)),
      graft.pipeline.Sampling.withSplit(docs, "doc_id", 800000L, 100000L),
      graft.pipeline.TextAnalysis.scrubPii(docs)).map(physicalPlan)
    plans.foreach { plan =>
      assert(!plan.contains("Exchange"),
        "curation op must not shuffle:\n" + plan.take(2000))
      assert(plan.contains("WholeStageCodegen") || plan.contains("*("),
        "curation op must stay inside codegen:\n" + plan.take(2000))
    }
  }
}
