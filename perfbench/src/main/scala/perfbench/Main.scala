package perfbench

/** Benchmark driver: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work <dir> --cores <n>`. Prints `# ...` progress lines, then one JSON
  * line with `correct`, `attempted`, `failed` and `metrics`: the end-to-end
  * metrics when untraced, the per-layer metrics when traced. Exits 1 when an
  * output was wrong or a self-check failed, 2 on a bad command line. */
object Main {

  /** End-to-end metrics: every workload reports all of them. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "op_p50_ms" -> "ms",
    "op_p90_ms" -> "ms",
    "items_per_s" -> "1/s",
    "store_bytes_per_corpus_byte" -> "ratio",
    "heap_after_gc_mb" -> "MB")

  /** Per-layer metrics of a traced run; 0 where the workload leaves a layer
    * idle. */
  val PerLayer: Seq[(String, String)] = Seq(
    "op_p99_ms" -> "ms",
    "trace.overhead_frac" -> "ratio",
    "analysis.tokens_per_s" -> "1/s",
    "build.scaling_efficiency" -> "ratio",
    "index.build_ms" -> "ms",
    "index.stage.corpus_ms" -> "ms",
    "index.stage.postings_ms" -> "ms",
    "index.stage.df_ms" -> "ms",
    "index.stage.docstats_ms" -> "ms",
    "index.stage.fieldstats_ms" -> "ms",
    "index.postings_rows" -> "count",
    "index.shard_rows" -> "count",
    "index.postings_bytes" -> "bytes",
    "index.add_ms" -> "ms",
    "index.delete_ms" -> "ms",
    "index.update_ms" -> "ms",
    "index.merge_ms" -> "ms",
    "index.segments" -> "count",
    "index.tombstones" -> "count",
    "spark.jobs" -> "count",
    "spark.stages" -> "count",
    "spark.tasks" -> "count",
    "spark.task_cpu_ms" -> "ms",
    "spark.gc_ms" -> "ms",
    "spark.shuffle_write_bytes" -> "bytes",
    "spark.shuffle_read_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes",
    "spark.fetch_wait_ms" -> "ms",
    "spark.idle_core_frac" -> "ratio",
    "search.analyze_ms" -> "ms",
    "search.expand_ms" -> "ms",
    "search.fetch_ms" -> "ms",
    "search.decode_ms" -> "ms",
    "search.query_ms" -> "ms",
    "search.postings_per_query" -> "count",
    "search.jobs_per_query" -> "count",
    "search.tasks_per_query" -> "count",
    "search.shuffle_bytes_per_query" -> "bytes",
    "search.driver_path_share" -> "ratio",
    "search.lru_overflow" -> "ratio",
    "search.first_query_after_write_ms" -> "ms",
    "search.wide_and_failed" -> "count",
    "pipeline.sweep_ms" -> "ms",
    "pipeline.shingles_ms" -> "ms",
    "pipeline.signatures_ms" -> "ms",
    "pipeline.lsh_pairs_ms" -> "ms",
    "pipeline.groups_ms" -> "ms",
    "pipeline.candidate_pairs" -> "count",
    "pipeline.verified_pairs" -> "count",
    "pipeline.verified_ratio" -> "ratio")

  private def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg")
    System.err.println("usage: --workload <" + Workloads.names.mkString("|") +
      "> --seed <n> --seconds <s> --trace <0|1> --work <dir> --cores <n>")
    sys.exit(2)
  }

  def parse(argv: Array[String]): Args = {
    if (argv.length % 2 != 0) usage("arguments come in --key value pairs")
    val kv = argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    def get(k: String): String = kv.getOrElse(k, usage(s"missing --$k"))
    def num(k: String): Long = get(k).toLongOption.getOrElse(usage(s"--$k is not a number"))
    val a = Args(get("workload"), num("seed"), num("seconds").toInt, num("trace") == 1,
      get("work"), num("cores").toInt)
    if (!Workloads.names.contains(a.workload)) usage(s"unknown workload ${a.workload}")
    if (a.seconds < 1 || a.cores < 1) usage("--seconds and --cores must be positive")
    a
  }

  private def json(res: Result, trace: Boolean): String = {
    val metrics = (if (trace) PerLayer else EndToEnd).map { case (name, unit) =>
      val v = res.get(name).getOrElse(0.0)
      val num = if (v.isNaN || v.isInfinite) "0" else v.toString
      s""""$name": {"value": $num, "unit": "$unit"}"""
    }
    s"""{"correct": ${res.correct}, "attempted": ${res.attempted}, "failed": ${res.failed}, """ +
      s""""metrics": {${metrics.mkString(", ")}}}"""
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val res = new Result
    try Workloads.run(a, res)
    catch {
      case e: Throwable =>
        e.printStackTrace()
        sys.exit(1)
    }
    res.errors.foreach(e => println(s"# error: $e"))
    println(s"# ${a.workload}: attempted ${res.attempted}, failed ${res.failed}, " +
      s"known-defect failures ${res.knownDefectFailures}")
    println(json(res, a.trace))
    sys.exit(if (res.correct) 0 else 1)
  }
}
