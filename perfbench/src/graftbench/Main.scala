package graftbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

import graft.Graft

object Json {
  def escape(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "0.0" else java.lang.Double.toString(v)
}

/** The metrics one run reports: every end-to-end metric untraced, every
  * per-layer metric traced. The names and units here are the ones
  * `BENCHMARK.json` declares; the self-test compares the two.
  */
object Metrics {
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "peak_rss_mb" -> "MB", "ops_ok_ratio" -> "ratio",
    "docs_per_s" -> "docs/s")

  val perLayer: Seq[(String, String)] = {
    def named(unit: String, names: String*) = names.map(_ -> unit)
    named("count", "spark.jobs", "spark.stages", "spark.tasks", "spark.tasks_failed") ++
    named("s", "spark.executor_run_s", "spark.executor_cpu_s", "spark.gc_s", "spark.task_wait_s",
      "spark.busy_s") ++
    named("bytes", "spark.shuffle_write_bytes", "spark.shuffle_read_bytes", "spark.spill_bytes") ++
    named("rows", "spark.scan_rows", "spark.cache_scan_rows") ++
    named("count", "spark.exchanges", "spark.broadcast_exchanges") ++
    named("s", "frontier.init_s", "frontier.round_p50_s", "frontier.round_max_s",
      "frontier.select_dedup_busy_s", "frontier.commit_log_busy_s", "frontier.commit_pending_busy_s",
      "frontier.commit_seen_busy_s", "frontier.prep_next_busy_s", "frontier.self_s") ++
    named("count", "frontier.jobs_per_round") ++
    named("rows", "frontier.scan_rows_per_round") ++
    named("bytes", "frontier.shuffle_bytes_per_round") ++
    named("count", "frontier.selected", "frontier.candidates", "frontier.new_urls") ++
    named("ratio", "frontier.new_per_candidate") ++
    named("bytes", "sources.state_bytes", "sources.output_bytes") ++
    named("count", "sources.state_files") ++
    named("bytes/URL", "sources.bytes_per_url") ++
    named("s", "setup.generate_s", "setup.adjacency_write_s", "setup.priorities_s") ++
    named("s", "functions.hostlinks_s", "functions.self_s") ++
    named("links/s", "functions.links_per_s") ++
    named("s", "operators.build_s", "operators.fold_s", "operators.pagerank_s", "operators.hyperball_s",
      "operators.wcc_s", "operators.joinranks_s", "operators.self_s") ++
    named("count", "operators.pagerank_jobs", "operators.hyperball_jobs", "operators.wcc_jobs",
      "operators.joinranks_jobs") ++
    named("bytes", "operators.pagerank_shuffle_bytes", "operators.hyperball_shuffle_bytes",
      "operators.wcc_shuffle_bytes", "operators.joinranks_shuffle_bytes") ++
    named("count", "operators.vertices", "operators.edges", "operators.domain_vertices",
      "operators.domain_edges", "operators.components") ++
    named("ms", "explore.cn_p50_ms", "explore.ls_p50_ms", "explore.sl_p50_ms", "explore.degree_p50_ms",
      "explore.tld_p50_ms", "explore.prefix_p50_ms", "explore.shared_p50_ms") ++
    named("count", "explore.jobs_per_call") ++
    named("rows", "explore.rows_scanned_per_result") ++
    named("s", "explore.cache_s", "explore.self_s") ++
    named("s", "textops.exact_s", "textops.tokenize_s", "textops.signatures_s", "textops.candidates_s",
      "textops.verify_s", "textops.groups_s", "textops.drop_s", "textops.self_s") ++
    named("bytes", "textops.exact_shuffle_bytes") ++
    named("count", "textops.candidate_pairs", "textops.verified_pairs", "textops.dup_docs") ++
    named("ratio", "textops.verified_per_candidate") ++
    named("s", "host.cpu_probe_s", "bench.self_s") ++
    named("ratio", "trace.overhead_ratio")
  }

  /** Lower median; 0 for an empty sample. */
  def median(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sorted.apply((xs.size - 1) / 2)
}

/** `graftbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work <dir> [--spans <file>] [--record <file>]`, or
  * `graftbench.Main --self-test --work <dir>`.
  *
  * Prints progress to stderr and, as the last line of stdout, one JSON object
  * with `correct`, `attempted`, `failed` and `metrics`. Exits 1 when an
  * output check fails.
  */
object Main {

  def session(work: Path): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    Graft.session(master = s"local[$cores]", shufflePartitions = 2 * cores, appName = "perfbench",
      extraConfigs = Map(
        "spark.local.dir" -> work.resolve("spark-local").toString,
        "spark.sql.warehouse.dir" -> work.resolve("warehouse").toString))
  }

  private def parse(args: List[String], acc: Map[String, String]): Map[String, String] = args match {
    case Nil => acc
    case "--self-test" :: rest => parse(rest, acc + ("self-test" -> ""))
    case k :: v :: rest if k.startsWith("--") => parse(rest, acc + (k.drop(2) -> v))
    case other => sys.error(s"bad arguments: ${other.mkString(" ")}")
  }

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val opts = parse(args.toList, Map.empty)
    val work = Paths.get(opts.getOrElse("work", sys.error("--work <dir> is required")))
    Files.createDirectories(work)
    val spark = session(work)
    val ok =
      try {
        if (opts.contains("self-test")) SelfTest.run(spark, work)
        else {
          val name = opts.getOrElse("workload", sys.error("--workload is required"))
          if (!Workloads.byName.contains(name)) sys.error(s"unknown workload `$name`")
          val r = Runner.run(spark, name, seed = opts.getOrElse("seed", "1").toLong,
            seconds = opts.getOrElse("seconds", "10").toDouble,
            trace = opts.getOrElse("trace", "0") == "1", work = work,
            record = new Record(opts.get("record").map(Paths.get(_))),
            spans = opts.get("spans").map(Paths.get(_)))
          println(r.json)
          r.correct
        }
      } finally spark.stop()
    sys.exit(if (ok) 0 else 1)
  }
}
