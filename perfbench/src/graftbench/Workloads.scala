package graftbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.DedupBench
import graft.explore.{GraphSession, Shell}
import graft.frontier.{AdjacencyFetcher, CorpusFetcher, Frontier, UrlSeen}
import graft.functions.gf
import graft.operators._
import graft.sources.SynthDocs
import graft.textops.Dedup

object Workloads {
  val byName: Map[String, Ctx => Workload] = Map(
    "crawl" -> (new Crawl(_)),
    "batch" -> (ctx => new Sequence(Seq(new Webgraph(ctx), new DedupWorkload(ctx)))))

  def rows(df: DataFrame): Long = df.count()

  /** Median of each key across the traced ops. */
  def perOp(traced: Seq[(Int, Span)])(f: (Int, Span) => Map[String, Double]): Map[String, Double] = {
    val maps = traced.map(f.tupled)
    maps.flatMap(_.keys).distinct.map(k => k -> Metrics.median(maps.flatMap(_.get(k)))).toMap
  }

  def failIf(cond: Boolean, msg: => String): Seq[String] = if (cond) Seq(msg) else Nil
}
import Workloads._

/** `crawl`: a 4-round crawl, `Frontier.init` then `Frontier.run`, over a
  * SynthDocs corpus behind the key-clustered `AdjacencyFetcher`, with
  * HyperBall host priorities and per-host token budgets. The only workload
  * that runs the frontier (select, fetch scan, canonicalize, seen-set dedup)
  * and commits state every round.
  */
final class Crawl(ctx: Ctx) extends Workload {
  import ctx._
  private val nDocs = if (tiny) 3000L else 6000L
  private val nHosts = if (tiny) 200 else 800
  private val nSeeds = if (tiny) 300 else 1200
  private val rounds = 4
  private val defaultTokens = 2
  private val clustering = AdjacencyFetcher.Clustering(buckets = 8, byRange = true)

  private var seeds, priorities, budgets, robots: DataFrame = _
  private var fetcher: AdjacencyFetcher = _
  private val digests = mutable.Map[Int, (Long, Long)]()
  private val perOpInfo = mutable.Map[Int, Map[String, Double]]()
  private var last = -1

  // the build costs 10–20 s, so a run makes only two
  val setupReps = 2

  private def cfg(i: Int) = Frontier.Config(dir.resolve(s"crawl$i").toString,
    defaultTokens = defaultTokens, saltBuckets = 8,
    seenCfg = UrlSeen.Config(buckets = 8, bitsPerBucket = 1 << 16),
    // the corpus is small, so the barrier threshold is lowered with it:
    // every round's batch stays above it, as at production batch sizes
    candidateBarrierMin = if (tiny) 50L else 300L)

  def setup(d: Path): Unit = {
    lap("sources", "setup.generate_s") {
      write(SynthDocs.docs(spark, nDocs, nHosts, seed).toDF(), d.resolve("docs"))
    }
    val docs = read(d.resolve("docs"))
    lap("sources", "setup.adjacency_write_s") {
      AdjacencyFetcher.writeClustered(AdjacencyFetcher.groupPairs(CorpusFetcher.pairsOf(docs)),
        d.resolve("adj").toString, clustering)
    }
    lap("operators", "setup.priorities_s") {
      write(Frontier.hostPriorities(docs, exactThreshold = 0), d.resolve("priorities"))
    }
    seeds = SynthDocs.seeds(spark, nSeeds, nHosts, seed)
    priorities = read(d.resolve("priorities"))
    budgets = SynthDocs.politeness(spark, nHosts, seed)
      .select(gf.reverse_host(col("host")).as("rev_host"), col("tokens_per_round"))
    robots = spark.emptyDataFrame
      .selectExpr("'' as rev_host", "array('') as disallow_prefixes").limit(0).localCheckpoint()
    fetcher = AdjacencyFetcher.openClustered(spark, d.resolve("adj").toString, clustering)
  }

  def op(i: Int): Unit = {
    val c = cfg(i)
    t.span("frontier", "init")(Frontier.init(spark, c, seeds, priorities, robots))
    t.span("frontier", "run")(Frontier.run(spark, c, fetcher, rounds, budgets, robots, priorities))
  }

  def afterOp(i: Int): Long = {
    val c = cfg(i)
    val log = Frontier.fetchLog(spark, c)
    val r = log.agg(count(lit(1)), bit_xor(xxhash64(col("round"), col("url")))).head
    digests(i) = (r.getLong(0), r.getLong(1))
    // round walls from the commit markers' times: the engine writes one per
    // round (-1 = init), so this needs no tracing
    val marks = (-1 until rounds).map(r =>
      Files.getLastModifiedTime(Path.of(c.rootDir, "markers", s"round-$r")).toMillis / 1e3)
    val walls = marks.sliding(2).map { case Seq(a, b) => b - a }.toSeq
    val counters = (0 until rounds).map(Frontier.markerCounters(spark, c, _))
    def total(k: String) = counters.map(_.getOrElse(k, 0L)).sum.toDouble
    val (bytes, files) = Host.du(Path.of(c.rootDir))
    perOpInfo(i) = Map(
      "frontier.round_p50_s" -> Metrics.median(walls), "frontier.round_max_s" -> walls.max,
      "frontier.selected" -> total("selected"), "frontier.candidates" -> total("candidates"),
      "frontier.new_urls" -> total("new_urls"),
      "frontier.new_per_candidate" -> total("new_urls") / math.max(1.0, total("candidates")),
      "sources.state_bytes" -> bytes.toDouble, "sources.state_files" -> files.toDouble,
      "sources.bytes_per_url" -> bytes.toDouble / math.max(1L, digests(i)._1))
    if (last >= 0) Host.delete(Path.of(cfg(last).rootDir))
    last = i
    digests(i)._1
  }

  def fingerprint(i: Int): Seq[(String, String)] =
    Seq("fetch_log_count_digest" -> s"${digests(i)._1}:${digests(i)._2}")

  /** No URL logged twice; per (round, host) selections within the host's
    * budget; every logged URL's key in the seen set.
    */
  private def checkLog(log: DataFrame, seen: DataFrame): Seq[String] = {
    val dup = rows(log.groupBy("url").count().filter(col("count") > 1))
    val overBudget = rows(log
      .groupBy(col("round"), gf.reverse_host(gf.url_host(col("url"))).as("rev_host")).count()
      .join(budgets, Seq("rev_host"), "left_outer")
      .filter(col("count") > coalesce(col("tokens_per_round"), lit(defaultTokens))))
    val unseen = rows(log.select(gf.surt(col("url")).as("key")).join(seen, Seq("key"), "left_anti"))
    failIf(dup > 0, s"$dup URLs logged more than once") ++
      failIf(overBudget > 0, s"$overBudget (round, host) selections over the host's budget") ++
      failIf(unseen > 0, s"$unseen logged URLs missing from the seen set")
  }

  private def withLog[T](f: DataFrame => T): T = {
    val log = Frontier.fetchLog(spark, cfg(last)).select("round", "url").persist()
    try f(log) finally log.unpersist()
  }

  def check(): Seq[String] =
    if (last < 0) Seq("no crawl completed")
    else withLog(checkLog(_, Frontier.seenKeys(spark, cfg(last))))

  def checkCorrupted(): Seq[String] =
    withLog(log => checkLog(log.union(log.limit(1)), Frontier.seenKeys(spark, cfg(last))))

  def layerMetrics(traced: Seq[(Int, Span)]): Map[String, Double] = perOp(traced) { (i, root) =>
    val phases = Map("select+dedup" -> "select_dedup", "log" -> "commit_log", "pending" -> "commit_pending",
      "pending:compact" -> "commit_pending", "removed" -> "commit_pending",
      "removed:compact" -> "commit_pending", "seen" -> "commit_seen", "prep-next" -> "prep_next")
    val Round = "frontier:r\\d+:(.+)".r
    val jobs = t.all.filter(s => s.layer == "spark" && t.under(s, root.id))
      .flatMap(s => t.descOf(s.id).collect { case Round(p) => (p, t.seconds(s)) })
    val busy = jobs.groupMapReduce(j => phases.getOrElse(j._1, "other"))(_._2)(_ + _)
    val run = t.find("frontier", "run", Some(root.id))
    val runWork = run.map(s => t.workBelow(s.id)).foldLeft(new Work)(_ add _)
    perOpInfo.getOrElse(i, Map.empty) ++
      phases.values.toSet[String].map(p => s"frontier.${p}_busy_s" -> busy.getOrElse(p, 0.0)) ++ Map(
        "frontier.init_s" -> t.find("frontier", "init", Some(root.id)).map(t.seconds).sum,
        "frontier.jobs_per_round" -> jobs.size.toDouble / rounds,
        "frontier.scan_rows_per_round" -> runWork.scanRows.toDouble / rounds,
        "frontier.shuffle_bytes_per_round" -> runWork.shuffleWrite.toDouble / rounds)
  }
}

/** `webgraph`: the `process_webgraph.sh` chain, each step writing parquet
  * like the reference's resumable steps, iteration caps at library
  * defaults, closed by an [[Exploration]] session over the written host
  * graph. Where the iterative operators, DenseIds/Ranks, the bulk writes
  * and the explore shell do their work; never touches the frontier.
  */
final class Webgraph(ctx: Ctx) extends Workload {
  import ctx._
  private val nDocs = if (tiny) 3000L else 5000L
  private val nHosts = if (tiny) 300 else 1600
  private var in: Path = _
  private val outputs = mutable.Map[Int, Map[String, Double]]()
  private val transcripts = mutable.Map[Int, Seq[(String, Seq[String])]]()
  private var last = -1
  private def out(i: Int, name: String) = dir.resolve(s"graph$i").resolve(name)
  // a warm build takes about a second, so five builds cost little and steady the median
  val setupReps = 5

  def setup(d: Path): Unit = {
    in = d
    lap("sources", "setup.generate_s") {
      write(SynthDocs.docs(spark, nDocs, nHosts, seed).toDF(), d.resolve("docs"))
    }
  }

  def op(i: Int): Unit = {
    def o(name: String) = out(i, name)
    t.span("functions", "hostlinks")(write(HostGraph.hostLinks(read(in.resolve("docs"))), o("links")))
    t.span("operators", "build") {
      val (v, e) = HostGraph.build(read(o("links")))
      write(v, o("vertices"))
      write(e, o("edges"))
    }
    val (v, e) = (read(o("vertices")), read(o("edges")))
    t.span("operators", "fold") {
      val d = DomainGraph.fold(v, e)
      write(d.vertices, o("domain_vertices"))
      write(d.edges, o("domain_edges"))
    }
    t.span("operators", "pagerank")(write(PageRank.run(v.select("id"), e), o("pagerank")))
    t.span("operators", "hyperball")(write(HarmonicCentrality.hyperball(v.select("id"), e), o("harmonic")))
    t.span("operators", "wcc")(write(ConnectedComponents.weak(v.select("id"), e), o("components")))
    t.span("operators", "joinranks") {
      write(Ranking.joinRanks(v, read(o("harmonic")).join(read(o("pagerank")), "id")), o("ranks"))
    }
    // ids are dense, so every id below a quarter of the host count names a
    // vertex of the graph
    val session = new Exploration(ctx, v, e, idRange = nHosts / 4)
    session.run(rounds = 1)
    transcripts(i) = session.transcript.toSeq
  }

  def afterOp(i: Int): Long = {
    def n(name: String) = rows(read(out(i, name))).toDouble
    outputs(i) = Map("operators.vertices" -> n("vertices"), "operators.edges" -> n("edges"),
      "operators.domain_vertices" -> n("domain_vertices"), "operators.domain_edges" -> n("domain_edges"),
      "operators.components" -> rows(read(out(i, "components")).select("component").distinct()).toDouble,
      "functions.links" -> n("links"),
      "sources.output_bytes" -> Host.du(dir.resolve(s"graph$i"))._1.toDouble)
    spark.catalog.clearCache()
    if (last >= 0) Host.delete(dir.resolve(s"graph$last"))
    last = i
    nDocs
  }

  def fingerprint(i: Int): Seq[(String, String)] = {
    val text = transcripts(i).map { case (line, got) => (line +: got).mkString("\n") }.mkString("\n\n")
    val sha = java.security.MessageDigest.getInstance("SHA-256").digest(text.getBytes("UTF-8"))
    Seq("shell_transcript_sha256" -> sha.map(b => f"$b%02x").mkString.take(16))
  }

  /** Dense sorted ids, clean arcs, PageRank mass, rank permutations and
    * host counts of the folded domains.
    */
  private def checkGraph(v: DataFrame): Seq[String] = {
    def o(name: String) = read(out(last, name))
    val ids = v.select("id", "rev_name").orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    val n = ids.length.toLong
    val notDense = ids.indices.count(k => ids(k)._1 != k ||
      (k > 0 && Utf8.compare(ids(k - 1)._2, ids(k)._2) >= 0))
    def badArcs(e: DataFrame) =
      rows(e.filter(col("from_id") === col("to_id"))) + rows(e) - rows(e.distinct())
    val prSum = o("pagerank").agg(sum("pr_val")).head.getDouble(0)
    val ranks = o("ranks")
    def isPerm(c: String) = {
      val r = ranks.agg(count(lit(1)), countDistinct(col(c)), min(c), max(c)).head
      r.getLong(0) == n && r.getLong(1) == n && r.getLong(2) == 1 && r.getLong(3) == n
    }
    val folded = o("domain_vertices").agg(sum("num_hosts")).head.getLong(0)
    val withDomain = rows(v.filter(DomainGraph.domainOfRevHost(col("rev_name"), DomainGraph.Options()).isNotNull))
    failIf(notDense > 0, s"$notDense host vertex ids not dense in rev_name order") ++
      failIf(badArcs(o("edges")) > 0, "host edges hold self-loops or duplicate arcs") ++
      failIf(badArcs(o("domain_edges")) > 0, "domain edges hold self-loops or duplicate arcs") ++
      failIf(math.abs(prSum - 1.0) > 1e-6, s"PageRank sums to $prSum") ++
      failIf(!isPerm("hc_rank"), "hc_rank is not a permutation of 1..n") ++
      failIf(!isPerm("pr_rank"), "pr_rank is not a permutation of 1..n") ++
      failIf(folded != withDomain, s"domains count $folded hosts, $withDomain hosts have a domain")
  }

  def check(): Seq[String] =
    if (last < 0) Seq("no pipeline pass completed")
    else checkGraph(read(out(last, "vertices"))) ++
      Exploration.mismatches(transcripts(last), read(out(last, "vertices")), read(out(last, "edges")))

  def checkCorrupted(): Seq[String] = {
    val v = read(out(last, "vertices"))
    checkGraph(v.withColumn("id", when(col("id") === 1, lit(2L)).otherwise(col("id")))) ++
      Exploration.mismatches(transcripts(last).map { case (l, got) => (l, got :+ "0: extra") },
        v, read(out(last, "edges")))
  }

  def layerMetrics(traced: Seq[(Int, Span)]): Map[String, Double] = perOp(traced) { (i, root) =>
    def step(layer: String, name: String) = t.find(layer, name, Some(root.id))
    def secs(layer: String, name: String) = step(layer, name).map(t.seconds).sum
    def work(name: String) = step("operators", name).map(s => t.workBelow(s.id)).foldLeft(new Work)(_ add _)
    val iterative = Seq("pagerank", "hyperball", "wcc", "joinranks")
    val info = outputs.getOrElse(i, Map.empty)
    val calls = t.children(root.id).filter(_.layer == "explore").filter(_.name != "cache")
    val callWork = calls.map(c => t.workBelow(c.id))
    val lines = transcripts.getOrElse(i, Nil).map(_._2.size).sum
    info ++ calls.groupBy(_.name).map { case (k, cs) =>
      s"explore.${k}_p50_ms" -> Metrics.median(cs.map(t.seconds(_) * 1e3)) } ++ Map(
      "explore.cache_s" -> secs("explore", "cache"),
      "explore.jobs_per_call" -> callWork.map(_.jobs).sum.toDouble / math.max(1, calls.size),
      "explore.rows_scanned_per_result" ->
        callWork.map(w => w.scanRows + w.cacheScanRows).sum.toDouble / math.max(1, lines)) ++
      Seq("build", "fold", "pagerank", "hyperball", "wcc", "joinranks")
      .map(s => s"operators.${s}_s" -> secs("operators", s)) ++
      iterative.map(s => s"operators.${s}_jobs" -> work(s).jobs.toDouble) ++
      iterative.map(s => s"operators.${s}_shuffle_bytes" -> work(s).shuffleWrite.toDouble) ++ Map(
        "functions.hostlinks_s" -> secs("functions", "hostlinks"),
        "functions.links_per_s" -> info.getOrElse("functions.links", 0.0) /
          math.max(1e-9, secs("functions", "hostlinks")))
  }
}

/** The exploration session that closes the `webgraph` op: one client in a
  * closed loop with zero think time sends `Shell.dispatch` command lines to
  * a cached `GraphSession` over the host graph the op just wrote, as
  * `graph_explore_load_graph.jsh` does after `process_webgraph.sh`.
  * Read-only and latency-bound: many tiny jobs, so per-job driver overhead
  * and rows scanned per answer dominate. Arguments come from the seed and
  * from earlier answers (a `cn` answer names the label the `tld` and
  * `prefix` commands use); every answer is checked after the op against
  * [[Exploration.answer]].
  */
final class Exploration(ctx: Ctx, vertices: DataFrame, edges: DataFrame, idRange: Int) {
  import ctx._
  private val buf = new java.io.ByteArrayOutputStream()
  private val shell = new Shell(t.span("explore", "cache")(new GraphSession(vertices, edges).cache()),
    new java.io.BufferedReader(new java.io.StringReader("")), new java.io.PrintStream(buf, true, "UTF-8"))

  /** (command line, printed lines) of every command sent. */
  val transcript = mutable.ArrayBuffer[(String, Seq[String])]()

  private def send(kind: String, line: String): Seq[String] = {
    buf.reset()
    t.span("explore", kind)(shell.dispatch(line))
    val got = buf.toString("UTF-8").split("\n").toSeq.filter(_.nonEmpty)
    transcript += line -> got
    got
  }

  def run(rounds: Int): Unit = {
    val rnd = new scala.util.Random(seed)
    def id() = rnd.nextInt(idRange)
    (0 until rounds).foreach { _ =>
      val a = id()
      val label = send("cn", s"cn $a").headOption.flatMap(_.split("\t").lift(1)).getOrElse("none")
      send("ls", s"ls $a")
      send("sl", s"sl ${id()}")
      send("degree", s"outdegree ${id()}")
      send("degree", s"indegree ${id()}")
      send("tld", s"tld $label")
      send("prefix", s"prefix ${label.split('.').take(2).mkString(".")}")
      send("shared", s"shared ${Seq.fill(3)(id()).mkString(",")} 2 3")
    }
  }
}

object Exploration {
  /** The lines `Shell` must print for `line`, computed on the Spark driver from
    * the collected graph, independently of the engine's exploration code.
    */
  def answer(line: String, label: Map[Long, String], succ: Map[Long, Seq[Long]],
             pred: Map[Long, Seq[Long]]): Seq[String] = {
    val byLabel = label.map(_.swap)
    def resolve(tok: String): Option[Long] =
      if (tok.nonEmpty && tok.forall(_.isDigit)) tok.toLongOption.filter(label.contains) else byLabel.get(tok)
    def listing(ids: Seq[Long]) = ids.zipWithIndex.map { case (id, k) => s"$k: ${label(id)}" }
    def on(tok: String)(f: Long => Seq[String]) = resolve(tok).fold(Seq(s"vertex `$tok` not found"))(f)
    def tld(l: String) = l.takeWhile(_ != '.')
    line.split(" ").toSeq match {
      case Seq("cn", v) => on(v)(id => Seq(s"#$id\t${label(id)}"))
      case Seq("ls", v) => on(v)(id => listing(succ.getOrElse(id, Nil)))
      case Seq("sl", v) => on(v)(id => listing(pred.getOrElse(id, Nil)))
      case Seq("outdegree", v) => on(v)(id => Seq(succ.getOrElse(id, Nil).size.toString))
      case Seq("indegree", v) => on(v)(id => Seq(pred.getOrElse(id, Nil).size.toString))
      case Seq("tld", v) => on(v)(id => succ.getOrElse(id, Nil).groupBy(s => tld(label(s)))
        .map { case (t, ss) => (t, ss.size) }.toSeq.sortBy { case (t, c) => (-c, t) }
        .map { case (t, c) => s"$c\t$t" })
      case Seq("prefix", p) =>
        label.toSeq.filter(_._2.startsWith(p)).sortBy(_._1).map { case (id, l) => s"#$id\t$l" }
      case Seq("shared", ids, lo, hi) =>
        val counts = ids.split(",").toSeq.flatMap(resolve).distinct.flatMap(succ.getOrElse(_, Nil))
          .groupBy(identity).map { case (s, xs) => (s, xs.size) }
        listing(counts.filter { case (_, c) => c >= lo.toInt && c <= hi.toInt }.keys.toSeq.sorted)
      case _ => Seq(s"no reference answer for `$line`")
    }
  }

  /** Every transcript line that differs from its reference answer. */
  def mismatches(transcript: Seq[(String, Seq[String])], vertices: DataFrame,
                 edges: DataFrame): Seq[String] = {
    val label = vertices.select("id", "rev_name").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val arcs = edges.select("from_id", "to_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    val succ = arcs.groupMap(_._1)(_._2).map { case (k, v) => k -> v.sorted.toSeq }
    val pred = arcs.groupMap(_._2)(_._1).map { case (k, v) => k -> v.sorted.toSeq }
    transcript.flatMap { case (line, got) =>
      val want = answer(line, label, succ, pred)
      failIf(got != want, s"`$line` printed ${got.take(2).mkString(" | ")} (${got.size} lines), " +
        s"expected ${want.take(2).mkString(" | ")} (${want.size} lines)")
    }
  }
}

/** `dedup`: `Dedup.exact` + `Dedup.minhashDedup` + `dupGroups` +
  * `dropDuplicates` over a seeded `DedupBench.corpus` (near-duplicate pairs
  * plus about 1% byte-identical copies), writing the cleaned corpus. The
  * only workload for textops; its vocabulary rank is a corpus-sized
  * `Ranks.rowNumber`, against webgraph's small ones.
  */
final class DedupWorkload(ctx: Ctx) extends Workload {
  import ctx._
  private val nDocs = if (tiny) 2000L else 3000L
  private var in: Path = _
  private val pairCounts = mutable.Map[Int, Long]()
  private var candidatePairs: Option[Long] = None
  private val info = mutable.Map[Int, Map[String, Double]]()
  private var last = -1
  private def out(i: Int, name: String) = dir.resolve(s"dedup$i").resolve(name)
  // as for the webgraph part: a cheap build, so five of them
  val setupReps = 5

  def setup(d: Path): Unit = {
    in = d
    lap("sources", "setup.generate_s")(write(DedupBench.corpus(spark, nDocs, seed = seed), d.resolve("docs")))
  }

  def op(i: Int): Unit = {
    def o(name: String) = out(i, name)
    val docs = read(in.resolve("docs"))
    t.span("textops", "exact")(write(Dedup.exact(docs, "doc_id", "text"), o("exact")))
    if (!t.on) t.span("textops", "minhash")(write(Dedup.minhashDedup(docs, "doc_id", "text"), o("pairs")))
    else nearPairsInStages(docs, o("pairs"))
    t.span("textops", "groups") {
      // exact copies pair with their min-id survivor; minhashDedup reports
      // near-duplicates among distinct texts only
      val survivor = docs.groupBy("text").agg(min("doc_id").as("doc_a"))
      val exactPairs = docs.join(survivor, "text").filter(col("doc_id") =!= col("doc_a"))
        .select(col("doc_a"), col("doc_id").as("doc_b"))
      write(Dedup.dupGroups(exactPairs.unionByName(read(o("pairs")).select("doc_a", "doc_b"))), o("groups"))
    }
    t.span("textops", "drop")(write(Dedup.dropDuplicates(docs, "doc_id", read(o("groups"))), o("clean")))
  }

  /** The traced run's minhash: the same steps as `Dedup.minhashDedup`, each
    * materialized on its own so its time shows as a span.
    */
  private def nearPairsInStages(docs: DataFrame, dest: Path): Unit = {
    val survivors = docs.groupBy("text").agg(min("doc_id").as("doc_id"))
    val tids = t.span("textops", "tokenize") {
      val x = Dedup.docTokenIds(survivors, "doc_id", "text").persist(); x.count(); x
    }
    val sigs = t.span("textops", "signatures") {
      val x = Dedup.minhashSignatures(tids).persist(); x.count(); x
    }
    val cands = t.span("textops", "candidates") {
      val x = Dedup.minhashCandidates(sigs).persist(); x.count(); x
    }
    t.span("textops", "verify")(write(Dedup.jaccardVerify(cands, tids, 0.8), dest))
    candidatePairs = Some(rows(cands))
    Seq(cands, sigs, tids).foreach(_.unpersist())
  }

  def afterOp(i: Int): Long = {
    pairCounts(i) = rows(read(out(i, "pairs")))
    val dupDocs = rows(read(out(i, "groups")).filter(col("doc_id") =!= col("canonical_id")))
    info(i) = candidatePairs.map(n => "textops.candidate_pairs" -> n.toDouble).toMap ++ Map(
      "textops.verified_pairs" -> pairCounts(i).toDouble, "textops.dup_docs" -> dupDocs.toDouble,
      "sources.output_bytes" -> Host.du(dir.resolve(s"dedup$i"))._1.toDouble)
    if (last >= 0) Host.delete(dir.resolve(s"dedup$last"))
    last = i
    candidatePairs = None
    nDocs
  }

  def fingerprint(i: Int): Seq[(String, String)] = Seq("near_duplicate_pairs" -> pairCounts(i).toString)

  /** No two survivors share a text, and survivors = docs − non-canonical
    * duplicates.
    */
  private def checkClean(clean: DataFrame): Seq[String] = {
    val shared = rows(clean.groupBy("text").count().filter(col("count") > 1))
    val dropped = rows(read(out(last, "groups")).filter(col("doc_id") =!= col("canonical_id")))
    val n = rows(clean)
    failIf(shared > 0, s"$shared texts survive more than once") ++
      failIf(n != nDocs - dropped, s"$n survivors, expected $nDocs docs − $dropped duplicates")
  }

  def check(): Seq[String] =
    if (last < 0) Seq("no dedup pass completed")
    else checkClean(read(out(last, "clean")))

  def checkCorrupted(): Seq[String] = {
    val clean = read(out(last, "clean"))
    checkClean(clean.union(clean.limit(1)))
  }

  def layerMetrics(traced: Seq[(Int, Span)]): Map[String, Double] = perOp(traced) { (i, root) =>
    def secs(name: String) = t.find("textops", name, Some(root.id)).map(t.seconds).sum
    val m = info.getOrElse(i, Map.empty)
    m ++ Seq("exact", "tokenize", "signatures", "candidates", "verify", "groups", "drop")
      .map(s => s"textops.${s}_s" -> secs(s)) ++ Map(
        "textops.exact_shuffle_bytes" -> t.find("textops", "exact", Some(root.id))
          .map(s => t.workBelow(s.id).shuffleWrite.toDouble).sum,
        "textops.verified_per_candidate" ->
          m.getOrElse("textops.verified_pairs", 0.0) / math.max(1.0, m.getOrElse("textops.candidate_pairs", 0.0)))
  }
}

/** Several workloads' steps as one op, in order: one set-up builds every
  * part's inputs, one op runs every part, and documents add up.
  */
final class Sequence(parts: Seq[Workload]) extends Workload {
  val setupReps: Int = parts.map(_.setupReps).min
  def setup(dir: Path): Unit = parts.zipWithIndex.foreach { case (p, k) => p.setup(dir.resolve(s"part$k")) }
  def op(i: Int): Unit = {
    val walls = parts.map { p =>
      val t0 = System.nanoTime()
      p.op(i)
      (System.nanoTime() - t0) / 1e9
    }
    System.err.println(s"[bench] op $i part walls ${walls.map(s => f"$s%.3f").mkString(" ")} s")
  }
  def afterOp(i: Int): Long = parts.map(_.afterOp(i)).sum
  def fingerprint(i: Int): Seq[(String, String)] = parts.flatMap(_.fingerprint(i))
  def check(): Seq[String] = parts.flatMap(_.check())
  def checkCorrupted(): Seq[String] = parts.flatMap(_.checkCorrupted())
  /** Parts report disjoint metrics except output bytes, which add up. */
  def layerMetrics(traced: Seq[(Int, Span)]): Map[String, Double] = parts.map(_.layerMetrics(traced))
    .reduce((a, b) => a ++ b.map { case (k, v) => k -> (a.getOrElse(k, 0.0) + v) })
}

/** UTF-8 binary string order, the order Spark sorts strings in. */
object Utf8 {
  def compare(a: String, b: String): Int =
    java.util.Arrays.compareUnsigned(a.getBytes("UTF-8"), b.getBytes("UTF-8"))
}
