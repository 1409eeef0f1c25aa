package graftbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What a workload sees: the session, the tracer, its seed and its own
  * directory under the run's work dir.
  */
final case class Ctx(spark: SparkSession, t: Tracer, seed: Long, tiny: Boolean, dir: Path) {
  /** Wall seconds of the latest set-up's steps, by metric name; steps of
    * several parts under one name add up.
    */
  val setupLaps: mutable.Map[String, Double] = mutable.Map()

  /** Times one set-up step and records it as a span of `layer`. */
  def lap[T](layer: String, metric: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = t.span(layer, metric)(body)
    setupLaps(metric) = setupLaps.getOrElse(metric, 0.0) + (System.nanoTime() - t0) / 1e9
    r
  }

  def read(p: Path): DataFrame = spark.read.parquet(p.toString)
  def write(df: DataFrame, p: Path): Unit = df.write.mode("overwrite").parquet(p.toString)
}

/** One benchmark workload. Ops run in the measured window; everything else
  * (set-up, per-op bookkeeping, output checks) runs outside it.
  */
trait Workload {
  /** How often a run builds the inputs; `setup_s` is the median wall. */
  def setupReps: Int
  /** Builds the inputs under `dir`; its wall time is `setup_s`. */
  def setup(dir: Path): Unit
  /** One op; throws when it fails. */
  def op(i: Int): Unit
  /** Untimed, after op `i` succeeded: records what the checks compare and
    * returns the number of documents the op processed.
    */
  def afterOp(i: Int): Long
  /** After `afterOp(i)`: named values that every op of the same seed must
    * reproduce, in every run of the same code.
    */
  def fingerprint(i: Int): Seq[(String, String)]
  /** Output checks: one message per failure. */
  def check(): Seq[String]
  /** The same checks on a deliberately corrupted copy of the output; the
    * self-test expects at least one failure.
    */
  def checkCorrupted(): Seq[String]
  /** This workload's per-layer metrics from its traced ops `(op, root span)`. */
  def layerMetrics(traced: Seq[(Int, Span)]): Map[String, Double]
}

/** `fingerprint` is the last successful op's. */
final case class Result(json: String, correct: Boolean, workload: Workload,
                        fingerprint: Seq[(String, String)])

/** What earlier runs of the same code recorded, one tab-separated line
  * `<workload> <seed> <name> <value>` per fact. `wall_s` lines are untraced
  * op walls; every other name is an output fingerprint, which the first op
  * of a seed records and every later op of that seed must reproduce.
  * Without a file nothing is recorded.
  */
final class Record(file: Option[Path]) {
  private def facts(workload: String): Seq[(Long, String, String)] =
    file.filter(Files.isRegularFile(_)).toSeq.flatMap(f => Files.readAllLines(f).asScala)
      .map(_.split("\t", 4)).collect { case Array(`workload`, s, n, v) => (s.toLong, n, v) }

  /** The first recorded value of each fingerprint of `seed`. */
  def fingerprints(workload: String, seed: Long): Map[String, String] =
    facts(workload).reverse.collect { case (`seed`, n, v) if n != Record.Wall => n -> v }.toMap

  /** (seed, seconds) of every recorded untraced op. */
  def walls(workload: String): Seq[(Long, Double)] =
    facts(workload).collect { case (s, Record.Wall, v) => s -> v.toDouble }

  def add(workload: String, seed: Long, facts: Seq[(String, String)]): Unit = file.foreach { f =>
    Files.createDirectories(f.getParent)
    Files.write(f, facts.map { case (n, v) => s"$workload\t$seed\t$n\t$v" }.asJava,
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
  }
}

object Record {
  val Wall = "wall_s"

  /** One message per fingerprint that differs from its recorded value. */
  def mismatches(known: Map[String, String], got: Seq[(String, String)]): Seq[String] =
    got.collect { case (n, v) if known.get(n).exists(_ != v) =>
      s"$n is $v, earlier ops of this seed gave ${known(n)}" }
}

object Runner {
  private final case class Op(i: Int, wallNs: Long, blockedNs: Long, docs: Long, ok: Boolean,
                              root: Option[Span])

  def run(spark: SparkSession, name: String, seed: Long, seconds: Double, trace: Boolean,
          work: Path, record: Record, spans: Option[Path] = None, tiny: Boolean = false): Result = {
    val t = new Tracer(spark)
    val ctx = Ctx(spark, t, seed, tiny, Files.createTempDirectory(work, "run"))
    val w = Workloads.byName(name)(ctx)
    val probeBefore = Host.cpuProbe()
    if (trace) t.start()
    val setups = (0 until w.setupReps).map { k =>
      spark.catalog.clearCache()
      ctx.setupLaps.clear()
      if (k > 0) Host.delete(ctx.dir.resolve(s"setup${k - 1}"))
      val t0 = System.nanoTime()
      w.setup(ctx.dir.resolve(s"setup$k"))
      (System.nanoTime() - t0) / 1e9
    }
    t.stop()
    System.err.println(f"[bench] setup walls ${setups.map(s => f"$s%.3f").mkString(" ")} s; last: " +
      ctx.setupLaps.toSeq.sorted.map { case (k, v) => f"$k=$v%.3f" }.mkString(" "))

    val failures = mutable.ArrayBuffer[String]()
    var fingerprint = Seq.empty[(String, String)]
    def attempt(i: Int, traced: Boolean): Op = {
      if (traced) t.start() else t.stop()
      val b0 = t.blocked
      val t0 = System.nanoTime()
      val ok =
        try { t.span("bench", s"op $i")(w.op(i)); true }
        catch { case e: Exception =>
          System.err.println(s"[bench] op $i failed: $e")
          false
        }
      val wall = System.nanoTime() - t0
      val blocked = t.blocked - b0
      t.stop()
      val t1 = System.nanoTime()
      val root = if (traced) t.find("bench", s"op $i").lastOption else None
      val docs =
        if (!ok) 0L
        else try {
          val n = w.afterOp(i)
          fingerprint = w.fingerprint(i)
          val known = record.fingerprints(name, seed)
          failures ++= Record.mismatches(known, fingerprint).map(m => s"op $i: $m")
          record.add(name, seed, fingerprint.filterNot(f => known.contains(f._1)) ++
            (if (traced) Nil else Seq(Record.Wall -> (wall / 1e9).toString)))
          System.err.println(s"[bench] op $i fingerprint ${fingerprint.map { case (k, v) => s"$k=$v" }.mkString(" ")}")
          n
        } catch { case e: Exception =>
          failures += s"op $i: bookkeeping failed: $e"
          0L
        }
      System.err.println(f"[bench] op $i ${if (traced) "traced" else "untraced"} ${wall / 1e9}%.3f s " +
        f"(${if (ok) "ok" else "FAILED"}, ${blocked / 1e9}%.3f s in trace drains), " +
        f"bookkeeping ${(System.nanoTime() - t1) / 1e9}%.3f s")
      Op(i, wall, blocked, docs, ok, root)
    }

    // a traced run traces every op, so its first op is as cold as an
    // untraced run's and the per-layer figures add up to a comparable wall
    val ops = mutable.ArrayBuffer[Op]()
    val start = System.nanoTime()
    var i = 0
    while ((System.nanoTime() - start) / 1e9 < seconds || ops.isEmpty) {
      ops += attempt(i, traced = trace)
      i += 1
    }
    val tc = System.nanoTime()
    failures ++= (try w.check() catch { case e: Exception => Seq(s"check failed to run: $e") })
    System.err.println(f"[bench] checks ${(System.nanoTime() - tc) / 1e9}%.3f s")
    val probeAfter = Host.cpuProbe()
    failures.foreach(f => System.err.println(s"[bench] CHECK FAILED: $f"))

    val failed = ops.count(!_.ok)
    val untraced = ops.filter(o => o.ok && o.root.isEmpty)
    val tracedOps = ops.filter(o => o.ok && o.root.nonEmpty)
    val metrics: Seq[(String, Double)] =
      if (!trace) {
        val wallS = untraced.map(_.wallNs).sum / 1e9
        Seq(
          "setup_s" -> Metrics.median(setups),
          "peak_rss_mb" -> Host.peakRssMb(),
          "ops_ok_ratio" -> (ops.size - failed).toDouble / ops.size,
          "docs_per_s" -> (if (wallS > 0) untraced.map(_.docs).sum / wallS else 0.0))
      } else {
        val roots = tracedOps.flatMap(o => o.root.map(o.i -> _)).toSeq
        spans.foreach { p => t.writeSpans(p); System.err.println(s"[trace] spans written to $p") }
        val self = roots.map { case (_, r) => t.selfSeconds(r.id) }
        val layers = self.flatMap(_.keys).distinct.sorted
        val selfPerOp = layers.map(l => l -> self.map(_.getOrElse(l, 0.0)).sum / math.max(1, self.size))
        System.err.println("[trace] self time per op by layer: " +
          selfPerOp.map { case (l, s) => f"$l=$s%.4fs" }.mkString(" "))
        def perOp(f: Work => Double) = Metrics.median(roots.map { case (_, r) => f(t.workBelow(r.id)) })
        val common = Map(
          "spark.jobs" -> perOp(_.jobs), "spark.stages" -> perOp(_.stages),
          "spark.tasks" -> perOp(_.tasks), "spark.tasks_failed" -> perOp(_.tasksFailed),
          "spark.executor_run_s" -> perOp(_.runMs / 1e3), "spark.executor_cpu_s" -> perOp(_.cpuNs / 1e9),
          "spark.gc_s" -> perOp(_.gcMs / 1e3), "spark.task_wait_s" -> perOp(_.waitMs / 1e3),
          "spark.shuffle_write_bytes" -> perOp(_.shuffleWrite),
          "spark.shuffle_read_bytes" -> perOp(_.shuffleRead), "spark.spill_bytes" -> perOp(_.spill),
          "spark.scan_rows" -> perOp(_.scanRows), "spark.cache_scan_rows" -> perOp(_.cacheScanRows),
          "spark.exchanges" -> perOp(_.exchanges),
          "spark.broadcast_exchanges" -> perOp(_.broadcastExchanges),
          "host.cpu_probe_s" -> (probeBefore + probeAfter) / 2,
          "trace.overhead_ratio" -> overheadRatio(record.walls(name), seed, tracedOps.toSeq)) ++
          selfPerOp.map { case (l, s) => (if (l == "spark") "spark.busy_s" else s"$l.self_s") -> s }
        val all = common ++ w.layerMetrics(roots) ++ ctx.setupLaps
        Metrics.perLayer.map { case (n, _) => n -> all.getOrElse(n, 0.0) }
      }
    System.err.println(f"[bench] ops ${ops.size} failed $failed; cpu probe $probeBefore%.3f s before, " +
      f"$probeAfter%.3f s after")
    val units = (Metrics.endToEnd ++ Metrics.perLayer).toMap
    val body = metrics.map { case (n, v) =>
      s""""$n": {"value": ${Json.num(v)}, "unit": "${units(n)}"}""" }.mkString(", ")
    val json = s"""{"correct": ${failures.isEmpty}, "attempted": ${ops.size}, "failed": $failed, """ +
      s""""metrics": {$body}}"""
    Result(json, failures.isEmpty, w, fingerprint)
  }

  /** The traced op's wall ÷ the untraced op walls recorded for this code:
    * those of the same seed, else those of every seed. With none recorded,
    * the traced op's wall ÷ that wall minus its waits in listener drains,
    * which counts only what tracing adds to the op's critical path.
    */
  private def overheadRatio(walls: Seq[(Long, Double)], seed: Long, traced: Seq[Op]): Double = {
    val tracedWall = Metrics.median(traced.map(_.wallNs / 1e9))
    val base = Some(walls.filter(_._1 == seed)).filter(_.nonEmpty).getOrElse(walls).map(_._2)
    val ratio =
      if (base.nonEmpty) tracedWall / Metrics.median(base)
      else Metrics.median(traced.map(o => o.wallNs.toDouble / (o.wallNs - o.blockedNs)))
    System.err.println(f"[trace] overhead ratio $ratio%.4f: traced op $tracedWall%.3f s against " +
      (if (base.nonEmpty) f"${base.size} recorded untraced op(s), median ${Metrics.median(base)}%.3f s"
       else "its own wall without drain waits (no untraced op recorded)"))
    ratio
  }
}

/** Machine-side measurements: memory high-water mark and a CPU probe. */
object Host {
  /** High-water RSS of this JVM (`VmHWM`), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(0.0)
    finally src.close()
  }

  @volatile private var sink = 0L

  /** A fixed pure-CPU loop on one thread per core, in seconds: spread in it
    * between runs is the machine's, not the engine's.
    */
  def cpuProbe(): Double = {
    val threads = (0 until Runtime.getRuntime.availableProcessors()).map { k =>
      new Thread(() => {
        var x = k.toLong + 1
        var n = 0
        while (n < 60000000) {
          x = x * 6364136223846793005L + 1442695040888963407L
          x ^= x >>> 29
          n += 1
        }
        sink += x
      })
    }
    val t0 = System.nanoTime()
    threads.foreach(_.start())
    threads.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  def delete(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    finally s.close()
  }

  /** Bytes and regular files under `p`. */
  def du(p: Path): (Long, Long) = {
    val s = Files.walk(p)
    try {
      var bytes, files = 0L
      s.filter(Files.isRegularFile(_)).forEach { f => bytes += Files.size(f); files += 1 }
      (bytes, files)
    } finally s.close()
  }
}
