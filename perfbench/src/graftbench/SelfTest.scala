package graftbench

import java.nio.file.Path

import org.apache.spark.sql.SparkSession

/** Runs every workload at a tiny size, untraced and then traced on the same
  * seed, printing each result line for the caller to compare with
  * `BENCHMARK.json`. The traced run's op must reproduce the fingerprints the
  * untraced run recorded. Then feeds each workload's check a corrupted copy
  * of its output, and the record a changed fingerprint, and expects both to
  * be caught.
  */
object SelfTest {
  def run(spark: SparkSession, work: Path): Boolean = {
    val record = new Record(Some(work.resolve("self-test-record.tsv")))
    val seed = 7L
    Workloads.byName.keys.toSeq.sorted.map { name =>
      def once(trace: Boolean) = Runner.run(spark, name, seed, seconds = 1, trace = trace, work = work,
        record = record, tiny = true)
      val untraced = once(trace = false)
      println(s"SELFTEST $name trace=0 ${untraced.json}")
      val outputs = untraced.workload.checkCorrupted()
      val fingerprints = untraced.fingerprint.take(1).flatMap { case (n, v) =>
        Record.mismatches(record.fingerprints(name, seed), Seq(n -> (v + "0"))) }
      val caught = outputs.nonEmpty && fingerprints.nonEmpty
      println(s"SELFTEST $name corrupted caught=$caught ${(outputs ++ fingerprints).mkString("; ")}")
      val traced = once(trace = true)
      println(s"SELFTEST $name trace=1 ${traced.json}")
      untraced.correct && traced.correct && caught
    }.forall(identity)
  }
}
