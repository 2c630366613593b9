package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.TranscriptTable

/** The table handed to `Pipeline.run`, with a span around each manifest
  * call, so discovery shows as its own layer inside the run.
  */
final class TracedTable(inner: TranscriptTable, tr: Tracer) extends TranscriptTable {
  def currentSnapshotId: Option[Long] = tr.span("sources.files_at")(inner.currentSnapshotId)
  def filesAt(snapshotId: Long): Seq[String] = tr.span("sources.files_at")(inner.filesAt(snapshotId))
  def read(spark: SparkSession, snapshotId: Long): DataFrame = inner.read(spark, snapshotId)
  def append(df: DataFrame): Long = tr.span("sources.append")(inner.append(df))
}

/** Per-layer numbers of one traced `Pipeline.run` span. */
object PipelineTrace {
  /** Keys that are not metrics: the run's wall and its executor run time,
    * for callers that aggregate `core_util` over several runs.
    */
  val RunS = "_run_s"
  val ExecutorRunS = "_executor_run_s"

  def of(tr: Tracer, layers: Layers, run: Span): Map[String, Double] = {
    val kids = tr.execSpans(run, layers.classify)
    val nested = tr.spans.filter(_.parent == run.id).toSeq
    def sum(names: String*) = kids.filter(k => names.contains(k.name)).map(_.dur).sum
    def count(name: String) = kids.count(_.name == name).toDouble
    val c = tr.counters(run)
    Map(
      "pipeline.jobs" -> c("jobs"),
      "pipeline.tasks" -> c("tasks"),
      "pipeline.source_scans" -> tr.execsIn(run).map(layers.sourceScans).sum.toDouble,
      "pipeline.shuffle_write_bytes" -> c("shuffle_write_bytes"),
      "pipeline.spill_bytes" -> c("spill_bytes"),
      "pipeline.gc_s" -> c("gc_s"),
      "pipeline.executor_cpu_s" -> c("executor_cpu_s"),
      "pipeline.core_util" -> c("core_util"),
      "deliver.write_s" -> sum("deliver.write"),
      "sources.files_at_s" -> nested.filter(_.name == "sources.files_at").map(_.dur).sum,
      "checkpoint.fingerprint_s" -> sum("checkpoint.fingerprint"),
      "checkpoint.entries_s" -> sum("checkpoint.entries"),
      "checkpoint.prune_s" -> sum("checkpoint.prune"),
      "checkpoint.commit_s" -> sum("checkpoint.commit", "checkpoint.compact"),
      "checkpoint.compactions" -> math.min(1.0, count("checkpoint.compact")),
      "dedup.stage_s" -> sum("dedup.stage", "dedup.compact"),
      "dedup.commit_s" -> sum("dedup.commit"),
      "dedup.retract_s" -> sum("dedup.retract"),
      "dedup.compactions" -> math.min(1.0, count("dedup.compact")),
      RunS -> run.dur,
      ExecutorRunS -> c("executor_run_s"))
  }

  /** Files, bytes and `batch=` dirs under a sink root. */
  def sinkState(out: String, sinks: Seq[String]): (Long, Long, Long) = {
    val per = sinks.map { s =>
      val d = new File(out, s)
      val (f, b) = Host.dataFiles(d)
      val dirs = Option(d.listFiles).toSeq.flatten.count(_.getName.startsWith("batch="))
      (f, b, dirs.toLong)
    }
    (per.map(_._1).sum, per.map(_._2).sum, per.map(_._3).sum)
  }

  def commitDirs(lineage: String): Int =
    Option(new File(lineage).listFiles).toSeq.flatten.count(_.getName.startsWith("commit-"))
}
