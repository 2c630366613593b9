package perfbench

import scala.collection.mutable

/** The per-layer metric catalogue (the `per_layer` list of BENCHMARK.json,
  * in order) and a collector that takes, for each metric, the median over
  * the traced ops of a run. A layer a workload never calls reads 0.
  */
object Layered {
  /** The curation queries `campaign` times, one per operator layer: the
    * exact dedup store with retraction, the bucketed store, and Search.
    */
  val Queries: Seq[String] = Seq("q_dedup_retract", "q_dedup_bucketed", "q_bm25_search")

  val catalogue: Seq[(String, String)] =
    Seq("scan", "parse", "enrich", "route").flatMap(l => Seq(
      s"$l.self_s.c1" -> "s", s"$l.self_s.c4" -> "s", s"$l.eff_1to4" -> "ratio")) ++
    Seq("pipeline.jobs" -> "count", "pipeline.tasks" -> "count",
      "pipeline.source_scans" -> "count", "pipeline.shuffle_write_bytes" -> "bytes",
      "pipeline.spill_bytes" -> "bytes", "pipeline.gc_s" -> "s",
      "pipeline.executor_cpu_s" -> "s", "pipeline.core_util" -> "ratio",
      "pipeline.unattributed_s" -> "s",
      "deliver.write_s" -> "s", "deliver.files_written" -> "count",
      "deliver.bytes_written" -> "bytes", "deliver.rows_per_file" -> "rows/file",
      "deliver.renames" -> "count",
      "sources.append_s" -> "s", "sources.files_at_s" -> "s",
      "sources.manifest_files" -> "count",
      "checkpoint.fingerprint_s" -> "s", "checkpoint.entries_s" -> "s",
      "checkpoint.prune_s" -> "s", "checkpoint.commit_s" -> "s",
      "checkpoint.compactions" -> "count", "checkpoint.commit_dirs" -> "count",
      "checkpoint.lineage_bytes" -> "bytes",
      "dedup.stage_s" -> "s", "dedup.commit_s" -> "s", "dedup.retract_s" -> "s",
      "dedup.store_dirs" -> "count", "dedup.store_bytes" -> "bytes",
      "dedup.compactions" -> "count", "dedup.fresh_ratio" -> "ratio",
      "segments.assemble_s" -> "s", "segments.records_out" -> "count",
      "http.posts" -> "count", "http.docs" -> "count", "http.failed_docs" -> "count",
      "http.retries" -> "count", "http.post_s" -> "s",
      "campaign.cycle_s.p50" -> "s", "campaign.burst_s.p50" -> "s",
      "campaign.resume_noop_s" -> "s") ++
    Queries.flatMap(q => Seq(s"query.$q.s" -> "s", s"query.$q.jobs" -> "count")) ++
    Seq("queries.cached_relations_left" -> "count",
      "queries.temp_functions_left" -> "count",
      "host.steal_frac" -> "ratio", "trace.overhead_s" -> "s")

  private val units = catalogue.toMap

  final class Acc {
    private val vals = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    def add(name: String, v: Double): Unit = {
      require(units.contains(name), s"unknown per-layer metric $name")
      vals.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
    }
    def addAll(m: Map[String, Double]): Unit = m.foreach { case (k, v) => add(k, v) }
    def set(name: String, v: Double): Unit = { vals.remove(name); add(name, v) }
    def metrics: Seq[Metric] = catalogue.map { case (n, u) =>
      Metric(n, vals.get(n).map(xs => Host.median(xs.toSeq)).getOrElse(0.0), u)
    }
  }
}
