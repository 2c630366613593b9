package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.model.SinkRule

/** Deterministic fan-out router.
  *
  * The reference routes every line to exactly ONE configured sink
  * (cmd/freader/sink.go:18-87) after an include/exclude substring filter
  * (cmd/freader/sink/common/filter.go:11-30). The north rule generalizes
  * this to fan-out: each row is assigned `role:<role>` and (for tool turns)
  * `tool:<tool>` route keys, exploded, filtered per sink rule, and written
  * with a single `partitionBy(route_key)` pass per sink family — one
  * shuffle-free write, N output directories.
  *
  * Blank lines are counted but never delivered — the reference's
  * blank-record rule (internal/tailer/tail_reader.go:272-279: the offset
  * advances, the callback is not invoked).
  */
object Route {

  /** include = OR of contains (empty include ⇒ allow all);
    * exclude = AND of NOT contains (filter.go:11-30).
    */
  def sinkPredicate(rule: SinkRule, text: Column): Column = {
    val inc =
      if (rule.include.isEmpty) lit(true)
      else rule.include.map(s => text.contains(s)).reduce(_ || _)
    val exc = rule.exclude.map(s => !text.contains(s)).foldLeft(lit(true))(_ && _)
    inc && exc
  }

  /** Add the route_key column set and explode: every row gets `role:<role>`;
    * tool turns additionally get `tool:<tool>`. Blank texts are dropped here
    * (delivery filter) — account for them upstream.
    */
  def routed(df: DataFrame): DataFrame = {
    val keys = when(col("tool") =!= "",
      array(concat(lit("role:"), col("role")), concat(lit("tool:"), col("tool"))))
      .otherwise(array(concat(lit("role:"), col("role"))))
    df.filter(length(col("text")) > 0)
      .withColumn("route_key", explode(keys))
  }

  /** Apply one sink rule's include/exclude filter over routed rows. */
  def forSink(routedDf: DataFrame, rule: SinkRule): DataFrame =
    routedDf.filter(sinkPredicate(rule, col("text")))

  /** TRUE where the remote rejects a row the filter admitted
    * (SinkRule.rejectWhere, opensearch.go:123-138 NumFailed model).
    */
  def rejectPredicate(rule: SinkRule, text: Column): Column =
    if (rule.rejectWhere.isEmpty) lit(false)
    else rule.rejectWhere.map(s => text.contains(s)).reduce(_ || _)

  /** Per-row array of the sink names whose include/exclude rules accept the
    * row — lets all sinks be accounted in ONE scan instead of one scan per
    * sink (at 100 TB, S passes over the fan-out is the difference between
    * one job and S jobs).
    */
  def acceptingSinks(rules: Seq[SinkRule], text: Column): Column =
    array_compact(array(rules.map(r =>
      when(sinkPredicate(r, text), lit(r.name))): _*))

  /** Per-(sink, route_key) delivered-row accounting — the collector/sink
    * metric totals that must match the reference's delivered-line
    * accounting (internal/metrics/collector_metrics.go:9-88,
    * cmd/freader/metrics/metrics.go:11-120): rows delivered and payload
    * bytes (line length, separators excluded — collector.go:79-81).
    *
    * Single pass as one PIVOTED aggregate: each rule contributes a
    * conditional (rows, bytes) aggregate pair per route_key, unpivoted to
    * (sink, route_key) rows after the aggregation. Versus the previous
    * explode-the-accepting-set shape this removes a Generate from the hot
    * path and feeds the partial aggregation |rules|× fewer rows — the
    * rows entering the exchange are identical (|sinks|·|route_keys|
    * partials). A (sink, route_key) pair with zero accepted rows is
    * filtered out, exactly the groups the explode formulation never
    * created; `rows_delivered` is a conditional sum over ≥1-row groups,
    * so the emitted values equal the old `count(1)` per group.
    */
  def sinkCounts(routedDf: DataFrame, rules: Seq[SinkRule]): DataFrame = {
    val empty = routedDf.sparkSession.emptyDataFrame
      .select(lit("").as("sink"), lit("").as("route_key"),
        lit(0L).as("rows_delivered"), lit(0L).as("bytes_delivered"))
    if (rules.isEmpty) return empty
    val len = length(col("text")).cast("long")
    // internal columns are named by rule position, so a sink name (config
    // text such as "errors.v2") never becomes a Spark identifier
    val aggs = rules.zipWithIndex.flatMap { case (r, i) =>
      val p = sinkPredicate(r, col("text"))
      Seq(sum(when(p, 1L).otherwise(0L)).as(s"__c_$i"),
        sum(when(p, len).otherwise(0L)).as(s"__b_$i"))
    }
    routedDf.groupBy(col("route_key")).agg(aggs.head, aggs.tail: _*)
      .select(col("route_key"), explode(array(rules.zipWithIndex.map { case (r, i) =>
        struct(lit(r.name).as("sink"),
          col(s"__c_$i").as("rows_delivered"),
          col(s"__b_$i").as("bytes_delivered"))
      }: _*)).as("__s"))
      .filter(col("__s.rows_delivered") > 0)
      .select(col("__s.sink").as("sink"), col("route_key"),
        col("__s.rows_delivered").as("rows_delivered"),
        col("__s.bytes_delivered").as("bytes_delivered"))
  }

  /** Overall accounting invariant inputs (SURVEY §5.6):
    * input == delivered_once + blank + excluded-per-rule. Returns one row:
    * (input_rows, blank_rows, routed_rows).
    */
  def accounting(df: DataFrame): DataFrame = {
    df.agg(
      count(lit(1)).as("input_rows"),
      sum(when(length(col("text")) === 0, 1).otherwise(0)).as("blank_rows"),
      sum(when(length(col("text")) > 0,
        when(col("tool") =!= "", 2).otherwise(1)).otherwise(0)).as("routed_rows"))
  }

  /** Sink write: the ClickHouse/OpenSearch row shape
    * (ts, host, labels→route_key, message) as partitioned parquet per sink
    * directory — `partitionBy(route_key)` gives one directory per route,
    * single pass, no extra shuffle.
    */
  def writeSink(routedDf: DataFrame, rule: SinkRule, outDir: String): Unit =
    forSink(routedDf, rule)
      .select(col("ts"), col("host"), col("route_key"),
        col("text").as("message"), col("conv_id"), col("turn_idx"))
      .write.mode("overwrite")
      .partitionBy("route_key")
      .parquet(s"$outDir/${rule.name}")

  /** Plain-text sink flavor — the console/file sink shape
    * (cmd/freader/sink/console/console.go:39-93): one line per delivered
    * record, nothing else. `os.Create` truncates the previous file, which
    * is exactly overwrite mode; Spark's batcher is the shuffle-free
    * file-split write (the reference's size/interval batcher exists to
    * amortize syscalls — native parquet/text writers already do that, the
    * documented-divergence K2 note in COVERAGE.md).
    */
  def writeTextSink(routedDf: DataFrame, rule: SinkRule, outDir: String): Unit =
    forSink(routedDf, rule)
      .select(col("text"))
      .write.mode("overwrite").text(s"$outDir/${rule.name}")

  /** JSON-lines sink flavor — the OpenSearch doc shape
    * (cmd/freader/sink/opensearch/opensearch.go:103-108:
    * {@timestamp, message, host, labels}); one JSON object per line.
    */
  def writeJsonSink(routedDf: DataFrame, rule: SinkRule, outDir: String): Unit =
    forSink(routedDf, rule)
      .select(to_json(struct(
        date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss.SSSXXX").as("@timestamp"),
        col("text").as("message"),
        col("host"),
        col("route_key"))).as("doc"))
      .write.mode("overwrite").text(s"$outDir/${rule.name}")
}
