package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.operators.{Dedup, Enrich, Parse, Route, Similarity}
import graft.sources.Transcripts

/** Dump `.explain("formatted")` output for named queries to files — the
  * optimization-round before/after plan artifacts
  * (plans/rNN/<query>_<suffix>.txt) and the plan-quality audit
  * (pushdown / pruning / broadcast / codegen spans).
  *
  *   runMain graft.tools.PlanDump <outDir> <suffix> [names...]
  *
  * A name is any `SparkEntry.queries` key or one of the [[pseudo]] plans
  * that are not queries (operator shapes, the e2e scaling job). No names
  * = the heavy-query slice the optimization round touches, plus the e2e
  * scaling job (the Bench part-2 workload) under the pseudo-name
  * `e2e_scaling`. Runs over $SPARK_GRAFT_SF_DIR (default sf0.1) so the
  * plans match the benched scale.
  */
object PlanDump {

  private val defaultNames = Seq(
    "e2e_scaling",
    "q_dedup_ngram", "q_neardup_incremental", "q_curate_full",
    "q_prep_pipeline", "q_dedup_retract", "q_knn_recall",
    "q_dedup_clusters_star", "q_dedup_clusters", "q_dedup_canonical",
    "q_emb_neardup", "q_conv_neardup", "q_dedup_incremental",
    "q_dsir_select", "q_csv_typed", "q_bm25_search", "q_semdedup",
    "q_dup_spans", "q_data_card", "q_corpus_drift", "q_knn_ivf_kmeans",
    "q_source_dup_matrix", "q_parse_kv", "q_decontaminate", "q1_agg")

  private def embeddings(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet").select(col("doc_id"), col("text"))

  /** Plans that are not a named query; each comment says what to look for. */
  private val pseudo: Map[String, (SparkSession, String) => DataFrame] = Map(
    // parse -> enrich -> route -> sinkCounts, the Bench part-2 job
    "e2e_scaling" -> ((s, dir) =>
      Route.sinkCounts(Route.routed(Enrich.enrich(Parse.parseTurns(
        Transcripts.fromEvents(s, dir)))), graft.Queries.demoRules)),
    // projection pushdown: 2 columns of events
    "events_projection" -> ((s, dir) =>
      s.read.parquet(s"$dir/events.parquet")
        .filter(col("event_type") === "error").select("event_id", "ts")),
    // enrich join strategy: BroadcastHashJoin
    "enrich_join" -> ((s, dir) => Enrich.enrich(Transcripts.fromEvents(s, dir))),
    // brute-force knn: broadcast query side
    "knn_brute" -> ((s, dir) => {
      val e = embeddings(s, dir)
      Similarity.bruteForceKnn(e, e.filter(col("vec_id") < 3), "vec_id", "embedding", 5)
    }),
    // ivf knn: pure-projection centroid assignment, no Exchange before the cid join
    "knn_ivf" -> ((s, dir) => {
      val e = embeddings(s, dir)
      Similarity.ivfKnn(e, e.filter(col("vec_id") < 3), "vec_id", "embedding", 5,
        nCentroids = 8, nProbe = 4)
    }),
    // embedding near-dup: band-blocked, no BroadcastNestedLoopJoin/Cartesian
    "emb_neardup" -> ((s, dir) =>
      Dedup.embeddingNearDup(embeddings(s, dir), "vec_id", "embedding", 0.9)),
    // minhash LSH: hashed shingles, equi band join, no cartesian
    "minhash_lsh" -> ((s, dir) =>
      Dedup.minhashLsh(docs(s, dir), "doc_id", "text", 3, 4, 2, 0.6)),
    // incremental exact dedup, batch B: hash anti-join vs the store, no BNLJ
    "incremental_exact_b" -> ((s, dir) => {
      val store = Files.createTempDirectory("graft-plans-inc").toString
      val d = docs(s, dir)
      Dedup.incrementalExactStaged(
        d.filter(col("doc_id") % 2 === 0), "doc_id", "text", store).commit()
      Dedup.incrementalExactStaged(
        d.filter(col("doc_id") % 2 === 1), "doc_id", "text", store).fresh
    }),
    // incremental minhash, batch B: exact pre-filter + band equi-joins
    "incremental_minhash_b" -> ((s, dir) => {
      val store = Files.createTempDirectory("graft-plans-incmh").toString
      val d = docs(s, dir).filter(col("doc_id") < 400)
      Dedup.incrementalMinhashStaged(d.filter(col("doc_id") % 2 === 0),
        "doc_id", "text", store, n = 3, bands = 4, rowsPerBand = 2,
        threshold = 0.6).commit()
      Dedup.incrementalMinhashStaged(d.filter(col("doc_id") % 2 === 1),
        "doc_id", "text", store, n = 3, bands = 4, rowsPerBand = 2,
        threshold = 0.6).fresh
    }))

  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("plans/r07")
    val suffix = args.drop(1).headOption.getOrElse("before")
    val names = if (args.length <= 2) defaultNames else args.drop(2).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val s = Probe.session(cpus)
    Files.createDirectories(Paths.get(outDir))
    names.foreach { n =>
      val df = pseudo.getOrElse(n, graft.SparkEntry.queries(n))(s, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.write(Paths.get(outDir, s"${n}_$suffix.txt"),
        plan.getBytes(StandardCharsets.UTF_8))
      println(s"[plandump] $n -> $outDir/${n}_$suffix.txt (${plan.length} chars)")
    }
    s.stop()
  }
}
