package perfbench

import java.io.File
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ConcurrentHashMap, Executors}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Pipeline
import graft.checkpoint.LineageStore
import graft.model.{DedupStageSpec, MultilineSpec, PipelineConfig, SinkRule}
import graft.operators.{Dedup, Segments}
import graft.sources.SnapshotTable

/** In-process OpenSearch `_bulk` endpoint (the HttpSinkSpec pattern): it
  * accepts every doc except those containing `marker`, which it answers
  * with a per-item 429, and counts what it saw.
  */
final class BulkStub(marker: String) {
  val posts = new AtomicLong
  val accepted = new AtomicLong
  val rejected = new AtomicLong
  val retries = new AtomicLong
  val handlerNanos = new AtomicLong
  private val seenBodies = ConcurrentHashMap.newKeySet[Integer]()
  private val pool = Executors.newFixedThreadPool(4)
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  server.setExecutor(pool)
  server.createContext("/", (ex: HttpExchange) => {
    val t0 = System.nanoTime()
    posts.incrementAndGet()
    val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
    if (!seenBodies.add(body.hashCode)) retries.incrementAndGet()
    val docs = body.split("\n").filter(_.nonEmpty).grouped(2).map(_.last).toSeq
    val items = docs.map { d =>
      if (d.contains(marker)) {
        rejected.incrementAndGet()
        """{"index":{"status":429,"error":{"type":"too_many_requests"}}}"""
      } else {
        accepted.incrementAndGet()
        """{"index":{"status":201}}"""
      }
    }
    val resp = s"""{"took":1,"errors":${docs.exists(_.contains(marker))},""" +
      s""""items":[${items.mkString(",")}]}"""
    val bytes = resp.getBytes(StandardCharsets.UTF_8)
    ex.sendResponseHeaders(200, bytes.length.toLong)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
    handlerNanos.addAndGet(System.nanoTime() - t0)
  })
  server.start()
  val url: String = s"http://127.0.0.1:${server.getAddress.getPort}"

  def snapshot: Map[String, Double] = Map(
    "http.posts" -> posts.get.toDouble,
    "http.docs" -> (accepted.get + rejected.get).toDouble,
    "http.failed_docs" -> rejected.get.toDouble,
    "http.retries" -> retries.get.toDouble,
    "http.post_s" -> handlerNanos.get / 1e9)

  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
  }
}

/** `campaign`: a closed loop with one client over a committed history of
  * 8 files. Each round appends and runs a steady cycle (one file, half of
  * its content repeating history), a burst (one committed file rewritten
  * in place) and ends with a no-op resume. Sinks:
  * `all`, an `errors` OpenSearch wire sink posting to [[BulkStub]], and
  * `clean`; exact dedup and continuation multiline are on. Multiline
  * assembly runs in one partition per core (`lineagePartitions`): at the
  * default 32 every cycle writes about a thousand sink files, which puts a
  * steady cycle at ~15 s on four cores. After the rounds comes the
  * [[Curation]] phase.
  */
object Campaign {
  val HistFiles = 8
  val HistConvsPerFile = 120
  val HistTurnsPerConv = 30
  val NewConvs = 50L
  val NewTurnsPerConv = 50
  val CopyConvs = 250
  val Pattern: Seq[String] = Seq("steady", "burst", "noop")
  val Marker = "k=42 "

  private def secs(t0: Long) = (System.nanoTime() - t0) / 1e9

  def run(ctx: Ctx): Result = {
    val spark = ctx.spark
    val seed = ctx.args.seed
    val tr = ctx.tracer
    val rnd = new scala.util.Random(seed)
    val tableDir = ctx.dir("campaign", "table")
    val lin = ctx.dir("campaign", "lineage")
    val out = ctx.dir("campaign", "out")
    val store = ctx.dir("campaign", "store")
    val stub = new BulkStub(Marker)
    try {
      val sinks = Seq(SinkRule("all"),
        SinkRule("errors", include = Seq("status=err"), kind = "opensearch",
          url = Some(stub.url), target = "graft-errors"),
        SinkRule("clean", exclude = Seq("status=err", "INFO")))
      val fileSinks = Seq("all", "clean")
      val cfg = PipelineConfig(sinks = sinks, multiline = Some(MultilineSpec.Java),
        dedup = Some(DedupStageSpec("exact", store)), lineagePartitions = ctx.cores)
      val table = new SnapshotTable(spark, tableDir)
      val lineage = new LineageStore(spark, lin)
      val layers = new Layers(tableDir, lin, out, store)
      val histConvs = HistConvsPerFile * HistFiles
      // history files hold user turns only: one route key per file keeps
      // the seeding run's sink write to a few hundred files
      def history: DataFrame =
        Data.turns(spark, seed, "-h", histConvs, HistTurnsPerConv, HistFiles)
          .filter(col("role") === "user")

      /** Checks one run against what the loop fed it. */
      def check(rep: Pipeline.RunReport, rows: Long, files: Int, before: Map[String, Long]): Boolean = {
        val wire = stub.snapshot
        val acc = (wire("http.docs") - wire("http.failed_docs")).toLong - before("accepted")
        val rej = wire("http.failed_docs").toLong - before("rejected")
        val slice = lineage.entriesDf().filter(col("runId") === rep.runId)
        val fileRows = slice.filter(col("sink").isin(fileSinks: _*))
          .select("file", "sink", "rowsDelivered", "contentHash").collect()
        val sinkOk = fileSinks.forall { s =>
          val mine = fileRows.filter(_.getString(1) == s)
          val dirs = mine.map(r => s"$out/$s/batch=${Pipeline.fileBatchId(r.getString(0), r.getString(3))}")
            .filter(d => new File(d).exists)
          val inDirs = if (dirs.isEmpty) 0L
            else spark.read.option("basePath", s"$out/$s").parquet(dirs: _*).count()
          inDirs == mine.map(_.getLong(2)).sum
        }
        val ok = rep.inputRows == rows && rep.processedFiles.size == files && sinkOk &&
          rep.perSinkDelivered.getOrElse("errors", 0L) == acc &&
          rep.perSinkFailed.getOrElse("errors", 0L) == rej
        if (!ok) System.err.println(s"[perfbench] campaign run mismatch: inputRows=" +
          s"${rep.inputRows}/$rows files=${rep.processedFiles.size}/$files sinks=$sinkOk " +
          s"wire=${rep.perSinkDelivered.get("errors")}+${rep.perSinkFailed.get("errors")} " +
          s"vs $acc+$rej")
        ok
      }
      def wireBefore(): Map[String, Long] = {
        val w = stub.snapshot
        Map("accepted" -> (w("http.docs") - w("http.failed_docs")).toLong,
          "rejected" -> w("http.failed_docs").toLong)
      }

      // set-up: history appends, one no-dedup run over them, then the exact
      // store seeded from the delivered rows with basename provenance. The
      // history's texts are all distinct, so this leaves lineage, store and
      // sink dirs as a dedup-enabled run would.
      val setupT0 = System.nanoTime()
      table.append(history)
      val histRows = table.read(spark, table.currentSnapshotId.get).count()
      ctx.progress("history appended")
      // one assembly partition: one sink file per history file and route key
      val seedBefore = wireBefore()
      val seedRep = Pipeline.run(spark, table, lineage,
        cfg.copy(dedup = None, lineagePartitions = 1), out)
      var failed = if (check(seedRep, histRows, HistFiles, seedBefore)) 0 else 1
      ctx.progress("history run done")
      locally {
        val all = spark.read.parquet(s"$out/all")
          .select(concat_ws("#", col("src_file"), col("conv_id"), col("turn_idx")).as("id"),
            col("message").as("text"),
            substring_index(col("src_file"), "/", -1).as("src"))
        Dedup.incrementalExactStaged(all, "id", "text", store, srcCol = Some("src")).commit()
      }
      val historyFiles = table.filesAt(table.currentSnapshotId.get)
      // victims come from the first half of the history, copies from the second
      val victims = rnd.shuffle(historyFiles.take(HistFiles / 2).toList)
      val histSetupS = secs(setupT0)
      ctx.progress("store seeded")

      /** `df` written under the work root and read back, so the timed
        * append covers the program's write and manifest commit, not the
        * generation of its input.
        */
      def staged(df: DataFrame, k: Int): DataFrame = {
        val dir = ctx.dir("campaign", "input", s"cycle-$k")
        df.write.parquet(dir)
        spark.read.parquet(dir)
      }

      // a cycle's input: returns (rows fed, files to process, append seconds)
      var nBurst = 0
      var fedRows = 0L
      def feed(kind: String, k: Int, t: graft.sources.TranscriptTable): (Long, Int, Double) = kind match {
        case "steady" =>
          val lo = histConvs / 2 + rnd.nextInt(histConvs / 2 - CopyConvs)
          val copies = history
            .filter(substring(col("conv_id"), 6, 8).cast("int").between(lo, lo + CopyConvs - 1))
          val df = staged(Data.turns(spark, seed, s"-c$k", NewConvs, NewTurnsPerConv, 1)
            .unionByName(Data.relabel(copies, s"-r$k")).coalesce(1), k)
          val rows = df.count()
          val (_, dt) = ctx.ops.timed(t.append(df))
          (rows, 1, dt)
        case "burst" =>
          // the rotation is another writer's work: nothing is appended
          val victim = victims(nBurst % victims.size)
          nBurst += 1
          (rewrite(victim, k), 1, 0.0)
        case "noop" => (0L, 0, 0.0)
      }

      /** Rotates `victim` in place: its first half of every conversation is
        * kept, the rest replaced by new turns. Returns its new row count.
        */
      def rewrite(victim: String, k: Int): Long = {
        val kept = spark.read.parquet(victim).filter(col("turn_idx") < HistTurnsPerConv / 2)
        val fresh = Data.turns(spark, seed, s"-w$k", HistConvsPerFile, HistTurnsPerConv / 2, 1)
        val rows = kept.unionByName(fresh).collect()
        val df = spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, 1), kept.schema)
        val tmp = ctx.dir("campaign", s"rewrite-$k")
        df.write.parquet(tmp)
        val part = new File(tmp).listFiles.find(_.getName.endsWith(".parquet")).get
        val vp = new Path(victim)
        val fs = vp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        fs.delete(vp, false)
        require(fs.rename(new Path(part.getAbsolutePath), vp), s"rewrite of $victim failed")
        Host.rmrf(new File(tmp))
        rows.length.toLong
      }

      final case class Cycle(kind: String, appendS: Double, runS: Double, ok: Boolean) {
        def wall: Double = appendS + runS
      }

      def cycle(kind: String, k: Int, traced: Boolean, acc: mutable.Map[String, Double]): Cycle = {
        val t = if (traced) new TracedTable(table, tr) else table
        val (rows, files, appendS) = feed(kind, k, t)
        fedRows += rows
        val before = wireBefore()
        val (rep, runS) = ctx.ops.timed {
          tr.span("pipeline.run")(Pipeline.run(spark, t, lineage, cfg, out))
        }
        if (traced) {
          PipelineTrace.of(tr, layers, tr.spans.last).foreach { case (n, v) =>
            acc(n) = acc.getOrElse(n, 0.0) + v
          }
          acc("sources.append_s") = acc.getOrElse("sources.append_s", 0.0) + appendS
          acc("sources.manifest_files") = rep.manifestFiles.toDouble
          if (rep.processedFiles.nonEmpty) {
            val n = tr.span("segments.assemble") {
              Segments.assembleFsmRows(
                spark.read.parquet(rep.processedFiles: _*)
                  .withColumn("src_file", input_file_name())
                  .filter(length(col("text")) > 0), MultilineSpec.Java, cfg.lineagePartitions)
                .count()
            }
            acc("segments.assemble_s") = acc.getOrElse("segments.assemble_s", 0.0) + tr.spans.last.dur
            acc("segments.records_out") = acc.getOrElse("segments.records_out", 0.0) + n
            acc("delivered_rows") = acc.getOrElse("delivered_rows", 0.0) +
              fileSinks.map(rep.perSinkDelivered.getOrElse(_, 0L)).sum
          }
        }
        ctx.progress(f"$kind%s cycle $k%d: append $appendS%.2fs run $runS%.2fs")
        val ok = check(rep, rows, files, before) &&
          (kind != "burst" || rep.invalidatedFiles.size == 1)
        Cycle(kind, appendS, runS, ok)
      }

      // the seeding run above is the warm-up
      val setupS = ctx.sessionStartS + histSetupS

      val cycles = mutable.ArrayBuffer.empty[Cycle]
      var rounds = 0
      val layerAcc = new Layered.Acc
      val start = System.nanoTime()
      var k = 1
      // a traced run traces every round; its trace overhead is measured on
      // the curation phase
      val traced = ctx.args.trace
      while (rounds == 0 || secs(start) < ctx.args.seconds) {
        val acc = mutable.Map.empty[String, Double]
        val stubBefore = stub.snapshot
        val storeBefore = if (traced) storeRows(spark, store) else 0L
        val sinkBefore = PipelineTrace.sinkState(out, fileSinks)
        val cs = tr.tracing(traced) {
          Pattern.map { kind => val c = cycle(kind, k, traced, acc); k += 1; c }
        }
        ctx.progress(f"old generation after the round: ${ctx.ops.sampleHeap(spark)}%.1f MB")
        cycles ++= cs
        rounds += 1
        if (traced) {
          val st = stub.snapshot
          st.foreach { case (n, v) => acc(n) = v - stubBefore(n) }
          val (f1, b1, d1) = PipelineTrace.sinkState(out, fileSinks)
          val (f, b, dirs) = (f1 - sinkBefore._1, b1 - sinkBefore._2, d1 - sinkBefore._3)
          acc("checkpoint.commit_dirs") = PipelineTrace.commitDirs(lin)
          acc("checkpoint.lineage_bytes") = Host.dataFiles(new File(lin))._2.toDouble
          val fs = new Path(store).getFileSystem(spark.sparkContext.hadoopConfiguration)
          acc("dedup.store_dirs") = Dedup.listSeen(fs, new Path(store)).size
          acc("dedup.store_bytes") = Host.dataFiles(new File(store))._2.toDouble
          val records = acc.getOrElse("segments.records_out", 0.0)
          acc("dedup.fresh_ratio") =
            if (records > 0) (storeRows(spark, store) - storeBefore) / records else 0.0
          acc("deliver.files_written") = f.toDouble
          acc("deliver.bytes_written") = b.toDouble
          acc("deliver.renames") = dirs.toDouble
          acc.remove("delivered_rows").foreach { rows =>
            acc("deliver.rows_per_file") = if (f > 0) rows / f else 0.0
          }
          acc("pipeline.core_util") = acc(PipelineTrace.ExecutorRunS) /
            (acc(PipelineTrace.RunS) * ctx.cores)
          acc.remove(PipelineTrace.ExecutorRunS)
          acc.remove(PipelineTrace.RunS)
          acc("pipeline.unattributed_s") = tr.spans
            .filter(_.name == "pipeline.run").takeRight(Pattern.size).map(tr.selfTime).sum
          layerAcc.addAll(acc.toMap)
        }
      }
      val curation = Curation.phase(ctx, layerAcc)
      failed += cycles.count(!_.ok) + curation.failed
      // dedup: no user turn reaches the `all` sink twice. Every generated
      // turn is distinct, and a steady cycle's copies repeat history's user
      // turns verbatim.
      val dedupOk = locally {
        val users = spark.read.parquet(s"$out/all").filter(col("route_key") === "role:user")
        val (n, distinct) = (users.count(), users.select("message").distinct().count())
        if (n != distinct) System.err.println(
          s"[perfbench] campaign: `all` holds $n user rows, $distinct distinct messages")
        n == distinct
      }
      if (!dedupOk) failed += 1
      // timed cycles, the seeding run, the dedup check and the curation
      // queries of every pass
      val attempted = cycles.size + 1 + 1 + Layered.Queries.size * curation.passes
      // a round's wall from the per-kind medians of its cycles (append +
      // run), plus the curation pass
      val wall = Pattern.map(kind =>
        Host.median(cycles.filter(_.kind == kind).map(_.wall).toSeq)).sum + curation.timed.wall
      def p50(kind: String) = Host.median(cycles.filter(_.kind == kind).map(_.runS).toSeq)
      val latencies = Seq(
        Metric("campaign.cycle_s.p50", p50("steady"), "s"),
        Metric("campaign.burst_s.p50", p50("burst"), "s"),
        Metric("campaign.resume_noop_s", p50("noop"), "s"))
      val metrics =
        if (!ctx.args.trace) Seq(
          Metric("setup_s", setupS + curation.tablesS, "s"),
          Metric("wall_s", wall, "s"),
          Metric("step_s.p50", p50("steady"), "s"),
          Metric("heap_peak_mb", ctx.ops.heapPeakMb, "MB"))
        else {
          latencies.foreach(m => layerAcc.set(m.name, m.value))
          Curation.layerMetrics(ctx, curation, layerAcc)
          layerAcc.set("host.steal_frac", ctx.ops.stealFrac)
          layerAcc.metrics
        }
      Result(attempted, failed, metrics,
        Seq(Metric("turns_per_s", fedRows.toDouble / cycles.map(_.wall).sum, "1/s"),
          Metric("fail_ratio", failed.toDouble / attempted, "ratio"),
          Metric("host.steal_frac", ctx.ops.stealFrac, "ratio"),
          Metric("rounds", rounds.toDouble, "count"),
          Metric("curation_pass_s", curation.timed.wall, "s")) ++ latencies,
        extra = curation.extra)
    } finally stub.stop()
  }

  private def storeRows(spark: org.apache.spark.sql.SparkSession, store: String): Long = {
    val fs = new Path(store).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirs = Dedup.listSeen(fs, new Path(store)).map(_.toString)
    if (dirs.isEmpty) 0L else spark.read.parquet(dirs: _*).count()
  }
}
