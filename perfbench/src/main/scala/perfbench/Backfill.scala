package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Pipeline
import graft.checkpoint.LineageStore
import graft.model.{PipelineConfig, SinkRule}
import graft.operators.{Enrich, Parse, Route}
import graft.sources.SnapshotTable

/** `backfill`: one fresh snapshot, empty lineage, `graft.Main`'s three demo
  * sinks, no dedup, no multiline. Each timed op is one `Pipeline.run` with
  * fresh lineage and sink dirs. Row volume dominates.
  */
object Backfill {
  val Convs = 1600L
  val TurnsPerConv = 50
  val Files = 8
  val SetupReps = 3
  val MinOps = 4
  // the JIT is still settling during the first run after the set-up
  val WarmOps = 2

  /** `graft.Main`'s built-in demo rules. */
  val Sinks: Seq[SinkRule] = Seq(
    SinkRule("all"),
    SinkRule("errors", include = Seq("status=err")),
    SinkRule("clean", exclude = Seq("status=err", "INFO")))

  private def secs(t0: Long) = (System.nanoTime() - t0) / 1e9

  /** Per-sink totals of `Route.sinkCounts` over the snapshot's rows. */
  def expectedCounts(src: DataFrame): Map[String, Long] =
    Route.sinkCounts(Route.routed(Enrich.enrich(Parse.parseTurns(src))), Sinks)
      .groupBy("sink").agg(sum("rows_delivered"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  def run(ctx: Ctx): Result = {
    val spark = ctx.spark
    val seed = ctx.args.seed
    val tr = ctx.tracer
    val cfg = PipelineConfig(sinks = Sinks)

    // set-up, repeated: write the snapshot
    var tableDir = ""
    val genS = (1 to SetupReps).map { i =>
      val t0 = System.nanoTime()
      val dir = ctx.dir("backfill", s"table-$i")
      new SnapshotTable(spark, dir).append(Data.turns(spark, seed, "", Convs, TurnsPerConv, Files))
      val dt = secs(t0)
      ctx.progress(f"snapshot $i%d written in $dt%.2fs")
      if (tableDir.nonEmpty) Host.rmrf(new File(tableDir))
      tableDir = dir
      dt
    }
    val table = new SnapshotTable(spark, tableDir)
    val files = table.filesAt(table.currentSnapshotId.get)
    val expT0 = System.nanoTime()
    val (expected, turns) = locally {
      val src = table.read(spark, table.currentSnapshotId.get)
      (expectedCounts(src), src.count())
    }
    val expectS = secs(expT0)
    val layers = new Layers(tableDir, "/lineage", "/out", "/no-store")

    /** One run over the snapshot into fresh dirs; returns (ok, seconds). */
    def op(k: Int, timed: Boolean, traced: Boolean, acc: Layered.Acc): (Boolean, Double) = {
      val base = ctx.dir("backfill", s"op-$k")
      val lin = s"$base/lineage"
      val out = s"$base/out"
      val lineage = new LineageStore(spark, lin)
      def call() = tr.tracing(traced) {
        val r = tr.span("pipeline.run") {
          Pipeline.run(spark, new TracedTable(table, tr), lineage, cfg, out)
        }
        if (traced) acc.addAll(PipelineTrace.of(tr, layers, tr.spans.last)
          .filterNot(_._1.startsWith("_")))
        r
      }
      val (rep, dt) =
        if (timed) ctx.ops.timed(call())
        else { val t0 = System.nanoTime(); val r = call(); (r, secs(t0)) }
      if (traced) {
        val (f, b, dirs) = PipelineTrace.sinkState(out, Sinks.map(_.name))
        val rows = rep.perSinkDelivered.values.sum.toDouble
        acc.addAll(Map("deliver.files_written" -> f.toDouble,
          "deliver.bytes_written" -> b.toDouble,
          "deliver.rows_per_file" -> (if (f > 0) rows / f else 0.0),
          "deliver.renames" -> dirs.toDouble,
          "sources.manifest_files" -> rep.manifestFiles.toDouble,
          "checkpoint.commit_dirs" -> PipelineTrace.commitDirs(lin).toDouble,
          "checkpoint.lineage_bytes" -> Host.dataFiles(new File(lin))._2.toDouble))
      }
      ctx.progress(f"run $k%d: $dt%.2fs")
      val fromLineage = lineage.entriesDf().groupBy("sink").agg(sum("rowsDelivered"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val fromDirs = Sinks.map(s => spark.read.parquet(s"$out/${s.name}").select(lit(s.name).as("sink")))
        .reduce(_ unionByName _).groupBy("sink").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val ok = rep.perSinkDelivered == expected && fromLineage == expected &&
        fromDirs == expected && rep.inputRows == turns &&
        rep.processedFiles.size == files.size
      if (!ok) System.err.println(s"[perfbench] backfill op $k mismatch: report=" +
        s"${rep.perSinkDelivered} lineage=$fromLineage dirs=$fromDirs expected=$expected " +
        s"inputRows=${rep.inputRows} turns=$turns")
      Host.rmrf(new File(base))
      ctx.progress(s"run $k checked: $ok")
      (ok, dt)
    }

    val acc = new Layered.Acc
    val warm = (1 - WarmOps to 0).map(k => op(k, timed = false, traced = false, acc))
    val setupS = ctx.sessionStartS + Host.median(genS) + expectS + warm.map(_._2).sum

    val results = scala.collection.mutable.ArrayBuffer.empty[(Boolean, Double, Boolean)]
    val start = System.nanoTime()
    var k = 1
    val minOps = if (ctx.args.trace) 4 else MinOps
    while (results.size < minOps || secs(start) < ctx.args.seconds) {
      val traced = ctx.args.trace && k % 2 == 0
      val (ok, dt) = op(k, timed = true, traced = traced, acc)
      results += ((ok, dt, traced))
      ctx.ops.sampleHeap(spark)
      k += 1
    }
    val failed = results.count(!_._1) + warm.count(!_._1)
    val wall = Host.median(results.filterNot(_._3).map(_._2).toSeq)

    val metrics =
      if (!ctx.args.trace) Seq(
        Metric("setup_s", setupS, "s"),
        Metric("wall_s", wall, "s"),
        Metric("step_s.p50", wall, "s"),
        Metric("heap_peak_mb", ctx.ops.heapPeakMb, "MB"))
      else {
        val tracedWall = Host.median(results.filter(_._3).map(_._2).toSeq)
        val ladder4 = tr.tracing(true)(Ladder.run(ctx.spark, tr, files, 4, reps = 3))
        val ladder1 = {
          val s1 = ctx.restart(1)
          tr.tracing(true)(Ladder.run(s1, tr, files, 1, reps = 2))
        }
        Ladder.metrics(ladder1, ladder4, ctx.cores).foreach { case (n, v) => acc.set(n, v) }
        acc.set("pipeline.unattributed_s", tracedWall - ladder4.values.sum)
        acc.set("host.steal_frac", ctx.ops.stealFrac)
        acc.set("trace.overhead_s", tracedWall - wall)
        acc.metrics
      }
    Result(results.size + WarmOps, failed, metrics,
      Seq(Metric("turns_per_s", turns / wall, "1/s"),
        Metric("fail_ratio", failed.toDouble / (results.size + WarmOps), "ratio"),
        Metric("host.steal_frac", ctx.ops.stealFrac, "ratio"),
        Metric("turns", turns.toDouble, "count"),
        Metric("ops", results.size.toDouble, "count")))
  }
}

/** The cumulative layer ladder: scan, +parse, +enrich, +route, each forced
  * into the `noop` sink, fastest of `reps`. A layer's self time is its
  * rung's time minus the rung below.
  */
object Ladder {
  val Rungs: Seq[String] = Seq("scan", "parse", "enrich", "route")

  def run(spark: SparkSession, tr: Tracer, files: Seq[String], cores: Int,
      reps: Int): Map[String, Double] = {
    val src = spark.read.parquet(files: _*)
    def plan(rung: String): DataFrame = rung match {
      case "scan" => src
      case "parse" => Parse.parseTurns(src)
      case "enrich" => Enrich.enrich(Parse.parseTurns(src))
      case "route" => Route.routed(Enrich.enrich(Parse.parseTurns(src)))
    }
    val cum = Rungs.map { r =>
      r -> (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        tr.span(s"ladder.c$cores.$r") {
          plan(r).write.format("noop").mode("overwrite").save()
        }
        (System.nanoTime() - t0) / 1e9
      }.min
    }
    // self time of each rung
    cum.zipWithIndex.map { case ((r, t), i) =>
      r -> (if (i == 0) t else t - cum(i - 1)._2)
    }.toMap
  }

  def metrics(c1: Map[String, Double], c4: Map[String, Double], cores: Int): Map[String, Double] =
    Rungs.flatMap { r =>
      Seq(s"$r.self_s.c1" -> c1(r), s"$r.self_s.c4" -> c4(r),
        s"$r.eff_1to4" -> (if (c4(r) > 0) c1(r) / (cores * c4(r)) else 0.0))
    }.toMap
}
