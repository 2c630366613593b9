package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.DataFrame

import graft.SparkEntry

/** The curation phase: `Layered.Queries`, a set of `SparkEntry.queries`, on
  * seeded `documents` and `embeddings` tables, with
  * `spark.catalog.clearCache()` before each query.
  *
  * The timed pass is each query's first run in the JVM: it writes the
  * query's result the way `graft.Verify` does, and `run.py` checks those
  * results with `tools/check_oracle.py` against DuckDB running the query's
  * `oracleSql` over the same tables. A traced run adds two warm passes that
  * force each query with `.count()`, one untraced and one traced; both must
  * reproduce the timed pass's row counts.
  *
  * `campaign` runs this phase after its append-and-run rounds; the
  * `curation` workload runs it alone.
  */
object Curation {
  val Docs = 1000
  val Vecs = 1000

  private def secs(t0: Long) = (System.nanoTime() - t0) / 1e9

  /** One pass: each query's seconds and the persisted RDDs the queries left
    * behind.
    */
  final case class Pass(times: Seq[Double], cachedLeft: Int) {
    def wall: Double = times.sum
  }

  /** The phase's outcome: where the tables and the timed pass's results
    * are, the seconds the tables took to write, the timed pass, the warm
    * untraced and traced passes of a traced run, and the queries a warm
    * pass counted wrongly.
    */
  final case class Phase(dataDir: String, verify: String, tablesS: Double, timed: Pass,
      warm: Option[(Pass, Pass)], failed: Int) {
    def passes: Int = 1 + warm.size * 2
    def extra: Map[String, String] =
      Map("verify" -> verify, "data" -> dataDir, "passes" -> passes.toString)
  }

  /** `df` as the single parquet file `<dir>/<name>.parquet`, the layout
    * `tools/check_oracle.py` reads.
    */
  private def writeTable(df: DataFrame, dir: String, name: String): Unit = {
    val tmp = s"$dir/_$name"
    df.coalesce(1).write.parquet(tmp)
    val part = new File(tmp).listFiles.find(_.getName.endsWith(".parquet")).get
    require(part.renameTo(new File(dir, s"$name.parquet")), s"rename of $part failed")
    Host.rmrf(new File(tmp))
  }

  private def pass(ctx: Ctx, dataDir: String, traced: Boolean, acc: Layered.Acc)(
      force: (String, DataFrame) => Unit): Pass = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val times = mutable.ArrayBuffer.empty[Double]
    var cachedLeft = 0
    tr.tracing(traced) {
      Layered.Queries.foreach { q =>
        spark.catalog.clearCache()
        val (_, dt) = ctx.ops.timed {
          tr.span(s"query.$q")(force(q, SparkEntry.queries(q)(spark, dataDir)))
        }
        cachedLeft += spark.sparkContext.getPersistentRDDs.size
        if (traced) {
          acc.add(s"query.$q.s", dt)
          acc.add(s"query.$q.jobs", tr.counters(tr.spans.last)("jobs"))
        }
        ctx.progress(f"$q: $dt%.2fs")
        times += dt
      }
    }
    ctx.progress(f"old generation after the pass: ${ctx.ops.sampleHeap(spark)}%.1f MB")
    Pass(times.toSeq, cachedLeft)
  }

  def phase(ctx: Ctx, acc: Layered.Acc): Phase = {
    val spark = ctx.spark
    val t0 = System.nanoTime()
    val dataDir = ctx.dir("curation", "data")
    writeTable(Data.documents(spark, ctx.args.seed, Docs), dataDir, "documents")
    writeTable(Data.embeddings(spark, ctx.args.seed, Vecs), dataDir, "embeddings")
    val tablesS = secs(t0)
    val verify = ctx.dir("curation", "verify")
    def js(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    Host.write(s"$verify/oracle_sql.json", Layered.Queries.map(q =>
      s"${js(q)}: ${js(SparkEntry.oracleSql(q))}").mkString("{", ",\n", "}"))

    val timed = pass(ctx, dataDir, traced = false, acc) { (q, df) =>
      df.coalesce(1).write.parquet(s"$verify/$q")
    }
    val rows = Layered.Queries.map(q => q -> spark.read.parquet(s"$verify/$q").count()).toMap
    var failed = 0
    def counted(q: String, df: DataFrame): Unit = {
      val n = df.count()
      if (n != rows(q)) {
        failed += 1
        System.err.println(s"[perfbench] $q counted $n rows, the timed pass wrote ${rows(q)}")
      }
    }
    val warm = if (!ctx.args.trace) None else Some((
      pass(ctx, dataDir, traced = false, acc)(counted),
      pass(ctx, dataDir, traced = true, acc)(counted)))
    Phase(dataDir, verify, tablesS, timed, warm, failed)
  }

  /** The phase's per-layer metrics; `trace.overhead_s` is the warm traced
    * pass minus the warm untraced one.
    */
  def layerMetrics(ctx: Ctx, p: Phase, acc: Layered.Acc): Unit = {
    ctx.spark.catalog.clearCache()
    val (untraced, traced) = p.warm.get
    acc.set("queries.cached_relations_left", traced.cachedLeft)
    acc.set("queries.temp_functions_left",
      ctx.spark.catalog.listFunctions().collect().count(_.isTemporary))
    acc.set("trace.overhead_s", traced.wall - untraced.wall)
  }

  /** The `curation` workload: the phase alone. */
  def run(ctx: Ctx): Result = {
    val acc = new Layered.Acc
    val p = phase(ctx, acc)
    val attempted = p.passes * Layered.Queries.size
    val metrics =
      if (!ctx.args.trace) Seq(
        Metric("setup_s", ctx.sessionStartS + p.tablesS, "s"),
        Metric("wall_s", p.timed.wall, "s"),
        Metric("step_s.p50", Host.median(p.timed.times), "s"),
        Metric("heap_peak_mb", ctx.ops.heapPeakMb, "MB"))
      else {
        layerMetrics(ctx, p, acc)
        acc.set("host.steal_frac", ctx.ops.stealFrac)
        acc.metrics
      }
    Result(attempted, p.failed, metrics,
      Seq(Metric("fail_ratio", p.failed.toDouble / attempted, "ratio"),
        Metric("host.steal_frac", ctx.ops.stealFrac, "ratio")),
      extra = p.extra)
  }
}
