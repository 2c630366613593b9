package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.SparkSession

/** One benchmark run: one workload, one seed, one measuring window.
  *
  *   perfbench.Main --workload backfill|campaign|curation --seed N
  *                  --seconds S --trace 0|1 --root DIR [--spans FILE]
  *
  * Prints one `PERFBENCH_RESULT {...}` line; `run.py` turns it into the
  * benchmark's result object.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, root: String, spans: Option[String])

  /** Seconds after which a stalled run prints every thread's stack and
    * exits, ahead of `run.py`'s deadline.
    */
  val WatchdogS = 150

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv.get("trace").contains("1"), kv("root"), kv.get("spans"))
    val watchdog = new Thread(() => {
      Thread.sleep(WatchdogS * 1000L)
      import scala.jdk.CollectionConverters._
      Thread.getAllStackTraces.asScala.foreach { case (t, st) =>
        System.err.println(s"[perfbench] stalled thread ${t.getName} (${t.getState})")
        st.foreach(f => System.err.println(s"    at $f"))
      }
      System.err.flush()
      Runtime.getRuntime.halt(3)
    })
    watchdog.setDaemon(true)
    watchdog.start()
    val ctx = new Ctx(a)
    val result =
      try a.workload match {
        case "backfill" => Backfill.run(ctx)
        case "campaign" => Campaign.run(ctx)
        case "curation" => Curation.run(ctx)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      } finally {
        ctx.progress("stopping")
        ctx.stop()
      }
    ctx.progress("stopped")
    a.spans.foreach(p => ctx.tracer.writeSpans(p))
    println("PERFBENCH_RESULT " + result.json)
    System.out.flush()
    // Spark and the stub leave non-daemon threads behind
    sys.exit(0)
  }
}

/** A metric as printed: name, value, unit. */
final case class Metric(name: String, value: Double, unit: String)

final case class Result(
    attempted: Int,
    failed: Int,
    metrics: Seq[Metric],
    summary: Seq[Metric],
    extra: Map[String, String] = Map.empty) {
  def json: String = {
    def num(d: Double): String =
      if (d.isNaN || d.isInfinite) "0" else java.lang.Double.toString(d)
    def ms(xs: Seq[Metric]) = xs.map(m =>
      s""""${m.name}":{"value":${num(m.value)},"unit":"${m.unit}"}""").mkString("{", ",", "}")
    def str(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"")
      .replace("\n", "\\n") + "\""
    s"""{"attempted":$attempted,"failed":$failed,"metrics":${ms(metrics)},""" +
      s""""summary":${ms(summary)},""" +
      s""""extra":{${extra.map { case (k, v) => s"${str(k)}:${str(v)}" }.mkString(",")}}}"""
  }
}

/** Per-run state shared by the workloads: the session, the work root, the
  * op sampler and the tracer.
  */
final class Ctx(val args: Main.Args) {
  val cores: Int = Runtime.getRuntime.availableProcessors
  val root: String = new File(args.root).getAbsolutePath
  new File(root).mkdirs()

  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
  private var session: SparkSession = Ctx.session(cores, root)
  /** JVM start to a live session. */
  val sessionStartS: Double = (System.currentTimeMillis() - jvmStartMs) / 1000.0

  def spark: SparkSession = session
  val ops = new Ops(cores)
  val tracer = new Tracer(() => session, cores)

  /** Replace the session with one on `n` cores (the 1-core ladder leg). */
  def restart(n: Int): SparkSession = {
    tracer.detach()
    session.stop()
    session = Ctx.session(n, root)
    session
  }

  def stop(): Unit = { tracer.detach(); session.stop() }

  def dir(parts: String*): String = (root +: parts).mkString("/")

  /** A progress line on stderr, stamped with seconds since JVM start. */
  def progress(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.currentTimeMillis() - jvmStartMs) / 1000.0}%.1fs $msg")
}

object Ctx {
  /** The session as `graft.Main` configures it (32 shuffle partitions),
    * with master `local[cores]`, and every file it writes kept under `root`.
    */
  def session(cores: Int, root: String): SparkSession = {
    val s = SparkSession.builder()
      .appName("graft")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
      .config("spark.local.dir", s"$root/spark-local")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** Timed-op bookkeeping: wall time and hypervisor steal around every op,
  * and the peak of old-generation use after a full GC. A workload samples
  * the heap after each of its steps (a backfill run, a campaign round, a
  * curation pass), outside the timed window.
  */
final class Ops(cores: Int) {
  private var stealS = 0.0
  private var wallS = 0.0
  private var heapMb = 0.0

  def timed[T](body: => T): (T, Double) = {
    val s0 = Host.stealJiffies()
    val t0 = System.nanoTime()
    val r = body
    val dt = (System.nanoTime() - t0) / 1e9
    val st = (Host.stealJiffies() - s0) / 100.0
    stealS += st
    wallS += dt
    (r, dt)
  }

  def sampleHeap(spark: SparkSession): Double = {
    // let the listener bus and the context cleaner catch up: collect until
    // two readings 200 ms apart agree within 1 MiB
    var prev = Double.NaN
    var mb = 0.0
    var tries = 0
    while (tries < 6 && !(math.abs(mb - prev) <= 1.0)) {
      org.apache.spark.PerfbenchAccess.drain(spark.sparkContext)
      prev = mb
      mb = Host.oldGenAfterGcMb()
      Thread.sleep(200)
      tries += 1
    }
    heapMb = math.max(heapMb, mb)
    mb
  }
  def heapPeakMb: Double = heapMb
  def stealFrac: Double = if (wallS == 0) 0.0 else stealS / (wallS * cores)
}

object Host {
  /** Hypervisor steal jiffies: field 8 of /proc/stat's cpu line, 0 where
    * unavailable.
    */
  def stealJiffies(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().next().trim.split("\\s+")(8).toLong finally src.close()
    } catch { case _: Throwable => 0L }

  /** Old-generation use after a full collection, in MiB. */
  def oldGenAfterGcMb(): Double = {
    System.gc()
    System.gc()
    import scala.jdk.CollectionConverters._
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
      .map(_.getUsage.getUsed.toDouble).sum / (1024 * 1024)
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def rmrf(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rmrf))
    f.delete()
  }

  def write(path: String, s: String): Unit = {
    new File(path).getParentFile.mkdirs()
    Files.write(new File(path).toPath, s.getBytes(StandardCharsets.UTF_8))
  }

  /** (files, bytes) of the data files under `dir`, skipping `_`/`.` names. */
  def dataFiles(dir: File): (Long, Long) =
    if (!dir.exists) (0L, 0L)
    else if (dir.isFile) {
      val n = dir.getName
      if (n.startsWith("_") || n.startsWith(".")) (0L, 0L) else (1L, dir.length)
    } else Option(dir.listFiles).toSeq.flatten.map(dataFiles)
      .foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
}
