package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One span: a call the benchmark made into a layer, or a Spark SQL
  * execution observed inside such a call. Times are epoch milliseconds.
  */
final case class Span(id: Int, parent: Int, name: String, startMs: Double, endMs: Double) {
  def dur: Double = (endMs - startMs) / 1000.0
}

/** Spark-side records gathered by the listener. */
final case class Exec(startMs: Long, var endMs: Long, details: String, plan: String)
final case class Job(startMs: Long, stages: Seq[Int])
final case class StageStats(tasks: Int, runMs: Long, cpuNs: Long, gcMs: Long,
    shuffleWrite: Long, spill: Long)

/** Spans around the benchmark's calls into the program's public API, plus
  * a `SparkListener` that records every SQL execution, job and stage while
  * tracing is on. Each span also sets a Spark job group, so the jobs a call
  * starts carry the span's name. Spans stay in memory and are written out
  * once, at the end of the run.
  */
final class Tracer(spark: () => SparkSession, cores: Int) {
  val spans = mutable.ArrayBuffer.empty[Span]
  val execs = mutable.LinkedHashMap.empty[Long, Exec]
  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val stages = mutable.HashMap.empty[Int, StageStats]
  private var stack = List.empty[Int]
  private var nextId = 1
  private var attached = false

  private val nanoBase = System.nanoTime()
  private val msBase = System.currentTimeMillis().toDouble
  def nowMs: Double = msBase + (System.nanoTime() - nanoBase) / 1e6

  private val listener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => Tracer.this.synchronized {
        execs(s.executionId) = Exec(s.time, -1L, s.details, s.physicalPlanDescription)
      }
      case s: SparkListenerSQLExecutionEnd => Tracer.this.synchronized {
        execs.get(s.executionId).foreach(_.endMs = s.time)
      }
      case _ =>
    }
    override def onJobStart(j: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      jobs(j.jobId) = Job(j.time, j.stageIds)
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      val i = s.stageInfo
      val m = i.taskMetrics
      if (m != null) Tracer.this.synchronized {
        stages(i.stageId) = StageStats(i.numTasks, m.executorRunTime,
          m.executorCpuTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  /** Run `body` with tracing on when `on`, otherwise untraced. */
  def tracing[T](on: Boolean)(body: => T): T =
    if (!on) body
    else {
      attach()
      try body finally detach()
    }

  private def attach(): Unit = if (!attached) {
    spark().sparkContext.addSparkListener(listener)
    attached = true
  }

  def detach(): Unit = if (attached) {
    val sc = spark().sparkContext
    org.apache.spark.PerfbenchAccess.drain(sc)
    sc.removeSparkListener(listener)
    attached = false
  }

  /** A span around one call; a no-op when tracing is off. */
  def span[T](name: String)(body: => T): T =
    if (!attached) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val sc = spark().sparkContext
      sc.setJobGroup(s"perfbench-$id", name, interruptOnCancel = false)
      val t0 = nowMs
      try body
      finally {
        val t1 = nowMs
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(s"perfbench-$p",
            spans.find(_.id == p).map(_.name).getOrElse(""), interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
        spans += Span(id, parent, name, t0, t1)
      }
    }

  /** Whether an event at `ms` (listener clock, whole ms) falls inside `s`. */
  private def inside(s: Span, ms: Long): Boolean = ms >= s.startMs - 1 && ms <= s.endMs

  def execsIn(s: Span): Seq[Exec] = synchronized {
    execs.values.filter(e => inside(s, e.startMs)).toSeq
  }

  /** Child spans of `s`: the SQL executions that started inside it, each
    * named by the layer [[Layers.classify]] assigns. Registered as spans.
    */
  def execSpans(s: Span, classify: Exec => String): Seq[Span] = synchronized {
    val out = execsIn(s).filter(_.endMs >= 0)
      .map { e =>
        val id = nextId
        nextId += 1
        Span(id, s.id, classify(e), e.startMs.toDouble, math.min(e.endMs.toDouble, s.endMs))
      }
    spans ++= out
    out
  }

  /** Spark counters over the jobs that started inside `s`. */
  def counters(s: Span): Map[String, Double] = synchronized {
    val js = jobs.values.filter(j => inside(s, j.startMs)).toSeq
    val st = js.flatMap(_.stages).distinct.flatMap(stages.get)
    val run = st.map(_.runMs).sum / 1000.0
    Map(
      "jobs" -> js.size.toDouble,
      "tasks" -> st.map(_.tasks).sum.toDouble,
      "shuffle_write_bytes" -> st.map(_.shuffleWrite).sum.toDouble,
      "spill_bytes" -> st.map(_.spill).sum.toDouble,
      "gc_s" -> st.map(_.gcMs).sum / 1000.0,
      "executor_cpu_s" -> st.map(_.cpuNs).sum / 1e9,
      "executor_run_s" -> run,
      "core_util" -> (if (s.dur > 0) run / (s.dur * cores) else 0.0))
  }

  /** Span time minus the part of it its children cover. */
  def selfTime(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id)
      .map(k => (math.max(k.startMs, s.startMs), math.min(k.endMs, s.endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    kids.foreach { case (a, b) =>
      if (curA.isNaN) { curA = a; curB = b }
      else if (a <= curB) curB = math.max(curB, b)
      else { covered += curB - curA; curA = a; curB = b }
    }
    if (!curA.isNaN) covered += curB - curA
    s.dur - covered / 1000.0
  }

  def writeSpans(path: String): Unit = {
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    Host.write(path, spans.sortBy(_.startMs).map(s =>
      f"""{"id":${s.id},"parent":${s.parent},"name":"${esc(s.name)}",""" +
        f""""start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f,"self_s":${selfTime(s)}%.6f}""")
      .mkString("", "\n", "\n"))
  }
}

/** Maps a SQL execution observed inside `Pipeline.run` to the layer that
  * issued it: first by the innermost program frame of its call site, then,
  * for executions issued by `Pipeline.run` itself, by what the plan reads
  * and writes.
  */
final class Layers(tableRoot: String, lineageRoot: String, outRoot: String, storeRoot: String) {
  def classify(e: Exec): String = {
    val frames = e.details.split("\n").map(_.trim).filter(_.startsWith("graft."))
    def has(s: String) = frames.exists(_.contains(s))
    val first = frames.find(f => !f.startsWith("graft.Pipeline")).getOrElse("")
    if (first.contains("LineageStore")) {
      if (has("pruneTo")) "checkpoint.prune"
      else if (has("compactIfNeeded")) "checkpoint.compact"
      else if (has("writeCommit")) "checkpoint.commit"
      else "checkpoint.entries"
    } else if (first.contains("Fingerprint")) "checkpoint.fingerprint"
    else if (first.contains("Dedup")) {
      if (has("retractSources")) "dedup.retract"
      else if (has("compactSeen")) "dedup.compact"
      else if (has("commit")) "dedup.commit"
      else "dedup.stage"
    } else if (first.contains("Segments")) "segments.assemble"
    else if (first.contains("HttpSink")) "http.deliver"
    else if (first.contains("SnapshotTable")) "sources.append"
    else {
      val p = e.plan
      if (p.contains("InsertIntoHadoopFsRelationCommand") && p.contains(outRoot)) "deliver.write"
      else if (p.contains("HttpSink") || p.contains(s"$outRoot/")) "http.deliver"
      else if (p.contains("ExistingRDD") || p.contains("SerializeFromObject")) "checkpoint.fingerprint"
      else if (p.contains(lineageRoot)) "checkpoint.entries"
      else if (p.contains(storeRoot)) "dedup.stage"
      else "pipeline.other"
    }
  }

  /** Scan nodes over the snapshot's data files in a formatted plan. */
  def sourceScans(e: Exec): Int =
    e.plan.split("\n").count(l => l.startsWith("Location:") && l.contains(s"$tableRoot/data"))
}
