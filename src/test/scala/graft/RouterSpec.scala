package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.model.SinkRule
import graft.operators.{Enrich, Route}
import graft.sources.Transcripts

/** Router fan-out + delivered-line accounting invariants (the reference's
  * collector accounting: written == collected per sink; blank lines consume
  * input but are never delivered).
  */
class RouterSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private lazy val turns = Transcripts.synthesize(spark, numConvs = 40,
    turnsPerConv = 12, numPartitions = 4).toDF().cache()

  test("accounting invariant: input == blank + delivered('all' sink considering fan-out)") {
    val acc = Route.accounting(turns).as[(Long, Long, Long)].head()
    val (input, blank, routedRows) = acc
    val routed = Route.routed(turns)
    assert(routed.count() == routedRows)
    // every non-blank row routes to exactly 1 (non-tool) or 2 (tool) keys
    val nonBlank = turns.filter(length($"text") > 0)
    val toolRows = nonBlank.filter($"tool" =!= "").count()
    assert(routedRows == (nonBlank.count() - toolRows) + 2 * toolRows)
    assert(input == blank + nonBlank.count())
  }

  test("per-sink counts match a collected reference model") {
    val rules = Seq(
      SinkRule("all"),
      SinkRule("err", include = Seq("status=err")),
      SinkRule("noinfo", exclude = Seq("INFO")),
      // a config-supplied name that is not a valid Spark identifier
      SinkRule("errors.v2", include = Seq("status=err")))
    val routed = Route.routed(turns)
    val got = Route.sinkCounts(routed, rules)
      .as[(String, String, Long, Long)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap

    // single-threaded reference model over the collected rows
    val rows = turns.select("role", "tool", "text").as[(String, String, String)].collect()
    val model = scala.collection.mutable.Map.empty[(String, String), (Long, Long)]
    rows.foreach { case (role, tool, text) =>
      if (text.nonEmpty) {
        val keys = if (tool.nonEmpty) Seq(s"role:$role", s"tool:$tool") else Seq(s"role:$role")
        rules.foreach { r =>
          val inc = r.include.isEmpty || r.include.exists(text.contains)
          val exc = r.exclude.forall(s => !text.contains(s))
          if (inc && exc) keys.foreach { k =>
            val cur = model.getOrElse((r.name, k), (0L, 0L))
            model((r.name, k)) = (cur._1 + 1, cur._2 + text.length)
          }
        }
      }
    }
    assert(got == model.toMap)
  }

  test("routed-row equality: per-sink rows match the model row-for-row") {
    val rule = SinkRule("err", include = Seq("status=err"))
    val routed = Route.routed(Enrich.enrich(turns))
    val got = Route.forSink(routed, rule)
      .select("conv_id", "turn_idx", "route_key", "text")
      .as[(String, Int, String, String)].collect().sorted.toSeq
    val model = turns.select("conv_id", "turn_idx", "role", "tool", "text")
      .as[(String, Int, String, String, String)].collect()
      .filter(r => r._5.nonEmpty && r._5.contains("status=err"))
      .flatMap { case (c, t, role, tool, text) =>
        val keys = if (tool.nonEmpty) Seq(s"role:$role", s"tool:$tool") else Seq(s"role:$role")
        keys.map(k => (c, t, k, text))
      }.sorted.toSeq
    assert(got == model)
  }

  test("per-turn text equality under stable ordering (north-rule invariant)") {
    val df = Transcripts.synthesize(spark, numConvs = 10, turnsPerConv = 9,
      numPartitions = 7).toDF()
    // run the same synthesis at a different parallelism: identical content
    val df2 = Transcripts.synthesize(spark, numConvs = 10, turnsPerConv = 9,
      numPartitions = 2).toDF()
    val a = df.orderBy("conv_id", "turn_idx").select("conv_id", "turn_idx", "text")
      .as[(String, Int, String)].collect().toSeq
    val b = df2.orderBy("conv_id", "turn_idx").select("conv_id", "turn_idx", "text")
      .as[(String, Int, String)].collect().toSeq
    assert(a == b)
    assert(a.map(_._2).grouped(9).forall(_ == (0 until 9)))
  }

  test("enrich: every tool turn gets a family; non-tool turns get 'none'") {
    val e = Enrich.enrich(turns)
    assert(e.filter($"tool" =!= "" && $"tool_family" === "none").count() == 0)
    assert(e.filter($"tool" === "" && $"tool_family" =!= "none").count() == 0)
    assert(e.count() == turns.count()) // left join never drops or duplicates
  }
}
