package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Bloom
import graft.operators.{Conversations, Dedup, Parse, Similarity}
import graft.sources.Transcripts

/** The native expressions are plain Column constructors: they need no
  * registration on the session that runs them and leave nothing behind in
  * its function registry.
  */
class SessionHygieneSpec extends AnyFunSuite {

  test("native expressions run on a fresh session and leave no temp functions") {
    val s = SparkTestSession.spark.newSession()
    import s.implicits._
    def tempFunctions: Set[String] =
      s.catalog.listFunctions().collect().filter(_.isTemporary).map(_.name).toSet
    val before = tempFunctions

    val turns = Transcripts.synthesize(s, numConvs = 4, turnsPerConv = 6,
      numPartitions = 2).toDF()
    assert(Parse.parseTurns(turns).filter($"verb".isNotNull).count() > 0L)

    val audit = Parse.auditParse(
      Seq("""type=SYSCALL msg=audit(1700000000.5:7): exe="/bin/x y" success=yes""")
        .toDF("line"), "line")
      .select(try_element_at($"fields", lit("exe"))).as[String].head()
    assert(audit == "/bin/x y")

    val docs = Seq((1L, "the quick brown fox jumps"), (2L, "the quick brown fox jumps"))
      .toDF("doc_id", "text")
    val fps = docs.select(Dedup.simhash($"text")).as[Long].collect()
    assert(fps.distinct.length == 1)
    val sets = Dedup.shingleHashSets(docs, "doc_id", "text", 3)
    assert(sets.count() == 2L)

    val sk = Seq(Seq(1.0, -2.0, 0.5)).toDF("v")
      .select(Similarity.allBandSketches($"v", 2, 3)).as[Seq[Long]].head()
    assert(sk.length == 2)

    val hs = sets.select(explode($"hs").as("h"))
    val bf = Bloom.fit(hs, "h", expectedItems = 100L, numBits = 4096L)
    assert(hs.filter(!Bloom.mightContain(bf, $"h")).count() == 0L)

    assert(Conversations.fingerprintSalted(turns, bucketWidth = 2).count() == 4L)

    assert(tempFunctions == before)
  }
}
