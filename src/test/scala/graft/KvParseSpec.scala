package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{KvParse, KvParseHelper}

/** Truth table for the quoted key=value tokenizer (semantics of
  * pkg/parser/audit/audit.go:82-147).
  */
class KvParseSpec extends AnyFunSuite {

  private def parse(s: String): Map[String, String] =
    KvParseHelper.parseToMap(s).toMap

  test("simple pairs") {
    assert(parse("a=1 b=two") == Map("a" -> "1", "b" -> "two"))
  }

  test("double-quoted value with spaces") {
    assert(parse("""exe="/usr/bin/app with space" ok=1""") ==
      Map("exe" -> "/usr/bin/app with space", "ok" -> "1"))
  }

  test("single-quoted value with spaces") {
    assert(parse("msg='x y' k=v") == Map("msg" -> "x y", "k" -> "v"))
  }

  test("escaped quotes survive tokenization and unescape") {
    // key4=\"quoted\" : backslash-escaped quotes never toggle quote state
    assert(parse("""key4=\"quoted\"""") == Map("key4" -> "quoted"))
  }

  test("inner escaped quote inside double quotes") {
    assert(parse("""m="say \"hi\" now"""") == Map("m" -> """say "hi" now"""))
  }

  test("token without '=' is skipped; '=' at position 0 is skipped") {
    assert(parse("CALL tool=x =bad flag") == Map("tool" -> "x"))
  }

  test("later duplicate key wins") {
    assert(parse("a=1 a=2") == Map("a" -> "2"))
  }

  test("single quotes inside double quotes are literal (and vice versa)") {
    assert(parse("""a="it's fine" b='he said "hi"'""") ==
      Map("a" -> "it's fine", "b" -> """he said "hi""""))
  }

  test("value is trimmed; asymmetric quote is not stripped") {
    assert(parse("""a="unclosed""") == Map("a" -> "\"unclosed"))
  }

  test("empty string yields empty map") {
    assert(parse("") == Map.empty[String, String])
  }

  test("spark expression agrees with the Scala model") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    val inputs = Seq(
      """CALL tool=exec k=12 note="lvl 3" dur=42ms status=ok""",
      """type=SYSCALL exe="/usr/bin/x y" key='a b'""",
      "", "no pairs here")
    val got = inputs.toDF("s")
      .select(KvParse.of($"s").as("m"))
      .as[Map[String, String]].collect().toSeq
    assert(got == inputs.map(parse))
  }
}
