package graft

import org.apache.spark.sql.functions._

import graft.functions.{AhoCorasick, PhraseHits}

class PhraseMatchSpec extends SparkSpec {
  import spark.implicits._

  test("classic AC: suffix patterns all fire at their shared end (ushers)") {
    val ac = new AhoCorasick(Array("he", "she", "his", "hers"))
    val got = ac.hits(org.apache.spark.unsafe.types.UTF8String
      .fromString("ushers")).toArray[Any](
      org.apache.spark.sql.types.StringType).map(_.toString).toSeq
    // "ushers": 'she' ends at 4, 'he' (via fail link) at 4, 'hers' at 6
    assert(got == Seq("he", "she", "hers"))
  }

  test("overlapping and nested patterns; blocklist-order, distinct output") {
    val ac = new AhoCorasick(Array("abc", "c", "bc", "zz"))
    val got = ac.hits(org.apache.spark.unsafe.types.UTF8String
      .fromString("xabcx")).toArray[Any](
      org.apache.spark.sql.types.StringType).map(_.toString).toSeq
    assert(got == Seq("abc", "c", "bc")) // zz absent; list order kept
  }

  test("expression agrees with N contains() probes on every fixture doc") {
    val phrases = Seq("fast table", "slow small", "vector",
      "merge batch", "zzz never")
    val d = Tables.load(spark, sf, "documents")
    val viaAc = d.select($"doc_id",
      explode(PhraseHits.column($"text", phrases)).as("term"))
      .as[(Long, String)].collect().toSet
    val viaContains = phrases.map(p =>
      d.filter(col("text").contains(p))
        .select($"doc_id", lit(p).as("term")).as[(Long, String)])
      .reduce(_ union _).collect().toSet
    assert(viaAc == viaContains)
    assert(viaAc.nonEmpty, "vacuous fixture: no blocklist phrase matched")
    assert(!viaAc.exists(_._2 == "zzz never"))
  }

  test("null text -> null; empty text and no-hit text -> empty array") {
    val df = Seq((1L, Some("a vector here")), (2L, Some("")),
      (3L, None), (4L, Some("nothing"))).toDF("id", "text")
    val out = df.select($"id",
      PhraseHits.column($"text", Seq("vector", "qq")).as("h"))
      .as[(Long, Option[Seq[String]])].collect().toMap
    assert(out(1L).contains(Seq("vector")))
    assert(out(2L).contains(Seq.empty[String]))
    assert(out(3L).isEmpty)
    assert(out(4L).contains(Seq.empty[String]))
  }

  test("single-char, repeated, and self-overlapping patterns count once") {
    val ac = new AhoCorasick(Array("aa", "a"))
    val got = ac.hits(org.apache.spark.unsafe.types.UTF8String
      .fromString("aaaa")).toArray[Any](
      org.apache.spark.sql.types.StringType).map(_.toString).toSeq
    assert(got == Seq("aa", "a"))
  }

  test("phrase list must be foldable and non-empty") {
    intercept[Exception] {
      Seq("x").toDF("text").select(
        PhraseHits.column($"text", Seq.empty)).collect()
    }
  }
}
