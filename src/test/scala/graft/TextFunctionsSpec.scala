package graft

import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

class TextFunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("token counts: whitespace and BPE-ish") {
    val df = Seq("hello world 42 ok!").toDF("text")
    val r = df.select(
      TextFunctions.tokenCount($"text").as("ws"),
      TextFunctions.bpeTokenCount($"text").as("bpe"))
      .as[(Long, Long)].head()
    assert(r._1 == 4)
    assert(r._2 == 5) // hello, world, 42, ok, !
  }

  test("langId picks the language with most marker stopwords") {
    val df = Seq(
      ("en", "the cat is in the house and it is warm"),
      ("de", "der hund und die katze ist nicht da"),
      ("es", "el perro es de la casa que es grande"),
      ("fr", "le chien est une merveille pour les enfants"),
      ("unknown", "zzz qqq www")).toDF("expected", "text")
    val out = df.select($"expected",
      TextFunctions.langId($"text").as("got"))
      .as[(String, String)].collect()
    out.foreach { case (exp, got) => assert(got == exp, s"expected $exp got $got") }
  }

  test("quality score is within [0,1] on the fixture corpus") {
    val d = Tables.load(spark, sf, "documents")
    val bounds = d.select(TextFunctions.qualityScore($"text").as("q"))
      .agg(min("q"), max("q")).as[(Double, Double)].head()
    assert(bounds._1 >= 0.0 && bounds._2 <= 1.0)
  }

  test("fingerprint is order-insensitive over tokens") {
    val df = Seq(("a b c", "c b a b")).toDF("t1", "t2")
    val r = df.select(
      TextFunctions.fingerprint($"t1").as("f1"),
      TextFunctions.fingerprint($"t2").as("f2"))
      .as[(String, String)].head()
    assert(r._1 == r._2)
  }

  test("winnowing: docs sharing a long substring share a fingerprint") {
    val shared = "this exact passage appears verbatim in both documents here"
    val df = Seq(
      (1L, s"prefix one $shared and then diverges completely afterwards"),
      (2L, s"a different start $shared with another unique tail entirely"),
      (3L, "no overlap with anything else in this tiny corpus at all"))
      .toDF("doc_id", "text")
    val fps = graft.functions.TextFunctions
      .winnowingFingerprints(df, "doc_id", "text", 16, 8)
      .as[(Long, String)].collect().groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    assert(fps(1L).intersect(fps(2L)).nonEmpty) // shared substring detected
    assert(fps(1L).intersect(fps(3L)).isEmpty ||
      fps(1L).intersect(fps(3L)).size < fps(1L).intersect(fps(2L)).size)
  }

  test("wordShingles guards short documents") {
    val df = Seq("one two").toDF("text")
    val sh = df.select(TextFunctions.wordShingles($"text", 5).as("s"))
      .as[Seq[String]].head()
    assert(sh == Seq("one two"))
  }

  test("wordShingles produces len-n+1 shingles") {
    val df = Seq("a b c d e f").toDF("text")
    val sh = df.select(TextFunctions.wordShingles($"text", 5).as("s"))
      .as[Seq[String]].head()
    assert(sh == Seq("a b c d e", "b c d e f"))
  }

  test("char_entropy: uniform alphabets hit log2(k) exactly, padding " +
      "scores 0, empty scores 0, prose sits between noise and padding") {
    val df = Seq((1L, "aaaa"), (2L, "abab"), (3L, "abcd"), (4L, ""),
      (5L, "aab"),
      (6L, "the cat sat on the mat and the dog lay on the rug by the door"),
      (7L, "ABCDEFGHIJKLMNOPQRSTUVWXYZ012345")).toDF("id", "text")
    val h = df.select($"id", graft.functions.Rounding.pround(
        graft.functions.CharEntropyFn.column($"text"), 6).as("h"))
      .as[(Long, Double)].collect().toMap
    assert(h(1L) == 0.0 && h(4L) == 0.0)
    assert(h(2L) == 1.0 && h(3L) == 2.0)
    // 2/3·log2(3/2) + 1/3·log2 3 = 0.918296 at the 1e-6 round
    assert(math.abs(h(5L) - 0.918296) < 1e-6, h(5L).toString)
    assert(h(7L) == 5.0, s"32 uniform symbols = 5 bits: ${h(7L)}")
    assert(h(7L) > h(6L) && h(6L) > 2.5,
      s"noise ${h(7L)} must out-score prose ${h(6L)}")
  }
}
