package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.functions.MisraGries

class MisraGriesSpec extends SparkSpec {
  import spark.implicits._

  private def sketch(df: org.apache.spark.sql.DataFrame, col0: String,
                     k: Int): Map[String, Long] =
    df.select(MisraGries.column(col(col0), k).as("hh"))
      .head().getSeq[Row](0)
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  private def exact(df: org.apache.spark.sql.DataFrame,
                    col0: String): Map[String, Long] =
    df.groupBy(col0).count().as[(String, Long)].collect().toMap

  test("guarantee: every item above N/(k+1) is reported, counts " +
      "undercount by at most N/(k+1)") {
    val toks = Tables.load(spark, sf, "documents")
      .select(explode(graft.functions.TextFunctions.tokens(col("text")))
        .as("term"))
    val k = 40
    val n = toks.count()
    val truth = exact(toks, "term")
    val got = sketch(toks, "term", k)
    assert(got.size <= k)
    val bound = n / (k + 1)
    truth.filter(_._2 > bound).foreach { case (term, c) =>
      assert(got.contains(term), s"heavy hitter '$term' ($c > $bound) missing")
    }
    got.foreach { case (term, c) =>
      val t = truth(term)
      assert(c <= t && c >= t - bound,
        s"'$term' reported $c outside [${t - bound}, $t]")
    }
  }

  test("merge: partitioning does not break the guarantee") {
    val toks = Tables.load(spark, sf, "documents")
      .select(explode(graft.functions.TextFunctions.tokens(col("text")))
        .as("term"))
    val k = 40
    val n = toks.count()
    val bound = n / (k + 1)
    val truth = exact(toks, "term")
    val got = sketch(toks.repartition(13), "term", k)
    truth.filter(_._2 > bound).foreach { case (term, _) =>
      assert(got.contains(term), s"'$term' lost after repartition-merge")
    }
    got.foreach { case (term, c) => assert(c <= truth(term)) }
  }

  test("k above distinct cardinality: counts are exact") {
    val df = Seq("a", "a", "a", "b", "b", "c").toDF("x")
    assert(sketch(df, "x", 10) == Map("a" -> 3L, "b" -> 2L, "c" -> 1L))
  }

  test("usable from SQL (GraftExtensions registration) and in GROUP BY") {
    Seq(("en", "x"), ("en", "x"), ("en", "y"), ("de", "z"))
      .toDF("lang", "tok").createOrReplaceTempView("mg_toks")
    val rows = spark.sql(
      "SELECT lang, misra_gries(tok, 4) AS hh FROM mg_toks GROUP BY lang")
      .collect().map(r => r.getString(0) ->
        r.getSeq[Row](1).map(e => e.getString(0) -> e.getLong(1)).toMap)
      .toMap
    assert(rows("en") == Map("x" -> 2L, "y" -> 1L))
    assert(rows("de") == Map("z" -> 1L))
    // non-constant k must fail loudly, not crash analysis opaquely
    val err = intercept[Exception] {
      spark.sql("SELECT misra_gries(tok, length(tok)) FROM mg_toks").collect()
    }
    assert(err.getMessage.contains("constant"))
  }

  test("nulls are ignored, empty input yields an empty sketch") {
    val df = Seq(Some("a"), None, Some("a"), None).toDF("x")
    assert(sketch(df, "x", 4) == Map("a" -> 2L))
    val empty = Seq.empty[String].toDF("x")
    assert(sketch(empty, "x", 4) == Map.empty[String, Long])
  }

  // --- weighted variant (ClickHouse topKWeighted) ---------------------

  private def wSketch(df: org.apache.spark.sql.DataFrame, item: String,
                      w: String, k: Int): Map[String, Long] =
    df.select(graft.functions.MisraGriesWeighted
        .column(col(item), col(w), k).as("hh"))
      .head().getSeq[Row](0)
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  test("weighted guarantee: items above W/(k+1) survive, counts " +
      "undercount by at most W/(k+1), regardless of partitioning") {
    val terms = Tables.load(spark, sf, "documents")
      .select(explode(graft.functions.TextFunctions.tokens(col("text")))
        .as("term"), length(col("text")).cast("long").as("w"))
    val k = 40
    val truth = terms.groupBy("term").agg(sum("w").as("tw"))
      .as[(String, Long)].collect().toMap
    val totalW = truth.values.sum
    val bound = totalW / (k + 1)
    Seq(terms, terms.repartition(13)).foreach { frame =>
      val got = wSketch(frame, "term", "w", k)
      assert(got.size <= k)
      truth.filter(_._2 > bound).foreach { case (term, tw) =>
        assert(got.contains(term),
          s"weighted heavy hitter '$term' ($tw > $bound) missing")
      }
      got.foreach { case (term, c) =>
        val t = truth(term)
        assert(c <= t && c >= t - bound,
          s"'$term' reported $c outside [${t - bound}, $t]")
      }
    }
  }

  test("weighted: k above cardinality is the exact weighted groupBy; " +
      "zero weights are no-ops; negative weights fail loudly") {
    val df = Seq(("a", 5L), ("a", 3L), ("b", 1L), ("c", 0L))
      .toDF("x", "w")
    assert(wSketch(df, "x", "w", 10) == Map("a" -> 8L, "b" -> 1L))
    val neg = Seq(("a", -1L)).toDF("x", "w")
    val err = intercept[Exception] { wSketch(neg, "x", "w", 4) }
    assert(err.getMessage.contains("negative weight") ||
      err.getCause != null)
  }

  test("weighted: usable from SQL via GraftExtensions in GROUP BY") {
    Seq(("en", "x", 4L), ("en", "y", 1L), ("de", "z", 2L))
      .toDF("lang", "tok", "w").createOrReplaceTempView("mgw_toks")
    val rows = spark.sql(
      "SELECT lang, misra_gries_w(tok, w, 4) AS hh FROM mgw_toks " +
        "GROUP BY lang")
      .collect().map(r => r.getString(0) ->
        r.getSeq[Row](1).map(e => e.getString(0) -> e.getLong(1)).toMap)
      .toMap
    assert(rows("en") == Map("x" -> 4L, "y" -> 1L))
    assert(rows("de") == Map("z" -> 2L))
  }
}
