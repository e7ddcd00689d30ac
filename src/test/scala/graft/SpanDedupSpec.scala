package graft

import org.apache.spark.sql.functions._

import graft.operators.SpanDedup

/** Exact duplicated-substring (suffix-dedup) semantics, pinned on
  * hand-built docs at k=3 so every expected span is checkable by eye.
  */
class SpanDedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "x1 x2 s1 s2 s3 s4 s5 y1"),       // first occurrence of the run
    (2L, "z1 s1 s2 s3 s4 s5 z2 z3"),       // repeats doc 1's 5-word run
    (3L, "r1 r2 r3 m r1 r2 r3"),           // internal repetition
    (4L, "u1 u2"),                         // shorter than k — untouchable
    (5L, "d1 d2 d3"),                      // exact dup pair: 5 is first
    (6L, "d1 d2 d3")                       //   … 6 is all-duplicate
  ).toDF("doc_id", "text")

  test("cross-doc run: consecutive dup grams merge into one maximal span " +
    "and the globally-first occurrence is exempt") {
    val spans = SpanDedup.dupSpans(docs, "doc_id", "text", 3)
      .filter($"doc_id" <= 2L)
      .as[(Long, Long, Long, Long)].collect().toSet
    // doc 1 holds every gram's first occurrence → no spans; doc 2's three
    // overlapping dup grams (pos 1,2,3) merge into words [1,5]
    assert(spans == Set((2L, 1L, 5L, 5L)))
  }

  test("internal repetition: the second copy inside the same doc is a span") {
    val spans = SpanDedup.dupSpans(docs, "doc_id", "text", 3)
      .filter($"doc_id" === 3L)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(spans == Set((3L, 4L, 6L, 3L)))
  }

  test("whole-doc duplicate: later doc spans fully, first doc is clean") {
    val spans = SpanDedup.dupSpans(docs, "doc_id", "text", 3)
      .filter($"doc_id" >= 5L)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(spans == Set((6L, 0L, 2L, 3L)))
  }

  test("removeDupSpans excises spans, keeps all docs, and leaves " +
    "span-free and short docs verbatim") {
    val out = SpanDedup.removeDupSpans(docs, "doc_id", "text", 3)
      .orderBy("doc_id")
      .as[(Long, String, Long)].collect().toSeq
    assert(out == Seq(
      (1L, "x1 x2 s1 s2 s3 s4 s5 y1", 0L),
      (2L, "z1 z2 z3", 5L),
      (3L, "r1 r2 r3 m", 3L),
      (4L, "u1 u2", 0L),
      (5L, "d1 d2 d3", 0L),
      (6L, "", 3L)))
  }

  test("removeDupSpans: a null text comes back as clean_text = null, " +
    "n_removed = 0, next to an excised duplicate") {
    val withNull = Seq[(Long, String)](
      (1L, "d1 d2 d3"), (2L, null), (3L, "d1 d2 d3")).toDF("doc_id", "text")
    val out = SpanDedup.removeDupSpans(withNull, "doc_id", "text", 3)
      .orderBy("doc_id")
      .as[(Long, Option[String], Long)].collect().toSeq
    assert(out == Seq(
      (1L, Some("d1 d2 d3"), 0L),
      (2L, None, 0L),
      (3L, Some(""), 3L)))
  }

  test("a boilerplate gram in every doc stays linear: join rows equal " +
    "occurrence count, never occurrence pairs") {
    // 200 docs all containing the same 3-word run — the hot-gram case.
    // dupPositions must emit exactly n-1 positions (all but the first
    // occurrence), proving the one-row-per-gram stats join shape.
    val hot = (1L to 200L).map(i => (i, s"pre$i a b c post$i"))
      .toDF("doc_id", "text")
    val spans = SpanDedup.dupSpans(hot, "doc_id", "text", 3)
    assert(spans.count() == 199L)
    assert(spans.filter($"doc_id" === 1L).count() == 0L)
  }
}
