package graft

import org.apache.spark.sql.functions._

import graft.functions.CmSketch

class CountMinSpec extends SparkSpec {
  import spark.implicits._

  private def toks = Tables.load(spark, sf, "documents")
    .select(explode(graft.functions.TextFunctions.tokens(col("text")))
      .as("term"))

  test("never underestimates: est >= exact for EVERY distinct fixture term") {
    val sketch = toks.agg(CmSketch.column($"term", 4, 64).as("cells"))
    val exact = toks.groupBy("term").agg(count(lit(1)).as("n"))
    val est = least((0 until 4).map { j =>
      val cell = (conv(substring(md5(concat(col("term"), lit(":cm" + j))),
        1, 8), 16, 10).cast("long") % 64).cast("int")
      element_at(col("cells"), cell + lit(j * 64) + lit(1))
    }: _*)
    val under = exact.crossJoin(broadcast(sketch))
      .filter(est < col("n")).count()
    assert(under == 0L, "Count-Min must never underestimate")
    // a deliberately tiny grid (1 row × 16 cells, vocabulary > 16
    // types ⇒ pigeonhole collision) MUST overestimate someone — the
    // sketch approximates, and its error is one-sided
    assert(exact.count() > 16, "fixture vocabulary too small for the test")
    val tiny = toks.agg(CmSketch.column($"term", 1, 16).as("cells"))
    val cell16 = (conv(substring(md5(concat(col("term"), lit(":cm0"))),
      1, 8), 16, 10).cast("long") % 16).cast("int")
    val over = exact.crossJoin(broadcast(tiny))
      .filter(element_at(col("cells"), cell16 + lit(1)) > col("n")).count()
    assert(over > 0L, "expected collisions on a 1x16 grid")
  }

  test("mergeable: repartitioned build equals single-partition build " +
      "cell for cell") {
    val a = toks.repartition(16)
      .agg(CmSketch.column($"term", 4, 128)).as[Seq[Long]].head()
    val b = toks.coalesce(1)
      .agg(CmSketch.column($"term", 4, 128)).as[Seq[Long]].head()
    assert(a == b)
  }

  test("grid mass: every row of the grid sums to the total update count") {
    val n = toks.count()
    val cells = toks.agg(CmSketch.column($"term", 3, 32))
      .as[Seq[Long]].head()
    (0 until 3).foreach { j =>
      assert(cells.slice(j * 32, (j + 1) * 32).sum == n,
        s"row $j mass != $n")
    }
  }

  test("cell() is the md5 replica the SQL oracle computes") {
    val viaSql = spark.sql(
      "SELECT CAST(conv(substring(md5('table:cm2'), 1, 8), 16, 10) " +
        "AS BIGINT) % 512").as[Long].head()
    assert(CmSketch.cell("table", 2, 512) == viaSql.toInt)
  }

  test("nulls are skipped; exact when the grid is collision-free") {
    val df = Seq(Some("x"), None, Some("y"), Some("x"), None)
      .toDF("v")
    val cells = df.agg(CmSketch.column($"v", 2, 1024))
      .as[Seq[Long]].head()
    assert(cells.sum == 2 * 3) // 3 non-null updates × depth 2
    // 2 keys in 1024 cells: point estimates are exact here
    val est = Seq("x" -> 2L, "y" -> 1L).map { case (k, n) =>
      (0 until 2).map(j =>
        cells(j * 1024 + CmSketch.cell(k, j, 1024))).min == n
    }
    assert(est.forall(identity))
  }
}
