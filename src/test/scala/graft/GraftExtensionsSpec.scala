package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.col

import graft.functions.{CmSketch, KmvDistinct, MisraGries}

/** The one SQL function registry: every session [[Sessions]] builds
  * carries `GraftExtensions.functions`, driven here through pure SQL.
  */
class GraftExtensionsSpec extends SparkSpec {

  private def messages(t: Throwable): Seq[String] =
    Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++
      messages(x.getCause))

  test("cosine_sim and kmv_distinct are callable from SQL") {
    val cos = spark.sql(
      """SELECT cosine_sim(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)),
        |                  array(CAST(0.6 AS FLOAT), CAST(0.8 AS FLOAT))) AS c
        |""".stripMargin).head().getDouble(0)
    assert(math.abs(cos - 0.6) < 1e-6) // float32 inputs: ~1e-8 rounding
    val est = spark.sql(
      "SELECT kmv_distinct(id, 64) FROM range(0, 1000)").head().getLong(0)
    // KMV with k=64 over 1000 exact-distinct values: generous ±30% band
    assert(est > 700 && est < 1300, s"estimate $est out of band")
    // char_entropy: 'aabb' = 1 bit exactly; gibberish above prose
    val ent = spark.sql("SELECT char_entropy('aabb') AS e").head().getDouble(0)
    assert(ent == 1.0, s"2 symbols × equal counts must be exactly 1 bit: $ent")
  }

  test("kmv_distinct rejects a non-constant k with the contract message") {
    val e = intercept[Exception] {
      spark.sql("SELECT kmv_distinct(id, id) FROM range(0, 10)").collect()
    }
    assert(messages(e).exists(_.contains("k must be a constant")),
      s"unexpected error: ${e.getMessage}")
  }

  test("class-based entry point wires the same builders") {
    // the (SparkSessionExtensions => Unit) contract the config path uses
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext) // must not throw; builders shared
    assert(GraftExtensions.functions.map(_._1.funcName).sorted ==
      Seq("char_entropy", "cm_sketch", "cosine_sim", "dict_get",
        "dict_get_or_default", "dot_f", "hamming_codes", "kmv_distinct",
        "l2_dist_sq", "misra_gries", "misra_gries_w", "phrase_hits",
        "sign_pack", "tdigest_quantiles"))
  }

  test("cm_sketch and phrase_hits are callable from SQL") {
    // 3 distinct keys on a wide grid: every point estimate is exact
    val cells = spark.sql(
      """SELECT cm_sketch(CAST(id % 3 AS STRING), 2, 1024) AS c
        |FROM range(0, 30)""".stripMargin)
      .head().getSeq[Long](0)
    assert(cells.sum == 30 * 2 && cells.count(_ > 0) <= 6)
    val hits = spark.sql(
      "SELECT phrase_hits('the quick brown fox', " +
        "array('quick brown', 'fox', 'cat')) AS h")
      .head().getSeq[String](0)
    assert(hits == Seq("quick brown", "fox"))
    // non-foldable phrase list fails with the contract message
    val e = intercept[Exception] {
      spark.sql("SELECT phrase_hits(CAST(id AS STRING), " +
        "array(CAST(id AS STRING))) FROM range(0, 3)").collect()
    }
    assert(messages(e).exists(_.contains("foldable")),
      s"unexpected error: ${e.getMessage}")
  }

  test("every registry function resolves from SQL with no helper called " +
      "first, in the suite's session and in a fresh one") {
    Seq(spark, spark.newSession()).foreach { s =>
      GraftExtensions.functions.foreach { case (id, _, _) =>
        assert(s.sessionState.functionRegistry.functionExists(id),
          s"${id.funcName} missing from the session registry")
      }
      val r = s.sql(
        """SELECT dot_f(array(1.0F, 2.0F), array(3.0F, 4.0F)),
          |       l2_dist_sq(array(1.0F, 2.0F), array(3.0F, 5.0F)),
          |       hamming_codes(sign_pack(array(1.0F, -1.0F, 2.0F)),
          |                     sign_pack(array(-1.0F, -1.0F, 2.0F)))
          |""".stripMargin).head()
      assert(r.getDouble(0) == 11.0 && r.getDouble(1) == 13.0 &&
        r.getInt(2) == 1, s"unexpected vector results: $r")
      // 51 distinct points, compression 100: every point keeps its own
      // centroid, so the median is exact
      val med = s.sql("SELECT tdigest_quantiles(CAST(id AS DOUBLE), 100, " +
        "array(0.5D)) FROM range(0, 51)").head().getSeq[Double](0)
      assert(med == Seq(25.0), s"median $med")
    }
  }

  test("column helpers leave the checked SQL builders in place") {
    spark.range(0, 10).select(col("id").cast("string").as("s"))
      .agg(KmvDistinct.column(col("s"), 16),
        MisraGries.column(col("s"), 4),
        CmSketch.column(col("s"), 2, 16))
      .collect()
    Seq("kmv_distinct(id, id)",
      "misra_gries(CAST(id AS STRING), id)",
      "cm_sketch(CAST(id AS STRING), id, 16)").foreach { call =>
      val e = intercept[Exception] {
        spark.sql(s"SELECT $call FROM range(0, 10)").collect()
      }
      assert(messages(e).exists(_.contains("must be a constant")),
        s"$call: unexpected error: ${e.getMessage}")
    }
  }

  /** Names of the `.scala` files under `root` whose text matches `call`
    * (`depth` 1: only the files directly in `root`). */
  private def calling(root: String, call: String,
                      depth: Int = Int.MaxValue): Seq[String] = {
    assert(Files.isDirectory(Paths.get(root)), "run from the repository root")
    val re = call.r
    Files.walk(Paths.get(root), depth).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(p => re.findFirstIn(Files.readString(p)).isDefined)
      .map(_.getFileName.toString).toSeq.sorted
  }

  test("source guard: sessions only from Sessions, SQL functions only " +
      "from GraftExtensions") {
    assert(calling("src/main/scala", """SparkSession\s*\.\s*builder\s*\(""")
      == Seq("Sessions.scala"))
    // the group keeps the plain name out of this file, so a text search
    // for it over src finds nothing either
    assert(calling("src", """\.createOrReplace(TempFunction)\s*\(""").isEmpty)
    assert(calling("src", """\.registerFunction\s*\(""")
      .forall(_ == "GraftExtensions.scala"))
  }

  test("source guard: one metrics listener, one listener-bus drain, no " +
      "sleeping harness main") {
    // one assertion, so a failure lists every offending file at once
    val found = Seq(
      "listener" -> calling("src/main/scala",
        """(extends|new)\s+[\w.]*SparkListener\b"""),
      "bus" -> calling("src/main/scala", """listenerBus|waitUntilEmpty"""),
      "sleep" -> calling("src/main/scala/graft", """Thread\s*\.\s*sleep""",
        depth = 1))
    assert(found == Seq("listener" -> Seq("RunMetrics.scala"),
      "bus" -> Seq("GraftAccess.scala"), "sleep" -> Seq()))
  }

  test("source guard: one lineage cut — reliable checkpoint(), no " +
      "fallback, no cut-cadence parameter") {
    val found = Seq(
      "dir" -> calling("src/main/scala", """getCheckpointDir"""),
      "gone" -> calling("src/main/scala",
        """materializeDetached|checkpointEvery"""),
      // the star loop's per-round plan cut and the streaming detach
      "local" -> calling("src/main/scala", """localCheckpoint"""))
    assert(found == Seq("dir" -> Seq("Sessions.scala"), "gone" -> Seq(),
      "local" -> Seq("DedupCluster.scala", "Pipelines.scala")))
  }

  test("source guard: one parquet reader — schemas from a footer, not an " +
      "inference job") {
    assert(calling("src/main/scala", """\.read\s*\.\s*parquet\s*\(""")
      == Seq("IO.scala"))
  }

  test("source guard: the generated-class cache is sized in Sessions only") {
    assert(calling("src/main/scala", """codegen\.cache\.maxEntries""")
      == Seq("Sessions.scala"))
  }
}
