package graft

import org.apache.spark.sql.functions._

import graft.functions.KmvDistinct

class KmvDistinctSpec extends SparkSpec {
  import spark.implicits._

  test("exact below k: small cardinalities are counted exactly") {
    val df = (1 to 50).map(i => i % 10).toDF("v")
    val est = df.agg(KmvDistinct.column($"v", 64).as("d"))
      .as[Long].head()
    assert(est == 10)
  }

  test("estimate within ~3/sqrt(k) of exact on fixture data") {
    val e = Tables.load(spark, sf, "events")
    val exact = e.select("event_id").distinct().count() // 1000 distinct
    val est = e.agg(KmvDistinct.column($"event_id", 256).as("d"))
      .as[Long].head()
    val err = math.abs(est - exact).toDouble / exact
    assert(err < 3.0 / math.sqrt(256), s"exact=$exact est=$est err=$err")
  }

  test("mergeable across partitions: repartitioned input gives same estimate") {
    val e = Tables.load(spark, sf, "events")
    val a = e.repartition(16)
      .agg(KmvDistinct.column($"event_id", 128)).as[Long].head()
    val b = e.coalesce(1)
      .agg(KmvDistinct.column($"event_id", 128)).as[Long].head()
    assert(a == b) // k-min set is order-insensitive
  }

  test("Profile.kmvEstimate: exact below saturation, bounded error above") {
    // group "small" has 40 distinct values (< k=64): the sketch is
    // exact and rel_err is 0; group "big" has 5000: estimate within
    // ~4 standard errors (4/sqrt(64) = 50%) — loose but a real bound.
    val rows = (1 to 40).map(i => ("small", s"s$i")) ++
      (1 to 5000).map(i => ("big", s"b$i"))
    val df = rows.toDF("g", "v")
    val out = operators.Profile.kmvEstimate(df, "g", $"v", 64)
      .as[(String, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    out("small") match { case (_, exact, est, err) =>
      assert(exact == 40 && est == 40 && err == 0.0)
    }
    out("big") match { case (_, exact, est, err) =>
      assert(exact == 5000)
      assert(err < 4.0 / math.sqrt(64), s"est=$est err=$err")
    }
  }

  test("Profile.kmvEstimate agrees with the KmvDistinct aggregate's error " +
      "band on fixture tokens") {
    val d = Tables.load(spark, sf, "documents")
    val toks = d.select(col("source"),
      explode(graft.functions.TextFunctions.tokens(col("text"))).as("term"))
    val declarative = operators.Profile
      .kmvEstimate(toks, "source", $"term", 256)
      .as[(String, Long, Long, Double)].collect()
    assert(declarative.nonEmpty)
    // the md5-keyed declarative estimate and the xxhash64 production
    // aggregate are independent draws of the same estimator: both must
    // sit within the error band of the exact count
    val agg = toks.groupBy("source")
      .agg(KmvDistinct.column($"term", 256).as("est"))
      .as[(String, Long)].collect().toMap
    declarative.foreach { case (src, exact, declEst, _) =>
      val bound = 4.0 / math.sqrt(256)
      assert(math.abs(declEst - exact).toDouble / exact < bound)
      assert(math.abs(agg(src) - exact).toDouble / exact < bound,
        s"$src: exact=$exact agg=${agg(src)}")
    }
  }

  test("usable from SQL text and in GROUP BY") {
    Tables.load(spark, sf, "events").createOrReplaceTempView("kmv_events")
    val rows = spark.sql(
      """SELECT event_type, kmv_distinct(user_id, 64) AS approx_users
        |FROM kmv_events GROUP BY event_type""".stripMargin)
      .collect()
    assert(rows.length == 5)
    assert(rows.forall(_.getLong(1) > 0))
  }
}
