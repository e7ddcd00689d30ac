package graft

import org.apache.spark.sql.functions._

import graft.functions.Dictionaries

/** CH dictGet surface: the server-scoped dictionary registry + the
  * codegen'd broadcast-hash probe, exercised from SQL the way the
  * reference's downstream BI queries use it.
  */
class DictGetSpec extends SparkSpec {
  import spark.implicits._

  private def dim = Seq(
    (1L, "alice", "BUILDING"), (2L, "bob", "MACHINERY"))
    .toDF("k", "name", "segment")

  test("dict_get: present key returns the attribute, missing key is " +
      "NULL, dict_get_or_default substitutes; NULL keys stay NULL") {
    Dictionaries.create(spark, "dg_spec_users", dim, "k")
    val facts = Seq(Some(1L), Some(2L), Some(99L), None).toDF("uid")
    facts.createOrReplaceTempView("dg_spec_facts")
    val out = spark.sql(
      """SELECT uid, dict_get('dg_spec_users', 'name', uid) AS name,
        |  dict_get_or_default('dg_spec_users', 'segment', uid, 'n/a') AS seg
        |FROM dg_spec_facts""".stripMargin)
      .as[(Option[Long], Option[String], String)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(Some(1L)) == ((Some("alice"), "BUILDING")))
    assert(out(Some(2L)) == ((Some("bob"), "MACHINERY")))
    assert(out(Some(99L)) == ((None, "n/a")))
    assert(out(None) == ((None, "n/a")))
  }

  test("dict_get: key expression of a different numeric type is cast " +
      "to the dictionary key type") {
    Dictionaries.create(spark, "dg_spec_cast", dim, "k")
    Seq(1, 2).toDF("uid_int").createOrReplaceTempView("dg_spec_ints")
    val names = spark.sql(
      "SELECT dict_get('dg_spec_cast', 'name', uid_int) FROM dg_spec_ints")
      .as[String].collect().toSet
    assert(names == Set("alice", "bob"))
  }

  test("the probe is a scan-local expression: no join node, no " +
      "exchange in the physical plan") {
    Dictionaries.create(spark, "dg_spec_plan", dim, "k")
    Seq(1L, 2L).toDF("uid").createOrReplaceTempView("dg_spec_plan_f")
    val df = spark.sql(
      "SELECT dict_get('dg_spec_plan', 'name', uid) FROM dg_spec_plan_f")
    val plan = df.queryExecution.executedPlan.toString()
    assert(!plan.contains("Join") && !plan.contains("Exchange"), plan)
    assert(df.as[String].collect().toSet == Set("alice", "bob"))
  }

  test("loud failures: duplicate keys, NULL keys, oversize dimension, " +
      "unknown dictionary, unknown attribute") {
    intercept[IllegalArgumentException] {
      Dictionaries.create(spark, "dg_dup",
        Seq((1L, "a"), (1L, "b")).toDF("k", "v"), "k")
    }
    intercept[IllegalArgumentException] {
      Dictionaries.create(spark, "dg_nullkey",
        Seq((Some(1L), "a"), (None, "b")).toDF("k", "v"), "k")
    }
    intercept[IllegalStateException] {
      Dictionaries.create(spark, "dg_big",
        (1L to 10L).toDF("k").withColumn("v", col("k")), "k",
        maxEntries = 5)
    }
    Seq(1L).toDF("uid").createOrReplaceTempView("dg_spec_err_f")
    val e1 = intercept[Exception] {
      spark.sql("SELECT dict_get('dg_never_created', 'v', uid) " +
        "FROM dg_spec_err_f").collect()
    }
    assert(e1.getMessage.contains("no dictionary"))
    Dictionaries.create(spark, "dg_attr", dim, "k")
    val e2 = intercept[Exception] {
      spark.sql("SELECT dict_get('dg_attr', 'nope', uid) " +
        "FROM dg_spec_err_f").collect()
    }
    assert(e2.getMessage.contains("no attribute"))
  }

  test("refresh: create() again swaps the broadcast — new values are " +
      "served; drop() removes the dictionary") {
    Dictionaries.create(spark, "dg_refresh", dim, "k")
    Seq(1L).toDF("uid").createOrReplaceTempView("dg_refresh_f")
    def q = spark.sql(
      "SELECT dict_get('dg_refresh', 'name', uid) FROM dg_refresh_f")
    assert(q.as[String].head() == "alice")
    Dictionaries.create(spark, "dg_refresh",
      Seq((1L, "alicia", "X")).toDF("k", "name", "segment"), "k")
    assert(q.as[String].head() == "alicia")
    Dictionaries.drop("dg_refresh")
    intercept[Exception] { q.collect() }
  }

  test("refresh is drain-safe: a plan bound BEFORE the refresh still " +
      "evaluates after it (old snapshot), instead of dying on a " +
      "destroyed broadcast — the CH LIFETIME reload contract") {
    Dictionaries.create(spark, "dg_drain", dim, "k")
    Seq(1L, 2L).toDF("uid").createOrReplaceTempView("dg_drain_f")
    val bound = spark.sql(
      "SELECT dict_get('dg_drain', 'name', uid) FROM dg_drain_f")
    // force analysis + physical planning: the expression is now bound
    // to the CURRENT broadcast object
    bound.queryExecution.executedPlan
    Dictionaries.create(spark, "dg_drain",
      Seq((1L, "ALICE2", "Y"), (2L, "BOB2", "Z"))
        .toDF("k", "name", "segment"), "k")
    // the displaced broadcast was unpersisted, not destroyed: the bound
    // plan re-fetches the driver value and serves its original snapshot
    assert(bound.as[String].collect().toSet == Set("alice", "bob"))
    // new plans see the refreshed dictionary
    assert(spark.sql(
      "SELECT dict_get('dg_drain', 'name', uid) FROM dg_drain_f")
      .as[String].collect().toSet == Set("ALICE2", "BOB2"))
  }

  test("refresh under concurrent queries: a TTL loop re-creating the " +
      "dictionary while queries run never aborts one, and every result " +
      "is a consistent snapshot") {
    Dictionaries.create(spark, "dg_race",
      Seq((1L, "a0", "S"), (2L, "b0", "S")).toDF("k", "name", "segment"),
      "k")
    Seq(1L, 2L).toDF("uid").createOrReplaceTempView("dg_race_f")
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val refresherErr = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val refresher = new Thread(() => {
      var gen = 0L
      try while (!stop.get()) {
        gen += 1
        Dictionaries.create(spark, "dg_race",
          Seq((1L, s"a$gen", "S"), (2L, s"b$gen", "S"))
            .toDF("k", "name", "segment"), "k")
      } catch { case t: Throwable => refresherErr.set(t) }
    })
    refresher.start()
    try {
      (1 to 40).foreach { _ =>
        // each query binds whatever generation is current at analysis
        // time; with destroy-on-refresh this collect() throws
        // "Broadcast used after destroy" under the racing refresher
        val rows = spark.sql(
          """SELECT uid, dict_get('dg_race', 'name', uid) AS n
            |FROM dg_race_f""".stripMargin)
          .as[(Long, String)].collect().toMap
        // snapshot consistency: both keys answer from ONE generation
        assert(rows.keySet == Set(1L, 2L))
        assert(rows(1L).stripPrefix("a") == rows(2L).stripPrefix("b"),
          s"torn snapshot: $rows")
      }
    } finally { stop.set(true); refresher.join(30000) }
    assert(refresherErr.get() == null,
      s"refresher thread failed: ${refresherErr.get()}")
  }

  test("timestamp and non-string attribute types round through the " +
      "internal representation") {
    val d = Seq((1L, java.sql.Timestamp.valueOf("2024-01-02 03:04:05.123456"),
      2.5)).toDF("k", "ts", "score")
    Dictionaries.create(spark, "dg_types", d, "k")
    Seq(1L).toDF("uid").createOrReplaceTempView("dg_types_f")
    val row = spark.sql(
      """SELECT dict_get('dg_types', 'ts', uid) AS ts,
        |       dict_get('dg_types', 'score', uid) AS sc
        |FROM dg_types_f""".stripMargin).head()
    assert(row.getTimestamp(0) ==
      java.sql.Timestamp.valueOf("2024-01-02 03:04:05.123456"))
    assert(row.getDouble(1) == 2.5)
  }
}
