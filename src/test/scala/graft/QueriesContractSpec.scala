package graft

/** Meta-contract for the driver gate: every oracle entry points at a
  * real query, every query runs, and the ones that must produce rows
  * do. Catches the failure mode where a typo or an empty result would
  * silently zero a round's correctness score.
  */
class QueriesContractSpec extends SparkSpec {

  /** Queries whose result size legitimately depends on planted
    * duplicates/neighbors in the fixtures — may be empty at tiny sf.
    */
  private val mayBeEmpty = Set(
    "dedup_ngram_jaccard", "dedup_minhash_lsh", "dedup_minhash_verified",
    "dedup_simhash", "dedup_minhash_incremental", "emb_near_dup",
    "j2_anti_missing", "dedup_source_overlap")

  test("every oracle key has a query implementation") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  test("every query has an oracle — the gate's zero-err invariant") {
    // A queries entry without oracleSql lands in the driver gate as
    // err="no_oracle", indistinguishable from broken (round 12's one
    // such row). Shapes that cannot have a SQL oracle by construction
    // belong in sweepQueries, not here.
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(missing.isEmpty, s"query without oracle: $missing")
  }

  test("sweep-only registry: no key collisions, every entry runs") {
    val overlap = SparkEntry.sweepQueries.keySet & SparkEntry.queries.keySet
    assert(overlap.isEmpty, s"sweepQueries shadowing queries: $overlap")
    val oracled = SparkEntry.sweepQueries.keySet & SparkEntry.oracleSql.keySet
    assert(oracled.isEmpty,
      s"sweepQueries with an oracle belong in queries: $oracled")
    SparkEntry.sweepQueries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      assert(fn(spark, sf).count() > 0, s"$name: 0 rows")
    }
  }

  test("every fixture table resolves with no Spark job, to the schema " +
      "Spark's own inference gives") {
    val m = RunMetrics.attach(spark)
    try Tables.all.foreach { t =>
      var schema: org.apache.spark.sql.types.StructType = null
      val s = m.measure(spark) { schema = Tables.load(spark, sf, t).schema }
      assert(s.jobs == 0, s"$t: schema resolution ran ${s.jobs} job(s)")
      val inferred = Tables.normalize(t,
        spark.read.parquet(s"$sf/$t.parquet")).schema
      assert(schema == inferred, t)
    } finally spark.sparkContext.removeSparkListener(m)
  }

  test("entry returns rows (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query executes at sf0.001; non-data-dependent ones return rows") {
    val failures = scala.collection.mutable.Buffer[String]()
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val n = fn(spark, sf).count()
        if (n == 0 && !mayBeEmpty.contains(name))
          failures += s"$name: 0 rows"
      } catch {
        case e: Throwable => failures += s"$name: ${e.getMessage.take(100)}"
      }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }
}
