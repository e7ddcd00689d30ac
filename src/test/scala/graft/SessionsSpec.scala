package graft

import org.apache.spark.sql.functions.{col, lit}

/** The session factory's JVM-wide settings, checked on the shared test
  * session.
  */
class SessionsSpec extends SparkSpec {

  private lazy val metrics = RunMetrics.attach(spark)

  test("each generated class compiles once per JVM: a second round over " +
      "150 distinct query shapes compiles nothing") {
    // more distinct shapes than Spark's default generated-class cache
    // (100) holds; each literal is inlined, so each shape is its own class
    val shapes = (1 to 150).map(i =>
      spark.range(4).select(col("id") + lit(7340000L + i)))
    def round() = metrics.measure(spark)(shapes.foreach(_.collect()))
    val first = round()
    val second = round()
    assert(first.compiles >= shapes.size, "the shapes must compile")
    assert(second.compiles == 0L,
      s"${second.compiles} of ${first.compiles} classes recompiled: the " +
        "generated-class cache evicted the working set")
  }
}
