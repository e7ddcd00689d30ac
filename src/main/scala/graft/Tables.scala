package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

import graft.sources.IO

/** Fixture-table access (TESTDATA.md). Every `SparkEntry.queries` entry
  * receives a scale-factor directory and reads one parquet per table, the
  * same files the DuckDB oracle sees.
  *
  * At 100 TB these would be month-partitioned parquet/lake tables; the
  * single-file layout is the test harness's, not the engine's. All engine
  * operators take plain DataFrames so the source layout is orthogonal.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Columns stored as parquet TIMESTAMP(NANOS), which Spark's vectorized
    * reader rejects outright. They are read as nanos-since-epoch longs
    * (`spark.sql.legacy.parquet.nanosAsLong`, pinned in
    * [[Sessions.builder]]) and converted to microsecond timestamps — the
    * fixture values are µs-precision, and DuckDB (the oracle) also
    * truncates nanos to its µs timestamps, so parity is exact.
    */
  private val nanosCols: Map[String, Seq[String]] = Map("events" -> Seq("ts"))

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    normalize(name, IO.readParquet(spark, s"$sfDir/$name.parquet"))

  /** The fixture fixups on the raw parquet read of table `name`. */
  private[graft] def normalize(name: String, df: DataFrame): DataFrame = {
    val deNanosed = nanosCols.getOrElse(name, Nil).foldLeft(df) { (d, c) =>
      if (d.schema(c).dataType == LongType)
        // `div` = integer division: raw nanos exceed double precision (2^53)
        d.withColumn(c, expr(s"timestamp_micros(CAST($c div 1000 AS BIGINT))"))
      else d
    }
    // Fixture drift absorber: µs parquet timestamps written with
    // isAdjustedToUTC=false surface as TIMESTAMP_NTZ, which the engine's
    // TimestampType-typed operator surface (unix_micros, CAST(ts AS
    // DOUBLE), window ranges) rejects. The session timezone is pinned
    // UTC everywhere (SparkEntry/Bench/Verify/specs), so the cast is a
    // pure re-tag of the same instant — exact parity with DuckDB, which
    // reads the same file as a plain (naive) TIMESTAMP.
    deNanosed.schema.fields.filter(_.dataType == TimestampNTZType)
      .foldLeft(deNanosed) { (d, f) =>
        d.withColumn(f.name, col(f.name).cast(TimestampType))
      }
  }
}
