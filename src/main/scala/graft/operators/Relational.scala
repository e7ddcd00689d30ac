package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The relational core — one function per operator row of SURVEY.md §2.
  *
  * Everything here is a pure DataFrame transform, declared with the
  * DataFrame API so Catalyst gets the whole plan: watermark predicates
  * push down to the scan, projections prune columns, broadcast joins
  * replace the reference's in-RAM dictionaries. No collect() except the
  * single-value watermark (SURVEY.md §7.4), which is the reference's own
  * driver-side boundary (v2/dag:106-114).
  */
object Relational {

  /** Cold-start watermark epoch — v1/dag:71-72, v2/dag:113-114. */
  val ColdStartEpoch = "2000-01-01 00:00:00"

  // --- A1/A2: scalar-MAX watermark ------------------------------------

  /** Driver-side timestamp extraction tolerant of every external type
    * Spark may hand back for a time-like column: `Timestamp` (classic),
    * `LocalDateTime` (TIMESTAMP_NTZ sources — naive values are taken as
    * UTC, matching the engine's pinned session timezone), `Instant`
    * (java8 datetime API mode). A blind `Row.getTimestamp` ClassCastExs
    * on the first two alternates.
    */
  private def rowTimestamp(v: Any): Option[java.sql.Timestamp] = v match {
    case null                           => None
    case t: java.sql.Timestamp          => Some(t)
    case l: java.time.LocalDateTime     =>
      Some(java.sql.Timestamp.from(l.toInstant(java.time.ZoneOffset.UTC)))
    case i: java.time.Instant           => Some(java.sql.Timestamp.from(i))
    case other => throw new IllegalArgumentException(
      s"watermark field is not time-typed: ${other.getClass.getName}")
  }

  /** A1: `SELECT MAX(field) FROM target` — one row to the driver, the only
    * sanctioned collect in the engine. Falls back to the 2000-01-01 epoch
    * when the target is empty (cold start, v2/dag:113-114).
    */
  def watermark(target: DataFrame, field: String): java.sql.Timestamp =
    rowTimestamp(target.agg(max(col(field))).first().get(0))
      .getOrElse(java.sql.Timestamp.valueOf(ColdStartEpoch))

  /** A2: month-truncated watermark (v1/dag:64-69) so whole months reload,
    * pairing with the idempotent partition replacement (M1).
    */
  def monthWatermark(target: DataFrame, field: String): java.sql.Timestamp =
    rowTimestamp(target.agg(date_trunc("month", max(col(field)))).first()
      .get(0))
      .getOrElse(java.sql.Timestamp.valueOf(ColdStartEpoch))

  // --- F1/F2/F3: incremental range filters ----------------------------

  /** F1: strict watermark filter `field > wm` (v2 upload,
    * f_superset_logs_upload_data.sql:14). The string literal is cast by
    * Catalyst exactly like ClickHouse coerces the spliced literal (F3),
    * and the predicate pushes down to the source scan.
    */
  def newerThan(src: DataFrame, field: String, wm: String): DataFrame =
    src.filter(col(field) > lit(wm).cast("timestamp"))

  /** F2: inclusive month-scoped filter `field >= wm` (v1,
    * upload_to_processed_table.sql:14) — re-reads the watermark month;
    * dedup/partition-replace downstream makes it idempotent.
    */
  def onOrAfter(src: DataFrame, field: String, wm: String): DataFrame =
    src.filter(col(field) >= lit(wm).cast("timestamp"))

  // --- F4: modulo shard split -----------------------------------------

  /** F4: disjoint modulo predicate `key % shards = shard` (v1/dag:119,124).
    * As a parallelism device this is superseded by partitioned reads; as a
    * predicate it remains part of the query surface.
    */
  def moduloShard(df: DataFrame, key: String, shards: Int, shard: Int): DataFrame =
    df.filter(col(key) % shards === shard)

  // --- A4 / §2.5: ReplacingMergeTree dedup ----------------------------

  /** A4: keep exactly one row per key — the explicit form of
    * ReplacingMergeTree's merge-time dedup (create_tables.sql:15,41,90).
    * Deterministic semantics (SURVEY.md §7.4): latest `versionCol` wins,
    * ties broken by the ordered `tieBreak` columns descending. ClickHouse
    * keeps an arbitrary row absent a version column; we deviate on
    * purpose and document it.
    *
    * Scale note: one shuffle on the key (window partitionBy). A write
    * that then repartitions on more columns, as
    * [[graft.sources.IO.writeFact]] does on `(month, key)`, shuffles
    * again: Spark drops a repartition only when its input is already
    * hash-partitioned on the same expressions.
    */
  def dedupLatest(df: DataFrame, keys: Seq[String], versionCol: String,
                  tieBreak: Seq[String] = Nil): DataFrame = {
    val order = (versionCol +: tieBreak).map(c => col(c).desc)
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Keep exactly the FIRST row per key (earliest version), the dual of
    * dedupLatest — used by debouncing, where the first event of a burst
    * is the real one.
    */
  def dedupFirst(df: DataFrame, keys: Seq[String], versionCol: String,
                 tieBreak: Seq[String] = Nil): DataFrame = {
    val order = (versionCol +: tieBreak).map(c => col(c).asc)
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Debounce: collapse bursts of identical (keys) events inside a fixed
    * time bucket to their first occurrence — the event-stream hygiene
    * pass before sessionization/aggregation. Bucket = integer division
    * of epoch micros, so it is engine-portable and join-free.
    */
  def debounce(df: DataFrame, keys: Seq[String], tsCol: String,
               bucketSeconds: Long, tieBreak: Seq[String] = Nil): DataFrame = {
    val bucket = expr(s"unix_micros($tsCol) div ${bucketSeconds * 1000000L}")
    dedupFirst(df.withColumn("__bucket", bucket),
      keys :+ "__bucket", tsCol, tieBreak)
      .drop("__bucket")
  }

  // --- P1/P2: projection + lineage literal ----------------------------

  /** P1: explicit column projection (f_superset_*_upload_data.sql:3-11). */
  def project(df: DataFrame, cols: Seq[String]): DataFrame =
    df.select(cols.map(col): _*)

  /** P2: constant lineage column `source` (f_superset_logs_upload_data.sql:12). */
  def withLineage(df: DataFrame, srcDb: String): DataFrame =
    df.withColumn("source", lit(srcDb))

  // --- J1: dictionary-style broadcast enrichment ----------------------

  /** J1: the reference's hashed dictionary (create_tables.sql:48-67,97-114)
    * is a broadcast hash join: facts LEFT JOIN broadcast(dim) on the FK,
    * keeping only the dictionary's projected attribute columns. NULLs from
    * unmatched keys are repaired with the entity defaults (§1.4) by the
    * caller. The explicit broadcast() hint is the LIFETIME(43200) hash
    * table; refresh = re-read + re-broadcast (DictionaryRefresh).
    */
  def enrich(facts: DataFrame, dim: DataFrame, factKey: String,
             dimKey: String, dimCols: Seq[String]): DataFrame = {
    val d = dim.select((dimKey +: dimCols).distinct.map(col): _*)
    facts.join(broadcast(d), facts(factKey) === d(dimKey), "left")
      .drop(d(dimKey))
  }

  // --- J2: anti/semi reconsistency ------------------------------------

  /** J2: rows of src absent from tgt by key — the general form of the
    * incremental load's "only rows I don't already have" (v2/dag:106-122).
    */
  def notInTarget(src: DataFrame, tgt: DataFrame, key: String): DataFrame =
    src.join(tgt.select(key), Seq(key), "left_anti")

  /** Semi form: rows of src present in tgt by key. */
  def inTarget(src: DataFrame, tgt: DataFrame, key: String): DataFrame =
    src.join(tgt.select(key), Seq(key), "left_semi")

  // --- §2.7: union of source generations ------------------------------

  /** Old+new Superset generations merged into one table, distinguished by
    * the `source` column (v2/README:11-41). unionByName so column order
    * differences between generations cannot corrupt data.
    */
  def unionGenerations(generations: Seq[DataFrame]): DataFrame =
    generations.reduce(_.unionByName(_, allowMissingColumns = false))

  // --- M2: retention horizon ------------------------------------------

  /** M2: `DATE_TRUNC('MONTH', anchor - INTERVAL '30 MONTH')` (v2/dag:134).
    * anchor defaults to now() in production; tests pass a fixed literal.
    */
  def retentionHorizon(anchor: Column, months: Int): Column =
    date_trunc("month", anchor - expr(s"INTERVAL $months MONTHS"))

  /** Retention as a lake-table rewrite: keep rows at/after the horizon. */
  def applyRetention(df: DataFrame, field: String, anchor: Column,
                     months: Int): DataFrame =
    df.filter(col(field) >= retentionHorizon(anchor, months))

  // --- A3: distinct (GROUP BY with no aggregates) ---------------------

  /** A3: distinct partition list (v1/dag:88-93) — generalized distinct. */
  def distinctValues(df: DataFrame, cols: Seq[String]): DataFrame =
    df.select(cols.map(col): _*).distinct()

  // --- L1/L2: limits ---------------------------------------------------

  /** L1: batch cap (v1 `limit 1000`) made deterministic with an explicit
    * sort — the reference's unordered LIMIT is a documented wart
    * (SURVEY.md §2.6).
    */
  def batchCap(df: DataFrame, orderCol: String, n: Int): DataFrame =
    df.orderBy(col(orderCol)).limit(n)
}
