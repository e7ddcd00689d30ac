package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Relational
import graft.sources.IO

/** M2: source retention (reference v2/dag:132-141 —
  * `DELETE FROM public.logs WHERE dttm < DATE_TRUNC('MONTH', NOW() -
  * INTERVAL '30 MONTH')`), in two forms.
  */
object Retention {

  /** Lake-table form: filtered rewrite of only the months that fall
    * behind the horizon — partition pruning keeps the untouched months
    * unread; dynamic overwrite would rewrite only affected partitions.
    * Here the whole retained set is rewritten because retention by
    * definition touches the oldest partitions wholesale.
    */
  def rewrite(spark: SparkSession, path: String, tsCol: String,
              keyCol: String, months: Int,
              anchor: java.sql.Timestamp): DataFrame = {
    val df = IO.readParquet(spark, path).drop("month")
    val kept = Relational.applyRetention(df, tsCol,
      lit(anchor.toString).cast("timestamp"), months)
    rewriteAndSwap(spark, path)(
      IO.writeFact(kept, _, tsCol, keyCol, overwritePartitions = false))
    IO.readParquet(spark, path)
  }

  /** The one crash-safe rewrite sequence behind [[rewrite]], [[compact]]
    * and [[optimizeFinal]]: drop any partial tmp left by a run that
    * crashed mid-write (so the write never mixes generations), `write`
    * a fresh tmp — the write action materializes fully from the live
    * dir before the swap touches it — carry the replay markers over,
    * then promote tmp through [[swapInto]].
    */
  private def rewriteAndSwap(spark: SparkSession, path: String)(
      write: String => Unit): Unit = {
    val tmp = path + TmpSuffix
    fsOf(spark, tmp).delete(hPath(tmp), true)
    write(tmp)
    copyMarkers(spark, path, tmp)
    swapInto(spark, tmp, path)
  }

  /** Streaming replay markers (_graft_commits, EventStream.factSink /
    * DocStream) live INSIDE the table dir; copy them into the new
    * generation before a swap or a post-rewrite foreachBatch replay
    * would see no marker and re-append its batch. Copy, not rename —
    * the live dir must stay complete until swapInto promotes tmp.
    */
  private def copyMarkers(spark: SparkSession, path: String,
                          tmp: String): Unit = {
    val fs = fsOf(spark, path)
    val markers = hPath(path + "/_graft_commits")
    if (fs.exists(markers))
      org.apache.hadoop.fs.FileUtil.copy(fs, markers, fs,
        hPath(tmp + "/_graft_commits"), false,
        spark.sparkContext.hadoopConfiguration)
  }

  /** Small-file compaction: rewrite a parquet directory into
    * ~`targetFileBytes` files with identical content, promoted through
    * the same crash-safe [[swapInto]] (a crash mid-compaction heals via
    * [[recover]]). The maintenance pass every streaming/incremental
    * sink eventually needs — micro-batch appends accumulate files far
    * below the efficient scan size, and at 100 TB the file count, not
    * the byte count, is what kills listing and task-scheduling time.
    * Operates on one leaf directory: for a month-partitioned fact
    * table, compact each month dir (only recent months accumulate
    * appends; closed months stay untouched).
    *
    * @return (files before, files after)
    */
  def compact(spark: SparkSession, path: String,
              targetFileBytes: Long = 128L << 20): (Int, Int) = {
    val fs = fsOf(spark, path)
    if (!fs.exists(hPath(path))) return (0, 0)
    val parts = fs.listStatus(hPath(path))
      .filter(f => f.isFile && f.getPath.getName.startsWith("part-"))
    val nBefore = parts.length
    if (nBefore == 0) return (0, 0) // nothing to rewrite — leave the dir be
    val n = math.max(1, math.ceil(
      parts.map(_.getLen).sum.toDouble / targetFileBytes).toInt)
    rewriteAndSwap(spark, path)(IO.readParquet(spark, path).repartition(n)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(_))
    (nBefore, n)
  }

  /** ClickHouse `OPTIMIZE TABLE … FINAL` — the merge half of
    * ReplacingMergeTree made explicit. A4 (`Relational.dedupLatest`,
    * create_tables.sql:15,41,90) gives queries merge-time semantics at
    * READ time; this maintenance pass rewrites the table with the
    * collapse applied, so every later scan stops paying the dedup
    * window — exactly what a CH background merge (or an operator-issued
    * OPTIMIZE FINAL) does to a part.
    *
    * Collapse scope is the month PARTITION, matching CH: merges never
    * cross partitions, so a key whose versions land in different months
    * keeps one row per month. Consequently no month can vanish (a
    * present month keeps ≥ 1 row per key) and the rewrite is total, not
    * partial. Latest `versionCol` wins with `tieBreak` descending — the
    * same documented determinism deviation as A4 (CH keeps an arbitrary
    * row absent a version).
    *
    * One shuffle (the dedup window on (month, key)); the write's
    * repartition by (month, shard) is the second, intentional exchange
    * every fact write pays. Promoted through the same crash-safe
    * [[swapInto]] as retention/compaction, markers preserved.
    */
  def optimizeFinal(spark: SparkSession, path: String, tsCol: String,
                    keyCol: String, versionCol: String,
                    tieBreak: Seq[String] = Nil): DataFrame = {
    val df = IO.readParquet(spark, path)
    val merged = Relational.dedupLatest(df, Seq("month", keyCol),
      versionCol, tieBreak).drop("month")
    rewriteAndSwap(spark, path)(
      IO.writeFact(merged, _, tsCol, keyCol, overwritePartitions = false))
    IO.readParquet(spark, path)
  }

  private val TmpSuffix = "__retained"
  private val BackupSuffix = "__backup"

  private def hPath(p: String) = new org.apache.hadoop.fs.Path(p)

  /** FileSystem that OWNS the path (s3a://, hdfs://, file:// each resolve
    * to their own FS) — `FileSystem.get(conf)` would resolve the default
    * FS and silently operate on the wrong store for any non-default URI.
    */
  private def fsOf(spark: SparkSession, p: String) =
    hPath(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Crash-safe directory swap: promote `tmpDir` (a complete, fully
    * written copy) to `liveDir` such that at EVERY instant at least one
    * complete copy exists on disk:
    *
    *   (1) rename live → backup   (live gone, backup + tmp complete)
    *   (2) rename tmp  → live     (live complete again)
    *   (3) delete backup
    *
    * The old delete-then-rename order had a window after the delete where
    * zero copies existed. A crash inside this sequence is healed by
    * [[recover]]; callers that read `liveDir` first should recover() if
    * the read fails.
    *
    * REQUIRES an atomic directory rename from the path's FileSystem —
    * HDFS and posix `file://` provide it; S3A does NOT (its "rename" is a
    * per-object copy+delete, so a crash mid-rename leaves a PARTIAL
    * directory that [[recover]] could wrongly promote). On object stores
    * run retention against a table format with a metadata-pointer commit
    * (Iceberg/Delta — swap = one atomic pointer write), or point
    * `liveDir` at an HDFS/posix staging area and sync to the store
    * afterwards. Enforced below: refuses the swap on a FileSystem whose
    * scheme is a known non-atomic-rename store.
    */
  /** Object-store schemes whose directory "rename" is copy+delete, not
    * atomic — the swap's at-least-one-complete-copy invariant cannot hold
    * on them (see scaladoc above).
    */
  private val NonAtomicRenameSchemes = Set("s3a", "s3", "s3n", "gs", "wasb",
    "wasbs", "abfs", "abfss", "oss", "cos")

  private[graft] def requireAtomicRename(scheme: String): Unit =
    require(!NonAtomicRenameSchemes.contains(
      scheme.toLowerCase(java.util.Locale.ROOT)),
      s"swapInto requires atomic directory rename; '$scheme' renames by " +
        "copy+delete. Use a metadata-pointer table format " +
        "(Iceberg/Delta) or an HDFS/posix staging path for retention " +
        "on this store.")

  def swapInto(spark: SparkSession, tmpDir: String, liveDir: String): Unit = {
    val fs = fsOf(spark, liveDir)
    requireAtomicRename(Option(fs.getUri.getScheme).getOrElse(""))
    val live = hPath(liveDir)
    val tmp = hPath(tmpDir)
    val backup = hPath(liveDir + BackupSuffix)
    // A backup can only pre-exist if a prior run crashed after step (2);
    // live was complete then, so the stale backup is safe to drop.
    if (fs.exists(backup)) fs.delete(backup, true)
    if (fs.exists(live))
      require(fs.rename(live, backup), s"rename $live -> $backup failed")
    require(fs.rename(tmp, live), s"rename $tmp -> $live failed")
    fs.delete(backup, true)
  }

  /** Heal a table directory after a crash inside [[swapInto]] (or during
    * the tmp write). Returns true if a repair was performed.
    *
    *   - live present: consistent; drop stale backup/tmp if any.
    *   - live missing, tmp present: crash between (1) and (2) — tmp was
    *     fully written before the swap started, so promote it and drop
    *     the backup: the retention rewrite completes.
    *   - live missing, only backup: promote the backup — the rewrite
    *     rolls back; re-run retention.
    */
  def recover(spark: SparkSession, liveDir: String): Boolean = {
    val fs = fsOf(spark, liveDir)
    val live = hPath(liveDir)
    val tmp = hPath(liveDir + TmpSuffix)
    val backup = hPath(liveDir + BackupSuffix)
    if (fs.exists(live)) {
      val hadStale = fs.exists(backup) || fs.exists(tmp)
      fs.delete(backup, true); fs.delete(tmp, true)
      hadStale
    } else if (fs.exists(tmp)) {
      require(fs.rename(tmp, live), s"rename $tmp -> $live failed")
      fs.delete(backup, true)
      true
    } else if (fs.exists(backup)) {
      require(fs.rename(backup, live), s"rename $backup -> $live failed")
      true
    } else false
  }

  /** JDBC form: the reference's literal behavior — a driver-side DELETE
    * against the source database. Deliberately outside the DataFrame API
    * (SURVEY.md §7.4): an imperative utility isolated here so the
    * relational core stays pure. Uses plain java.sql so any JDBC source
    * works; the SQL text matches the reference's shape.
    */
  def jdbcDelete(url: String, props: java.util.Properties, table: String,
                 tsCol: String, months: Int): Int = {
    val conn = java.sql.DriverManager.getConnection(url, props)
    try {
      val stmt = conn.createStatement()
      try stmt.executeUpdate(
        s"DELETE FROM $table WHERE $tsCol < DATE_TRUNC('MONTH', NOW() - INTERVAL '$months MONTH')")
      finally stmt.close()
    } finally conn.close()
  }
}
