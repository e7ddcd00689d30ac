package graft.pipeline

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.broadcast

import graft.functions.Dictionaries

/** The reference's in-RAM dictionaries with LIFETIME refresh
  * (create_tables.sql:48-67,97-114: hashed layout, 43 200 s TTL) as a
  * TTL-cached broadcast dimension.
  *
  * `get` returns a broadcast-hinted, cached DataFrame; after `ttlMillis`
  * the next call re-reads the dimension, re-caches and re-broadcasts —
  * exactly the dictionary reload. Consumers just join against `get()`
  * wherever the reference would call dictGet.
  *
  * The SQL surface rides the SAME loop: construct with [[asSqlDict]]
  * and every refresh also re-calls [[graft.functions.Dictionaries.create]],
  * so `dict_get('name', ...)` answers from the same TTL-governed
  * snapshot the join form serves — one mechanism, two consumer shapes.
  * The swap is drain-safe (Dictionaries unpersists, never destroys, the
  * displaced broadcast), matching CH's contract that a reload never
  * aborts running queries.
  */
final class DictionaryRefresh(load: () => DataFrame, ttlMillis: Long,
                              clock: () => Long = () => System.currentTimeMillis(),
                              sqlDict: Option[DictionaryRefresh.SqlDict] = None) {

  private case class Entry(df: DataFrame, loadedAt: Long)
  private val cached = new AtomicReference[Option[Entry]](None)

  def get(): DataFrame = {
    val now = clock()
    cached.get() match {
      case Some(e) if now - e.loadedAt < ttlMillis => e.df
      case stale =>
        stale.foreach(e => e.df.unpersist(blocking = false))
        val fresh = load().cache()
        sqlDict.foreach(d => Dictionaries.create(
          d.spark, d.name, fresh, d.keyCol, d.maxEntries))
        val entry = Entry(broadcast(fresh), now)
        cached.set(Some(entry))
        entry.df
    }
  }

  def invalidate(): Unit = {
    cached.get().foreach(e => e.df.unpersist(blocking = false))
    cached.set(None)
  }
}

object DictionaryRefresh {

  /** Registration target for the SQL surface: on every TTL reload the
    * dimension is re-published as dictionary `name` for `dict_get`.
    */
  final case class SqlDict(spark: SparkSession, name: String, keyCol: String,
                           maxEntries: Int = Dictionaries.DefaultMaxEntries)

  /** A refresh loop that serves BOTH consumer forms from one snapshot:
    * the returned loop's `get()` is the join-form dimension, and
    * dictionary `name` that `dict_get('name', ...)` reads is re-published
    * on each reload.
    */
  def asSqlDict(spark: SparkSession, name: String, keyCol: String,
                load: () => DataFrame, ttlMillis: Long,
                clock: () => Long = () => System.currentTimeMillis(),
                maxEntries: Int = Dictionaries.DefaultMaxEntries): DictionaryRefresh =
    new DictionaryRefresh(load, ttlMillis, clock,
      Some(SqlDict(spark, name, keyCol, maxEntries)))
}
