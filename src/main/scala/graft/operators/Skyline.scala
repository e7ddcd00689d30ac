package graft.operators

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._

/** Skyline (Pareto-optimal set) operator: rows not dominated by any
  * other row, where row q dominates p iff q is no worse on every
  * criterion and strictly better on at least one.
  *
  * Algorithm follows the two-phase shape of the distributed skyline
  * literature (cf. "Integration of Skyline Queries into Spark SQL",
  * EDBT 2023, from PAPERS.md): phase 1 computes a LOCAL skyline per
  * partition with an in-memory dominance buffer (mapPartitions — each
  * partition's survivors are tiny compared to its input), phase 2
  * computes the global skyline over the unioned survivors on one
  * partition. Dominance is transitive, so local pruning never removes a
  * global skyline point. At 100 TB phase 1 does all the heavy lifting
  * embarrassingly parallel; phase 2 sees |partitions| × |local skyline|
  * rows, which is small for realistic dimensionalities.
  */
object Skyline {

  /** Phase-2 safety bound: the global pass runs on ONE task, so the
    * phase-1 survivor union must stay driver-sized. Realistic inputs do
    * (local skylines are tiny for low-dimensional criteria), but an
    * adversarial distribution — e.g. an anti-correlated criterion pair,
    * where nearly every row is locally Pareto-optimal — would silently
    * funnel the whole input through a single task. Above the bound the
    * operator fails LOUDLY with guidance instead.
    */
  val MaxGlobalRows: Long = 5000000L

  /** @param minCols criteria to minimize; @param maxCols to maximize.
    * Numeric columns only; null criteria rows are excluded.
    * @param maxGlobalRows phase-2 input bound (see [[MaxGlobalRows]]);
    *        raise it only with executor memory to back it
    */
  def skyline(df: DataFrame, minCols: Seq[String], maxCols: Seq[String],
              maxGlobalRows: Long = MaxGlobalRows): DataFrame = {
    val crit = minCols ++ maxCols
    val clean = df.na.drop(crit)
    val schema = clean.schema
    val idx = crit.map(schema.fieldIndex)
    val signs = minCols.map(_ => 1.0) ++ maxCols.map(_ => -1.0)

    // criterion vector, normalized so every criterion is "minimize"
    def vec(r: Row): Array[Double] = {
      val a = new Array[Double](idx.length)
      var i = 0
      while (i < idx.length) {
        a(i) = signs(i) * r.getAs[Number](idx(i)).doubleValue(); i += 1
      }
      a
    }

    def dominates(q: Array[Double], p: Array[Double]): Boolean = {
      var notWorse = true; var strictlyBetter = false; var i = 0
      while (i < q.length && notWorse) {
        if (q(i) > p(i)) notWorse = false
        else if (q(i) < p(i)) strictlyBetter = true
        i += 1
      }
      notWorse && strictlyBetter
    }

    def localSkyline(it: Iterator[Row]): Iterator[Row] = {
      val buf = ArrayBuffer.empty[(Row, Array[Double])]
      it.foreach { r =>
        val v = vec(r)
        if (!buf.exists { case (_, w) => dominates(w, v) }) {
          buf.filterInPlace { case (_, w) => !dominates(v, w) }
          buf += ((r, v))
        }
      }
      buf.iterator.map(_._1)
    }

    val enc = Encoders.row(schema)
    val local = clean.mapPartitions(localSkyline _)(enc).persist()
    try {
      val survivors = local.count()
      if (survivors > maxGlobalRows)
        throw new IllegalStateException(
          s"Skyline phase-1 survivors ($survivors rows) exceed " +
            s"maxGlobalRows=$maxGlobalRows: the global pass would funnel " +
            "them through one task. This happens when the criteria are " +
            "anti-correlated and nearly every row is locally " +
            "Pareto-optimal. Reduce the criterion set, pre-filter the " +
            "input, or raise maxGlobalRows only with the executor memory " +
            "to back a single-task pass of that size.")
      local.repartition(1).mapPartitions(localSkyline _)(enc).checkpoint()
    } finally local.unpersist(blocking = false)
  }
}
