package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Sources and sinks — SURVEY.md §2.1 / §2.9.
  *
  * The reference's storage stack (external PostgreSQL tables, Distributed
  * sharding, ReplacingMergeTree, REPLACE PARTITION) maps onto:
  *   - JDBC reads with partitioned scan parallelism (S1, replacing the
  *     manual id%2 split F4),
  *   - parquet tables partitioned by month (S2 + §1.5),
  *   - repartition-by-key writes (S6 — Spark's shuffle IS the Distributed
  *     table),
  *   - dynamic partition overwrite (M1 — the REPLACE PARTITION analogue).
  */
object IO {

  // --- S1: federated JDBC scan ----------------------------------------

  /** Partitioned JDBC read. numPartitions stripes on the key exactly like
    * v1's two modulo-predicate connections (v1/dag:116-125), but
    * generalized to N and handled by Spark's own task scheduler. Filters
    * composed downstream push into the remote query via Catalyst.
    */
  def readJdbc(spark: SparkSession, url: String, table: String,
               partitionColumn: String, lowerBound: Long, upperBound: Long,
               numPartitions: Int, props: java.util.Properties): DataFrame = {
    if (ClickHouseDialect.canHandle(url)) ClickHouseDialect.ensureRegistered()
    if (DuckDbDialect.canHandle(url)) DuckDbDialect.ensureRegistered()
    spark.read
      .option("fetchsize", 10000) // replaces the reference's LIMIT batch cap
      .jdbc(url, table, partitionColumn, lowerBound, upperBound,
        numPartitions, props)
  }

  /** Database write sink — the reference's actual landing step: an
    * INSERT into ClickHouse (hook:114-132 executes the INSERT-SELECT of
    * v2/sql/f_superset_logs_upload_data.sql:1), i.e. S5 with a database
    * on the receiving end. Each Spark partition opens one connection and
    * inserts its rows in `batchsize`-row batches, so write parallelism =
    * upstream partitioning: repartition by the shard key first and the
    * write reproduces the Distributed(..., id) routing (S6) against N
    * database shards/connections. `numPartitions` caps concurrent
    * connections so a 1000-executor job can't open 1000 sockets against
    * one database. The cap is a `repartition`, not `coalesce`: coalesce
    * propagates up the DAG and would collapse the UPSTREAM computation
    * to n tasks too — on a 1000-executor job that throttles the whole
    * pipeline, not just the connection count. The one extra shuffle is
    * the price of keeping upstream parallelism intact.
    */
  def writeJdbc(df: DataFrame, url: String, table: String,
                props: java.util.Properties,
                mode: SaveMode = SaveMode.Append,
                batchSize: Int = 10000,
                numPartitions: Option[Int] = None): Unit = {
    // jdbc:clickhouse: targets get the ClickHouse dialect (types,
    // identifier quoting, truncate semantics) instead of generic SQL
    if (ClickHouseDialect.canHandle(url)) ClickHouseDialect.ensureRegistered()
    if (DuckDbDialect.canHandle(url)) DuckDbDialect.ensureRegistered()
    val capped = numPartitions.fold(df)(n => df.repartition(n))
    capped.write
      .mode(mode)
      .option("batchsize", batchSize.toLong)
      .jdbc(url, table, props)
  }

  // --- S7: CSV bulk load (reference dialect) --------------------------

  /** The hook's clickhouse-client CSV contract (hook:92-112): header row,
    * `;` delimiter, literal `NULL` for nulls, quoting disabled (quote ' '
    * in the client flags). No SSH layer — executors read splits directly.
    */
  /** µs-precision timestamps must survive the round trip (the default
    * CSV timestamp format truncates to millis).
    */
  private val CsvTsFormat = "yyyy-MM-dd HH:mm:ss.SSSSSS"

  def readReferenceCsv(spark: SparkSession, path: String,
                       schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read
      .option("header", "true")
      .option("sep", ";")
      .option("nullValue", "NULL")
      .option("quote", "\u0000") // quoting disabled, as the client flags do
      .option("timestampFormat", CsvTsFormat)
      .schema(schema)
      .csv(path)

  def writeReferenceCsv(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("header", "true")
      .option("sep", ";")
      .option("nullValue", "NULL")
      .option("emptyValue", "")
      .option("quote", "\u0000")
      .option("timestampFormat", CsvTsFormat)
      .csv(path)

  // --- JSONEachRow interchange (ClickHouse FORMAT JSONEachRow) --------

  /** ClickHouse's `JSONEachRow` wire format: one JSON object per line,
    * the interchange format CH clients default to for row streams.
    * Spark's json source IS newline-delimited JSON, so the mapping is
    * direct; the two contract points that need pinning are µs-precision
    * timestamps (default JSON output truncates to millis — the CSV
    * dialect's lesson) and schema-enforced reads (CH reads the format
    * against the table's types; schema inference would silently widen
    * or re-type columns, so the reader takes an explicit StructType).
    * Executors read line-splittable files directly — bulk load
    * parallelism comes free, same as the CSV path.
    */
  private val JsonTsFormat = "yyyy-MM-dd HH:mm:ss.SSSSSS"

  def readJsonEachRow(spark: SparkSession, path: String,
                      schema: org.apache.spark.sql.types.StructType)
      : DataFrame =
    spark.read
      .option("timestampFormat", JsonTsFormat)
      .schema(schema)
      .json(path)

  def writeJsonEachRow(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("timestampFormat", JsonTsFormat)
      // CH JSONEachRow carries nulls explicitly; Spark's json writer
      // drops null fields by default, which would make a null-then-read
      // row lose its column under a non-nullable reader schema
      .option("ignoreNullFields", "false")
      .json(path)

  /** ORC interchange: the columnar interchange format beside parquet —
    * what a Hive/Trino-side consumer of the same lake reads natively.
    * Spark's orc source is built in (vectorized reader, predicate
    * pushdown, column pruning — the same scan contract as parquet), so
    * the mapping is direct; the contract point worth pinning is the
    * schema-enforced read (same reasoning as the JSONEachRow reader:
    * interchange formats are read against the TABLE's types, never
    * inferred). Timestamps are µs-native in ORC — no format bridge
    * needed — and files are stripe-splittable, so bulk parallelism
    * comes free.
    */
  def readOrc(spark: SparkSession, path: String,
              schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema).orc(path)

  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).orc(path)

  // --- S5/S6/L3/M1: the engine's canonical fact-table write -----------

  /** Write a fact table the way the reference's DDL lays it out:
    *   - month partition dirs  = PARTITION BY date_trunc('month', ts)
    *     (create_tables.sql:16) → partition pruning on read;
    *   - repartition by shard key = Distributed(..., id)
    *     (create_tables.sql:21) → one file set per shuffle partition,
    *     co-located for later key joins;
    *   - sortWithinPartitions = MergeTree ORDER BY (create_tables.sql:17)
    *     → parquet min/max stats + RLE actually bite.
    *
    * mode=dynamic overwrite (M1) rewrites exactly the months present in
    * `df` — the REPLACE PARTITION analogue (v1/dag:96-102); append (S5)
    * for pure inserts.
    *
    * The overwrite mode is a PER-WRITE DataFrameWriter option, never a
    * session conf: Dag.runV2 runs table loads concurrently on the shared
    * session (the reference's 3-parallel-table fan-out, v2/dag:156-168),
    * and a session-global toggle could race a concurrent Overwrite into
    * *static* mode — which deletes every partition, not just the months
    * present. Per-write scoping makes concurrent loads safe by
    * construction; DagAndApiSpec pins it with overlapping runV2 loads.
    */
  def writeFact(df: DataFrame, path: String, tsCol: String, shardKey: String,
                overwritePartitions: Boolean): Unit =
    df.withColumn("month", date_trunc("month", col(tsCol)))
      .repartition(col("month"), col(shardKey))
      .sortWithinPartitions(col(shardKey))
      .write
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("month")
      .mode(if (overwritePartitions) SaveMode.Overwrite else SaveMode.Append)
      .parquet(path)

  /** The engine's one parquet reader: `spark.read.parquet(path)` with
    * the schema taken from one footer read on the driver, so resolving
    * the DataFrame launches no Spark job. Spark's own inference
    * (`ParquetUtils.inferSchema` with mergeSchema off) reads that same
    * footer, but through `SchemaMergeUtils.mergeSchemasInParallel`, which
    * runs a `parallelize(...).collect()` job even for a single file — at
    * bench scale a whole job per table read. The footer is the one
    * inference would pick, so schemas, plans and results are unchanged;
    * Spark still discovers partition columns (`month`) from directory
    * names and appends them to the given data schema. A path with no
    * data file goes to `spark.read.parquet` as is, so it fails with the
    * error Spark gives today.
    */
  def readParquet(spark: SparkSession, path: String): DataFrame =
    footerSchema(spark, path).fold(spark.read.parquet(path))(
      spark.read.schema(_).parquet(path))

  /** The one cold-start rule: a parquet table that was never written
    * reads as `None`. The listing decides it before any analysis runs:
    * the path is missing, or it holds no data file (only `_SUCCESS`,
    * replay markers and other `_`/`.` names, what a zero-row write
    * leaves). Any other failure — a conflicting or corrupt schema, a
    * path that is not a table — propagates from the read: reading it as
    * empty would reset a watermark to the epoch or switch off
    * cross-batch dedup.
    */
  def readParquetIfPresent(spark: SparkSession, path: String): Option[DataFrame] =
    footerSchema(spark, path).map(spark.read.schema(_).parquet(path))

  /** The schema `ParquetUtils.inferSchema` would infer for `path` with
    * mergeSchema off, or `None` when the path holds no data file. Leaf
    * files are listed the way `InMemoryFileIndex` lists them (names
    * starting with `_` or `.` skipped, the two summary files kept) and
    * sorted by path string; `_common_metadata` wins, then `_metadata`,
    * then the first data file. The footer is read and converted the way
    * `ParquetFileFormat.mergeSchemasInParallel` reads it (row groups
    * skipped, the session's `SQLConf` for the type mapping).
    */
  private def footerSchema(spark: SparkSession, path: String): Option[StructType] = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    def leaves(st: FileStatus): Seq[FileStatus] =
      if (!st.isDirectory) Seq(st)
      else fs.listStatus(st.getPath).toSeq
        .filterNot(c => hiddenName(c.getPath.getName)).flatMap(leaves)
    val files =
      (try leaves(fs.getFileStatus(root))
       catch { case _: java.io.FileNotFoundException => Nil })
        .sortBy(_.getPath.toString)
    def named(n: String) = files.find(_.getPath.getName == n)
    val data = files.filterNot(f => SummaryFiles(f.getPath.getName))
    data.headOption.map { first =>
      val picked = named(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)
        .orElse(named(ParquetFileWriter.PARQUET_METADATA_FILE))
        .getOrElse(first)
      val footer = ParquetFooterReader.readFooter(
        HadoopInputFile.fromStatus(picked, conf),
        ParquetMetadataConverter.SKIP_ROW_GROUPS)
      ParquetFileFormat.readSchemaFromFooter(
        new Footer(picked.getPath, footer),
        new ParquetToSparkSchemaConverter(spark.sessionState.conf))
    }
  }

  private val SummaryFiles = Set(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE,
    ParquetFileWriter.PARQUET_METADATA_FILE)

  /** `HadoopFSUtils.shouldFilterOutPathName`: what a file index skips. */
  private def hiddenName(name: String): Boolean =
    ((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")) &&
      !(name.startsWith("_common_metadata") || name.startsWith("_metadata"))

  /** S3: list live month partitions of a fact table — the system.parts
    * metadata scan (v1/dag:88-94) becomes a partition-column distinct,
    * answered from directory listing + partition pruning, no data read.
    */
  def listMonthPartitions(spark: SparkSession, path: String): Seq[String] = {
    val df = readParquet(spark, path)
    if (!df.columns.contains("month")) Seq.empty
    else df.select("month").distinct().collect()
      .map(_.get(0).toString).toSeq.sorted
  }

  /** Bucketed managed table: pre-shuffles the data into `buckets` files
    * per partition by `key` at write time, so later equi-joins and
    * aggregations on `key` between co-bucketed tables run with NO
    * exchange — the persistent form of `repartition(key)`, and the
    * closest Spark analogue to the reference's `Distributed(..., id)`
    * routing when several tables share the shard key. At 100 TB this is
    * the difference between one shuffle at write time and a shuffle per
    * query.
    */
  def writeBucketedTable(df: DataFrame, tableName: String, key: String,
                         buckets: Int): Unit = {
    val spark = df.sparkSession
    // A table dropped by a PREVIOUS session (in-memory catalog, durable
    // warehouse) leaves its directory behind; saveAsTable then refuses
    // with LOCATION_ALREADY_EXISTS even under SaveMode.Overwrite. Drop
    // any current registration and clear the stale location first.
    spark.sql(s"DROP TABLE IF EXISTS `$tableName`")
    // resolve through the CURRENT database's location (default db lives
    // at the warehouse root, others at <warehouse>/<db>.db) so the
    // cleanup targets the directory saveAsTable will actually use
    val dbLoc = spark.sessionState.catalog
      .getDatabaseMetadata(spark.catalog.currentDatabase).locationUri
    val loc = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(dbLoc),
      tableName.toLowerCase(java.util.Locale.ROOT))
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    df.write.mode(SaveMode.Overwrite)
      .format("parquet")
      .bucketBy(buckets, key)
      .sortBy(key) // L3: clustered sort within buckets
      .saveAsTable(tableName)
  }

  /** Append rows to an existing bucketed table under the table's OWN
    * bucket spec (read from the catalog, not re-supplied by the caller
    * — a mismatched re-spec would silently break the no-exchange join
    * property every reader relies on). Columns are aligned to the
    * table's schema order first, so the append is insensitive to the
    * caller's projection order. This is the incremental half of
    * [[writeBucketedTable]]: one shuffle over the NEW rows only, the
    * stored corpus untouched — per-batch cost ∝ batch size while the
    * table grows unbounded.
    */
  def appendToBucketedTable(df: DataFrame, tableName: String): Unit = {
    val spark = df.sparkSession
    val meta = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(tableName))
    val spec = meta.bucketSpec.getOrElse(throw new IllegalArgumentException(
      s"table $tableName has no bucket spec — appendToBucketedTable only " +
        "extends tables written by writeBucketedTable"))
    val aligned = df.select(meta.schema.fieldNames.map(col(_)).toSeq: _*)
    val writer = aligned.write.mode(SaveMode.Append).format("parquet")
      .bucketBy(spec.numBuckets, spec.bucketColumnNames.head,
        spec.bucketColumnNames.drop(1): _*)
    (if (spec.sortColumnNames.nonEmpty)
       writer.sortBy(spec.sortColumnNames.head,
         spec.sortColumnNames.drop(1): _*)
     else writer)
      .saveAsTable(tableName)
  }

  /** Z-order clustered write: interleave the bits of quantile-bucketed
    * clustering columns into one Morton key, range-partition and sort
    * the data by it, and write. Each output file then covers a small
    * hyper-rectangle of the clustering space, so parquet min/max
    * row-group stats prune scans filtered on ANY clustered column — the
    * multi-dimensional generalization of the 1-D `sortWithinPartitions`
    * layout (L3), and the same layout Delta/Iceberg OPTIMIZE ZORDER
    * produces. Linear sort narrows one column's per-file span and
    * leaves the others full-width; Z-order narrows all of them
    * (ZOrderSpec measures exactly this).
    *
    * Scale shape: quantile cut points are an `approxQuantile` sketch
    * pass (driver gets bits·dims doubles, broadcast back as literals);
    * bucketing is a codegen'd fold over the sorted cuts; the only
    * shuffle is the final range partition — same cost as any sorted
    * write of the table.
    */
  def zOrderKey(df: DataFrame, cols: Seq[String], bits: Int = 8): org.apache.spark.sql.Column = {
    require(cols.size >= 2, "z-ordering needs >= 2 columns (use a plain " +
      "sorted write for one)")
    require(bits * cols.size <= 60, s"bits=$bits × ${cols.size} dims " +
      "overflows the long Morton key")
    val nBuckets = 1 << bits
    val probs = (1 until nBuckets).map(_.toDouble / nBuckets).toArray
    val cutsPerCol = df.stat.approxQuantile(cols.toArray, probs, 0.001)
    // Bucket = how many cut points the value clears, found by BINARY
    // search over the sorted cuts as a balanced when-tree: each row
    // evaluates ⌈log2(buckets)⌉ comparisons (a linear fold would
    // evaluate all 2^bits-1 — measured 5× slower on the 2M-row stress
    // write at bits=8). Nulls fail every comparison and land in
    // bucket 0. No UDF, no join — plain codegen'd conditionals.
    def bucketOf(v: org.apache.spark.sql.Column,
                 cuts: Array[Double]): org.apache.spark.sql.Column = {
      def go(loB: Int, hiB: Int): org.apache.spark.sql.Column =
        if (loB == hiB) lit(loB.toLong)
        else {
          val mid = (loB + hiB + 1) / 2
          when(v >= cuts(mid - 1), go(mid, hiB)).otherwise(go(loB, mid - 1))
        }
      go(0, cuts.length)
    }
    val bucketCols = cols.zip(cutsPerCol).map { case (c, cuts) =>
      bucketOf(col(c).cast("double"), cuts)
    }
    (0 until bits).flatMap(b => bucketCols.zipWithIndex.map { case (bc, j) =>
      shiftleft(shiftrightunsigned(bc, b).bitwiseAND(1L),
        b * cols.size + j)
    }).reduce(_.bitwiseOR(_))
  }

  def writeZOrdered(df: DataFrame, path: String, cols: Seq[String],
                    bits: Int = 8, numFiles: Int = 32): Unit = {
    val withZ = df.withColumn("__zorder", zOrderKey(df, cols, bits))
    withZ
      .repartitionByRange(numFiles, col("__zorder"))
      .sortWithinPartitions("__zorder")
      .select(df.columns.map(col).toIndexedSeq: _*)
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  // --- S8/S9: local row interchange -----------------------------------

  /** S8: query result → local rows (the hook's get_pandas_df, hook:61-65).
    * Harness/driver utility only — never part of a distributed plan.
    */
  def toLocalRows(df: DataFrame): Seq[org.apache.spark.sql.Row] =
    df.collect().toSeq

  /** S9: local rows → DataFrame (the hook's import_pandas_df, hook:67-69). */
  def fromLocalRows(spark: SparkSession, rows: Seq[org.apache.spark.sql.Row],
                    schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.createDataFrame(
      new java.util.ArrayList(scala.jdk.CollectionConverters
        .SeqHasAsJava(rows).asJava), schema)

  // --- S10/S11: multi-statement script runner -------------------------

  /** The reference's SQL-file task (op:45-55 + op:36-43): substitute
    * `{{ params.k }}` / `{{ custom_template_fields.k }}` placeholders,
    * split on `;`, drop blanks, execute sequentially. Statements run on
    * the session catalog, so DDL (S11) and INSERT-SELECT (S5) both work.
    * Returns the result of the last statement.
    *
    * The split is quote-aware (the reference op:49-50 splits on every
    * `;`, breaking literals containing one — we implement the intent,
    * not the bug, per SURVEY §3.3): `;` inside `'...'`/`"..."`/
    * backtick-quoted runs does not terminate a statement, doubled
    * quotes and backslash escapes stay inside their literal.
    */
  def runScript(spark: SparkSession, script: String,
                params: Map[String, String] = Map.empty): Option[DataFrame] = {
    val substituted = params.foldLeft(script) { case (s, (k, v)) =>
      s.replace(s"{{ params.$k }}", v)
        .replace(s"{{params.$k}}", v)
        .replace(s"{{ custom_template_fields.$k }}", v)
    }
    splitStatements(substituted)
      .foldLeft(Option.empty[DataFrame]) { (_, stmt) => Some(spark.sql(stmt)) }
  }

  /** Split a script on `;` outside quoted literals and comments.
    * Inside a literal, a doubled opening quote (`''` / `""`) is an
    * escaped quote and a backslash escapes the next character (Spark
    * SQL string syntax); backticks delimit identifiers and admit
    * neither escape. `--` line comments and slash-star block comments
    * are copied through verbatim (so join-hint comments survive) but
    * are NOT scanned for quotes or `;` — an apostrophe in a comment
    * must not open a phantom literal that swallows the next statement
    * boundary. A fragment containing only comments and whitespace is
    * not a statement and is dropped.
    */
  private[graft] def splitStatements(script: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var hasCode = false
    var quote: Char = 0
    var i = 0
    def emit(): Unit = {
      if (hasCode) out += cur.result()
      cur.clear(); hasCode = false
    }
    while (i < script.length) {
      val c = script.charAt(i)
      if (quote != 0) {
        cur.append(c)
        if (c == '\\' && quote != '`' && i + 1 < script.length) {
          cur.append(script.charAt(i + 1)); i += 1
        } else if (c == quote) {
          if (quote != '`' && i + 1 < script.length &&
              script.charAt(i + 1) == quote) {
            cur.append(quote); i += 1 // doubled quote stays in-literal
          } else quote = 0
        }
        i += 1
      } else if (c == '-' && i + 1 < script.length &&
          script.charAt(i + 1) == '-') {
        val nl = script.indexOf('\n', i)
        val end = if (nl < 0) script.length else nl + 1
        cur.append(script.substring(i, end))
        i = end
      } else if (c == '/' && i + 1 < script.length &&
          script.charAt(i + 1) == '*') {
        val close = script.indexOf("*/", i + 2)
        val end = if (close < 0) script.length else close + 2
        cur.append(script.substring(i, end))
        i = end
      } else {
        c match {
          case '\'' | '"' | '`' => quote = c; cur.append(c); hasCode = true
          case ';'              => emit()
          case _                =>
            cur.append(c); if (!c.isWhitespace) hasCode = true
        }
        i += 1
      }
    }
    emit()
    out.result().map(_.trim).filter(_.nonEmpty)
  }
}
