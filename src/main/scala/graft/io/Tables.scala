package graft.io

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType,
  TimestampType}

/** Canonical loaders for the driver-generated fixture tables
  * (`/root/repo/TESTDATA.md`). The reference treats data files as untyped
  * blobs keyed by filename (`/root/reference/app/routes.py:115-125`); our
  * engine's analog of its "bucket" is a scale-factor directory of Parquet
  * tables, loaded lazily so Catalyst sees the full plan (pushdown + pruning
  * reach the scan).
  *
  * Schema memo: a parquet read without a schema runs one single-task
  * Spark job to read the file's footer (70–96 ms against 6–10 ms with
  * `.schema(s)`, sf0.1 fixtures on a 4-vCPU host). The first read of a file in a session infers
  * as usual; later reads pass the inferred schema back. An entry is keyed
  * by every input the inferred schema depends on:
  *   - the path, the file's length and its modification time — a file
  *     rewritten in place is inferred again;
  *   - the session's `spark.sql.parquet.*` and
  *     `spark.sql.legacy.parquet.*` values (the events loader sets
  *     `nanosAsLong`, which changes the inferred type of `ts`).
  * Directory paths bypass the memo. Entries live per session and are
  * dropped when the session's SparkContext stops.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, dir)
    else readParquet(spark, s"$dir/$name.parquet")

  private final case class SchemaKey(path: String, length: Long,
      modified: Long, parquetConf: Map[String, String])

  private val schemas =
    new java.util.WeakHashMap[SparkSession,
      ConcurrentHashMap[SchemaKey, StructType]]()
  private val releasing =
    java.util.Collections.newSetFromMap(
      new java.util.WeakHashMap[SparkContext, java.lang.Boolean]())

  private def schemaMemo(spark: SparkSession)
      : ConcurrentHashMap[SchemaKey, StructType] = schemas.synchronized {
    val sc = spark.sparkContext
    if (releasing.add(sc)) sc.addSparkListener(new SparkListener {
      override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
        schemas.synchronized {
          schemas.keySet.removeIf(_.sparkContext eq sc): Unit
        }
    })
    schemas.computeIfAbsent(spark, _ => new ConcurrentHashMap())
  }

  /** `spark.read.parquet(path)` through the session's schema memo (see
    * the object scaladoc for the key contract). */
  private[io] def readParquet(spark: SparkSession, path: String)
      : DataFrame = {
    import org.apache.hadoop.fs.Path
    val p = new Path(path)
    // a missing path or a glob falls through to the plain read, which
    // raises Spark's own error for it
    val file = scala.util.Try(
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getFileStatus(p)).toOption.filter(_.isFile)
    file.fold(spark.read.parquet(path)) { st =>
      val parquetConf = spark.conf.getAll.filter { case (k, _) =>
        k.startsWith("spark.sql.parquet.") ||
          k.startsWith("spark.sql.legacy.parquet.")
      }
      val key = SchemaKey(path, st.getLen, st.getModificationTime,
        parquetConf)
      val memo = schemaMemo(spark)
      Option(memo.get(key)) match {
        case Some(schema) => spark.read.schema(schema).parquet(path)
        case None =>
          val df = spark.read.parquet(path)
          memo.put(key, df.schema)
          df
      }
    }
  }

  /** OPT-IN scale-adaptive scan parallelization (optimization guide
    * §2.2/§6) — the `…Par` loaders below.
    *
    * The fixture parquet files are single-row-group and far below
    * `spark.sql.files.maxPartitionBytes`, so every scan plans as ONE
    * task — and with it the whole map-side pipeline above the first
    * exchange serializes onto one of the 32 cores. For queries whose
    * cost is dominated by per-row map compute with LOW-cardinality
    * downstream aggregation (md5 replicate weights, shingle/signature
    * builds, fact-side join prep), a round-robin repartition of the
    * few-MB base table costs one tiny exchange and unlocks full-core
    * parallelism — measured e.g. q_stat_bootstrap 6.1→1.3 s,
    * q_text_heavy_hitters 5.3→2.6 s, q_agg_kmv_intersect 5.7→2.5 s
    * (vs BOTH the same-session baseline and the committed r15
    * history).
    *
    * It is NOT applied fleet-wide, and that is a measured decision,
    * not an oversight: an r16 experiment hooking every `Tables.load`
    * produced 17 robust winners but 41 losers — for HIGH-cardinality
    * aggregations (vocabulary-sized groupBys: tfidf, n-gram LMs,
    * source-overlap) splitting 1 input partition into 32 multiplies
    * the map-side partial-aggregate output by the partition count
    * (every partition emits most of the vocabulary), and for the ~300
    * sub-second queries the extra exchange is pure overhead
    * (micro-probe: +0.8 s wall / +1.9 s CPU per lineitem pass). Each
    * opt-in site below is a query where the A/B won robustly.
    *
    * The guards keep the opt-in a NO-OP at scale: it fires only when
    * the PLANNED scan parallelism (which already reflects file count,
    * row-group splits and maxPartitionBytes) is under half the default
    * parallelism AND the on-disk size is within
    * [`SPARK_GRAFT_REPART_MIN_KB` (256 KB), `SPARK_GRAFT_REPART_MAX_MB`
    * (1 GiB)]. At 100 TB big tables split natively into thousands of
    * scan tasks and never repartition — the production plan is
    * byte-identical to the plain read. Filters and column pruning push
    * through Repartition (PushPredicateThroughNonJoin/ColumnPruning),
    * so PushedFilters/ReadSchema at the scan are unchanged — asserted
    * in PlanSpec.
    */
  private val repartMaxBytes: Long =
    sys.env.getOrElse("SPARK_GRAFT_REPART_MAX_MB", "1024").toLong << 20
  // floor: sub-256KB tables are broadcast-bound dimensions — an extra
  // exchange is pure overhead there. Env-tunable so the sf0.01 oracle
  // gate can be run with the floor lowered, exercising the repartition
  // on EVERY table at the scale the DuckDB compare certifies.
  private val repartMinBytes: Long =
    sys.env.getOrElse("SPARK_GRAFT_REPART_MIN_KB", "256").toLong << 10

  private[io] def parallelized(spark: SparkSession, df: DataFrame,
      path: String): DataFrame =
    try {
      val bytes = {
        import org.apache.hadoop.fs.Path
        val p = new Path(path)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        fs.getContentSummary(p).getLength
      }
      val cores = spark.sparkContext.defaultParallelism
      if (bytes >= repartMinBytes && bytes <= repartMaxBytes &&
          df.rdd.getNumPartitions * 2 < cores)
        df.repartition(cores)
      else df
    } catch { case scala.util.control.NonFatal(_) => df }

  /** The producer has shipped `events.ts` under more than one physical
    * parquet type (TIMESTAMP(NANOS) historically, timestamp-micros today),
    * so the loader dispatches on the *observed* schema instead of
    * hard-coding one encoding — the engine analog of the reference typing
    * blobs only at read time (`/root/reference/app/routes.py:115-125`):
    *
    *   - TIMESTAMP(NANOS): Spark's vectorized reader rejects it
    *     ([PARQUET_TYPE_ILLEGAL]), so retry the read with
    *     `spark.sql.legacy.parquet.nanosAsLong` (set only on this branch;
    *     it must stay set for the scan's runtime) and truncate Long nanos
    *     to microseconds — the same truncation DuckDB applies casting
    *     TIMESTAMP_NS → TIMESTAMP, so oracle comparisons line up.
    *   - timestamp-micros without timezone arrives as TIMESTAMP_NTZ: cast
    *     to session-TZ TIMESTAMP (exact under the engine's UTC session TZ,
    *     and DuckDB reads the same file natively).
    *   - anything else (already TIMESTAMP, or a future encoding): pass
    *     through untouched.
    */
  private def eventsRaw(spark: SparkSession, dir: String): DataFrame =
    eventsFrom(spark, s"$dir/events.parquet")

  private[io] def eventsFrom(spark: SparkSession, path: String): DataFrame =
    normalizeEventTs(eventsRawRead(spark, path))

  /** Batch read of the events file, set up under the nanos-as-long
    * legacy conf when the footer carries TIMESTAMP(NANOS). The conf is
    * touched ONLY when the footer really is nanos and must remain set for
    * the scan's runtime (the vectorized reader re-checks the type per row
    * group). Detection reads the parquet footer's logical type directly —
    * no matching on exception-message text, which drifts across Spark
    * versions and locales.
    */
  private[io] def eventsRawRead(spark: SparkSession, path: String): DataFrame = {
    if (footerTsIsNanos(spark, path))
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    readParquet(spark, path)
  }

  /** Driver-side footer probe: does `ts` in `path` (one parquet file, or
    * the first data file of a directory) carry TIMESTAMP with NANOS unit?
    * Probe failures (missing path, non-parquet bytes) return false — the
    * actual `spark.read` that follows surfaces the genuine error with its
    * normal shape, so nothing is swallowed.
    */
  private[io] def footerTsIsNanos(spark: SparkSession, path: String): Boolean =
    try {
      import org.apache.hadoop.fs.Path
      import org.apache.parquet.hadoop.ParquetFileReader
      import org.apache.parquet.hadoop.util.HadoopInputFile
      import org.apache.parquet.schema.LogicalTypeAnnotation
      val conf = spark.sparkContext.hadoopConfiguration
      val p = new Path(path)
      val fs = p.getFileSystem(conf)
      val file =
        if (fs.getFileStatus(p).isDirectory)
          fs.listStatus(p).map(_.getPath)
            .find(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))
            .getOrElse(return false)
        else p
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
      try {
        val schema = reader.getFooter.getFileMetaData.getSchema
        schema.containsField("ts") && {
          schema.getFields.get(schema.getFieldIndex("ts"))
            .getLogicalTypeAnnotation match {
            case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
              t.getUnit == LogicalTypeAnnotation.TimeUnit.NANOS
            case _ => false
          }
        }
      } finally reader.close()
    } catch { case scala.util.control.NonFatal(_) => false }

  /** Driver-side footer statistic: total UNCOMPRESSED byte size of one
    * column across all row groups of `path` (single file or directory
    * of parquet parts). No Spark job runs — this is the lazy
    * alternative to a `count()` when a plan needs a cheap UPPER bound
    * at construction time (e.g. `Dedup.ngramJaccardPairs`' vocabulary
    * regime: distinct k-shingles ≤ shingle occurrences ≤ text bytes).
    * None when the path/column can't be probed — callers fall back to
    * their eager path.
    */
  def columnUncompressedBytes(spark: SparkSession, path: String,
                              column: String): Option[Long] =
    try {
      import org.apache.hadoop.fs.Path
      import org.apache.parquet.hadoop.ParquetFileReader
      import org.apache.parquet.hadoop.util.HadoopInputFile
      import scala.jdk.CollectionConverters._
      val conf = spark.sparkContext.hadoopConfiguration
      val p = new Path(path)
      val fs = p.getFileSystem(conf)
      val files =
        if (fs.getFileStatus(p).isDirectory)
          fs.listStatus(p).map(_.getPath)
            .filter(f => !f.getName.startsWith("_") &&
              !f.getName.startsWith("."))
            .toSeq
        else Seq(p)
      var total = 0L
      files.foreach { f =>
        val reader =
          ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
        try reader.getFooter.getBlocks.asScala.foreach { bl =>
          bl.getColumns.asScala
            .filter(_.getPath.toDotString == column)
            .foreach(c => total += c.getTotalUncompressedSize)
        } finally reader.close()
      }
      if (total > 0) Some(total) else None
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Normalize `ts` to session-TZ TIMESTAMP whatever physical type the
    * producer shipped (works on batch and streaming frames alike). */
  private[graft] def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType =>
        // nanos-as-long path; integral `div`, NOT `/`: Column./ is double
        // division and doubles can't hold epoch-nanos exactly
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }

  /** Streaming twin of [[events]]: a file-stream source over the single
    * events fixture file, with the same observed-schema ts dispatch as the
    * batch loader (the file-stream source monitors directories, hence the
    * one-file glob).
    */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    val raw = eventsRawRead(spark, s"$dir/events.parquet")
    normalizeEventTs(
      spark.readStream.schema(raw.schema)
        .option("basePath", dir)
        .parquet(s"$dir/{events.parquet}"))
  }

  /** Opt-in parallelized loaders — see [[parallelized]] for the
    * measured rationale and the at-scale no-op guards. */
  def documentsPar(s: SparkSession, d: String): DataFrame =
    parallelized(s, documents(s, d), s"$d/documents.parquet")
  def eventsPar(s: SparkSession, d: String): DataFrame =
    parallelized(s, events(s, d), s"$d/events.parquet")
  def lineitemPar(s: SparkSession, d: String): DataFrame =
    parallelized(s, lineitem(s, d), s"$d/lineitem.parquet")
  def ordersPar(s: SparkSession, d: String): DataFrame =
    parallelized(s, orders(s, d), s"$d/orders.parquet")
  def embeddingsPar(s: SparkSession, d: String): DataFrame =
    parallelized(s, embeddings(s, d), s"$d/embeddings.parquet")

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame    = eventsRaw(s, d)
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
