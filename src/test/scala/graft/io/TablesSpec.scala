package graft.io

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import graft.SparkTestBase
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

/** Pins `Tables.events` against BOTH physical encodings the producer has
  * shipped for `events.ts` (TIMESTAMP(NANOS) historically, timestamp-micros
  * since 2026-08-13), so the next producer-side schema change fails ONE
  * named test with a message that says which physical type was observed —
  * instead of five integration suites at once (VERDICT r6 item 2).
  *
  * The fixtures live in test resources (`events_fixture/`), written with
  * the exact parquet logical types
  * (`Timestamp(timeUnit=nanoseconds|microseconds, isAdjustedToUTC=false)`).
  * The nanos fixture carries a 500 ns sub-microsecond tail so the
  * truncation contract (floor to micros, matching DuckDB's
  * TIMESTAMP_NS → TIMESTAMP cast) is actually observable.
  *
  * Also pins the loaders' schema memo: a repeated load starts no Spark
  * job, and a file rewritten in place or read under other parquet confs
  * is inferred again.
  */
class TablesSpec extends SparkTestBase {

  private def res(name: String): String =
    getClass.getResource(s"/events_fixture/$name").getPath

  private def loaded(name: String) = {
    val df = Tables.eventsFrom(spark, res(name))
    val tsType = df.schema("ts").dataType
    assert(tsType == TimestampType,
      s"Tables.events must normalize ts to session-TZ TIMESTAMP; " +
        s"fixture $name produced $tsType — the producer likely shipped a " +
        s"new physical encoding that io/Tables.scala does not dispatch on")
    df
  }

  test("events loader: timestamp-micros encoding (current producer)") {
    val df = loaded("events_micros.parquet")
    assert(df.count() == 6)
    // row 3: base 2024-03-01T12:00:00Z + 3*37s + 3*113µs, exact under UTC
    val ts3 = df.filter(col("event_id") === 3)
      .select(unix_micros(col("ts"))).head().getLong(0)
    val expected = java.time.Instant.parse("2024-03-01T12:01:51Z")
      .getEpochSecond * 1000000L + 339L
    assert(ts3 == expected, s"micros must round-trip exactly, got $ts3")
  }

  test("events loader: TIMESTAMP(NANOS) encoding (historical producer)") {
    val df = loaded("events_nanos.parquet")
    assert(df.count() == 6)
    // the 500 ns tail must be FLOORED away (DuckDB-compatible truncation)
    val ts0 = df.filter(col("event_id") === 0)
      .select(unix_micros(col("ts"))).head().getLong(0)
    val expected = java.time.Instant.parse("2024-03-01T12:00:00Z")
      .getEpochSecond * 1000000L
    assert(ts0 == expected,
      s"nanos must truncate (not round) to micros, got $ts0")
  }

  test("both encodings agree after normalization (same logical data)") {
    val micros = loaded("events_micros.parquet")
      .select(col("event_id"), unix_micros(col("ts")).as("us"))
    val nanos = loaded("events_nanos.parquet")
      .select(col("event_id"), unix_micros(col("ts")).as("us"))
    assert(micros.exceptAll(nanos).count() == 0 &&
      nanos.exceptAll(micros).count() == 0,
      "the two physical encodings of the same rows must load identically")
  }

  /** Spark jobs started on this thread while `body` runs. The listener
    * bus is asynchronous, so a marker job in its own group closes the
    * window: once the listener sees it, it has seen every earlier job. */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"tables-spec-${java.util.UUID.randomUUID}"
    val marker = s"$group-marker"
    val started = new AtomicInteger
    val markerSeen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => started.incrementAndGet(): Unit
          case Some(`marker`) => markerSeen.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      body
      sc.setJobGroup(marker, marker)
      spark.range(1).count()
      assert(markerSeen.await(60, TimeUnit.SECONDS), "marker job not seen")
      started.get
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  /** Writes `df` as ONE parquet file at `path` (replacing any file
    * there), the shape of the fixture tables. */
  private def writeSingleFile(df: DataFrame, path: java.nio.file.Path): Unit = {
    val parts = java.nio.file.Files.createTempDirectory("tables-spec-parts")
    df.coalesce(1).write.mode("overwrite").parquet(s"$parts/out")
    val part = new java.io.File(s"$parts/out").listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .get.toPath
    java.nio.file.Files.move(part, path,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    org.apache.commons.io.FileUtils.deleteDirectory(parts.toFile)
  }

  test("a repeated fixture load starts no Spark job and keeps its schema") {
    val dir = SparkTestBase.fixtureDir("0.001")
    val plain = spark.read.parquet(s"$dir/lineitem.parquet")
    assert(jobsDuring(spark.read.parquet(s"$dir/lineitem.parquet")) >= 1,
      "a schema-less parquet read infers with a Spark job")
    Tables.lineitem(spark, dir)
    var again: DataFrame = null
    val jobs = jobsDuring { again = Tables.lineitem(spark, dir) }
    assert(jobs == 0, s"the second Tables.lineitem started $jobs jobs")
    assert(again.schema == plain.schema)
  }

  test("a parquet file rewritten at the same path is inferred again") {
    val dir = java.nio.file.Files.createTempDirectory("tables-spec-rewrite")
    val path = dir.resolve("t.parquet")
    try {
      writeSingleFile(spark.range(5).toDF("a"), path)
      assert(Tables.readParquet(spark, path.toString).columns.toSeq ==
        Seq("a"))
      writeSingleFile(spark.range(5).select(col("id").as("a"),
        lit("x").as("b")), path)
      val reread = Tables.readParquet(spark, path.toString)
      assert(reread.schema == spark.read.parquet(path.toString).schema)
      assert(reread.columns.toSeq == Seq("a", "b"))
      assert(reread.where(col("b") === "x").count() == 5)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("both events encodings load correctly in either order") {
    val nanosConf = "spark.sql.legacy.parquet.nanosAsLong"
    val prev = spark.conf.getOption(nanosConf)
    // micros row 3 and nanos row 0, as pinned by the tests above
    val microsTs3 = java.time.Instant.parse("2024-03-01T12:01:51Z")
      .getEpochSecond * 1000000L + 339L
    val nanosTs0 = java.time.Instant.parse("2024-03-01T12:00:00Z")
      .getEpochSecond * 1000000L
    def ts(name: String, id: Int): Long =
      loaded(name).filter(col("event_id") === id)
        .select(unix_micros(col("ts"))).head().getLong(0)
    def micros(): Unit = assert(ts("events_micros.parquet", 3) == microsTs3)
    def nanos(): Unit = assert(ts("events_nanos.parquet", 0) == nanosTs0)
    try {
      spark.conf.unset(nanosConf)
      micros(); nanos(); micros(); nanos()
      spark.conf.unset(nanosConf)
      nanos(); micros(); nanos(); micros()
    } finally prev match {
      case Some(v) => spark.conf.set(nanosConf, v)
      case None => spark.conf.unset(nanosConf)
    }
  }
}
