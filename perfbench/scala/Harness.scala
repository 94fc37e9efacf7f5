package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark: one process per workload run.
  *
  * A single client drives a closed loop: it submits the next pipeline
  * only after the previous one has returned (and, for `Graft.run`, after
  * the engine's `StatusListener` has reported a terminal state). A pass
  * submits every pipeline of the workload once, in an order drawn from
  * the seed. The first `WarmupPasses` passes of the JVM are untimed: in a
  * cold JVM the JIT roughly doubles a pass's wall time and triples its
  * CPU, and after one pass it still compiles for 5-10 s of CPU per pass;
  * that cost is noisy and not the engine's. Then come a fixed number of
  * measured passes (a block): one untraced block, or for a traced run a
  * traced block followed by an untraced one, so the tracing overhead is
  * measured inside one process.
  *
  * Arguments are `key=value` pairs (see `perfbench/run.py`, which
  * starts this main and reads the result file it writes):
  * `mode` is `run` (each pipeline through `Graft.run` into the lake) or
  * `plan` (each pipeline through `Graft.plan` to the noop sink, each pass
  * inside its own `CacheScope.sharedScopeWithScratch`, so every pass
  * builds each family's memos once and hits them for the other members).
  */
object Harness {

  private def epochMs: Double = System.currentTimeMillis().toDouble

  private def processCpuS: Double =
    ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean =>
        os.getProcessCpuTime / 1e9
      case _ => Double.NaN
    }

  /** Accumulated JIT compilation time (ms) across the compiler threads. */
  private def jitMs: Double = ManagementFactory.getCompilationMXBean match {
    case c if c != null && c.isCompilationTimeMonitoringSupported =>
      c.getTotalCompilationTime.toDouble
    case _ => 0.0
  }

  private def gcMs: Double = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(b => math.max(0L, b.getCollectionTime)).sum.toDouble

  /** Used heap after a full collection. The second collection runs after
    * Spark's ContextCleaner has dropped the shuffles and broadcasts the
    * first one found unreachable, so the figure does not depend on when
    * that cleaner thread happened to run. */
  private def heapAfterGcMb: Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).map(_.map(dirBytes).sum).getOrElse(0L)
    else f.length

  private def children(dir: String): Map[String, File] =
    Option(new File(dir).listFiles).map(_.map(f => f.getName -> f).toMap)
      .getOrElse(Map.empty)

  def main(args: Array[String]): Unit = {
    val conf = args.map { a =>
      val i = a.indexOf('='); a.take(i) -> a.drop(i + 1)
    }.toMap
    if (conf.contains("oracles_for")) dumpOracles(conf("oracles_for"), conf("out"))
    else measure(conf)
  }

  /** The DuckDB twins of the listed pipelines, for the oracle cache. */
  private def dumpOracles(list: String, out: String): Unit = {
    val names = Files.readAllLines(Paths.get(list), UTF_8).asScala.toSet
    val sql = graft.SparkEntry.oracleSql.filter { case (k, _) => names(k) }
    Files.write(Paths.get(out), Json.value(sql).getBytes(UTF_8))
  }

  private def measure(conf: Map[String, String]): Unit = {
    val spawnMs = conf("spawn_ms").toDouble
    val width = conf("width").toInt
    val sf = conf("sf")
    val scratch = conf("scratch")
    val out = conf("out")

    val tSessionStart = epochMs
    val spark = graft.Engine.local(width, "perfbench")
    val tSession = epochMs
    graft.Graft.run(spark, conf("warmup"), sf, s"$scratch/warmup")
    val tWarm = epochMs
    val setup = Json.Obj("spawn_ms" -> spawnMs, "session_start_ms" -> tSessionStart,
      "session_ready_ms" -> tSession, "warm_done_ms" -> tWarm,
      "warmup" -> conf("warmup"))
    val jvm = Json.Obj("max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "args" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala,
      "spark_version" -> spark.version)

    val result = Seq("setup" -> setup, "jvm" -> jvm) ++ new Loop(spark, conf).run()
    Files.write(Paths.get(out), Json.obj(result).getBytes(UTF_8))
    spark.stop()
  }

  private final class Loop(spark: SparkSession, conf: Map[String, String]) {
    private val sc = spark.sparkContext
    private val sf = conf("sf")
    private val scratch = conf("scratch")
    private val mode = conf("mode")
    private val lake = s"$scratch/lake"
    private val memoRoot = s"$scratch/memo"
    private val checkDir = if (mode == "run") lake else s"$scratch/check"
    private val trace = conf("trace") == "1"
    private val passCount = conf("passes").toInt
    // one group per line: a memo family in build order, or one pipeline;
    // the seed permutes the groups
    private val groups = Files.readAllLines(Paths.get(conf("pipelines")), UTF_8)
      .asScala.map(_.trim).filter(_.nonEmpty).map(_.split(" ").toSeq).toSeq
    private val pipelines = groups.flatten
    private val rng = new scala.util.Random(conf("seed").toLong)
    private val tracer = new Tracer(spark)
    private val runs = mutable.ArrayBuffer.empty[Json.Obj]
    private val passes = mutable.ArrayBuffer.empty[Json.Obj]

    def run(): Seq[(String, Any)] = {
      for (_ <- 1 to WarmupPasses) runPass("warmup", traced = false, last = false)
      val blocks = if (trace) Seq("traced", "untraced") else Seq("untraced")
      for (block <- blocks) {
        val traced = block == "traced"
        if (traced) tracer.install()
        for (p <- 1 to passCount)
          runPass(block, traced, last = block == blocks.last && p == passCount)
        if (traced) tracer.uninstall()
      }
      val oracle = graft.SparkEntry.oracleSql.filter { case (k, _) => pipelines.contains(k) }
      new File(checkDir).mkdirs()
      Files.write(Paths.get(s"$checkDir/oracle_sql.json"),
        Json.value(oracle).getBytes(UTF_8))
      Seq("mode" -> mode, "check_dir" -> checkDir, "passes" -> passes,
        "runs" -> runs, "trace" -> (if (trace) Some(tracer.result) else None))
    }

    private def runPass(block: String, traced: Boolean, last: Boolean): Unit = {
      val order = rng.shuffle(groups).flatten
      def body(): Unit = {
        val cpu0 = processCpuS
        val gc0 = gcMs
        val jit0 = jitMs
        val t0 = System.nanoTime()
        order.foreach(runOne(_, block, traced))
        val wall = (System.nanoTime() - t0) / 1e9
        val cpu = processCpuS - cpu0
        val gc = gcMs - gc0
        val jit = jitMs - jit0
        // measured before the memos of this pass are released
        passes += Json.Obj("pass" -> passes.size, "block" -> block,
          "wall_s" -> wall, "cpu_s" -> cpu, "jit_ms" -> jit, "gc_ms" -> gc,
          "heap_after_gc_mb" -> heapAfterGcMb)
        // the output check reads the last pass's memos: untimed
        if (last && mode == "plan") pipelines.foreach(writeCheckOutput)
      }
      if (mode == "plan") graft.ops.CacheScope.sharedScopeWithScratch(memoRoot)(body())
      else body()
    }

    private def writeCheckOutput(name: String): Unit =
      try graft.ops.CacheScope.scoped {
        graft.Graft.plan(spark, name, sf).coalesce(1).write.mode("overwrite")
          .parquet(s"$checkDir/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[perfbench] check output for $name failed: ${e.getMessage}")
      }

    private def runOne(name: String, block: String, traced: Boolean): Unit = {
      val idx = runs.size
      val tag = Tracer.TagPrefix + idx
      sc.addJobTag(tag)
      tracer.current = idx
      val memoBefore = if (traced) children(memoRoot) else Map.empty[String, File]
      val persistBefore = if (traced) sc.getPersistentRDDs.size else 0
      val start = epochMs
      val cpu0 = processCpuS
      val t0 = System.nanoTime()
      var submitEnd = 0L
      var built = Double.NaN
      var status: Option[String] = None
      var statusLagMs = Double.NaN
      val err =
        try {
          if (mode == "run") {
            val listener = graft.Graft.listener(spark)
            try {
              graft.Graft.run(spark, name, sf, lake)
              submitEnd = System.nanoTime()
              val deadline = submitEnd + 60L * 1000000000L
              status = listener.status(name)
              while (!status.exists(Terminal) && System.nanoTime() < deadline) {
                LockSupport.parkNanos(100000L)
                status = listener.status(name)
              }
              statusLagMs = (System.nanoTime() - submitEnd) / 1e6
            } finally sc.removeSparkListener(listener)
          } else {
            graft.ops.CacheScope.scoped {
              val df = graft.Graft.plan(spark, name, sf)
              built = (System.nanoTime() - t0) / 1e9
              df.write.format("noop").mode("overwrite").save()
            }
            submitEnd = System.nanoTime()
            status = Some("success")
          }
          ""
        } catch { case e: Throwable =>
          if (submitEnd == 0L) submitEnd = System.nanoTime()
          s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
        }
      val t1 = System.nanoTime()
      val cpu = processCpuS - cpu0
      tracer.current = -1
      sc.removeJobTag(tag)
      val memo: Seq[(String, Any)] = if (!traced) Nil else {
        val fresh = children(memoRoot).filter { case (k, _) => !memoBefore.contains(k) }
        Seq("memo_new_dirs" -> fresh.size,
          "memo_new_bytes" -> fresh.values.map(dirBytes).sum,
          "persist_delta" -> (sc.getPersistentRDDs.size - persistBefore))
      }
      runs += Json.Obj(Seq("i" -> idx, "name" -> name, "pass" -> passes.size,
        "block" -> block, "traced" -> traced,
        "start_ms" -> start, "end_ms" -> (start + (t1 - t0) / 1e6),
        "lat_s" -> (t1 - t0) / 1e9, "submit_s" -> (submitEnd - t0) / 1e9,
        "build_s" -> built, "status" -> status, "status_lag_ms" -> statusLagMs,
        "ok" -> (err.isEmpty && status.contains("success")), "err" -> err,
        "cpu_s" -> cpu) ++ memo: _*)
    }
  }

  private val Terminal = Set("success", "failed")
  private val WarmupPasses = 2
}
