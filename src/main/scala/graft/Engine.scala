package graft

import org.apache.spark.sql.SparkSession

/** Session factory — the library's one place for engine configuration.
  *
  * Local (evaluation) defaults mirror what a tuned cluster submit would
  * set, scaled down:
  *  - AQE on, with skew-join splitting and partition coalescing — the
  *    runtime re-planner that fixes stats misestimates at 100 TB.
  *  - `spark.sql.shuffle.partitions` sized to the core count locally;
  *    on a cluster start from ~2–3× total executor cores and let AQE
  *    coalesce down (each post-coalesce task should hold ~128–256 MB).
  *  - Session timezone pinned UTC — timestamp arithmetic must not
  *    depend on host configuration (and the DuckDB oracle agrees).
  *  - Spark's generated-class cache sized to the registry's working set
  *    ([[CodegenCacheEntries]]). It is a static conf: a cluster submit
  *    must carry `spark.sql.codegen.cache.maxEntries` too, or every
  *    warm run recompiles what Spark's default of 100 evicted.
  *
  * Cluster-only knobs intentionally NOT set here (site-specific, listed
  * for the submit script): executor memory/cores, shuffle service,
  * `spark.sql.files.maxPartitionBytes` (default 128 MB is right),
  * broadcast threshold (default 10 MB; raise only with measured
  * dimension sizes), reliable checkpoint dir for iterative/streaming
  * state.
  */
object Engine {

  /** `spark.sql.codegen.cache.maxEntries`. Spark 4.1 keys the cache by
    * (context classloader, generated source); at the default of 100 a
    * repeated run of the same pipelines recompiles most of its classes
    * and the JIT compiles the new ones again. One Verify pass over all
    * 439 pipelines at sf0.01, with the cache unbounded, compiles 7,177
    * distinct classes (97 s of Janino compile time); 8,192 holds
    * them all with 14 % headroom. Stream replays still compile per
    * batch: their watermark literals change the generated source.
    */
  val CodegenCacheEntries: Int = 8192

  def builder(master: String, shufflePartitions: Int): SparkSession.Builder = {
    val b = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
        sys.env.getOrElse("SPARK_GRAFT_PARALLELISM_FIRST", "true"))
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes",
        sys.env.getOrElse("SPARK_GRAFT_ADVISORY_MB", "64") + "m")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries",
        CodegenCacheEntries.toString)
    // Fork-free local FS (see graft.io.ForklessLocalFs): without
    // libhadoop every create/mkdirs forks `chmod` — a two-batch
    // streaming replay fires ~4,600 forks and the q_stream_* family's
    // wall floor is tasks blocked in Shell.runCommand. java.nio
    // syscalls, identical semantics; opt out with
    // SPARK_GRAFT_FORKLESS_FS=0.
    // Spark 4.1's checkpoint file checksums double every checkpoint
    // file op (a .checksum sidecar per offsets/commit/state file,
    // written through a per-manager thread pool). The bench's
    // checkpoints are run-scratch on tmpfs — integrity re-verification
    // across restarts buys nothing here; on a long-lived cluster
    // deployment flip SPARK_GRAFT_CKPT_CHECKSUM=1.
    val b2 = b.config("spark.sql.streaming.checkpoint.fileChecksum.enabled",
      sys.env.getOrElse("SPARK_GRAFT_CKPT_CHECKSUM", "false"))
    if (sys.env.getOrElse("SPARK_GRAFT_FORKLESS_FS", "1") != "0")
      b2.config("spark.hadoop.fs.file.impl",
          "graft.io.ForklessLocalFileSystem")
        .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
          "graft.io.ForklessLocalFs")
    else b2
  }

  /** Local session with WARN logging — Verify/Bench/dev entry point. */
  def local(cpus: Int, appName: String = "graft"): SparkSession = {
    val s = builder(s"local[$cpus]", cpus).appName(appName).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
