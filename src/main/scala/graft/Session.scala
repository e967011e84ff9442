package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory: the mains (Bench, Verify), the tools
  * and the specs all build their session here, so a setting lives in
  * exactly one place and an A/B of a setting is a pair of commits.
  *
  * The only parameters are deployment values — how many cores, where to
  * spill — never engine settings.
  */
object Session {

  /** SPARK_GRAFT_CPUS, else every core on the box: a caller may not
    * export it, and a silent local[4] on a 32-core host under-reports
    * throughput ~3× (BENCH_r05 recorded 180 s for a suite that runs
    * ~55 s at local[32]).
    */
  def envCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** SPARK_GRAFT_LOCAL_DIR, else a tmpfs shuffle dir when /dev/shm has
    * ≥ 8 GiB free (it is typically capped at ~50% RAM; the sf0.1
    * suite's shuffle footprint is far below that), else /tmp. Larger
    * SFs should set SPARK_GRAFT_LOCAL_DIR explicitly.
    */
  private def envLocalDir: String = sys.env.getOrElse("SPARK_GRAFT_LOCAL_DIR", {
    val shm = new java.io.File("/dev/shm")
    if (shm.isDirectory && shm.getUsableSpace > 8L * 1024 * 1024 * 1024)
      "/dev/shm/spark-local" else "/tmp"
  })

  def create(cores: Int = envCores): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", envLocalDir)
      .config("spark.ui.enabled", "false")
      // NTZ wall-clock == UTC instant is what makes cast(ntz->timestamp->
      // long) match DuckDB's epoch(ts); see util.Ts
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet has shipped TIMESTAMP(NANOS); Spark 4 reads it
      // only as long (nanos since epoch) — util.Ts normalizes. Harmless
      // for non-nanos files.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.maxPlanStringLength", "1048576")
      .config("spark.shuffle.checksum.enabled", "false")
      .config("spark.storage.memoryMapThreshold", "134217728")
      .config("spark.sql.adaptive.enabled", "true")
      // AQE coalescing targets max(stageBytes/parallelism, minPartitionSize);
      // the 1m default collapses small-byte CPU-DENSE shuffle stages
      // (minhash/shingle hashing, per-pair array intersections) to 1-3
      // tasks, idling the other cores (measured r18: qd18's candidate
      // build ran 3.7 s in ONE task at 1m). 64k only binds for stages
      // under parallelism×1 MB — at production scale bytes/parallelism
      // dominates and the knob is inert, so the production value is the
      // same (see OPTIMIZATION_r18.md §config).
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      // Janino codegen cache (STATIC conf, JVM-wide from the first
      // session): the default 100 entries thrash across the 233
      // registered queries — every bench rep recompiled nearly every
      // generated class (~50-300 ms each, driver-side). A production
      // driver running a query fleet wants the same headroom; entries
      // are compiled classes, tens of KB each.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // idempotent per JVM; must run after Spark's own log4j2 init or the
    // filter is dropped — see LogHygiene
    graft.util.LogHygiene.suppressKnownBenignWindowWarn()
    spark
  }
}
