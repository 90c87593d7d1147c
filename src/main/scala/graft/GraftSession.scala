package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * Mirrors the role of the reference's session helper
  * (`src/main/utility/spark_session.py`) but configured for Spark's
  * cost-based + adaptive execution from the start:
  *
  *  - AQE on (runtime partition coalescing, skew-join splitting) —
  *    at 100 TB the static shuffle-partition count is always wrong,
  *    so we let AQE re-plan to the advisory target size.
  *  - `spark.sql.shuffle.partitions` defaults to the local core
  *    count; on a real cluster set it to 2–3× total cores and let
  *    AQE coalesce down.
  *  - UTC session timezone so date/timestamp semantics are stable
  *    across driver and oracle.
  *  - a kernel cache that holds graft's whole working set, so each
  *    generated kernel compiles once per session
  *    ([[CodegenCacheEntries]]).
  */
object GraftSession {
  /** Capacity of Spark's JVM-wide cache of compiled whole-stage and
    * expression kernels (`spark.sql.codegen.cache.maxEntries`,
    * default 100). Spark sizes the cache once, when the first kernel
    * of the JVM compiles, from the session conf of that moment — so it
    * is a launch-time setting: [[tune]] cannot change it on a running
    * session, and a cluster must pass it at submit time (see
    * [[clusterConf]]) so every executor JVM gets it too.
    *
    * Sized from the measured working set (`graft.KernelProbe`, sf0.1
    * on 4 cores): one pass compiles 100 distinct kernels for the
    * `SalesPipelineDag` medallion run, 119 for the six near-dup queries
    * and 1,964 for the whole 154-query registry. At the default 100
    * entries the LRU evicts kernels before their next use, so every
    * warm pass recompiles 24–25 (medallion) and 74 (near-dup) classes
    * — and each recompiled class restarts in the JVM interpreter.
    * 4096 holds the registry twice over. Emptying the cache frees
    * 33–37 KB per kernel (heap plus metaspace), so even a full
    * cache is about 150 MB, paid only by a JVM that runs that many
    * distinct plans. */
  val CodegenCacheEntries: Int = 4096

  // graft's SQL defaults — runtime confs, so [[tune]] re-applies the
  // same set to a session built elsewhere
  private val sqlDefaults: Map[String, String] = Map(
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    // the FactSpread rule round-robin-spreads unsplittable
    // single-row-group scans under heavy map work; the pre-repartition
    // binary row sort only exists for retry determinism, and every
    // verified query is partition-independent by contract (exact
    // decimal/integer math), so skip the sort
    "spark.sql.execution.sortBeforeRepartition" -> "false",
    // older testdata generations carry TIMESTAMP(NANOS) in
    // events.parquet, which Spark rejects; read those as epoch-nanos
    // long — Tables.normalizeEventTs converts either generation to a
    // session-zone timestamp. No-op on TIMESTAMP_MICROS data.
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // the engine leans on object aggregates (collect_set baskets,
    // sketch TypedImperativeAggregates); the default 128-group
    // in-memory threshold makes ObjectHashAggregate fall back to a
    // sort-based pass on any real group count. 64k groups × small
    // buffers is well inside executor memory at our partition sizing.
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "65536",
    // keep the codegen stage id out of generated class names: the id
    // is part of the kernel's source, and AQE numbers a query's stages
    // in the order they are re-planned, which concurrent jobs change
    // from run to run — so the same kernel misses the cache under a
    // new name (see CodegenCacheEntries)
    "spark.sql.codegen.useIdInClassName" -> "false"
  )

  /** The one place a graft session's settings are chosen: `local[cores]`
    * with the engine's own extension, shuffle partitions = cores, the
    * launch-time settings (kernel cache, no UI) and the SQL defaults.
    * Every main that builds a session starts here; callers add only an
    * app name. */
  def builder(cores: Int): SparkSession.Builder =
    SparkSession
      .builder()
      .master(s"local[$cores]")
      // the engine runs WITH its own extension (SQL function surface +
      // the FactSpread and ExpandFreeDistinct optimizer rules) — the
      // correctness gate and every spec therefore continuously prove
      // the injected rules' non-interference with the whole query
      // surface
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.ui.enabled", "false")
      .config(sqlDefaults)

  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val spark = builder(cores).appName("graft").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Recommended conf for a real multi-executor deployment — the
    * cluster-side counterpart of [[local]]'s laptop settings. Values
    * follow the scale design in SURVEY §4 / BENCH_NOTES:
    *
    *  - shuffle partitions ≈ 2–3 × total cores as the STATIC upper
    *    bound; AQE coalesces down to the advisory size at runtime, so
    *    oversizing is cheap and undersizing is not.
    *  - 64–128 MB post-shuffle partitions keep reducers in cache and
    *    spill-free at typical 4–8 GB/core executor memory.
    *  - 128 MB input splits match the parquet row-group layout a
    *    100 TB table should be written with.
    *  - skew-join splitting stays on: at 1000 executors one hot key
    *    is otherwise the whole job's critical path.
    */
  def clusterConf(totalCores: Int): Map[String, String] = Map(
    "spark.sql.shuffle.partitions" -> (totalCores * 3).toString,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> (96L * 1024 * 1024).toString,
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.files.maxPartitionBytes" -> (128L * 1024 * 1024).toString,
    "spark.sql.autoBroadcastJoinThreshold" -> (64L * 1024 * 1024).toString,
    "spark.sql.session.timeZone" -> "UTC",
    // launch-time only: pass it at submit so the driver and every
    // executor JVM size their kernel cache from it (see
    // CodegenCacheEntries); setting it on a running session is an error
    "spark.sql.codegen.cache.maxEntries" -> CodegenCacheEntries.toString
  )

  /** Drop every cached frame and checkpoint RDD the session holds,
    * then drain pending GC debt — the between-runs step of every
    * timing main, so neither block-manager accumulation nor a deferred
    * collection bills one query's garbage to the next. BLOCKING: the
    * removal lands here, not inside the next query's timed window. */
  def clearCache(spark: SparkSession): Unit = {
    // deliver the last action's end event first: its share blocks are
    // freed by Caching's listener, and a blocking unpersist racing that
    // removal fails on the block the other one took
    org.apache.spark.GraftBusFlush.flush(spark.sparkContext)
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
  }

  /** Apply graft's SQL defaults to a session built outside
    * [[builder]]. The launch-time settings cannot be applied here. */
  def tune(spark: SparkSession): SparkSession = {
    sqlDefaults.foreach { case (k, v) => spark.conf.set(k, v) }
    spark
  }
}
