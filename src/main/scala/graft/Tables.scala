package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, GraftPlans, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Loaders for the driver's TPC-H-ish parquet testdata, and [[read]],
  * the one parquet reader of every batch table and layer read.
  *
  * Rows are never cached and nothing is collect()ed — Catalyst prunes
  * columns and pushes filters into the scan, which is the property
  * that matters at 100 TB (a 2-column projection must read 2 columns).
  * What [[read]] remembers is each path's SCHEMA: an inferred read runs
  * a one-task Spark job over a footer while the frame is built (~100 ms
  * against ~10 ms with a supplied schema). The memo key is the
  * session's SQL confs (`nanosAsLong` decides the stored type of
  * `events.ts`), the path, and the name, length and modification time
  * of what one listing finds there, so a regenerated file or an
  * overwritten layer is inferred again.
  * [[graft.operators.LayerIO.write]] primes it with each written layer.
  *
  * The testdata ships one unsplittable row group per table, so a bare
  * fact scan runs in ONE task. Whether that scan gets a round-robin
  * spread is decided per plan by the [[graft.plans.FactSpread]]
  * optimizer rule (injected by [[GraftExtensions]]), not here: it
  * spreads only when the map work above the scan is heavy per row,
  * never a dimension-sized input and never a splittable layout. The
  * one exception is
  * [[documents]] / [[embeddings]], which keep a KEYED spread (see
  * [[spreadKeyed]]).
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    read(spark, s"$dir/$name.parquet")

  private type Key = (Map[String, String], String, Seq[(String, Long, Long)])
  /** Least recently used first, bounded: every DAG run writes new paths. */
  private val schemas = new java.util.LinkedHashMap[Key, StructType](64, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[Key, StructType]): Boolean = size > 512
  }

  private def keyOf(s: SparkSession, path: String): Key = {
    val p = new Path(path)
    val fs = p.getFileSystem(s.sessionState.newHadoopConf())
    val st = fs.getFileStatus(p)
    val entries = if (!st.isDirectory) Array(st) else fs.listStatus(p) // without what Spark skips
      .filterNot(f => f.getPath.getName.startsWith("_") || f.getPath.getName.startsWith("."))
    (s.conf.getAll, path, entries.map(f => (f.getPath.getName, f.getLen, f.getModificationTime)).toSeq.sorted)
  }

  /** The parquet read of a file or layer directory: inferred the first
    * time, with the remembered schema after that. */
  def read(s: SparkSession, path: String): DataFrame = {
    val key = keyOf(s, path)
    Option(schemas.synchronized(schemas.get(key))).fold {
      val df = s.read.parquet(path)
      schemas.synchronized(schemas.put(key, df.schema))
      df
    }(s.read.schema(_).parquet(path))
  }

  /** Remember a layer just written at `path` from the writing frame's
    * schema, made nullable as the file reader makes it. */
  private[graft] def remember(s: SparkSession, path: String, written: StructType): Unit =
    schemas.synchronized(schemas.put(keyOf(s, path), GraftPlans.asNullable(written)))

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")

  /** Doc-key spread for tables consumed by per-key compute (documents,
    * embeddings), on [[graft.plans.FactSpread]]'s scan-partition gate:
    * an identity once the scan yields `spark.sql.shuffle.partitions`
    * partitions. The spread has a fixed partition count, like
    * FactSpread's own: a by-key repartition without one is a shuffle
    * AQE coalesces, and at testdata sizes it coalesces to one
    * partition, which puts the per-row work back in one task. */
  private def spreadKeyed(s: SparkSession, df: DataFrame, key: org.apache.spark.sql.Column): DataFrame = {
    val target = s.conf.get("spark.sql.shuffle.partitions").toInt
    if (graft.plans.FactSpread.scanPartitions(df) >= target) df else df.repartition(target, key)
  }

  /** `ts` normalization across testdata generations: older generators
    * wrote TIMESTAMP(NANOS) — which Spark's reader rejects, so
    * [[GraftSession]] sets `nanosAsLong` and the column arrives as an
    * epoch-nanos long; current generators write TIMESTAMP_MICROS,
    * which Spark reads as TIMESTAMP_NTZ. Both normalize to a
    * session-zone TIMESTAMP (sessions run UTC, so the NTZ cast is a
    * value identity) so every downstream consumer sees one type.
    * Integer `div` on the nanos path — double division would lose
    * precision on 1.7e18-scale nanos. */
  /** The NTZ→TIMESTAMP cast and the TIMESTAMP literal in
    * [[eventsAfter]] are value-identities ONLY under a UTC session
    * zone (the long/nanos path is zone-independent). Enforce rather
    * than document: an externally built session used before
    * GraftSession.tune would otherwise silently shift every event
    * timestamp by the zone offset. */
  private[graft] def requireUtcSession(s: SparkSession, where: String): Unit = {
    val tz = s.conf.get("spark.sql.session.timeZone")
    val normalized = java.time.ZoneId.of(tz).normalized()
    if (normalized != java.time.ZoneOffset.UTC)
      throw new IllegalStateException(
        s"$where requires spark.sql.session.timeZone=UTC (got '$tz'): " +
          "the TIMESTAMP_NTZ->TIMESTAMP conversion of the events `ts` column is " +
          "zone-dependent and would silently shift values. Build the session via " +
          "GraftSession, or set the conf before reading events.")
  }

  private[graft] def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        requireUtcSession(df.sparkSession, "Tables.normalizeEventTs")
        df.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }

  def events(s: SparkSession, d: String): DataFrame = normalizeEventTs(table(s, d, "events"))

  /** Raw events scan, `ts` in its STORED type (epoch-nanos long or
    * TIMESTAMP_NTZ depending on testdata generation). Watermark
    * predicates must compare in the stored domain to reach the
    * parquet scan — use [[eventsAfter]], which picks the right
    * literal domain for whichever schema is on disk. */
  def eventsRaw(s: SparkSession, d: String): DataFrame = table(s, d, "events")

  /** Watermark-filtered incremental events read: applies `ts > bound`
    * in the stored column's own domain so the predicate pushes into
    * the parquet scan (`PushedFilters: GreaterThan(ts, …)`) for
    * either testdata generation, then normalizes `ts`. A filter on
    * the CONVERTED column would wrap it in an expression and scan
    * everything — at 100 TB that's reading a decade to get a day.
    * @param bound "yyyy-MM-dd HH:mm:ss", interpreted as UTC. */
  def eventsAfter(s: SparkSession, d: String, bound: String): DataFrame = {
    val raw = table(s, d, "events")
    val ldt = java.time.LocalDateTime.parse(bound,
      java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))
    val pred = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        col("ts") > lit(ldt.toInstant(java.time.ZoneOffset.UTC).toEpochMilli * 1000000L)
      case org.apache.spark.sql.types.TimestampNTZType =>
        col("ts") > lit(ldt)
      case org.apache.spark.sql.types.TimestampType =>
        requireUtcSession(s, "Tables.eventsAfter")
        col("ts") > lit(java.sql.Timestamp.from(ldt.toInstant(java.time.ZoneOffset.UTC)))
      case other =>
        throw new IllegalStateException(
          s"Tables.eventsAfter: unsupported stored type for events.ts: $other " +
            "(expected LongType nanos, TIMESTAMP_NTZ, or TIMESTAMP). A new testdata " +
            "generation needs an explicit literal-domain branch here so the watermark " +
            "predicate still pushes into the parquet scan.")
    }
    normalizeEventTs(raw.filter(pred))
  }

  /** documents/embeddings ship as SINGLE-row-group parquet files:
    * the scan is unsplittable, so every pre-shuffle map (tokenize,
    * gram-hash, per-bit SimHash vectors, cosine math) would run in ONE
    * task no matter how many cores exist. A hash repartition on the
    * primary key — a shuffle of well under a megabyte here — buys full
    * parallelism for all downstream per-row compute. On a real
    * multi-split cluster layout the scan parallelizes itself and this
    * repartition is skippable; for unsplittable inputs (single row
    * group, gzip text) it is exactly what you'd do at 100 TB too:
    * spread once, then compute. Filters/pruning still push through
    * the repartition into the scan. */
  def documents(s: SparkSession, d: String): DataFrame =
    spreadKeyed(s, table(s, d, "documents"), col("doc_id"))
  def embeddings(s: SparkSession, d: String): DataFrame =
    spreadKeyed(s, table(s, d, "embeddings"), col("vec_id"))
}
