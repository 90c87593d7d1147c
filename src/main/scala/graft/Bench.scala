package graft

/** Benchmark main (driver contract): one JSON line with per-query
  * seconds over SPARK_GRAFT_SF_DIR.
  *
  * A failed query reports -1 (not its time-to-exception — a crash
  * must never read as a fast run). One trivial action runs first so
  * session bring-up isn't billed to the first query; each query is
  * then timed on a single cold run.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // the production session settings — the bench measures the
    // engine as it actually ships
    val spark = GraftSession.builder(cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // absorb one-time session bring-up: JVM/class init for the scan,
    // join, aggregate, and window operators (and the parquet reader)
    // would otherwise be billed to whichever query runs first
    spark.range(1000).selectExpr("sum(id)").collect()
    locally {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      val r = spark.read.parquet(s"$sfDir/region.parquet")
      r.join(r.selectExpr("r_regionkey as k"), col("r_regionkey") === col("k"))
        .groupBy("r_name").count()
        .withColumn("rn", row_number().over(Window.orderBy("r_name")))
        .collect()
      // touch every table once: file listing + footer parse + first
      // page read are one-time costs that otherwise bill to whichever
      // query reads the table first
      Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings").foreach { t =>
        spark.read.parquet(s"$sfDir/$t.parquet").limit(1).collect()
      }
    }

    // load-calibration sentinel: a FIXED CPU-bound synthetic workload
    // (no I/O, fixed 32-way partitioning independent of the cpu env)
    // timed before and after the query loop. Its honest time is a
    // machine constant, so a loaded/throttled bench box shows up as an
    // inflated sentinel — any reader can normalize query times by
    // cal_pre/cal_post instead of trusting the box (rounds 7 and 8
    // both shipped distorted driver benches that only an out-of-band
    // re-run could adjudicate). min-of-2 so one GC pause can't fake a
    // loaded box.
    def calibrate(): Double = (1 to 2).map { _ =>
      val t0 = System.nanoTime()
      spark.range(0L, 400000000L, 1L, 32)
        .selectExpr("sum(hash(id, id + 1))").collect()
      (System.nanoTime() - t0) / 1e9
    }.min

    // companion SERIAL sentinel: the same per-row work at 1/32 the
    // rows in ONE partition (one core). The pair separates failure
    // modes the parallel sentinel alone cannot: per-core slowdown
    // (CPU frequency throttle, steal — both sentinels inflate
    // together) vs multi-core contention (co-tenant load — the
    // 32-way sentinel inflates while the serial one stays flat).
    // Honest bands, measured across every r12 board (bench/MANIFEST):
    // serial ~0.14-0.20 s, parallel ~0.30-0.45 s — the serial run is
    // roughly HALF the parallel one (1/32 the rows but none of the
    // 32-way scheduling/SMT overhead), NOT equal to it. Adjudicate a
    // board by deviation from these bands, not by comparing the two
    // sentinels to each other.
    def calibrateSerial(): Double = (1 to 2).map { _ =>
      val t0 = System.nanoTime()
      spark.range(0L, 12500000L, 1L, 1)
        .selectExpr("sum(hash(id, id + 1))").collect()
      (System.nanoTime() - t0) / 1e9
    }.min

    // session hygiene between timed windows: drop any cached frames
    // and checkpoint RDDs the query left behind, then drain pending
    // GC debt, so neither block-manager accumulation nor a deferred
    // collection bills one query's garbage to a later query's wall
    // time. BLOCKING: the removal work itself must land here, between
    // the timers, not race into the next query's window
    def hygiene(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      System.gc()
    }

    // fixed name order: per-round BENCH numbers stay comparable and
    // cold-cache costs land on the same queries every run
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "2").toInt.max(1)
    // dev-only subset filter (driver leaves it unset → all queries).
    // Loud on stderr and flagged in the JSON line itself: a partial
    // bench artifact must be self-describing.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    only.foreach { set =>
      System.err.println(s"\n${"!" * 72}\n[bench] SPARK_GRAFT_ONLY active — PARTIAL bench of ${set.size} queries: ${set.toSeq.sorted.mkString(",")}\n${"!" * 72}\n")
    }
    // candidate-volume telemetry: the dedup/sketch operators emit
    // named `observe` counters (DedupOps.observeCount); a listener
    // collects them per query so sf-to-sf candidate growth is a
    // tracked artifact in the bench line, not something inferred from
    // seconds. Attribution is by the query name current at onSuccess.
    // The listener bus is ASYNC, so after each query's runs the loop
    // BLOCKS on the bus's own quiescence barrier
    // (GraftBusFlush.flush → LiveListenerBus.waitUntilEmpty) before
    // advancing currentQuery — every event raised during query X is
    // delivered while currentQuery == X, which closes the
    // late-delivery misattribution window (several queries share
    // metric names like `verified_pairs`/`cand_ngram`). The flush sits
    // OUTSIDE the per-run timer, so it never distorts timings; if it
    // throws (bus timeout), the bounded version-polling drain below is
    // the fallback.
    val observed = new java.util.concurrent.ConcurrentHashMap[String, Long]()
    // bumped on EVERY delivered event (not just new keys): the
    // post-loop drain polls this, so a pending overwrite of an
    // existing key counts as "not yet quiet" too
    val obsVersion = new java.util.concurrent.atomic.AtomicLong(0L)
    val currentQuery = new java.util.concurrent.atomic.AtomicReference[String]("")
    spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = {
        val q = currentQuery.get()
        if (q.nonEmpty) qe.observedMetrics.foreach { case (metric, row) =>
          if (row.schema.nonEmpty && row.get(0).isInstanceOf[Long]) {
            observed.put(s"$q:$metric", row.getLong(0))
            obsVersion.incrementAndGet()
          }
        }
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, error: Exception): Unit = ()
    })
    val calPre = calibrate()
    val calSerPre = calibrateSerial()
    // MID-RUN sentinels (verdict r15 #3): the endpoint pair has a
    // blind spot — a transient ambient episode that starts and ends
    // INSIDE the query loop leaves both endpoints flat (the r15 07:27
    // board hid +32 s that way; adjudication needed an alphabetical-
    // contiguity argument). Interleave the same sentinel pair every
    // `calEvery` queries and record the series in the JSON, so a
    // mid-run episode flags itself. Sentinels run OUTSIDE the query
    // timers; at the default cadence (~6 checkpoints over 154
    // queries) the overhead is ~8 s of untimed wall, zero query skew.
    val calEvery = sys.env.getOrElse("SPARK_GRAFT_CAL_EVERY", "25").toInt.max(1)
    val calSeries = scala.collection.mutable.ArrayBuffer.empty[(String, Double, Double)]
    calSeries += (("start", calPre, calSerPre))
    val named = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    val results = named.zipWithIndex.map { case ((name, fn), qi) =>
      currentQuery.set(name)
      // min of `runs` full executions (data is re-read and recomputed
      // each time — hygiene() drops all storage between them; only JIT
      // and codegen caches stay warm). A single cold run is hostage to
      // whichever GC pause or transient host load lands in its window:
      // round-3's driver artifact billed a 40 s stall to a 1.4 s query.
      val t = (1 to runs).map { _ =>
        val t0 = System.nanoTime()
        val ok =
          // noop sink: consumes every row WITH all projected columns
          // evaluated — .count() would let Catalyst prune computed
          // columns that don't affect cardinality and under-measure.
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
          catch { case e: Throwable => System.err.println(s"[bench] $name failed: ${e.getMessage}"); false }
        val dt = (System.nanoTime() - t0) / 1e9
        hygiene()
        if (ok) dt else -1.0
      }.min // a crash in any run reports -1 — never read as a fast run
      // drain the listener bus BEFORE the next query takes over the
      // attribution name (see the observed-metrics comment above)
      // NonFatal only: an InterruptedException must re-set the flag
      // (swallowing it strands a cancelled bench), and a failed flush
      // means this query's observed metrics may be attributed late —
      // say so instead of silently proceeding
      try org.apache.spark.GraftBusFlush.flush(spark.sparkContext)
      catch {
        case _: InterruptedException => Thread.currentThread().interrupt()
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[bench] bus flush after $name failed (${e.getMessage}): observed-metric attribution may lag")
      }
      // mid-run checkpoint: after every calEvery-th query (not after
      // the last — the post sentinel covers the tail)
      if ((qi + 1) % calEvery == 0 && qi + 1 < named.size)
        calSeries += ((name, calibrate(), calibrateSerial()))
      name -> t
    }
    val calPost = calibrate()
    val calSerPost = calibrateSerial()
    calSeries += (("end", calPost, calSerPost))
    // millisecond precision: full-precision doubles double the line
    // length, and the driver keeps only a bounded tail of the output —
    // a JSON line that doesn't fit is a JSON line that doesn't parse.
    // Locale.ROOT: a comma-decimal default locale would corrupt the JSON
    def fmt(v: Double): String =
      if (v < 0) "-1" else String.format(java.util.Locale.ROOT, "%.3f", v: java.lang.Double)
    val qs = results.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    val partial = if (only.isDefined) s""","partial":true""" else ""
    // loaded-box auto-flag (verdict r12 #4/#7): a board whose START
    // sentinels sit above the honest bands began under co-tenant load
    // or throttle and must not silently become a round's headline
    // number — the flag rides the JSON itself so any later reader
    // (driver, judge, MANIFEST row) sees it without out-of-band notes.
    // Bands: serial honest ~0.14-0.20 s, parallel ~0.30-0.45 s; the
    // thresholds add ~10-15% headroom so ordinary jitter doesn't flag.
    // Serial gate 0.22: the one board the r12 judge adjudicated as
    // contaminated-start read cal_ser_pre = 0.230 — the gate must
    // catch exactly that case.
    val loadedStart = calSerPre > 0.22 || calPre > 0.52
    val loadedEnd = calSerPost > 0.22 || calPost > 0.52
    // mid-run flag: any INTERIOR sentinel outside the honest bands —
    // the queries timed between the last flat checkpoint and the next
    // one ran under ambient load even when both endpoints read flat
    val loadedMid = calSeries.drop(1).dropRight(1)
      .exists { case (_, par, ser) => ser > 0.22 || par > 0.52 }
    val loaded = (if (loadedStart) s""","loaded_start":true""" else "") +
      (if (loadedEnd) s""","loaded_end":true""" else "") +
      (if (loadedMid) s""","loaded_mid":true""" else "")
    if (loadedMid) System.err.println(
      s"[bench] WARNING loaded-mid board: an interior calibration checkpoint sits above " +
        "the honest bands (par ~0.30-0.45, ser ~0.14-0.20) — queries between the " +
        "adjacent flat checkpoints ran under ambient load; see cal_series in the JSON")
    if (loadedStart) System.err.println(
      s"[bench] WARNING loaded-start board: cal_pre=${fmt(calPre)} cal_ser_pre=${fmt(calSerPre)} " +
        "above honest bands (par ~0.30-0.45, ser ~0.14-0.20) — do not stamp as a round headline")
    // drain the async listener bus before snapshotting so the LAST
    // query's metrics can't be dropped by a still-queued onSuccess:
    // the deterministic barrier first, then (only if it threw) poll
    // until the observed map is stable for two consecutive reads
    // (bounded at ~2 s). currentQuery stays set to the last query
    // until the drain completes for the same reason.
    try org.apache.spark.GraftBusFlush.flush(spark.sparkContext)
    catch { case scala.util.control.NonFatal(_) =>
      locally {
        var last = -1L
        var stable = 0
        var spins = 0
        while (stable < 2 && spins < 10) {
          Thread.sleep(200)
          val v = obsVersion.get()
          if (v == last) stable += 1 else { stable = 0; last = v }
          spins += 1
        }
      }
    }
    currentQuery.set("")
    val obsJson = {
      import scala.jdk.CollectionConverters._
      val m = observed.asScala.toSeq.sortBy(_._1)
      if (m.isEmpty) ""
      else m.map { case (k, v) => "\"" + k + "\":" + v }
        .mkString(""","observed":{""", ",", "}")
    }
    // runs is part of the artifact: a 1-run and a 3-run-min total are
    // not comparable, and the methodology must not live only in notes
    // cal_pre/cal_post make a loaded box self-identifying (see
    // BENCH_NOTES "Calibration sentinel" for the normalization rule)
    // the full sentinel series: "after" = the last query completed
    // before the checkpoint ("start"/"end" for the endpoints), so a
    // flagged episode localizes to a query range without alphabetical
    // forensics
    val seriesJson = calSeries
      .map { case (after, par, ser) =>
        s"""{"after":"$after","par":${fmt(par)},"ser":${fmt(ser)}}""" }
      .mkString(""","cal_series":[""", ",", "]")
    val line = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"sf":"$sfDir","runs":$runs,"cal_pre":${fmt(calPre)},"cal_post":${fmt(calPost)},"cal_ser_pre":${fmt(calSerPre)},"cal_ser_post":${fmt(calSerPost)}$seriesJson$loaded$obsJson$partial}"""
    println(line)
    // the driver's artifact keeps only a bounded TAIL of stdout, which
    // silently drops the first ~23 queries' timings once the line grows
    // past the cap — persist the whole line to a file too, so the full
    // per-query table survives verbatim regardless of capping
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_times.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), line + "\n")
    catch { case e: Throwable => System.err.println(s"[bench] could not write $outFile: ${e.getMessage}") }
    // ALSO write a never-overwritten stamped copy for full (non-partial)
    // runs: the round-8 judge re-run silently clobbered the driver's
    // bench_times.json, losing the only full per-query r8 table. Stamp
    // is SPARK_GRAFT_ROUND when the driver exports it, else a UTC
    // timestamp; an existing file is never replaced — a "-N" suffix is
    // appended so every full bench run leaves its own artifact.
    if (only.isEmpty) {
      val stamp = sys.env.get("SPARK_GRAFT_ROUND").map(r => s"r$r").getOrElse {
        java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd'T'HHmmss'Z'")
          .withZone(java.time.ZoneOffset.UTC).format(java.time.Instant.now())
      }
      // stamped copies live under bench/ (with bench/MANIFEST.md) so
      // the repo root holds only the driver-stamped round artifacts
      val benchDir = java.nio.file.Paths.get("bench")
      try java.nio.file.Files.createDirectories(benchDir)
      catch { case _: Throwable => () }
      val base = s"bench_times_$stamp"
      val target = Iterator.single(s"$base.json")
        .concat(Iterator.from(1).map(i => s"$base-$i.json"))
        .map(benchDir.resolve(_))
        .find(p => !java.nio.file.Files.exists(p)).get
      try java.nio.file.Files.writeString(target, line + "\n")
      catch { case e: Throwable => System.err.println(s"[bench] could not write $target: ${e.getMessage}") }
    }
    spark.stop()
  }
}
