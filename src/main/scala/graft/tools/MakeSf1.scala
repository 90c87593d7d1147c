package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftSession

/** Deterministic sf1 testdata: a `copies`× (default 10×) re-keyed
  * replication of the driver's sf0.1 tables, written OUTSIDE the
  * read-only testdata tree (default `/root/repo/testdata_sf1`,
  * gitignored). This is the scale-up rehearsal input: 6M-row lineitem,
  * 1.5M orders, 1M events, 50k documents — big enough that the
  * broadcast/shuffle and linear-vs-quadratic questions become
  * measurable, small enough to run on the box.
  *
  * Replication preserves the sf0.1 structure per copy and keeps the
  * copies from interfering with each other:
  *  - every entity key is strided by `max(key)+1` per copy, so
  *    referential integrity (orders→customer, lineitem→orders/part/
  *    supplier, events→user) holds within each copy and keys never
  *    collide across copies;
  *  - document TEXT tokens get a per-copy suffix (copy 0 verbatim):
  *    token renaming is a bijection on each copy's vocabulary, so
  *    within-copy shingle/minhash/Jaccard structure is preserved
  *    EXACTLY while cross-copy token sets are disjoint — without this,
  *    every doc would gain `copies−1` identical twins and the dedup
  *    family's candidate counts would blow up quadratically in the
  *    copy factor, a duplication artifact, not a scale signal
  *    (`n_chars` is recomputed; it equals `length(text)` in the
  *    source);
  *  - EMBEDDINGS get a per-copy deterministic sign pattern on the
  *    dimensions (copy 0 verbatim): a coordinate sign flip is an
  *    orthogonal transform, so within-copy cosines are preserved
  *    EXACTLY while cross-copy cosines decorrelate — same reasoning
  *    as the text suffix, for the ANN family.
  *
  * Fact tables are written as 32 files so the scan parallelizes by
  * itself and [[graft.plans.FactSpread]] never spreads it; dimensions
  * stay single-file.
  */
object MakeSf1 {
  val DefaultSrc = "/root/testdata/sf0.1"
  val DefaultOut = "/root/repo/testdata_sf1"
  private val marker = "_SF1_COMPLETE"

  /** Generate if missing; returns the sf1 dir. Idempotent via a
    * completion marker, so specs/bench can call it unconditionally. */
  def ensure(spark: SparkSession, src: String = DefaultSrc,
             out: String = DefaultOut, copies: Int = 10): String = {
    if (Files.exists(Paths.get(out, marker))) return out
    generate(spark, src, out, copies)
    out
  }

  def generate(spark: SparkSession, src: String, out: String, copies: Int): Unit = {
    def read(t: String) = spark.read.parquet(s"$src/$t.parquet")
    def keyStride(df: DataFrame, c: String): Long =
      df.agg(max(col(c))).head.getAs[Number](0).longValue() + 1L

    val custS = keyStride(read("customer"), "c_custkey")
    val ordS = keyStride(read("orders"), "o_orderkey")
    val partS = keyStride(read("part"), "p_partkey")
    val suppS = keyStride(read("supplier"), "s_suppkey")
    val evS = keyStride(read("events"), "event_id")
    val userS = keyStride(read("events"), "user_id")
    val docS = keyStride(read("documents"), "doc_id")
    val vecS = keyStride(read("embeddings"), "vec_id")

    // one scan → copies× rows: the copy index rides a broadcast range
    def replicated(t: String): DataFrame =
      read(t).crossJoin(broadcast(spark.range(copies).toDF("__i")))
    def strided(c: String, s: Long): Column = col(c) + col("__i") * lit(s)

    def write(df: DataFrame, t: String, files: Int): Unit =
      (if (files == 1) df.coalesce(1) else df.repartition(files))
        .write.mode("overwrite").parquet(s"$out/$t.parquet")

    // bounded dims: verbatim copy (5 regions / 25 nations at any SF)
    write(read("region"), "region", 1)
    write(read("nation"), "nation", 1)

    write(replicated("customer").withColumn("c_custkey", strided("c_custkey", custS))
      .drop("__i"), "customer", 1)
    write(replicated("supplier").withColumn("s_suppkey", strided("s_suppkey", suppS))
      .drop("__i"), "supplier", 1)
    write(replicated("part").withColumn("p_partkey", strided("p_partkey", partS))
      .drop("__i"), "part", 1)

    write(replicated("orders")
      .withColumn("o_orderkey", strided("o_orderkey", ordS))
      .withColumn("o_custkey", strided("o_custkey", custS))
      .drop("__i"), "orders", 32)
    write(replicated("lineitem")
      .withColumn("l_orderkey", strided("l_orderkey", ordS))
      .withColumn("l_partkey", strided("l_partkey", partS))
      .withColumn("l_suppkey", strided("l_suppkey", suppS))
      .drop("__i"), "lineitem", 32)
    write(replicated("events")
      .withColumn("event_id", strided("event_id", evS))
      .withColumn("user_id", strided("user_id", userS))
      .drop("__i"), "events", 32)

    // per-copy token suffix keeps copies textually disjoint (see
    // scaladoc); split on single spaces — the generator's own join
    // delimiter — so the round-trip is exact for copy 0's tokens
    val suffixed = when(col("__i") === 0, col("text")).otherwise(
      array_join(transform(split(col("text"), " "),
        t => concat(t, lit("_"), col("__i"))), " "))
    write(replicated("documents")
      .withColumn("doc_id", strided("doc_id", docS))
      .withColumn("text", suffixed)
      .withColumn("n_chars", length(col("text")).cast("long"))
      .drop("__i"), "documents", 32)

    // per-copy Rademacher sign pattern on the coordinates (orthogonal
    // within a copy, decorrelating across copies); copy 0 verbatim
    val signFlipped = when(col("__i") === 0, col("embedding")).otherwise(
      transform(col("embedding"),
        (x, d) => when(pmod(hash(col("__i"), d), lit(2)) === 0, x).otherwise(-x)))
    write(replicated("embeddings")
      .withColumn("vec_id", strided("vec_id", vecS))
      .withColumn("embedding", signFlipped.cast("array<float>"))
      .drop("__i"), "embeddings", 32)

    Files.createDirectories(Paths.get(out))
    Files.write(Paths.get(out, marker), s"copies=$copies src=$src\n".getBytes)
  }

  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse(DefaultSrc)
    val out = args.lift(1).getOrElse(DefaultOut)
    val copies = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "16").toInt)
    val t0 = System.nanoTime()
    val dir = ensure(spark, src, out, copies)
    println(f"[make_sf1] $dir ready in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    spark.stop()
  }
}
