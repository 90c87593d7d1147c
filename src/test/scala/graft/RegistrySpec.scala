package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** The per-change result check over the whole registry at sf0.001:
  *
  *  (a) once each table has been read in the session, building a
  *      query's frame starts no SQL execution and no Spark job (a
  *      schema inference is one), unless the query is on
  *      `registry_build_actions.tsv` with the reason its driver must
  *      see rows before the plan exists;
  *  (b) each query runs at 1 and at 7 shuffle partitions; the two
  *      outputs hash alike ([[RegistrySpec.digest]], row order and
  *      column order ignored), and equal the committed
  *      `registry_digests.tsv`, taken from outputs that passed the
  *      DuckDB oracle;
  *  (c) no output is empty unless `tools/empty_ok.tsv` — the allowlist
  *      `tools/selfcheck.py` reads — says why.
  *
  * Regenerating the digests is a result change: run
  * `Test/runMain graft.RegistryDigests <out.tsv> <sf0.001 dir>` only on
  * a tree whose outputs passed the oracle at every SF, and say so in
  * CHANGES.md. */
class RegistrySpec extends SparkSpec {
  import RegistrySpec._

  /** Each table read once in the 1-partition session, as a warm
    * session's first queries leave it; then each query built there
    * under a [[Profile]] window, which records the SQL executions and
    * Spark jobs building starts; then the
    * 1-partition frames and 7-partition rebuilds (a second session) run
    * concurrently. */
  private lazy val runs: Seq[Run] = {
    val key = "spark.sql.shuffle.partitions"
    val (one, seven) = (spark.newSession(), spark.newSession())
    one.conf.set(key, "1")
    seven.conf.set(key, "7")
    new java.io.File(sf).listFiles().filter(_.getName.endsWith(".parquet")).foreach(f => Tables.read(one, f.getPath))
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
    val built = queries.map { case (name, fn) =>
      val (df, profile) = Profile.window(spark)(p => p.build(scala.util.Try(fn(one, sf))))
      (name, profile.build, df)
    }
    def outcome(df: scala.util.Try[DataFrame]) =
      df.flatMap(d => scala.util.Try(digest(d))).toEither.left.map(_.toString)
    // two streams per partitioning: sf0.001 queries are scheduling-
    // bound, so four side by side fill the cores
    import scala.concurrent.{Await, Future, duration}
    import scala.concurrent.ExecutionContext.Implicits.global
    def streams[A](f: Int => A): Seq[A] = {
      val halves = built.indices.partition(_ % 2 == 0)
      Await.result(Future.sequence(Seq(halves._1, halves._2).map(h => Future(h.map(i => i -> f(i))))),
        duration.Duration.Inf).flatten.sortBy(_._1).map(_._2)
    }
    val atOne = Future(streams(i => outcome(built(i)._3)))
    val atSeven = Future(streams(i => outcome(scala.util.Try(queries(i)._2(seven, sf)))))
    val (r1, r7) = (Await.result(atOne, duration.Duration.Inf), Await.result(atSeven, duration.Duration.Inf))
    built.indices.map(i => Run(built(i)._1, built(i)._2.executions, built(i)._2.jobs, r1(i), r7(i)))
  }

  test("every registry query runs at 1 and 7 shuffle partitions") {
    val failed = runs.flatMap(r => Seq(r.one, r.seven).collect { case Left(e) => s"${r.name}: $e" })
    assert(failed.isEmpty, failed.mkString("\n"))
  }

  test("(a) building a frame starts no SQL execution unless the driver needs rows") {
    val allowed = resourceTsv("registry_build_actions.tsv").map(c => c(0) -> c(1)).toMap
    def works(r: Run) = r.atBuild.nonEmpty || r.buildJobs > 0
    val unlisted = runs.filter(r => works(r) && !allowed.contains(r.name))
      .map(r => s"${r.name}: ${r.atBuild.size} executions, ${r.buildJobs} jobs at build (${r.atBuild.distinct.mkString("; ")})")
    val stale = allowed.keySet.filter(q => runs.exists(r => r.name == q && !works(r)))
    assert(unlisted.isEmpty, unlisted.mkString("\n"))
    assert(stale.isEmpty, s"allowlisted but building runs nothing: ${stale.toSeq.sorted}")
  }

  test("(b) outputs agree across partitionings and with the committed digests") {
    val committed = resourceTsv("registry_digests.tsv").map(c => c(0) -> (c(1).toLong, c(2))).toMap
    assert(committed.keySet == runs.map(_.name).toSet,
      s"digest file and registry differ: ${(committed.keySet diff runs.map(_.name).toSet).toSeq.sorted} " +
        s"vs ${(runs.map(_.name).toSet diff committed.keySet).toSeq.sorted}")
    val bad = runs.flatMap { r =>
      (r.one, r.seven) match {
        case (Right(a), Right(b)) if a != b => Some(s"${r.name}: ${a._1} rows at 1 partition, ${b._1} at 7 (hashes differ)")
        case (Right(a), _) if a != committed(r.name) =>
          Some(s"${r.name}: ${a._1} rows ${a._2.take(12)} vs committed ${committed(r.name)._1} rows ${committed(r.name)._2.take(12)}")
        case _ => None
      }
    }
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("(c) no output is empty unless tools/empty_ok.tsv says why") {
    val sfName = Paths.get(sf).getFileName.toString
    val emptyOk = Files.readAllLines(Paths.get("tools/empty_ok.tsv")).asScala
      .filterNot(l => l.startsWith("#") || l.trim.isEmpty).map(_.split("\t"))
      .collect { case Array(q, sfs, _) if sfs == "*" || sfs.split(",").contains(sfName) => q }.toSet
    val empty = runs.collect { case Run(name, _, _, Right((0L, _)), _) if !emptyOk(name) => name }
    assert(empty.isEmpty, s"empty outputs not in tools/empty_ok.tsv: $empty")
  }
}

object RegistrySpec {
  final case class Run(name: String, atBuild: Seq[String], buildJobs: Int,
      one: Either[String, (Long, String)], seven: Either[String, (Long, String)])

  /** Row count and an order-independent sha256 of a frame's output,
    * normalized like `tools/selfcheck.py`'s `norm`: columns sorted by
    * name, rows sorted, timestamps as epoch microseconds. Doubles print
    * their shortest round-trip form, so equal hashes mean bit-equal
    * values. */
  def digest(df: DataFrame): (Long, String) = {
    val order = df.columns.zipWithIndex.sortBy(_._1).map(_._2)
    val lines = df.collect().map(r => order.map(i => render(r.get(i))).mkString("\t")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(df.columns.sorted.mkString("\t").getBytes("UTF-8"))
    lines.foreach { l => md.update('\n'.toByte); md.update(l.getBytes("UTF-8")) }
    (lines.length.toLong, md.digest().map(b => f"${b & 0xff}%02x").mkString)
  }

  private def render(v: Any): String = v match {
    case null => "\\N"
    case t: java.sql.Timestamp => (t.getTime / 1000 * 1000000L + t.getNanos / 1000).toString
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString("0x", "", "")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] => m.map { case (k, x) => s"${render(k)}:${render(x)}" }.toSeq.sorted.mkString("{", ",", "}")
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case d: java.math.BigDecimal => d.toPlainString
    case x => x.toString
  }

  private def resourceTsv(name: String): Seq[Array[String]] = {
    val in = getClass.getResourceAsStream(s"/graft/$name")
    require(in != null, s"missing test resource graft/$name")
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filterNot(l => l.startsWith("#") || l.trim.isEmpty).map(_.split("\t")).toSeq
    finally in.close()
  }
}

/** Writes `query<TAB>rows<TAB>sha256` for every registry query over
  * the SF dir given second (sf0.001 for the committed digests), hashed
  * by [[RegistrySpec.digest]] at 1 shuffle partition; warns on stderr
  * where 7 partitions hash differently.
  *   sbt "Test/runMain graft.RegistryDigests <out.tsv> <sfDir>" */
object RegistryDigests {
  def main(args: Array[String]): Unit = {
    val dir = args(1)
    val spark: SparkSession = SparkSpec.session
    spark.sparkContext.setLogLevel("ERROR")
    val rows = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      def at(p: Int) = {
        spark.conf.set("spark.sql.shuffle.partitions", p.toString)
        RegistrySpec.digest(fn(spark, dir))
      }
      val (n, h) = at(1)
      if (at(7) != ((n, h))) System.err.println(s"[digests] $name differs at 7 partitions")
      s"$name\t$n\t$h"
    }
    Files.write(Paths.get(args(0)),
      ("# query\trows\tsha256 (RegistrySpec.digest at sf0.001)" +: rows).asJava)
    spark.stop()
  }
}
