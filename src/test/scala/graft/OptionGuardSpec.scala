package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Every `spark.graft.*` switch or `SPARK_GRAFT_*` variable is a
  * second code path that must stay measured and tested. Pin the sets
  * the main sources read, so a new switch, or a rejected variant kept
  * behind one, is a visible edit here rather than a silent
  * default-off branch. */
class OptionGuardSpec extends AnyFunSuite {
  /** Every distinct match of `literal`'s first group across the main
    * sources' string literals. */
  private def readLiterals(literal: scala.util.matching.Regex): Set[String] = {
    val walk = Files.walk(Paths.get("src/main/scala"))
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
      .flatMap(f => literal.findAllMatchIn(Files.readString(f)).map(_.group(1)))
      .toSet
    finally walk.close()
  }

  // empty: a spec that needs one of graft's optimizer rules off uses
  // Spark's `spark.sql.optimizer.excludedRules` ([[SparkSpec.withoutRules]])
  test("main sources read no spark.graft.* option") {
    val keys = readLiterals("\"(spark\\.graft\\.[^\"]*)\"".r)
    assert(keys.isEmpty, keys)
  }

  test("main sources read only the entry-point SPARK_GRAFT_* variables") {
    // the Bench/Verify entry-point contract
    val contract = Set("SF_DIR", "CPUS", "BENCH_RUNS", "ONLY", "CAL_EVERY", "BENCH_OUT", "ROUND")
    // tools.RunIncremental's own run-mode knobs
    val incrementalDriver = Set("INC_SNAPSHOT", "INC_DEAD_PERMILLE", "INC_CHECK")
    val names = readLiterals("\"SPARK_GRAFT_([A-Z0-9_]*)\"".r)
    assert(names == contract ++ incrementalDriver,
      s"unexpected: ${names -- contract -- incrementalDriver}; " +
        s"missing: ${contract ++ incrementalDriver -- names}")
  }
}
