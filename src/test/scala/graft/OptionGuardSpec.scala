package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Every `spark.graft.*` switch is a second code path that must stay
  * measured and tested. Pin the set the main sources read — empty: a
  * spec that needs one of graft's optimizer rules off uses Spark's
  * `spark.sql.optimizer.excludedRules` ([[SparkSpec.withoutRules]]) —
  * so a new switch, or a rejected variant kept behind one, is a
  * visible edit here rather than a silent default-off branch. */
class OptionGuardSpec extends AnyFunSuite {
  test("main sources read no spark.graft.* option") {
    val literal = "\"(spark\\.graft\\.[^\"]*)\"".r
    val walk = Files.walk(Paths.get("src/main/scala"))
    val keys =
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
        .flatMap(f => literal.findAllMatchIn(Files.readString(f)).map(_.group(1)))
        .toSet
      finally walk.close()
    assert(keys.isEmpty, keys)
  }
}
