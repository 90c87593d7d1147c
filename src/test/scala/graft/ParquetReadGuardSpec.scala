package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** A bare `.read.parquet(path)` runs a schema-inference Spark job
  * every time a frame is built over it; [[Tables.read]] infers a path
  * once and supplies the remembered schema after that. Pin the main
  * sources that still read parquet bare, each with its reason, so a
  * new one is a visible edit here. */
class ParquetReadGuardSpec extends AnyFunSuite {
  private val allowed = Map(
    "graft/Tables.scala" -> "the reader itself: the one inferred read of a path",
    "graft/Bench.scala" -> "the bench harness's pre-touch reads, part of its timed set-up",
    "graft/sources/Sources.scala" ->
      "compaction rewrites whatever is on disk, so its schema must come from the files",
    "graft/streaming/MedallionStream.scala" ->
      "a glob over the stream's micro-batch directories, which the reader does not key",
    "graft/streaming/ScdStream.scala" ->
      "the streaming SCD state: each micro-batch reads a fresh version directory once",
    "graft/tools/MakeSf1.scala" -> "testdata generator: reads each source table once",
    "graft/tools/MakeSkew.scala" -> "testdata generator: reads each source table once")

  test("main sources read parquet bare only where the allowlist says why") {
    val root = Paths.get("src/main/scala/")
    val bare = "\\.read\\s*\\.parquet\\(".r
    val walk = Files.walk(root)
    val found =
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala"))
        .filter(f => bare.findFirstIn(Files.readString(f)).isDefined)
        .map(f => root.relativize(f).toString).toSet
      finally walk.close()
    assert(found -- allowed.keySet == Set.empty, "bare parquet reads outside the reader")
    assert(allowed.keySet -- found == Set.empty, "allowlisted but reading no parquet bare")
  }
}
