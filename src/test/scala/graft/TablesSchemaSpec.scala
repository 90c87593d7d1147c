package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.concurrent.{Await, Future, duration}
import scala.concurrent.ExecutionContext.Implicits.global

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{StructType, TimestampNTZType, TimestampType}

import graft.operators.{CorpusPipelineDag, JobGraph, SalesPipelineDag}

/** [[Tables.read]]'s schema memo: a remembered or primed schema is
  * exactly the one inference yields, a read it serves starts no Spark
  * job, and what is on disk or in the session's confs changing makes
  * it infer again. */
class TablesSchemaSpec extends SparkSpec {

  private def tmp(): String = Files.createTempDirectory("graft_schema").toString

  /** The schema `read` gives `path`, and the Spark jobs building it
    * started. */
  private def read(s: SparkSession, path: String): (StructType, Int) = {
    val (schema, report) = Profile.window(s)(p => p.build(Tables.read(s, path).schema))
    (schema, report.build.jobs)
  }

  private def inferred(s: SparkSession, path: String): StructType = s.read.parquet(path).schema

  test("every table at sf0.001, sf0.01 and sf0.1: the remembered schema is the inferred one") {
    for (sfDir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1");
         f <- new java.io.File(sfDir).listFiles().filter(_.getName.endsWith(".parquet")).sortBy(_.getName)) {
      val path = f.getPath
      read(spark, path)
      val (schema, jobs) = read(spark, path)
      assert(jobs == 0, s"$path: a second read started $jobs jobs")
      assert(schema == inferred(spark, path), s"$path: ${schema.treeString} vs ${inferred(spark, path).treeString}")
    }
  }

  test("a session's confs key the memo: events.ts keeps each session's stored type") {
    val path = s"$sf/events.parquet"
    read(spark, path)
    val other = spark.newSession()
    other.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    val (schema, jobs) = read(other, path)
    assert(jobs > 0, "a session with other confs was served another session's schema")
    assert(schema == inferred(other, path))
    assert(schema("ts").dataType == TimestampType)
    assert(read(spark, path)._1("ts").dataType == TimestampNTZType)
  }

  /** Every layer of the run is served from the memo and equals what
    * inference yields; no stage of the run was a schema inference
    * through the reader. */
  private def assertLayersPrimed(layers: Seq[String])(run: => Seq[JobGraph.JobReport]): Unit = {
    val stages = mutable.ArrayBuffer.empty[String]
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        stages.synchronized(stages += e.stageInfo.name)
    }
    spark.sparkContext.addSparkListener(listener)
    val reports = try run finally {
      org.apache.spark.GraftBusFlush.flush(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
    }
    assert(reports.forall(_.status == JobGraph.Succeeded), reports.map(r => r.id -> r.status))
    val inferring = stages.filter(_.startsWith("parquet at Tables.scala"))
    assert(inferring.isEmpty, s"schema-inference stages in the run: $inferring")
    for (layer <- layers) {
      val (schema, jobs) = read(spark, layer)
      assert(jobs == 0, s"$layer: read started $jobs jobs")
      assert(schema == inferred(spark, layer), s"$layer: ${schema.treeString} vs ${inferred(spark, layer).treeString}")
    }
  }

  /** Each input table read once, as a session's first queries do. */
  private def preRead(): Unit = new java.io.File(sf).listFiles().filter(_.getName.endsWith(".parquet"))
    .foreach(f => Tables.read(spark, f.getPath))

  test("every medallion DAG layer: the primed schema is the inferred one") {
    preRead()
    val layout = SalesPipelineDag.Layout(tmp())
    import layout._
    assertLayersPrimed(Seq(bronzeValid, bronzeRejected, silverFact, scdDim, goldEnriched,
      customerMetrics, monthlyMart))(SalesPipelineDag.build(spark, sf, layout).run())
  }

  test("every corpus DAG layer: the primed schema is the inferred one") {
    preRead()
    val layout = CorpusPipelineDag.Layout(tmp())
    import layout._
    assertLayersPrimed(Seq(flags, pairs, keep, dupStats, clean, selected, mixture, splits, packs,
      packPayloads))(CorpusPipelineDag.build(spark, sf, layout).run())
  }

  test("a table rewritten in place with a dropped column is inferred again, and validate sees the drift") {
    val dir = tmp()
    for (t <- Seq("lineitem", "orders", "customer"))
      Files.copy(Paths.get(sf, s"$t.parquet"), Paths.get(dir, s"$t.parquet"))
    val path = s"$dir/customer.parquet"
    assert(read(spark, path)._1.fieldNames.contains("c_mktsegment"))
    val staged = s"$dir/staged"
    spark.read.parquet(path).drop("c_mktsegment").coalesce(1).write.parquet(staged)
    val part = new java.io.File(staged).listFiles().filter(_.getName.endsWith(".parquet")).head
    Files.move(part.toPath, Paths.get(path), StandardCopyOption.REPLACE_EXISTING)

    val (schema, jobs) = read(spark, path)
    assert(jobs > 0, "the rewritten file was served its old schema")
    assert(schema == inferred(spark, path) && !schema.fieldNames.contains("c_mktsegment"))
    val validate = SalesPipelineDag.build(spark, dir, SalesPipelineDag.Layout(tmp())).run()
      .find(_.id == "validate_environment").get
    validate.status match {
      case JobGraph.Failed(e) => assert(e.getMessage.contains("input schema drift"), e.getMessage)
      case other => fail(s"validate_environment: $other")
    }
  }

  test("concurrent readers of one path get equal schemas") {
    val dir = tmp()
    val paths = (0 until 6).map { i =>
      val p = s"$dir/t$i"
      spark.range(10).selectExpr("id", s"id * $i AS v", "CAST(id AS STRING) AS s").write.parquet(p)
      p
    }
    val got = Await.result(Future.sequence(paths.flatMap(p =>
      Seq.fill(2)(Future(p -> Tables.read(spark, p).schema)))), duration.Duration.Inf)
    for ((p, schemas) <- got.groupBy(_._1))
      assert(schemas.map(_._2).distinct == Seq(inferred(spark, p)), p)
  }
}
