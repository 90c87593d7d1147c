package graft

import org.apache.spark.sql.functions._

/** [[Profile]]: exact counts for a fixed plan, the build/action split,
  * the observed-metric map and the leak report. */
class ProfileSpec extends SparkSpec {
  import spark.implicits._

  test("a fixed aggregate reports exact jobs, stages and tasks") {
    val (sum, profile) = Profile.window(spark) { _ =>
      spark.range(0, 1000, 1, 4).selectExpr("sum(id)").head().getLong(0)
    }
    assert(sum == 499500L)
    val a = profile.action
    // AQE runs the map stage (4 tasks) as a job of its own, then the
    // single-partition final aggregate (1 task) as a second job whose
    // copy of the map stage is skipped
    assert((a.executions.size, a.jobs, a.stages, a.tasks) == ((1, 2, 2, 5)), a)
    assert(a.shuffleWriteBytes > 0 && a.shuffleReadBytes == a.shuffleWriteBytes, a)
    assert(a.maxTaskMs >= a.p50TaskMs && a.taskMs >= 0, a)
    assert(profile.build == Profile.Phase(profile.build.ms, Nil, 0, 0, 0, 0, 0, 0, 0, 0, 0))
  }

  test("a lazy frame builds with no execution; a builder that counts shows one") {
    val (lazyDf, lazyProfile) = Profile.window(spark)(p => p.build(spark.range(10).where($"id" > 3)))
    assert(lazyProfile.build.executions.isEmpty && lazyProfile.build.jobs == 0, lazyProfile.build)
    assert(lazyDf.count() == 6)
    val (_, eager) = Profile.window(spark) { p =>
      val df = p.build {
        val base = spark.range(10)
        base.where($"id" >= base.count() / 2)
      }
      df.collect()
    }
    assert(eager.build.executions.size == 1, eager.build)
    assert(eager.build.executions.head.startsWith("count at ProfileSpec.scala"), eager.build)
    assert(eager.action.executions.size == 1, eager.action)
  }

  test("an observed metric reported by two executions keeps the last value") {
    val (_, profile) = Profile.window(spark) { _ =>
      Seq(1, 2).foreach { n =>
        spark.range(n).observe("rows_seen", count(lit(1)).as("n")).collect()
      }
    }
    assert(profile.observed == Map("rows_seen" -> 2L))
  }

  test("an RDD persisted and left inside a window is a leak; one unpersisted is not") {
    val (kept, profile) = Profile.window(spark) { _ =>
      val freed = spark.sparkContext.parallelize(1 to 10).setName("freed").persist()
      freed.count()
      freed.unpersist(blocking = true)
      val kept = spark.sparkContext.parallelize(1 to 10).setName("kept").persist()
      kept.count()
      kept
    }
    try assert(profile.leaked.map(_.id) == Seq(kept.id), profile.leaked)
    finally kept.unpersist(blocking = true)
    assert(profile.leaked.head.rdd.startsWith("kept ") &&
      profile.leaked.head.rdd.contains("ProfileSpec.scala"), profile.leaked)
  }
}
