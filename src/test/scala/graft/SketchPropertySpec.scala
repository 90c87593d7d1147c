package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property tests for the Space-Saving sketch contract on arbitrary
  * streams and partitionings:
  *  - count is never an under-estimate: count >= true frequency
  *  - count - err is never an over-estimate: count - err <= true
  *  - every item with true frequency > N/capacity is present
  * (Seeded generators, deterministic run.) */
class SketchPropertySpec extends SparkSpec {
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int, seed0: Long): Seq[A] = {
    var seed = Seed(seed0)
    (1 to n).flatMap { _ =>
      val r = g.apply(Gen.Parameters.default, seed)
      seed = seed.next
      r
    }
  }

  // skewed streams: small alphabet with zipf-ish repetition
  private val streamGen: Gen[List[String]] = for {
    alphabet <- Gen.chooseNum(5, 40)
    len <- Gen.chooseNum(50, 400)
    s <- Gen.listOfN(len, Gen.chooseNum(1, alphabet).map(i => s"w${i * i % alphabet}"))
  } yield s

  test("space-saving bounds hold on arbitrary streams and partitionings") {
    for ((stream, i) <- samples(streamGen, 25, 0xC0FFEE).zipWithIndex) {
      val capacity = 8 + (i % 3) * 8 // 8, 16, 24
      val truth = stream.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val out = stream.toDF("w").repartition(1 + i % 5)
        .agg(call_function("topk_sketch", col("w"), lit(capacity)).as("top"))
        .select(explode(col("top")).as("e"))
        .select(col("e.item"), col("e.count"), col("e.err"))
        .as[(String, Long, Long)].collect()
      out.foreach { case (item, count, err) =>
        val t = truth.getOrElse(item, 0L)
        assert(count >= t, s"stream $i: $item count $count < true $t")
        assert(count - err <= t, s"stream $i: $item lower bound ${count - err} > true $t")
      }
      // guaranteed heavy hitters present
      val n = stream.size.toLong
      val present = out.map(_._1).toSet
      truth.foreach { case (item, t) =>
        if (t > n / capacity)
          assert(present.contains(item), s"stream $i: heavy hitter $item ($t/$n, cap $capacity) missing")
      }
    }
  }
}
