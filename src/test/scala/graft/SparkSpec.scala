package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs (one JVM-wide session; cheap). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  lazy val sf: String = "/root/testdata/sf0.001"
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession.local(4)

  /** Run `f` (which must force its plans) with the named optimizer
    * rules left out of the batch, through Spark's own
    * `spark.sql.optimizer.excludedRules`: the rule-off reference plan
    * for specs of graft's injected rules. */
  def withoutRules[A](spark: SparkSession, rules: String*)(f: => A): A = {
    val key = "spark.sql.optimizer.excludedRules"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, rules.mkString(","))
    try f finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Run `f` (which must force its plans) with FactSpread's input-size
    * floor lowered to one byte, so the spec-sized testdata takes the
    * spread decision a full-size single-row-group input takes. */
  def withTinyInputsSpread[A](spark: SparkSession)(f: => A): A = {
    val key = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, "1")
    try f finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  val ExpandFreeDistinctRule = "graft.plans.ExpandFreeDistinct"
  val FactSpreadRule = "graft.plans.FactSpread"
}
