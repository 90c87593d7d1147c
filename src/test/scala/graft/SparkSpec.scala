package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs (one JVM-wide session; cheap). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  lazy val sf: String = "/root/testdata/sf0.001"

  /** Run `f` and return its result with the executed plan of every
    * `localCheckpoint` it ran — each [[Caching.share]] (and
    * [[Caching.reap]]) it built, in build order. A share's consumers
    * read it as an ExistingRDD scan, so plan-shape specs assert on the
    * operators BELOW a share through its own captured plan: the eager
    * checkpoint runs as an action, which a `QueryExecutionListener`
    * receives with funcName `localCheckpoint` and the full plan. */
  def sharePlans[A](f: => A): (A, Seq[SparkPlan]) = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (funcName == "localCheckpoint") plans.add(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit = ()
    }
    // drain first so no earlier test's checkpoint reaches the listener
    org.apache.spark.GraftBusFlush.flush(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      val out = f
      org.apache.spark.GraftBusFlush.flush(spark.sparkContext)
      (out, plans.toArray(Array.empty[SparkPlan]).toSeq)
    } finally spark.listenerManager.unregister(listener)
  }
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
