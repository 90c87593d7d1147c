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
}
