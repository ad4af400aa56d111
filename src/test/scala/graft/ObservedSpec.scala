package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ListenerBridge
import graft.functions.TextOps
import graft.operators.Observed

class ObservedSpec extends SparkTestBase {

  test("observed metrics match a recomputation and ride the SAME job") {
    val docs = Tables.documents(spark, sf)
      .withColumn("n_tokens", size(TextOps.tokens(col("text"))))
    val (observed, obs) = Observed.withMetrics(docs, "curation_stage",
      Seq(count(lit(1)).as("n_docs"), sum("n_tokens").as("sum_tokens")))

    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(jobStart: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      observed.write.format("noop").mode("overwrite").save() // ONE action
      // listener events are async: wait until the bus has delivered every
      // event the action posted, so a spurious SECOND job would be counted
      ListenerBridge.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)

    // the metrics arrived without any additional job beyond the write
    assert(jobs.get() == 1, s"expected 1 job, saw ${jobs.get()}")
    val m = obs.get
    val want = docs.agg(count(lit(1)), sum("n_tokens")).head()
    assert(m("n_docs") == want.getLong(0))
    assert(m("sum_tokens") == want.getLong(1))
  }
}
