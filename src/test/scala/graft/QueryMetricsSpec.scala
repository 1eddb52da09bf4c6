package graft

import org.apache.spark.graftprobe.ListenerBus
import org.apache.spark.sql.functions._

class QueryMetricsSpec extends SparkSpec {

  test("a materialized grouped count reports its jobs, both stages and the shuffle") {
    val m = QueryMetrics.measure(spark) {
      spark.range(0, 10000, 1, 4).groupBy((col("id") % 7).as("k")).count()
        .write.format("noop").mode("overwrite").save()
    }
    assert(m.jobs >= 1)
    assert(m.stages.size >= 2, s"map and reduce stages expected, saw ${m.stages}")
    assert(m.shuffleWriteBytes > 0L)
    assert(m.shuffleReadBytes > 0L)
    assert(m.tasks >= m.stages.size)
  }

  test("a body that only builds a plan runs zero jobs") {
    val m = QueryMetrics.measure(spark) {
      spark.range(0, 100).groupBy((col("id") % 3).as("k")).count().queryExecution.executedPlan
    }
    assert(m.jobs == 0)
    assert(m.stages.isEmpty)
  }

  test("the listener is removed after use, also when the body throws") {
    QueryMetrics.measure(spark)(spark.range(0, 10).collect())
    intercept[IllegalStateException](QueryMetrics.measure(spark)(throw new IllegalStateException))
    assert(ListenerBus.attached[QueryMetrics](spark.sparkContext).isEmpty)
  }
}
