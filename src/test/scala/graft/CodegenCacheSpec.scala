package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** Spark's generated-class cache must hold the working set of a run of
  * pipelines, so that a pipeline run again compiles nothing with Janino.
  * Other pipelines run between the two evaluations; in a fresh JVM they
  * compile about 250 classes, and at Spark's default cache size of 100
  * the second evaluation recompiles what they evicted (11 classes).
  */
class CodegenCacheSpec extends SparkTestBase {

  private val pipeline = "q_agg_cube"
  private val between = Seq("q19_disc_revenue", "q_join_semi",
    "q_set_intersect", "q_sql_grouping_sets", "q_sql_lateral_explode",
    "q_window_running", "q_func_hash", "q_filter_predicates",
    "q_event_abtest", "q1_pricing_summary", "q_agg_rollup",
    "q3_shipping_priority", "q5_local_supplier", "q7_volume_shipping",
    "q10_returned_items", "q18_large_volume", "q_join_full_outer",
    "q_join_anti", "q_set_except_all", "q_window_lag_lead",
    "q_window_rank", "q_agg_stddev")

  private def evaluate(name: String): Unit = graft.ops.CacheScope.scoped {
    SparkEntry.queries(name)(spark, SparkTestBase.fixtureDir("0.001"))
      .write.format("noop").mode("overwrite").save()
  }

  private def compiles: Long =
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("the session carries the Engine's generated-class cache size") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      Engine.CodegenCacheEntries.toString)
  }

  test(s"$pipeline run a second time compiles no generated class") {
    evaluate(pipeline)
    val first = compiles
    between.foreach(evaluate)
    val evictionPressure = compiles - first
    val before = compiles
    evaluate(pipeline)
    assert(compiles - before == 0,
      s"the second $pipeline run recompiled ${compiles - before} classes " +
        s"after $evictionPressure compiles by other pipelines")
  }
}
