package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.mr.{MRApps, MapReduceJob}

/** [[GraftExtensions]] is the session's only registration seam: queries
  * that reach every custom strategy and native function leave the
  * session's `spark.experimental` hooks empty, so no plan depends on
  * which query a session happened to run first.
  */
class GraftExtensionsSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  test("custom operators and native functions run without touching spark.experimental") {
    // GroupedTopK, PartitionPrefixSum (rangeCum), graft_sorted_key_sum,
    // graft_nfc, graft_mmr_select, graft_zorder2, graft_dot_f
    for (q <- Seq("window_topk_fast", "stats_gini", "text_bm25", "text_normalize",
                  "sim_mmr", "corpus_zorder", "sim_topk"))
      SparkEntry.queries(q)(spark, Sf0001).count()
    // SortedGroupReduce
    val docs = Seq("a.txt" -> "x y x", "b.txt" -> "y z").toDF("filename", "contents")
    assert(MapReduceJob.runSecondarySortNative(spark, docs, MRApps.WordCount).count() == 3)
    assert(spark.experimental.extraStrategies.isEmpty, spark.experimental.extraStrategies)
    assert(spark.experimental.extraOptimizations.isEmpty,
      spark.experimental.extraOptimizations)
  }
}
