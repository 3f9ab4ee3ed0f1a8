package graft

import org.scalatest.funsuite.AnyFunSuite

/** The SQL surface: temp-view registration, native functions from SQL,
  * and the optimizer rewrite applying to plain SQL text. The functions
  * and the rewrite come with the session ([[GraftExtensions]]), so the
  * function cases below call no Scala API first.
  */
class CatalogSqlSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  test("plain SQL over registered views matches the DataFrame catalog") {
    val viaSql = Catalog
      .sql(spark, Sf0001,
        "SELECT l_returnflag, count(DISTINCT l_orderkey) AS n_orders, count(DISTINCT l_suppkey) AS n_supps FROM lineitem GROUP BY 1")
      .as[(String, Long, Long)].collect().sortBy(_._1).toSeq
    val viaDf = ops.Relational.distinctOrdersPerFlag(spark, Sf0001)
      .as[(String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(viaSql == viaDf)
  }

  test("native dot-product function is callable from SQL") {
    Catalog.registerViews(spark, Sf0001)
    val d = spark
      .sql("SELECT graft_dot_f(embedding, embedding) AS d FROM embeddings WHERE vec_id = 0")
      .as[Double].head()
    assert(d > 0.0)
  }

  test("graft_dot_f raises on mismatched array lengths (DuckDB parity)") {
    val e = intercept[Throwable] {
      spark.sql(
        "SELECT graft_dot_f(array(CAST(1.0 AS FLOAT)), array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)))")
        .collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("lengths differ")), e.toString)
  }

  test("graft_dot_f yields NULL on a null array element (DuckDB parity)") {
    val row = spark.sql(
      "SELECT graft_dot_f(array(CAST(1.0 AS FLOAT), CAST(NULL AS FLOAT)), " +
        "array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT))) AS d").head()
    assert(row.isNullAt(0), s"expected NULL, got ${row.get(0)}")
  }

  test("every other native function resolves from plain SQL") {
    val r = spark.sql("""SELECT
        graft_dot_l(array(1L, 2L), array(3L, 4L)) AS dl,
        graft_sqdist_l(array(1L, 2L), array(3L, 5L)) AS sq,
        graft_nfc(decode(unhex('65CC81'), 'UTF-8')) = decode(unhex('C3A9'), 'UTF-8') AS nfc,
        graft_zorder2(1L, 2L) AS z,
        graft_sorted_key_sum(array('a', 'b', 'c'), array(1L, 2L, 4L),
          array('b', 'c', 'd')) AS sks,
        graft_mmr_select(array(named_struct('vb', 7L, 'rel', 0.5D,
          'eb', array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)), 'nb', 1.0D))) AS mmr
      """).head()
    assert(r.getLong(0) == 11L)
    assert(r.getLong(1) == 13L)
    assert(r.getBoolean(2), "graft_nfc left the decomposed form unchanged")
    assert(r.getLong(3) == 9L) // a=1 on bit 0, b=2 on bit 3
    assert(r.getLong(4) == 6L)
    val pick = r.getSeq[org.apache.spark.sql.Row](5).map(p =>
      (p.getLong(0), p.getLong(1), p.getDouble(2), p.getDouble(3)))
    assert(pick == Seq((7L, 1L, 0.5, 0.5)), pick)
  }

  test("SQL top-N-per-group text hits the custom operator via the rewrite rule") {
    Catalog.registerViews(spark, Sf0001)
    val df = spark.sql("""
      SELECT * FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
          row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM orders) WHERE rn <= 3""")
    assert(df.queryExecution.optimizedPlan.toString.contains("GroupedTopK"),
      df.queryExecution.optimizedPlan.toString)
    val phys = df.queryExecution.executedPlan.toString
    assert(!phys.contains("WindowGroupLimit"), s"inferred group-limit survived:\n$phys")
    assert(!phys.contains("Sort "), s"sort survived the rewrite:\n$phys")
    assert(df.count() == ops.Relational.windowTopkOrders(spark, Sf0001).count())
  }
}
