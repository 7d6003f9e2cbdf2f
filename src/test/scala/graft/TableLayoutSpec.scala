package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.engine.TableLayout
import graft.sources.SequenceGen

/** The 10^12-row layout claim, made checkable: with both sides stored
  * bucketed by entity, the native as-of join plans with ZERO exchanges. */
class TableLayoutSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("bucketed-by-entity tables make the native as-of join exchange-free") {
    val feats = SequenceGen.featureTimeline(spark, 50, 10)
      .select($"doc_id", $"ts", $"v".as("fv"))
    val queries = SequenceGen.queryTimeline(spark, 50, 5)
    // the in-memory catalog forgets tables between JVMs but the managed
    // location survives — clear both or saveAsTable refuses to write
    Seq("graft_feats_b", "graft_queries_b").foreach { tbl =>
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      val loc = new java.io.File(
        spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), tbl)
      org.apache.commons.io.FileUtils.deleteQuietly(loc)
    }
    TableLayout.writeBucketed(feats, "graft_feats_b", 4, "doc_id", Seq("doc_id", "ts"))
    TableLayout.writeBucketed(queries, "graft_queries_b", 4, "doc_id", Seq("doc_id", "ts"))

    val out = graft.operators.AsOf.join(
      spark.table("graft_queries_b"), spark.table("graft_feats_b"),
      "doc_id", "ts", Seq("fv"))
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoin"))
    assert(!plan.contains("Exchange"), s"expected exchange-free plan:\n$plan")

    // and it still computes the right answer (vs the reference spec over
    // the raw data)
    val expected = graft.operators.AsOf.referenceJoin(queries, feats, "doc_id", "ts", Seq("fv"))
      .orderBy("doc_id", "ts").collect().map(_.toSeq).toSeq
    val got = out.orderBy("doc_id", "ts").collect().map(_.toSeq).toSeq
    assert(got == expected)
  }

  test("repartitionForEntityOps clusters and sorts for downstream PIT work") {
    val df = SequenceGen.featureTimeline(spark, 20, 5)
    val laid = TableLayout.repartitionForEntityOps(df, "doc_id", "ts", 4)
    assert(laid.rdd.getNumPartitions == 4)
    // within every partition rows are (doc_id, ts)-sorted
    val ok = laid.mapPartitions { it =>
      val rows = it.map(r => (r.getAs[String]("doc_id"), r.getAs[Long]("ts"))).toSeq
      Iterator.single(rows == rows.sorted)
    }.collect()
    assert(ok.forall(identity))
  }
}
