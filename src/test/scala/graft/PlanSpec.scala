package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sources.SequenceGen

/** Physical-plan shape assertions for the scale-critical properties: the
  * things that make the difference between "works on 60k rows" and
  * "works on 10^12" — filter pushdown to the scan, column pruning, small
  * dims broadcast, frame features inside whole-stage codegen, and exactly
  * one exchange per side for the general as-of join. */
class PlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val seqsPath = {
    val p = java.nio.file.Files.createTempDirectory("graftplan").toString + "/seqs"
    SequenceGen.generate(spark, 50, seed = 7L).write.parquet(p)
    p
  }

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("time/id predicates reach the parquet scan (PushedFilters)") {
    val df = spark.read.parquet(seqsPath)
      .where($"doc_id" === "doc_0000000003" && $"n_tok" > 100)
      .select("doc_id", "n_tok")
    val p = plan(df)
    assert(p.contains("PushedFilters"), p)
    assert(p.contains("IsNotNull(doc_id)") || p.contains("EqualTo(doc_id"), p)
  }

  test("column pruning: 2-column projection reads a 2-column schema") {
    val df = spark.read.parquet(seqsPath).select("doc_id", "n_tok")
    val p = plan(df)
    assert(p.contains("ReadSchema: struct<doc_id:string,n_tok:int>"), p)
  }

  test("frame features run inside WholeStageCodegen with no exchange") {
    val df = spark.read.parquet(seqsPath)
      .select($"doc_id",
        graft.functions.FrameAgg.energy($"tokens", 8, 16).as("f"))
    val p = plan(df)
    // toString marks whole-stage-codegen stages with the `*(n)` prefix
    assert(p.contains("*(1) Project"), p)
    assert(!p.contains("Exchange"), p)
  }

  test("metadata enrichment joins broadcast the small dim side") {
    val dim = Seq(("a", 1), ("b", 2)).toDF("source", "meta")
    val df = spark.read.parquet(seqsPath).join(broadcast(dim), "source")
    assert(plan(df).contains("BroadcastHashJoin"), plan(df))
  }

  test("general as-of join plans exactly one exchange per side") {
    // materialize both sides so input-side plans (the generator contains
    // a distinct) contribute no exchanges of their own
    val base = java.nio.file.Files.createTempDirectory("graftplanasof").toString
    SequenceGen.featureTimeline(spark, 30, 10)
      .select($"doc_id", $"ts", $"v".as("fv")).write.parquet(s"$base/f")
    SequenceGen.queryTimeline(spark, 30, 5).write.parquet(s"$base/q")
    val feats = spark.read.parquet(s"$base/f")
    val queries = spark.read.parquet(s"$base/q")
    val out = graft.operators.AsOf.join(queries, feats, "doc_id", "ts", Seq("fv"))
    val p = plan(out)
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(p.contains("AsOfJoin"), p)
    assert(exchanges == 2, s"expected 2 exchanges (one per side), got $exchanges:\n$p")
    // SQL metrics: every query row counted, matches <= total. AQE off for
    // this block — its stage wrappers hide the operator instance that
    // actually ran; without it the df's own executedPlan is that instance
    // (collect(), not count(): count builds a separate query execution)
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val out2 = graft.operators.AsOf.join(queries, feats, "doc_id", "ts", Seq("fv"))
      val nOut = out2.collect().length.toLong
      val exec = out2.queryExecution.executedPlan.collectFirst {
        case e: graft.plans.AsOfJoinExec => e
      }.get
      assert(exec.metrics("numOutputRows").value == nOut)
      assert(exec.metrics("numMatched").value <= nOut)
      assert(exec.metrics("numMatched").value > 0)
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqeBefore)
  }

  test("vocab count partial-aggregates below the exchange (map-side combine)") {
    val df = spark.read.parquet(seqsPath)
      .select(explode($"tokens").as("token"))
      .groupBy("token").count()
    val p = plan(df)
    val partialIdx = p.indexOf("partial_count")
    val exchangeIdx = p.indexOf("Exchange")
    assert(partialIdx >= 0, p)
    assert(exchangeIdx >= 0 && partialIdx > exchangeIdx,
      s"partial agg should appear BELOW (after, in toString order) the exchange:\n$p")
  }

  test("similarity pair scans keep the native expressions in the plan") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id", transform($"embedding", x => x.cast("double")).as("v"))
    val a = e.select($"vec_id".as("id_a"), $"v".as("v_a"))
    val b = e.select($"vec_id".as("id_b"), $"v".as("v_b"))
    val df = a.join(broadcast(b), $"id_a" < $"id_b")
      .select(graft.operators.Similarity.cosine($"v_a", $"v_b").as("c"))
    val p = plan(df)
    assert(p.contains("vec_dot"), p)
  }
}
