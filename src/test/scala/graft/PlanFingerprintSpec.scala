package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.engine.{PlanFingerprint, PlanProbes, Queries, Queries2, Queries3,
  Queries4, Queries5, Queries6}

/** Plan-shape regression net over the heavy gate chains (VERDICT r4 #3):
  * the scale-safety claims — capped bucket equi-joins, native one-pass
  * as-of, NO cartesian stage anywhere except the deliberate q33 baseline
  * — asserted as physical-plan node counts, so an edit that un-pushes a
  * cap filter or regresses a join to a cartesian product fails CI at
  * sf0.001 instead of only dying at corpus scale. `graft.Bench` records
  * the same fingerprints per gate into BENCH/metrics.json. */
class PlanFingerprintSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("LSH pair generation (q39/q40 input): no cartesian, bounded exchanges") {
    val fp = PlanFingerprint.of(PlanProbes.all(spark, dir)
      .find(_._1 == "probe_lsh_pairs").get._2)
    info(s"probe_lsh_pairs: ${fp.json}")
    assert(fp.cartesians == 0, "bucket blocking must stay an equi-join")
    assert(fp.broadcastNLJoins == 0)
    // measured 3 at sf0.001: two cap windows + the pair dedup; the
    // bucket equi-join itself reuses the window partitioning (or
    // broadcasts). 4 allows a stats-driven BHJ<->SMJ flip, no more.
    assert(fp.exchanges <= 4,
      s"LSH pair chain grew to ${fp.exchanges} exchanges")
  }

  test("q54 contamination pair table: no cartesian, no NL join") {
    val fp = PlanFingerprint.of(Queries5.q54Contamination(spark, dir))
    info(s"q54: ${fp.json}")
    assert(fp.cartesians == 0 && fp.broadcastNLJoins == 0,
      "contamination must stay hash/band equi-joins")
    // measured 5 at sf0.001 (two cap windows, pair dedup, verdict
    // group-agg, final sort); 7 allows join-strategy wobble only
    assert(fp.exchanges <= 7,
      s"contamination chain grew to ${fp.exchanges} exchanges")
  }

  test("q33 exact baseline: the ONE deliberate broadcast NL join") {
    val fp = PlanFingerprint.of(Queries3.q33EmbedDup(spark, dir))
    info(s"q33: ${fp.json}")
    assert(fp.broadcastNLJoins == 1 && fp.cartesians == 0)
    // map-only up to the final orderBy: broadcast keeps the corpus side
    // shuffle-free
    assert(fp.exchanges == 1, s"q33 exchanges: ${fp.exchanges}")
  }

  test("native as-of (q31): exactly one AsOfJoinExec, no fallback join") {
    val fp = PlanFingerprint.of(Queries3.q31AsofNative(spark, dir))
    info(s"q31: ${fp.json}")
    assert(fp.asofNative == 1)
    assert(fp.sortMergeJoins == 0 && fp.cartesians == 0 &&
      fp.broadcastNLJoins == 0)
    // one exchange per side on the entity key + the final orderBy range
    // exchange — the "one shuffle each" as-of contract, exactly
    assert(fp.exchanges == 3, s"native as-of exchanges: ${fp.exchanges}")
  }

  test("q35 CC cluster assembly: lineage truncated, no cartesian") {
    // the iterative CC rounds checkpoint per round (lineage truncation
    // is itself the scale-safety property), so the final plan is the
    // label-assembly stage: it must stay small and equi-join-only. The
    // one deliberate BNL join is q35's input (the q33 exact baseline).
    val fp = PlanFingerprint.of(Queries3.q35DedupClusters(spark, dir))
    info(s"q35: ${fp.json}")
    assert(fp.cartesians == 0, "CC assembly must stay equi-join")
    assert(fp.exchanges <= 3,
      s"q35 assembly grew to ${fp.exchanges} exchanges — lineage " +
        "truncation may have stopped cutting the per-round joins")
  }

  test("q59 segment dedup: keyed equi-joins only, bounded exchanges") {
    val fp = PlanFingerprint.of(Queries6.q59SegmentDedup(spark, dir))
    info(s"q59: ${fp.json}")
    assert(fp.cartesians == 0 && fp.broadcastNLJoins == 0,
      "keep-first election must stay a keyed aggregate + equi-join")
    // keeper agg on segment + survivor join + reassembly agg on doc +
    // join back to input + final orderBy; allow BHJ<->SMJ wobble
    assert(fp.exchanges <= 8,
      s"segment-dedup chain grew to ${fp.exchanges} exchanges")
  }

  test("q60 redact: map-only above the scan (single orderBy exchange)") {
    val fp = PlanFingerprint.of(Queries6.q60Redact(spark, dir))
    info(s"q60: ${fp.json}")
    assert(fp.exchanges == 1, s"redact must stay map-only, " +
      s"got ${fp.exchanges} exchanges")
    assert(fp.broadcastHashJoins == 0 && fp.sortMergeJoins == 0 &&
      fp.cartesians == 0 && fp.broadcastNLJoins == 0)
  }

  test("q61 epoch shuffle: prefix-sum layout, no corpus re-shuffle") {
    // packGreedy materializes the ranged prefix sums, so the visible
    // plan is the broadcast offsets join + the gate's orderBy — the
    // corpus is never hash-shuffled after the ONE range exchange
    val fp = PlanFingerprint.of(Queries6.q61EpochShuffle(spark, dir))
    info(s"q61: ${fp.json}")
    assert(fp.cartesians == 0 && fp.broadcastNLJoins == 0 &&
      fp.sortMergeJoins == 0)
    assert(fp.exchanges <= 2,
      s"epoch-shuffle assembly grew to ${fp.exchanges} exchanges")
  }

  test("every as-of gate (q2, q23, q50) runs on AsOfJoinExec, no last() window") {
    def windows(df: org.apache.spark.sql.DataFrame) = {
      val p = df.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.initialPlan
        case p => p
      }
      p.collect { case w: org.apache.spark.sql.execution.window.WindowExec => w }
    }
    for ((name, df, nWindows) <- Seq(
        ("q2", Queries.q2AsofJoin(spark, dir), 0),
        // q23's one window is the carry table's row_number
        ("q23", Queries2.q23AsofBucketed(spark, dir), 1),
        ("q50", Queries4.q50AsofInterval(spark, dir), 0))) {
      val fp = PlanFingerprint.of(df)
      info(s"$name: ${fp.json}")
      assert(fp.asofNative >= 1, s"$name has no AsOfJoinExec")
      val ws = windows(df)
      assert(ws.size == nWindows, s"$name windows: $ws")
      assert(ws.forall(_.windowExpression.forall(_.toString.contains("row_number"))),
        s"$name carries a window other than row_number: $ws")
    }
  }

  test("window as-of (q2): no cartesian/NL stage") {
    val fp = PlanFingerprint.of(Queries.q2AsofJoin(spark, dir))
    info(s"q2: ${fp.json}")
    assert(fp.cartesians == 0 && fp.broadcastNLJoins == 0)
  }
}
