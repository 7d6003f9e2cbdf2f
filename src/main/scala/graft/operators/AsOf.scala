package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DataType, LongType}
import graft.plans.{AsOfJoinNode, AsOfNative}

/** Point-in-time (as-of) join: align each query row (entity, ts) to the
  * latest feature row with feature.ts <= query.ts — zero temporal leakage.
  *
  * This generalizes the reference's "value in effect at time t" semantics:
  * its summarizer and `fill-ends` writer treat each feature as extending to
  * the next feature's timestamp (spec comment in the reference's
  * tests/test-summaries/expected/testplug-curve-vsr-mean.csv:1-11;
  * writer impl runner/LabFeatureWriter.cpp:117-130,168-177).
  *
  * [[join]] is the one entry: every as-of (plain, strict, interval,
  * skew-bucketed) lowers to the native sort-merge-carry operator
  * graft.plans.AsOfJoinExec. [[referenceJoin]] is the executable spec the
  * operator is tested against.
  *
  * Scale notes (100 TB / 10^12 rows):
  *   - one shuffle each side, co-partitioned on hash(entity); no broadcast
  *     and no N×M blowup (vs. the naive `f.ts <= q.ts` range join, which
  *     Spark would plan as a per-entity cartesian).
  *   - the merge keeps O(1) state per row: one carried feature row;
  *     nothing is materialized per key.
  *   - hot-entity skew: one entity = one task for the merge. The sort
  *     spills rather than OOMs; for pathological keys use [[joinBucketed]],
  *     which shuffles on (entity, time-bucket) so a hot entity's timeline is
  *     split across tasks, with a tiny per-bucket carry table to preserve
  *     exact semantics across bucket boundaries.
  */
object AsOf {

  /** As-of join (left = queries, right = features).
    *
    * @param queries   left side; exactly one output row per input row
    * @param features  right side; its latest-prior row's values are appended
    * @param entityCol equi-key column name (present in both sides, same type;
    *                  a struct column makes a composite key)
    * @param tsCol     event-time column name (LongType on both sides)
    * @param valueCols feature columns to carry (must exist in `features`,
    *                  must not collide with query columns)
    * @param strict    true → f.ts < q.ts (exclusive); false → f.ts <= q.ts
    * @param presorted true → both sides already stream (entity, ts)-sorted
    *                  within partitions, so the planner adds no sort; the
    *                  merge verifies every row and throws on a false claim
    * @return `queries` + `valueCols` (null when no prior feature) +
    *         `matched_ts` (ts of the matched feature row, null if none)
    */
  def join(
      queries: DataFrame,
      features: DataFrame,
      entityCol: String,
      tsCol: String,
      valueCols: Seq[String],
      strict: Boolean = false,
      presorted: Boolean = false): DataFrame = {
    require(features.schema(tsCol).dataType == LongType &&
      queries.schema(tsCol).dataType == LongType,
      "as-of join requires LongType ts columns (integer ns/us) on BOTH sides")
    // the exec reads right-side fields with the LEFT side's data types —
    // a silent cross-side dtype mismatch would read wrong bytes from the
    // UnsafeRow, not error (nullability does not change the layout)
    val (qe, fe) = (queries.schema(entityCol).dataType, features.schema(entityCol).dataType)
    require(DataType.equalsStructurally(qe, fe, ignoreNullability = true),
      s"entity dtype mismatch: queries $qe vs features $fe")
    val qCols = queries.columns.toSeq
    require(valueCols.forall(!qCols.contains(_)),
      s"valueCols ${valueCols.filter(qCols.contains)} collide with query columns")
    val spark = queries.sparkSession
    AsOfNative.install(spark)
    val lp = queries.queryExecution.analyzed
    val rp0 = features.queryExecution.analyzed
    // self-join hygiene: custom nodes bypass the analyzer's
    // DeduplicateRelations, so shared exprIds between the sides (queries
    // and features derived from one table) would confuse column pruning —
    // re-alias the right side with fresh exprIds when outputs overlap
    val rp: LogicalPlan =
      if (rp0.outputSet.intersect(lp.outputSet).isEmpty) rp0
      else Project(rp0.output.map(a => Alias(a, a.name)()), rp0)
    def attr(p: LogicalPlan, name: String): Attribute =
      p.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"no column $name in ${p.output.map(_.name)}"))
    Bridge.ofRows(spark, AsOfJoinNode(lp, rp,
      attr(lp, entityCol), attr(lp, tsCol),
      attr(rp, entityCol), attr(rp, tsCol),
      valueCols.map(c => attr(rp, c)), strict, presorted,
      AttributeReference("matched_ts", LongType, nullable = true)()))
  }

  /** The reference spec of [[join]] — same contract, kept as the
    * independent implementation the native operator is checked against
    * (property tests, the benchmark's late check, graft.Bench's
    * `asof_window_*` leg). Not a production path.
    *
    * The union-tag + last(_, ignoreNulls) window rewrite (SURVEY.md §7.3),
    * entirely built-in Catalyst operators: ONE hash exchange per side +
    * ONE sort. At equal timestamps the feature sorts BEFORE the query
    * (tag 0 < tag 1), giving the inclusive `<=` bound without ever reading
    * a later feature; strict tags features 2, after the query. */
  def referenceJoin(
      queries: DataFrame,
      features: DataFrame,
      entityCol: String,
      tsCol: String,
      valueCols: Seq[String],
      strict: Boolean = false): DataFrame = {
    val qCols = queries.columns.toSeq
    require(valueCols.forall(!qCols.contains(_)),
      s"valueCols ${valueCols.filter(qCols.contains)} collide with query columns")
    val qOther = qCols.filterNot(c => c == entityCol || c == tsCol)
    val fTag = if (strict) 2 else 0

    // matched_ts is not carried as a column: it is reconstructed as
    // last(when(tag=feature, ts)), so the exchange moves fewer bytes
    val fSel: Seq[Column] =
      Seq(col(entityCol), col(tsCol), lit(fTag).as("__tag")) ++
        valueCols.map(c => col(c).as(s"__c_$c")) ++
        qOther.map(c => lit(null).cast(queries.schema(c).dataType).as(c))
    val qSel: Seq[Column] =
      Seq(col(entityCol), col(tsCol), lit(1).as("__tag")) ++
        valueCols.map(c => lit(null).cast(features.schema(c).dataType).as(s"__c_$c")) ++
        qOther.map(col)

    val w = Window.partitionBy(col(entityCol))
      .orderBy(col(tsCol).asc, col("__tag").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carriedExprs =
      valueCols.map(c => last(col(s"__c_$c"), ignoreNulls = true).over(w).as(s"__v_$c")) :+
        last(when(col("__tag") === fTag, col(tsCol)), ignoreNulls = true)
          .over(w).as("__v_matched_ts")

    features.select(fSel: _*).unionByName(queries.select(qSel: _*))
      .select(col("*") +: carriedExprs: _*)
      .where(col("__tag") === 1)
      .select(qCols.map(col) ++ valueCols.map(c => col(s"__v_$c").as(c)) :+
        col("__v_matched_ts").as("matched_ts"): _*)
  }

  /** Interval (notes-regions) variant: the matched feature only applies
    * while q.ts < f.ts + f.duration (reference interval rows carry explicit
    * durations; null duration = open-ended). Expired matches yield nulls. */
  def joinInterval(
      queries: DataFrame,
      features: DataFrame,
      entityCol: String,
      tsCol: String,
      durationCol: String,
      valueCols: Seq[String]): DataFrame = {
    val joined = join(queries, features, entityCol, tsCol, valueCols :+ durationCol)
    val live = col("matched_ts").isNotNull &&
      (col(durationCol).isNull || col(tsCol) < col("matched_ts") + col(durationCol))
    val masked = valueCols.foldLeft(joined) { (df, c) =>
      df.withColumn(c, when(live, col(c)))
    }
    masked.withColumn("matched_ts", when(live, col("matched_ts"))).drop(durationCol)
  }

  /** Skew-resistant as-of join for pathologically hot entities.
    *
    * Shuffles on (entity, floor(ts / bucketWidth)) instead of entity alone,
    * so one entity's timeline is split across up to horizon/bucketWidth
    * tasks. Exactness across bucket boundaries is restored with a carry
    * table: the last feature of every (entity, bucket), joined as-of on
    * bucket index to each unmatched query's PREVIOUS bucket, so a
    * feature-less bucket sees the latest earlier one. The carry table has
    * ≤ |entity×bucket| rows — orders of magnitude smaller than the data.
    */
  def joinBucketed(
      queries: DataFrame,
      features: DataFrame,
      entityCol: String,
      tsCol: String,
      valueCols: Seq[String],
      bucketWidth: Long): DataFrame = {
    val qCols = queries.columns.toSeq
    val b = (c: Column) => floor(c.cast("double") / bucketWidth.toDouble).cast("long")
    // the composite key is a struct of the column TUPLE — no string
    // packing, so entity "u1"+bucket 23 never meets entity "u12"+bucket 3
    val key = struct(col(entityCol), b(col(tsCol)).as("__b")).as("__k")

    // 1. per-(entity, bucket) as-of join — hot entity split across buckets
    val fk = features.select(key +: (tsCol +: valueCols).map(col): _*)
    val packed = join(queries.select(qCols.map(col) :+ key: _*), fk, "__k", tsCol, valueCols)

    // 2. carry table: last feature per (entity, bucket)
    val bucketLast = fk
      .withColumn("__rn", row_number().over(Window.partitionBy(col("__k"))
        .orderBy(col(tsCol).desc)))
      .where(col("__rn") === 1)
      .select(Seq(col("__k").getField(entityCol).as(entityCol),
        col("__k.__b").as("__qb"), col(tsCol).as("__carry_ts")) ++
        valueCols.map(c => col(c).as(s"__carry_$c")): _*)

    // 3. queries that found nothing inside their own bucket: as-of join the
    //    carry table on bucket index (query bucket - 1 >= carry bucket).
    val unmatched = packed.where(col("matched_ts").isNull)
      .select(qCols.map(col) :+ (col("__k.__b") - 1L).as("__qb"): _*)
    val fixedOut = join(unmatched, bucketLast, entityCol, "__qb",
      valueCols.map(c => s"__carry_$c") :+ "__carry_ts")
      .select(qCols.map(col) ++ valueCols.map(c => col(s"__carry_$c").as(c)) :+
        col("__carry_ts").as("matched_ts"): _*)

    val matchedOut = packed.where(col("matched_ts").isNotNull)
      .select((qCols ++ valueCols :+ "matched_ts").map(col): _*)
    matchedOut.unionByName(fixedOut)
  }
}
