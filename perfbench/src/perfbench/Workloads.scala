package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.{Main => Cli, Pipelines}
import graft.operators.{AsOf, Dedup, Windows}
import graft.sources.SequenceGen

/** An iteration's output did not match the per-seed reference. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

object Check {
  def equal(what: String, got: Any, want: Any): Unit =
    if (got != want) throw new CheckFailed(s"$what: got $got, want $want")

  /** Relative closeness for sums whose summation order differs. */
  def close(what: String, got: Double, want: Double, rel: Double): Unit =
    if (math.abs(got - want) > rel * math.max(1.0, math.abs(want)))
      throw new CheckFailed(s"$what: got $got, want $want (rel $rel)")

  def atLeast(what: String, got: Double, floor: Double): Unit =
    if (!(got >= floor)) throw new CheckFailed(s"$what: got $got, below floor $floor")

  def longs(r: Row): Seq[Long] =
    (0 until r.length).map(i => if (r.isNullAt(i)) 0L else r.getAs[Number](i).longValue)
}

/** One iteration's context: its number in the run, where the inputs are,
  * where outputs go, and the tracer when this is a traced iteration. */
final class Iter(val no: Int, val in: String, val out: String, val tracer: Option[Tracer]) {
  def span[A](name: String)(body: => A): A = tracer match {
    case Some(t) => t.span(name)(body)
    case None => body
  }
}

/** A seeded workload. `generate` writes the inputs, `prepare` loads the
  * per-seed reference (outside every timed region), and `iterate` runs
  * input -> complete, checked result once and returns the number of input
  * sequences it handled. A workload whose reference is computed by the
  * engine itself checks in `lateCheck` instead, after the timed legs, so
  * that computing it does not warm the JIT with another plan's profile
  * before the timed iterations. */
trait Workload {
  /** The input sizes, part of the input directory's name. */
  def size: String
  def generate(spark: SparkSession, in: String, seed: Long): Unit
  def prepare(spark: SparkSession, in: String): Unit
  def iterate(spark: SparkSession, it: Iter): Long
  /** Failures of the checks deferred to the end of the run, by iteration. */
  def lateCheck(spark: SparkSession, in: String): Map[Int, String] = Map.empty
}

object Workloads {
  /** `scale` shrinks every input for the smoke mode. */
  def apply(name: String, scale: Double): Workload = {
    def n(full: Long, min: Long): Long = math.max(min, (full * scale).toLong)
    name match {
      case "asof_headline" => new AsofHeadline(n(16000, 200))
      // The subdirectory names are also in reference.py.
      case "operators_extract" => new Parts(Seq(
        "operators" -> new Operators(n(12000, 2000), n(2000, 2000)),
        "extract" -> new ExtractSummarize(n(30, 20))))
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }
  }

  def writeParquet(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  /** Reads the DuckDB references and writes the result record. */
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def readJson(path: String): JsonNode = json.readTree(new java.io.File(path))
}

/** Workloads run one after another in every iteration, each on its own
  * input subdirectory: one JVM, session and set-up for all of them. */
final class Parts(parts: Seq[(String, Workload)]) extends Workload {
  val size = parts.map { case (d, w) => s"$d-${w.size}" }.mkString("-")

  def generate(spark: SparkSession, in: String, seed: Long): Unit =
    parts.foreach { case (d, w) => w.generate(spark, s"$in/$d", seed) }

  def prepare(spark: SparkSession, in: String): Unit =
    parts.foreach { case (d, w) => w.prepare(spark, s"$in/$d") }

  def iterate(spark: SparkSession, it: Iter): Long = parts.map { case (d, w) =>
    w.iterate(spark, new Iter(it.no, s"${it.in}/$d", s"${it.out}/$d", it.tracer))
  }.sum

  override def lateCheck(spark: SparkSession, in: String): Map[Int, String] =
    parts.flatMap { case (d, w) => w.lateCheck(spark, s"$in/$d") }.toMap
}

/** The BASELINE job: native as-of feature pipeline over a SequenceGen table,
  * checked against the same pipeline joined by the union+window as-of spec
  * (`Pipelines.asofFeaturePipelineOver`, which calls `AsOf.join`). */
final class AsofHeadline(docs: Long) extends Workload {
  val size = s"docs$docs"
  private val (step, block, queriesPerDoc) = (8, 16, 4)
  private val results = scala.collection.mutable.LinkedHashMap.empty[Int, (Long, Long, Double)]

  def generate(spark: SparkSession, in: String, seed: Long): Unit =
    Workloads.writeParquet(SequenceGen.generate(spark, docs, seed = seed).toDF(), s"$in/seqs")

  def prepare(spark: SparkSession, in: String): Unit = ()

  def iterate(spark: SparkSession, it: Iter): Long = {
    val seqs = spark.read.parquet(s"${it.in}/seqs")
    val plan = it.span("Pipelines.asofFeaturePipelineNativeOver") {
      Pipelines.asofFeaturePipelineNativeOver(seqs, step, block, queriesPerDoc)
    }
    results(it.no) = it.span("Pipelines.runAndChecksum") {
      Pipelines.runAndChecksum(plan)
    }
    docs
  }

  override def lateCheck(spark: SparkSession, in: String): Map[Int, String] = {
    val (rows, matched, chk) = Pipelines.runAndChecksum(Pipelines.asofFeaturePipelineOver(
      spark.read.parquet(s"$in/seqs"), step, block, queriesPerDoc))
    results.toMap.flatMap { case (no, r) =>
      scala.util.Try {
        Check.equal("as-of rows", r._1, rows)
        Check.equal("as-of matched", r._2, matched)
        Check.close("as-of checksum", r._3, chk, 1e-9)
      }.failed.toOption.map(e => no -> e.getMessage)
    }
  }
}

/** The operators module on inputs the caller generates from the seed
  * (reference.py): the window family on a hot-key timeline (87.5 % of the
  * feature rows on one doc_id), then embedding near-duplicate removal over
  * vectors with planted clusters, run with the driver union-find edge limit
  * below the corpus's edge count so the distributed connected-components
  * path runs. Checked against DuckDB and the planted ground truth. */
final class Operators(nFeat: Long, nVec: Long) extends Workload {
  val size = s"rows$nFeat-vectors$nVec"
  private val bucketWidth = 10000000L // ns: 10k time slots per as-of bucket
  private val gap = 10000L            // ns: session gap
  private val dim = 16
  private val threshold = 0.99
  private val recallFloor = 0.98
  private val edgeLimit = 150L // below the planted edge count at every seed
  private var ref: Map[String, Seq[Long]] = _

  def generate(spark: SparkSession, in: String, seed: Long): Unit = {
    Files.createDirectories(Paths.get(in))
    Files.writeString(Paths.get(s"$in/params.json"),
      s"""{"seed": $seed, "rows": $nFeat, "vectors": $nVec, "gap": $gap}""")
  }

  def prepare(spark: SparkSession, in: String): Unit = {
    val j = Workloads.readJson(s"$in/duckdb_ref.json")
    ref = Seq("asof", "sessions", "ffill", "truth").map(k =>
      k -> j.get(k).elements().asScala.map(_.asLong).toSeq).toMap
  }

  def iterate(spark: SparkSession, it: Iter): Long = {
    val f = spark.read.parquet(s"${it.in}/features")
    val q = spark.read.parquet(s"${it.in}/queries")
    val asof = it.span("AsOf.joinBucketed") {
      val j = AsOf.joinBucketed(q, f.select("doc_id", "ts", "fv"), "doc_id", "ts",
        Seq("fv"), bucketWidth)
      Check.longs(j.agg(count(lit(1)), count(col("fv")), sum(col("fv")).cast("long"),
        sum(col("matched_ts")),
        sum(col("fv") * pmod(col("ts"), lit(1009L))).cast("long")).head())
    }
    val sessions = it.span("Windows.sessionize") {
      val s = Windows.sessionize(f.select("doc_id", "ts"), "doc_id", "ts", gap)
      Check.longs(s.agg(count(lit(1)), sum(col("session_id")), max(col("session_id")),
        sum(col("session_id") * pmod(col("ts"), lit(7L)))).head())
    }
    val ffill = it.span("Windows.forwardFill") {
      val ff = Windows.forwardFill(f.select("doc_id", "ts", "fv_sparse"),
        "doc_id", "ts", Seq("fv_sparse"))
      Check.longs(ff.agg(count(lit(1)), count(col("fv_sparse")),
        sum(col("fv_sparse")).cast("long"),
        sum(col("fv_sparse") * pmod(col("ts"), lit(1009L))).cast("long")).head())
    }
    Check.equal("joinBucketed aggregates", asof, ref("asof"))
    Check.equal("sessionize aggregates", sessions, ref("sessions"))
    Check.equal("forwardFill aggregates", ffill, ref("ffill"))

    val vectors = spark.read.parquet(s"${it.in}/vectors")
    spark.conf.set(Dedup.LocalEdgeLimitKey, edgeLimit.toString)
    try {
      val pairs = it.span("Dedup.embeddingDupPairs") {
        Dedup.embeddingDupPairs(vectors, "vec_id", "embedding", dim, threshold = threshold)
      }
      val kept = it.span("Dedup.dropNearDuplicates") {
        Dedup.dropNearDuplicates(vectors, "vec_id", pairs)
      }
      val r = kept.agg(count(when(col("loser"), 1)), count(when(!col("loser"), 1))).head()
      val Seq(losers, others) = ref("truth")
      Check.equal("kept non-planted ids", r.getLong(1), others)
      Check.atLeast("planted-duplicate recall",
        (losers - r.getLong(0)).toDouble / math.max(1L, losers), recallFloor)
    } finally spark.conf.unset(Dedup.LocalEdgeLimitKey)
    nFeat + nVec
  }
}

/** The reference's own job through the CLI entry point: three transforms
  * (energy, histogram, spectrum) over a SequenceGen table, summarised with
  * mean and median into one CSV. Checked against DuckDB. */
final class ExtractSummarize(docs: Long) extends Workload {
  val size = s"docs$docs"
  // transform id -> (summary name, value count) -> per-doc values
  private var summaries: Map[(String, String, Int), Array[Double]] = _

  def generate(spark: SparkSession, in: String, seed: Long): Unit = {
    Workloads.writeParquet(SequenceGen.generate(spark, docs, seed = seed).toDF(), s"$in/seqs")
    Files.writeString(Paths.get(s"$in/transforms.json"),
      """[{"id": "e", "plugin": "graft:energy", "output": "detectionfunction",
        |  "step_size": 8, "block_size": 16},
        | {"id": "h", "plugin": "graft:histogram", "output": "grid",
        |  "step_size": 8, "block_size": 16},
        | {"id": "s", "plugin": "graft:spectrum", "output": "magnitude",
        |  "step_size": 8, "block_size": 16}]
        |""".stripMargin)
  }

  def prepare(spark: SparkSession, in: String): Unit = {
    val j = Workloads.readJson(s"$in/duckdb_ref.json")
    summaries = j.get("summaries").elements().asScala.map { r =>
      val vs = r.get(2).elements().asScala.map(_.asDouble).toArray
      (r.get(0).asText, r.get(1).asText, vs.length) -> vs
    }.toMap
  }

  def iterate(spark: SparkSession, it: Iter): Long = {
    val out = s"${it.out}/summaries.csv"
    it.span("Main.run") {
      Cli.run(spark, Cli.parseArgs(Seq("--input", s"${it.in}/seqs",
        "--transforms", s"${it.in}/transforms.json", "--writer", "csv", "--output", out,
        "--summaries", "mean,median", "--summary-only")))
    }
    checkSummaries(Paths.get(out))
    docs
  }

  private def checkSummaries(file: Path): Unit = {
    val rows = Files.readAllLines(file).asScala.filter(_.nonEmpty)
    Check.equal("summary lines", rows.size.toLong, summaries.size.toLong)
    rows.foreach { line =>
      // "doc",start,duration,summary,v1,...,vn,"label" (the label holds commas)
      val f = line.substring(0, line.indexOf(",\"", 1)).split(",", -1)
      val vs = f.drop(4).map(_.toDouble)
      val key = (f(0).stripPrefix("\"").stripSuffix("\""), f(3), vs.length)
      val want = summaries.getOrElse(key, throw new CheckFailed(s"unexpected summary $key"))
      vs.indices.foreach { i =>
        if (math.abs(vs(i) - want(i)) > math.max(1e-6, 1e-5 * math.abs(want(i))))
          throw new CheckFailed(s"summary $key bin $i: got ${vs(i)}, want ${want(i)}")
      }
    }
  }
}
