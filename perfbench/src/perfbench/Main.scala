package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** One benchmark run of one workload in one JVM (see README.md).
  *
  *   perfbench.Main --workload W --seed N --trace 0|1 --work DIR
  *                  --warmups K --iters4 N4 --iters1 N1 [--scale X]
  *
  * Starts a local[4] session, generates the seeded inputs under DIR/inputs,
  * prints `READY <input dir>` and waits for one line on stdin, so that the
  * caller can compute its DuckDB reference over the same parquet. Then it
  * runs one warm-up iteration (`setup_s` = session start + this), K more
  * untimed iterations, and then N4 timed iterations at local[4] and, in a new
  * local[1] session after one untimed iteration there, N1 timed ones
  * (untraced). With --trace 1 it runs N4 untraced and N4 traced iterations
  * at local[4], in pairs of alternating order. Checks deferred to the end of
  * the run come last. Every sample goes to DIR/result.json. Iterations run
  * back to back: one closed-loop client. */
object Main {

  final case class Args(workload: String, seed: Long, trace: Boolean, work: String,
      warmups: Int, iters4: Int, iters1: Int, scale: Double)

  private def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("trace") == "1", m("work"),
      m("warmups").toInt, m("iters4").toInt, m("iters1").toInt,
      m.getOrElse("scale", "1").toDouble)
  }

  private val Partitions = 4

  private def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Partitions.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def loadAvg(): Double = {
    val src = scala.io.Source.fromFile("/proc/loadavg")
    try src.mkString.split(" ")(0).toDouble finally src.close()
  }

  /** Used heap after a full collection, in MiB: what an iteration leaves
    * live. A peak taken from the collections that happen during an
    * iteration depends on when the collector runs, not only on the work. */
  private def liveHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  final case class Sample(iter: Int, wallS: Double, units: Long, liveHeapMb: Double,
      loadBefore: Double, loadAfter: Double)

  def main(argv: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val a = parse(argv)
    val w = Workloads(a.workload, a.scale)
    val in = s"${a.work}/inputs/${a.workload}-${w.size}-seed${a.seed}"
    val runDir = s"${a.work}/run-${ProcessHandle.current().pid()}"
    val failures = mutable.ArrayBuffer.empty[String]
    var attempted = 0

    val t0 = System.nanoTime()
    def since(t: Long) = (System.nanoTime() - t) / 1e9
    var spark = session(4, a.work)
    val sessionS = since(t0)
    // Generated on every run, even for a seed seen before: the generation
    // warms the JVM, so skipping it would make the set-up colder.
    deleteTree(in)
    val tGen = System.nanoTime()
    w.generate(spark, in, a.seed)
    println(s"READY $in")
    Console.out.flush()
    if (scala.io.StdIn.readLine() == null)
      throw new IllegalStateException("caller closed stdin before the reference was ready")
    val tReady = System.nanoTime()
    w.prepare(spark, in)
    val phases = mutable.LinkedHashMap[String, Double]("session_s" -> sessionS,
      "generate_s" -> (tReady - tGen) / 1e9, "reference_s" -> since(tReady))

    var iterNo = 0
    /** One checked iteration; a throw or a failed check is recorded and the
      * run goes on. Output removal is outside the timed region. */
    def iteration(tracer: Option[Tracer]): Option[(Double, Long)] = {
      iterNo += 1
      attempted += 1
      val it = new Iter(iterNo, in, s"$runDir/iter-$iterNo", tracer)
      try {
        val t0 = System.nanoTime()
        val units = w.iterate(spark, it)
        Some(((System.nanoTime() - t0) / 1e9, units))
      } catch {
        case e: Throwable =>
          failures += s"iteration $iterNo: ${e.getClass.getSimpleName}: ${e.getMessage}"
          None
      } finally deleteTree(it.out)
    }

    def sample(tracer: Option[Tracer] = None): Option[Sample] = {
      val before = loadAvg()
      val r = iteration(tracer)
      val heap = liveHeapMb()
      val after = loadAvg()
      r.map { case (s, units) => Sample(iterNo, s, units, heap, before, after) }
    }

    val tWarm = System.nanoTime()
    iteration(None)
    val setupS = sessionS + since(tWarm)
    (1 to a.warmups).foreach(_ => iteration(None))
    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "scale" -> a.scale,
      "spark_version" -> spark.version,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "jvm_args" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq,
      "conf" -> spark.conf.getAll.filter(_._1.startsWith("spark.sql.")).toMap
        .updated("spark.master", spark.sparkContext.master),
      "setup_s" -> setupS)

    // Checks deferred to the end of the run drop their failed iterations'
    // samples, as an inline check would have.
    def lateCheck(): Int => Boolean = {
      val t = System.nanoTime()
      val late = w.lateCheck(spark, in)
      phases("late_check_s") = since(t)
      late.toSeq.sortBy(_._1).foreach { case (no, msg) => failures += s"iteration $no: $msg" }
      no => !late.contains(no)
    }

    if (!a.trace) {
      val p4 = (1 to a.iters4).flatMap(_ => sample())
      spark.stop()
      spark = session(1, a.work)
      iteration(None)
      val p1 = (1 to a.iters1).flatMap(_ => sample())
      val ok = lateCheck()
      result("local4") = samplesJson(p4.filter(x => ok(x.iter)))
      result("local1") = samplesJson(p1.filter(x => ok(x.iter)))
    } else {
      val untraced = mutable.ArrayBuffer.empty[Sample]
      val traced = mutable.ArrayBuffer.empty[(Sample, Map[String, Double],
        Seq[(String, Double, Int, Int)])]
      def tracedSample(): Unit = {
        val tracer = new Tracer(spark, in) // its own listeners, for this iteration only
        tracer.begin()
        sample(Some(tracer)).foreach(s => traced += ((s, tracer.layers(), tracer.spanSummary)))
        tracer.close()
      }
      // Pairs in alternating order (untraced first, then traced first), so
      // that the JIT drift over a run biases neither leg.
      (1 to a.iters4).foreach { i =>
        if (i % 2 == 1) { untraced ++= sample(); tracedSample() }
        else { tracedSample(); untraced ++= sample() }
      }
      val ok = lateCheck()
      val kept = traced.filter(x => ok(x._1.iter)).toSeq
      result("local4") = samplesJson(untraced.filter(x => ok(x.iter)).toSeq)
      result("traced") = samplesJson(kept.map(_._1))
      result("layers") = kept.map(_._2)
      result("spans") = kept.map(_._3.map { case (n, s, q, j) =>
        Map("name" -> n, "s" -> s, "queries" -> q, "jobs" -> j)
      })
    }
    spark.stop()
    phases("total_s") = since(t0)
    result("phases") = phases
    result("attempted") = attempted
    result("failed") = failures.size
    result("failures") = failures.toSeq
    deleteTree(runDir)
    deleteTree(in)
    Files.writeString(Paths.get(s"${a.work}/result.json"),
      Workloads.json.writeValueAsString(result))
  }

  private def samplesJson(ss: Seq[Sample]): Map[String, Seq[Double]] = Map(
    "wall_s" -> ss.map(_.wallS), "units" -> ss.map(_.units.toDouble),
    "live_heap_mb" -> ss.map(_.liveHeapMb), "load_before" -> ss.map(_.loadBefore),
    "load_after" -> ss.map(_.loadAfter))

  private def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.delete(x))
  }
}
