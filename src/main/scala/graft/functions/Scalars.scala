package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Scalar functions from SURVEY.md §2.7. */
object Scalars {

  /** Hz -> MIDI pitch (reference Pitch::getPitchForFrequency, used by the
    * MIDI writer: value[0] interpreted as Hz when the output unit is "Hz",
    * runner/MIDIFeatureWriter.cpp:99-101,124-126). */
  def hzToMidi(freq: Column): Column =
    round(lit(69.0) + lit(12.0) * log2(freq / 440.0)).cast("int")

  /** ns -> frame index at rate (realTime2Frame,
    * FeatureExtractionManager.cpp:819-822). */
  def nsToFrame(ns: Column, rateHz: Double): Column =
    floor(ns.cast("double") * rateHz / 1e9).cast("long")

  /** frame index -> ns (frame2RealTime, FeatureExtractionManager.cpp:941). */
  def frameToNs(frame: Column, rateHz: Double): Column =
    (frame.cast("double") * (1e9 / rateHz)).cast("long")

  /** transform-id sanitization for filenames: ':' -> '_'
    * (tests/test-csv-destinations/test-csv-destinations.sh:9-10). */
  def sanitizeId(c: Column): Column = regexp_replace(c, ":", "_")

  /** Dotted version compare (reference runner/main.cpp:145-187): returns
    * <0 / 0 / >0. Non-numeric components mark a pre-release: a version
    * with a non-numeric component at position i sorts BEFORE a version
    * whose component i is numeric. Driver-side utility. */
  def compareVersions(a: String, b: String): Int = {
    val as = a.split("\\.")
    val bs = b.split("\\.")
    val n = math.max(as.length, bs.length)
    var i = 0
    while (i < n) {
      val x = as.lift(i).getOrElse("0")
      val y = bs.lift(i).getOrElse("0")
      val xn = x.forall(_.isDigit)
      val yn = y.forall(_.isDigit)
      val c =
        if (xn && yn) x.toInt.compareTo(y.toInt)
        else if (xn && !yn) 1   // numeric beats pre-release
        else if (!xn && yn) -1
        else x.compareTo(y)
      if (c != 0) return c
      i += 1
    }
    0
  }
}
