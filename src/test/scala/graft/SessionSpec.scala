package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the one session shape every main runs in, as a pure function of the
  * environment, so no second session is built in the test JVM. */
class SessionSpec extends AnyFunSuite {

  private val fixed = Map(
    "spark.sql.adaptive.enabled" -> "false",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.ui.enabled" -> "false",
    "spark.shuffle.compress" -> "false",
    "spark.shuffle.spill.compress" -> "false",
    "spark.broadcast.compress" -> "false",
    "spark.sql.inMemoryColumnarStorage.compressed" -> "false")

  private def settings(env: (String, String)*): Map[String, String] = {
    val s = Session.settings(env.toMap)
    assert(s.map(_._1).distinct.size == s.size, s"a key is set twice: $s")
    s.toMap
  }

  test("4 cores: local[4], shuffle width 4, AQE off, UTC, nanosAsLong, no codecs") {
    assert(settings("SPARK_GRAFT_CPUS" -> "4") == fixed ++ Map(
      "spark.master" -> "local[4]", "spark.sql.shuffle.partitions" -> "4"))
  }

  test("32 cores: shuffle width is capped at 16") {
    assert(settings("SPARK_GRAFT_CPUS" -> "32") == fixed ++ Map(
      "spark.master" -> "local[32]", "spark.sql.shuffle.partitions" -> "16"))
  }

  test("width and AQE follow their knobs; cores default to the host's") {
    val s = settings("SPARK_GRAFT_SHUFFLE" -> "7", "SPARK_GRAFT_AQE" -> "true")
    val cpus = Runtime.getRuntime.availableProcessors
    assert(s("spark.master") == s"local[$cpus]")
    assert(s("spark.sql.shuffle.partitions") == "7")
    assert(s("spark.sql.adaptive.enabled") == "true")
  }
}
