package graft.tools

import graft.SparkSuite
import graft.coverage.{LlmOpQueries, OperatorQueries}

class ProfileSpec extends SparkSuite {

  // don't leak the profiled query's cached input tables into later suites'
  // plan matching
  override def afterAll(): Unit =
    try { OperatorQueries.clearCache(); LlmOpQueries.clearCache() }
    finally super.afterAll()

  test("profiles a query on the shared session: plan, then a stage table") {
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(buf) {
      Profile.profile(spark, "/root/testdata/sf0.001", Seq("a4_daily_count"))
    }
    val out = buf.toString("UTF-8")
    assert(out.contains("== Physical Plan =="), out)
    val summary = """a4_daily_count wall=\S+s jobs=(\d+) stages=(\d+)""".r
    val m = summary.findFirstMatchIn(out).getOrElse(fail(out))
    assert(m.group(1).toInt >= 1, out)
    assert(m.group(2).toInt >= 1, out)
    assert(out.linesIterator.exists(_.startsWith("  stage ")), out)
    assert(!spark.sparkContext.isStopped)
  }
}
