package graft

import graft.queries.Registry
import org.apache.spark.metrics.source.CodegenMetrics

/** Pins the two codegen settings in [[Sessions.tune]]: the JVM-wide
  * CodeGenerator cache is sized to graft's working set (the static conf
  * must actually reach it), and child sessions share one executor
  * classloader, so a class compiled for one session serves the next.
  * Janino compiles are read from CodegenMetrics' compilation-time
  * histogram, which counts one sample per compile. */
class CodegenReuseSpec extends SparkTestBase {

  private def compilesDuring(body: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  private def mainRun(session: org.apache.spark.sql.SparkSession): Long = {
    val out = java.nio.file.Files.createTempDirectory("graft_codegen_reuse").toString
    try compilesDuring(assert(graft.app.Main.run(session, sf, out) == 0L))
    finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
  }

  test("generated classes compile once: none again in a session, few in a fresh one") {
    val queries = Seq("q17_regional_revenue", "q165_topk_operator")
      .map(n => Registry.allQueries.find(_.name == n).get)
    val warm = spark.newSession()
    def sweep(): Unit = queries.foreach(q => Bench.timeNoop(q.run(warm, sf)))
    val first = mainRun(warm)
    sweep()
    val resweep = compilesDuring(sweep())
    val second = mainRun(spark.newSession())
    assert(resweep == 0L, s"re-running q17 + q165 on the same session compiled $resweep classes")
    assert(first > 0L && second * 20 < first,
      s"Main.run on a fresh session compiled $second classes vs $first on the first run")
  }
}
