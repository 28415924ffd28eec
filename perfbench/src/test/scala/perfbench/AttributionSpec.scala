package perfbench

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

/** Run from perfbench/: `sbt test`. */
class AttributionSpec extends AnyFunSuite {

  private val modules = Attribution.moduleMap(
    new File("../src/main/scala/graft"), new File("src"))

  test("a call site maps to the module of the file it names") {
    def m(cs: String) = Attribution.module(cs, modules)
    assert(m("collect at IdaMart.scala:175") == "plans")
    assert(m("count at Pipeline.scala:150") == "plans")
    assert(m("collect at RawIngest.scala:69") == "sources")
    assert(m("parquet at Sinks.scala:48") == "sinks")
    assert(m("jdbc at JdbcSink.scala:90") == "sinks")
    assert(m("localCheckpoint at Dedup.scala:300") == "operators")
    assert(m("getOrCreate at Session.scala:117") == "session")
    assert(m("collect at BenchMain.scala:170") == "bench")
    assert(m("collect at Unknown.scala:1") == "other")
    assert(m("") == "other")
  }

  test("an execution's call stack attributes to its innermost repo frame") {
    val stack = Seq(
      "org.apache.spark.sql.Dataset.count(Dataset.scala:1500)",
      "graft.plans.Pipeline$.run(Pipeline.scala:150)",
      "perfbench.IdaEtlLoad.lifecycle(BenchMain.scala:300)").mkString("\n")
    assert(Attribution.innermostRepoFrame(stack, modules) == "Pipeline.scala:150")
    assert(Attribution.innermostRepoFrame("", modules) == "")
  }

  test("a job the engine issues inside a known call is attributed to it") {
    val spark = graft.Session.build(master = "local[2]", appName = "attribution")
    try {
      val tracer = new Tracer(modules)
      spark.sparkContext.addSparkListener(tracer)
      import spark.implicits._
      val records = Seq("CLARO", "OI", "TIM").toDF("grupo_economico")
      spark.sparkContext.setJobGroup("op-known", "dimGrupo")
      // ranks the distinct groups with an eager collect in IdaMart.scala
      graft.plans.IdaMart.dimGrupo(records)
      spark.sparkContext.clearJobGroup()
      tracer.drain()
      val jobs = tracer.opJobs("op-known")
      assert(jobs.nonEmpty)
      assert(jobs.forall { case (_, cs, module) =>
        cs.contains("IdaMart.scala") && module == "plans" }, jobs)
    } finally spark.stop()
  }
}
