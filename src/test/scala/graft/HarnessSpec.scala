package graft

import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions.{col, udf}
import org.scalatest.funsuite.AnyFunSuite

/** The harness parts Bench, Verify and the dev modes share: the query
  * selector, the timed region and the plan dump. */
class HarnessSpec extends AnyFunSuite with SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("timed region: a query that throws is a failure, not a timing") {
    val throwsInBuild: Harness.Query = (_, _) => throw new IllegalStateException("no table")
    val boom = udf((x: Long) => { if (x == 2L) throw new IllegalStateException("bad row"); x })
    val throwsInAction: Harness.Query = (s, _) => s.range(4).toDF().where(boom(col("id")) >= 0)
    val out = Seq[(String, Harness.Query)](
      "q_build" -> throwsInBuild, "q_action" -> throwsInAction,
      "q_ok" -> ((s, _) => s.range(3).toDF())).map(Harness.run(spark, sf, _)(_.count()))
    assert(out.map(o => o.name -> o.result.isSuccess) ==
      Seq("q_build" -> false, "q_action" -> false, "q_ok" -> true))
    assert(out(2).result.get == 3L)
    assert(Harness.failed(out) == Seq("q_build", "q_action"))
  }

  test("selector: a prefix list selects exactly the matching queries") {
    val names = Harness.select("q_f6,q_a1").map(_._1)
    assert(names == SparkEntry.queries.keys.toSeq.sorted
      .filter(n => n.startsWith("q_f6") || n.startsWith("q_a1")))
    assert(names.contains("q_f6_round_half_down") && names.contains("q_a1_daily_stats"))
    assert(Harness.select("").size == SparkEntry.queries.size)
  }

  test("selector: a list that matches no query fails with a non-zero exit") {
    intercept[IllegalArgumentException](Harness.select("zz_no_such_query"))
    val javaBin = new java.io.File(System.getProperty("java.home"), "bin/java").getPath
    val p = new ProcessBuilder(javaBin, "-cp", System.getProperty("java.class.path"),
        "graft.Harness", "micro", "zz_no_such_query")
      .redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(p.getInputStream).mkString
    assert(p.waitFor() != 0, out)
    assert(out.contains("no query name starts with any of 'zz_no_such_query'"), out)
  }

  test("plans: the dump is the formatted plan of the frame the bench path builds") {
    val q = Harness.select("q_f6_round_half_down").head
    val dumped = new java.io.ByteArrayOutputStream()
    Console.withOut(dumped)(Harness.plans(spark, sf, Seq(q), None))
    val benched = Harness.run(spark, sf, q)(identity).result.get
    // each build allocates fresh expression ids
    def norm(plan: String) = plan.replaceAll("(#|plan_id=)\\d+", "$1")
    assert(norm(dumped.toString) ==
      norm(benched.queryExecution.explainString(FormattedMode)))
    assert(dumped.toString.contains("Sort"))
  }
}
