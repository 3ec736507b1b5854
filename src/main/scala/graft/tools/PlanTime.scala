package graft.tools

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Planning-vs-execution split for one query: times (a) DataFrame
  * construction, (b) analysis+optimization+physical planning
  * (executedPlan forced, nothing run), (c) first execution, (d) a
  * second warm execution inside the same cache scope, (e) a rebuilt
  * frame. Each phase also prints how many classes Janino compiled in it
  * and their compile time (`CodegenMetrics`, `CodeGenerator.compileTime`),
  * so "slow because recompiling" is told apart from "slow plan".
  * Diagnostic only — lets a "query X is slow" finding be attributed to
  * planning (Catalyst, codegen) or execution (jobs) before optimizing
  * either.
  *
  * Usage: runMain graft.tools.PlanTime <query> <dir>
  */
object PlanTime {
  def main(args: Array[String]): Unit = {
    val Array(q, d) = args.take(2)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val s = graft.util.BenchConfs(
      SparkSession.builder().master(s"local[$cpus]"), cpus).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.sources.Tables.warm(s, d)
    def compiles(): (Long, Long) =
      (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)
    /** Runs `f` and renders its wall ms plus its compile count and ms. */
    def phase(name: String)(f: => Unit): String = {
      val (n0, c0) = compiles()
      val t0 = System.nanoTime()
      f
      val wall = (System.nanoTime() - t0) / 1000000L
      val (n1, c1) = compiles()
      s"$name=${wall}ms(compiles=${n1 - n0},${(c1 - c0) / 1000000L}ms)"
    }
    graft.util.CacheScope.withScope {
      var df: org.apache.spark.sql.DataFrame = null
      var n = 0L
      val phases = Seq(
        phase("build") { df = graft.queries.Registry.queries(q)(s, d) },
        phase("plan")(df.queryExecution.executedPlan),
        phase("exec1") { n = df.count() },
        phase("exec2")(df.count()),
        // a rebuilt frame (fresh lazy plan, warm operator caches) — the
        // steady-state serving latency Bench's best-of-2 reports
        phase("rebuild")(graft.queries.Registry.queries(q)(s, d).count()))
      println(s"[plantime] $q rows=$n ${phases.mkString(" ")}")
    }
    s.stop()
  }
}
