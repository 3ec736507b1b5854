package graft

import org.apache.spark.sql.SparkSession

/** Shared local session for specs (one JVM-wide session; Test/fork). */
object TestSpark {
  lazy val spark: SparkSession = {
    // the JVM-wide codegen-cache cap is fixed by the first session, so
    // specs run with the same cache as the bench
    val s = graft.util.BenchConfs.codegenCache(SparkSession.builder())
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // codegen lint: a whole-stage method janino rejects (>64 KB)
      // normally falls back to interpreted with only a log line — a
      // silent 5-20x regression at scale. In tests, make it THROW so
      // any operator that outgrows codegen fails its spec instead.
      .config("spark.sql.codegen.fallback", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // Fixture-window noise control (round-5 verdict item 8): spec
    // fixtures and oracle replays execute the whitelisted bounded-input
    // windows thousands of times, and WindowExec's per-execution "No
    // Partition Defined" WARN drowned any NEW warning (11k lines in the
    // r5 test log). The raw logger is silenced here and REPLACED by the
    // listener below, which prints one deduped "[window-lint]" line per
    // DISTINCT bare-window shape — so the test log carries ~whitelist-
    // size lines and a new unpartitioned window is visible again. The
    // hard gate is unchanged: every bound query's plan still goes
    // through graft.plans.WindowLint at Verify dump time.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window",
      org.apache.logging.log4j.Level.ERROR)
    val seenBare = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    s.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit =
        graft.plans.WindowLint.bareWindows(qe.sparkPlan).foreach { w =>
          val key = w.nodeName + " " + w.output.map(_.name).mkString(",")
          if (seenBare.add(key))
            // scalastyle:off println — deliberate: one line per distinct shape
            println(s"[window-lint] bare (unpartitioned) window executed in tests: $key")
        }
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    })
    s
  }
  val sfTiny = "/root/testdata/sf0.001"
}
