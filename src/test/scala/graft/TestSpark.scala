package graft

import org.apache.spark.sql.SparkSession
import graft.util.BenchConfs

/** Shared local session for specs (one JVM-wide session; Test/fork). */
object TestSpark {
  /** Cores of the spec session, and the `cpus` its bench confs take. */
  val Cpus = "4"
  lazy val spark: SparkSession = {
    // the bench session, so specs check the plans Bench times
    val s = BenchConfs.noCodegenFallback(BenchConfs(
        SparkSession.builder().master(s"local[$Cpus]").appName("graft-test"), Cpus))
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
