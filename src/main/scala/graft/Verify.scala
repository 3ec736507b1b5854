package graft

import org.apache.spark.sql.SparkSession
import graft.util.{BenchConfs, JsonOut}
import java.nio.file.{Files, Paths}

/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json for the DuckDB compare, counts.txt and
  * verify_ledger.json (name, status, elapsed_ms, error per dumped
  * query). Exits 1 when any dump failed, after writing all three. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg (local use): comma-separated query names to dump
    val only: Option[Set[String]] = args.lift(2).map(_.split(',').toSet)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // the bench session, so the oracle checks the plans Bench times
    val spark = BenchConfs.noCodegenFallback(
        BenchConfs(SparkSession.builder().master(s"local[$cpus]"), cpus))
      // dump timestamps as us (never INT96) so pyarrow/DuckDB agree
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Dump queries a few at a time: Spark's scheduler interleaves the
    // independent jobs (planning/IO of one overlaps compute of
    // another). Sessions are thread-safe; failures stay per-query.
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val dumps = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
      Future {
        val start = System.nanoTime()
        // scope: release THIS query's operator-internal caches once its
        // dump finishes — every query in one session would otherwise
        // accumulate every intermediate cache block
        val error = try {
          graft.util.CacheScope.withScope {
            val df = fn(spark, sfDir)
            // Window lint rides the gate too: an unpartitioned window
            // outside WindowLint's bounded-input whitelist fails the
            // dump (pre-AQE sparkPlan — partitionSpec is plan-static).
            graft.plans.WindowLint.check(name, df.queryExecution.sparkPlan)
              .foreach(msg => sys.error(msg))
            df.coalesce(1).write.mode("overwrite")
              .parquet(s"$outDir/$name")
          }
          None
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          Some(s"${e.getClass.getName}: ${e.getMessage}")
        }
        (name, (System.nanoTime() - start) / 1000000L, error)
      }
    }
    val results = Await.result(Future.sequence(dumps), Duration.Inf).sortBy(_._1)
    pool.shutdown()
    // oracle dump + escape rules live in util.JsonOut (shared with
    // Bench's same-session DuckDB co-reading)
    JsonOut.dumpOracleSql(outDir)
    // Machine-generated ledger counts: commit messages and summaries
    // quote THESE numbers, never a hand-typed count. Printed to stdout
    // and dumped beside the oracle SQL so the artifact travels with
    // the run.
    val failed = results.count(_._3.isDefined)
    val counts = s"bound_queries=${SparkEntry.queries.size} " +
      s"oracle_sql=${SparkEntry.oracleSql.size}"
    println(s"[verify] $counts dumped=${results.size} failed=$failed")
    Files.writeString(Paths.get(s"$outDir/counts.txt"), counts + "\n")
    // one record per dumped query, so a failure survives a truncated
    // stderr
    val ledger = results.map { case (name, ms, error) =>
      s"""{"name": ${JsonOut.quote(name)}, "status": "${if (error.isEmpty) "ok" else "failed"}", """ +
        s""""elapsed_ms": $ms, "error": ${error.fold("null")(JsonOut.quote)}}"""
    }
    Files.writeString(Paths.get(s"$outDir/verify_ledger.json"),
      ledger.mkString("[\n  ", ",\n  ", "\n]\n"))
    spark.stop()
    if (failed > 0) sys.exit(1)
  }
}
