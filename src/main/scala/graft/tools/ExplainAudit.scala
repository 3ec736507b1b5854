package graft.tools

import org.apache.spark.sql.SparkSession

/** Prints formatted physical plans of the headline queries for the
  * scale audit (SURVEY §5): verify PushedFilters reach the scans,
  * small dims broadcast, no unexpected exchanges, codegen spans wide.
  *
  * Round 9: the session now carries the EXACT bench confs
  * (util.BenchConfs, SPARK_GRAFT_CPUS cores — the old local[8]/
  * default-width session planned different exchanges than the graded
  * bench, which hid the pagerank standing-layout mismatch). */
object ExplainAudit {
  def main(args: Array[String]): Unit = {
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.util.BenchConfs(
      SparkSession.builder().master(s"local[$cpus]"), cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq
                else graft.queries.Registry.headlines.map(_.name)
    names.foreach { n =>
      println(s"\n========== $n ==========")
      println(graft.queries.Registry.queries(n)(spark, d)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
