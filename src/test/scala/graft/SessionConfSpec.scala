package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.util.BenchConfs

/** `BenchConfs` is the one source of session confs: the spec session
  * must plan under exactly the confs Bench and the benchmark time, plus
  * the codegen-fallback overlay that every answer-checking session takes. */
class SessionConfSpec extends AnyFunSuite {
  import TestSpark._

  /** The confs a builder carries before `getOrCreate` (the builder keeps
    * them in a map that Scala code outside Spark cannot name). */
  private def options(b: SparkSession.Builder): Map[String, String] =
    b.getClass.getMethod("options").invoke(b)
      .asInstanceOf[scala.collection.mutable.Map[String, String]].toMap

  test("the spec session carries every bench conf and the codegen overlay") {
    val bench = options(BenchConfs(SparkSession.builder(), Cpus))
    val checked = options(BenchConfs.noCodegenFallback(BenchConfs(SparkSession.builder(), Cpus)))
    assert(bench.size >= 10 && checked.size == bench.size + 1)
    assert(checked("spark.sql.codegen.fallback") == "false")
    checked.foreach { case (k, v) =>
      assert(spark.conf.getOption(k).contains(v), s"$k: want $v, session has ${spark.conf.getOption(k)}")
    }
    // shuffles start at the bench width, 8 × cores
    assert(spark.sessionState.conf.numShufflePartitions == 8 * Cpus.toInt)
  }

  test("src/main reads exactly two spark.graft.* keys") {
    // every graft knob needs a caller; a new one must edit this set
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    val key = """spark\.graft\.[A-Za-z]+(\.[A-Za-z]+)*""".r
    val stream = java.nio.file.Files.walk(root)
    val keys = try {
      stream.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .flatMap(p => key.findAllIn(java.nio.file.Files.readString(p))).toSet
    } finally stream.close()
    assert(keys == Set("spark.graft.bandJoin.bucketWidth", "spark.graft.warm.heapFraction"))
  }
}
