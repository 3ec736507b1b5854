package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Num.cents
import graft.operators.{Pagination, Search, Upsert}
import graft.queries.Registry
import graft.sources.Tables
import graft.util.{BenchConfs, CacheScope, JsonOut}

/** One unit of work the benchmark times: a serve request or a batch
  * job. `write` jobs (the ETL jobs) go through `Tables.writeParquet` and
  * are read back. */
final case class Op(id: String, build: SparkSession => DataFrame, write: Boolean)

/** The benchmark's JVM side. It reads a run description written by
  * `run.py`, sets graft up, runs the workload for the given time and
  * writes raw records: per-operation wall times, spans, job-group
  * counters and plan counts, plus the first answer of every distinct
  * operation for `run.py` to check. All metric arithmetic happens in
  * `run.py`.
  *
  * Usage: perfbench.Main <run.json> */
object Main {
  private val originMs = System.currentTimeMillis().toDouble
  private val originNs = System.nanoTime()
  private def nowMs(): Double = originMs + (System.nanoTime() - originNs) / 1e6

  def main(args: Array[String]): Unit = {
    val cfg = new ObjectMapper().readTree(new File(args(0)))
    new Run(cfg).execute()
  }

  final class Run(cfg: JsonNode) {
    private val workload = cfg.get("workload").asText
    private val data = cfg.get("data").asText
    private val out = cfg.get("out").asText
    private val cpus = cfg.get("cpus").asInt
    private val seconds = cfg.get("seconds").asDouble
    private val trace = cfg.get("trace").asBoolean
    private val clients = cfg.get("clients").asInt
    private val warmTables = cfg.get("warm").asBoolean
    private val writeDir = s"$out/written"

    private val records = ArrayBuffer.empty[String]
    private var spark: SparkSession = _
    private var listener: GroupListener = _
    private var execLog: ExecutionLog = _
    private var warmBytes = 0L
    private var peakLive, peakLiveHeap = 0L
    private val nextOp = new AtomicInteger(0)

    private def session(): SparkSession =
      BenchConfs(SparkSession.builder().master(s"local[$cpus]"), cpus.toString)
        .config("spark.local.dir", s"$out/spark-local")
        .config("spark.sql.warehouse.dir", s"$out/warehouse")
        .getOrCreate()

    private def storageBytes(): Long =
      spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum

    /** Session start and table handles, plus `Tables.warm` and
      * materializing the cache where the workload serves from it. */
    private def setUp(): (Double, String) = {
      val t0 = System.nanoTime()
      spark = session()
      var warmJson = """{"warm_s":0,"tables_cached":0,"cached_bytes":0}"""
      if (warmTables) {
        val w0 = System.nanoTime()
        Tables.warm(spark, data)
        Tables.all.foreach(n => Tables.load(spark, data, n).count())
        val warmS = (System.nanoTime() - w0) / 1e9
        val info = spark.sparkContext.getRDDStorageInfo.filter(_.numCachedPartitions > 0)
        warmBytes = info.map(r => r.memSize + r.diskSize).sum
        warmJson = s"""{"warm_s":$warmS,"tables_cached":${info.length},"cached_bytes":$warmBytes}"""
      } else Tables.all.foreach(n => Tables.load(spark, data, n).schema)
      ((System.nanoTime() - t0) / 1e9, warmJson)
    }

    private def ops(): Map[String, Op] = {
      def bound(name: String, write: Boolean) = {
        val q = Registry.queries(name)
        Op(name, s => q(s, data), write)
      }
      workload match {
        case "serve" =>
          cfg.get("distinct").elements().asScala.map { r =>
            val id = r.get("id").asText
            r.get("kind").asText match {
              case "query" => id -> bound(r.get("name").asText, write = false)
              case "page" =>
                val (page, size) = (r.get("page").asInt, r.get("size").asInt)
                id -> Op(id, s => Pagination.page(
                  Tables.customer(s, data).select("c_custkey", "c_name", "c_mktsegment", "c_acctbal"),
                  Seq(col("c_custkey")), page, size), write = false)
              case "search" =>
                val brands = r.get("brands").elements().asScala.map(_.asText).toSeq
                val (kw, lo, hi) = (r.get("keyword").asText, r.get("lo").asDouble, r.get("hi").asDouble)
                id -> Op(id, s => Search.search(Tables.part(s, data),
                    keyword = Some(kw), keywordFields = Seq(col("p_name"), col("p_type")),
                    range = Some((col("p_retailprice"), lit(lo), lit(hi))),
                    tokenCol = Some(col("p_brand")), tokens = brands, dedupKey = Seq("p_partkey"))
                  .select(col("p_partkey").as("partkey"), col("p_name").as("name"),
                    col("p_brand").as("brand"), col("p_type").as("ptype"),
                    col("p_retailprice").as("price")), write = false)
            }
          }.toMap
        case "batch" =>
          val writes = cfg.get("writes").elements().asScala.map(_.asText).toSet
          cfg.get("jobs").elements().asScala.map(_.asText).map {
            case "upsert_orders" => "upsert_orders" -> Op("upsert_orders", s => {
              val base = Tables.orders(s, data)
                .select(col("o_orderkey").as("key"), cents(col("o_totalprice")).as("price_c"))
              val changes = s.read.parquet(s"$data/changes.parquet")
              Upsert.applyChanges(base, changes, "key", col("version"), col("seq"))
            }, write = true)
            case name => name -> bound(name, write = writes(name))
          }.toMap
      }
    }

    private def dirStats(path: String): (Long, Int) = {
      val f = new File(path)
      val parts = Option(f.listFiles()).getOrElse(Array.empty[File])
        .filter(p => p.getName.startsWith("part-"))
      (parts.map(_.length).sum, parts.length)
    }

    private def deleteTree(f: File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(deleteTree))
      f.delete()
    }

    /** Run one operation and append its record. `check` keeps the full
      * answer for `run.py` to compare; `traced` records spans and
      * counters. With one client, every query execution that ends while
      * the operation runs is its own (actions inside a query's build, a
      * job's write); with two, only the operation's final plan is. */
    private def runOp(op: Op, phase: String, client: Int, check: Boolean,
                      traced: Boolean, seq: Int = -1): Unit = {
      val attributeLog = traced && clients == 1
      val idx = nextOp.getAndIncrement()
      val group = s"op$idx"
      val sc = spark.sparkContext
      val spans = ArrayBuffer.empty[(String, Double, Double)]
      def span[T](name: String)(body: => T): T =
        if (!traced) body
        else {
          val s = nowMs()
          try body finally spans.synchronized { spans += ((name, s, nowMs())) }
        }
      var rows: Array[Row] = null
      var error: String = null
      var planJson = "null"
      var persisted = 0L
      var releaseStart = 0.0
      val path = s"$writeDir/$group"
      sc.setJobGroup(group, op.id, interruptOnCancel = false)
      val start = nowMs()
      try {
        CacheScope.withScope {
          val df = span("queries.build")(op.build(spark))
          if (traced) span("plans.plan")(df.queryExecution.executedPlan)
          if (op.write) {
            span("sources.write")(Tables.writeParquet(df, path))
            rows = span("sources.read")(spark.read.parquet(path).collect())
          } else {
            rows = span("exec.collect")(df.collect())
          }
          if (traced && !attributeLog)
            planJson = (PlanWalk.count(df.queryExecution.executedPlan) +
              PlanWalk.phases(df.queryExecution)).toJson
          if (traced) persisted = storageBytes() - warmBytes
          releaseStart = nowMs()
        }
        if (traced) spans += (("cachescope.release", releaseStart, nowMs()))
      } catch {
        case e: Throwable =>
          error = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
      } finally sc.clearJobGroup()
      val end = nowMs()
      val count = if (rows == null) -1L else rows.length.toLong
      if (traced && attributeLog) {
        org.apache.spark.PerfbenchBus.drain(sc)
        planJson = execLog.drain().toJson
      }
      val (wBytes, wFiles) = if (op.write) dirStats(path) else (0L, 0)
      if (op.write) deleteTree(new File(path))
      if (check && rows != null) {
        val lines = rows.iterator.map(_.json).mkString("", "\n", "\n")
        Files.writeString(Paths.get(s"$out/checks/${op.id}.jsonl"), lines)
      }
      val spanJson = spans.map { case (n, s, e) => s"[${JsonOut.quote(n)},$s,$e]" }.mkString("[", ",", "]")
      val rec = s"""{"idx":$idx,"group":"$group","id":${JsonOut.quote(op.id)},"phase":"$phase",""" +
        s""""checked":$check,"seq":$seq,""" +
        s""""client":$client,"start":$start,"end":$end,"rows":$count,""" +
        s""""error":${if (error == null) "null" else JsonOut.quote(error)},""" +
        s""""spans":$spanJson,"plan":$planJson,"write_bytes":$wBytes,"write_files":$wFiles,""" +
        s""""persisted_bytes":$persisted}"""
      records.synchronized { records += rec }
    }

    /** Closed loop: `clients` threads each send the next request of
      * `stream` once their previous one completes, until the deadline
      * or, with `once`, until every request of the stream was sent. */
    private def serveLoop(byId: Map[String, Op], stream: Array[String], phase: String,
                          secs: Double, traced: Boolean, once: Boolean = false): Unit = {
      val next = new AtomicInteger(0)
      val deadline = System.nanoTime() + (secs * 1e9).toLong
      val threads = (0 until clients).map { c =>
        new Thread(() => {
          var i = next.getAndIncrement()
          while (if (once) i < stream.length else System.nanoTime() < deadline) {
            runOp(byId(stream(i % stream.length)), phase, c, check = once, traced, seq = i)
            i = next.getAndIncrement()
          }
        })
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
    }

    /** What the program holds at this point: heap in use after a full
      * collection plus non-heap in use (classes, compiled code). Spark
      * frees blocks of collected broadcasts and RDDs on its cleaner
      * thread, so collect again until the heap stops shrinking. Only
      * called between operations, never inside a timed one. */
    private def checkpoint(): Unit = {
      val m = ManagementFactory.getMemoryMXBean
      def collect(): Long = { System.gc(); m.getHeapMemoryUsage.getUsed }
      var heap = collect()
      var prev = Long.MaxValue
      var rounds = 0
      while (prev - heap > (1L << 20) && rounds < 5) {
        Thread.sleep(150)
        prev = heap
        heap = collect()
        rounds += 1
      }
      val live = heap + m.getNonHeapMemoryUsage.getUsed
      if (live > peakLive) { peakLive = live; peakLiveHeap = heap }
    }

    /** One pass over the job list, in order, with a memory checkpoint
      * after each job. With `check`, its answers are kept. */
    private def pass(jobs: Seq[Op], phase: String, traced: Boolean, check: Boolean): Unit =
      jobs.foreach { j => runOp(j, phase, 0, check, traced); checkpoint() }

    def execute(): Unit = {
      Files.createDirectories(Paths.get(s"$out/checks"))
      JsonOut.dumpOracleSql(out)
      val setupRuns = cfg.get("setups").asInt
      val setups = ArrayBuffer.empty[Double]
      var warmJson = ""
      for (i <- 1 to setupRuns) {
        val (t, w) = setUp()
        setups += t
        warmJson = w
        if (i < setupRuns) spark.stop()
      }
      val byId = ops()
      val order = workload match {
        case "serve" => cfg.get("distinct").elements().asScala.map(_.get("id").asText).toSeq
        case _ => cfg.get("jobs").elements().asScala.map(_.asText).toSeq
      }
      val jobs = order.map(byId)
      val phases = ArrayBuffer.empty[String]
      def timed(phase: String)(body: => Unit): Unit = {
        val s = nowMs()
        body
        phases += s"""{"phase":"$phase","start":$s,"end":${nowMs()}}"""
      }
      def startTracing(): Unit = {
        listener = new GroupListener
        execLog = new ExecutionLog
        spark.sparkContext.addSparkListener(listener)
        spark.listenerManager.register(execLog)
      }
      def stopTracing(): Unit = {
        org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
        spark.listenerManager.unregister(execLog)
      }
      var warmupS = 0.0
      if (workload == "serve") {
        // A service answers from warm caches and compiled code: an
        // untimed warm-up round over every distinct request, whose
        // answers are the ones checked.
        val stream = cfg.get("stream").elements().asScala.map(_.asText).toArray
        val w0 = System.nanoTime()
        serveLoop(byId, order.toArray, "warmup", 0, traced = false, once = true)
        warmupS = (System.nanoTime() - w0) / 1e9
        checkpoint()
        if (!trace) timed("untraced")(serveLoop(byId, stream, "untraced", seconds, traced = false))
        else {
          // Traced between two untraced thirds, so a drift in speed
          // over the run does not read as tracing overhead.
          timed("untraced")(serveLoop(byId, stream, "untraced", seconds / 3, traced = false))
          startTracing()
          timed("traced")(serveLoop(byId, stream, "traced", seconds / 3, traced = true))
          stopTracing()
          timed("untraced")(serveLoop(byId, stream, "untraced", seconds / 3, traced = false))
        }
        checkpoint()
      } else {
        // A batch job runs in a fresh process: one cold pass, timed and
        // checked, whatever `seconds` says. A traced run adds a warm
        // untraced pass and a warm traced one, which it compares.
        timed("untraced")(pass(jobs, "untraced", traced = false, check = true))
        if (trace) {
          timed("reference")(pass(jobs, "reference", traced = false, check = false))
          startTracing()
          timed("traced")(pass(jobs, "traced", traced = true, check = false))
        }
      }
      if (listener != null) org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      val groups = if (listener == null) "{}" else
        listener.groups.asScala.map { case (g, st) => s"${JsonOut.quote(g)}:${st.toJson}" }
          .mkString("{", ",", "}")
      val json =
        s"""{"workload":"$workload","setup_s":${setups.mkString("[", ",", "]")},""" +
          s""""warmup_s":$warmupS,"warm":$warmJson,"phases":${phases.mkString("[", ",", "]")},""" +
          s""""ops":${records.mkString("[", ",\n", "]")},""" +
          s""""groups":$groups,"peak_live_bytes":$peakLive,"peak_live_heap_bytes":$peakLiveHeap,"cores":$cpus,""" +
          s""""heap_bytes":${Runtime.getRuntime.maxMemory}}"""
      Files.writeString(Paths.get(s"$out/result.json"), json)
      spark.stop()
    }
  }
}
