package graft.util

import org.apache.spark.sql.SparkSession

/** The one source of session confs. Every graft session builds from
  * [[apply]]: [[graft.Bench]], the benchmark (`perfbench`),
  * [[graft.Verify]], the test session (`TestSpark`) and the tools
  * (PlanTime, ExplainAudit, PairCount, ScaleUp, BucketedTpch,
  * CacheFootprint). So the oracle, the specs and the timed runs all check
  * the same physical plans. A plan dumped under a different shuffle width
  * or broadcast threshold is evidence about a different query. Callers
  * set only what really differs: master, app name, BucketedTpch's
  * warehouse path and Verify's dump timestamp type.
  *
  * Each conf and its measured reason:
  *
  *  - `advisoryPartitionSizeInBytes=2m`, `autoBroadcastJoinThreshold=64m`:
  *    at tens-of-MB shuffle sizes AQE's default 64 MB advisory
  *    coalesces post-shuffle stages below the core count, and the 10 MB
  *    broadcast default shuffle-joins dimension tables that fit in
  *    memory 6× over (sf1 knob study, BASELINE.md round-5 appendix).
  *    2 MB / 64 MB measured: tpch10 sf1 11.7 → 10.5 s, sf0.1 headliners
  *    8.5 → 8.0 s.
  *  - `coalescePartitions.initialPartitionNum=8×cores`: AQE can coalesce
  *    post-shuffle partitions but never split non-skewed ones, so a
  *    static width equal to the core count spills as soon as one shuffle
  *    outgrows executor memory (q_triangles ran 17× wall for 10× data at
  *    sf1 on 32 static partitions). Shuffles start wide and the 2 MB
  *    advisory coalesces small stages back down: sf1 triangles 242 → 61 s,
  *    katz 83 → 25 s; sf0.1 headline 3.94 → 3.41 s, bench30 27.9 → 23.1 s
  *    (same-session A/B). This makes `numShufflePartitions` 8×cores, so
  *    standing layouts take the width of [[CacheScope.checkpoint]]
  *    instead.
  *  - `optimizer.canChangeCachedPlanOutputPartitioning=true`: Spark's
  *    default (false) keeps AQE from coalescing the final shuffle of a
  *    cached plan, so every `CacheScope.persist` over a shuffle stayed at
  *    `initialPartitionNum` partitions, and every scan of it ran that many
  *    tasks. Measured on the benchmark's warm traced batch pass (seeds
  *    31, 32; `local[4]`), together with the layout width of
  *    [[CacheScope.checkpoint]]:
  *    tasks 2280 → 470, exchanges 124 → 123, task CPU 13.9 → 5.8–7.2 s,
  *    answers unchanged; the conf alone took tasks 1245 → 470
  *    (q_naive_bayes 494 → 28, q_lsh_cosine_pairs 135 → 11).
  *  - `codegen.cache.maxEntries` = [[CodegenCacheMaxEntries]]: see there.
  *  - `legacy.parquet.nanosAsLong=true`: see [[readNanosAsLong]].
  *
  * Master is not set here: Bench sets `local[cpus]`; tools choose their
  * own. */
object BenchConfs {

  /** Size of Spark's JVM-wide cache of compiled whole-stage and
    * expression classes (`spark.sql.codegen.cache.maxEntries`, default
    * 100). The cache is static: `CodeGenerator` reads the cap once, from
    * the conf of the session active at the first compile, and a later
    * session cannot change it. So every session builder takes it from
    * [[apply]] before `getOrCreate`.
    *
    * Measured working set (`CodegenMetrics` compile count, bench confs,
    * `local[4]`, the sf0.1 fixture): one round of the served request set
    * (the 24 SURVEY §2.1 queries, q_geo_distance, one `Pagination.page`
    * and one `Search.search`, 27 requests) compiles 268 distinct classes,
    * 294 counting table warm-up. At the default cap of 100 the warm
    * session evicted and recompiled its own hot code: every later round
    * compiled 277 classes again (about 10 per request, 3.4–3.8 s of
    * Janino time per round). At this cap a later round compiles 0
    * (CodegenCacheSpec pins this). Benchmark A/B (14 alternating pairs,
    * `--seconds 15`): serve `latency_p50_ms` 441 → 266 ms, 14/14 pairs
    * won. The retained classes and their source-string keys cost
    * `peak_live_mb` 395 → 418 MB on serve, 373 → 385 MB on batch.
    *
    * Limit: numeric literals are inlined into generated code, so traffic
    * with unbounded parameter values (any page number, any price band)
    * still compiles once per new value; a seeded pool of a few values
    * per parameter stays cached. */
  val CodegenCacheMaxEntries = 2000

  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  /** Apply the standard bench confs for `cpus` cores to `b`. */
  def apply(b: SparkSession.Builder, cpus: String): SparkSession.Builder =
    b.config("spark.sql.codegen.cache.maxEntries", CodegenCacheMaxEntries.toLong)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config(NanosAsLong, "true")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "2m")
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        (cpus.toInt * 8).toString)
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.ui.enabled", "false")

  /** Overlay for the sessions that check answers (Verify, `TestSpark`):
    * `codegen.fallback=false`. A whole-stage method Janino rejects
    * (over 64 KB) normally falls back to interpreted execution with only
    * a log line, a silent 5–20× slowdown at scale. With the fallback off
    * it throws, so an operator that outgrows codegen fails its Verify
    * dump or its spec instead. Timed sessions keep Spark's fallback. */
  def noCodegenFallback(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.codegen.fallback", "false")

  /** `events.parquet` carries TIMESTAMP(NANOS), which Spark refuses to
    * read (PARQUET_TYPE_ILLEGAL) unless it reads the column as a
    * ns-epoch long. [[apply]] sets this for graft's own sessions; the
    * readers of that file call this too, so a caller's session that was
    * not built here reads it as well. */
  def readNanosAsLong(spark: SparkSession): Unit =
    spark.conf.set(NanosAsLong, "true")

  /** `SPARK_GRAFT_CONF="k=v;k2=v2"`: ad-hoc conf overrides on top of
    * [[apply]] for local tuning experiments (Bench, PairCount). Kept out
    * of [[apply]], so the benchmark never reads the environment. */
  def envOverrides(b: SparkSession.Builder): SparkSession.Builder = {
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(';').foreach { kv =>
      kv.split("=", 2) match {
        case Array(k, v)                => b.config(k.trim, v.trim)
        case Array(x) if x.trim.isEmpty => () // tolerate ';;' / trailing ';'
        case _ => sys.error(s"bad SPARK_GRAFT_CONF segment (want k=v): '$kv'")
      }
    })
    b
  }
}
