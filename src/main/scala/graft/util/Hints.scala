package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.broadcast

/** Size-gated broadcast hints.
  *
  * The tpch plan fixes hinge on broadcasting a FILTERED slice of a
  * fact-adjacent table (q10's quarter of orders, q8's two-year ASIA
  * window): statically Catalyst can't see the filter's selectivity,
  * plans an SMJ, and AQE's broadcast conversion lands only after the
  * big side's shuffle already wrote. An UNCONDITIONAL `broadcast()`
  * hint fixes that — but the slice is a fixed FRACTION of its table,
  * so the hint that wins at sf10 (~10 MB) would ship multi-GB builds
  * at the 100 TB design point, bypassing every size check Spark has.
  *
  * `gatedBroadcast` applies the hint only while an ESTIMATE of the
  * true build size stays under `capBytes`. The estimate can't come
  * from the slice's own plan — without CBO, join stats multiply child
  * sizes and filter stats pass through unchanged, so the slice reads
  * as absurdly large at every scale and the hint would never fire.
  * Instead the caller passes a `scanProxy` — a scan-rooted projection
  * of the SAME slim columns, whose sizeInBytes is real file-level
  * stats scaled by column pruning — plus the query's analytically
  * known `selectivity` (e.g. one quarter of a seven-year date span).
  * proxy_bytes × selectivity is then a faithful build-size estimate
  * that grows linearly with the data, arming the hint at bench scales
  * and disarming it automatically (falling back to AQE's runtime
  * conversion) once the slice genuinely outgrows a safe broadcast.
  */
object Hints {

  /** 128 MB ceiling, measured with an sf100 A/B under the bench confs:
    * q8's ~141 MB-estimate / 8.6M-row ordered-slice build ran 23.2 s
    * armed vs 13.4 s disarmed — past the 100 MB class, building +
    * cache-missing into a multi-million-entry hash map loses to the
    * 32-way sort-merge it replaces — while q10's ~94 MB-estimate /
    * 5.9M-row build ran 11.0 s armed vs 26.9 s disarmed. The
    * effective default cap also tracks the session's own
    * autoBroadcastJoinThreshold (see `defaultCap`), so a hint can
    * never arm a build far beyond what the engine itself would
    * accept. */
  val DefaultCapBytes: Long = 128L << 20

  /** Effective default cap for `session`: min(2 × the session's
    * autoBroadcastJoinThreshold, DefaultCapBytes). A deliberate hint
    * may exceed the AUTO threshold, but only by a fixed factor that
    * tracks the conf. A DISABLED (-1/0) threshold DISARMS the gate
    * entirely (cap 0): an operator who set
    * autoBroadcastJoinThreshold=-1 is telling the engine "never build
    * a broadcast hash map here" (usually an OOM mitigation), and a
    * library-forced hint up to the static ceiling would override
    * exactly that decision. An explicit `capBytes` argument still
    * wins — that's the caller saying they know better for one
    * specific build. The threshold is read through the session's
    * SQLConf, which parses every byte unit Spark accepts. */
  private[graft] def defaultCap(session: org.apache.spark.sql.SparkSession): Long = {
    val bytes = session.sessionState.conf.autoBroadcastJoinThreshold
    if (bytes <= 0L) 0L
    else math.min(DefaultCapBytes, 2L * bytes)
  }

  def gatedBroadcast(slim: DataFrame, scanProxy: DataFrame,
                     selectivity: Double,
                     capBytes: Long = -1L): DataFrame = {
    require(selectivity > 0.0 && selectivity <= 1.0,
      s"selectivity must be in (0,1]: $selectivity")
    val cap = if (capBytes >= 0L) capBytes else defaultCap(slim.sparkSession)
    val bytes = scanProxy.queryExecution.optimizedPlan.stats.sizeInBytes
    val known = bytes < BigInt(slim.sparkSession.sessionState.conf.defaultSizeInBytes)
    if (known && bytes.toDouble * selectivity < cap.toDouble)
      broadcast(slim)
    else slim
  }
}
