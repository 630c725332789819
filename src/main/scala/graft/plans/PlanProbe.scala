package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec,
  FileScan}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike

/** Plan witnesses and scoped session confs for the oracle queries.
  *
  * `graft.Bench` and `graft.Verify` run every query in one shared
  * session, so a conf a query leaves behind re-plans every query
  * after it. [[withConf]] is the one way a query body changes a conf:
  * it restores exactly what it found — a key that was set gets its
  * old value back, a key that was unset is unset again.
  *
  * The witnesses read the PLANNED plan (no job runs): whether a join
  * claims a storage-partitioned layout (zero exchanges) is decided by
  * EnsureRequirements, and which segments a scan reads is fixed when
  * the sidecar tier builds the pruned file index — both at planning.
  * Each probe re-plans the DataFrame's analyzed plan with both
  * broadcast thresholds pinned to -1, so a broadcast (static or
  * AQE's) can never stand in for the layout the witness attests,
  * whatever the session carries.
  */
object PlanProbe {

  private val noBroadcast = Seq(
    "spark.sql.autoBroadcastJoinThreshold" -> "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")

  /** Runs `body` with `kv` set, then restores every key to exactly
    * its prior state (value or absence), also when `body` throws.
    * Nested calls on one key compose: each restores what it found. */
  def withConf[T](s: SparkSession, kv: (String, String)*)(body: => T): T = {
    val conf = s.sessionState.conf
    val saved = kv.map { case (k, _) =>
      k -> Option.when(conf.contains(k))(conf.getConfString(k))
    }
    try {
      kv.foreach { case (k, v) => s.conf.set(k, v) }
      body
    } finally saved.reverse.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  /** Every node of `df`'s planned physical plan, through adaptive
    * wrappers and query stages, planned with broadcasts off. */
  def nodes(df: DataFrame): Seq[SparkPlan] = {
    val s = df.sparkSession
    def walk(p: SparkPlan): Seq[SparkPlan] =
      (p +: p.children.flatMap(walk)) ++ (p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case _ => Seq.empty
      })
    withConf(s, noBroadcast: _*) {
      walk(s.sessionState.executePlan(df.queryExecution.analyzed)
        .executedPlan)
    }
  }

  /** Distinct shuffle exchanges the plan would run. */
  def exchanges(df: DataFrame): Int =
    nodes(df).collect { case e: ShuffleExchangeLike => e }.distinct.size

  /** Distinct segment directories the plan's file scans read — the
    * witness that sidecar pruning reached the scan. */
  def scannedSegments(df: DataFrame): Int =
    nodes(df).flatMap {
      case b: BatchScanExec =>
        // the stats-reporting wrapper hides the FileScan — unwrap
        (b.scan match {
          case w: graft.sources.CommitLogStatsScan => w.innerScan
          case other => other
        }) match {
          case f: FileScan => f.fileIndex.inputFiles.toSeq
            .map(p => p.substring(0, p.lastIndexOf('/')))
          case _ => Seq.empty
        }
      case _ => Seq.empty
    }.distinct.size
}
