package graft.plans

import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}

/** Fused checkpoint-plus-probe (optimization round 18, guide §5): many
  * operators eagerly localCheckpoint a frame and then immediately run a
  * tiny scalar aggregation over it — a convergence signature, a stage
  * count, a degenerate-bucket guard stat. Each such probe is a separate
  * driver-blocking job, and on the 30-70-job orchestration faces the
  * ~25-45 ms of driver latency per job is the dominant cost (r17 §5c).
  * `Dataset.observe` (CollectMetrics) computes the same aggregates
  * DURING the checkpoint's materialization job, so the probe rides the
  * pass the operator already pays.
  */
object Probes {

  /** Eagerly localCheckpoint `df` while computing the scalar aggregate
    * `aggs` inside the SAME materialization job. Returns the
    * checkpointed frame and the one-row aggregate result.
    *
    * Metric delivery runs through the (asynchronous) query-execution
    * listener bus, so the result is awaited with a bounded timeout.
    * Fallback: when the observed plan is statically pruned to an empty
    * relation, AQE's empty-relation propagation ERASES the
    * CollectMetrics node (verified Spark 4.1 — see the embeddingPairs
    * guard comment) and the metrics never arrive; the same aggregates
    * are then computed from the materialized checkpoint blocks — one
    * extra cheap job on a degenerate input, never a wrong answer. The
    * values are identical either way: deterministic aggregates of the
    * materialized rows. */
  def checkpointObserved(df: DataFrame, aggs: Column*): (DataFrame, Row) = {
    require(aggs.nonEmpty, "checkpointObserved needs at least one aggregate")
    val obs = Observation()
    val ck = df.observe(obs, aggs.head, aggs.tail: _*).localCheckpoint(true)
    val row =
      try Await.result(obs.future, 1500.millis)
      catch {
        case _: java.util.concurrent.TimeoutException =>
          System.err.println("[graft] checkpointObserved fallback: " +
            "observed metrics did not arrive within 1.5 s; recomputing " +
            "the aggregate from the checkpoint")
          ck.agg(aggs.head, aggs.tail: _*).head()
      }
    (ck, row)
  }
}
