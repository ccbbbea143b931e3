package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Scoped caching for operator-internal intermediates.
  *
  * Several operators cache a sub-frame that their returned (lazy) plan
  * references more than once (e.g. MinHash signatures feeding both sides of
  * the candidate join AND the verify re-join). The cache must survive until
  * the CALLER materializes the result — so the operator can't unpersist on
  * its own return path — but without cleanup a long-lived session
  * accumulates storage across queries (bench sidesteps this only because it
  * calls `clearCache()` between runs).
  *
  * [[cacheUntilNextCompletion]] threads that needle: the frame is cached
  * now, and unpersisted as soon as the next query execution on the session
  * completes (success OR failure). In every entry point (Verify, Bench,
  * the Engine, the gate specs) the next execution IS the materialization of
  * the operator's result, so the cache serves exactly one query and is gone
  * before the following one plans. If a caller interleaves an unrelated
  * action first, the only cost is a recompute — never a wrong result.
  */
object CacheHygiene {
  def cacheUntilNextCompletion(df: DataFrame): DataFrame =
    cacheUntilCompletions(df, 1)

  /** localCheckpoint + the ids of the persistent RDDs it registered, so
    * iterative loops can release a round's blocks once the round stops
    * reading them (r18: each fixed-point round otherwise leaks its
    * checkpoint blocks for the session's lifetime — a 206-query Verify
    * session accumulates dozens of pinned RDDs). A released
    * localCheckpoint CANNOT recompute (lineage truncated): release ids
    * strictly after the last action that reads that frame.
    *
    * The id is read off the returned Dataset's own LogicalRDD leaf — NOT
    * a before/after diff of getPersistentRDDs (the r18 version). The diff
    * also captured any LAZY `.cache()` whose InMemoryRelation buffers
    * first materialized inside the window — e.g. the loop-invariant edges
    * cache in Dedup.connectedComponents, whose first scan happens inside
    * round 1's eager checkpoint. Releasing that id after round 1 silently
    * unpersisted the edge cache and re-ran the whole MinHash/LSH pair
    * detection every subsequent round (the r18 dedup_clusters slowdown;
    * numbers in OPTIMIZATION_r19.md).
    */
  def checkpointTracked(df: DataFrame): (DataFrame, Seq[Int]) = {
    val out = df.localCheckpoint()
    val ids = out.queryExecution.logical.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
    }
    (out, ids)
  }

  /** Drop the blocks of previously [[checkpointTracked]] rounds;
    * `blocking` waits until the block manager has removed them.
    */
  def release(spark: org.apache.spark.sql.SparkSession, ids: Seq[Int],
      blocking: Boolean = false): Unit = {
    val live = spark.sparkContext.getPersistentRDDs
    ids.foreach(id => live.get(id).foreach(_.unpersist(blocking)))
  }

  /** Variant for operators whose cached frame must survive `n` query
    * completions — e.g. an internal driver-side aggregate action PLUS the
    * caller's materialization (the PCA fit). An interleaved unrelated
    * action only costs an early recompute, never a wrong result.
    */
  def cacheUntilCompletions(df: DataFrame, n: Int): DataFrame = {
    val lm = df.sparkSession.listenerManager
    df.cache()
    lm.register(new QueryExecutionListener {
      private var remaining = n
      private def tick(): Unit = synchronized {
        remaining -= 1
        if (remaining == 0) { df.unpersist(blocking = false); lm.unregister(this) }
      }
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = tick()
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = tick()
    })
    df
  }
}
