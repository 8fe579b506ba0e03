/* Bridge into Spark's private[sql] scope — the sanctioned pattern for
 * third-party Catalyst extensions that need Expression ⇄ Column
 * conversion (same access the built-in functions use). No Spark
 * internals are reimplemented here. */
package org.apache.spark.sql.graftbridge

import java.util.concurrent.{CompletableFuture, ExecutorService}

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.SQLExecution

object GraftSqlBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Drain the listener bus so job-count assertions (laziness specs)
    * see every event posted so far. */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Persist `df` unless an equivalent plan is already cached — the
    * CacheManager logs "Asked to cache already cached data" when a
    * logically-equal plan is re-persisted (e.g. the same registered
    * query constructed twice in one session), so check first. Returns
    * true iff this call added a new cache entry. */
  def persistIfAbsent(df: org.apache.spark.sql.DataFrame,
                      level: org.apache.spark.storage.StorageLevel): Boolean = {
    val classic = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    val cached = classic.sparkSession.sharedState.cacheManager
      .lookupCachedData(classic).isDefined
    if (!cached) df.persist(level)
    !cached
  }

  /** Frames persisted by [[sharedInPlan]] since the last
    * [[releaseShared]]. Build-time persists (PQ centroids, BPE merge
    * vocabularies, LSH signature frames) are a measured optimization —
    * one materialization for plans that reference a frame twice — but
    * a long-lived session would accumulate cache entries across
    * query builds. Bench/Verify release after materialization; frames
    * never materialized unpersist as a no-op. */
  private val shared = java.util.Collections.newSetFromMap(
    new java.util.concurrent.ConcurrentHashMap[org.apache.spark.sql.DataFrame,
      java.lang.Boolean]())

  /** [[persistIfAbsent]] at MEMORY_AND_DISK, returning the frame —
    * drop-in for build-time `.persist` on frames a plan references
    * more than once. Execution hits the existing cache entry either
    * way; this just avoids double-registering equal plans, and tracks
    * new entries for [[releaseShared]]. */
  def sharedInPlan(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    if (persistIfAbsent(df, org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      shared.add(df)
    df
  }

  /** Unpersist every frame cached by [[sharedInPlan]] since the last
    * release. Safe at any time: dropping cache only costs recompute
    * if the same plan re-executes. */
  def releaseShared(): Unit = {
    val it = shared.iterator()
    while (it.hasNext) { it.next().unpersist(blocking = false); it.remove() }
  }

  /** Register a function into an EXISTING session's registry (the
    * extensions path only applies at session build time). */
  def registerFunction(spark: SparkSession, name: FunctionIdentifier,
                       info: ExpressionInfo,
                       builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry.registerFunction(name, info, builder)

  /** Run `body` on `pool` with the calling thread's Spark context: its
    * local properties (job group included), active session (and so the
    * session's SQL conf) and job artifact state — the capture Spark's own
    * broadcast and subquery threads use. */
  def withThreadLocalCaptured[T](spark: SparkSession, pool: ExecutorService)(
      body: => T): CompletableFuture[T] =
    SQLExecution.withThreadLocalCaptured(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], pool)(body)
}
