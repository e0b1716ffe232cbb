package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge. `ExpressionUtils` is `private[sql]`, so the
  * one sanctioned way for an external library to lift a custom Catalyst
  * `Expression` into the public Column API is a shim inside the sql
  * package — the same technique third-party Spark extensions use. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A child of `s`: a copy of its current conf, temp views and
    * functions, sharing its SparkContext and CacheManager; conf set on
    * the child never reaches `s`. */
  def cloneSession(s: SparkSession): SparkSession =
    s.asInstanceOf[classic.SparkSession].cloneSession()

  /** `ds`'s logical plan as a Dataset of session `s`, planned under its conf. */
  def ofSession[T](s: SparkSession, ds: Dataset[T]): Dataset[T] =
    new classic.Dataset[T](s.asInstanceOf[classic.SparkSession],
      ds.asInstanceOf[classic.Dataset[T]].logicalPlan, ds.encoder)

  /** Unload every loaded state-store provider and stop the shared
    * background maintenance thread ([[org.apache.spark.sql.execution.streaming.state.StateStore]]
    * — also `private[sql]`-adjacent machinery, same shim rationale).
    *
    * Why a BENCH/PROBE harness wants this between queries: the
    * maintenance task is one JVM-global timer (default 60 s) walking
    * ALL providers ever loaded — across a long measurement suite,
    * dozens of finished streaming gates' providers accumulate, and
    * whether a tick (snapshotting, reload attempts against
    * already-reclaimed checkpoint dirs, unload scans) lands INSIDE a
    * later stateful gate's measured window depends on wall-clock phase
    * alone. That aliasing read as multi-second cross-session spread on
    * untouched code (stream_stream_join 10.6→15.3 s min across clean
    * r15 windows). Stopping the thread at each inter-query boundary
    * unloads stale providers AND re-anchors the timer: the next
    * streaming query restarts maintenance lazily at its own t₀, so the
    * first tick lands 60 s after gate start — beyond any gate's
    * runtime, deterministically. Production does NOT do this (the
    * maintenance thread is load-bearing there: snapshot compaction
    * bounds recovery time); it is measurement hygiene, same class as
    * the harness's blocking unpersist + GC between queries. */
  def resetStreamingStateMaintenance(): Unit =
    org.apache.spark.sql.execution.streaming.state.StateStore.stop()
}
