package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.SparkStrategy

/** Bridge between graft's Catalyst expressions and the public Column API.
  *
  * Spark 4 moved `Column` to a backend-agnostic module; wrapping a raw
  * Catalyst `Expression` goes through the classic backend's
  * `ExpressionUtils`, which is `private[sql]` — hence this one-file shim
  * inside the `org.apache.spark.sql` namespace (the standard extension
  * pattern used by Spark-native libraries).
  */
object bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Wrap a logical plan as a DataFrame (classic backend). */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** `df`'s rows as an RDD persisted at `level`: `localCheckpoint`
    * without the lineage cut, so a lost block is recomputed from `df`'s
    * plan instead of failing the query. Lazy — the caller's first action
    * fills the blocks; the caller owns the RDD (unpersists it, checks
    * `getPersistentRDDs` for it). */
  def persisted(df: org.apache.spark.sql.DataFrame,
                level: org.apache.spark.storage.StorageLevel)
      : org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow] =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.toRdd.map(_.copy()).persist(level)

  /** `rdd.mapPartitions(f)` without closure cleaning (`private[spark]`):
    * for per-request RDDs whose function captures only plain values. */
  def mapPartitionsInternal[T, U: scala.reflect.ClassTag](
      rdd: org.apache.spark.rdd.RDD[T])(
      f: Iterator[T] => Iterator[U]): org.apache.spark.rdd.RDD[U] =
    rdd.mapPartitionsInternal(f)

  /** `f` over every partition of `rdd` in one job, like
    * `SparkContext.runJob(rdd, f)` but without closure cleaning, which
    * reads the class file of `f`'s declaring class and of `SparkContext`
    * (for its own wrapper lambda) with ASM on every call. For per-request
    * jobs whose function captures only plain values; the job keeps the
    * caller's local properties (job tags, SQL execution id). */
  def runJob[T, U: scala.reflect.ClassTag](
      rdd: org.apache.spark.rdd.RDD[T], f: Iterator[T] => U): Array[U] = {
    val sc = rdd.sparkContext
    val results = new Array[U](rdd.partitions.length)
    sc.dagScheduler.runJob(rdd,
      (_: org.apache.spark.TaskContext, it: Iterator[T]) => f(it),
      rdd.partitions.indices, sc.getCallSite(),
      (i: Int, r: U) => results(i) = r, sc.getLocalProperties)
    results
  }

  /** `t` with every field, array element and map value nullable: the
    * schema a parquet read infers for data written with `t`
    * (`DataType.asNullable` is `private[spark]`). */
  def asNullable(t: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = t.asNullable

  /** Delete `dir` when the JVM exits, with Spark's own temp dirs
    * (`ShutdownHookManager` is `private[spark]`). */
  def deleteOnExit(dir: String): Unit =
    org.apache.spark.util.ShutdownHookManager.registerShutdownDeleteDir(new java.io.File(dir))

  /** Whether `dir` is registered with [[deleteOnExit]]. */
  def deletedOnExit(dir: String): Boolean =
    org.apache.spark.util.ShutdownHookManager.hasShutdownDeleteDir(new java.io.File(dir))

  /** Analyzed logical plan of a DataFrame. */
  def planOf(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.analyzed

  /** The planner strategies `spark` plans with: its extensions' and the
    * ones added at runtime. */
  def plannerStrategies(spark: SparkSession): Seq[SparkStrategy] =
    spark.asInstanceOf[classic.SparkSession].sessionState.planner.strategies

  /** The planner strategies and optimizer rules a session built with
    * `ext` adds. */
  def injected(ext: SparkSessionExtensions, spark: SparkSession)
      : (Seq[SparkStrategy], Seq[Rule[LogicalPlan]]) =
    (ext.buildPlannerStrategies(spark), ext.buildOptimizerRules(spark))

  /** Append to `spark`'s runtime planner strategies and optimizer rules
    * those of `strategies` and `rules` it lacks. Nothing is ever removed. */
  def addRules(spark: SparkSession, strategies: Seq[SparkStrategy],
               rules: Seq[Rule[LogicalPlan]]): Unit = {
    val x = spark.asInstanceOf[classic.SparkSession].experimental
    x.synchronized {
      x.extraOptimizations =
        x.extraOptimizations ++ rules.filterNot(x.extraOptimizations.contains)
      x.extraStrategies =
        x.extraStrategies ++ strategies.filterNot(x.extraStrategies.contains)
    }
  }

  /** Block until all queued listener-bus events are delivered —
    * `ListenerBus.waitUntilEmpty` is `private[spark]`, and per-query
    * metric attribution (Bench's shuffle accounting) is wrong without
    * the drain because stage-completed events arrive asynchronously. */
  def drainListenerBus(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Read the context's RESOLVED checkpoint dir (`private[spark]`; the
    * public API only exposes a setter). Paired with
    * [[restoreCheckpointDir]] so a library call that needs a temporary
    * reliable checkpoint location can put back whatever the caller had
    * configured — including none, which `setCheckpointDir` can't express. */
  def checkpointDir(spark: org.apache.spark.sql.SparkSession): Option[String] =
    spark.sparkContext.checkpointDir

  /** Restore a checkpoint dir previously read by [[checkpointDir]]. Writes
    * the resolved value back verbatim (no new UUID subdir is minted). */
  def restoreCheckpointDir(spark: org.apache.spark.sql.SparkSession,
                           prior: Option[String]): Unit =
    spark.sparkContext.checkpointDir = prior

  /** Register a SQL function into an existing session's registry (the
    * runtime-path complement to `SparkSessionExtensions.injectFunction`,
    * for sessions graft didn't build — e.g. the driver's). */
  def registerFunction(spark: org.apache.spark.sql.SparkSession, name: String,
                       builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")
}
