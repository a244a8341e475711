package org.apache.spark.sql

import java.nio.ByteBuffer
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.{Partition, SparkContext, SparkEnv, TaskContext, TaskContextImpl}
import org.apache.spark.executor.TaskMetrics
import org.apache.spark.memory.{MemoryMode, TaskMemoryManager}
import org.apache.spark.network.util.JavaUtils
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution, SparkPlan}
import org.apache.spark.util.{AccumulatorContext, AccumulatorV2, Utils}

/** Minimal bridge into Spark's `private[sql]` plan→DataFrame constructor,
  * so engine code can wrap a custom [[LogicalPlan]] node (graft.plans.*)
  * in a DataFrame. This is the standard extension-library pattern for
  * custom operators: everything else (strategy injection, distribution/
  * ordering requirements) goes through public `SparkSessionExtensions` /
  * `spark.experimental` APIs.
  *
  * The prepared API endpoints ([[graft.api.SqlApi]]) also need a physical
  * plan prepared for execution without the adaptive wrapper, and a way to
  * run its one partition as a task on the calling thread, outside any job
  * and any SQL execution ([[runTask]]).
  */
object GraftBridge {
  private def asClassic(spark: SparkSession): classic.SparkSession =
    spark.asInstanceOf[classic.SparkSession]

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(asClassic(spark), plan)

  /** `plan` through the execution preparations (exchanges, codegen
    * stages, columnar transitions) that Spark applies to a subquery:
    * every preparation except the adaptive-execution wrapper. */
  def prepareWithoutAdaptive(spark: SparkSession, plan: SparkPlan): SparkPlan =
    QueryExecution.prepareExecutedPlan(asClassic(spark), plan)

  /** `body` with `spark` active and its SQL conf passed to the tasks that
    * `body` launches, as a SQL execution would pass it, but without
    * starting one (no execution id, no listener events). */
  def withSessionConf[T](spark: SparkSession)(body: => T): T = {
    val s = asClassic(spark)
    s.withActive(SQLExecution.withSQLConfPropagated(s)(body))
  }

  /** `rdd` serialized once as the task binary that [[runTask]] runs, with
    * the closure serializer a job's tasks are serialized with. */
  def taskBinary(rdd: RDD[_]): Array[Byte] =
    JavaUtils.bufferToArray(SparkEnv.get.closureSerializer.newInstance().serialize(rdd))

  /** Task attempt ids of [[runTask]], disjoint from the scheduler's, which
    * count up from 0. */
  private val taskAttemptIds = new AtomicLong(Long.MinValue / 2)

  /** `f` over the rows of `partition` of the RDD in `binary`
    * ([[taskBinary]]), computed on the calling thread the way an executor
    * runs a task, with no job, stage, broadcast or result serialization.
    * The task sees a snapshot of the thread's local properties, its own
    * memory manager and a fresh copy of the RDD: operators keep state of
    * their own in a task, which the next run and a concurrent one must not
    * see. The copy's SQL metrics are merged into the driver's afterwards,
    * as the scheduler merges a finished task's. Whatever the task holds at
    * its end, a throw included, is released as an executor releases it:
    * its unroll memory, its block read locks and its execution memory.
    *
    * The blocks the task reads are those of this JVM's block manager; the
    * engine's sessions are all local (`graft.Session.builder`), so a cached
    * table's blocks are there. The task is not reported to listeners: its
    * metrics appear in no job, stage or task event. */
  def runTask[T, U](sc: SparkContext, binary: Array[Byte], partition: Partition)(
      f: Iterator[T] => U): U = {
    val env = SparkEnv.get
    val id = taskAttemptIds.getAndIncrement()
    env.blockManager.registerTask(id)
    val memory = new TaskMemoryManager(env.memoryManager, id)
    val ctx = new TaskContextImpl(0, 0, partition.index, id, 0, 1, memory,
      Utils.cloneProperties(sc.getLocalProperties), env.metricsSystem, TaskMetrics.empty,
      1, Map.empty)
    TaskContext.setTaskContext(ctx)
    try {
      val result =
        try {
          val rdd = env.closureSerializer.newInstance().deserialize[RDD[T]](ByteBuffer.wrap(binary))
          f(rdd.iterator(partition, ctx))
        } catch {
          case t: Throwable =>
            try ctx.markTaskFailed(t) catch { case s: Throwable => t.addSuppressed(s) }
            ctx.markTaskCompleted(Some(t))
            throw t
        }
      ctx.markTaskCompleted(None)
      mergeMetrics(ctx)
      result
    } finally {
      env.blockManager.memoryStore.releaseUnrollMemoryForThisTask(MemoryMode.ON_HEAP)
      env.blockManager.memoryStore.releaseUnrollMemoryForThisTask(MemoryMode.OFF_HEAP)
      TaskContext.unset()
      env.blockManager.releaseAllLocksForTask(id)
      memory.cleanUpAllAllocatedMemory()
    }
  }

  /** Merges the accumulators `ctx`'s RDD copy registered (its plan's SQL
    * metrics) into the driver's originals, as `DAGScheduler` merges a
    * finished task's updates; one merge at a time. */
  private def mergeMetrics(ctx: TaskContextImpl): Unit = synchronized {
    ctx.taskMetrics.withExternalAccums(_.foreach { update =>
      AccumulatorContext.get(update.id).foreach(
        _.asInstanceOf[AccumulatorV2[Any, Any]].merge(update.asInstanceOf[AccumulatorV2[Any, Any]]))
    })
  }
}
