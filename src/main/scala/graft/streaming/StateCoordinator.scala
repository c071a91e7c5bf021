package graft.streaming

import org.apache.spark.sql.SparkSession

/** State-store coordinator registration for the batch-mode
  * `transformWithState` operators of this package. */
private[streaming] object StateCoordinator {

  /** Register the session's StateStoreCoordinator RPC endpoint before a
    * stateful plan runs. Batch-mode TransformWithStateExec asks executors
    * to resolve the driver's coordinator endpoint, but Spark only
    * registers that endpoint when a STREAMING query starts — a one-shot
    * batch run with no prior stream hits RpcEndpointNotFoundException.
    * Touching the coordinator accessor registers it up front (the
    * accessor is public bytecode but private[sql] to Scala — reflection
    * is the least-invasive bridge; a failure just falls through to the
    * streaming-initialized path). */
  private[streaming] def register(spark: SparkSession): Unit =
    try {
      val mgr = spark.streams
      mgr.getClass.getMethod("stateStoreCoordinator").invoke(mgr)
    } catch { case _: ReflectiveOperationException => () }
}
