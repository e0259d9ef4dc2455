package org.apache.spark.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.StageInfo

/** The two Spark-internal reads the benchmark's tracer needs; they live in
  * Spark's package because both are `private[spark]`.
  */
object Internals {

  /** Block until every listener has seen every event posted so far, so an
    * op's task and query metrics are complete before they are read.
    */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Names of the operator scopes (e.g. `Window`, `Sort`, `Exchange`,
    * `WholeStageCodegen (3)`) of every RDD in a stage, parents included.
    */
  def scopeNames(stage: StageInfo): Set[String] =
    stage.rddInfos.flatMap { r =>
      Iterator.iterate(r.scope)(_.flatMap(_.parent)).takeWhile(_.isDefined).map(_.get.name)
    }.toSet
}
