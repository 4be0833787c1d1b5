package org.apache.spark

/** The two Spark internals the benchmark's listeners need: waiting
  * until the listener bus has delivered every event, and the property
  * under which a job carries its tags. */
object SparkInternals {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  val JobTagsKey: String = SparkContext.SPARK_JOB_TAGS
  val JobTagsSep: String = SparkContext.SPARK_JOB_TAGS_SEP
}
