/** Bridge into Spark's private[spark] input-metrics setters, for a task
  * that opens its files itself (graft.index.PostingsReader): the same
  * counters Spark's own file scan keeps, so a stage's input rows and bytes
  * read the same in listeners and the UI. The standard extension idiom is
  * a shim declared inside the spark package.
  */
package org.apache.spark

import org.apache.spark.deploy.SparkHadoopUtil

object GraftInputMetrics {
  /** A recorder for the task `ctx`: each call adds `rows` to the records
    * read and sets the bytes read to what the Hadoop file systems have
    * read on this thread since the recorder was made, as Spark's file
    * scan does. */
  def recorder(ctx: TaskContext): Long => Unit = {
    val in = ctx.taskMetrics().inputMetrics
    val before = in.bytesRead
    val bytesRead = SparkHadoopUtil.get.getFSBytesReadOnThreadCallback()
    rows => {
      in.incRecordsRead(rows)
      in.setBytesRead(before + bytesRead())
    }
  }
}
