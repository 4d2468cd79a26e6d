package graft.graph

import org.apache.spark.sql.DataFrame

/** Lineage-truncation point for iterative loops, cluster-aware.
  *
  * `localCheckpoint` stores blocks on executors — fast, but lost with an
  * executor, which is fine single-process and NOT fine on 1000 nodes. When
  * the session has a reliable checkpoint dir configured
  * (`sc.setCheckpointDir`), iterative loops automatically upgrade to
  * fault-tolerant checkpoints; otherwise they use local ones. This keeps the
  * same library code correct in both deployments (SCALE.md).
  */
object Materialize {
  def apply(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint(eager = true)
    else df.localCheckpoint(eager = true)

  /** Materialize AND count in ONE job: the measurement under every gate
    * ([[graft.Gates]]) and bounded-traversal level. A LAZY localCheckpoint
    * marks the RDD for persist-and-truncate, and one count over the
    * checkpoint's row RDD both materializes the blocks and returns the row
    * count. The count runs on the RDD, not as a Dataset aggregate, which
    * under AQE would add a second job for its single-partition exchange.
    * The reliable-checkpoint deployment keeps the eager form: a reliable
    * checkpoint writes files in its own job regardless.
    *
    * With `active`, the count measures only the rows whose boolean column
    * of that name is true, in the same one job: the active vertices of a
    * Pregel-style round whose frame also carries the settled ones.
    */
  def counted(df: DataFrame, active: Option[String] = None): (DataFrame, Long) = {
    val ck =
      if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint(eager = true)
      else df.localCheckpoint(eager = false)
    val rows = ck.queryExecution.toRdd
    (ck, active.fold(rows.count()) { c =>
      val i = ck.schema.fieldIndex(c)
      rows.filter(_.getBoolean(i)).count()
    })
  }
}
