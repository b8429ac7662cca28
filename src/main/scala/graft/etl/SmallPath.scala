package graft.etl

import org.apache.spark.sql.{DataFrame, Row}

/** The measured-size small path of the iterative kernels
  * (`dedup.ConnectedComponents`, `graph.Hits`, the BPE merge learner
  * behind t18/t21/t24) and of `sim.AnnIndex.probeSweep`: the
  * broadcast-join principle applied to a whole loop. Each distributed
  * round costs a few shuffles and jobs whatever the input size, so an
  * input of a few thousand rows pays seconds of job launches for
  * microseconds of work. A kernel cuts its input, asks
  * [[collectBelow]] for it, and solves on the driver when the rows
  * come back; otherwise it runs its distributed rounds over the same
  * cut, unchanged. The probe sweep's driver work grows as its rows
  * squared, so it asks with a smaller cut derived from [[bound]].
  * Every caller's driver path returns the rows its distributed path
  * returns (each kernel's spec forces both paths through the property
  * below). */
private[graft] object SmallPath {

  /** Rows at or below which a kernel solves on the driver: the one
    * property `graft.smallPath.maxRows`, default 65,536. Read per
    * call, so a test or a job can force either path. */
  def bound: Long =
    sys.props.get("graft.smallPath.maxRows").map(_.toLong).getOrElse(65536L)

  /** `df`'s rows when it has at most `maxRows` of them, else None.
    * One bounded `limit(maxRows + 1)` collect, so the driver never
    * receives more than one row past the bound. Callers pass a cut
    * (checkpointed) frame, so the distributed path reads the blocks
    * the probe saw and recomputes nothing; a lazy local cut is
    * materialized by this probe's own job (Spark completes a local
    * checkpoint's unscanned partitions after the first job over it). */
  def collectBelow(df: DataFrame, maxRows: Long = bound): Option[Array[Row]] = {
    require(maxRows >= 0L && maxRows < Int.MaxValue,
      s"graft.smallPath.maxRows must be in [0, ${Int.MaxValue}), got $maxRows")
    val rows = df.limit(maxRows.toInt + 1).collect()
    if (rows.length <= maxRows) Some(rows) else None
  }
}
