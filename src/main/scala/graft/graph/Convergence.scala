package graft.graph

/** Per-round convergence evidence for the fixed-budget graph ops
  * ([[PageRank]], [[KCore]], [[LabelProp]], [[Hits]]).
  *
  * The ops run a FIXED round budget so a SQL oracle can unroll the
  * exact same rounds — the distributed rounds never bring data to the
  * driver to decide when to stop. But a fixed budget answers "is the
  * budget enough?" with silence: this probe, passed opt-in, records
  * how many rows each round actually changed (one |V|-linear count on
  * frames the per-round checkpoint has ALREADY materialized — no extra
  * pass over |E|) and lets the op STOP at the fixed point. [[Hits]]'
  * measured-size small path (`graft.etl.SmallPath`) runs the same
  * rounds on the driver and records the same counts.
  *
  * Early exit is output-invariant by the fixed-point argument: every
  * op's round is a pure function of the previous frame, so a round
  * that changes zero rows proves all later rounds change zero rows —
  * the truncated run returns bit-identical results to the full
  * budget (GraphSpec pins this per op). Convergence at r < budget is
  * therefore pure savings; the probe's cost is one cheap count per
  * round while it is attached.
  */
final class Convergence {
  private val changed = scala.collection.mutable.ArrayBuffer.empty[Long]

  private[graph] def record(rows: Long): Unit = synchronized { changed += rows }

  /** Rows changed by each completed round, in order. */
  def changedPerRound: Seq[Long] = synchronized(changed.toSeq)

  /** The 1-based round whose update changed nothing — the round at
    * which the op proved its fixed point — if the budget reached it. */
  def convergedAt: Option[Int] = synchronized {
    val i = changed.indexWhere(_ == 0L)
    if (i < 0) None else Some(i + 1)
  }
}
