package graft

/** The library's one timing hook, threaded through the maintenance
  * APPLY bodies and the publish machinery: the production entries run
  * them un-timed ([[NoTimer]] — zero overhead, the phases inline away).
  * One timed implementation drives the SAME bodies: the benchmark's
  * traced run (`graft.perfbench.Tracer`, which turns each phase into a
  * span with its Spark jobs attributed). One code path, so attribution
  * can never drift from what the entries ship.
  */
trait PhaseTimer {
  def apply[A](label: String)(f: => A): A

  /** A nested timer that prefixes every phase label — how an outer
    * phase (e.g. one publish among three) attributes its sub-phases
    * without the inner code knowing who called it.
    */
  def sub(prefix: String): PhaseTimer = {
    val outer = this
    new PhaseTimer {
      def apply[A](label: String)(f: => A): A = outer(s"${prefix}_$label")(f)
    }
  }
}

/** The un-timed identity — what every production caller passes. */
object NoTimer extends PhaseTimer {
  def apply[A](label: String)(f: => A): A = f
  override def sub(prefix: String): PhaseTimer = this
}
