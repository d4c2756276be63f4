package graft.operators

/** Test-only crash injection for the maintenance protocols: while a step
  * is armed, the operator throws right AFTER completing it, simulating a
  * process death at that boundary. The crash matrices
  * (RemovalEnvelopeSpec, AppendEnvelopeSpec, IndexRemoveSpec) drive every
  * window through these steps and assert each replay converges.
  * Production arms nothing; the checks cost one thread-local read per
  * boundary.
  *
  * The armed step is scoped to the thread that armed it and to the
  * threads it creates meanwhile (an `InheritableThreadLocal`, like
  * [[graft.Phases]]): the per-call pools of `IndexMaintenance.parallel`
  * run their legs inside the arming call, and two crash runs on two
  * threads never trip each other's step. */
private[graft] object FaultInjection {
  private val armedStep = new InheritableThreadLocal[Option[String]] {
    override def initialValue(): Option[String] = None
  }

  final class InjectedCrash(step: String)
    extends RuntimeException(s"injected crash after $step")

  def maybeCrash(step: String): Unit =
    if (armedStep.get().contains(step)) throw new InjectedCrash(step)

  /** Run `body` with a crash armed at `step`, disarming afterwards. */
  def armed[T](step: String)(body: => T): T = {
    val prev = armedStep.get()
    armedStep.set(Some(step))
    try body finally armedStep.set(prev)
  }
}
