package graftbench

/** One timed operation. `run` is the only timed part. `prepare` runs
  * untimed just before it; `check` receives its result and record, runs
  * untimed, and throws [[CheckFailed]] on a wrong result. */
final case class Op(kind: String, name: String, run: () => Any,
    check: (Any, OpRec) => Unit = (_, _) => (), prepare: () => Unit = () => ())

final class CheckFailed(msg: String) extends RuntimeException(msg)

object Check {
  def apply(ok: Boolean, msg: => String): Unit = if (!ok) throw new CheckFailed(msg)
}

/** A closed-loop workload: one client, one outstanding op. */
trait Workload {
  /** One set-up repetition: generates the inputs under `dir` and builds
    * what the ops need. The last repetition's state is the one used. */
  def setup(dir: String): Unit

  /** Untimed pass that primes JIT, codegen and table handles. */
  def warmup(): Unit

  /** The next op; may do untimed preparation first. */
  def nextOp(): Op

  /** True when the op last returned by [[nextOp]] closed a round. */
  def roundDone: Boolean

  /** True when the inputs set-up generated are used up. */
  def exhausted: Boolean = false

  /** Workload-level end-to-end numbers over the measured ops:
    * (name, value, unit). */
  def report(ops: Seq[OpRec]): Seq[(String, Double, String)]

  /** Workload-level numbers only the traced run collects. */
  def traceReport(ops: Seq[OpRec]): Seq[(String, Double, String)] = Nil

  /** Rows in the op's input at this workload's scale; the per-row
    * slope of the two-scale fit is taken against it. */
  def inputRows: Long
}
