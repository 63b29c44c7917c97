package lakebench

import com.fasterxml.jackson.databind.node.ObjectNode

import java.nio.file.Path

/** One invocation's settings. `tiny` shrinks every input for the smoke
  * test; `corrupt` perturbs one checked result so the check must fail. */
final case class Conf(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    work: Path,
    nproc: Int,
    tiny: Boolean,
    corrupt: Boolean,
    expected: Path)

/** What a workload hands back to [[Main]].
  *  - `setupS`: once-only set-up + median of the repeated fresh-state
  *    builds + untimed warm-up;
  *  - `opMs`: latency of every completed operation in the window;
  *  - `named`: the workload's own end-to-end figures;
  *  - `layers`: per-layer figures (traced runs only). */
final case class Outcome(
    setupS: Double,
    opsPerS: Double,
    opMs: Seq[Double],
    attempted: Long,
    failed: Long,
    named: Seq[Named],
    layers: Map[String, Double],
    checks: Seq[(String, Boolean, String)],
    detail: ObjectNode)

object Timer {
  def secs[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }
}
