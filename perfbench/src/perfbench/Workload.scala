package perfbench

/** A metric as printed and reported. */
final case class Metric(name: String, value: Double, unit: String)

/**
 * What one workload measured end to end: work completed per second, and
 * the latency samples whose median and tail are reported. `workName` and
 * `latencyName` are the workload's own names for the generic metrics.
 */
final case class EndToEnd(
    workPerS: Double,
    workName: String,
    latencies: Seq[Double],
    latencyName: String)

/** One benchmark workload. The harness calls the methods in this order:
 * genWarm, warm (set-up), gen, warm again per extra set-up, measure. */
trait Workload {
  /** Tiny inputs for the set-up warm-up. */
  def genWarm(): Unit
  /** The measured inputs and their ground truth. */
  def gen(): Unit
  /** Representative calls on the warm-up inputs, in a fresh session. */
  def warm(): Unit
  /** The measured loop, with its correctness checks. */
  def measure(): Unit
  def endToEnd: EndToEnd
  /** The workload's own per-layer metrics, from the traced part of the run. */
  def layerMetrics: Seq[Metric]
  /** Units of work the traced part ran: per-layer totals are divided by it. */
  def tracedUnits: Int
  /** Traced ÷ untraced time of the same work, minus one. */
  def traceOverheadFrac: Double
}
