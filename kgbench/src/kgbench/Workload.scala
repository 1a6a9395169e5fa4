package kgbench

/** One operation of a workload. Only `run` is timed: `prepare` builds the
  * state the operation starts from and `check` verifies what it produced
  * (returning the mismatch, if any). */
trait Op {
  def name: String
  def prepare(): Unit = ()
  def run(): Unit
  def check(): Option[String]
}

/** What the runner learned about one executed operation. */
final case class OpRec(name: String, label: String, startMs: Long,
    endMs: Long, wallS: Double, error: Option[String],
    rddBlocks: Int, persistedRdds: Int)

trait Workload {
  def name: String

  /** Build the inputs and state the operations need. Called several times;
    * each call replaces what the previous one built. */
  def setup(round: Int): Unit

  /** The operations of one pass, in this run's (seeded) order. */
  def ops: Seq[Op]

  /** Checks that need the whole run (after the last pass). */
  def finalCheck(): Option[String] = None

  /** Prefixes of the per-layer metrics this workload exercises. */
  def ownedPrefixes: Seq[String]

  /** Per-layer metrics only this workload can measure, from its timed
    * passes (each pass a sequence of operation records). */
  def layerMetrics(passes: Seq[Seq[OpRec]], trace: Trace): Seq[(String, Double)]

  /** Workload-specific facts for the run report. */
  def report: Seq[(String, String)] = Nil
}
