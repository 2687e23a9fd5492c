package perfbench

import java.io.File

/** What one operation did. `primary` operations feed the latency
  * percentiles; `docs` counts the documents it moved (raw records,
  * returned events, vectors); `hits`/`expected` feed `recall`;
  * `extra` holds per-layer facts only the workload can see. */
final case class Outcome(ok: Boolean, docs: Long = 0, hits: Long = 0,
    expected: Long = 0, extra: Map[String, Double] = Map.empty)

/** One prepared operation: its inputs are generated. `run` is the
  * timed (and traced) call into the program; `check` then verifies what
  * it did, untimed. */
final case class Step(run: Option[Tracer] => Unit, check: () => Outcome)

/** Result of the end-of-run checks: operations whose output proved
  * wrong in the final state, recall terms, and per-layer facts. */
final case class Finish(failedOps: Set[Int], hits: Long, expected: Long,
    layers: Map[String, Double] = Map.empty)

/** A closed-loop workload: one client issues operation i only after
  * operation i-1 returned. */
trait Workload {
  /** The module the benchmark calls into; Spark work whose call site
    * has no graft frame is attributed to it. */
  def module: String
  /** One complete set-up from nothing into the empty `dir`, after
    * [[close]]; the state of the last call is the one the operations run
    * on. */
  def setup(dir: File): Unit
  /** Benchmark-side preparation after the timed set-up. */
  def afterSetup(): Unit = ()
  def kindOf(i: Int): String
  /** Kinds whose latency is `p50_ms`. */
  def primary(kind: String): Boolean
  /** Kinds that ask for a top-k answer. */
  def topK(kind: String): Boolean = false
  /** Generates operation i's inputs; `traced` asks for per-layer facts
    * in its outcome. */
  def prepare(i: Int, traced: Boolean): Step
  def finish(): Finish
  /** Bytes of generated input the state on disk was built from. */
  def inputBytes: Long
  def stateDir: File
  /** `space_amp` is read after this operation: state size depends on
    * how many operations ran, which the timed window does not fix. */
  def spaceAfterOp: Int
  def warmupOps: Int
  /** A fixed number of timed operations instead of the `--seconds`
    * window, for a workload whose operations cost so much that a window
    * would hold a speed-dependent handful of them. */
  def timedOps: Option[Int] = None
  /** The `--seconds` window runs whole rounds of this many operations,
    * so that every run times the same mix of kinds. */
  def round: Int = 1
  /** Operations per phase of the traced run (a fixed count, so that
    * its counters repeat exactly). */
  def tracedOps: Int
  /** The thread that submits the workload's Spark jobs, if not the
    * client's own. */
  def driverThread: Option[Thread] = None
  /** Stops what the last set-up started. */
  def close(): Unit = ()
}

object Workload {
  def du(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).map(_.map(du).sum).getOrElse(0L)
    else f.length()

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
