package perfbench

/** One closed-loop operation. `run` performs it and checks its result
  * against the expected answer. A wrong answer or a thrown exception is a
  * failure. `rows` is the operation's logical input (rows committed,
  * documents through the pipeline, or rows of the table it queries). */
final case class Op(id: String, kind: String, rows: Long, run: () => Outcome)

/** What an operation returned: its result row count and, for a wrong
  * answer, why. */
final case class Outcome(resultRows: Long, error: Option[String] = None)

final case class OpResult(id: String, kind: String, startNs: Long, endNs: Long,
                          rows: Long, resultRows: Long, error: Option[String]) {
  def ms: Double = (endNs - startNs) / 1e6
  def ok: Boolean = error.isEmpty
}

/** Called around every operation (the tracer hooks in here). `always`
  * marks a one-off operation that a sampling hook must not skip. */
trait OpHooks {
  def before(op: Op, always: Boolean): Unit = ()
  def after(op: Op, result: OpResult): Unit = ()
}
object NoHooks extends OpHooks

object Loop {
  val MinCycles = 2

  /** Issue `ops` one at a time (each waits for its reply) until `seconds`
    * have elapsed, at least `minCycles` whole `cycle`s have run and the
    * number issued is a whole number of cycles, or the ops run out. With
    * `cycle` set to the length of a workload's repeating operation mix,
    * every run measures the same mix however many operations fit, and a
    * slow host cannot cut a run to a single, least-warm cycle. Every
    * failure is reported through `report` with the operation id and kept
    * in the result. */
  def run(ops: Iterator[Op], seconds: Double, hooks: OpHooks = NoHooks,
          report: String => Unit = System.err.println, cycle: Int = 1,
          minCycles: Int = MinCycles): Seq[OpResult] = {
    val out = Seq.newBuilder[OpResult]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var n = 0
    while ((System.nanoTime() < deadline || n % cycle != 0 || n < minCycles * cycle) && ops.hasNext) {
      out += once(ops.next(), hooks, report, always = false)
      n += 1
    }
    out.result()
  }

  def once(op: Op, hooks: OpHooks = NoHooks, report: String => Unit = System.err.println,
           always: Boolean = true): OpResult = {
    hooks.before(op, always)
    val t0 = System.nanoTime()
    val outcome =
      try op.run()
      catch { case e: Throwable if scala.util.control.NonFatal(e) =>
        Outcome(0, Some(s"${e.getClass.getName}: ${e.getMessage}"))
      }
    val r = OpResult(op.id, op.kind, t0, System.nanoTime(), op.rows,
      outcome.resultRows, outcome.error)
    hooks.after(op, r)
    r.error.foreach(why => report(s"[perfbench] FAILED op=${op.id} kind=${op.kind}: $why"))
    r
  }
}

/** Latency summaries. Percentiles are nearest-rank over the samples. */
object Stats {

  /** Nearest-rank position (1-based) of percentile `p` among `n` samples. */
  def rank(p: Double, n: Int): Int = math.max(1, math.ceil(p / 100.0 * n - 1e-9).toInt)

  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    xs.sorted.apply(rank(p, xs.size) - 1)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** A tail latency: `pct` is the percentile reported, `beyond` how many
    * samples lie past its rank. */
  final case class Tail(pct: Double, value: Double, n: Int, beyond: Int)

  val MinBeyond = 10

  /** The highest percentile with at least [[MinBeyond]] samples beyond
    * it: the nearest-rank sample at rank n - 10, i.e. percentile
    * 100 (n - 10) / n. Under 20 samples that rank falls below the median,
    * and the median stands in (its `beyond` count shows that). */
  def tail(xs: Seq[Double]): Tail = {
    require(xs.nonEmpty, "tail of no samples")
    val n = xs.size
    val r = math.max(n - MinBeyond, rank(50, n))
    Tail(100.0 * r / n, xs.sorted.apply(r - 1), n, n - r)
  }
}
