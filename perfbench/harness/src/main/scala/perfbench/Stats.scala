package perfbench

/** The benchmark's own arithmetic, kept free of Spark so the self-tests can
  * pin it directly. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** A tail percentile that has at least `beyond` samples above it.
    * `percentile` is the highest whole percent p whose nearest-rank sample
    * (rank ceil(p * n / 100)) leaves `beyond` or more samples after it. */
  final case class Tail(percentile: Int, value: Double, samples: Int)

  def tail(xs: Seq[Double], beyond: Int = 10): Option[Tail] = {
    val n = xs.length
    if (n <= beyond) None
    else {
      val p = (100L * (n - beyond) / n).toInt
      val rank = math.max(1, math.ceil(p * n / 100.0).toInt)
      Some(Tail(p, xs.sorted.apply(rank - 1), n))
    }
  }

  /** Total length covered by a set of half-open intervals [start, end). */
  def covered(intervals: Seq[(Long, Long)]): Long = {
    var total, reach = 0L
    var started = false
    intervals.filter { case (a, b) => b > a }.sortBy(_._1).foreach {
      case (a, b) =>
        if (!started || a >= reach) { total += b - a; reach = b; started = true }
        else if (b > reach) { total += b - reach; reach = b }
    }
    total
  }

  /** A span's self time: its length minus the part of it that its child
    * spans cover. Children may overlap one another and may stick out of the
    * parent; only their union inside the parent counts. */
  def selfTime(parent: (Long, Long), children: Seq[(Long, Long)]): Long = {
    val (a, b) = parent
    val inside = children.map { case (x, y) => (math.max(a, x), math.min(b, y)) }
    (b - a) - covered(inside)
  }

  /** The module a job is charged to: the first `graft.<module>` frame of its
    * call site, innermost first, skipping `graft.PlanProbe` — a cut
    * materialises on behalf of its caller, so the work lands on the module
    * that asked for it (a CC round on `text`). Packages name modules
    * (`graft.text.X` is `text`); a class directly in `graft` is its own
    * module (`graft.Registry$` is `Registry`). A call site with no program
    * frame is the caller's own action on a returned frame: `action`. */
  def module(callSite: String): String =
    frames(callSite).filterNot(isCut)
      .map { f =>
        val parts = f.stripPrefix("graft.").takeWhile(_ != '(').split('.')
        if (parts.length > 2) parts(0) else parts(0).takeWhile(_ != '$')
      }
      .headOption.getOrElse("action")

  /** Whether the job was submitted by a `graft.PlanProbe` cut. */
  def viaCut(callSite: String): Boolean = frames(callSite).exists(isCut)

  private def isCut(frame: String) = frame.startsWith("graft.PlanProbe$")

  private def frames(callSite: String): Seq[String] =
    callSite.split("\n").toSeq.map(_.trim.stripPrefix("at ")).filter(_.startsWith("graft."))
}
