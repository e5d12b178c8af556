package perfbench

/** One timed interval of a traced run. Times are epoch milliseconds.
  * `parent` is the id of the enclosing span, 0 for an operation's
  * root; every span of one operation carries the operation's id.
  */
case class Span(id: Long, parent: Long, op: String, name: String,
    start: Double, end: Double) {
  def ms: Double = math.max(0.0, end - start)
}

object Spans {

  /** Names of spans the client thread opens. Spark's own spans (jobs,
    * planning phases, streaming batches) are attached to the innermost
    * of these that encloses their start.
    */
  val clientSpans: Set[String] =
    Set("queries.construct", "operators.select", "operators.etl")

  /** Re-home Spark-side spans of each operation from the root to the
    * innermost client span that contains their start time; spans that
    * already hang below another Spark span (stages under jobs) keep
    * their parent.
    */
  def nest(spans: Seq[Span]): Seq[Span] = {
    val roots = spans.filter(_.parent == 0).map(s => s.id -> s).toMap
    val clients = spans.filter(s => clientSpans(s.name)).groupBy(_.op)
    spans.map { s =>
      if (!roots.contains(s.parent) || clientSpans(s.name)) s
      else clients.getOrElse(s.op, Nil)
        .filter(c => c.start <= s.start && s.start <= c.end)
        .sortBy(_.ms).headOption
        .fold(s)(c => s.copy(parent = c.id))
    }
  }

  /** Length of the union of `intervals`, each clipped to [lo, hi]. */
  def covered(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = intervals
      .map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  /** Self time of every span: its duration minus the part of its
    * interval that its children cover (overlapping children count
    * once).
    */
  def selfMs(spans: Seq[Span]): Map[Long, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val cs = kids.getOrElse(s.id, Nil).map(c => (c.start, c.end))
      s.id -> (s.ms - covered(cs, s.start, s.end))
    }.toMap
  }
}
