package perfbench

object Stats {
  /** Nearest-rank percentile; NaN on no samples. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.max(0, math.min(s.length - 1, math.ceil(p * s.length).toInt - 1)))
    }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
}

object Parallel {
  /** Run `tasks` on `threads` threads; results in task order. */
  def run[A](threads: Int)(tasks: Seq[() => A]): Seq[A] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try tasks.map(t => pool.submit(new java.util.concurrent.Callable[A] { def call(): A = t() }))
      .map(_.get())
    finally pool.shutdown()
  }
}

/** Minimal JSON writer for flat objects of numbers, strings and lists. */
object Json {
  def value(v: Any): String = v match {
    case s: String => quote(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  def obj(kvs: Seq[(String, Any)]): String =
    kvs.map { case (k, v) => s"${quote(k)}:${value(v)}" }.mkString("{", ",", "}")
  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
