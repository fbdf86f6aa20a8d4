package perfbench

/** Comparisons of an engine result against ground truth. Each returns
  * the problems found (empty = correct), so one wrong answer fails its
  * operation without stopping the run. */
object Checks {
  private def show[A](xs: Iterable[A]): String = xs.take(3).mkString(", ") +
    (if (xs.size > 3) s", … (${xs.size})" else "")

  def equal[A](what: String, got: A, want: A): Seq[String] =
    if (got == want) Nil else Seq(s"$what: got $got, want $want")

  def sameSet[A](what: String, got: Iterable[A], want: Iterable[A]): Seq[String] = {
    val (g, w) = (got.toSeq, want.toSeq)
    val missing = w.diff(g)
    val extra = g.diff(w)
    if (missing.isEmpty && extra.isEmpty) Nil
    else Seq(s"$what: missing [${show(missing)}], unexpected [${show(extra)}]")
  }

  def sameSeq[A](what: String, got: Seq[A], want: Seq[A]): Seq[String] =
    if (got == want) Nil else {
      val i = got.zip(want).indexWhere { case (a, b) => a != b }
      Seq(s"$what: ${got.size} rows vs ${want.size} expected; first difference at " +
        s"${if (i >= 0) s"$i: ${got(i)} vs ${want(i)}" else math.min(got.size, want.size)}")
    }

  def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))

  /** Keyed rows of doubles in order, each value within 1e-9 relative. */
  def sameSeqApprox[K](what: String, got: Seq[(K, Map[String, Double])],
                       want: Seq[(K, Map[String, Double])]): Seq[String] = {
    val ok = got.size == want.size && got.zip(want).forall { case ((k1, m1), (k2, m2)) =>
      k1 == k2 && m1.keySet == m2.keySet && m1.forall { case (c, v) => close(v, m2(c)) }
    }
    if (ok) Nil
    else Seq(s"$what: rows or values differ beyond 1e-9; got ${show(got)}, want ${show(want)}")
  }

  def all[A](what: String, xs: Seq[A])(p: A => Boolean): Seq[String] = {
    val bad = xs.filterNot(p)
    if (bad.isEmpty) Nil else Seq(s"$what: ${bad.size} rows fail, e.g. ${show(bad)}")
  }

  def atLeast(what: String, got: Double, floor: Double): Seq[String] =
    if (got >= floor) Nil else Seq(f"$what: $got%.4f below $floor%.4f")

  /** Driver acronyms on a comparison chart's x axis, left to right. */
  def svgTicks(svg: String): Seq[String] =
    "<text class=\"tick\"[^>]*>([^<]*)</text>".r.findAllMatchIn(svg).map(_.group(1)).toSeq
}
