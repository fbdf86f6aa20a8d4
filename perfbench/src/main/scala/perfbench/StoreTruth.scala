package perfbench

/** Brute-force answers for the store reads, in plain Scala over every
  * document the stores have been given. */
object StoreTruth {
  final case class Indexed(id: Long, toks: IndexedSeq[String], vec: IndexedSeq[Double]) {
    lazy val shingles: Set[Seq[String]] =
      if (toks.size < 3) Set.empty else toks.sliding(3).map(_.toSeq).toSet
  }

  def index(docs: Seq[Corpus.Doc]): Seq[Indexed] =
    docs.map(d => Indexed(d.doc_id, d.text.split(" ").toIndexedSeq,
      d.embedding.map(_.toDouble).toIndexedSeq))

  private def bitlen(x: Long): Long = 64 - java.lang.Long.numberOfLeadingZeros(x)

  /** The engine's integer BM25 (k1 = 3/2, b = 3/4, idf in whole bits):
    * top-k (doc, score) by score desc, doc asc. */
  def bm25(docs: Seq[Indexed], terms: Seq[String], k: Int): Seq[(Long, Long)] = {
    val q = terms.distinct
    val n = docs.size.toLong
    val t = docs.map(_.toks.size.toLong).sum
    val df = q.map(w => w -> docs.count(_.toks.contains(w)).toLong).toMap
    docs.flatMap { d =>
      val dl = d.toks.size.toLong
      val parts = q.flatMap { w =>
        val tf = d.toks.count(_ == w).toLong
        if (tf == 0) None else {
          val idf = math.max(0L, bitlen(2 * (n - df(w)) + 1) - bitlen(2 * df(w) + 1))
          Some(idf * ((20480L * t * tf) / (8L * t * tf + 3L * t + 9L * dl * n)))
        }
      }
      if (parts.isEmpty) None else Some((d.id, parts.sum))
    }.sortBy { case (id, s) => (-s, id) }.take(k)
  }

  /** Exact two-word phrase: top-k (doc, occurrences). */
  def phrase(docs: Seq[Indexed], t1: String, t2: String, k: Int): Seq[(Long, Long)] =
    docs.flatMap { d =>
      val c = d.toks.indices.dropRight(1).count(i => d.toks(i) == t1 && d.toks(i + 1) == t2)
      if (c == 0) None else Some((d.id, c.toLong))
    }.sortBy { case (id, c) => (-c, id) }.take(k)

  /** Exact L2 top-k neighbour ids. */
  def nearest(docs: Seq[Indexed], q: IndexedSeq[Double], k: Int): Seq[Long] =
    docs.map(d => (d.vec.indices.map(i => (d.vec(i) - q(i)) * (d.vec(i) - q(i))).sum, d.id))
      .sorted.take(k).map(_._2)

  /** Every stored document within Jaccard 0.5 of the probe (word
    * 3-shingle sets), with its Jaccard. */
  def nearDups(docs: Seq[Indexed], probe: String): Set[(Long, Double)] = {
    val p = Corpus.shingles(probe)
    docs.flatMap { d =>
      val inter = (p intersect d.shingles).size
      val union = p.size + d.shingles.size - inter
      if (union > 0 && inter.toDouble / union >= 0.5) Some((d.id, inter.toDouble / union)) else None
    }.toSet
  }
}
