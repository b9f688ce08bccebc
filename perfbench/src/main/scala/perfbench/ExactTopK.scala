package perfbench

/** A result row as the benchmark compares it: id and score (None = NULL). */
final case class Hit(id: String, score: Option[Double])

/**
 * Exact top-k in plain Scala over the same vectors the engine searches,
 * used to check every `/search` reply.
 */
object ExactTopK {
  val Tolerance = 1e-9

  /** Cosine similarity of row `off` of `vecs` with `q`, accumulated in
    * double exactly as `graft.functions.VectorKernels.cosineSimilarity`
    * does (element order, three running sums, one division). NaN stands
    * for the kernel's NULL (zero norm). */
  def cosine(vecs: Array[Float], off: Int, q: Array[Float]): Double = {
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < q.length) {
      val x = vecs(off + i).toDouble
      val y = q(i).toDouble
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) Double.NaN else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Top `k` of the rows `candidates` selects, in the engine's order; row
    * r has id `idOf(r)`. */
  def topK(vecs: Array[Float], dim: Int, n: Int, idOf: Int => String, q: Array[Float], k: Int,
      candidates: Int => Boolean): Vector[Hit] = {
    val score = new Array[Double](n)
    // the engine's order: true when row a ranks before row b — score
    // descending with NaN (NULL) last, then id ascending as a string
    def ahead(a: Int, b: Int): Boolean = {
      val x = score(a)
      val y = score(b)
      if (!x.isNaN && !y.isNaN && x != y) x > y
      else if (x.isNaN != y.isNaN) y.isNaN
      else idOf(a) < idOf(b)
    }
    // worst kept row at the head
    val heap = new java.util.PriorityQueue[Integer](k + 1,
      (a: Integer, b: Integer) => if (ahead(a, b)) 1 else if (ahead(b, a)) -1 else 0)
    var r = 0
    while (r < n) {
      if (candidates(r)) {
        score(r) = cosine(vecs, r * dim, q)
        if (heap.size < k) heap.add(r)
        else if (ahead(r, heap.peek())) { heap.poll(); heap.add(r) }
      }
      r += 1
    }
    val out = Vector.newBuilder[Hit]
    while (!heap.isEmpty) {
      val row = heap.poll().intValue()
      out += Hit(idOf(row), if (score(row).isNaN) None else Some(score(row)))
    }
    out.result().reverse
  }

  /**
   * Checks a reply against the exact answer. Neighbouring scores within
   * [[Tolerance]] may come in either order, and a row tied with the k-th
   * may replace it; anything else is a failure.
   *
   * @param exactScore exact score of a candidate id; None if the id is not
   *                   a candidate (wrong row, or outside the filter)
   * @return None when the reply is correct, else the reason
   */
  def verify(hits: Seq[Hit], expected: Seq[Hit],
      exactScore: String => Option[Option[Double]]): Option[String] = {
    def close(a: Option[Double], b: Option[Double]) = (a, b) match {
      case (Some(x), Some(y)) => math.abs(x - y) <= Tolerance
      case (None, None) => true
      case _ => false
    }
    if (hits.size != expected.size)
      return Some(s"${hits.size} hits, expected ${expected.size}")
    if (hits.map(_.id).distinct.size != hits.size) return Some("duplicate ids")
    val exact = hits.map { h =>
      exactScore(h.id) match {
        case None => return Some(s"id ${h.id} is not a candidate")
        case Some(s) =>
          if (!close(s, h.score)) return Some(s"id ${h.id} score ${h.score} != exact $s")
          Hit(h.id, s)
      }
    }
    exact.zip(exact.drop(1)).foreach { case (a, b) =>
      val inOrder = (a.score, b.score) match {
        case (Some(x), Some(y)) => x >= y - Tolerance
        case (None, Some(_)) => false
        case (Some(_), None) => true
        case (None, None) => a.id < b.id
      }
      if (!inOrder) return Some(s"id ${a.id} ranked before ${b.id} out of order")
    }
    // Same scores as the exact top k, position by position: a lower-scoring
    // row in place of a top-k row fails here.
    exact.zip(expected).foreach { case (got, want) =>
      if (!close(got.score, want.score))
        return Some(s"rank score ${got.score} != exact top-k score ${want.score}")
    }
    None
  }
}
