package perfbench

import org.scalatest.funsuite.AnyFunSuite

class HelpersSpec extends AnyFunSuite {

  test("tail percentile needs at least ten samples beyond it") {
    assert(Stats.samplesBeyond(100, 90) === 10)
    assert(Stats.highestReliablePercentile(100) === Some(90.0))
    assert(Stats.highestReliablePercentile(99) === Some(75.0))
    assert(Stats.highestReliablePercentile(1000) === Some(99.0))
    assert(Stats.highestReliablePercentile(20) === Some(50.0))
    assert(Stats.highestReliablePercentile(19) === None)
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 90) === 90.0)
    assert(xs.count(_ > Stats.percentile(xs, 90)) === 10)
    assert(Stats.median(Seq(3.0, 1.0, 2.0, 10.0)) === 2.5)
  }

  test("span self time subtracts the union of its children, clipped to the span") {
    val parent = Span(1, -1, 7, "request", 0, 100)
    val children = Seq(
      Span(2, 1, 7, "a", 10, 30), Span(3, 1, 7, "b", 20, 50), // overlap: counts once
      Span(4, 1, 7, "c", 70, 80), Span(5, 1, 7, "d", 90, 120)) // runs past the parent
    assert(Spans.selfTimeNs(parent, children) === 100 - 40 - 10 - 10)
    val self = Spans.selfTimes(parent +: children)
    assert(self(1) === 40)
    assert(self(5) === 30)
    assert(Spans.selfTimeNs(parent, Nil) === 100)
  }

  test("the tracer nests spans under the request that caused them") {
    val t = new Tracer
    t.span("request", 3) { root => t.span("spark.exec", 3, root)(_ => Thread.sleep(2)) }
    val root = t.spans.find(_.name == "request").get
    val child = t.spans.find(_.name == "spark.exec").get
    assert(child.parent === root.id && root.parent === -1)
    assert(Seq(child, root).forall(_.requestId === 3))
    assert(child.startNs >= root.startNs && child.endNs <= root.endNs)
  }

  /** Order-sensitive hash of the first `rows` generated rows, all columns. */
  private def storeDigest(seed: Long, rows: Int): Long = {
    var h = 17L
    (0 until rows).foreach { id =>
      StoreGen.vector(seed, id).foreach(f => h = StoreGen.mix64(h ^ java.lang.Float.floatToIntBits(f)))
      Seq(StoreGen.lang(seed, id), StoreGen.source(seed, id), StoreGen.text(seed, id))
        .foreach(s => h = StoreGen.mix64(h ^ s.hashCode))
    }
    h
  }

  test("the store generator is a pure function of the seed") {
    assert(storeDigest(7, 300) === storeDigest(7, 300))
    assert(storeDigest(7, 300) !== storeDigest(8, 300))
    assert(StoreGen.vector(7, 12).sameElements(StoreGen.vector(7, 12)))
    val langs = (0 until 20000).map(StoreGen.lang(7, _))
    val en = langs.count(_ == "en").toDouble / langs.size
    assert(en > 0.39 && en < 0.43)
    assert((0 until 20000).map(StoreGen.source(7, _)).distinct.size === 20)
    assert((0 until 2000).map(i => StoreGen.text(7, i).split(' ').length).forall(n => n >= 10 && n <= 100))
  }

  /** Rows 0 and 1 are identical (a tie); row 2 is close; row 3 is far. */
  private val vecs = Array[Float](1, 0, 1, 0, 0.9f, 0.1f, -1, 0)
  private val q = Array[Float](1, 0)
  private def exact(id: String): Option[Option[Double]] =
    id.toIntOption.filter(r => r >= 0 && r < 4).map(r => Some(ExactTopK.cosine(vecs, r * 2, q)))

  test("exact top-k breaks score ties by id and accepts tied rows in either order") {
    val top = ExactTopK.topK(vecs, 2, 4, _.toString, q, 2, _ => true)
    assert(top.map(_.id) === Seq("0", "1"))
    assert(ExactTopK.verify(top, top, exact) === None)
    assert(ExactTopK.verify(top.reverse, top, exact) === None)
    // a tie with the k-th row may take its place
    val k1 = ExactTopK.topK(vecs, 2, 4, _.toString, q, 1, _ => true)
    assert(ExactTopK.verify(Seq(Hit("1", Some(1.0))), k1, exact) === None)
  }

  test("wrong replies are failures") {
    val top = ExactTopK.topK(vecs, 2, 4, _.toString, q, 3, _ => true)
    assert(top.map(_.id) === Seq("0", "1", "2"))
    val swapped = Seq(top(2), top(0), top(1))
    assert(ExactTopK.verify(swapped, top, exact).isDefined)
    assert(ExactTopK.verify(top.take(2) :+ Hit("3", Some(-1.0)), top, exact).isDefined)
    assert(ExactTopK.verify(top.take(2), top, exact).isDefined)
    assert(ExactTopK.verify(top.updated(2, top(2).copy(score = Some(0.5))), top, exact).isDefined)
    assert(ExactTopK.verify(top, top, id => if (id == "2") None else exact(id)).isDefined)
  }

  test("a corrupted expected answer is reported as a failure") {
    val top = ExactTopK.topK(vecs, 2, 4, _.toString, q, 3, _ => true)
    val corrupted = top.updated(2, top(2).copy(score = top(2).score.map(_ + 1e-6)))
    assert(ExactTopK.verify(top, corrupted, exact).isDefined)
    val wantDigest = Digest.parse("12:00000000000000ff")
    assert(Digest.parse(wantDigest.toString) === wantDigest)
    assert(Digest(12, 0xfe) !== wantDigest)
  }

  test("a reply is checked for ranking and for the store's metadata") {
    val store = new StoreData(4, vecs, r => s"l$r", r => s"s$r", r => s"t \"$r\"")
    val req = Req(0, "cosine", "", graft.api.SearchRequest(), q, 2, None)
    val want = ExactTopK.topK(vecs, 2, 4, _.toString, q, 2, _ => true)
    def reply(hits: (Int, String)*): String = hits.map { case (r, desc) =>
      s"""{"id": "$r", "title": "s$r", "vendor": "l$r", "description": ${Common.jsonString(desc)}, "score": 1.0}"""
    }.mkString("""{"results": [""", ", ", s"""], "count": ${hits.size}, "search_time_ms": 1.5}""")
    assert(SearchBench.checkReply(store, req, 200, reply(0 -> "t \"0\"", 1 -> "t \"1\""), want) === None)
    assert(SearchBench.checkReply(store, req, 200, reply(0 -> "t \"0\"", 1 -> "wrong"), want).isDefined)
    assert(SearchBench.checkReply(store, req, 500, """{"error": "x"}""", want).isDefined)
    val filtered = req.copy(lang = Some("l0"))
    assert(SearchBench.checkReply(store, filtered, 200, reply(0 -> "t \"0\"", 1 -> "t \"1\""), want).isDefined)
  }
}
