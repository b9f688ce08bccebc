package perfbench

/**
 * Seeded generator for the scan-bound store: clustered 64-d vectors and
 * documents shaped like the sf0.1 fixture (`lang` skewed with en ≈ 41%,
 * 20 `source` values, 10–100 words of text from the fixture's vocabulary).
 *
 * Every value is a pure function of (seed, row id), so Spark tasks can
 * write the store in parallel while the benchmark recomputes the same
 * vectors for its exact answers without reading the files back.
 */
object StoreGen {
  val Dim = 64
  val Clusters = 100
  /** Spread of a vector around its cluster centre. */
  private val Noise = 0.35

  /** The sf0.1 `documents.text` vocabulary. */
  val Vocab: Array[String] = ("spark window merge table column vector stream value data " +
    "small join filter big group hash customer sort order slow line part fast row the agg " +
    "key query a scan batch dup").split(' ')

  /** `lang` values with cumulative shares matching sf0.1 (en 41%, zh 15%,
    * es 15%, fr 15%, de 14%). */
  private val Langs = Array("en", "zh", "es", "fr", "de")
  private val LangCumulative = Array(0.41, 0.56, 0.71, 0.86, 1.0)

  /** SplitMix64 finaliser. */
  def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def hash(seed: Long, a: Long, b: Long = 0L, c: Long = 0L): Long =
    mix64(mix64(mix64(seed ^ 0x5DEECE66DL) ^ a) + b * 0x632BE59BD9B4E019L + c)

  /** Uniform in [0, 1). */
  def unit(h: Long): Double = (h >>> 11) * (1.0 / (1L << 53))

  /** Standard normal from two hashes (Box–Muller). */
  def gauss(seed: Long, a: Long, b: Long, c: Long): Double = {
    val u1 = math.max(unit(hash(seed, a, b, c * 2)), 1e-300)
    val u2 = unit(hash(seed, a, b, c * 2 + 1))
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2 * math.Pi * u2)
  }

  /** Approximately standard normal from the four 16-bit lanes of one hash
    * (Irwin–Hall, n = 4): cheap enough for a million-row store. */
  private def lanesNormal(h: Long): Double = {
    val s = (h & 0xFFFFL) + ((h >>> 16) & 0xFFFFL) + ((h >>> 32) & 0xFFFFL) + (h >>> 48)
    (s / 65536.0 - 2.0) * math.sqrt(3.0)
  }

  /** Cluster centres, `Clusters` × `Dim`, row-major. */
  def centres(seed: Long): Array[Float] =
    Array.tabulate(Clusters * Dim)(i => gauss(seed, 2, i / Dim, i % Dim).toFloat)

  def cluster(seed: Long, id: Long): Int =
    java.lang.Math.floorMod(hash(seed, 1, id), Clusters.toLong).toInt

  /** Writes row `id`'s vector into `out` at `off`; `centres` must come from
    * [[centres]] with the same seed. */
  def vectorInto(seed: Long, centres: Array[Float], id: Long, out: Array[Float], off: Int): Unit = {
    val c = cluster(seed, id) * Dim
    val base = hash(seed, 3, id)
    var j = 0
    while (j < Dim) {
      out(off + j) = (centres(c + j) + Noise * lanesNormal(mix64(base + j))).toFloat
      j += 1
    }
  }

  def vector(seed: Long, id: Long): Array[Float] = {
    val v = new Array[Float](Dim)
    vectorInto(seed, centres(seed), id, v, 0)
    v
  }

  def langIndex(seed: Long, id: Long): Int = {
    val u = unit(hash(seed, 4, id))
    LangCumulative.indexWhere(u < _)
  }

  def lang(seed: Long, id: Long): String = Langs(langIndex(seed, id))

  def source(seed: Long, id: Long): String =
    "src" + java.lang.Math.floorMod(hash(seed, 5, id), 20L)

  def text(seed: Long, id: Long): String = {
    val words = 10 + java.lang.Math.floorMod(hash(seed, 6, id), 91L).toInt
    val sb = new java.lang.StringBuilder(words * 6)
    val base = hash(seed, 7, id)
    var w = 0
    while (w < words) {
      if (w > 0) sb.append(' ')
      sb.append(Vocab(java.lang.Math.floorMod(mix64(base + w), Vocab.length.toLong).toInt))
      w += 1
    }
    sb.toString
  }
}
