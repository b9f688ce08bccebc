package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.functions.call_function

/**
 * Registration + Column-level API for the engine's vector functions,
 * mirroring the `Knn::` UDF module surface the reference query template
 * calls (reference: /root/reference/app.py:212-227).
 *
 * Usage:
 * {{{
 *   GraftFunctions.register(spark)                 // imperative, or
 *   // spark.sql.extensions=graft.functions.GraftExtensions
 *   df.select(GraftFunctions.knnCosineSimilarity(col("embedding"), qv))
 *   spark.sql("SELECT knn_cosine_similarity(embedding, ...) FROM store")
 * }}}
 */
object GraftFunctions {

  /** (name, arity-checked builder, usage doc) for every engine function. */
  val all: Seq[(String, Seq[Expression] => Expression, String)] = Seq(
    ("knn_cosine_similarity",
      (es: Seq[Expression]) => { requireArity(es, 2, "knn_cosine_similarity"); KnnCosineSimilarity(es(0), es(1)) },
      "_FUNC_(vec1, vec2) - cosine similarity of two float vectors (array<float> or packed binary)."),
    ("knn_inner_product_similarity",
      (es: Seq[Expression]) => { requireArity(es, 2, "knn_inner_product_similarity"); KnnInnerProductSimilarity(es(0), es(1)) },
      "_FUNC_(vec1, vec2) - inner (dot) product of two float vectors."),
    ("knn_cosine_distance",
      (es: Seq[Expression]) => { requireArity(es, 2, "knn_cosine_distance"); KnnCosineDistance(es(0), es(1)) },
      "_FUNC_(vec1, vec2) - cosine distance (1 - cosine similarity)."),
    ("knn_euclidean_distance",
      (es: Seq[Expression]) => { requireArity(es, 2, "knn_euclidean_distance"); KnnEuclideanDistance(es(0), es(1)) },
      "_FUNC_(vec1, vec2) - Euclidean (L2) distance."),
    ("knn_manhattan_distance",
      (es: Seq[Expression]) => { requireArity(es, 2, "knn_manhattan_distance"); KnnManhattanDistance(es(0), es(1)) },
      "_FUNC_(vec1, vec2) - Manhattan (L1) distance."),
    ("to_binary_vector",
      (es: Seq[Expression]) => { requireArity(es, 1, "to_binary_vector"); ToBinaryVector(es(0)) },
      "_FUNC_(vec) - pack array<float> as little-endian float32 bytes + 0x01 tag."),
    ("from_binary_vector",
      (es: Seq[Expression]) => { requireArity(es, 1, "from_binary_vector"); FromBinaryVector(es(0)) },
      "_FUNC_(bin) - unpack little-endian float32 bytes + 0x01 tag to array<float>."),
    ("sign_bits64",
      (es: Seq[Expression]) => { requireArity(es, 1, "sign_bits64"); SignBits64Expr(es(0)) },
      "_FUNC_(vec) - sign-bit sketch (bigint): bit i set iff vec[i] >= 0, first 64 dims."),
    ("simhash64",
      (es: Seq[Expression]) => { requireArity(es, 1, "simhash64"); SimHash64Expr(es(0)) },
      "_FUNC_(text) - 64-bit SimHash over whitespace tokens (near-dup fingerprint)."),
    ("minhash_signature",
      (es: Seq[Expression]) => {
        requireArity(es, 2, "minhash_signature")
        val n = es(1) match {
          case e if e.foldable && e.dataType == org.apache.spark.sql.types.IntegerType =>
            e.eval().asInstanceOf[Int]
          case _ => throw new IllegalArgumentException(
            "minhash_signature numHashes must be an integer literal")
        }
        MinHashSignatureExpr(es(0), n)
      },
      "_FUNC_(text, numHashes) - MinHash signature (array<bigint>) over token 3-gram shingles."),
    ("vector_avg",
      (es: Seq[Expression]) => { requireArity(es, 1, "vector_avg"); VectorAvg(es(0)).toAggregateExpression() },
      "_FUNC_(vec) - element-wise mean of a group of float vectors (centroid aggregate)."),
    ("mat_vec",
      (es: Seq[Expression]) => { requireArity(es, 3, "mat_vec"); MatVecExpr(es(0), es(1), es(2)) },
      "_FUNC_(vec, flatMatrix, offsets) - dense linear map: out[k] = dot(vec, row_k) - offsets[k]."),
    ("vector_gram",
      (es: Seq[Expression]) => { requireArity(es, 1, "vector_gram"); GramMatrix(es(0)).toAggregateExpression() },
      "_FUNC_(vec) - second-moment matrix aggregate: struct(n, upper-triangle micro-unit sums)."),
    ("shingle_set",
      (es: Seq[Expression]) => { requireArity(es, 1, "shingle_set"); ShingleSetExpr(es(0)) },
      "_FUNC_(text) - distinct token-3-gram shingles (array<string>)."),
    ("token_hits",
      (es: Seq[Expression]) => { requireArity(es, 2, "token_hits"); TokenHitsExpr(es(0), es(1)) },
      "_FUNC_(text, words) - count of whitespace tokens equal to any of words."),
    ("gram_windows",
      (es: Seq[Expression]) => { requireArity(es, 1, "gram_windows"); GramWindowsExpr(es(0)) },
      "_FUNC_(text) - per-position trigram windows (array<string>) for n-gram LM training/scoring."),
    ("repetition_counts",
      (es: Seq[Expression]) => { requireArity(es, 1, "repetition_counts"); RepetitionCountsExpr(es(0)) },
      "_FUNC_(text) - [n_tokens, n_shingles, distinct_shingles, distinct_tokens, max_multiplicity]."),
    ("ngram_strings",
      (es: Seq[Expression]) => {
        requireArity(es, 2, "ngram_strings")
        NgramStringsExpr(es(0), intLitArg(es(1), "ngram_strings n"))
      },
      "_FUNC_(text, n) - all order-n token n-grams, space-joined, in position order (array<string>)."),
    ("mlm_mask",
      (es: Seq[Expression]) => {
        requireArity(es, 3, "mlm_mask")
        MlmMaskExpr(es(0), es(1), intLitArg(es(2), "mlm_mask oneIn"))
      },
      "_FUNC_(id, text, oneIn) - masked-LM corruption struct(n_tokens, n_masked, input_text, target_text) with md5(id:pos)-seeded positions at rate 1/oneIn."),
    ("adjacent_token_pairs",
      (es: Seq[Expression]) => {
        requireArity(es, 2, "adjacent_token_pairs")
        AdjacentTokenPairsExpr(es(0), intLitArg(es(1), "adjacent_token_pairs minLen"))
      },
      "_FUNC_(text, minLen) - bidirectional adjacent-token pairs (array<struct<src,dst>>) for co-occurrence graphs."),
    ("hashed_ngram_buckets",
      (es: Seq[Expression]) => {
        requireArity(es, 2, "hashed_ngram_buckets")
        HashedNgramBucketsExpr(es(0), intLitArg(es(1), "hashed_ngram_buckets buckets"))
      },
      "_FUNC_(text, buckets) - md5-nibble DSIR feature buckets of every unigram + adjacent bigram (array<int>)."),
    ("deletion_neighborhood_hashes",
      (es: Seq[Expression]) => {
        requireArity(es, 1, "deletion_neighborhood_hashes")
        DeletionNeighborhoodHashesExpr(es(0))
      },
      "_FUNC_(text) - FastSS deletion-neighborhood signature hashes (array<bigint>), complete blocking for edit distance <= 1."),
    ("json_field_types",
      (es: Seq[Expression]) => {
        requireArity(es, 1, "json_field_types")
        JsonFieldTypesExpr(es(0))
      },
      "_FUNC_(line) - top-level (key, vtype) pairs of a JSON object line (array<struct>), NULL when the line is not exactly one valid JSON object."),
    ("minhash_band_hashes",
      (es: Seq[Expression]) => {
        requireArity(es, 3, "minhash_band_hashes")
        def intLit(e: Expression, what: String): Int = e match {
          case x if x.foldable && x.dataType == org.apache.spark.sql.types.IntegerType =>
            x.eval().asInstanceOf[Int]
          case _ => throw new IllegalArgumentException(
            s"minhash_band_hashes $what must be an integer literal")
        }
        MinHashBandHashesExpr(es(0), intLit(es(1), "bands"), intLit(es(2), "rowsPerBand"))
      },
      "_FUNC_(text, bands, rowsPerBand) - per-band MinHash LSH bucket keys (array<bigint>)."),
    ("pq_encode",
      (es: Seq[Expression]) => {
        requireArity(es, 4, "pq_encode")
        PqEncodeExpr(es(0), es(1),
          intLitArg(es(2), "pq_encode m"), intLitArg(es(3), "pq_encode k"))
      },
      "_FUNC_(vec, codebook, m, k) - product-quantization codes (m bytes) of a float vector."),
    ("pq_adc_score",
      (es: Seq[Expression]) => {
        requireArity(es, 3, "pq_adc_score")
        PqAdcScoreExpr(es(0), es(1), intLitArg(es(2), "pq_adc_score k"))
      },
      "_FUNC_(codes, lut, k) - asymmetric-distance score of PQ codes against a per-query table."),
    ("sq8_encode",
      (es: Seq[Expression]) => { requireArity(es, 3, "sq8_encode"); Sq8EncodeExpr(es(0), es(1), es(2)) },
      "_FUNC_(vec, mins, deltas) - per-dimension affine 8-bit scalar-quantization codes (binary)."),
    ("sq8_cos_score",
      (es: Seq[Expression]) => { requireArity(es, 2, "sq8_cos_score"); Sq8CosScoreExpr(es(0), es(1)) },
      "_FUNC_(codes, flat) - reconstructed-cosine score of SQ8 codes against a per-query coefficient table."),
    ("cosine_lsh_keys",
      (es: Seq[Expression]) => {
        requireArity(es, 4, "cosine_lsh_keys")
        def lit[T](e: Expression, dt: org.apache.spark.sql.types.DataType, what: String): Any =
          e match {
            case x if x.foldable && x.dataType == dt => x.eval()
            case _ => throw new IllegalArgumentException(
              s"cosine_lsh_keys $what must be a ${dt.simpleString} literal")
          }
        CosineLshKeysExpr(es(0),
          lit(es(1), org.apache.spark.sql.types.IntegerType, "bitsPerTable").asInstanceOf[Int],
          lit(es(2), org.apache.spark.sql.types.IntegerType, "nTables").asInstanceOf[Int],
          lit(es(3), org.apache.spark.sql.types.LongType, "seed").asInstanceOf[Long])
      },
      "_FUNC_(vec, bitsPerTable, nTables, seed) - per-table random-hyperplane LSH bucket keys (array<bigint>)."),
    ("vector_normalize",
      (es: Seq[Expression]) => { requireArity(es, 1, "vector_normalize"); VectorNormalizeExpr(es(0)) },
      "_FUNC_(vec) - L2-normalize a float vector to unit length (array<double>); null on zero norm."),
    ("topk_by_score",
      (es: Seq[Expression]) => {
        requireArity(es, 3, "topk_by_score")
        TopKByScore(es(0), es(1), intLitArg(es(2), "topk_by_score k"))
          .toAggregateExpression()
      },
      "_FUNC_(score, id, k) - per-group top-k (score DESC, id ASC) as array<struct<score,id>>."),
    ("bloom_build",
      (es: Seq[Expression]) => {
        requireArity(es, 3, "bloom_build")
        val bits = es(1) match {
          case e if e.foldable && e.dataType == org.apache.spark.sql.types.LongType =>
            e.eval().asInstanceOf[Long]
          case e if e.foldable && e.dataType == org.apache.spark.sql.types.IntegerType =>
            e.eval().asInstanceOf[Int].toLong
          case _ => throw new IllegalArgumentException(
            "bloom_build numBits must be an integer literal")
        }
        BloomBuildAgg(es(0), bits, intLitArg(es(2), "bloom_build numHashes"))
          .toAggregateExpression()
      },
      "_FUNC_(keyHash, numBits, numHashes) - aggregate 64-bit key hashes into a Bloom filter (binary)."),
    ("bloom_might_contain",
      (es: Seq[Expression]) => { requireArity(es, 2, "bloom_might_contain"); BloomMightContainExpr(es(0), es(1)) },
      "_FUNC_(filter, keyHash) - true iff the key may be in the Bloom filter (no false negatives)."),
    ("ac_scan",
      (es: Seq[Expression]) => {
        requireArity(es, 2, "ac_scan")
        val tag = es(0) match {
          case e if e.foldable && e.dataType == org.apache.spark.sql.types.StringType =>
            e.eval().toString
          case _ => throw new IllegalArgumentException(
            "ac_scan tag must be a string literal")
        }
        AcScanExpr(AcRegistry.lookup(tag), es(1))
      },
      "_FUNC_(tag, text) - Aho-Corasick scan against a registered broadcast automaton: struct(total_matches, distinct_patterns)."),
    ("bloom_probe_broadcast",
      (es: Seq[Expression]) => {
        requireArity(es, 2, "bloom_probe_broadcast")
        val tag = es(0) match {
          case e if e.foldable && e.dataType == org.apache.spark.sql.types.StringType =>
            e.eval().toString
          case _ => throw new IllegalArgumentException(
            "bloom_probe_broadcast tag must be a string literal")
        }
        // tag -> Broadcast handle, resolved at PLAN time on the driver;
        // the expression serializes the handle, never the filter bytes
        BloomMightContainBroadcast(BloomBroadcastRegistry.lookup(tag), es(1))
      },
      "_FUNC_(tag, keyHash) - Bloom probe against a registered BROADCAST filter (task binary carries the handle, not the bytes)."),
    ("content_chunk_hashes",
      (es: Seq[Expression]) => {
        requireArity(es, 2, "content_chunk_hashes")
        val bits = es(1) match {
          case e if e.foldable && e.dataType == org.apache.spark.sql.types.IntegerType =>
            e.eval().asInstanceOf[Int]
          case _ => throw new IllegalArgumentException(
            "content_chunk_hashes avgBits must be an integer literal")
        }
        ContentChunkHashesExpr(es(0), bits)
      },
      "_FUNC_(payload, avgBits) - Gear-CDC chunk fingerprints (array<bigint>) of a binary payload."),
    ("winnow_fingerprints",
      (es: Seq[Expression]) => {
        requireArity(es, 3, "winnow_fingerprints")
        WinnowFingerprintsExpr(es(0),
          intLitArg(es(1), "winnow_fingerprints n"),
          intLitArg(es(2), "winnow_fingerprints w"))
      },
      "_FUNC_(text, n, w) - winnowing-selected token n-gram FNV-1a fingerprints (array<bigint>)."),
    ("bpe_apply",
      (es: Seq[Expression]) => { requireArity(es, 2, "bpe_apply"); BpeApplyExpr(es(0), es(1)) },
      "_FUNC_(word, merges) - apply rank-ordered BPE merges (\"l r\" strings) to a word; space-joined subwords."),
    ("jaro_winkler",
      (es: Seq[Expression]) => { requireArity(es, 2, "jaro_winkler"); JaroWinklerExpr(es(0), es(1)) },
      "_FUNC_(a, b) - byte-level Jaro-Winkler similarity (DuckDB conventions: boost iff jaro > 0.7, prefix cap 4)."),
    ("wordpiece_apply",
      (es: Seq[Expression]) => { requireArity(es, 2, "wordpiece_apply"); WordPieceApplyExpr(es(0), es(1)) },
      "_FUNC_(word, vocab) - WordPiece greedy longest-match segmentation (## continuations, [UNK] fallback); space-joined pieces."),
    ("nearest_centroid",
      (es: Seq[Expression]) => { requireArity(es, 2, "nearest_centroid"); NearestCentroidExpr(es(0), es(1)) },
      "_FUNC_(qv, flat) - integer-L2 argmin over k row-major micro-unit centroids; [cid, dist2]."),
    ("ngram_overlap_counts",
      (es: Seq[Expression]) => {
        requireArity(es, 4, "ngram_overlap_counts")
        val charLevel = es(3) match {
          case e if e.foldable && e.dataType == org.apache.spark.sql.types.BooleanType =>
            e.eval().asInstanceOf[Boolean]
          case _ => throw new IllegalArgumentException(
            "ngram_overlap_counts charLevel must be a boolean literal")
        }
        NgramOverlapCountsExpr(es(0), es(1),
          intLitArg(es(2), "ngram_overlap_counts maxN"), charLevel)
      },
      "_FUNC_(pred, gold, maxN, charLevel) - 3*maxN clipped n-gram [overlap, total_pred, total_gold] triples (array<bigint>) for n = 1..maxN."),
    ("frequent_items_sketch",
      (es: Seq[Expression]) => {
        requireArity(es, 2, "frequent_items_sketch")
        MisraGriesAgg(es(0), intLitArg(es(1), "frequent_items_sketch capacity"))
          .toAggregateExpression()
      },
      "_FUNC_(tokens, capacity) - Misra-Gries frequent-items summary of an array<string> column: array<struct<item,cnt>>, cnt undercounts by <= N/(capacity+1)."),
    ("edit_distance",
      (es: Seq[Expression]) => {
        requireArity(es, 3, "edit_distance")
        val unit = es(2) match {
          case e if e.foldable && e.dataType == org.apache.spark.sql.types.StringType =>
            e.eval().toString match {
              case "byte"      => TextHashKernels.UnitByte
              case "codepoint" => TextHashKernels.UnitCodepoint
              case "token"     => TextHashKernels.UnitToken
              case other => throw new IllegalArgumentException(
                s"edit_distance unit must be 'byte', 'codepoint' or 'token', got '$other'")
            }
          case _ => throw new IllegalArgumentException(
            "edit_distance unit must be a string literal")
        }
        EditDistanceExpr(es(0), es(1), unit)
      },
      "_FUNC_(a, b, unit) - Levenshtein distance over 'byte' (DuckDB parity), 'codepoint', or 'token' (WER) units."),
    ("damerau_distance",
      (es: Seq[Expression]) => { requireArity(es, 2, "damerau_distance"); DamerauDistanceExpr(es(0), es(1)) },
      "_FUNC_(a, b) - true Damerau-Levenshtein distance over UTF-8 bytes (DuckDB damerau_levenshtein parity; <= 512 bytes per side)."),
    ("phrase_count",
      (es: Seq[Expression]) => { requireArity(es, 2, "phrase_count"); PhraseCountExpr(es(0), es(1)) },
      "_FUNC_(text, phrase) - occurrences of the consecutive-token phrase (array<string>), overlaps included."),
    ("nfc_normalize",
      (es: Seq[Expression]) => { requireArity(es, 1, "nfc_normalize"); NfcNormalizeExpr(es(0)) },
      "_FUNC_(text) - Unicode NFC canonicalization (UAX #15)."),
    ("strip_accents",
      (es: Seq[Expression]) => { requireArity(es, 1, "strip_accents"); StripAccentsExpr(es(0)) },
      "_FUNC_(text) - NFD decomposition with combining marks removed.")
  )

  private def requireArity(es: Seq[Expression], n: Int, name: String): Unit =
    require(es.length == n, s"$name expects $n arguments, got ${es.length}")

  private def intLitArg(e: Expression, what: String): Int = e match {
    case x if x.foldable && x.dataType == org.apache.spark.sql.types.IntegerType =>
      x.eval().asInstanceOf[Int]
    case _ => throw new IllegalArgumentException(s"$what must be an integer literal")
  }

  /** Register all engine functions in the session's FunctionRegistry
    * and append every graft plan rewrite ([[graft.plans.GraftRules]])
    * the session lacks. Idempotent — skips names and rules already
    * present (injected by [[GraftExtensions]] or appended by an earlier
    * call), so repeated calls at API entry points neither re-register
    * nor emit replace warnings. */
  def register(spark: SparkSession): Unit = {
    registerRules(spark)
    val registry = spark.sessionState.functionRegistry
    all.foreach { case (name, builder, usage) =>
      val ident = FunctionIdentifier(name)
      if (!registry.functionExists(ident)) {
        registry.registerFunction(
          ident,
          new ExpressionInfo("graft.functions.VectorExpressions", null, name, usage,
            "", "", "", "", "", "", "built-in"),
          builder)
      }
    }
  }

  // Sessions known to carry every rule: the lock-free fast path for
  // the per-request calls (weak, so a dropped session is not pinned).
  private val rulesChecked = java.util.Collections.synchronizedSet(
    java.util.Collections.newSetFromMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean]()))

  private def registerRules(spark: SparkSession): Unit =
    if (!rulesChecked.contains(spark)) rulesChecked.synchronized {
      val extra = spark.experimental.extraOptimizations
      val present = extra ++ spark.sessionState.optimizer.extendedOperatorOptimizationRules
      val toAdd = graft.plans.GraftRules.all.filterNot { case (cls, _) =>
        present.exists(cls.isInstance) }
      if (toAdd.nonEmpty)
        spark.experimental.extraOptimizations = extra ++ toAdd.map(_._2(spark))
      rulesChecked.add(spark)
    }

  // ------------------------------------------------------------- Column API

  def knnCosineSimilarity(a: Column, b: Column): Column =
    call_function("knn_cosine_similarity", a, b)
  def knnInnerProductSimilarity(a: Column, b: Column): Column =
    call_function("knn_inner_product_similarity", a, b)
  def knnCosineDistance(a: Column, b: Column): Column =
    call_function("knn_cosine_distance", a, b)
  def knnEuclideanDistance(a: Column, b: Column): Column =
    call_function("knn_euclidean_distance", a, b)
  def knnManhattanDistance(a: Column, b: Column): Column =
    call_function("knn_manhattan_distance", a, b)
  def toBinaryVector(a: Column): Column = call_function("to_binary_vector", a)
  def fromBinaryVector(a: Column): Column = call_function("from_binary_vector", a)
  def simhash64(text: Column): Column = call_function("simhash64", text)
  def signBits64(vec: Column): Column = call_function("sign_bits64", vec)
  def vectorGram(vec: Column): Column = call_function("vector_gram", vec)
  def minhashSignature(text: Column, numHashes: Int): Column =
    call_function("minhash_signature", text, org.apache.spark.sql.functions.lit(numHashes))
  def contentChunkHashes(payload: Column, avgBits: Int): Column =
    call_function("content_chunk_hashes", payload, org.apache.spark.sql.functions.lit(avgBits))
  def winnowFingerprints(text: Column, n: Int, w: Int): Column =
    call_function("winnow_fingerprints", text,
      org.apache.spark.sql.functions.lit(n), org.apache.spark.sql.functions.lit(w))
  def bpeApply(word: Column, merges: Column): Column =
    call_function("bpe_apply", word, merges)
  def jaroWinkler(a: Column, b: Column): Column =
    call_function("jaro_winkler", a, b)
  def wordpieceApply(word: Column, vocab: Column): Column =
    call_function("wordpiece_apply", word, vocab)
  def nearestCentroid(qv: Column, flat: Column): Column =
    call_function("nearest_centroid", qv, flat)
  def phraseCount(text: Column, phrase: Column): Column =
    call_function("phrase_count", text, phrase)
  def ngramOverlapCounts(pred: Column, gold: Column,
      maxN: Int, charLevel: Boolean): Column =
    call_function("ngram_overlap_counts", pred, gold,
      org.apache.spark.sql.functions.lit(maxN),
      org.apache.spark.sql.functions.lit(charLevel))
  def editDistance(a: Column, b: Column, unit: String): Column =
    call_function("edit_distance", a, b,
      org.apache.spark.sql.functions.lit(unit))
  def frequentItemsSketch(tokens: Column, capacity: Int): Column =
    call_function("frequent_items_sketch", tokens,
      org.apache.spark.sql.functions.lit(capacity))
  def damerauDistance(a: Column, b: Column): Column =
    call_function("damerau_distance", a, b)
  def deletionNeighborhoodHashes(text: Column): Column =
    call_function("deletion_neighborhood_hashes", text)
  def jsonFieldTypes(line: Column): Column =
    call_function("json_field_types", line)
  def ngramStrings(text: Column, n: Int): Column =
    call_function("ngram_strings", text,
      org.apache.spark.sql.functions.lit(n))
  def mlmMask(id: Column, text: Column, oneIn: Int): Column =
    call_function("mlm_mask", id, text,
      org.apache.spark.sql.functions.lit(oneIn))
  def adjacentTokenPairs(text: Column, minLen: Int): Column =
    call_function("adjacent_token_pairs", text,
      org.apache.spark.sql.functions.lit(minLen))
  def hashedNgramBuckets(text: Column, buckets: Int): Column =
    call_function("hashed_ngram_buckets", text,
      org.apache.spark.sql.functions.lit(buckets))
  def nfcNormalize(text: Column): Column = call_function("nfc_normalize", text)
  def stripAccents(text: Column): Column = call_function("strip_accents", text)
  def pqEncode(vec: Column, codebook: Column, m: Int, k: Int): Column =
    call_function("pq_encode", vec, codebook,
      org.apache.spark.sql.functions.lit(m), org.apache.spark.sql.functions.lit(k))
  def pqAdcScore(codes: Column, lut: Column, k: Int): Column =
    call_function("pq_adc_score", codes, lut, org.apache.spark.sql.functions.lit(k))
  def sq8Encode(vec: Column, mins: Column, deltas: Column): Column =
    call_function("sq8_encode", vec, mins, deltas)
  def sq8CosScore(codes: Column, flat: Column): Column =
    call_function("sq8_cos_score", codes, flat)
  def cosineLshKeys(vec: Column, bitsPerTable: Int, nTables: Int, seed: Long): Column =
    call_function("cosine_lsh_keys", vec,
      org.apache.spark.sql.functions.lit(bitsPerTable),
      org.apache.spark.sql.functions.lit(nTables),
      org.apache.spark.sql.functions.lit(seed))
  def vectorAvg(vec: Column): Column = call_function("vector_avg", vec)
  def vectorNormalize(vec: Column): Column = call_function("vector_normalize", vec)
  def topKByScore(score: Column, id: Column, k: Int): Column =
    call_function("topk_by_score", score, id, org.apache.spark.sql.functions.lit(k))
  def bloomBuild(keyHash: Column, numBits: Long, numHashes: Int): Column =
    call_function("bloom_build", keyHash,
      org.apache.spark.sql.functions.lit(numBits),
      org.apache.spark.sql.functions.lit(numHashes))
  def bloomMightContain(filter: Column, keyHash: Column): Column =
    call_function("bloom_might_contain", filter, keyHash)

  /** Probe against a broadcast filter registered in
    * [[BloomBroadcastRegistry]] — use for filters past ~100 KB so the
    * bytes ship once per executor, not once per stage per task binary. */
  def bloomProbeBroadcast(tag: String, keyHash: Column): Column =
    call_function("bloom_probe_broadcast",
      org.apache.spark.sql.functions.lit(tag), keyHash)

  /** One Aho-Corasick pass per row against an [[AcRegistry]]-registered
    * broadcast automaton: struct(total_matches, distinct_patterns). */
  def acScan(tag: String, text: Column): Column =
    call_function("ac_scan", org.apache.spark.sql.functions.lit(tag), text)
}

/**
 * SparkSessionExtensions entry point so the functions and every graft
 * plan rewrite ([[graft.plans.GraftRules]]) can be injected via
 * `--conf spark.sql.extensions=graft.functions.GraftExtensions` on a real
 * cluster without any imperative registration call.
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach { case (name, builder, usage) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft.functions.VectorExpressions", null, name, usage,
            "", "", "", "", "", "", "built-in"),
        builder))
    }
    graft.plans.GraftRules.all.foreach { case (_, build) => ext.injectOptimizerRule(build) }
  }
}
