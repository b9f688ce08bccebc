package graft.operators

import graft.SparkFunSuite
import org.apache.spark.sql.functions._

class DedupSpec extends SparkFunSuite {

  private lazy val docs = spark.read.parquet(s"$Sf0001/documents.parquet")

  private def toyDocs = {
    import spark.implicits._
    Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the cat sat on the mat"),   // exact dup of 1
      (3L, "the cat sat on the rug"),   // near dup
      (4L, "completely different text here"),
      (5L, "the cat sat on the mat")    // exact dup of 1
    ).toDF("doc_id", "text")
  }

  test("exactGroups: counts and keep-first ids") {
    val g = Dedup.exactGroups(toyDocs, "doc_id", col("text"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(g === Set(
      ("the cat sat on the mat", 3L, 1L),
      ("the cat sat on the rug", 1L, 3L),
      ("completely different text here", 1L, 4L)))
  }

  test("dedupKeepFirst keeps exactly one row per key — the min id") {
    val kept = Dedup.dedupKeepFirst(toyDocs, "doc_id", col("text"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L, 3L, 4L))
  }

  test("blockedJaccardPairs: hand-computed jaccard on the toy set") {
    // block key = first 16 chars = "the cat sat on t" for docs 1,2,3,5
    val pairs = Dedup.blockedJaccardPairs(toyDocs, "doc_id", "text",
      blockLen = 16, threshold = 0.0)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs((1L, 2L)) === 1.0)
    assert(pairs((1L, 5L)) === 1.0)
    // {the,cat,sat,on,mat} vs {the,cat,sat,on,rug}: |∩|=4, |∪|=6,
    // rounded to the default 6-decimal score scale
    assert(pairs((1L, 3L)) === 0.666667)
    assert(!pairs.contains((1L, 4L))) // different block
  }

  test("minhash LSH finds all high-jaccard pairs on real data (recall@0.95 = 1)") {
    // Ground truth by brute force on sf0.001 (500 docs — test-only),
    // over the SAME metric the signature estimates: shingle-set jaccard.
    graft.functions.GraftFunctions.register(spark)
    val base = docs.select(col("doc_id").as("id"),
      Dedup.shingleSet(col("text")).as("toks"))
    val a = base.alias("a"); val b = base.alias("b")
    val truth = a.join(b, col("a.id") < col("b.id"))
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"),
        (size(array_intersect(col("a.toks"), col("b.toks"))).cast("double") /
          size(array_union(col("a.toks"), col("b.toks")))).as("j"))
      .filter(col("j") >= 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty, "fixture should contain near-dup pairs")
    val found = Dedup.minHashPairs(docs, "doc_id", "text",
      bands = 8, rowsPerBand = 4, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.subsetOf(found),
      s"missed: ${(truth -- found).take(5)} of ${truth.size}")
  }

  test("minhash pairs report exact (verified) jaccard, not an estimate") {
    val pairs = Dedup.minHashPairs(toyDocs, "doc_id", "text", threshold = 0.99)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs.get((1L, 2L)).contains(1.0))
    assert(pairs.get((1L, 5L)).contains(1.0))
  }

  test("hammingNearPairs: pigeonhole recall 1 within maxHamming, none beyond") {
    import spark.implicits._
    val base = 0x0123456789abcdefL
    val rows = Seq(
      (1L, base),
      (2L, base ^ 1L),                      // hamming 1
      (3L, base ^ ((1L << 5) | (1L << 40) | (1L << 63))), // hamming 3
      (4L, base ^ ((1L << 1) | (1L << 17) | (1L << 33) | (1L << 49))), // 4: one flip PER block
      (5L, ~base)                           // hamming 64
    ).toDF("id", "h")
    val got = Dedup.hammingNearPairs(rows, "id", "h", nBlocks = 4, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // all pairs within hamming <= 3 found (pigeonhole: some block intact),
    // including the (2,3) pair at hamming 4 NOT reported, and id 4 —
    // differing in every block from base — correctly absent vs 1
    assert(got.contains((1L, 2L, 1L)))
    assert(got.contains((1L, 3L, 3L)))
    assert(!got.exists(p => p._1 == 4L || p._2 == 4L))
    assert(!got.exists(p => p._1 == 5L || p._2 == 5L))
    // exhaustive check vs brute force
    val all = Seq(1L -> base, 2L -> (base ^ 1L),
      3L -> (base ^ ((1L << 5) | (1L << 40) | (1L << 63))),
      4L -> (base ^ ((1L << 1) | (1L << 17) | (1L << 33) | (1L << 49))),
      5L -> ~base)
    val brute = (for {
      (i, hi) <- all; (j, hj) <- all if i < j
      d = java.lang.Long.bitCount(hi ^ hj) if d <= 3
    } yield (i, j, d.toLong)).toSet
    assert(got === brute)
  }

  test("hammingNearPairs: randomized exhaustive equality with brute force") {
    import spark.implicits._
    for (seed <- Seq(11L, 42L)) {
      val rnd = new scala.util.Random(seed)
      // random hashes plus planted near-dups at distances 1..4
      val base = Seq.fill(30)(rnd.nextLong())
      val planted = base.take(8).zipWithIndex.map { case (h, i) =>
        var x = h
        (0 to i % 4).foreach(_ => x ^= (1L << rnd.nextInt(64)))
        x
      }
      val all = (base ++ planted).zipWithIndex.map { case (h, i) => (i.toLong, h) }
      val got = Dedup.hammingNearPairs(all.toDF("id", "h"), "id", "h",
        nBlocks = 4, maxHamming = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val brute = (for {
        (i, hi) <- all; (j, hj) <- all if i < j
        d = java.lang.Long.bitCount(hi ^ hj) if d <= 3
      } yield (i, j, d.toLong)).toSet
      assert(got === brute, s"seed=$seed")
      assert(brute.nonEmpty, s"seed=$seed fixture must plant near pairs")
    }
  }

  test("hammingNearPairsWide: exhaustive equality with brute force, planted distances") {
    import spark.implicits._
    for (seed <- Seq(7L, 101L)) {
      val rnd = new scala.util.Random(seed)
      val base = Seq.fill(30)(rnd.nextLong())
      val planted = base.take(8).zipWithIndex.map { case (h, i) =>
        var x = h
        (0 to i % 4).foreach(_ => x ^= (1L << rnd.nextInt(64)))
        x
      }
      val all = (base ++ planted).zipWithIndex.map { case (h, i) => (i.toLong, h) }
      val brute = (for {
        (i, hi) <- all; (j, hj) <- all if i < j
        d = java.lang.Long.bitCount(hi ^ hj) if d <= 3
      } yield (i, j, d.toLong)).toSet
      assert(brute.nonEmpty, s"seed=$seed fixture must plant near pairs")
      // default 6-block/20-table geometry AND a non-dividing geometry
      // (64 bits over 5 blocks → widths 13/13/13/13/12)
      for ((b, k) <- Seq((6, 3), (5, 3), (4, 2))) {
        val got = Dedup.hammingNearPairsWide(all.toDF("id", "h"), "id", "h",
          nBlocks = b, maxHamming = k)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        val bruteK = brute.filter(_._3 <= k)
        assert(got === bruteK, s"seed=$seed blocks=$b maxHamming=$k")
      }
    }
  }

  test("hammingNearPairsWide: sub-64-bit fingerprints and viral-bucket cap") {
    import spark.implicits._
    // 48-bit hashes (image aHash width): top 16 bits constant zero must
    // not become a universal collision key.
    val rnd = new scala.util.Random(3L)
    val hs = Seq.fill(40)(rnd.nextLong() & ((1L << 48) - 1))
    // planted: hamming-2 off hs(0) (id 40) and hamming-2 off hs(1) (id 41)
    val all = (hs ++ Seq(hs.head ^ 5L, hs(1) ^ 3L))
      .zipWithIndex.map { case (h, i) => (i.toLong, h) }
    val got = Dedup.hammingNearPairsWide(all.toDF("id", "h"), "id", "h",
      nBlocks = 6, maxHamming = 3, bits = 48)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val brute = (for {
      (i, hi) <- all; (j, hj) <- all if i < j
      d = java.lang.Long.bitCount(hi ^ hj) if d <= 3
    } yield (i, j, d.toLong)).toSet
    assert(got === brute)
    assert(got.exists(p => p._2 === 40L)) // planted pair (0, 40)
    assert(got.exists(p => p._2 === 41L)) // planted pair (1, 41)
    // viral value: 500 identical copies of hs(0) collide in EVERY
    // table; the cap drops those buckets wholesale (including the
    // organic (0, 40) pair whose every bucket went viral — exact-dedup
    // territory), while the untouched (1, 41) pair survives.
    val viral = (100L until 600L).map(i => (i, hs.head))
    val capped = Dedup.hammingNearPairsWide(
      (all ++ viral).toDF("id", "h"), "id", "h",
      nBlocks = 6, maxHamming = 3, bits = 48, maxBucket = Some(64))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.forall { case (a, b) => a < 100L && b < 100L })
    assert(capped.contains((1L, 41L)))
  }

  test("simhashGroups: identical texts collide, distinct text does not appear") {
    val g = Dedup.simhashGroups(toyDocs, "doc_id", "text")
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    // one group: docs 1,2,5 (and possibly 3 if simhash-equal — it is not,
    // since token multisets differ in one token of five)
    assert(g.exists { case (n, keep) => n >= 3L && keep === 1L })
  }

  test("maxBucket drops viral blocks, keeps small ones (bounded candidates)") {
    import spark.implicits._
    // one viral 10-row block + one small 2-row block under a 16-char key
    val viral = (1 to 10).map(i => (i.toLong, s"xxxxxxxxxxxxxxxx viral copy $i"))
    val small = Seq((100L, "yyyyyyyyyyyyyyyy near dup one"),
      (101L, "yyyyyyyyyyyyyyyy near dup two"))
    val d = (viral ++ small).toDF("doc_id", "text")
    val uncapped = Dedup.blockedJaccardPairs(d, "doc_id", "text",
      blockLen = 16, threshold = 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = Dedup.blockedJaccardPairs(d, "doc_id", "text",
      blockLen = 16, threshold = 0.0, maxBucket = Some(5))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.size === 45 + 1) // C(10,2) viral pairs + the small pair
    assert(capped === Set((100L, 101L))) // viral block dropped wholesale
  }

  test("maxBucket bounds minhash band buckets too") {
    import spark.implicits._
    // 6 identical docs: every band bucket holds all 6 rows
    val d = (1 to 6).map(i => (i.toLong, "the same viral text again and again"))
      .toDF("doc_id", "text")
    val uncapped = Dedup.minHashPairs(d, "doc_id", "text", threshold = 0.0).count()
    val capped = Dedup.minHashPairs(d, "doc_id", "text", threshold = 0.0,
      maxBucket = Some(3)).count()
    assert(uncapped === 15L) // C(6,2)
    assert(capped === 0L)
  }

  test("no all-pairs join in the LSH plan (candidates come from bucket equality)") {
    val plan = Dedup.minHashPairs(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("incrementalNew: only fingerprints unseen in the historical corpus survive") {
    import spark.implicits._
    val old = Seq((1L, "alpha beta"), (2L, "gamma delta")).toDF("doc_id", "text")
    val batch = Seq((10L, "alpha beta"), (11L, "fresh content"), (12L, "gamma delta"))
      .toDF("doc_id", "text")
    val key = graft.operators.TextAnalysis.fingerprint(org.apache.spark.sql.functions.col("text"))
    val got = Dedup.incrementalNew(batch, old, "doc_id", key, key)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got === Set(11L))
    // slim anti join, no cartesian
    val plan = Dedup.incrementalNew(batch, old, "doc_id", key, key)
      .queryExecution.executedPlan.toString
    assert(plan.contains("LeftAnti"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("curation pipeline: each gate removes what it should, in order") {
    import spark.implicits._
    val docs = Seq(
      // high quality, unique
      (1L, "the cat and the hat sat on a mat with the other cat and a rat today here now", "en"),
      // exact duplicate of 1 -> removed by exact dedup
      (2L, "the cat and the hat sat on a mat with the other cat and a rat today here now", "en"),
      // near-dup of 1 (same prefix block, one token changed) -> removed by near-dup gate
      (3L, "the cat and the hat sat on a mat with the other cat and a rat today here soon", "en"),
      // junk -> removed by the quality gate (no stopwords, punct-heavy)
      (4L, "!!! ### $$$ %%% ^^^ &&& *** ((( ))) @@@ ~~~ ||| ::: ;;; ,,, ...", "xx")
    ).toDF("doc_id", "text", "lang")
    val kept = CurationPipeline.curate(docs, "doc_id", "text", minQuality = 0.75)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L))
    val stats = CurationPipeline.curationStats(docs, "doc_id", "text", minQuality = 0.75)
      .head
    assert((stats.getLong(0), stats.getLong(1), stats.getLong(2), stats.getLong(3)) ===
      ((4L, 3L, 2L, 1L)))
  }

  test("curation pipeline: a NULL-id document survives, quality is the last column") {
    import spark.implicits._
    val docs = Seq[(Option[Long], String, String)](
      (Some(1L), "the cat and the hat sat on a mat with the other cat and a rat today here now", "en"),
      (None, "a dog and the fox ran to the barn with the other dog and a hen this morning", "en")
    ).toDF("doc_id", "text", "lang")
    val out = CurationPipeline.curate(docs, "doc_id", "text", minQuality = 0.75)
    assert(out.columns.toSeq === Seq("doc_id", "text", "lang", "quality"))
    val kept = out.select("doc_id").collect().map(r => Option(r.get(0))).toSet
    assert(kept === Set(Some(1L), None))
  }

  test("contamination check: counts shared shingles per (train, eval) pair, hand-computed") {
    import spark.implicits._
    val train = Seq(
      (1L, "the quick brown fox jumps over the dog"), // shares 3-grams with eval 10
      (2L, "completely different content here now"))
      .toDF("doc_id", "text")
    val eval = Seq(
      (10L, "the quick brown fox runs away"), // shingles: {the quick brown, quick brown fox, ...}
      (11L, "nothing in common at all")).toDF("doc_id", "text")
    val got = ContaminationCheck.ngramOverlap(train, eval, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // overlap = {"the quick brown", "quick brown fox"} → exactly 2
    assert(got === Seq((1L, 10L, 2L)))
  }

  test("contamination by source: per-stratum counts and rates, clean strata zero") {
    import spark.implicits._
    val train = Seq(
      (1L, "the quick brown fox jumps over the dog", "crawl"),
      (2L, "completely different content here now", "crawl"),
      (3L, "unrelated curated material entirely", "books"))
      .toDF("doc_id", "text", "source")
    val eval = Seq((10L, "the quick brown fox runs away"))
      .toDF("doc_id", "text")
    val got = ContaminationCheck.overlapBySource(
      train, eval.withColumn("source", lit("e")), "doc_id", "text", "source",
      minShingles = 2L)
      .orderBy("source")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq === Seq(
      ("books", 1L, 0L, 0.0),
      ("crawl", 2L, 1L, 0.5)))
  }

  test("semanticOverlap: equals the exact train×eval join; ties break to lowest eval id") {
    import graft.functions.GraftFunctions
    GraftFunctions.register(spark)
    val emb = spark.read.parquet(s"$Sf0001/embeddings.parquet")
    val train = emb.filter(col("vec_id") >= 50)
    val evalSet = emb.filter(col("vec_id") < 50)
    val got = ContaminationCheck.semanticOverlap(train, evalSet,
      "vec_id", "embedding", threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    // exact quadratic join computed with the engine's own cosine kernel
    val exact = train.select(col("vec_id").as("tid"), col("embedding").as("tv"))
      .crossJoin(evalSet.select(col("vec_id").as("eid"), col("embedding").as("ev")))
      .select(col("tid"), col("eid"),
        round(GraftFunctions.knnCosineSimilarity(col("tv"), col("ev")), 6).as("s"))
      .filter(col("s") >= 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val brute = exact.groupBy(_._1).map { case (tid, hits) =>
      val best = hits.minBy { case (_, eid, s) => (-s, eid) }
      (tid, hits.length.toLong, best._2, hits.map(_._3).max)
    }.toSet
    assert(got === brute)
    assert(got.nonEmpty)
    // the viral-bucket cap is plumbed through the between-join
    val capped = ContaminationCheck.semanticOverlap(train, evalSet,
      "vec_id", "embedding", threshold = 0.4, maxBucket = Some(1))
    assert(capped.count() === 0L) // every bucket has > 1 row ⇒ all dropped
  }

  test("duplicateNgramStats: hand-computed duplicated-span fractions") {
    import spark.implicits._
    // n = 3 grams. doc 1 and doc 2 share their first 4 tokens
    // ("a b c d" → grams "a b c", "b c d"); the rest differs.
    val docs = Seq(
      (1L, "a b c d x y z"),   // grams: abc bcd cdx dxy xyz  (5) — 2 dup
      (2L, "a b c d p q"),     // grams: abc bcd cdp dpq      (4) — 2 dup
      (3L, "u v w u v w"),     // intra-doc repeat only: uvw vwu wuv uvw — no cross-doc dup
      (4L, "t s")              // shorter than n → 0 grams
    ).toDF("doc_id", "text")
    val got = Dedup.duplicateNgramStats(docs, "doc_id", "text", n = 3, minDocs = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)
    assert(got.toSeq === Seq(
      (1L, 5L, 2L, 0.4),
      (2L, 4L, 2L, 0.5),
      (3L, 4L, 0L, 0.0),   // "uvw" twice IN ONE doc is not cross-document
      (4L, 0L, 0L, 0.0)))  // too short: 0/0 reports 0.0, row not dropped
  }

  test("removeDuplicateSpans: covered tokens cut, remainder reassembled in order") {
    import spark.implicits._
    // n = 3: docs 1 and 2 share "a b c d" → duplicated grams "a b c"
    // (covers pos 0-2) and "b c d" (covers pos 1-3) → positions 0-3 cut
    // in both docs; each doc keeps its own tail.
    val docs = Seq(
      (1L, "a b c d x y z"),
      (2L, "a b c d p q"),
      (3L, "u v w"),   // unique 3-gram, nothing cut
      (4L, "t s")      // shorter than n, untouched
    ).toDF("doc_id", "text")
    val got = Dedup.removeDuplicateSpans(docs, "doc_id", "text", n = 3, minDocs = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .sortBy(_._1)
    assert(got.toSeq === Seq(
      (1L, 7L, 4L, "x y z"),
      (2L, 6L, 4L, "p q"),
      (3L, 3L, 0L, "u v w"),
      (4L, 2L, 0L, "t s")))
  }

  test("removeDuplicateSpans: exact duplicates collapse to empty text") {
    import spark.implicits._
    val docs = Seq(
      (1L, "one two three four"),
      (2L, "one two three four"),
      (3L, "five six seven eight")).toDF("doc_id", "text")
    val got = Dedup.removeDuplicateSpans(docs, "doc_id", "text", n = 4, minDocs = 2)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getString(3))).sortBy(_._1)
    assert(got.toSeq === Seq(
      (1L, 4L, ""), (2L, 4L, ""), (3L, 0L, "five six seven eight")))
  }

  test("duplicateNgramStats: exact duplicates score 1.0, disjoint docs 0.0") {
    import spark.implicits._
    val docs = Seq(
      (1L, "one two three four five six"),
      (2L, "one two three four five six"),
      (3L, "seven eight nine ten eleven")).toDF("doc_id", "text")
    val got = Dedup.duplicateNgramStats(docs, "doc_id", "text", n = 4, minDocs = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(3))).sortBy(_._1)
    assert(got.toSeq === Seq((1L, 1.0), (2L, 1.0), (3L, 0.0)))
  }

  test("semanticKeepVerdict: chains collapse to one kept copy, singletons keep themselves") {
    import spark.implicits._
    val corpus = Seq(1L, 2L, 3L, 4L, 5L).toDF("vec_id")
    // pair graph: 1~2, 2~3 (a chain — 1 and 3 are NOT directly paired), 4~5
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("a_id", "b_id")
    val got = Dedup.semanticKeepVerdict(corpus, "vec_id", pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).sortBy(_._1)
    assert(got.toSeq === Seq(
      (1L, 1L, true), (2L, 1L, false), (3L, 1L, false), // transitive: 3 dedups to 1
      (4L, 4L, true), (5L, 4L, false)))
  }

  test("removeDuplicateSpans: null ids excluded, null text counts zero tokens") {
    import spark.implicits._
    val docs = Seq(
      (java.lang.Long.valueOf(1L), "one two three four"),
      (java.lang.Long.valueOf(2L), "one two three four"),
      (null.asInstanceOf[java.lang.Long], "one two three four"),
      (java.lang.Long.valueOf(4L), null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val got = Dedup.removeDuplicateSpans(docs, "doc_id", "text", n = 4, minDocs = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .sortBy(_._1)
    // the null-id row never enters the rebuild, so it must not surface
    // in the output as "fully removed"; null text is 0 tokens, not the
    // legacy size(null) = -1 sentinel.
    assert(got.toSeq === Seq(
      (1L, 4L, 4L, ""), (2L, 4L, 4L, ""), (4L, 0L, 0L, "")))
  }

  test("keepBestVerdict: string ids — tie-break is still lowest id, deterministic") {
    import spark.implicits._
    // negate(string) casts to NULL, so the old max_by(id, (score, -id))
    // tie-break picked an arbitrary member for string ids. All three
    // scores tie here; the kept id must be the lexicographically lowest.
    val corpus = Seq(("docB", 5L), ("docC", 5L), ("docA", 5L))
      .toDF("doc_id", "quality")
    val pairs = Seq(("docA", "docB"), ("docB", "docC")).toDF("a_id", "b_id")
    val got = Dedup.keepBestVerdict(corpus, "doc_id", col("quality"), pairs)
      .collect().map(r => (r.getString(0), r.getString(1), r.getBoolean(2)))
      .sortBy(_._1)
    assert(got.toSeq === Seq(
      ("docA", "docA", true), ("docB", "docA", false), ("docC", "docA", false)))
  }

  test("keepBestVerdict: highest score wins, ties break to lowest id, singletons survive") {
    import spark.implicits._
    val corpus = Seq(
      (1L, 10L), (2L, 30L), (3L, 20L),  // chain cluster: 2 has the best score
      (4L, 7L), (5L, 7L),               // tied cluster: min id 4 wins
      (6L, 1L)                          // singleton
    ).toDF("doc_id", "quality")
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("a_id", "b_id")
    val got = Dedup.keepBestVerdict(corpus, "doc_id", col("quality"), pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).sortBy(_._1)
    assert(got.toSeq === Seq(
      (1L, 2L, false), (2L, 2L, true), (3L, 2L, false),
      (4L, 4L, true), (5L, 4L, false),
      (6L, 6L, true)))
  }
}
