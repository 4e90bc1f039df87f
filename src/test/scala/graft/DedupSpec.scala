package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Similarity, Srp, TextAnalysis}

class DedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the cat sat on the mat and purred loudly today"),
    (2L, "the cat sat on the mat and purred loudly today"), // exact dup of 1
    (3L, "the cat sat on the mat and purred loudly there"), // near dup of 1
    (4L, "completely different words about spark query engines"),
    (5L, "")).toDF("doc_id", "text")

  test("exact duplicates found by content hash, keep lowest id") {
    val dups = Dedup.exactDuplicates(docs).collect()
    assert(dups.length == 1)
    assert(dups(0).getAs[Long]("n_dups") == 2L)
    assert(dups(0).getAs[Long]("keep_id") == 1L)
  }

  test("duplicateSourceMatrix: combinatorial pair counts, unordered source pairs") {
    // one content shared 2x in A, 3x in B, 1x in C; a second content 2x in
    // A only; a unique doc contributes nothing. Expected pairs:
    //   (A,A): C(2,2) + C(2,2) = 1 + 1 = 2
    //   (B,B): C(3,2) = 3
    //   (A,B): 2*3 = 6,  (A,C): 2*1 = 2,  (B,C): 3*1 = 3
    val d = Seq(
      (1L, "same text one", "A"), (2L, "same text one", "A"),
      (3L, "same text one", "B"), (4L, "same text one", "B"),
      (5L, "same text one", "B"), (6L, "same text one", "C"),
      (7L, "other dup", "A"), (8L, "other dup", "A"),
      (9L, "unique snowflake", "C")
    ).toDF("doc_id", "text", "source")
    val m = graft.operators.Dedup.duplicateSourceMatrix(d)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    assert(m == Map(
      ("A", "A") -> 2L, ("B", "B") -> 3L,
      ("A", "B") -> 6L, ("A", "C") -> 2L, ("B", "C") -> 3L))
  }

  test("jaccard: identical docs = 1.0, near-dups high, unrelated absent") {
    val pairs = Dedup.jaccardPairs(docs, k = 1, threshold = 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs((1L, 2L)) == 1.0)
    assert(pairs((1L, 3L)) > 0.7 && pairs((1L, 3L)) < 1.0)
    assert(!pairs.keySet.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("dropExactDuplicates keeps the min-id survivor per content") {
    val survivors = Dedup.dropExactDuplicates(docs).collect()
      .map(_.getLong(0)).sorted
    // docs 1 and 2 are identical -> 1 survives (matching keep_id); the
    // near-dup 3 and distinct 4/5 all stay
    assert(survivors.toSeq == Seq(1L, 3L, 4L, 5L))
    // idempotent, and column set preserved
    val again = Dedup.dropExactDuplicates(Dedup.dropExactDuplicates(docs))
    assert(again.columns.toSeq == docs.columns.toSeq)
    assert(again.count() == 4L)
  }

  test("jaccard df-cap: infinite cap is exact; finite cap drops stop shingles") {
    val exact = Dedup.jaccardPairs(docs, k = 1, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // a large FINITE cap exercises the df groupBy+join branch and must be
    // result-identical to the exact path (no shingle exceeds df 1000 here)
    val capped = Dedup.jaccardPairs(docs, k = 1, threshold = 0.5,
        maxShingleDf = 1000L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(exact == capped)
    // cap df<=2: 'the' appears in docs 1,2,3 -> dropped from the universe;
    // identical docs still jaccard 1.0 over their informative shingles
    val df2 = Dedup.jaccardPairs(docs, k = 1, threshold = 0.5, maxShingleDf = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(df2((1L, 2L)) == 1.0)
    // a cap of 1 removes every shared shingle -> no candidate pairs at all
    assert(Dedup.jaccardPairs(docs, k = 1, threshold = 0.01,
      maxShingleDf = 1).count() == 0L)
  }

  test("winnowing: shared passage guarantees a shared fingerprint") {
    val passage = "alpha beta gamma delta epsilon zeta eta theta" // 8 tokens
    val d = Seq(
      (1L, s"unique opening words here $passage and unrelated tail one"),
      (2L, s"totally different start text $passage with another ending two"),
      (3L, "nothing in common with the others at all whatsoever today"),
      (4L, "tiny"), (5L, "")).toDF("doc_id", "text")
    // k=5, w=4: any shared run of >= k+w-1 = 8 tokens must collide
    val pairs = Dedup.winnowPairs(d, k = 5, w = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
    // fingerprints are ~2/(w+1) of k-grams, never zero for docs >= k tokens
    val fps = Dedup.winnowFingerprints(d, k = 5, w = 4)
      .groupBy("doc_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val nKgrams1 = 8 + passage.split(" ").length - 5 + 1 // doc1: 13 tokens...
    assert(fps(1L) > 0 && fps(1L) < nKgrams1)
    assert(!fps.contains(4L) && !fps.contains(5L)) // < k tokens -> none
    // deterministic across runs (content equality; row order is unspecified)
    assert(Dedup.winnowPairs(d, k = 5, w = 4).collect().toSet ==
      Dedup.winnowPairs(d, k = 5, w = 4).collect().toSet)
  }

  test("minhash signatures: identical docs have identical signatures") {
    val sigs = Dedup.minhashSignatures(docs, shingleK = 1, numPerms = 12)
      .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    assert(sigs(1L) == sigs(2L))
    assert(sigs(1L) != sigs(4L))
  }

  test("minhash LSH surfaces the duplicate pair with sig_sim 1.0") {
    val pairs = Dedup.minhashLshPairs(docs, shingleK = 1, numPerms = 12,
        bands = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs((1L, 2L)) == 1.0)
    assert(!pairs.contains((1L, 4L)) && !pairs.contains((2L, 4L)))
  }

  test("simhash: identical docs equal; near-dups within small hamming distance") {
    val sh = Dedup.simhash(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(1L) == sh(2L))
    def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    assert(hamming(sh(1L), sh(3L)) < hamming(sh(1L), sh(4L)))
  }

  test("fingerprint ignores token order and duplication") {
    val shuffled = Seq(
      (1L, "cat the mat sat purred on loudly the today and the"),
      (2L, "the cat sat on the mat and purred loudly today"))
      .toDF("doc_id", "text")
    val fps = TextAnalysis.fingerprint(shuffled).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fps(1L) == fps(2L))
  }

  test("srp: stable across runs, near-dups closer than unrelated docs") {
    val a = Srp.srpDense(docs, dims = 64).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val b = Srp.srpDense(docs, dims = 64).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(a == b) // deterministic
    assert(a(1L) == a(2L)) // identical docs -> identical embeddings
    def cos(x: Seq[Double], y: Seq[Double]): Double = {
      val d = x.zip(y).map { case (p, q) => p * q }.sum
      d / (math.sqrt(x.map(v => v * v).sum) * math.sqrt(y.map(v => v * v).sum))
    }
    assert(cos(a(1L), a(3L)) > cos(a(1L), a(4L)))
  }

  test("repetition signals separate degenerate from healthy documents") {
    val d = Seq(
      (1L, "spam spam spam spam spam spam"),          // one token repeated
      (2L, "one two three four five six"),            // all distinct
      (3L, "go go go stop go go go stop go go"),      // heavy trigram repeats
      (4L, "hi"),                                     // too short for bigrams
      (5L, "")).toDF("doc_id", "text")
    val sig = TextAnalysis.repetitionSignals(d).collect()
      .map(r => r.getLong(0) -> r).toMap
    // degenerate doc: 5/6 duplicate tokens, single bigram dominates
    assert(sig(1L).getAs[Double]("dup_token_frac") > 0.8)
    assert(sig(1L).getAs[Double]("top_bigram_frac") == 1.0)
    assert(sig(1L).getAs[Double]("dup_trigram_frac") == 1.0)
    // healthy doc: zero repetition everywhere
    assert(sig(2L).getAs[Double]("dup_token_frac") == 0.0)
    assert(sig(2L).getAs[Double]("dup_trigram_frac") == 0.0)
    // trigram repeats detected without total token dominance
    assert(sig(3L).getAs[Double]("dup_trigram_frac") > 0.5)
    // short/empty docs: n-gram fractions are NULL (undefined), never 0
    assert(sig(4L).isNullAt(sig(4L).fieldIndex("top_bigram_frac")))
    assert(sig(5L).getAs[Double]("dup_token_frac") == 0.0)
    assert(sig(5L).isNullAt(sig(5L).fieldIndex("dup_trigram_frac")))
  }

  test("duplicateClusters: min-label components, sizes, multi-hop chains") {
    // components: {1,2,3} via a triangle-free path, {5,6}, and the
    // 4-node CHAIN 7-8-9-10 (diameter 3 -> needs >1 propagation round)
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (7L, 8L), (8L, 9L), (9L, 10L))
      .toDF("id_a", "id_b")
    val got = Dedup.duplicateClusters(pairs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == Map(
      1L -> (1L, 3L), 2L -> (1L, 3L), 3L -> (1L, 3L),
      5L -> (5L, 2L), 6L -> (5L, 2L),
      7L -> (7L, 4L), 8L -> (7L, 4L), 9L -> (7L, 4L), 10L -> (7L, 4L)))
    graft.core.CacheScope.release()
  }

  test("duplicateClusters: both paths agree on int ids, null ids and the schema") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(r => String.valueOf(r.head)).toSeq
    def bothPaths(pairs: org.apache.spark.sql.DataFrame) = {
      val local = Dedup.duplicateClusters(pairs)
      val distributed = Dedup.duplicateClusters(pairs, maxLocalEdges = 0)
      assert(local.schema.map(f => (f.name, f.dataType)) ==
        distributed.schema.map(f => (f.name, f.dataType)))
      assert(rows(local) == rows(distributed))
      rows(local)
    }
    val ints = Seq((1, 2), (2, 3), (7, 5)).toDF("id_a", "id_b")
    assert(bothPaths(ints) == Seq(Seq(1, 1, 3L), Seq(2, 1, 3L),
      Seq(3, 1, 3L), Seq(5, 5, 2L), Seq(7, 5, 2L)))
    // a null id takes the distributed path: the label join hands the null
    // node its neighbour's label and passes nothing on
    val withNull = Seq[(Integer, Integer)]((1, 2), (4, null))
      .toDF("id_a", "id_b")
    assert(bothPaths(withNull) == Seq(Seq(1, 1, 2L), Seq(2, 1, 2L),
      Seq(4, 4, 2L), Seq(null, 4, 2L)))
    graft.core.CacheScope.release()
  }

  test("duplicateClusters: the distributed path throws past maxIter") {
    // a 6-node chain needs more than one propagation round; with
    // maxIter = 1 the distributed path must fail loudly, not return a
    // split component
    val chain = (1L to 5L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val e = intercept[IllegalStateException](
      Dedup.duplicateClusters(chain, maxIter = 1, maxLocalEdges = 0))
    assert(e.getMessage.contains("did not converge in 1 rounds"))
    // the driver path needs no rounds
    assert(Dedup.duplicateClusters(chain, maxIter = 1).count() == 6L)
    graft.core.CacheScope.release()
  }

  test("duplicateClusters: empty pair table yields empty clusters") {
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Dedup.duplicateClusters(empty).count() == 0L)
    graft.core.CacheScope.release()
  }

  test("dropNearDuplicates keeps min-id cluster reps and untouched docs") {
    val all = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"), (5L, "e"),
      (6L, "f")).toDF("doc_id", "text")
    // clusters {1,2,3} and {4,5}: reps 1 and 4 survive; doc 6 is in no
    // pair and passes through untouched
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("id_a", "id_b")
    val kept = Dedup.dropNearDuplicates(all, pairs).collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(1L, 4L, 6L))
    graft.core.CacheScope.release()
  }

  test("decontaminate flags docs sharing eval n-grams, honors minOverlap") {
    val train = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "zeta eta theta iota kappa"),
      (3L, "gamma delta epsilon whatever here also delta epsilon whatever")).toDF("doc_id", "text")
    val eval = Seq((100L, "gamma delta epsilon whatever here")).toDF("doc_id", "text")
    val hits = Dedup.decontaminate(train, eval, n = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // doc 1 shares exactly "gamma delta epsilon"; doc 3 shares three
    // distinct eval 3-grams; doc 2 shares none
    assert(hits == Map(1L -> 1L, 3L -> 3L))
    val strict = Dedup.decontaminate(train, eval, n = 3, minOverlap = 2)
      .collect().map(_.getLong(0)).toSeq
    assert(strict == Seq(3L))
    // shuffle-join fallback (giant eval lists) is result-identical
    val shuffled = Dedup.decontaminate(train, eval, n = 3, broadcastEval = false)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(shuffled == hits)
  }

  test("hammingPairsWide: exact recall vs brute force on near-dup fixtures") {
    import graft.operators.Srp
    // three families: identical pair, one-word-changed pair, unrelated doc
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5
    val docs = Seq(
      (1L, base), (2L, base), // identical -> hamming 0
      (3L, base + " lambda"), // near: one token added
      (4L, "completely different words nothing shared here at all " * 8))
      .toDF("doc_id", "text")
    val wide = Srp.hammingPairsWide(docs, maxDist = 2, dims = 180)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // brute force: per-doc packed words, all-pairs popcount
    val words = Srp.srpBits(docs, dims = 180).collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.sortBy(_.getLong(1)).map(_.getLong(2)).toVector).toMap
    def ham(a: Long, b: Long): Long =
      words(a).zip(words(b)).map { case (x, y) =>
        java.lang.Long.bitCount(x ^ y).toLong }.sum
    val expect = (for {
      a <- words.keys; b <- words.keys if a < b
      d = ham(a, b) if d <= 2
    } yield (a, b) -> d).toMap
    assert(wide == expect, s"wide=$wide expect=$expect")
    assert(wide((1L, 2L)) == 0L) // the identical pair always survives
    assert(expect.contains((1L, 3L)) == wide.contains((1L, 3L)))
    // pigeonhole guard: too few words for the band count fails fast
    intercept[IllegalArgumentException] {
      Srp.hammingPairsWide(docs, maxDist = 3, dims = 180)
    }
    graft.core.CacheScope.release()
  }

  test("contaminationReport: fractions incl. clean docs, consistent with decontaminate") {
    val train = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "zeta eta theta iota kappa"),
      (3L, "gamma delta epsilon whatever here also delta epsilon whatever")).toDF("doc_id", "text")
    val eval = Seq((100L, "gamma delta epsilon whatever here")).toDF("doc_id", "text")
    val rep = Dedup.contaminationReport(train, eval, n = 3).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    // doc 1: 3 distinct 3-grams, 1 shared; doc 2: 3, 0 shared (CLEAN row
    // present); doc 3: 7 windows but "delta epsilon whatever" repeats ->
    // 6 distinct, 3 shared
    assert(rep(1L) == ((3L, 1L, 0.333333)))
    assert(rep(2L) == ((3L, 0L, 0.0)))
    assert(rep(3L) == ((6L, 3L, 0.5)))
    // n_hits agrees with decontaminate's shared_ngrams on flagged docs
    val flags = Dedup.decontaminate(train, eval, n = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    flags.foreach { case (id, shared) => assert(rep(id)._2 == shared) }
    graft.core.CacheScope.release()
  }

  test("repeatedSubstringSpans: exact boundaries, offset-free, no false spans") {
    // the planted 30-char copy sits at DIFFERENT offsets in docs 1 and 2 —
    // the boundary-free property chunk-aligned dedup lacks
    val copy = "zqxjvkwpfyghmbntrlscdzeuioazq1" // 30 chars, no self-overlap
    val d1 = "ABCD " + copy + " EFGH"            // shared region " copy " @ 5
    val d2 = "IJKLMNOPQRST " + copy + " U"       // shared region " copy " @ 13
    val d3 = "totally unrelated text with no repeats at all here ok"
    val df = Seq((1L, d1), (2L, d2), (3L, d3),
      (4L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val spans = Dedup.repeatedSubstringSpans(df, L = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // the CROSS-DOC shared substring is " " + copy + " " (32 chars — the
    // flanking spaces are genuinely shared too): 23 repeated 10-grams,
    // one maximal span covering exactly those 32 characters in each doc
    val s1 = spans.filter(_._1 == 1L)
    val s2 = spans.filter(_._1 == 2L)
    assert(s1.length == 1 && s2.length == 1)
    assert(s1.head == ((1L, 5L, 36L, 23L)), s1.head.toString)
    assert(s2.head == ((2L, 13L, 44L, 23L)), s2.head.toString)
    assert(!spans.exists(_._1 == 3L)) // no repeats -> no rows
    assert(!spans.exists(_._1 == 4L)) // null text dropped
  }

  test("repeatedSubstringSpans keepFirst: first occurrence survives a cut") {
    val copy = "zqxjvkwpfyghmbntrlscdzeuioazq1"
    val d1 = "ABCD " + copy + " EFGH"
    val d2 = "IJKLMNOPQRST " + copy + " U"
    val docs = Seq((1L, d1), (2L, d2)).toDF("doc_id", "text")
    val spans = Dedup.repeatedSubstringSpans(docs, L = 10, keepFirst = true)
    // doc 1 holds every gram's corpus-first occurrence -> exempt entirely;
    // doc 2's copy region is the only removable span
    val out = Dedup.removeSpans(docs, spans).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(out(1L) == ((d1, 0L)))
    assert(out(2L) == (("IJKLMNOPQRSTU", 32L)))
  }

  test("removeSpans: stitched remainder, pass-through, null preserved") {
    val copy = "zqxjvkwpfyghmbntrlscdzeuioazq1"
    val d1 = "ABCD " + copy + " EFGH"
    val d2 = "IJKLMNOPQRST " + copy + " U"
    val d3 = "totally unrelated text with no repeats at all here ok"
    val docs = Seq((1L, d1), (2L, d2), (3L, d3),
      (4L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val spans = Dedup.repeatedSubstringSpans(docs, L = 10)
    val out = Dedup.removeSpans(docs, spans).collect()
      .map(r => r.getLong(0) -> (Option(r.getString(1)), r.getLong(2))).toMap
    // the shared region " copy " (32 chars incl. flanking spaces) is cut
    assert(out(1L) == ((Some("ABCDEFGH"), 32L)))
    assert(out(2L) == ((Some("IJKLMNOPQRSTU"), 32L)))
    assert(out(3L) == ((Some(d3), 0L))) // span-free: byte-identical
    assert(out(4L) == ((None, 0L)))     // null text stays null
  }

  test("decontaminateBloom is bit-identical to the exact path") {
    // no false negatives (Bloom) + exact confirm join (kills false
    // positives) => identical output; the pre-filter only changes how
    // many rows reach the join. Checked on real sf0.001 documents AND
    // under a deliberately tiny (collision-heavy) filter geometry, where
    // the false-positive rate is high and only the confirm join saves it.
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val train = docs.filter($"doc_id" % 31 =!= 0)
    val eval = docs.filter($"doc_id" % 31 === 0)
    val exact = Dedup.decontaminate(train, eval, n = 8).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bloomed = Dedup.decontaminateBloom(train, eval, n = 8).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(exact.nonEmpty)
    assert(bloomed == exact)
    val collisionHeavy = Dedup.decontaminateBloom(train, eval, n = 8,
        numBits = 32, numHashes = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(collisionHeavy == exact)
  }

  test("fuzzyPairs: blocked levenshtein pairs, band prune, null-safe blocks") {
    val names = Seq(
      (1L, "cold widget"), (2L, "bold widget"),  // dist 1, same block
      (3L, "cold gadget"),                       // other block: never paired
      (4L, "colder widget"),                     // dist 2 from "cold widget"
      (5L, "cold widget"),                       // exact dup: minDist=1 drops
      (6L, null.asInstanceOf[String]),           // null string -> null block
      (7L, "widget")).toDF("doc_id", "text")     // dist 5 from cold: too far
    val pairs = Dedup.fuzzyPairs(names,
        blockKey = regexp_extract(col("text"), "(\\w+)$", 1),
        maxDist = 2, minDist = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(4)).toMap
    assert(pairs((1L, 2L)) == 1L)
    assert(pairs((1L, 4L)) == 2L)
    // "bold widget"~"colder widget" is dist 3: band-pruned IN (len diff 2)
    // but DP-filtered OUT — the prune is a superset of the match set
    assert(!pairs.contains((2L, 4L)))
    assert(pairs((2L, 5L)) == 1L)                // dup-of-1 still pairs with 2
    assert(!pairs.keySet.exists { case (a, b) => a == 1L && b == 5L }) // exact
    assert(!pairs.keySet.exists { case (a, b) =>
      Set(a, b).intersect(Set(3L, 6L, 7L)).nonEmpty })
    // minDist=0 admits the exact-equal pair too
    val withExact = Dedup.fuzzyPairs(names,
        blockKey = regexp_extract(col("text"), "(\\w+)$", 1),
        maxDist = 2, minDist = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(4)).toMap
    assert(withExact((1L, 5L)) == 0L)
  }

  test("redaction scrubs emails, urls, long numbers; counts audit them") {
    val d = Seq((1L,
      "mail me at a.user+x@site-two.org or see https://ex.com/p?q=1 id 12345678 ok 123"))
      .toDF("doc_id", "text")
    val redacted = d.select(TextAnalysis.redact(col("text"))).as[String].head()
    assert(redacted ==
      "mail me at <EMAIL> or see <URL> id <NUM> ok 123") // short number kept
    val audit = TextAnalysis.redactionAudit(d).collect()(0)
    assert(audit.getAs[Long]("n_emails") == 1L)
    assert(audit.getAs[Long]("n_urls") == 1L)
    assert(audit.getAs[Long]("n_longnums") == 1L)
  }

  test("dedupSpans keeps exactly the first corpus-wide occurrence of a span") {
    val spans = Seq(
      (1L, 0L, "alpha beta"), (1L, 1L, "gamma delta"),
      (2L, 0L, "gamma delta"), (2L, 1L, "epsilon zeta"),
      (3L, 0L, "alpha beta"), (3L, 1L, "alpha beta"), // dup within doc too
      (3L, 2L, "unique tail")).toDF("doc_id", "chunk_id", "chunk_text")
    val keep = Dedup.dedupSpans(spans).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getBoolean(3)).toMap
    assert(keep == Map(
      (1L, 0L) -> true, (1L, 1L) -> true,
      (2L, 0L) -> false, (2L, 1L) -> true,
      (3L, 0L) -> false, (3L, 1L) -> false, (3L, 2L) -> true))
  }

  test("reassembleSpans rebuilds in span order; all-dropped doc -> empty text") {
    val marked = Seq(
      (1L, 2L, "c", true), (1L, 1L, "b", false), (1L, 0L, "a", true),
      (2L, 0L, "x", false))
      .toDF("doc_id", "chunk_id", "chunk_text", "keep")
    val out = Dedup.reassembleSpans(marked).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    assert(out(1L) == ("a c", 2L, 1L))
    assert(out(2L) == ("", 0L, 1L))
  }

  test("dedupLines drops repeated long lines, keeps short boilerplate") {
    val d = Seq(
      (1L, "the quick brown fox jumps over\n--\nunique first line"),
      (2L, "the quick brown fox jumps over\n--\nits own second line"))
      .toDF("doc_id", "text")
    val out = Dedup.dedupLines(d, minChars = 5).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    // doc 1 keeps everything; doc 2 loses the repeated long line but keeps
    // the sub-minChars "--" separator
    assert(out(1L) == ("the quick brown fox jumps over\n--\nunique first line", 3L, 0L))
    assert(out(2L) == ("--\nits own second line", 2L, 1L))
  }

  test("row-local MinHash signatures == groupBy signatures (streaming contract)") {
    // NearDupStream computes signatures row-locally (array_min over the
    // transformed shingle array) so the streaming query keeps to one
    // stateful operator; the values must equal the batch explode+groupBy
    // signatures exactly, for both shingle widths and on edge docs
    // (empty text, fewer tokens than the shingle width, unicode).
    val spark2 = TestSpark.spark
    import spark2.implicits._
    val docs = spark2.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
      .unionAll(Seq((100001L, ""), (100002L, "one"),
        (100003L, "два слова всего"), (100004L, "a b")).toDF("doc_id", "text"))
    for (k <- Seq(1, 3)) {
      val batch = graft.operators.Dedup
        .minhashSignatures(docs, shingleK = k, numPerms = 12)
        .collect()
        .map(r => r.getLong(0) -> (1 to 12).map(i => r.getLong(i)).toVector)
        .toMap
      val rowLocal = graft.streaming.NearDupStream
        .rowLocalSignatures(docs, shingleK = k, numPerms = 12)
        .collect()
        .map(r => r.getLong(0) -> r.getSeq[Long](1).toVector).toMap
      assert(rowLocal == batch, s"signature mismatch at shingleK=$k")
      assert(batch.nonEmpty && !batch.contains(100001L),
        "empty doc must be absent from both")
    }
    graft.core.CacheScope.release()
  }
}
