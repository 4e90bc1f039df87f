package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Catalog
import graft.operators.{FlatCatalog, Multimodal, Sampling, Srp, TextOps, TextRanking}

/** Edge cases from the reference's test contract (tests/test_metadata.py
  * messy inputs, mixed-precision dates, alternate id fields) plus
  * big-document robustness. */
class EdgeCasesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("id preference order: @id beats id beats filename beats first column") {
    val all = Seq(("x", "y", "z", "w")).toDF("filename", "id", "@id", "other")
    assert(Catalog.inferIdField(all) == "@id")
    assert(Catalog.inferIdField(all.drop("@id")) == "id")
    assert(Catalog.inferIdField(all.drop("@id", "id")) == "filename")
    assert(Catalog.inferIdField(all.select("other")) == "other")
  }

  test("messy 'NA' strings make a numeric column string-typed, not an error") {
    val path = java.nio.file.Files.createTempFile("na", ".ndjson")
    java.nio.file.Files.writeString(path,
      """{"id": "1", "year": 1995}
        |{"id": "2", "year": "NA"}
        |""".stripMargin)
    val cat = Catalog.withId(Catalog.loadNdjson(spark, path.toString))
    // mixed number/string infers string; best-form keeps it readable
    val planned = Catalog.applyPlan(cat, Catalog.planColumns(cat))
    assert(planned.schema("year").dataType == StringType)
    assert(planned.count() == 2)
  }

  test("date heuristic: sub-95% full-date match ratio stays string") {
    // mixed precision like the ia.ndjson fixture: '1878-10-12' vs '1955-03'
    val df = Seq(("1", "1878-10-12"), ("2", "1955-03"), ("3", "1990-01"))
      .toDF("@id", "date")
    val plan = Catalog.planColumns(df)
    assert(plan.find(_.name == "date").get.target == StringType)
    // and >95%: all full dates -> DateType
    val df2 = Seq(("1", "1878-10-12"), ("2", "1955-03-01")).toDF("@id", "date")
    assert(Catalog.planColumns(df2).find(_.name == "date").get.target == DateType)
  }

  test("big document: 200k tokens flow through tokenize/ngrams/chunks") {
    val big = (1 to 200000).map(i => s"w${i % 997}").mkString(" ")
    val docs = Seq((1L, big)).toDF("doc_id", "text")
    assert(TextOps.documentLengths(docs).head().getLong(1) == 200000L)
    assert(TextOps.bigrams(docs).agg(sum("count")).as[Long].head() == 199999L)
    val chunks = TextOps.tokenChunks(docs, 2048, 64)
    assert(chunks.agg(sum("n_tokens")).as[Long].head() >= 200000L)
  }

  test("srpBits signs agree with srpFlat values") {
    val docs = Seq((1L, "the cat sat on the mat"), (2L, "spark plans are lazy"))
      .toDF("doc_id", "text")
    val flat = Srp.srpFlat(docs, dims = 60).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val bits = Srp.srpBits(docs, dims = 60).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    for (((doc, dim), v) <- flat) {
      val bit = (bits((doc, 0L)) >>> dim.toInt) & 1L
      assert(bit == (if (v > 0) 1L else 0L), s"doc $doc dim $dim v=$v")
    }
  }

  test("multimodal frames of an empty payload are empty digests, not errors") {
    val docs = Seq((1L, "")).toDF("doc_id", "text")
    val p = Multimodal.attachPayload(docs, encode(col("text"), "UTF-8"), "text/plain")
    val frames = Multimodal.frameSample(p, 4).collect()
    assert(frames.length == 4)
    assert(frames.forall(_.getAs[Long]("frame_bytes") == 0L))
  }

  test("ranking/sampling operators survive empty and degenerate corpora") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(TextRanking.tfidf(empty).count() == 0L)
    assert(TextRanking.keywords(empty).count() == 0L)
    assert(TextRanking.collocations(empty).count() == 0L) // no NPE on null totals
    // one-token docs: unigrams exist, bigrams do not
    val oneTok = Seq((1L, "hello"), (2L, "world")).toDF("doc_id", "text")
    assert(TextRanking.collocations(oneTok, minCount = 1).count() == 0L)
    assert(TextRanking.tfidf(oneTok).count() == 2L)
    assert(Sampling.assignSplits(empty, "doc_id", Seq("a" -> 1.0)).count() == 0L)
    // every ANN path returns empty on an empty corpus, none throws
    val emptyVecs = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    import graft.operators.Similarity
    assert(Similarity.knnLsh(emptyVecs, k = 3).count() == 0L)
    assert(Similarity.knnLshMulti(emptyVecs, k = 3).count() == 0L)
    assert(Similarity.knnIvf(emptyVecs, k = 3).count() == 0L)
    assert(Similarity.cosineDupPairs(emptyVecs, threshold = 0.5).count() == 0L)
  }

  test("round-3 operators survive empty corpora and null text") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    import graft.operators.{Dedup, Similarity, TextAnalysis}
    assert(TextAnalysis.repetitionSignals(empty).count() == 0L)
    assert(TextOps.packSequences(empty).count() == 0L)
    assert(Dedup.winnowPairs(empty).count() == 0L)
    assert(Sampling.mixRates(
      Seq((1L, "en")).toDF("doc_id", "lang"), "lang", Map("en" -> 1.0))
      == Map("en" -> 1.0))
    // null text: tokens(null) is null — signals must not throw, and the
    // row must survive (null metrics, not a dropped document)
    val withNull = Seq((1L, null.asInstanceOf[String]), (2L, "a a b"))
      .toDF("doc_id", "text")
    val rep = TextAnalysis.repetitionSignals(withNull).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(rep.size == 2 && rep(1L).isNullAt(1)) // n_tokens null, row kept
    assert(rep(2L).getAs[Double]("dup_token_frac") > 0.0)
    val packed = TextOps.packSequences(withNull, budget = 4, nBuckets = 1)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(packed.size == 2)
    // quantized kNN with an all-zero corpus vector: no NaN, no throw
    val z = Seq((1L, Array(0f, 0f)), (2L, Array(1f, 1f)), (3L, Array(1f, 0f)))
      .toDF("vec_id", "embedding")
    val kq = Similarity.knnQuantized(z, z.filter($"vec_id" === 2), k = 2)
      .collect()
    assert(kq.length == 2 && kq.forall(!_.isNullAt(2)))
  }

  test("round-6 operators survive empty and degenerate corpora") {
    import graft.operators.{Similarity, Snapshot, TextAnalysis, TopK}
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(TextRanking.bm25(empty).count() == 0L)
    assert(TextAnalysis.blocklistHits(empty, Seq("x")).count() == 0L)
    assert(Snapshot.diff(empty, empty, "doc_id", Seq("text")).count() == 0L)
    assert(TopK.topKByGroup(empty, Seq("text"), "doc_id", "doc_id", 3)
      .count() == 0L)
    val ev = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    assert(Similarity.semanticDupPairs(ev, threshold = 0.5).count() == 0L)
    val m = Similarity.ivfPqFit(ev, nlist = 2, m = 2, k = 2, dim = 4)
    assert(Similarity.ivfPqSearch(m, ev, topk = 5, m = 2, dim = 4)
      .count() == 0L)
    // single-doc corpus: BM25 is defined (df = N = 1), retrieval returns it
    val one = Seq((1L, "hello world")).toDF("doc_id", "text")
    assert(TextRanking.bm25(one).count() == 2L)
    assert(TextRanking.bm25Rank(one, Seq("hello")).count() == 1L)
    // a vector-less corpus diffed against itself is all-unchanged
    val same = Seq((1L, "a", "en")).toDF("doc_id", "text", "lang")
    assert(Snapshot.diff(same, same, "doc_id", Seq("text", "lang"))
      .collect().head.getString(1) == "unchanged")
    graft.core.CacheScope.release()
  }

  test("flat-catalog list child table explodes with ids") {
    val df = Seq(("1", Seq("a", "b")), ("2", Seq("c"))).toDF("@id", "keywords")
    val child = FlatCatalog.listChild(df, "@id", "keywords").collect()
      .map(r => r.getString(0) -> r.getString(1)).toSet
    assert(child == Set("1" -> "a", "1" -> "b", "2" -> "c"))
  }

  test("round-7 operators: unicode CDC tiling, empty-corpus train/rank") {
    // CDC positions are CHARACTER-based: multibyte text must tile exactly
    val uni = Seq((1L, "héllo wörld 你好世界 😀 " * 10))
      .toDF("doc_id", "text")
    val rows = TextOps.cdcChunks(uni, window = 8, divisor = 16).collect()
      .sortBy(_.getLong(1))
    val n = uni.select(length(col("text"))).collect()(0).getInt(0)
    assert(rows.map(_.getLong(3)).sum == n.toLong)
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b.getLong(2) == a.getLong(2) + a.getLong(3))
    case _ => }
    // empty corpus: textrank and perceptron degrade to empty/zero, not throw
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(TextRanking.textrank(empty).count() == 0L)
    val lab = Seq.empty[(Long, String, String)].toDF("doc_id", "text", "lang")
    val w = graft.operators.Classifier.trainPerceptron(
      graft.operators.Classifier.hashedFeatures(lab, nBuckets = 8),
      graft.operators.Classifier.labels(lab, col("lang") === "en"),
      nBuckets = 8, rounds = 2)
    assert(w.forall(_ == 0L))
    // single-doc textrank: no self-loops, spokes only
    val solo = Seq((1L, "one two one two")).toDF("doc_id", "text")
    val pr = TextRanking.textrank(solo, vocabSize = 5, iters = 2, k = 5)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(pr.keySet == Set("one", "two") && pr("one") == pr("two"))
    graft.core.CacheScope.release()
  }

  test("pca edges: empty input and wrong-dim rows fail fast, not silently") {
    import graft.operators.Pca
    val empty = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    val e1 = intercept[IllegalArgumentException] {
      Pca.moments(empty, "embedding", 4)
    }
    assert(e1.getMessage.contains("empty"))
    val ragged = Seq((1L, Array(1f, 2f)), (2L, Array(1f, 2f, 3f)))
      .toDF("vec_id", "embedding")
    intercept[org.apache.spark.SparkException] { // require inside the agg
      Pca.moments(ragged, "embedding", 2)
    }
    // a constant cloud has zero covariance: the eigen direction is
    // undefined and power iteration refuses rather than emitting noise
    val const = Seq((1L, Array(1f, 1f)), (2L, Array(1f, 1f)))
      .toDF("vec_id", "embedding")
    val m = Pca.moments(const, "embedding", 2)
    assert(m.cov.flatten.forall(_ == 0d))
    val e2 = intercept[IllegalArgumentException] {
      Pca.powerIterate(m.cov, iters = 5)
    }
    assert(e2.getMessage.contains("zero vector"))
  }

  test("naive bayes edges: single label, empty-text docs, null ids") {
    import graft.operators.Classifier
    // one label: prior ln(1)=0, every doc routes to it, all correct
    val mono = Seq((1L, "aa bb", "x"), (2L, "bb", "x"))
      .toDF("doc_id", "text", "lang")
    val out1 = Classifier.naiveBayes(mono).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(3))).toMap
    assert(out1 == Map(1L -> ("x", 1L), 2L -> ("x", 1L)))
    // docs with no tokens carry no evidence and are absent (the
    // cross-entropy contract); null ids are out of contract and dropped
    val mixed = Seq(
      (java.lang.Long.valueOf(1L), "aa bb", "x"),
      (java.lang.Long.valueOf(2L), "", "y"),
      (null.asInstanceOf[java.lang.Long], "aa", "y"))
      .toDF("doc_id", "text", "lang")
    val ids = Classifier.naiveBayes(mixed).collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L))
    graft.core.CacheScope.release()
  }

  test("round-8 selection/LM operators survive empty and degenerate corpora") {
    import graft.operators.{Dsir, TextAnalysis}
    val empty = Seq.empty[(Long, String, String)].toDF("doc_id", "text", "lang")
    // DSIR: empty corpus -> empty scores/selection, never a throw
    assert(Dsir.scoreAll(empty, col("lang") === "en", 64).count() == 0L)
    assert(Dsir.selectTop(empty, col("lang") === "en", 64, 5).count() == 0L)
    // resample over an empty scored table: max is null, nothing emitted
    val scoredEmpty = Seq.empty[(Long, Long)].toDF("doc_id", "score_micro")
    assert(Dsir.importanceResample(scoredEmpty).count() == 0L)
    // no target matches: weights all-negative-ish but well-defined
    val noTarget = Seq((1L, "a b c", "xx"), (2L, "c d", "yy"))
      .toDF("doc_id", "text", "lang")
    val sc = Dsir.scoreAll(noTarget, col("lang") === "en", 64).collect()
    assert(sc.length == 2 && sc.forall(!_.isNullAt(1)))
    // trigram KN on a corpus with no 3-token doc: empty, not a crash
    val short = Seq((1L, "a b"), (2L, "x")).toDF("doc_id", "text")
    assert(TextRanking.trigramKneserNeyCrossEntropy(short).count() == 0L)
    // perplexity buckets on a tiny corpus: fewer docs than bands still
    // yields a total partition of the scored docs
    val tiny = Seq((1L, "a b c d"), (2L, "a b c e")).toDF("doc_id", "text")
    val pb = TextRanking.perplexityBuckets(tiny, nBuckets = 3).collect()
    assert(pb.length == 2 &&
      pb.forall(r => Set("head", "middle", "tail")(r.getAs[String]("bucket"))))
    // zipf with a single distinct token: denominator degenerates -> the
    // fit is NaN/undefined, but it must not throw; n reports the points
    val mono = Seq((1L, "a a a a")).toDF("doc_id", "text")
    val z = TextAnalysis.zipfFit(mono, k = 10).collect()(0)
    assert(z.getLong(0) == 1L)
    // vocab growth with more bands than docs: bands with docs only
    val vg = TextAnalysis.vocabGrowth(tiny, nBands = 10).collect()
    assert(vg.nonEmpty && vg.length <= 10)
    // sampled chain on empty corpus: no start token, empty chain
    assert(TextRanking.sampledChain(empty.select(col("doc_id"),
      col("text")), steps = 4).count() == 0L)
    graft.core.CacheScope.release()
  }

  test("frozen curation: degenerate reference fails loudly at freeze") {
    import org.apache.spark.sql.functions._
    val spark2 = TestSpark.spark
    import spark2.implicits._
    // no tokenizable text -> no DSIR features -> freeze must throw a
    // clear error, never NPE or ship a model that drops every batch
    val noText = Seq((1L, "12345 !!!", "en"), (2L, "???", "en"))
      .toDF("doc_id", "text", "lang")
    graft.core.CacheScope.release()
    val before = spark2.sparkContext.getPersistentRDDs.keySet.toSet
    val e = intercept[IllegalArgumentException] {
      graft.streaming.CurationStream.freeze(noText, noText,
        col("lang") === "en", bloomBits = 4096)
    }
    assert(e.getMessage.contains("no DSIR scores"))
    // the failed freeze frees what its four branches built, and leaves
    // nothing in the session's scope
    val leaked = spark2.sparkContext.getPersistentRDDs.keySet.toSet -- before
    assert(leaked.isEmpty, s"failed freeze left cached RDDs $leaked")
    assert(graft.core.CacheScope.trackedCount == 0)
  }

  test("round-10 operators survive empty and degenerate inputs") {
    import org.apache.spark.sql.functions._
    val spark2 = TestSpark.spark
    import spark2.implicits._
    import graft.operators.{Dedup, Dsir, TextRanking}
    // dup matrix: no duplicates -> empty matrix, not an error; null text
    // groups by its (null-keyed) hash like any content
    val uniq = Seq((1L, "aa", "A"), (2L, "bb", "B"),
      (3L, null.asInstanceOf[String], "C")).toDF("doc_id", "text", "source")
    assert(Dedup.duplicateSourceMatrix(uniq).count() == 0)
    val empty = Seq.empty[(Long, String, String)]
      .toDF("doc_id", "text", "source")
    assert(Dedup.duplicateSourceMatrix(empty).count() == 0)
    // statistics merge of all-empty shards -> empty counts -> empty
    // weight table (no raw buckets to weigh), never a crash
    val es = Dsir.bucketCounts(Dsir.hashedFeatures(
      empty.select("doc_id", "text"), 16))
    assert(Dsir.weightsFromCounts(
      Dsir.mergeCounts(Seq(es, es)), Dsir.mergeCounts(Seq(es, es)), 16)
      .count() == 0)
    // kn3 statistics of an empty trigram table build an empty (usable)
    // model: scoring anything under it returns no rows (out-of-support)
    val emptyTri = graft.operators.TextOps.ngrams(
      empty.select("doc_id", "text"), 3)
    val lp = TextRanking.kn3LogProbs(TextRanking.kn3Statistics(emptyTri))
    val someTri = graft.operators.TextOps.ngrams(
      Seq((1L, "a b c d")).toDF("doc_id", "text"), 3)
    assert(TextRanking.kn3ScoreTrigrams(someTri, lp).count() == 0)
    graft.core.CacheScope.release()
  }

  test("duplicateSourceMatrix pair arithmetic: exact past double precision, " +
       "LOUD on int64 overflow (VERDICT r10 #5 / ADVICE r10)") {
    import org.apache.spark.sql.functions._
    val spark2 = TestSpark.spark
    import spark2.implicits._
    import graft.operators.Dedup
    def perSrc(rows: (String, String, Long)*) =
      rows.toDF("__h", "src", "k")
    // 1) exact where double division would round: k just past 2^53/2 —
    //    k*(k-1)/2 has no exact double representation, the old
    //    Column./ path returned the rounded neighbor. Pin the exact value.
    val k = 194906266L // k*(k-1) = 37988452331156490 > 2^53
    val exact = (BigInt(k) * (k - 1) / 2).toLong
    val viaDouble = ((k * (k - 1)).toDouble / 2).toLong
    assert(viaDouble != exact, "test premise: double path must round here")
    val got = Dedup.sourcePairCounts(perSrc(("h", "A", k)))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(got.toSeq == Seq(("A", "A", exact)))
    // 2) within-source overflow: k*(k-1)/2 > Long.Max -> raise_error,
    //    never a wrapped/rounded count
    val big = 5000000000L // 5e9: pairs ~1.25e19 > 9.2e18
    val e1 = intercept[Exception] {
      Dedup.sourcePairCounts(perSrc(("h", "A", big))).collect()
    }
    assert(e1.getMessage.contains("overflows int64"))
    // 3) cross-source overflow: k_a*k_b > Long.Max -> loud
    val e2 = intercept[Exception] {
      Dedup.sourcePairCounts(
        perSrc(("h", "A", 4000000000L), ("h", "B", 4000000000L))).collect()
    }
    assert(e2.getMessage.contains("overflows int64"))
    // 4) per-group products fit int64 but their SUM does not -> loud at
    //    the aggregate, not a silent wrap
    val e3 = intercept[Exception] {
      Dedup.sourcePairCounts(
        perSrc(("h1", "A", 4000000000L), ("h2", "A", 4000000000L))).collect()
    }
    assert(e3.getMessage.contains("overflows int64"))
    // 5) in-range sums still exact: two groups, mixed cross+within
    val ok = Dedup.sourcePairCounts(
      perSrc(("h1", "A", 3L), ("h1", "B", 2L), ("h2", "A", 2L)))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .toSet
    assert(ok == Set(("A", "A", 3L + 1L), ("A", "B", 6L), ("B", "B", 1L)))
  }
}
