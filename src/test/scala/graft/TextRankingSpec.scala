package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TextRanking

class TextRankingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "apple banana apple"),
    (2L, "banana cherry"),
    (3L, "durian durian durian")).toDF("doc_id", "text")

  test("tfidf: corpus-wide tokens score zero, rare tokens score high") {
    val t = TextRanking.tfidf(docs).cache()
    val byKey = t.collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getDouble(4)).toMap
    // banana appears in 2 of 3 docs: idf = ln(1.5) > 0
    assert(byKey((1L, "banana")) > 0)
    // durian: df=1, tf=3 -> 3 * ln(3); apple: df=1, tf=2 -> 2 * ln(3)
    assert(byKey((3L, "durian")) > byKey((1L, "apple")))
    assert(math.abs(byKey((3L, "durian")) - 3.0 * math.log(3.0)) < 1e-4)
    // deterministic across invocations (integer-scaled ln)
    val again = TextRanking.tfidf(docs).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getDouble(4)).toMap
    assert(byKey == again)
  }

  test("collocations: frequent-together pairs outrank chance pairs") {
    // "strong tea" always co-occurs; "strong" and "cat" never pair up
    val d = Seq(
      (1L, "strong tea strong tea strong tea strong tea strong tea"),
      (2L, "cat nap cat nap cat nap cat nap cat nap"),
      (3L, "strong cat tea nap strong cat tea nap strong cat tea nap")
    ).toDF("doc_id", "text")
    val top = TextRanking.collocations(d, minCount = 3, k = 10).collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(3)))
    val pmis = top.map(t => (t._1, t._2) -> t._3).toMap
    assert(pmis.contains(("strong", "tea")))
    assert(pmis(("strong", "tea")) > 0) // together more than chance
    // deterministic rerun
    val again = TextRanking.collocations(d, minCount = 3, k = 10).collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(3))).toSeq
    assert(top.toSeq == again)
  }

  test("bm25: rare terms outrank stopwords, tf saturates, length normalizes") {
    val d = Seq(
      (1L, "the the the the durian"),
      (2L, "the cherry"),
      (3L, "the apple apple apple apple apple apple apple apple")
    ).toDF("doc_id", "text")
    val t = TextRanking.bm25(d).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getAs[Double]("score")).toMap
    // df=3 'the' scores low everywhere (idf ln(1.14)); df=1 terms score high
    assert(t((1L, "durian")) > t((1L, "the")) * 3)
    // saturation: 8x tf must NOT give 8x score (plain tf-idf would)
    val hand = {
      // replay doc 3 'apple' by hand: N=3, df=1, tf=8, dl=9, avgdl=16/3
      val idf = math.log((3.0 - 1 + 0.5) / (1 + 0.5) + 1.0)
      val avgdlM = math.round(16 * 1000.0 / 3).toDouble
      val den = 8.0 + 1.2 * 0.25 + (1.2 * 0.75) * (9 * 1000.0 / avgdlM)
      math.round(math.round(idf * 1e6) * 8 * 2.2 / den) / 1e6
    }
    assert(math.abs(t((3L, "apple")) - hand) < 1e-9)
    // determinism across reruns
    val again = TextRanking.bm25(d).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getAs[Double]("score")).toMap
    assert(t == again)
  }

  test("bm25Rank: summed query scores rank docs with total tie-break") {
    val d = Seq(
      (1L, "apple banana"),
      (2L, "apple apple banana banana"),
      (3L, "cherry")).toDF("doc_id", "text")
    val top = TextRanking.bm25Rank(d, Seq("apple", "banana"), k = 2)
      .orderBy("rank").collect()
      .map(r => (r.getAs[Long]("rank"), r.getLong(0)))
    assert(top.length == 2)
    // doc 2 has higher tf on both terms -> rank 1
    assert(top(0) == (1L, 2L) && top(1) == (2L, 1L))
  }

  test("kneser-ney CE matches hand-computed exact values") {
    // corpus bigrams: ab:2, ba:1, ac:1 -> B=3; S(a)=3 N1r(a)=2; S(b)=1
    // N1r(b)=1; N1l(a)=N1l(b)=N1l(c)=1.
    //   P(b|a) = ((8-3)*3 + 3*2*1)/(4*3*3) = 21/36
    //   P(a|b) = ((4-3)*3 + 3*1*1)/(4*1*3) = 1/2
    //   P(c|a) = ((4-3)*3 + 3*2*1)/(4*3*3) = 1/4
    // doc1 lp: 2*round(ln(21/36)*1e6) + round(ln(1/2)*1e6)
    //        = 2*(-538997) - 693147 = -1771141 -> CE 0.59038
    // doc2 lp: round(ln(1/4)*1e6) = -1386294 -> CE 1.386294
    val docs = Seq((1L, "a b a b"), (2L, "a c")).toDF("doc_id", "text")
    val ce = TextRanking.kneserNeyCrossEntropy(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(ce(1L) == ((3L, 0.59038)))
    assert(ce(2L) == ((1L, 1.386294)))
    // discounting sanity: the versatile context "a" spreads mass, so its
    // frequent bigram stays under 1 even with c=2 of S=3
    graft.core.CacheScope.release()
  }

  test("textrank: hub token ranks highest, isolated token gets base rank") {
    val g = Seq(
      (1L, "alpha hub"), (2L, "beta hub"), (3L, "gamma hub"),
      (4L, "hub delta"), (5L, "solo")).toDF("doc_id", "text")
    val out = TextRanking.textrank(g, vocabSize = 10, iters = 3, k = 10)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // hub has 4 edges, every spoke 1, solo 0
    assert(out("hub") > out("alpha"))
    assert(out("hub") > out("solo"))
    // isolated node: damping floor only (no incoming contributions)
    assert(out("solo") == 150000L)
    // spokes are symmetric by construction -> identical ranks
    assert(out("alpha") == out("beta") && out("beta") == out("gamma")
      && out("gamma") == out("delta"))
    // deterministic across runs and partitionings
    val again = TextRanking.textrank(g.repartition(5), vocabSize = 10,
      iters = 3, k = 10).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(again == out)
    graft.core.CacheScope.release()
  }

  test("cross-entropy: repetitive in-distribution docs score lower than odd ones") {
    val d = Seq(
      (1L, "the cat sat the cat sat the cat sat the cat sat"),
      (2L, "the cat sat the cat sat the cat sat the cat sat"),
      (3L, "zebra quantum flux discombobulated xylophone"),
      (4L, "one")).toDF("doc_id", "text") // single token -> no bigrams
    val ce = TextRanking.bigramCrossEntropy(d).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(ce(1L) == ce(2L)) // identical docs identical score
    assert(ce(1L) < ce(3L)) // corpus-typical text is cheaper to predict
    assert(!ce.contains(4L)) // no bigrams -> absent
    assert(ce.values.forall(_ > 0)) // cross-entropy is positive
  }

  test("kn3 shard-statistics merge == monolithic model, exact scores") {
    val d = Seq(
      (1L, "the cat sat on the mat and the cat sat again"),
      (2L, "the dog sat on the mat and slept on the mat"),
      (3L, "a cat and a dog sat on a mat together"),
      (4L, "zebra quantum flux sat on the mat yesterday evening")
    ).toDF("doc_id", "text")
    val tri = graft.operators.TextOps.ngrams(d, 3)
    // statistics per parity shard, merged by union; model re-aggregates
    val merged = TextRanking.kn3Statistics(tri.filter(col("doc_id") % 2 === 0))
      .unionByName(TextRanking.kn3Statistics(tri.filter(col("doc_id") % 2 === 1)))
    val inc = TextRanking.kn3ScoreTrigrams(tri, TextRanking.kn3LogProbs(merged))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val mono = TextRanking.trigramKneserNeyCrossEntropy(d)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(inc == mono) // exact ==, no tolerance: counts are additive
    assert(inc.nonEmpty)
    graft.core.CacheScope.release()
  }

  test("kn3 int64 headroom guard: exact bound, raised by the lazy and the " +
       "materialized model") {
    // one trigram of count c: s01 = c, nmid = 1, B = 1, so the guard
    // 40·s01·nmid·B <= Long.MaxValue holds exactly up to c = M / 40
    def tri(rows: (String, String, String, Long)*) =
      rows.map { case (a, b, c, n) => (1L, a, b, c, n) }
        .toDF("doc_id", "w0", "w1", "w2", "count")
    val edge = Long.MaxValue / 40
    val ok = tri(("a", "b", "c", edge))
    assert(TextRanking.kn3LogProbs(ok).collect().map(_.getLong(3)).toSeq ==
      Seq(0L)) // p = 1: the trigram is the model's only continuation
    def raised(f: => Any): String = {
      val e = intercept[Exception](f)
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage)).mkString(" | ")
    }
    assert(raised(TextRanking.kn3LogProbs(tri(("a", "b", "c", edge + 1)))
      .collect()).contains("trigram-KN int64 headroom exceeded (max s01=" +
        s"${edge + 1}, max nmid=1, B=1)"))
    // counts near 1e17: s01 = 2e17, nmid = 2, B = 2, so 40·s01·nmid·B =
    // 3.2e19 > Long.MaxValue, and the unguarded den 16·s01·nmid·B wraps
    val big = tri(("a", "b", "c", 100000000000000000L),
      ("a", "b", "d", 100000000000000000L))
    val msg = "trigram-KN int64 headroom exceeded (max s01=200000000000000000, " +
      "max nmid=2, B=2)"
    // the registry shape: one lazy plan, scored
    assert(raised(TextRanking.kn3ScoreTrigrams(big, TextRanking.kn3LogProbs(big))
      .collect()).contains(msg))
    // the freeze shape: a materialized hub, then one materialization
    val kept = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.DataFrame]
    def hub(df: org.apache.spark.sql.DataFrame) = {
      val m = graft.core.CacheScope.materialize(df, tracked = false)
      kept += m
      m
    }
    assert(raised(graft.core.CacheScope.materialize(
      TextRanking.kn3LogProbs(big, hub = hub))).contains(msg))
    kept.foreach(graft.core.CacheScope.free)
    graft.core.CacheScope.release()
  }

  test("keywords: top-k per doc, rank dense from 1, tie-break by token") {
    val kw = TextRanking.keywords(docs, k = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val doc1 = kw.filter(_._1 == 1L).sortBy(_._2)
    // apple (tf=2, df=1) outranks banana (tf=1, df=2)
    assert(doc1.map(_._3).toSeq == Seq("apple", "banana"))
    assert(kw.groupBy(_._1).forall { case (_, rs) =>
      rs.map(_._2).sorted.toSeq == (1L to rs.length) })
  }

  test("postings: tf, ascending positions, df across docs") {
    val d = Seq(
      (1L, "apple banana apple"),
      (2L, "banana cherry")).toDF("doc_id", "text")
    val pl = TextRanking.postings(d).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getString(3), r.getLong(4))).toMap
    assert(pl(("apple", 1L)) == (2L, "1,3", 1L))
    assert(pl(("banana", 1L)) == (1L, "2", 2L))
    assert(pl(("banana", 2L)) == (1L, "1", 2L))
    assert(pl(("cherry", 2L)) == (1L, "2", 1L))
    assert(pl.size == 4)
  }

  test("phraseOccurrences counts position-aligned matches only") {
    val d = Seq(
      (1L, "a b c a b c a b"), // "a b c" occurs twice; trailing "a b" no
      (2L, "c b a"), // words present, order wrong -> no hit
      (3L, "a b")).toDF("doc_id", "text") // shorter than the phrase
    val hits = TextRanking.phraseOccurrences(d, Seq("a", "b", "c")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hits == Map(1L -> 2L))
    // single-word phrase degenerates to term frequency
    val one = TextRanking.phraseOccurrences(d, Seq("a")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(one == Map(1L -> 3L, 2L -> 1L, 3L -> 1L))
    // absent phrase word -> empty result, not an error
    assert(TextRanking.phraseOccurrences(d, Seq("a", "zzz")).count() == 0)
    graft.core.CacheScope.release()
  }

  test("trigram KN CE matches an independent brute-force model") {
    val texts = Seq(
      1L -> "a b c a b d a b c",
      2L -> "b c a b c a",
      3L -> "c a b d a b",
      4L -> "x y") // 2 tokens: no trigram, must be absent from the output
    // independent model: plain-Scala collections, same d=3/4 formulas
    def toks(s: String) = "[\\p{L}]+".r.findAllIn(s).toVector
    val docTris = texts.map { case (id, t) =>
      id -> toks(t).sliding(3).filter(_.size == 3).toVector
        .map(v => (v(0), v(1), v(2)))
    }
    val corpusTri = docTris.flatMap(_._2).groupBy(identity)
      .view.mapValues(_.size.toLong).toMap
    val s01 = corpusTri.groupBy { case ((a, b, _), _) => (a, b) }
      .view.mapValues(_.values.sum).toMap
    val n1r01 = corpusTri.groupBy { case ((a, b, _), _) => (a, b) }
      .view.mapValues(_.size.toLong).toMap
    val cont = corpusTri.keys.toSeq.map { case (a, b, c) => ((b, c), a) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet.size.toLong).toMap
    val nmid = cont.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val n1rc = cont.groupBy(_._1._1).view.mapValues(_.size.toLong).toMap
    val nl = cont.groupBy(_._1._2).view.mapValues(_.size.toLong).toMap
    val b = cont.size.toLong
    def roundHalfUp(x: Double): Long =
      BigDecimal(x).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    def lp(tri: (String, String, String)): Long = {
      val c = corpusTri(tri); val (w0, w1, w2) = tri
      val num = math.max(4 * c - 3, 0L) * (4 * nmid(w1) * b) +
        3 * n1r01((w0, w1)) * (math.max(4 * cont((w1, w2)) - 3, 0L) * b +
          3 * n1rc(w1) * nl(w2))
      val den = 16 * s01((w0, w1)) * nmid(w1) * b
      roundHalfUp(math.log(num.toDouble / den.toDouble) * 1e6)
    }
    val expect = docTris.filter(_._2.nonEmpty).map { case (id, ts) =>
      val s = ts.groupBy(identity).map { case (t, o) => o.size * lp(t) }.sum
      val n = ts.size.toLong
      id -> (n, -roundHalfUp(s.toDouble / n) / 1e6)
    }.toMap
    val got = TextRanking.trigramKneserNeyCrossEntropy(
        texts.toDF("doc_id", "text")).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got.keySet == expect.keySet) // doc 4 absent
    expect.foreach { case (id, (n, ce)) =>
      assert(got(id)._1 == n, s"doc $id trigram count")
      assert(math.abs(got(id)._2 - ce) < 1e-9, s"doc $id CE: ${got(id)._2} vs $ce")
    }
    // CE is positive (every trigram probability < 1 on this corpus)
    expect.values.foreach { case (_, ce) => assert(ce > 0) }
    graft.core.CacheScope.release()
  }

  test("sampledChain: brute-force inverse-CDF replay, valid bigram path") {
    val d = Seq(
      (1L, "a b a c a b a c a d"),
      (2L, "b a b a c")).toDF("doc_id", "text")
    // corpus bigrams and the chain, brute-forced with the same hash
    def h60(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    val toks = Seq("a b a c a b a c a d", "b a b a c").flatMap(
      _.split(" ").sliding(2).map(p => (p(0), p(1))))
    val bg = toks.groupBy(identity).view.mapValues(_.size.toLong).toMap
    def step(i: Int, w: String): Option[String] = {
      val succ = bg.collect { case ((a, b), c) if a == w => (b, c) }.toSeq.sortBy(_._1)
      if (succ.isEmpty) None
      else {
        val s = succ.map(_._2).sum
        val u = h60(s"decode:$i:$w") % s
        var cum = 0L
        succ.collectFirst { case (b, c) if { cum += c; u < cum } => b }
      }
    }
    // start = most frequent token ('a', 9 occurrences)
    var cur = "a"
    val expect = scala.collection.mutable.ArrayBuffer((0L, "a"))
    var i = 1
    var alive = true
    while (i <= 8 && alive) {
      step(i, cur) match {
        case Some(n) => expect += ((i.toLong, n)); cur = n; i += 1
        case None => alive = false
      }
    }
    val got = TextRanking.sampledChain(d, steps = 8).orderBy("step").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == expect.toSeq, s"got $got expected $expect")
    // every consecutive pair is a real corpus bigram
    got.sliding(2).foreach {
      case Seq((_, w0), (_, w1)) => assert(bg.contains((w0, w1)))
      case _ =>
    }
    graft.core.CacheScope.release()
  }

  test("perplexityBuckets: balanced bands, ordered by CE, head < tail") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val out = TextRanking.perplexityBuckets(d, nBuckets = 3).collect()
    val byBucket = out.groupBy(_.getAs[String]("bucket"))
    assert(byBucket.keySet == Set("head", "middle", "tail"))
    // equal-population to +-1
    val sizes = byBucket.view.mapValues(_.length).toMap
    assert(sizes.values.max - sizes.values.min <= 1, sizes.toString)
    // every head CE <= every tail CE (the cut respects the ranking)
    val maxHead = byBucket("head").map(_.getAs[Double]("cross_entropy")).max
    val minTail = byBucket("tail").map(_.getAs[Double]("cross_entropy")).min
    assert(maxHead <= minTail)
    // bucket_id consistent with the name
    out.foreach { r =>
      val expected = r.getAs[Long]("bucket_id") match {
        case 0 => "head"; case 1 => "middle"; case _ => "tail"
      }
      assert(r.getAs[String]("bucket") == expected)
    }
    graft.core.CacheScope.release()
  }
}
