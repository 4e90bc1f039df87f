package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Bpe

class BpeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // the classic BPE example corpus: low:3 lower:2 newest:4 widest:2
  private lazy val docs = Seq(
    (1L, "low low low lower lower newest newest"),
    (2L, "newest newest widest widest")).toDF("doc_id", "text")

  test("train learns the hand-derived merge sequence with exact ties") {
    val got = Bpe.train(docs, nMerges = 6)
      .map(m => (m.step, m.lhs, m.rhs, m.n))
    // hand derivation: pair counts weighted by word frequency; ties break
    // (count desc, lhs asc, rhs asc)
    assert(got == Seq(
      (1, "e", "s", 6L),   // es: newest(4) + widest(2)
      (2, "es", "t", 6L),  // est
      (3, "l", "o", 5L),   // lo: low(3) + lower(2), beats (o,w) on lhs tie
      (4, "lo", "w", 5L),  // low
      (5, "e", "w", 4L),   // ew: newest; tie with (n,ew-parts) broken by lhs
      (6, "ew", "est", 4L) // ewest
    ))
    graft.core.CacheScope.release()
  }

  test("driver-local training ≡ distributed rounds (round-18 guard path)") {
    // the local fast path (default) against the distributed loop
    // (forced via maxLocalVocab = 0) — merges must be IDENTICAL,
    // including counts and tie-breaks, on both the classic corpus and a
    // real testdata corpus (exercises multi-char symbols, exhaustion
    // and richer tie structure)
    for (corpus <- Seq(docs,
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet"))) {
      val local = Bpe.train(corpus, nMerges = 8)
      val dist = Bpe.train(corpus, nMerges = 8, maxLocalVocab = 0)
      assert(local == dist)
      graft.core.CacheScope.release()
    }
  }

  test("a vocabulary past the size guard falls back to the distributed rounds") {
    // the classic corpus has 4 distinct words: a guard of 3 measures the
    // word table, finds it too large to collect and trains distributed
    // over the same materialized table
    assert(Bpe.wordTable(docs).count() == 4)
    val fallback = Bpe.train(docs, nMerges = 6, maxLocalVocab = 3)
    assert(fallback == Bpe.train(docs, nMerges = 6))
    assert(fallback.map(m => (m.lhs, m.rhs)) == Seq(
      ("e", "s"), ("es", "t"), ("l", "o"), ("lo", "w"), ("e", "w"),
      ("ew", "est")))
    graft.core.CacheScope.release()
  }

  test("encode applies merges in order, leftmost-non-overlapping") {
    val merges = Bpe.train(docs, nMerges = 6)
    val enc = Seq("newest", "lowering", "LOW")
      .toDF("word")
      .withColumn("toks", Bpe.encode(col("word"), merges))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1).toList).toMap
    assert(enc("newest") == List("n", "ewest"))
    assert(enc("lowering") == List("low", "e", "r", "i", "n", "g"))
    assert(enc("LOW") == List("low")) // encode lowercases like the trainer
    graft.core.CacheScope.release()
  }

  test("train stops early when the pair supply is exhausted") {
    val tiny = Seq((1L, "ab ab")).toDF("doc_id", "text")
    val got = Bpe.train(tiny, nMerges = 100)
    assert(got == Seq(Bpe.Merge(1, "a", "b", 2L)))
    // consecutive identical pairs merge leftmost-first: "aaa" -> [aa, a]
    val aaa = Bpe.train(Seq((1L, "aaa aaa")).toDF("doc_id", "text"), 1)
    assert(aaa == Seq(Bpe.Merge(1, "a", "a", 4L))) // 2 overlapping pairs x 2
    val enc = Seq("aaa").toDF("w")
      .select(Bpe.encode(col("w"), aaa).as("t")).head().getSeq[String](0)
    assert(enc == Seq("aa", "a"))
    graft.core.CacheScope.release()
  }

  test("encodeDocuments: id sequences decode back to the word segmentations") {
    val docs = Seq(
      (1L, "the cat the cat sat"),
      (2L, "Кошка спит 123"), // no [a-z]+ words: absent from the output
      (3L, "The THE the")).toDF("doc_id", "text")
    val merges = Bpe.train(docs, nMerges = 4)
    val out = Bpe.encodeDocuments(docs, merges).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(out.keySet == Set(1L, 3L))
    // rebuild the piece vocabulary independently (rank of distinct pieces)
    def segm(w: String): Seq[String] =
      Seq(w).toDF("w").select(Bpe.encode(col("w"), merges).as("t"))
        .head().getSeq[String](0)
    val wordsByDoc = Map(
      1L -> Seq("the", "cat", "the", "cat", "sat"),
      3L -> Seq("the", "the", "the")) // case-folded by the encoder
    val allPieces = wordsByDoc.values.flatten.toSeq.distinct.flatMap(segm)
    val vocab = allPieces.distinct.sorted.zipWithIndex.toMap
    wordsByDoc.foreach { case (id, ws) =>
      val expIds = ws.flatMap(segm).map(vocab)
      assert(out(id)._1 == expIds.length, s"doc $id piece count")
      assert(out(id)._2 == expIds.mkString(" "), s"doc $id id sequence")
    }
    graft.core.CacheScope.release()
  }

  test("saveMerges/loadMerges: the persisted tokenizer encodes identically") {
    val merges = Bpe.train(docs, nMerges = 6)
    val dir = java.nio.file.Files.createTempDirectory("bpe_tok").toString
    Bpe.saveMerges(merges, dir, spark)
    val loaded = Bpe.loadMerges(spark, dir)
    assert(loaded == merges) // step order + counts round-trip exactly
    def ids(m: Seq[Bpe.Merge]) =
      Bpe.encodeDocuments(docs, m).collect()
        .map(r => r.getLong(0) ->
          (r.getAs[Long]("n_pieces"), r.getAs[String]("ids_str"))).toMap
    assert(ids(loaded) == ids(merges))
    graft.core.CacheScope.release()
  }

  test("fertility: single-piece words = 1.0; multi-piece raise the mean") {
    val docs = Seq(
      (1L, "aa aa aa aa", "X"), // after merges "aa" is likely one piece
      (2L, "zq xv qz vx", "Y")) // no pair repeats: stays letter-split (2.0)
      .toDF("doc_id", "text", "source")
    val merges = Bpe.train(docs, nMerges = 2)
    val f = Bpe.fertility(docs, merges).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    // "aa" merges in round 1 -> every X word is exactly one piece
    assert(f("X") == ((4L, 4L, 1000000L)))
    // Y words are 2 letters each; at most one of them wins the second
    // merge, so fertility stays strictly above 1.0 and X below Y
    assert(f("Y")._1 == 4L && f("Y")._3 > 1000000L)
    assert(f("X")._3 < f("Y")._3)
    // fertility_micro == round(pieces*1e6/words) by construction
    f.values.foreach { case (w, p, m) =>
      assert(m == math.round(p * 1e6 / w))
    }
    graft.core.CacheScope.release()
  }

  test("packedInputIds: budget-exact sequences, mass preserved, straddle allowed") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val merges = Bpe.train(docs, nMerges = 4)
    val budget = 64
    val packs = Bpe.packedInputIds(docs, merges, budget = budget, nBuckets = 4)
      .collect()
    val enc = Bpe.encodeDocuments(docs, merges)
      .agg(org.apache.spark.sql.functions.sum("n_pieces")).collect()(0).getLong(0)
    // total piece mass is conserved through packing
    assert(packs.map(_.getAs[Long]("n_pieces")).sum == enc)
    // every sequence except each bucket's LAST holds exactly `budget` pieces
    val byBucket = packs.groupBy(_.getAs[Long]("bucket"))
    byBucket.foreach { case (b, seqs) =>
      val sorted = seqs.sortBy(_.getAs[Long]("seq_id"))
      // seq ids are the dense prefix 0..n-1 of the bucket's grid
      assert(sorted.map(_.getAs[Long]("seq_id")).toSeq ==
        (0L until sorted.length).toSeq, s"bucket $b grid")
      sorted.dropRight(1).foreach { r =>
        assert(r.getAs[Long]("n_pieces") == budget,
          s"bucket $b seq ${r.getAs[Long]("seq_id")}")
      }
      // the emitted string really carries n_pieces ids
      sorted.foreach { r =>
        assert(r.getAs[String]("ids_str").split(" ").length ==
          r.getAs[Long]("n_pieces"))
      }
    }
    graft.core.CacheScope.release()
  }
}
