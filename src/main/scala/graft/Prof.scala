package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.GraftSession

/** Dev-only stage profiler for optimization rounds: times named sub-stages
  * of the expensive registry queries in isolation (noop sink, labelled
  * jobs), so a composed row's wall can be attributed to a stage before any
  * code is changed (optimization guide §1: measure first, label jobs).
  * Not part of the driver contract; numbers are printed, never recorded.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... sbt "runMain graft.Prof <experiment ...>"
  */
object Prof {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.builder(GraftSession.envCpus(32)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // same engine warmup as Bench so stage walls are comparable
    spark.read.parquet(s"$sfDir/nation.parquet").count()
    spark.range(1000000).selectExpr("sum(id)").collect()

    def time[A](label: String)(f: => A): A = {
      spark.sparkContext.setJobDescription(label)
      val t0 = System.nanoTime()
      val r = f
      println(f"[prof] $label%-46s ${(System.nanoTime() - t0) / 1e9}%8.3f s")
      spark.sparkContext.setJobDescription(null)
      r
    }
    // by-name: the builder itself can contain eager actions (materialized
    // stages, BPE train collects) that MUST land inside the timed region, as in Bench
    def noop(df: => DataFrame, label: String): Unit =
      time(label)(df.write.mode("overwrite").format("noop").save())
    def docs = spark.read.parquet(s"$sfDir/documents.parquet")
    import graft.functions.TextFunctions.tokens

    val wanted = if (args.isEmpty) Set("bpe", "kn3") else args.toSet

    if (wanted("tok")) {
      noop(docs, "read docs only")
      noop(docs.select(col("doc_id"), tokens(col("text")).as("t")),
        "tokenize (regexp_extract_all)")
      noop(docs.select(col("doc_id"), explode(tokens(col("text"))).as("tk")),
        "tokenize + explode")
      noop(graft.operators.TextOps.unigrams(docs), "unigrams (tok+explode+agg)")
      graft.core.CacheScope.release()
    }

    if (wanted("bpe")) {
      import graft.operators.Bpe
      val wt = time("bpe wordTable action") {
        val w = graft.core.CacheScope.persist(
          Bpe.wordTable(docs).withColumn("sym",
            concat(lit(" "), concat_ws("  ", split(col("word"), "")), lit(" "))))
        w.count(); w
      }
      val _ = wt
      graft.core.CacheScope.release()
      val merges = time("Bpe.train(docs, 6) full")(Bpe.train(docs, 6))
      noop(Bpe.encodeDocuments(docs, merges), "encodeDocuments (after train)")
      graft.core.CacheScope.release()
      val merges2 = Bpe.train(docs, 6)
      noop(Bpe.packedInputIds(docs, merges2, budget = 128, nBuckets = 8)
          .orderBy("bucket", "seq_id"), "packedInputIds tail (after train)")
      graft.core.CacheScope.release()
    }

    if (wanted("enc")) {
      import graft.operators.Bpe
      val merges = Bpe.train(docs, 6)
      graft.core.CacheScope.release()
      val words = docs.select(col("doc_id"),
        posexplode(tokens(col("text"))).as(Seq("pos", "word")))
      noop(words, "words posexplode only")
      time("distinct lowered words count") {
        println("  n distinct = " + words.select(lower(col("word")).as("w"))
          .distinct().count() + ", n occurrences = " + words.count())
      }
      noop(words.select(col("doc_id"), col("pos"),
        posexplode(Bpe.encode(col("word"), merges)).as(Seq("sp", "piece"))),
        "pieces via per-occurrence encode (current)")
      val seg = words.select(lower(col("word")).as("w")).distinct()
        .select(col("w"), Bpe.encode(col("w"), merges).as("ps"))
        .filter(col("ps").isNotNull)
      noop(words.select(col("doc_id"), col("pos"), lower(col("word")).as("w"))
          .join(broadcast(seg), Seq("w"))
          .select(col("doc_id"), col("pos"),
            posexplode(col("ps")).as(Seq("sp", "piece"))),
        "pieces via distinct-word segment + bcast join")
      graft.core.CacheScope.release()
    }

    if (wanted("enc2")) {
      import graft.operators.Bpe
      val merges = Bpe.train(docs, 6)
      graft.core.CacheScope.release()
      val words = docs.select(col("doc_id"),
        posexplode(tokens(col("text"))).as(Seq("pos", "word")))
      val pieces = graft.core.CacheScope.persist(
        words.select(col("doc_id"), col("pos"),
          posexplode(Bpe.encode(col("word"), merges)).as(Seq("sp", "piece"))))
      time("pieces persist+count")(pieces.count())
      val vocab = time("vocab denseRank materialize") {
        val v = graft.core.CacheScope.persist(graft.core.Ids.denseRankBy(
          pieces.select("piece").distinct(), Seq(col("piece").asc), "piece_id"))
        v.count(); v
      }
      noop(pieces.join(broadcast(vocab), Seq("piece"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_pieces"),
          concat_ws(" ", transform(
            array_sort(collect_list(struct(col("pos"), col("sp"),
              col("piece_id")))),
            x => x.getField("piece_id").cast("string"))).as("ids_str")),
        "final join + collect_list agg (from cached pieces)")
      noop(pieces.join(broadcast(vocab), Seq("piece"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_pieces")),
        "final join + count only (no collect_list)")
      graft.core.CacheScope.release()
    }

    if (wanted("kn3")) {
      import graft.operators.{TextOps, TextRanking}
      val tri = time("ngrams(docs,3) materialize") {
        val t = graft.core.CacheScope.persist(TextOps.ngrams(docs, 3))
        t.count(); t
      }
      val lp = time("kn3LogProbs materialize (model + guard, one plan)") {
        val l = graft.core.CacheScope.persist(TextRanking.kn3LogProbs(tri))
        l.count(); l
      }
      noop(TextRanking.kn3ScoreTrigrams(tri, lp), "score join + per-doc agg")
      noop(TextRanking.kn3ScoreTrigrams(tri, lp)
          .orderBy("doc_id"), "score + orderBy (t_kneser_ney3 tail)")
      time("perplexityBuckets full (t_ccnet_buckets body)") {
        graft.operators.TextRanking.perplexityBuckets(docs, nBuckets = 3)
          .orderBy("doc_id")
          .write.mode("overwrite").format("noop").save()
      }
      graft.core.CacheScope.release()
    }

    if (wanted("img")) {
      noop(Queries.queries("m_image_resize")(spark, sfDir), "m_image_resize pass1")
      graft.core.CacheScope.release()
      noop(Queries.queries("m_image_resize")(spark, sfDir), "m_image_resize pass2")
      graft.core.CacheScope.release()
      noop(Queries.queries("m_image_resize")(spark, sfDir), "m_image_resize pass3")
      graft.core.CacheScope.release()
    }

    if (wanted("frz")) {
      val d = docs
      val ref = d.filter(col("doc_id") % 2 === 0)
      for (pass <- 1 to 2) {
        val t0 = System.nanoTime()
        val f = graft.streaming.CurationStream.freeze(
          ref, ref.filter(col("doc_id") % 31 === 0), col("lang") === "en")
        f.tables.foreach(graft.core.CacheScope.track)
        println(f"[prof] freeze pass$pass ${(System.nanoTime() - t0) / 1e9}%8.3f s")
        val t1 = System.nanoTime()
        graft.streaming.CurationStream.curateBatch(
            d.filter(col("doc_id") % 2 === 1), f)
          .write.mode("overwrite").format("noop").save()
        println(f"[prof] apply pass$pass  ${(System.nanoTime() - t1) / 1e9}%8.3f s")
        graft.core.CacheScope.release()
      }
    }

    if (wanted("cur")) {
      noop(Queries.queries("t_curation_pipeline")(spark, sfDir),
        "t_curation_pipeline full")
      graft.core.CacheScope.release()
      noop(Queries.queries("t_dsir")(spark, sfDir), "t_dsir full")
      graft.core.CacheScope.release()
      noop(Queries.queries("t_contam_frac")(spark, sfDir), "t_contam_frac full")
      graft.core.CacheScope.release()
    }

    spark.stop()
  }
}
