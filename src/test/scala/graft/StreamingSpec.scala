package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.EventsStreaming

/** Streaming operators verified against their batch equivalents on the same
  * parquet (the batch queries are the oracle — SURVEY §2.9). */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val dir = "/root/testdata/sf0.001"

  /** File-stream sources need a directory: stage the single events.parquet
    * into a temp dir (simulating an arriving-files stream). */
  private lazy val streamDir: String = {
    val d = java.nio.file.Files.createTempDirectory("events_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      d.resolve("events.parquet"))
    d.toString
  }

  test("streaming hourly agg == batch q_events_hourly for finalized windows") {
    val streamed = EventsStreaming.runToMemory(spark, streamDir,
      "hourly_test", EventsStreaming.hourlyAgg)
    val batch = Queries.queries("q_events_hourly")(spark, dir)
    val s = streamed.select("hour_ms", "event_type", "n", "sum_value").collect()
      .map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    val b = batch.collect()
      .map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    // Append mode emits a window only once the 2h watermark passes its end:
    // windows near max event time stay open. Every emitted window must match
    // the batch value exactly, and all clearly-finalized windows must emit.
    assert(s.nonEmpty)
    s.foreach { case (k, v) => assert(b(k) == v, s"window $k differs") }
    import org.apache.spark.sql.functions._
    val maxMs = graft.core.Catalog
      .epochNanos(spark.read.parquet(s"$dir/events.parquet"), "ts")
      .agg(max(expr("ts div 1000000"))).head().getLong(0)
    val finalized = b.keySet.filter { case (hourMs, _) =>
      hourMs + 3600000L < maxMs - 7200000L }
    finalized.foreach(k => assert(s.contains(k), s"finalized window $k missing"))
  }

  test("streaming dedup passes first occurrence, drops in-horizon replays") {
    val streamed = EventsStreaming.runToMemory(spark, streamDir,
      "dedup_test", EventsStreaming.dedupStream(_))
    // the batch oracle: distinct content hashes in the same file
    val batch = spark.read.parquet(s"$dir/events.parquet")
      .select(md5(to_json(struct(col("event_type"), col("value"), col("props"))))
        .as("h"))
      .distinct().count()
    assert(streamed.count() == batch,
      "streamed survivor count != distinct content hashes")
    // survivors themselves are unique by content hash
    assert(streamed.select("content_hash").distinct().count() == streamed.count())
  }

  test("watermark drops data later than 2 hours behind the max event time") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // two micro-batches: batch 1 establishes the watermark; batch 2 arrives
    // with an event 3h older than the seen max -> must NOT appear.
    val d = java.nio.file.Files.createTempDirectory("late_stream")
    val base = 1700000000000000000L // epoch nanos
    def write(name: String, rows: Seq[(Long, Long, Long, String, Double, String)]): Unit =
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("append").parquet(d.toString)
    write("b1", Seq(
      (1L, base, 1L, "click", 1.0, "{}"),
      (2L, base + 10L * 3600L * 1000000000L, 1L, "click", 1.0, "{}"))) // +10h
    val q = EventsStreaming.hourlyAgg(
        EventsStreaming.readStream(spark, d.toString))
      .writeStream.format("memory").queryName("late_test")
      .outputMode("append").start()
    q.processAllAvailable()
    // late batch: 3h BEFORE the max seen (watermark = max - 2h) -> dropped
    write("b2", Seq(
      (3L, base + 7L * 3600L * 1000000000L, 1L, "late", 1.0, "{}")))
    q.processAllAvailable()
    q.stop()
    val types = spark.table("late_test").select("event_type")
      .as[String].collect().toSet
    assert(!types.contains("late"))
  }

  test("stream-static enrichment join == batch left join with the same dim") {
    val batchEvents = spark.read.parquet(s"$dir/events.parquet")
    // static dim derived from history: per-user event counts
    val dim = batchEvents.groupBy("user_id")
      .agg(count(lit(1)).as("hist_events"))
      .filter(col("user_id") % 2 === 0) // leave odd users unmatched
    val streamed = EventsStreaming.runToMemory(spark, streamDir,
      "enrich_test", df => EventsStreaming.enrich(df, dim)
        .select(col("event_id"), col("user_id"), col("hist_events")))
    val s = streamed.collect()
      .map(r => r.getLong(0) -> Option(r.get(2))).toMap
    val b = batchEvents.join(dim, Seq("user_id"), "left")
      .select(col("event_id"), col("hist_events")).collect()
      .map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(s == b)
    assert(s.values.exists(_.isEmpty) && s.values.exists(_.nonEmpty))
  }

  test("batch analysis operators compose unchanged over a document stream") {
    // stateless column operators (quality, repetition-free signals,
    // deterministic sampling) must run identically on readStream input —
    // the property that lets one library serve both ingest modes.
    val docDir = java.nio.file.Files.createTempDirectory("docs_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/documents.parquet"),
      docDir.resolve("documents.parquet"))
    val schema = spark.read.parquet(s"$dir/documents.parquet").schema
    val q = graft.operators.TextAnalysis.qualityScore(
        graft.operators.Sampling.stratifiedSample(
          spark.readStream.schema(schema).parquet(docDir.toString),
          "doc_id", "lang", Map("en" -> 0.5)))
      .writeStream.format("memory").queryName("docs_quality_stream").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("docs_quality_stream")
      .select("doc_id", "quality_score").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val batch = graft.operators.TextAnalysis.qualityScore(
        graft.operators.Sampling.stratifiedSample(
          spark.read.parquet(s"$dir/documents.parquet"),
          "doc_id", "lang", Map("en" -> 0.5)))
      .select("doc_id", "quality_score").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(streamed == batch && streamed.nonEmpty)
    // CDC chunking is row-local too: identical boundaries over the stream
    val c = graft.operators.TextOps.cdcChunks(
        spark.readStream.schema(schema).parquet(docDir.toString),
        window = 8, divisor = 64)
      .writeStream.format("memory").queryName("docs_cdc_stream").start()
    c.processAllAvailable(); c.stop()
    val cdcStreamed = spark.table("docs_cdc_stream")
      .select("doc_id", "chunk_idx", "chunk_md5").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getString(2)).toMap
    val cdcBatch = graft.operators.TextOps.cdcChunks(
        spark.read.parquet(s"$dir/documents.parquet"),
        window = 8, divisor = 64)
      .select("doc_id", "chunk_idx", "chunk_md5").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getString(2)).toMap
    assert(cdcStreamed == cdcBatch && cdcStreamed.nonEmpty)
    // Bloom pre-filtering is stream-composable too: the filter collapses
    // to one broadcast row and each stream row tests its bits row-locally
    // — the landing-dir decontamination shape (static eval Bloom built
    // once, arriving documents pruned before any exact join). Identical
    // survivors to the batch prune.
    import graft.operators.{Dedup, Sketches}
    import graft.functions.TextFunctions.hash60
    val evalSh = Dedup.shingles(
        spark.read.parquet(s"$dir/documents.parquet")
          .filter(col("doc_id") % 31 === 0), 8)
      .select(hash60(col("shingle")).as("sh")).distinct()
    val bloom = Sketches.bloomBuild(evalSh, "sh")
    def trainSh(df: org.apache.spark.sql.DataFrame) =
      Dedup.shingles(df.filter(col("doc_id") % 31 =!= 0), 8)
        .select(col("doc_id"), hash60(col("shingle")).as("sh"))
    val bp = Sketches.bloomPrune(bloom,
        trainSh(spark.readStream.schema(schema).parquet(docDir.toString)), "sh")
      .writeStream.format("memory").queryName("docs_bloom_stream").start()
    bp.processAllAvailable(); bp.stop()
    val prunedStream = spark.table("docs_bloom_stream").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val prunedBatch = Sketches.bloomPrune(bloom,
        trainSh(spark.read.parquet(s"$dir/documents.parquet")), "sh")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(prunedStream == prunedBatch && prunedStream.nonEmpty)
  }

  test("streaming sequence packing == batch packSequences (single batch)") {
    val docDir = java.nio.file.Files.createTempDirectory("pack_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/documents.parquet"),
      docDir.resolve("documents.parquet"))
    val schema = spark.read.parquet(s"$dir/documents.parquet").schema
    val q = EventsStreaming.packStream(
        spark.readStream.schema(schema).parquet(docDir.toString),
        budget = 512, nBuckets = 8)
      .writeStream.format("memory").queryName("pack_stream_test")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("pack_stream_test").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(3), r.getLong(4)))
      .toMap
    val batch = graft.operators.TextOps.packSequences(
        spark.read.parquet(s"$dir/documents.parquet"),
        budget = 512, nBuckets = 8).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(r.fieldIndex("seq_id")),
          r.getLong(r.fieldIndex("seq_off")))).toMap
    assert(streamed == batch && streamed.nonEmpty)
    // state carries ACROSS batches: feed a second file and (with one file
    // per trigger = two micro-batches) the new docs continue on the grid
    // instead of restarting at offset 0
    val tmpOut = java.nio.file.Files.createTempDirectory("pack_more")
    spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("doc_id + 1000000 AS doc_id", "text", "lang", "source",
        "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(tmpOut.toString)
    val part = java.nio.file.Files.list(tmpOut).toArray.map(_.toString)
      .filter(p => p.endsWith(".parquet")).head
    java.nio.file.Files.copy(java.nio.file.Paths.get(part),
      docDir.resolve("more.parquet"))
    val q2 = EventsStreaming.packStream(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
          .parquet(docDir.toString),
        budget = 512, nBuckets = 8)
      .writeStream.format("memory").queryName("pack_stream_test2")
      .outputMode("append").start()
    q2.processAllAvailable(); q2.stop()
    val all = spark.table("pack_stream_test2").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3) * 512 + r.getLong(4))) // (doc, bucket, nTok, start)
    // per bucket: contiguous layout across BOTH batches — each start (in
    // placement order) equals the running sum of all earlier n_tokens, so
    // state advanced by exactly the placed tokens, with no gaps/overlaps
    all.groupBy(_._2).values.foreach { rows =>
      val placed = rows.sortBy(_._4)
      val expected = placed.map(_._3).scanLeft(0L)(_ + _).init
      assert(placed.map(_._4).toSeq == expected.toSeq)
    }
    assert(all.length == 2 * streamed.size)
  }

  test("packStream survives null text (0 tokens) and drops null ids") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("pack_nulls")
    Seq((Option(1L), Option("a b c")), (Option(2L), None),
      (Option.empty[Long], Option("x")))
      .toDF("doc_id", "text").coalesce(1)
      .write.mode("overwrite").parquet(d.toString)
    val schema = spark.read.parquet(d.toString).schema
    val q = EventsStreaming.packStream(
        spark.readStream.schema(schema).parquet(d.toString),
        budget = 4, nBuckets = 1)
      .writeStream.format("memory").queryName("pack_nulls_test")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val rows = spark.table("pack_nulls_test").collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(rows == Map(1L -> 3L, 2L -> 0L)) // null text packs, null id drops
  }

  test("count-min sketch maintains incrementally over a stream") {
    // cmsBuild is one grouped aggregate, so it runs unchanged as a
    // streaming query; after two micro-batches the complete-mode cells
    // equal the batch sketch of the concatenated input — the streaming
    // form of the sketch's mergeability.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(String, Long)]
    val q = graft.operators.Sketches.cmsBuild(
        ms.toDF().toDF("token", "n"), "token", "n", depth = 3, width = 64)
      .writeStream.format("memory").queryName("cms_stream")
      .outputMode("complete").start()
    ms.addData(("the", 5L), ("cat", 2L))
    q.processAllAvailable()
    ms.addData(("the", 3L), ("mat", 1L))
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("cms_stream").collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val batch = graft.operators.Sketches.cmsBuild(
        Seq(("the", 8L), ("cat", 2L), ("mat", 1L)).toDF("token", "n"),
        "token", "n", depth = 3, width = 64).collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("covariance moments maintain incrementally over a stream") {
    // Pca.MomentsAgg is one typed aggregate with an order-independent
    // merge, so embedding covariance maintains over a stream too: after
    // two micro-batches the complete-mode buffer equals the batch moments
    // of the concatenated input — incremental drift tracking of an
    // embedding cloud without re-reading history.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[Seq[Float]]
    val q = ms.toDF().toDF("embedding").as[Seq[Float]]
      .select(new graft.operators.Pca.MomentsAgg(2).toColumn)
      .writeStream.format("memory").queryName("moments_stream")
      .outputMode("complete").start()
    ms.addData(Seq(0f, 0f), Seq(2f, 0f), Seq(0f, 2f))
    q.processAllAvailable()
    ms.addData(Seq(2f, 2f), Seq(4f, 4f))
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("moments_stream").head().getSeq[Long](0)
    // exact same fixture as PcaSpec on the r8 integer micro-grid buffer:
    // [n, micro sums (8e6, 8e6), int128 (hi, lo) product sums
    //  (24e12, 20e12, 24e12) — hi words 0 at this magnitude]
    assert(streamed == Seq(5L, 8000000L, 8000000L,
      0L, 24000000000000L, 0L, 20000000000000L, 0L, 24000000000000L))
  }

  test("bloom seen-set maintains incrementally over a stream") {
    // bloomBuild is one grouped bit_or aggregate, so it too runs unchanged
    // as a streaming query — the incremental "have we seen this key"
    // structure for streaming dedup against an unbounded history. After
    // two micro-batches the complete-mode words equal the batch filter of
    // the concatenated input (bit_or mergeability), and a probe through
    // the streamed filter finds exactly the seen keys.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[String]
    val q = graft.operators.Sketches.bloomBuild(
        ms.toDF().toDF("k"), "k", numBits = 1024, numHashes = 3)
      .writeStream.format("memory").queryName("bloom_stream")
      .outputMode("complete").start()
    ms.addData("a", "b")
    q.processAllAvailable()
    ms.addData("c")
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("bloom_stream")
    val batch = graft.operators.Sketches.bloomBuild(
      Seq("a", "b", "c").map(Tuple1(_)).toDF("k"), "k", 1024, 3)
    assert(streamed.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      batch.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    val probes = Seq("a", "b", "c", "zebra", "quux").map(Tuple1(_)).toDF("k")
    val kept = graft.operators.Sketches.bloomPrune(streamed, probes, "k", 1024, 3)
      .collect().map(_.getString(0)).toSet
    assert(Set("a", "b", "c").subsetOf(kept) && !kept.contains("zebra"))
  }

  test("Misra-Gries summary maintains incrementally over a stream") {
    // MgAgg is a typed aggregate with a mergeable buffer, so it runs
    // unchanged as a complete-mode streaming query — the streaming heavy-
    // hitter candidate set. Counter VALUES are processing-order-dependent
    // (documented), so the assertion is the summary's CONTRACT vs the
    // concatenated batch: exact total, no overcount, every heavy key
    // present — which is all the exact second pass needs.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val k = 3
    val ms = MemoryStream[(String, Long)]
    val q = ms.toDF().toDF("key", "w")
      .select(udaf(new graft.operators.HeavyHitters.MgAgg(k))
        .apply($"key", $"w").as("s"))
      .select($"s._1".as("total"), $"s._2".as("counters"))
      .writeStream.format("memory").queryName("mg_stream")
      .outputMode("complete").start()
    ms.addData(("a", 6L), ("b", 1L), ("c", 1L), ("a", 4L))
    q.processAllAvailable()
    ms.addData(("d", 1L), ("a", 2L), ("e", 1L), ("b", 4L))
    q.processAllAvailable(); q.stop()
    val row = spark.table("mg_stream").head()
    val total = row.getLong(0)
    val counters = row.getMap[String, Long](1)
    val truth = Map("a" -> 12L, "b" -> 5L, "c" -> 1L, "d" -> 1L, "e" -> 1L)
    assert(total == truth.values.sum)
    assert(counters.size <= k)
    counters.foreach { case (key, est) => assert(est <= truth(key)) }
    // keys heavier than total/(k+1) = 5 must have survived
    assert(counters.contains("a"))
  }

  test("grouped top-k aggregate maintains incrementally over a stream") {
    // the bounded TopK aggregate is one grouped aggregate, so it runs
    // unchanged as a streaming query: after two micro-batches the
    // complete-mode leaderboard equals the batch top-k of the concatenated
    // input — a later arrival displaces an earlier leader exactly as the
    // merge order guarantees (streaming leaderboards for free).
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(String, Long, Long)]
    val q = graft.operators.TopK.topKByGroup(
        ms.toDF().toDF("g", "id", "v"), Seq("g"), "id", "v", k = 2)
      .writeStream.format("memory").queryName("topk_stream")
      .outputMode("complete").start()
    ms.addData(("a", 1L, 10L), ("a", 2L, 20L))
    q.processAllAvailable()
    ms.addData(("a", 3L, 30L), ("b", 4L, 5L))
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("topk_stream").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val batch = graft.operators.TopK.topKByGroup(
        Seq(("a", 1L, 10L), ("a", 2L, 20L), ("a", 3L, 30L), ("b", 4L, 5L))
          .toDF("g", "id", "v"), Seq("g"), "id", "v", k = 2).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(streamed == batch)
    // id 1 (the first leader) was displaced by the second micro-batch
    assert(streamed == Set(("a", 1L, 3L, 30L), ("a", 2L, 2L, 20L),
      ("b", 1L, 4L, 5L)))
  }

  test("stateful sessionization == batch q_events_sessions") {
    val streamed = EventsStreaming.runToMemory(spark, streamDir,
      "sessions_test", df => EventsStreaming.sessionize(df).toDF(),
      OutputMode.Update())
    // memory sink in Update mode may hold one row per trigger per user; the
    // last update per user is the final state (single batch here -> unique).
    val s = streamed.groupBy("user_id")
      .agg(max("n_sessions").as("ns"), max("n_events").as("ne")).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val b = Queries.queries("q_events_sessions")(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(s == b)
  }

  test("stream-stream interval join == batch interval join (view -> click)") {
    val streamed = EventsStreaming.runToMemory(spark, streamDir, "corr_test",
      ev => EventsStreaming.correlateStream(ev, "view", "click",
        maxDelayMs = 3600000L))
    // batch oracle: the identical interval join over a static read
    val ev = graft.core.Catalog
      .epochNanos(spark.read.parquet(s"$dir/events.parquet"), "ts")
      .withColumn("event_time", timestamp_millis(expr("ts div 1000000")))
    val cause = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("c_user"), col("event_id").as("cause_id"),
        col("event_time").as("c_time"))
    val effect = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("e_user"), col("event_id").as("effect_id"),
        col("event_time").as("e_time"))
    val batch = cause.join(effect,
        col("c_user") === col("e_user") &&
          col("e_time") >= col("c_time") &&
          col("e_time") <= col("c_time") + expr("INTERVAL 3600000 MILLISECONDS"))
      .select(col("c_user").as("user_id"), col("cause_id"), col("effect_id"),
        unix_millis(col("c_time")).as("cause_ms"),
        unix_millis(col("e_time")).as("effect_ms"))
    val s = streamed.collect().map(_.toSeq).toSet
    val b = batch.collect().map(_.toSeq).toSet
    // a single micro-batch holds ALL data, so no pair is watermark-dropped:
    // the streaming join must equal the batch join exactly — and be non-
    // trivial (the synthetic stream has plenty of view->click pairs).
    assert(b.nonEmpty)
    assert(s == b, s"stream ${s.size} pairs vs batch ${b.size}")
  }

  test("vocabulary grows over a stream with per-batch id stability") {
    import spark.implicits._
    import graft.operators.TextOps
    val vdir = java.nio.file.Files.createTempDirectory("vocab_stream").toString
    Seq((1L, "alpha beta alpha"), (2L, "beta gamma"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(vdir)
    Seq((3L, "gamma gamma delta"), (4L, "epsilon delta delta"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(vdir)
    val schema = spark.read.parquet(vdir).schema
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    var vocab = TextOps.totalWordcounts(empty)
    val snapshots = scala.collection.mutable.ArrayBuffer
      .empty[Map[String, Long]] // token -> wordid after each batch
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(vdir)
      .writeStream.outputMode(OutputMode.Append)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        vocab = TextOps.mergeVocab(vocab, df)
        // materialize within the batch (the source df is batch-scoped)
        val snap = vocab.collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        vocab = snap.toSeq.toDF("token", "count", "wordid")
        snapshots += snap.map(t => t._1 -> t._3).toMap
        ()
      }.start()
    q.processAllAvailable(); q.stop()
    assert(snapshots.length == 2) // one file per trigger
    // id stability: every token of batch i keeps its id in batch i+1
    for ((tok, id) <- snapshots(0)) assert(snapshots(1)(tok) == id, tok)
    // final state: ids are a dense 0..V-1 permutation and counts equal the
    // all-at-once batch build (ids may differ — stability, not re-ranking)
    val fin = vocab.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(fin.map(_._3).sorted.toSeq == (0L until fin.length.toLong))
    val batchCounts = TextOps.totalWordcounts(
        spark.read.parquet(vdir)).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(fin.map(t => t._1 -> t._2).toMap == batchCounts)
    graft.core.CacheScope.release()
  }

  test("frozen curation save/load round-trips: loaded model curates identically") {
    // the deployment artifact: freeze in one job, ship the directory,
    // load + apply elsewhere. The loaded model must curate a batch
    // value-identically to the in-memory original — the artifact IS the
    // model, including every scalar (cutoff, ceiling, geometry).
    import graft.streaming.CurationStream
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val ref = docs.filter(col("doc_id") % 2 === 0)
    val frozen = CurationStream.freeze(
      ref, ref.filter(col("doc_id") % 31 === 0), col("lang") === "en")
    val dir = java.nio.file.Files.createTempDirectory("frozen_cur").toString
    CurationStream.save(frozen, dir)
    val loaded = CurationStream.load(spark, dir)
    assert(loaded.numBuckets == frozen.numBuckets)
    assert(loaded.scoreMaxMicro == frozen.scoreMaxMicro)
    assert(loaded.temperature == frozen.temperature)
    assert(loaded.ceCutMicro == frozen.ceCutMicro)
    assert((loaded.shingleN, loaded.evalBloomBits, loaded.seenBloomBits,
        loaded.bloomHashes) ==
      ((frozen.shingleN, frozen.evalBloomBits, frozen.seenBloomBits,
        frozen.bloomHashes)))
    val arriving = docs.filter(col("doc_id") % 2 === 1)
    def rows(m: CurationStream.FrozenCuration) =
      CurationStream.curateBatch(arriving, m).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .sortBy(_._1).toSeq
    val a = rows(frozen)
    val b = rows(loaded)
    assert(a == b)
    assert(a.nonEmpty)
    CurationStream.release(frozen)
    CurationStream.release(loaded)
    graft.core.CacheScope.release()
  }

  test("loaded frozen confirm tables join with NO Exchange on the frozen " +
       "side (VERDICT r10 #3)") {
    // the one repeated shuffle in the deployment path: every curateBatch
    // confirm-joins its Bloom survivors against the history-sized
    // seen-hash / eval-shingle tables. save() writes those two bucketed
    // on the join key, so a LOADED model's confirm joins must exchange
    // only the batch side — the frozen history is read co-located.
    import graft.streaming.CurationStream
    import graft.operators.Sketches
    import org.apache.spark.sql.execution.exchange.Exchange
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val ref = docs.filter(col("doc_id") % 2 === 0)
    val frozen = CurationStream.freeze(
      ref, ref.filter(col("doc_id") % 31 === 0), col("lang") === "en")
    val dir = java.nio.file.Files.createTempDirectory("frozen_bkt").toString
    CurationStream.save(frozen, dir)
    CurationStream.release(frozen)
    val m = CurationStream.load(spark, dir)
    val batch = docs.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"), col("text"))
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      // force the shuffle-join strategy the 100TB history would force
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      // the two confirm joins exactly as curateBatch builds them
      val bsh = graft.operators.Dedup
        .shingles(batch, m.shingleN, "doc_id", "text")
        .select(col("doc_id"),
          graft.functions.TextFunctions.hash60(col("shingle")).as("sh"))
      val evalConfirm = Sketches
        .bloomPruneSharded(m.evalBloom, bsh, "sh", m.evalShards,
          m.evalBloomBits, m.bloomHashes)
        .join(m.evalShingles, Seq("sh"))
      val hashed = batch.withColumn("__h", md5(col("text")))
      val seenConfirm = Sketches
        .bloomPruneSharded(m.seenBloom,
          hashed.select(col("doc_id"), col("__h")),
          "__h", m.seenShards, m.seenBloomBits, m.bloomHashes)
        .join(m.seenHashes, col("__h") === col("h"))
      for ((df, what) <- Seq((evalConfirm, "eval"), (seenConfirm, "seen"))) {
        df.count() // materialize so the plan below is the executed one
        val plan = df.queryExecution.executedPlan
        val s = plan.toString
        assert(s.contains("graft_frozen"),
          s"$what confirm no longer reads the bucketed catalog table:\n$s")
        assert(s.contains("Bucketed: true"),
          s"$what confirm scan is not bucketed:\n$s")
        val shuffledFrozen = plan.collect {
          case e: Exchange if e.toString.contains("graft_frozen") => e
        }
        assert(shuffledFrozen.isEmpty,
          s"$what confirm still shuffles the frozen side:\n$s")
      }
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      CurationStream.release(m)
      graft.core.CacheScope.release()
    }
  }

  test("extendSeen advances the history: replayed accepted docs drop, " +
       "fresh docs unaffected (round 11)") {
    import graft.streaming.CurationStream
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val ref = docs.filter(col("doc_id") % 2 === 0)
    val frozen = CurationStream.freeze(
      ref, ref.filter(col("doc_id") % 31 === 0), col("lang") === "en")
    // day 1: curate the %4==1 shard, accept its survivors into history
    val day1 = CurationStream
      .curateBatch(docs.filter(col("doc_id") % 4 === 1), frozen)
      .select(col("doc_id"), col("text")).persist()
    val day1Ids = day1.collect().map(_.getLong(0)).toSet
    assert(day1Ids.nonEmpty, "day-1 batch accepted nothing — vacuous test")
    val advanced = CurationStream.extendSeen(frozen, day1)
    // geometry is frozen: same bits/hashes, merged filter stays in-bounds
    assert(advanced.seenBloomBits == frozen.seenBloomBits)
    assert(advanced.seenShards == frozen.seenShards)
    assert(advanced.seenBloom.count() <=
      advanced.seenShards.toLong * (advanced.seenBloomBits / 32))
    // replaying day-1's accepted docs under the ADVANCED model: all
    // dropped at the dedup stage (their content is now history)
    val replay = CurationStream.curateBatch(day1, advanced)
    assert(replay.count() == 0, "accepted content re-accepted on replay")
    // ...but under the ORIGINAL model they'd still pass (the advance is
    // in the model, not the data)
    assert(CurationStream.curateBatch(day1, frozen).count() ==
      day1Ids.size)
    // fresh day-2 docs (%4==3): identical verdicts under both models
    // except docs whose text equals some day-1 accepted text
    val fresh = docs.filter(col("doc_id") % 4 === 3)
    val underFrozen = CurationStream.curateBatch(fresh, frozen)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val underAdvanced = CurationStream.curateBatch(fresh, advanced)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(underAdvanced.subsetOf(underFrozen))
    val day1Texts = day1.collect().map(_.getString(1)).toSet
    val removed = underFrozen -- underAdvanced
    val removedTexts = fresh
      .withColumn("ct", graft.operators.TextAnalysis.cleanText(col("text")))
      .filter(col("doc_id").isInCollection(
        if (removed.isEmpty) Set(-1L) else removed))
      .collect().map(_.getAs[String]("ct")).toSet
    assert(removedTexts.subsetOf(day1Texts),
      "advance changed a verdict for content NOT in the accepted history")
    day1.unpersist(blocking = false)
    CurationStream.release(advanced)
    CurationStream.release(frozen)
    graft.core.CacheScope.release()
  }

  test("saveSeenDelta: batch-sized artifact advance == in-memory " +
       "extendSeen; bucketing survives the append (round 11)") {
    import graft.streaming.CurationStream
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val ref = docs.filter(col("doc_id") % 2 === 0)
    val frozen = CurationStream.freeze(
      ref, ref.filter(col("doc_id") % 31 === 0), col("lang") === "en")
    val dir = java.nio.file.Files.createTempDirectory("frozen_delta").toString
    CurationStream.save(frozen, dir)
    // FRESH-SESSION shape: drop the save-session catalog entries so the
    // delta job must attach the stored bucketed table from disk itself
    // (a day-2 job in a new JVM has no day-1 catalog)
    spark.sql("DROP TABLE IF EXISTS " +
      CurationStream.store(dir).table("eval_shingles"))
    spark.sql("DROP TABLE IF EXISTS " +
      CurationStream.seenTableName(spark, dir))
    // day 1: accept the cleaned %4==1 shard, advance the ARTIFACT
    val day1 = docs.filter(col("doc_id") % 4 === 1)
      .select(col("doc_id"),
        graft.operators.TextAnalysis.cleanText(col("text")).as("text"))
    CurationStream.saveSeenDelta(frozen, dir, day1)
    // idempotence: replaying the same delta appends nothing
    val before = spark.table(
      CurationStream.seenTableName(spark, dir)).count()
    CurationStream.saveSeenDelta(frozen, dir, day1)
    assert(spark.table(CurationStream.seenTableName(spark, dir)).count()
      == before, "replayed delta duplicated stored hashes")
    // a loaded model equals extendSeen applied in-memory
    val advanced = CurationStream.extendSeen(frozen, day1)
    val loaded = CurationStream.load(spark, dir)
    assert(loaded.seenHashes.collect().map(_.getString(0)).sorted.toSeq ==
      advanced.seenHashes.collect().map(_.getString(0)).sorted.toSeq)
    def bloomMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Int]("shard"), r.getAs[Long]("word")) ->
        r.getAs[Long]("bits")).toMap
    assert(bloomMap(loaded.seenBloom) == bloomMap(advanced.seenBloom))
    // and curates identically: day-1 replays drop under the loaded model
    assert(CurationStream.curateBatch(day1, loaded).count() == 0)
    // the appended table still reads BUCKETED (co-located confirm joins)
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val probe = docs.select(md5(col("text")).as("__h"), col("doc_id"))
        .join(loaded.seenHashes, col("__h") === col("h"))
      probe.count()
      val plan = probe.queryExecution.executedPlan
      assert(plan.toString.contains("Bucketed: true"),
        "appended seen table lost its bucketed scan")
      val shuffledFrozen = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.Exchange
          if e.toString.contains("graft_frozen") => e
      }
      assert(shuffledFrozen.isEmpty, "appended seen table got re-shuffled")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
    CurationStream.release(advanced)
    CurationStream.release(frozen)
    CurationStream.release(loaded)
    graft.core.CacheScope.release()
  }

  test("streaming day-loop: curate -> extendSeen per micro-batch drops " +
       "cross-batch duplicate content (round 11)") {
    // the full deployment cycle in foreachBatch: each arriving batch is
    // curated under the current model, then its ACCEPTED content is
    // folded into the history before the next batch — so a document
    // whose content was accepted in batch 1 is dropped when it re-arrives
    // (under a new id) in batch 2. Batch order is made deterministic by
    // writing the second file only after the first is fully processed
    // (the late-file pickup the source already proves).
    import graft.streaming.CurationStream
    // every table the loop keeps is tracked or owned by a model: once the
    // stream stops and both models are released, none may remain cached
    val rddsBefore = spark.sparkContext.getPersistentRDDs.keySet
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val ref = docs.filter(col("doc_id") % 2 === 0)
    // temperature 1e6 flattens the DSIR resample to always-keep
    // (p_micro = 1e6 > any u_micro), so acceptance is governed by the
    // CONTENT stages alone and replays behave deterministically across
    // their new ids — the test isolates the history advance, not the
    // id-keyed resample lottery
    val frozen = CurationStream.freeze(
      ref, ref.filter(col("doc_id") % 31 === 0), col("lang") === "en",
      temperature = 1e6)
    val b1 = docs.filter(col("doc_id") % 4 === 1)
    // batch 2 = fresh docs + REPLAYS of batch-1 content under new ids
    val b2 = docs.filter(col("doc_id") % 4 === 3)
      .unionByName(b1.withColumn("doc_id", col("doc_id") + 100000L))
    val landing = java.nio.file.Files.createTempDirectory("day_loop")
    b1.coalesce(1).write.mode("append").parquet(landing.toString)
    var model = frozen
    val accepted = scala.collection.mutable.Map.empty[Long, Long]
    var batches = 0
    val q = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(landing.toString)
      .writeStream.foreachBatch {
        (b: org.apache.spark.sql.DataFrame, _: Long) =>
          val out = CurationStream.curateBatch(b, model)
            .select(col("doc_id"), col("text"))
          val rows = out.collect()
          rows.foreach(r => accepted(r.getLong(0)) = batches)
          // fold survivors into the history (collected rows back to a
          // frame: the batch frame dies with the micro-batch)
          if (rows.nonEmpty) {
            import spark.implicits._
            val next = CurationStream.extendSeen(model,
              rows.map(r => (r.getLong(0), r.getString(1))).toSeq
                .toDF("doc_id", "text"))
            // the superseded model's seen-side persists are dead weight
            // once the advance is in service — but never the FROZEN
            // model's own (the non-vacuity contrast below still needs it)
            if (model ne frozen) CurationStream.releaseSeenSide(model)
            model = next
          }
          graft.core.CacheScope.release() // not the frozen/advanced models
          batches += 1
          ()
      }.start()
    q.processAllAvailable()
    assert(batches == 1 && accepted.nonEmpty, "batch 1 accepted nothing")
    val day1Accepted = accepted.keySet.toSet
    b2.coalesce(1).write.mode("append").parquet(landing.toString)
    q.processAllAvailable(); q.stop()
    assert(batches == 2)
    // no replayed id (original id + 100000) of day-1 ACCEPTED content
    // may be accepted again
    val replayedAccepted = accepted.collect {
      case (id, 1) if id >= 100000L && day1Accepted(id - 100000L) => id
    }
    assert(replayedAccepted.isEmpty,
      s"cross-batch duplicate content re-accepted: $replayedAccepted")
    // non-vacuity: under the ORIGINAL model (no advance) at least one of
    // those replays WOULD be accepted — so the drops above are the
    // advance working, not the resample/perplexity stages coincidentally
    // rejecting every replayed id. (Resample keys on the NEW doc id, so
    // this is checked, not assumed.)
    val b1Replay = b1.withColumn("doc_id", col("doc_id") + 100000L)
    val wouldAccept = CurationStream.curateBatch(b1Replay, frozen)
      .select("doc_id").collect().map(_.getLong(0))
      .filter(id => day1Accepted(id - 100000L))
    assert(wouldAccept.nonEmpty,
      "no replay passes the original model — replay-drop check is vacuous")
    CurationStream.release(model)
    CurationStream.release(frozen)
    graft.core.CacheScope.release()
    val leaked = spark.sparkContext.getPersistentRDDs -- rddsBefore
    assert(leaked.isEmpty,
      s"the day loop left cached RDDs: ${leaked.values.mkString("; ")}")
  }

  test("streaming ANN growth: addToSavedIvfPq per micro-batch == one " +
       "batch add (round 11)") {
    // the ANN day-loop: vectors arrive as a stream, each micro-batch is
    // encoded under the SAVED frozen geometry and appended to the index
    // artifact. The final stored index must equal the single-batch
    // ivfPqAdd of all arrivals — cells, codes, and search results.
    import graft.operators.Similarity
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val fitHalf = emb.filter(col("vec_id") % 3 === 0)
    val arriving = emb.filter(col("vec_id") % 3 =!= 0)
    val m = 16
    val model = Similarity.ivfPqFit(fitHalf, nlist = 4, m = m, k = 32,
      dim = 64, coarseIters = 2)
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_stream").toString
    Similarity.saveIvfPq(model, dir)
    def cellsOf(mm: Similarity.IvfPq.Model) = mm.cells.collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    def codesOf(mm: Similarity.IvfPq.Model) = mm.pq.codes.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3))).toSet
    def res(mm: Similarity.IvfPq.Model) =
      Similarity.ivfPqSearch(mm, emb.filter(col("vec_id") < 20),
          topk = 5, m = m, dim = 64, nprobe = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1),
          r.getLong(2), r.getLong(3))).toSet
    // materialize the expected sets BEFORE the stream: foreachBatch
    // releases the CacheScope, so a lazily-collected expected would
    // recompute over evicted frames
    val expected = Similarity.ivfPqAdd(model, arriving)
    val (expCells, expCodes, expRes) =
      (cellsOf(expected), codesOf(expected), res(expected))
    val landing = java.nio.file.Files.createTempDirectory("vec_landing")
    arriving.filter(col("vec_id") % 3 === 1).coalesce(1)
      .write.mode("append").parquet(landing.toString)
    arriving.filter(col("vec_id") % 3 === 2).coalesce(1)
      .write.mode("append").parquet(landing.toString)
    var batches = 0
    val q = spark.readStream.schema(emb.schema)
      .option("maxFilesPerTrigger", "1").parquet(landing.toString)
      .writeStream.foreachBatch {
        (b: org.apache.spark.sql.DataFrame, _: Long) =>
          Similarity.addToSavedIvfPq(spark, dir, b)
          graft.core.CacheScope.release()
          batches += 1
          ()
      }.start()
    q.processAllAvailable(); q.stop()
    assert(batches >= 2, s"expected >=2 micro-batches, got $batches")
    val grown = Similarity.loadIvfPq(spark, dir)
    assert(cellsOf(grown) == expCells)
    assert(codesOf(grown) == expCodes)
    assert(res(grown) == expRes)
    graft.core.CacheScope.release()
  }

  test("rebuildSeenBloom recovers a destroyed filter from the hash table " +
       "(round 11)") {
    // the Bloom is derived state: wipe seen_bloom entirely (the torn-
    // overwrite worst case) and rebuild it from the bucketed hash table
    // at the meta's frozen geometry — the filter must come back
    // word-for-word (bloomBuild is deterministic in the hashes).
    import graft.streaming.CurationStream
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val ref = docs.filter(col("doc_id") % 2 === 0)
    val frozen = CurationStream.freeze(
      ref, ref.filter(col("doc_id") % 31 === 0), col("lang") === "en")
    val dir = java.nio.file.Files.createTempDirectory("bloom_rec").toString
    CurationStream.save(frozen, dir)
    val day1 = docs.filter(col("doc_id") % 4 === 1)
      .select(col("doc_id"),
        graft.operators.TextAnalysis.cleanText(col("text")).as("text"))
    CurationStream.saveSeenDelta(frozen, dir, day1)
    // resolve the CURRENT versioned filter path per call — the rebuild
    // publishes a NEW version behind the pointer (round 13)
    def words() = spark.read
      .parquet(CurationStream.seenBloomPath(spark, dir)).collect()
      .map(r => (r.getAs[Int]("shard"), r.getAs[Long]("word")) ->
        r.getAs[Long]("bits")).toMap
    val expected = words()
    // destroy the filter
    import scala.reflect.io.Directory
    new Directory(new java.io.File(
      CurationStream.seenBloomPath(spark, dir))).deleteRecursively()
    CurationStream.rebuildSeenBloom(spark, dir)
    assert(words() == expected, "rebuilt Bloom differs from the original")
    // and a model loaded after recovery still curates: day-1 replays drop
    val loaded = CurationStream.load(spark, dir)
    assert(CurationStream.curateBatch(day1, loaded).count() == 0)
    CurationStream.release(loaded)
    CurationStream.release(frozen)
    graft.core.CacheScope.release()
  }

  test("DSIR statistics fold over a stream == monolithic weights, bit-exact") {
    // the ONLINE half of the incremental-maintenance family
    // (t_dsir_incremental proves the batch merge; this proves the same
    // statistics fold one micro-batch at a time): per-batch bucket
    // counts are merged into running target/raw statistics tables in
    // foreachBatch, and the weights derived from the FINAL running state
    // must equal importanceWeights over the whole corpus read at once —
    // the model a stream maintains is the model a batch job would build.
    import spark.implicits._
    import graft.operators.Dsir
    val b = 64
    val sdir = java.nio.file.Files.createTempDirectory("dsir_stream").toString
    Seq((1L, "alpha beta gamma alpha", "en"), (2L, "beta gamma beta", "xx"))
      .toDF("doc_id", "text", "lang").coalesce(1)
      .write.mode("append").parquet(sdir)
    Seq((3L, "alpha delta gamma", "en"), (4L, "zork quux blarg", "xx"))
      .toDF("doc_id", "text", "lang").coalesce(1)
      .write.mode("append").parquet(sdir)
    val schema = spark.read.parquet(sdir).schema
    var tgtStats = Seq.empty[(Long, Long)].toDF("bucket", "c")
    var rawStats = Seq.empty[(Long, Long)].toDF("bucket", "c")
    var batches = 0
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(sdir)
      .writeStream.outputMode(OutputMode.Append)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val feats = Dsir.hashedFeatures(df, b)
        val tgtIds = df.filter(col("lang") === "en").select("doc_id")
        val tc = Dsir.bucketCounts(
          feats.join(tgtIds, Seq("doc_id"), "left_semi"))
        val rc = Dsir.bucketCounts(feats)
        // fold + materialize (the source frames are batch-scoped)
        tgtStats = Dsir.mergeCounts(Seq(tgtStats, tc)).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSeq.toDF("bucket", "c")
        rawStats = Dsir.mergeCounts(Seq(rawStats, rc)).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSeq.toDF("bucket", "c")
        batches += 1
        ()
      }.start()
    q.processAllAvailable(); q.stop()
    assert(batches == 2)
    val streamed = Dsir.weightsFromCounts(tgtStats, rawStats, b)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val all = spark.read.parquet(sdir)
    val mono = Dsir.importanceWeights(
        Dsir.hashedFeatures(all, b).join(
          all.filter(col("lang") === "en").select("doc_id"),
          Seq("doc_id"), "left_semi"),
        Dsir.hashedFeatures(all, b), b)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed == mono)
    assert(streamed.nonEmpty)
    graft.core.CacheScope.release()
  }

  test("frozen DSIR model scores a document stream identically to batch") {
    // the production deployment shape: the importance model is TRAINED on
    // a reference corpus once (static weight table), then arriving
    // documents are scored as they land — per-doc scoring is a
    // batch-scoped aggregate + broadcast join, so foreachBatch applies
    // the frozen model unchanged and stream == batch exactly.
    import graft.operators.Dsir
    val docDir = java.nio.file.Files.createTempDirectory("docs_dsir_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/documents.parquet"),
      docDir.resolve("documents.parquet"))
    val schema = spark.read.parquet(s"$dir/documents.parquet").schema
    val batchDocs = spark.read.parquet(s"$dir/documents.parquet")
    val feats = Dsir.hashedFeatures(batchDocs, 4096)
    val tf = feats.join(
      batchDocs.filter(col("lang") === "en").select("doc_id"),
      Seq("doc_id"), "semi")
    val w = Dsir.importanceWeights(tf, feats, 4096).cache()
    assert(w.count() > 0)
    val got = scala.collection.mutable.Map.empty[Long, Long]
    val q = spark.readStream.schema(schema).parquet(docDir.toString)
      .writeStream.foreachBatch {
        (b: org.apache.spark.sql.DataFrame, _: Long) =>
          Dsir.scoreDocuments(Dsir.hashedFeatures(b, 4096), w).collect()
            .foreach(r => got(r.getLong(0)) = r.getLong(1))
          ()
      }.start()
    q.processAllAvailable(); q.stop()
    val batch = Dsir.scoreAll(batchDocs, col("lang") === "en", 4096)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.toMap == batch && got.nonEmpty)
    w.unpersist(blocking = false)
    graft.core.CacheScope.release()
  }

  test("frozen curation: stream micro-batches == one batch pass") {
    // the t_curation_pipeline chain in its DEPLOYMENT shape: every model
    // (DSIR weights + ceiling, eval shingles + Bloom, seen hashes + Bloom,
    // KN3 model + frozen perplexity cutoff) trained ONCE on the even-id
    // reference shard, then the odd-id shard arrives as a stream. Every
    // per-doc decision depends only on the doc and the frozen models, so
    // curating micro-batch by micro-batch must equal one batch pass over
    // the same arriving docs — EXACTLY (ids, scores, cross-entropies).
    import graft.streaming.CurationStream
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val reference = docs.filter(col("doc_id") % 2 === 0)
    val evalDocs = reference.filter(col("doc_id") % 31 === 0)
    val arriving = docs.filter(col("doc_id") % 2 === 1)
    val frozen = CurationStream.freeze(reference, evalDocs,
      col("lang") === "en", bloomBits = 4096)
    val batchResult = CurationStream.curateBatch(arriving, frozen)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSet
    graft.core.CacheScope.release() // batch-scoped persists only
    // stage the arriving shard as TWO parquet files -> two micro-batches
    // (maxFilesPerTrigger=1)
    val landing = java.nio.file.Files.createTempDirectory("curation_stream")
    arriving.filter(col("doc_id") < 250).coalesce(1)
      .write.mode("append").parquet(landing.toString)
    arriving.filter(col("doc_id") >= 250).coalesce(1)
      .write.mode("append").parquet(landing.toString)
    val got = scala.collection.mutable.Set.empty[(Long, Long, Long)]
    var batches = 0
    val q = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(landing.toString)
      .writeStream.foreachBatch {
        (b: org.apache.spark.sql.DataFrame, _: Long) =>
          CurationStream.curateBatch(b, frozen).collect()
            .foreach(r => got += ((r.getLong(0), r.getLong(2), r.getLong(3))))
          graft.core.CacheScope.release() // must NOT evict the frozen models
          batches += 1
          ()
      }.start()
    q.processAllAvailable(); q.stop()
    assert(batches >= 2, s"expected >=2 micro-batches, got $batches")
    assert(batchResult.nonEmpty, "batch curation kept nothing — vacuous")
    assert(got.toSet == batchResult,
      s"stream kept ${got.size} rows, batch kept ${batchResult.size}")
    CurationStream.release(frozen)
  }

  test("freeze artifacts are leaf plans equal to the tracked operators' " +
       "tables; release leaves no cached table behind") {
    import graft.core.CacheScope
    import graft.functions.TextFunctions.hash60
    import graft.streaming.CurationStream
    import graft.operators.{Dedup, Dsir, Sketches, TextAnalysis, TextOps,
      TextRanking}
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val reference = docs.filter(col("doc_id") % 2 === 0)
    val evalDocs = reference.filter(col("doc_id") % 31 === 0)
    CacheScope.release()
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val m = CurationStream.freeze(reference, evalDocs, col("lang") === "en")
    assert(CacheScope.trackedCount == 0, "freeze left tables in the scope")
    val frozen = Seq("weights" -> m.weights,
      "evalShingles" -> m.evalShingles, "evalBloom" -> m.evalBloom,
      "seenHashes" -> m.seenHashes, "seenBloom" -> m.seenBloom,
      "kn3LogProbs" -> m.kn3LogProbs)
    frozen.foreach { case (name, df) =>
      val plan = df.queryExecution.analyzed
      assert(plan.children.isEmpty &&
        plan.collectFirst { case r: InMemoryRelation => r }.isEmpty,
        s"$name is not a leaf plan:\n$plan")
    }
    // the same tables built through the existing tracked operators
    def clean(d: org.apache.spark.sql.DataFrame) =
      d.withColumn("text", TextAnalysis.cleanText(col("text")))
    val cleaned = clean(reference)
    val feats = Dsir.hashedFeatures(cleaned, m.numBuckets)
    val evalSh = Dedup.shingles(clean(evalDocs), m.shingleN)
      .select(hash60(col("shingle")).as("sh")).distinct()
    val seen = cleaned.select(md5(col("text")).as("h")).distinct()
    val expected = Seq(
      Dsir.importanceWeights(feats.join(cleaned.filter(col("lang") === "en")
        .select("doc_id"), Seq("doc_id"), "semi"), feats, m.numBuckets),
      evalSh,
      Sketches.bloomBuildSharded(evalSh, "sh", m.evalShards, m.evalBloomBits,
        m.bloomHashes),
      seen,
      Sketches.bloomBuildSharded(seen, "h", m.seenShards, m.seenBloomBits,
        m.bloomHashes),
      TextRanking.kn3LogProbs(TextOps.ngrams(cleaned, 3)))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.mkString("|")).sorted.toSeq
    frozen.zip(expected).foreach { case ((name, got), want) =>
      val g = rows(got)
      assert(g.nonEmpty, s"$name is empty — vacuous")
      assert(g == rows(want), s"$name differs from the tracked operators")
    }
    assert(m.evalKeys == evalSh.count() && m.seenKeys == seen.count())
    CacheScope.release()
    CurationStream.release(m)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
    assert(leaked.isEmpty, s"freeze + release left cached RDDs $leaked")
    assert(CacheScope.trackedCount == 0)
  }

  test("frozenCut selects rank 2n/3 - 1 exactly like the rank-based cut, " +
       "on ties and for small n") {
    import graft.core.{CacheScope, Ids}
    import graft.streaming.CurationStream
    import spark.implicits._
    // the cut the freeze selected before: a dense (ce, id) rank and the
    // row at rank 2n/3 - 1, n = max rank + 1
    def rankCut(ce: org.apache.spark.sql.DataFrame): Long = {
      val ranked = Ids.denseRankBy(ce,
        Seq(col("ce_micro").asc, col("doc_id").asc), "rank0")
      ranked.crossJoin(broadcast(
          ranked.agg((max("rank0") + lit(1L)).as("__n"))))
        .filter(col("rank0") === expr("(2L * __n) DIV 3L") - lit(1L))
        .select("ce_micro").collect()
        .headOption.map(_.getLong(0)).getOrElse(Long.MinValue)
    }
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    // ids interleave so (ce, id) order differs from id order; ce ties
    // straddle the cut
    val tied = Seq(5L, 5L, 5L, 1L, 9L, 5L, 5L, 2L, 5L, 9L, 5L, 3L, 5L)
    val cases = Seq(0, 1, 2, 3, 7).map(n =>
      s"n=$n" -> (0 until n).map(i => ((i * 37 + 11) % 101).toLong -> i.toLong)) :+
      ("ties" -> tied.zipWithIndex.map { case (c, i) => c -> (100L - i) })
    for ((name, rows) <- cases) {
      val ce = rows.toDF("ce_micro", "doc_id").repartition(3)
      val want = rankCut(ce)
      val sorted = rows.sorted
      val cutRank = 2 * rows.size / 3
      assert(want == (if (cutRank == 0) Long.MinValue else sorted(cutRank - 1)._1),
        name)
      assert(CurationStream.frozenCut(ce, "doc_id") == want, name)
    }
    CacheScope.release()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
    assert(leaked.isEmpty, s"frozenCut left cached RDDs $leaked")
  }

  test("stateful near-dup stream == batch MinHash-LSH pairs across batches") {
    // the arriving-data near-dup detector: row-local signatures, LSH band
    // state, pairs emitted the moment a bucket gains a similar signature —
    // including pairs whose two documents arrive in DIFFERENT
    // micro-batches. Collected pair SET (the stream is at-least-once per
    // shared band) must equal the batch operator's output exactly,
    // including the 6-dp signature similarities.
    import graft.streaming.NearDupStream
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val batchPairs = graft.operators.Dedup.minhashLshPairs(
        docs, shingleK = 1, numPerms = 12, bands = 2, threshold = 0.75)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    graft.core.CacheScope.release()
    assert(batchPairs.nonEmpty, "batch LSH found no pairs — vacuous")
    val landing = java.nio.file.Files.createTempDirectory("neardup_stream")
    docs.filter(col("doc_id") % 2 === 0).coalesce(1)
      .write.mode("append").parquet(landing.toString)
    docs.filter(col("doc_id") % 2 === 1).coalesce(1)
      .write.mode("append").parquet(landing.toString)
    val q = NearDupStream.pairsStream(
        spark.readStream.schema(docs.schema)
          .option("maxFilesPerTrigger", "1").parquet(landing.toString),
        shingleK = 1, numPerms = 12, bands = 2, threshold = 0.75)
      .writeStream.format("memory").queryName("neardup_pairs")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("neardup_pairs").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(streamed == batchPairs,
      s"stream found ${streamed.size} distinct pairs, batch ${batchPairs.size}")
    // the split guarantees CROSS-batch pairs exist (even-odd id pairs):
    // at least one collected pair must span the two micro-batches
    assert(streamed.exists { case (a, b, _) => (a + b) % 2 == 1 },
      "no cross-batch pair found — the state carry is untested")
  }

  test("near-dup state survives a query RESTART from checkpoint") {
    // the production property none of the single-query tests exercise:
    // flatMapGroupsWithState band state must be rebuilt from the
    // checkpoint when the stream restarts (process death, deploy). Phase
    // 1 processes the even-id half and STOPS; phase 2 is a brand-new
    // query object on the same checkpoint that sees ONLY the odd-id file
    // (source offsets prove the first file is not reprocessed), so every
    // cross-half pair it emits can exist only if phase 1's state was
    // restored. The union of both phases must equal the batch operator.
    import graft.streaming.NearDupStream
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val batchPairs = graft.operators.Dedup.minhashLshPairs(
        docs, shingleK = 1, numPerms = 12, bands = 2, threshold = 0.75)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    graft.core.CacheScope.release()
    assert(batchPairs.nonEmpty)
    val landing = java.nio.file.Files.createTempDirectory("ndr_land").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ndr_ckpt").toString
    val collected = scala.collection.mutable.Set.empty[(Long, Long, Double)]
    var phase2Batches = 0
    def run(countBatches: Boolean): Unit = {
      val q = NearDupStream.pairsStream(
          spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", "1").parquet(landing),
          shingleK = 1, numPerms = 12, bands = 2, threshold = 0.75)
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch {
          (ds: org.apache.spark.sql.Dataset[
             graft.streaming.NearDupStream.DupPair], _: Long) =>
          collected.synchronized {
            ds.collect().foreach(p =>
              collected += ((p.id_a, p.id_b, p.sig_sim)))
          }
          if (countBatches) phase2Batches += 1
          ()
        }.start()
      q.processAllAvailable(); q.stop()
    }
    docs.filter(col("doc_id") % 2 === 0).coalesce(1)
      .write.mode("append").parquet(landing)
    run(countBatches = false)
    val afterPhase1 = collected.toSet
    docs.filter(col("doc_id") % 2 === 1).coalesce(1)
      .write.mode("append").parquet(landing)
    run(countBatches = true) // NEW query, same checkpoint
    assert(phase2Batches == 1,
      s"restart reprocessed old files ($phase2Batches batches, expected 1)")
    assert(collected.toSet == batchPairs,
      s"restarted stream: ${collected.size} pairs vs batch ${batchPairs.size}")
    val crossRestart = (collected.toSet -- afterPhase1)
      .exists { case (a, b, _) => (a + b) % 2 == 1 }
    assert(crossRestart,
      "no even-odd pair emitted after restart — state restore untested")
  }

  test("readStream starts on an EMPTY landing dir and picks up late files") {
    // capability check: the schema probe must not throw on zero files — the
    // stream falls back to the explicit default EventSchema and consumes
    // files that arrive after start (the common landing-dir pattern).
    val empty = java.nio.file.Files.createTempDirectory("events_empty")
    val events = EventsStreaming.readStream(spark, empty.toString)
    assert(events.isStreaming)
    assert(events.schema("ts").dataType.typeName == "long") // normalized
    val q = events.groupBy("event_type").count()
      .writeStream.format("memory").queryName("late_files_test")
      .outputMode(OutputMode.Complete).start()
    q.processAllAvailable()
    assert(spark.table("late_files_test").count() == 0) // nothing yet
    // file lands AFTER stream start, in the ns-long encoding the default
    // schema assumes (the documented contract for empty-dir starts)
    graft.core.Catalog
      .epochNanos(spark.read.parquet(s"$dir/events.parquet"), "ts")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("append").parquet(empty.toString)
    q.processAllAvailable(); q.stop()
    val got = spark.table("late_files_test").agg(sum("count")).head().getLong(0)
    val want = spark.read.parquet(s"$dir/events.parquet").count()
    assert(got == want)
  }

  // ----------------------------------------------------- round-12 hardening

  /** A tiny frozen model + saved artifact for the round-12 delta/lock/
    * legacy tests (fresh temp dir per call — tests mutate artifacts). */
  private def freshArtifact(): (graft.streaming.CurationStream.FrozenCuration,
      String, org.apache.spark.sql.DataFrame) = {
    import graft.streaming.CurationStream
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val ref = docs.filter(col("doc_id") % 2 === 0)
    val frozen = CurationStream.freeze(
      ref, ref.filter(col("doc_id") % 31 === 0), col("lang") === "en")
    val adir = java.nio.file.Files.createTempDirectory("frozen_r12").toString
    CurationStream.save(frozen, adir)
    spark.sql("DROP TABLE IF EXISTS " +
      CurationStream.store(adir).table("eval_shingles"))
    spark.sql("DROP TABLE IF EXISTS " +
      CurationStream.seenTableName(spark, adir))
    (frozen, adir, docs)
  }

  test("artifact deltas are single-writer: a held lock fails LOUDLY and " +
       "names the recovery; the lock releases after success (VERDICT r11 #4)") {
    import graft.streaming.CurationStream
    val (frozen, adir, docs) = freshArtifact()
    val day1 = docs.filter(col("doc_id") % 4 === 1)
      .select(col("doc_id"),
        graft.operators.TextAnalysis.cleanText(col("text")).as("text"))
    // writer A holds the lock (crashed writer / concurrent job)
    assert(graft.core.Fs.tryCreateLock(spark, s"$adir/_delta_lock"))
    val e = intercept[IllegalStateException] {
      CurationStream.saveSeenDelta(frozen, adir, day1)
    }
    assert(e.getMessage.contains("_delta_lock"))
    assert(e.getMessage.contains("re-run the interrupted delta"),
      "failure message must name the recovery path")
    // the failed writer must not have touched the artifact (plain-read
    // the bucketed files: the catalog attach happens under the lock, so
    // the refused writer never created the table entry)
    val storedBefore = spark.read
      .parquet(CurationStream.seenTableDir(spark, adir)).count()
    // lock released (stale-lock recovery) -> the same delta succeeds
    graft.core.Fs.removeLock(spark, s"$adir/_delta_lock")
    CurationStream.saveSeenDelta(frozen, adir, day1)
    assert(spark.read
      .parquet(CurationStream.seenTableDir(spark, adir)).count()
      > storedBefore)
    // and the lock is gone after a successful delta (no leak)
    assert(!graft.core.Fs.exists(spark, s"$adir/_delta_lock"))
    CurationStream.release(frozen)
    graft.core.CacheScope.release()
  }

  test("addToSavedIvfPq is single-writer: held lock fails loudly, " +
       "releases after success (VERDICT r11 #4)") {
    import graft.operators.Similarity
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val fit = emb.filter(col("vec_id") % 3 === 0)
    val mdl = Similarity.ivfPqFit(fit, nlist = 4, m = 4, k = 16, dim = 64)
    val adir = java.nio.file.Files.createTempDirectory("ivfpq_lock").toString
    Similarity.saveIvfPq(mdl, adir)
    val add = emb.filter(col("vec_id") % 3 === 1)
    assert(graft.core.Fs.tryCreateLock(spark, s"$adir/_delta_lock"))
    val e = intercept[IllegalStateException] {
      Similarity.addToSavedIvfPq(spark, adir, add)
    }
    assert(e.getMessage.contains("_delta_lock"))
    graft.core.Fs.removeLock(spark, s"$adir/_delta_lock")
    val grown = Similarity.addToSavedIvfPq(spark, adir, add)
    assert(grown.cells.count() == mdl.cells.count() + add.count())
    assert(!graft.core.Fs.exists(spark, s"$adir/_delta_lock"))
    graft.core.CacheScope.release()
  }

  test("both stores refuse a pre-marker layout (a rename-era CURRENT " +
       "file or an unversioned meta) in every operation, naming it, and " +
       "never read it as absent") {
    import graft.streaming.CurationStream
    import graft.operators.Similarity
    val (frozen, adir, docs) = freshArtifact()
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val mdl = Similarity.ivfPqFit(emb.filter(col("vec_id") % 3 === 0),
      nlist = 4, m = 4, k = 16, dim = 64)
    val idir = java.nio.file.Files.createTempDirectory("ivfpq_premark")
      .toString
    Similarity.saveIvfPq(mdl, idir)
    val day1 = docs.filter(col("doc_id") % 4 === 1)
      .select(col("doc_id"),
        graft.operators.TextAnalysis.cleanText(col("text")).as("text"))
    val add = emb.filter(col("vec_id") % 3 === 1)
    // (live store, its operations); the saves target a directory that
    // holds nothing but the pre-marker layout, the case that would
    // otherwise read as absent and publish v0 over it
    val stores: Seq[(String, Seq[(String, String => Any)])] = Seq(
      adir -> Seq(
        "load" -> (d => CurationStream.load(spark, d)),
        "save" -> (d => CurationStream.save(frozen, d)),
        "delta" -> (d => CurationStream.saveSeenDelta(frozen, d, day1)),
        "compaction" -> (d => CurationStream.compactSeenTable(spark, d)),
        "bloom rebuild" -> (d => CurationStream.rebuildSeenBloom(spark, d)),
        "vacuum" -> (d => CurationStream.vacuum(spark, d)),
        "manifest" -> (d => CurationStream.manifest(spark, d))),
      idir -> Seq(
        "load" -> (d => Similarity.loadIvfPq(spark, d)),
        "save" -> (d => Similarity.saveIvfPq(mdl, d)),
        "delta" -> (d => Similarity.addToSavedIvfPq(spark, d, add)),
        "compaction" -> (d => Similarity.compactIvfPq(spark, d)),
        "vacuum" -> (d => Similarity.vacuumIvfPq(spark, d)),
        "manifest" -> (d => Similarity.ivfPqManifest(spark, d))))
    for ((live, ops) <- stores;
         (entry, layout) <- Seq("CURRENT" -> "rename-era CURRENT",
           "meta" -> "unversioned meta");
         (name, op) <- ops) {
      val target = if (name == "save")
        java.nio.file.Files.createTempDirectory("premark_save").toString
      else live
      val p = java.nio.file.Paths.get(s"$target/$entry")
      if (entry == "CURRENT")
        java.nio.file.Files.write(p, "5".getBytes("UTF-8"))
      else java.nio.file.Files.createDirectories(p)
      val e = intercept[IllegalStateException](op(target))
      assert(e.getMessage.contains("pre-marker") &&
        e.getMessage.contains(layout), s"$name over $entry: ${e.getMessage}")
      java.nio.file.Files.delete(p)
      assert(!graft.core.Fs.exists(spark, s"$target/_delta_lock"),
        s"$name left a lock behind")
    }
    // the refusals touched nothing: both stores still serve
    val l = CurationStream.load(spark, adir)
    assert(l.weights.count() > 0)
    CurationStream.release(l)
    assert(Similarity.loadIvfPq(spark, idir).cells.count() ==
      mdl.cells.count())
    CurationStream.release(frozen)
    graft.core.CacheScope.release()
  }

  test("extendSeen is batch-sized: the exact check never SHUFFLES the " +
       "history (Bloom candidates -> broadcast semi -> broadcast anti; " +
       "VERDICT r11 #5) and equals the old union-distinct semantics") {
    import graft.streaming.CurationStream
    import graft.operators.Sketches
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val ref = docs.filter(col("doc_id") % 2 === 0)
    val frozen = CurationStream.freeze(
      ref, ref.filter(col("doc_id") % 31 === 0), col("lang") === "en")
    // a batch that REPLAYS half its rows (already-history content) and
    // brings fresh rows — both paths of the candidate check exercised
    val batch = docs.filter(col("doc_id") % 4 === 0) // subset of ref: dups
      .unionByName(docs.filter(col("doc_id") % 4 === 1)
        .withColumn("text", concat(col("text"), lit(" zz new"))))
      .select(col("doc_id"),
        graft.operators.TextAnalysis.cleanText(col("text")).as("text"))
    val advanced = CurationStream.extendSeen(frozen, batch)
    // value contract unchanged: advanced history == distinct(history ∪ new)
    val expected = frozen.seenHashes
      .unionByName(batch.select(md5(col("text")).as("h"))).distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    assert(advanced.seenHashes.collect().map(_.getString(0)).sorted.toSeq
      == expected)
    assert(advanced.seenKeys == expected.length.toLong)
    // plan contract: the advance's dataflow (exactly as extendSeen builds
    // it) plans with NO shuffle exchange above the history side — the
    // history is only STREAMED by a broadcast semi-join. Pinned against a
    // LOADED model so the history scan is the named bucketed catalog
    // table (an unambiguous plan marker). AQE off so the asserted plan
    // is the static one (the 100TB shape).
    val adir = java.nio.file.Files.createTempDirectory("frozen_plan").toString
    CurationStream.save(frozen, adir)
    val loaded = CurationStream.load(spark, adir)
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val newHashes = batch.select(md5(col("text")).as("h"))
        .filter(col("h").isNotNull).distinct()
      val candidates = Sketches.bloomPruneSharded(loaded.seenBloom,
        newHashes, "h", loaded.seenShards, loaded.seenBloomBits,
        loaded.bloomHashes)
      val dups = loaded.seenHashes
        .join(broadcast(candidates), Seq("h"), "semi")
      val fresh = newHashes.join(broadcast(dups), Seq("h"), "left_anti")
      fresh.count()
      // the history-sized table must reach any shuffle ONLY through a
      // BroadcastExchange (the semi-join's candidate-sized output): a
      // shuffle whose input includes the history scan DIRECTLY would be
      // the history-wide exchange this advance exists to avoid. (The
      // optimizer pushes the anti-join below the batch distinct, so the
      // batch shuffle's subtree legitimately CONTAINS the history scan —
      // behind a broadcast; walk the tree instead of matching strings.)
      def historyOutsideBroadcast(
          p: org.apache.spark.sql.execution.SparkPlan): Boolean = p match {
        case _: org.apache.spark.sql.execution.exchange
              .BroadcastExchangeExec => false
        case s if s.children.isEmpty => s.toString.contains("graft_frozen")
        case s => s.children.exists(historyOutsideBroadcast)
      }
      val shuffledHistory = fresh.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if historyOutsideBroadcast(e.child) => e
      }
      assert(shuffledHistory.isEmpty,
        s"advance shuffles the history:\n${fresh.queryExecution.executedPlan}")
      assert(fresh.queryExecution.executedPlan.toString
        .contains("graft_frozen"), "plan marker missing — vacuous check")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    CurationStream.release(advanced)
    CurationStream.release(loaded)
    CurationStream.release(frozen)
    graft.core.CacheScope.release()
  }

  test("save() auto-sizes confirmBuckets from measured keys and records " +
       "them in meta; load() re-warns a past-design-point filter from " +
       "meta alone (VERDICT r11 #2/#8)") {
    import graft.streaming.CurationStream
    val (frozen, adir, _) = freshArtifact()
    val am = CurationStream.readMeta(spark, adir)
    // tiny corpus -> the parallelism floor, never less
    assert(am.confirmBuckets ==
      math.max(32, spark.sparkContext.defaultParallelism))
    assert(am.evalKeys == frozen.evalKeys && am.evalKeys >= 0)
    assert(am.seenKeys == frozen.seenKeys && am.seenKeys > 0)
    assert(am.bitsPerKey == 10)
    // the auto-sizer grows with the history: 10^10 keys -> ~38k buckets
    // (arithmetic check of the same formula save() applies)
    val target = 1L << 18
    assert((10_000_000_000L + target - 1) / target > 32_000L)
    // an explicitly pinned count is respected
    val pinned = java.nio.file.Files.createTempDirectory("frozen_pin").toString
    CurationStream.save(frozen, pinned, confirmBuckets = 8)
    assert(CurationStream.readMeta(spark, pinned).confirmBuckets == 8)
    // saturation re-warn at load, from meta's own counts (a filter whose
    // history outgrew shards*bits/bitsPerKey): fabricate by meta rewrite
    val sat = java.nio.file.Files.createTempDirectory("frozen_sat").toString
    CurationStream.save(frozen, sat, confirmBuckets = 8)
    val satMeta = CurationStream.currentMetaPath(spark, sat)
    val satDf = spark.read.parquet(satMeta)
      .withColumn("seen_keys", lit(Long.MaxValue / 20))
    val satRows = satDf.collect() // materialize BEFORE overwriting input
    spark.createDataFrame(
        spark.sparkContext.parallelize(satRows.toIndexedSeq), satDf.schema)
      .coalesce(1).write.mode("overwrite").parquet(satMeta)
    val errBuf = new java.io.ByteArrayOutputStream()
    val prevErr = System.err
    System.setErr(new java.io.PrintStream(errBuf, true))
    try CurationStream.release(CurationStream.load(spark, sat))
    finally System.setErr(prevErr)
    assert(errBuf.toString.contains("past its design point"),
      s"no saturation re-warn at load; stderr was: ${errBuf.toString}")
    CurationStream.release(frozen)
    graft.core.CacheScope.release()
  }

  // ----------------------------------------------------- round-13 hardening

  test("atomic state swap: a crash mid-publish (torn next version, " +
       "leftover pointer tmp) leaves load() on the previous COMPLETE " +
       "version, and the next delta repairs it (VERDICT r12 #1)") {
    import graft.streaming.CurationStream
    val (frozen, adir, docs) = freshArtifact()
    val arriving = docs.filter(col("doc_id") % 2 === 1)
    def verdicts() = {
      val l = CurationStream.load(spark, adir)
      val v = CurationStream.curateBatch(arriving, l).collect()
        .map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
        .sortBy(_._1).toSeq
      CurationStream.release(l)
      v
    }
    val day1 = docs.filter(col("doc_id") % 4 === 1)
      .select(col("doc_id"),
        graft.operators.TextAnalysis.cleanText(col("text")).as("text"))
    CurationStream.saveSeenDelta(frozen, adir, day1) // publishes v1
    val v1 = CurationStream.stateVersion(spark, adir)
    val before = verdicts()
    val keysBefore = CurationStream.readMeta(spark, adir).seenKeys
    // fabricate the CRASH WINDOW: the writer died after starting the next
    // version — a half-written seen_bloom_v<next> (one junk file, no
    // parquet footer), no meta_v<next>, and a leftover rename-era
    // CURRENT.tmp (junk the create-only protocol never reads) — and
    // BEFORE the CURRENT.v<next> marker create. The published pointer
    // must be untouched and every read path must serve the previous
    // complete version.
    val next = v1 + 1
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$adir/seen_bloom_v$next"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$adir/seen_bloom_v$next/part-junk"),
      Array[Byte](1, 2, 3))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$adir/CURRENT.tmp"),
      next.toString.getBytes("UTF-8"))
    assert(CurationStream.stateVersion(spark, adir) == v1,
      "a torn publish moved the pointer")
    assert(verdicts() == before,
      "a torn publish changed served verdicts")
    assert(CurationStream.readMeta(spark, adir).seenKeys == keysBefore)
    // the next real delta overwrites the torn dir and publishes cleanly
    val day2 = docs.filter(col("doc_id") % 4 === 2)
      .select(col("doc_id"),
        concat(graft.operators.TextAnalysis.cleanText(col("text")),
          lit(" r13crash")).as("text"))
    CurationStream.saveSeenDelta(frozen, adir, day2)
    assert(CurationStream.stateVersion(spark, adir) == next)
    val l2 = CurationStream.load(spark, adir)
    assert(CurationStream.curateBatch(day2, l2).count() == 0,
      "repaired artifact does not dedup the day-2 batch")
    CurationStream.release(l2)
    CurationStream.release(frozen)
    graft.core.CacheScope.release()
  }

  test("reader grace window: a model loaded BEFORE a delta keeps reading " +
       "complete pre-delta state after the publish; versions two " +
       "generations back are pruned (VERDICT r12 #1 torn-read)") {
    import graft.streaming.CurationStream
    val (frozen, adir, docs) = freshArtifact()
    val v0 = CurationStream.stateVersion(spark, adir)
    val arriving = docs.filter(col("doc_id") % 2 === 1)
    // reader resolves the pointer NOW (v0) — the delta below must not
    // delete the state it resolved
    val reader = CurationStream.load(spark, adir)
    val expected = CurationStream.curateBatch(arriving, frozen).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    val day1 = docs.filter(col("doc_id") % 4 === 1)
      .select(col("doc_id"),
        graft.operators.TextAnalysis.cleanText(col("text")).as("text"))
    CurationStream.saveSeenDelta(frozen, adir, day1) // publishes v1
    // v0 state still on disk (grace window): the reader's un-materialized
    // plans re-scan those files
    assert(graft.core.Fs.exists(spark, s"$adir/meta_v$v0"))
    val got = CurationStream.curateBatch(arriving, reader).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    assert(got == expected,
      "pre-delta reader's verdicts changed under a concurrent publish")
    // the retention rule keeps TWO generations back — one saveSeenDelta
    // call can bump the version twice (delta + auto-compaction), so
    // keep-one would let a single call outrun a reader that resolved the
    // pointer just before it. Second delta: v0 still within the window.
    def salted(k: Int) = docs.filter(col("doc_id") % 4 === 2)
      .select(col("doc_id"),
        concat(graft.operators.TextAnalysis.cleanText(col("text")),
          lit(s" r13grace$k")).as("text"))
    CurationStream.saveSeenDelta(frozen, adir, salted(2))
    assert(graft.core.Fs.exists(spark, s"$adir/meta_v$v0"),
      "grace window must span two state changes (delta + auto-compact " +
        "in one call)")
    // the DOUBLE-BUMP call itself: a delta with compactEvery=1 publishes
    // the delta version AND the compacted version — the version a reader
    // resolved immediately before the call (v0+2) must survive it
    CurationStream.saveSeenDelta(frozen, adir, salted(3), compactEvery = 1)
    assert(CurationStream.stateVersion(spark, adir) == v0 + 4,
      "expected delta + inline compaction to publish two versions")
    assert(graft.core.Fs.exists(spark, s"$adir/meta_v${v0 + 2}"),
      "the single double-bump call deleted its caller's resolved state")
    assert(!graft.core.Fs.exists(spark, s"$adir/meta_v$v0"),
      "three-generations-old meta not pruned")
    CurationStream.release(reader)
    CurationStream.release(frozen)
    graft.core.CacheScope.release()
  }

  test("lease lock: a stale lock is taken over after the configured " +
       "lease; a fresh lock is refused naming the holder; no-lease " +
       "callers never take over (VERDICT r12 #4)") {
    val d = java.nio.file.Files.createTempDirectory("lease_lock").toString
    val lock = s"$d/_delta_lock"
    val staleTs = System.currentTimeMillis - 60_000L
    assert(graft.core.Fs.tryCreateLock(spark, lock,
      s"owner=crashed-writer ts=$staleTs"))
    // default (no lease): refused loudly, holder + age in the message
    val e = intercept[IllegalStateException] {
      graft.core.Fs.withLock(spark, lock, "re-run the delta") { 1 }
    }
    assert(e.getMessage.contains("crashed-writer"),
      s"holder not named: ${e.getMessage}")
    assert(e.getMessage.contains("re-run the delta"))
    // a finite lease SHORTER than the lock's age: takeover succeeds and
    // the lock is released afterwards
    val r = graft.core.Fs.withLock(spark, lock, "re-run the delta",
      leaseMs = 30_000L) { 42 }
    assert(r == 42)
    assert(!graft.core.Fs.exists(spark, lock), "takeover leaked the lock")
    // a FRESH lock under a long lease: still refused, holder named
    assert(graft.core.Fs.tryCreateLock(spark, lock,
      s"owner=live-writer ts=${System.currentTimeMillis}"))
    val e2 = intercept[IllegalStateException] {
      graft.core.Fs.withLock(spark, lock, "re-run the delta",
        leaseMs = 3_600_000L) { 1 }
    }
    assert(e2.getMessage.contains("live-writer"))
    graft.core.Fs.removeLock(spark, lock)
  }

  test("compactSeenTable: row-identical, still bucketed + exchange-free, " +
       "file count collapses to <= one per bucket; saveSeenDelta " +
       "auto-compacts at compactEvery (VERDICT r12 #2)") {
    import graft.streaming.CurationStream
    val (frozen, adir, docs) = freshArtifact()
    def day(k: Int) = docs.filter(col("doc_id") % 7 === k)
      .select(col("doc_id"),
        concat(graft.operators.TextAnalysis.cleanText(col("text")),
          lit(s" r13compact$k")).as("text"))
    for (k <- 1 to 3) CurationStream.saveSeenDelta(frozen, adir, day(k))
    def files() = {
      val p = new org.apache.hadoop.fs.Path(
        CurationStream.seenTableDir(spark, adir))
      p.getFileSystem(spark.sessionState.newHadoopConf())
        .listStatus(p).count(_.getPath.getName.endsWith(".parquet"))
    }
    def rows() = spark.table(CurationStream.seenTableName(spark, adir))
      .collect().map(_.getString(0)).sorted.toSeq
    val am0 = CurationStream.readMeta(spark, adir)
    assert(am0.seenTableDeltas == 3L, s"delta count: ${am0.seenTableDeltas}")
    val filesBefore = files()
    assert(filesBefore > am0.confirmBuckets,
      "deltas did not fragment the table — compaction untestable")
    val rowsBefore = rows()
    CurationStream.compactSeenTable(spark, adir)
    val am1 = CurationStream.readMeta(spark, adir)
    assert(am1.seenTableV >= 0 && am1.seenTableDeltas == 0L)
    assert(rows() == rowsBefore, "compaction changed the stored hash set")
    val filesAfter = files()
    assert(filesAfter <= am1.confirmBuckets && filesAfter < filesBefore,
      s"compaction did not bound files: $filesBefore -> $filesAfter " +
        s"(${am1.confirmBuckets} buckets)")
    assert(am1.seenTableFiles == filesAfter.toLong,
      "meta file count differs from the directory")
    // the compacted table still reads BUCKETED and confirm-joins with no
    // exchange on the frozen side (the save()-time plan contract)
    val loaded = CurationStream.load(spark, adir)
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val probe = docs.select(md5(col("text")).as("__h"), col("doc_id"))
        .join(loaded.seenHashes, col("__h") === col("h"))
      probe.count()
      val plan = probe.queryExecution.executedPlan
      assert(plan.toString.contains("Bucketed: true"),
        "compacted seen table lost its bucketed scan")
      val shuffledFrozen = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.Exchange
          if e.toString.contains("graft_frozen") => e
      }
      assert(shuffledFrozen.isEmpty, "compacted seen table got re-shuffled")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
    // replayed content drops under the compacted artifact (verdicts kept)
    assert(CurationStream.curateBatch(day(2), loaded).count() == 0)
    CurationStream.release(loaded)
    // auto-compaction: with compactEvery=1 the NEXT delta compacts inline
    CurationStream.saveSeenDelta(frozen, adir, day(4), compactEvery = 1)
    val am2 = CurationStream.readMeta(spark, adir)
    assert(am2.seenTableDeltas == 0L,
      "compactEvery threshold did not trigger inline compaction")
    assert(rows().size > rowsBefore.size,
      "auto-compacted delta lost its appended hashes")
    CurationStream.release(frozen)
    graft.core.CacheScope.release()
  }

  test("vacuum drops every non-current state generation; the artifact " +
       "still loads and serves identical verdicts (round 13)") {
    import graft.streaming.CurationStream
    val (frozen, adir, docs) = freshArtifact()
    val arriving = docs.filter(col("doc_id") % 2 === 1)
    def day(k: Int) = docs.filter(col("doc_id") % 7 === k)
      .select(col("doc_id"),
        concat(graft.operators.TextAnalysis.cleanText(col("text")),
          lit(s" r13vac$k")).as("text"))
    for (k <- 1 to 2) CurationStream.saveSeenDelta(frozen, adir, day(k))
    CurationStream.compactSeenTable(spark, adir)
    val before = {
      val l = CurationStream.load(spark, adir)
      val v = CurationStream.curateBatch(arriving, l).collect()
        .map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
        .sortBy(_._1).toSeq
      CurationStream.release(l); v
    }
    val reclaimed = CurationStream.vacuum(spark, adir)
    // the reclaim is reported as DATA (VERDICT r13 #9): versions were
    // dropped, so paths/files/bytes must all be positive — and a second
    // vacuum of an already-clean artifact reclaims exactly nothing
    assert(reclaimed.pathsDropped > 0 && reclaimed.filesReclaimed > 0 &&
      reclaimed.bytesReclaimed > 0, s"vacuum reported $reclaimed")
    assert(reclaimed.toDF(spark).columns.toSeq ==
      Seq("paths_dropped", "files_reclaimed", "bytes_reclaimed"))
    assert(CurationStream.vacuum(spark, adir) == graft.core.VacuumStats.Zero,
      "second vacuum of a clean artifact reclaimed something")
    // exactly one generation of each state file remains
    val names = new java.io.File(adir).list().toSeq
    for (pfx <- Seq("meta_v", "seen_bloom_v", "seen_hashes_v"))
      assert(names.count(_.startsWith(pfx)) == 1,
        s"vacuum left ${names.filter(_.startsWith(pfx))}")
    assert(!names.contains("meta") && !names.contains("seen_bloom") &&
      !names.contains("seen_hashes"), "vacuum left legacy paths")
    // artifact hygiene is queryable as DATA (VERDICT r14 #8): the
    // manifest row reflects the compacted + vacuumed state
    val man = CurationStream.manifest(spark, adir).head()
    assert(man.getAs[Long]("versions_on_disk") == 1L, s"manifest: $man")
    assert(man.getAs[Long]("pointer_markers") == 1L, s"manifest: $man")
    assert(man.getAs[Int]("keep_generations") == 2)
    assert(man.getAs[Long]("state_version") >= 2L)
    assert(man.getAs[Long]("seen_table_deltas") == 0L,
      "compaction did not reset the fragmentation counter in the manifest")
    assert(man.getAs[Long]("seen_keys") > 0L)
    val l2 = CurationStream.load(spark, adir)
    val after = CurationStream.curateBatch(arriving, l2).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    assert(after == before, "vacuum changed served verdicts")
    assert(CurationStream.curateBatch(day(2), l2).count() == 0,
      "vacuum lost the delta history")
    assert(!graft.core.Fs.exists(spark, s"$adir/_delta_lock"))
    CurationStream.release(l2)
    CurationStream.release(frozen)
    graft.core.CacheScope.release()
  }

  test("keepGenerations is a save-time knob recorded in meta: pruning " +
       "honors it; 2 is the enforced floor (VERDICT r13 #8)") {
    import graft.streaming.CurationStream
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val ref = docs.filter(col("doc_id") % 2 === 0)
    val frozen = CurationStream.freeze(
      ref, ref.filter(col("doc_id") % 31 === 0), col("lang") === "en")
    // fewer than 2 grace generations lets one saveSeenDelta call (delta +
    // auto-compaction = two version bumps) outrun a concurrent reader
    val bad = intercept[IllegalArgumentException] {
      CurationStream.save(frozen,
        java.nio.file.Files.createTempDirectory("keepgen_bad").toString,
        keepGenerations = 1)
    }
    assert(bad.getMessage.contains("floor"), bad.getMessage)
    val adir = java.nio.file.Files.createTempDirectory("keepgen").toString
    CurationStream.save(frozen, adir, keepGenerations = 4)
    assert(CurationStream.readMeta(spark, adir).keepGenerations == 4,
      "knob not recorded in meta")
    def day(k: Int) = docs.filter(col("doc_id") % 11 === k)
      .select(col("doc_id"),
        concat(graft.operators.TextAnalysis.cleanText(col("text")),
          lit(s" keepgen$k")).as("text"))
    for (k <- 1 to 6) CurationStream.saveSeenDelta(frozen, adir, day(k))
    // save=v0 + 6 deltas -> cur=6; keep=4 retains meta v2..v6 where the
    // default 2 would have kept only v4..v6
    val names = new java.io.File(adir).list().toSeq
    for (v <- 2 to 6)
      assert(names.contains(s"meta_v$v"), s"keep=4 lost meta_v$v: $names")
    for (v <- 0 to 1)
      assert(!names.contains(s"meta_v$v"), s"prune left meta_v$v: $names")
    // pointer markers ride the SAME retention window (round 15): exactly
    // the kept generations' markers remain — the soak-bound property,
    // marker count can never grow past keep+1 no matter how many deltas
    val markers = names.filter(_.matches("CURRENT\\.v\\d+"))
    assert(markers.toSet == (2 to 6).map(v => s"CURRENT.v$v").toSet,
      s"pointer markers out of step with retention: $markers")
    // the knob survives the delta path (am.copy carries it) and the
    // artifact still serves
    assert(CurationStream.readMeta(spark, adir).keepGenerations == 4)
    val l = CurationStream.load(spark, adir)
    assert(CurationStream.curateBatch(day(3), l).count() == 0,
      "retention change lost delta history")
    CurationStream.release(l)
    CurationStream.release(frozen)
    graft.core.CacheScope.release()
  }

  test("save() refuses a directory with a LIVE artifact (the frozen-side " +
       "tables are rewritten in place); force=true re-saves " +
       "(VERDICT r13 #3)") {
    import graft.streaming.CurationStream
    val (frozen, adir, _) = freshArtifact()
    val e = intercept[IllegalStateException] {
      CurationStream.save(frozen, adir)
    }
    for (must <- Seq("already", "fresh directory", "force"))
      assert(e.getMessage.contains(must),
        s"guard must name $must: ${e.getMessage}")
    // the published artifact is untouched by the refused save
    val l = CurationStream.load(spark, adir)
    assert(l.weights.count() > 0)
    CurationStream.release(l)
    // the documented escape hatch: an explicitly-forced re-save lands
    CurationStream.save(frozen, adir, force = true)
    val l2 = CurationStream.load(spark, adir)
    assert(l2.weights.count() > 0)
    CurationStream.release(l2)
    CurationStream.release(frozen)
    graft.core.CacheScope.release()
  }

  test("compactSeenTable recounts seen_keys exactly — a crash+re-run " +
       "over-count self-heals at compaction (ADVICE r13)") {
    import graft.streaming.CurationStream
    val (frozen, adir, docs) = freshArtifact()
    val day1 = docs.filter(col("doc_id") % 5 === 1)
      .select(col("doc_id"),
        graft.operators.TextAnalysis.cleanText(col("text")).as("text"))
    CurationStream.saveSeenDelta(frozen, adir, day1)
    val trueKeys = spark.table(CurationStream.seenTableName(spark, adir))
      .count()
    assert(CurationStream.readMeta(spark, adir).seenKeys == trueKeys)
    // simulate the documented crash window: a delta whose pointer flip
    // landed but whose hash append did not, then the re-run — seen_keys
    // was incremented twice, the table only once. Inject the drift by
    // republishing the meta with an inflated count (the only field the
    // crash corrupts).
    val v = CurationStream.stateVersion(spark, adir)
    spark.read.parquet(s"$adir/meta_v$v")
      .withColumn("seen_keys", col("seen_keys") + lit(7L))
      .coalesce(1).write.parquet(s"$adir/meta_v${v + 1}")
    graft.core.Fs.writePointer(spark, adir, v + 1)
    assert(CurationStream.readMeta(spark, adir).seenKeys == trueKeys + 7,
      "drift injection failed")
    CurationStream.compactSeenTable(spark, adir)
    val am = CurationStream.readMeta(spark, adir)
    assert(am.seenKeys == trueKeys,
      s"compaction must recount exactly: ${am.seenKeys} vs $trueKeys")
    assert(am.seenTableDeltas == 0L)
    CurationStream.release(frozen)
    graft.core.CacheScope.release()
  }

  test("FULL artifact lifecycle on a CREATE-ONLY store (mock scheme " +
       "admitted via spark.graft.createOnlySchemes — atomic rename never " +
       "trusted): save / deltas / cross-attach load / compaction / " +
       "vacuum / manifest, verdict-identical to the in-memory model " +
       "(VERDICT r14 #1)") {
    import graft.streaming.CurationStream
    // the FsSpec mock filesystem: local storage masquerading under a
    // scheme the probe does NOT trust for atomic create/rename — exactly
    // an object store's shape from the protocol's point of view once the
    // deployment vouches for conditional-PUT create
    spark.sparkContext.hadoopConfiguration.set("fs.mock.impl",
      classOf[MockNonAtomicFileSystem].getName)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val ref = docs.filter(col("doc_id") % 2 === 0)
    val frozen = CurationStream.freeze(
      ref, ref.filter(col("doc_id") % 31 === 0), col("lang") === "en")
    val local = java.nio.file.Files.createTempDirectory("mock_art").toString
    val adir = s"mock://$local"
    // without the vouch the probe REFUSES the save outright
    val refused = intercept[IllegalStateException] {
      CurationStream.save(frozen, adir)
    }
    assert(refused.getMessage.contains("createOnlySchemes"))
    spark.conf.set("spark.graft.createOnlySchemes", "mock")
    try {
      CurationStream.save(frozen, adir)
      // the publish is marker-based from version 0: no rename-era file
      assert(!graft.core.Fs.exists(spark, s"$adir/CURRENT"),
        "create-only save must not write a rename-era CURRENT file")
      assert(graft.core.Fs.readPointer(spark, adir).contains(0L))
      val arriving = docs.filter(col("doc_id") % 2 === 1)
      def day(k: Int) = docs.filter(col("doc_id") % 5 === k)
        .select(col("doc_id"),
          concat(graft.operators.TextAnalysis.cleanText(col("text")),
            lit(s" mockday$k")).as("text"))
      for (k <- 1 to 3) CurationStream.saveSeenDelta(frozen, adir, day(k))
      // day-2 dedup works over the mock store: a replayed accepted batch
      // is dropped at the dedup stage
      val l0 = CurationStream.load(spark, adir)
      assert(CurationStream.curateBatch(day(2), l0).count() == 0,
        "mock-store artifact lost its delta history")
      // (arriving-batch model equivalence vs the in-memory extendSeen
      // chain is asserted below, after the vacuum — the strictest point)
      CurationStream.release(l0)
      CurationStream.compactSeenTable(spark, adir)
      val reclaimed = CurationStream.vacuum(spark, adir)
      assert(reclaimed.pathsDropped > 0)
      val man = CurationStream.manifest(spark, adir).head()
      assert(man.getAs[Long]("pointer_markers") == 1L, s"manifest: $man")
      assert(man.getAs[Long]("versions_on_disk") == 1L, s"manifest: $man")
      assert(man.getAs[Long]("seen_table_deltas") == 0L)
      // cross-attach load after the catalog entries are dropped (the
      // fresh-session path) still serves over mock:// LOCATIONs
      spark.sql("DROP TABLE IF EXISTS " +
        CurationStream.store(adir).table("eval_shingles"))
      spark.sql("DROP TABLE IF EXISTS " +
        CurationStream.seenTableName(spark, adir))
      val l1 = CurationStream.load(spark, adir)
      val got = CurationStream.curateBatch(arriving, l1).collect()
        .map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
        .sortBy(_._1).toSeq
      assert(got.nonEmpty, "no verdicts served from the mock store")
      // the title's model-equivalence claim, actually CHECKED (ADVICE
      // r15: this used to assert only got.nonEmpty): the same freeze
      // extended IN MEMORY with the same day(k) batches must yield
      // verdict tuples identical to the store-served model — across
      // save, three deltas, compaction, and vacuum on the mock scheme
      var mem = frozen
      for (k <- 1 to 3) {
        val next = CurationStream.extendSeen(mem, day(k))
        if (!(mem eq frozen)) CurationStream.releaseSeenSide(mem)
        mem = next
      }
      val memGot = CurationStream.curateBatch(arriving, mem).collect()
        .map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
        .sortBy(_._1).toSeq
      assert(memGot == got,
        s"mock-store verdicts diverge from the in-memory model: " +
          s"store=${got.size} rows mem=${memGot.size} rows; first diff=" +
          s"${memGot.zip(got).find(p => p._1 != p._2)}")
      if (!(mem eq frozen)) CurationStream.releaseSeenSide(mem)
      assert(CurationStream.curateBatch(day(3), l1).count() == 0,
        "vacuumed mock-store artifact lost the compacted history")
      CurationStream.release(l1)
      CurationStream.release(frozen)
      graft.core.CacheScope.release()
    } finally spark.conf.unset("spark.graft.createOnlySchemes")
  }
}
