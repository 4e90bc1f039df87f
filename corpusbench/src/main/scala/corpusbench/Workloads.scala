package corpusbench

import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core.{CacheScope, Corpus}
import graft.operators.{Dedup, Srp}
import graft.streaming.CurationStream

/** What every workload shares: the session, the tracer, a working directory
  * and the generator seed. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val work: Path,
                val seed: Long) {
  def span[A](name: String)(body: => A): A = tracer.span(name)(body)

  def fresh(name: String): Path = {
    val p = work.resolve(name)
    Bench.deleteTree(p)
    p
  }

  /** The engine's corpus over generated inputs, every stage in `stages`
    * written through a cache in a new directory. The cache must start empty:
    * CacheManager serves any stage whose fingerprint file exists, and with a
    * metadata source it fingerprints the metadata only, never the text, so a
    * reused directory would turn a cold build into a warm read. */
  def corpus(in: Inputs, cacheName: String, stages: Set[String]): Corpus =
    new Corpus(spark,
      spark.read.schema("`@id` STRING, text STRING").json(in.text.toString),
      Some(in.catalog.toString), Some(fresh(cacheName).toString), stages)
}

/** A generated corpus and where its NDJSON files are. */
final case class Inputs(gen: GenCorpus, catalog: Path, text: Path)

/** One benchmark workload: [[prepare]] is the repeatable set-up, [[pass]]
  * the timed work over the whole corpus, [[checks]] compare the outputs with
  * the generator's ground truth. */
trait Workload {
  /** Documents in the corpus. */
  def docs: Int
  /** Generates the corpus and writes its inputs. */
  def prepare(): Inputs
  def pass(in: Inputs): Unit
  def checks(in: Inputs): Seq[(String, Boolean)]
  /** Workload-specific per-layer values; layers it does not call are 0. */
  def layerValues(in: Inputs): Map[String, Double]
  /** Digest of the pass's outputs, equal for equal seeds. */
  def digest: String
  /** Checks [[checks]] left out because the pass gave them no input. */
  def skipped(in: Inputs): Seq[String] = Nil
}

object Workloads {
  val Names = Seq("featurize", "curate")

  /** The named workload over `docs` documents, or its benchmark size.
    * The sizes are what fits the benchmark's time budget, a JVM start
    * included, on a 4-core host. At these sizes the pass is mostly Spark's
    * fixed cost per job (about 100 jobs per pass) and, since the pass is the
    * JVM's first, the class loading, JIT and code generation those jobs pay
    * once; data-proportional work is a minority of it. */
  def apply(name: String, c: Ctx, docs: Int = 0): Workload = name match {
    case "featurize" => new Featurize(c, if (docs > 0) docs else 200)
    case "curate" => new Curate(c, if (docs > 0) docs else 150)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (known: ${Names.mkString(", ")})")
  }

  def inputs(c: Ctx, n: Int): Inputs = {
    val gen = Gen.corpus(c.seed, n)
    val (cat, txt) = gen.write(c.fresh("input"))
    Inputs(gen, cat, txt)
  }

  def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  def sha256(rows: Iterable[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }
}

/** The reference pipeline as one cold build, then a few interactive queries
  * over what it built: catalog, text, six feature tables, SRP bits, the
  * Hamming near-duplicate search over SRP, both exports, every table
  * written through a fresh cache. Chosen because it runs every feature
  * builder (each re-tokenizes the text) and the cache write path. The
  * catalog build, the JVM's first Spark SQL work, carries most of the class
  * loading and takes about a third of the pass; the six `textops` tables
  * take about a quarter and SRP about a fifth, so a change that tokenizes
  * once shows here, as does one that removes jobs. */
final class Featurize(c: Ctx, n: Int) extends Workload {
  val Stages = Seq("unigrams", "bigrams", "total_wordcounts",
    "encoded_unigrams", "encoded_bigrams", "document_lengths")
  val docs: Int = n
  private var corpus: Corpus = _
  private var exportDir: Path = _
  private var staleStages = Seq.empty[String]
  private var pairs: Set[(Long, Long)] = Set.empty
  private case class Answer(kind: String, doc: Doc, word: String, rows: Seq[Seq[Any]])
  private var answers: Seq[Answer] = Nil
  val ExploreQueries = 3

  def prepare(): Inputs = Workloads.inputs(c, n)

  def pass(in: Inputs): Unit = {
    corpus = c.corpus(in, "featurize-cache",
      Set("catalog", "text", "srp_bits") ++ Stages)
    exportDir = c.fresh("featurize-export")
    val cacheDir = Paths.get(corpus.cacheDir.get)
    // every cached stage must be written by this pass, not served
    val t0 = System.currentTimeMillis() - 1000
    def written(stage: String): Unit = {
      val f = cacheDir.resolve(stage).resolve("_FINGERPRINT")
      if (!Files.exists(f) || Files.getLastModifiedTime(f).toMillis < t0)
        staleStages :+= stage
    }
    c.span("catalog.build") { corpus.catalog }
    written("catalog")
    c.span("corpus.text") { corpus.text }
    written("text")
    Stages.foreach { s =>
      c.span(s"textops.$s") { corpus.derived(s) }
      written(s)
    }
    c.span("srp.bits") { corpus.srpBits }
    written("srp_bits")
    pairs = c.span("srp.hamming_pairs") {
      Srp.hammingPairsWide(corpus.text, idCol = "nc:id").select("id_a", "id_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    c.span("export.to_parquet") {
      corpus.toParquet(exportDir.resolve("parquet").toString)
    }
    c.span("export.flat_catalog") {
      corpus.toFlatCatalog(exportDir.resolve("flat").toString, Seq("genre"))
    }
    explore(in)
    CacheScope.release()
  }

  /** The interactive backend over the fresh cache, one client issuing
    * seeded document lookups, word-trend queries (encoded_unigrams joined to
    * the vocabulary and the catalog, grouped by year) and genre facet counts.
    * Cache reads and Spark's fixed per-job cost dominate these, so a change
    * that adds jobs or eager actions per call shows here. Each answer is
    * kept for [[checks]]. */
  private def explore(in: Inputs): Unit = {
    val rng = new java.util.SplittableRandom(c.seed)
    answers = (0 until ExploreQueries).map { q =>
      val d = in.gen.docs(rng.nextInt(n))
      q % 3 match {
        case 0 =>
          val row = c.span("explore.document") { corpus.document(d.id) }
          Answer("document", d, "", row.toSeq.map(r => Seq(r.getAs[Number]("year").intValue,
            r.getAs[String]("genre"), r.getSeq[String](r.fieldIndex("keywords")))))
        case 1 =>
          val ws = d.text.split("[^\\p{L}]+").filter(_.nonEmpty)
          val w = ws(rng.nextInt(ws.length))
          val byYear = c.span("explore.trend") {
            corpus.encodedUnigrams
              .join(corpus.totalWordcounts.filter(col("token") === w)
                .select("wordid"), "wordid")
              .join(corpus.catalog.select("nc:id", "year"), "nc:id")
              .groupBy("year").agg(sum("count")).collect()
          }
          Answer("trend", d, w, byYear.toSeq.map(r => Seq(r.getLong(1))))
        case _ =>
          val facets = c.span("explore.facet") {
            corpus.catalog.groupBy("genre").count().collect()
          }
          Answer("facet", d, "", facets.toSeq.map(r => Seq(r.getString(0), r.getLong(1))))
      }
    }
  }

  /** Whether an explore answer matches the generator's ground truth. */
  private def correct(a: Answer, in: Inputs): Boolean = a.kind match {
    case "document" =>
      a.rows == Seq(Seq(a.doc.year, a.doc.genre, a.doc.keywords))
    case "trend" =>
      a.rows.map(_.head.asInstanceOf[Long]).sum == in.gen.docs.iterator
        .map(_.text.split("[^\\p{L}]+").count(_ == a.word).toLong).sum
    case _ =>
      a.rows.map(r => r.head -> r(1)).toMap ==
        in.gen.docs.groupBy(_.genre).map { case (g, ds) => g -> ds.size.toLong }
  }

  private lazy val counts = {
    val uni = corpus.unigrams
    Map(
      "uni_sum" -> uni.agg(sum("count")).head().getLong(0),
      "uni_rows" -> uni.count(),
      "nwords_sum" -> corpus.documentLengths.agg(sum("nwords")).head().getLong(0),
      "enc_rows" -> corpus.encodedUnigrams.count(),
      "vocab" -> corpus.totalWordcounts.count(),
      "srp_rows" -> corpus.srpBits.count(),
      "export_docs" ->
        c.spark.read.parquet(exportDir.resolve("parquet").toString).count(),
      "fastcat_docs" ->
        c.spark.read.parquet(exportDir.resolve("flat/fastcat").toString).count())
  }

  def checks(in: Inputs): Seq[(String, Boolean)] = Seq(
    "unigram total = generated tokens" -> (counts("uni_sum") == in.gen.tokenTotal),
    "nwords total = generated tokens" -> (counts("nwords_sum") == in.gen.tokenTotal),
    "encoded_unigrams rows = unigrams rows" -> (counts("enc_rows") == counts("uni_rows")),
    "srp_bits has N*22 rows" -> (counts("srp_rows") == n.toLong * 22),
    "every planted exact copy is a Hamming pair" -> in.gen.exactCopies.forall {
      case (o, k) => pairs.contains((o.toLong, k.toLong))
    },
    "parquet export holds N docs" -> (counts("export_docs") == n),
    "flat catalog holds N docs" -> (counts("fastcat_docs") == n),
    s"every cached stage built cold (stale: ${staleStages.mkString(",")})" ->
      staleStages.isEmpty,
    s"$ExploreQueries lookups, trends and facets match the generator" ->
      (answers.size == ExploreQueries && answers.forall(correct(_, in))))

  def digest: String = Workloads.sha256(
    corpus.totalWordcounts.collect().map(_.mkString(",")).sorted ++
      corpus.srpBits.collect().map(_.mkString(",")).sorted ++
      pairs.toSeq.sorted.map(_.toString))

  def layerValues(in: Inputs): Map[String, Double] = {
    val cacheBytes = Workloads.bytesUnder(Paths.get(corpus.cacheDir.get)).toDouble
    val exportBytes = Workloads.bytesUnder(exportDir).toDouble
    Map(
      "textops.tokens" -> counts("nwords_sum").toDouble,
      "textops.vocab_size" -> counts("vocab").toDouble,
      "corpus.cache_bytes_written" -> cacheBytes,
      "export.bytes_written" -> exportBytes,
      "out_bytes_per_in_byte" -> (cacheBytes + exportBytes) / in.gen.textBytes,
      "srp.pairs" -> pairs.size.toDouble,
      "srp.planted_recall" -> in.gen.nearCopies.count { case (o, k) =>
        pairs.contains((o.toLong, k.toLong))
      }.toDouble / in.gen.nearCopies.size)
  }
}

/** The LLM-curation path: near-duplicate removal over winnowing pairs
  * (connected-component label propagation), then a frozen curation model
  * trained on the even-id half of the survivors (DSIR weights, eval and
  * seen Blooms, KN3 model and cutoff) and applied to the odd-id half.
  * Chosen because it is the shuffle-heavy path: the freeze, whose four
  * branches (one of them the KN3 model) run side by side, is about half of
  * the pass and the near-duplicate removal about a third. On this corpus the DSIR resample keeps no held-out document, so
  * the apply scores every held-out document and runs the later stages
  * (decontamination, dedup, KN3 perplexity) on empty inputs; their cost
  * there is per-job cost only. */
final class Curate(c: Ctx, n: Int) extends Workload {
  val docs: Int = n
  private var survivors: Set[Long] = Set.empty
  private var resampled: Set[Long] = Set.empty
  private var afterDecontam: Set[Long] = Set.empty
  private var kept: Seq[(String, Long)] = Nil
  private var heldOut = 0L
  private var applyS = 0.0
  /** Digest of the frozen model's scalars and DSIR weights and of the
    * curated batch rows (id, DSIR score, cross-entropy). The model part
    * keeps the digest meaningful when the batch output is empty. */
  var digest = ""

  def prepare(): Inputs = Workloads.inputs(c, n)

  def pass(in: Inputs): Unit = {
    // ids are "d" + the document index, so doc_id is the generator's index
    val input = c.spark.read.schema("`@id` STRING, text STRING").json(in.text.toString)
      .join(c.spark.read.schema("`@id` STRING, genre STRING").json(in.catalog.toString), "@id")
      .select(substring(col("@id"), 2, 20).cast("long").as("doc_id"),
        col("text"), col("genre"))
    val evalDocs = c.spark.createDataFrame(in.gen.evalPassages.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }).toDF("doc_id", "text")
    val surv = c.span("dedup.survivors") {
      val s = CacheScope.persist(
        Dedup.dropNearDuplicates(input, Dedup.winnowPairs(input)))
      survivors = s.select("doc_id").collect().map(_.getLong(0)).toSet
      s
    }
    heldOut = survivors.count(_ % 2 == 1).toLong
    val frozen = c.span("curation.freeze") {
      CurationStream.freeze(surv.filter(col("doc_id") % 2 === 0), evalDocs,
        col("genre") === "news")
    }
    val t0 = System.nanoTime()
    val out = c.span("curation.apply") {
      val stages = CurationStream.curateBatchStages(
        surv.filter(col("doc_id") % 2 === 1), frozen).toMap
      def ids(stage: String) =
        stages(stage).select("doc_id").collect().map(_.getLong(0)).toSet
      resampled = ids("resample")
      afterDecontam = ids("decontam")
      kept = Seq("resample" -> resampled.size.toLong,
        "decontam" -> afterDecontam.size.toLong,
        "dedup" -> stages("dedup").count())
      stages("perplexity").select("doc_id", "score_micro", "ce_micro").collect()
        .map(r => s"${r.getLong(0)},${r.getLong(1)},${r.getLong(2)}").sorted.toSeq
    }
    applyS = (System.nanoTime() - t0) / 1e9
    kept :+= ("perplexity" -> out.size.toLong)
    digest = Workloads.sha256(
      Seq(frozen.scoreMaxMicro, frozen.ceCutMicro, frozen.evalKeys,
        frozen.seenKeys).map(_.toString) ++
        frozen.weights.collect().map(_.mkString(",")).sorted ++ out)
    CurationStream.release(frozen)
    CacheScope.release()
  }

  /** Planted contaminated documents that reach the decontamination stage. */
  private def contaminatedIn(in: Inputs): Seq[Int] =
    in.gen.contaminated.filter(k => resampled.contains(k.toLong))

  def checks(in: Inputs): Seq[(String, Boolean)] = Seq(
    "survivors are a subset of the input" -> survivors.forall(id => id >= 0 && id < n),
    "every planted exact copy is removed" ->
      in.gen.exactCopies.forall { case (_, k) => !survivors.contains(k.toLong) }) ++
    (if (contaminatedIn(in).isEmpty) Nil
     else Seq("no planted contaminated doc passes decontamination" ->
       contaminatedIn(in).forall(k => !afterDecontam.contains(k.toLong))))

  override def skipped(in: Inputs): Seq[String] =
    if (contaminatedIn(in).nonEmpty) Nil
    else Seq(s"decontamination: no planted contaminated doc among the " +
      s"${resampled.size} docs the DSIR resample kept")

  def layerValues(in: Inputs): Map[String, Double] =
    kept.map { case (s, k) => s"curation.kept.$s" -> k.toDouble }.toMap ++ Map(
      "dedup.survivors" -> survivors.size.toDouble,
      "dedup.planted_recall" -> in.gen.nearCopies.count { case (_, k) =>
        !survivors.contains(k.toLong)
      }.toDouble / in.gen.nearCopies.size,
      "apply_docs_per_s" -> heldOut / applyS)
}
