package graft.core

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.SchemaShims

import graft.operators.{Dedup, FlatCatalog, Srp, TextOps, TextRanking}
import graft.sources.TextSources

/** The engine façade (reference: nonconsumptive/corpus.py `Corpus`).
  *
  * Wires a text source + metadata catalog and exposes the reference's
  * transformation DAG as named derived DataFrames (transformations.py:385-399
  * registry), each a lazy Catalyst plan:
  *
  *   text -> tokenization -> unigrams..quintgrams -> encoded_*
  *        -> document_lengths ; unigrams -> srp -> srp_bits
  *
  * `cacheSet` reproduces the reference's Reservoir semantics
  * (data_storage.py:154-161): a named stage in the set is materialized to
  * `cacheDir/<name>` parquet on first use and read back after — Spark's
  * answer to feather write-through caches. Staleness is handled by
  * [[CacheManager]] source fingerprints (metadata.py:43-56's mtime check).
  */
final class Corpus(
    val spark: SparkSession,
    textSource: => DataFrame,
    metadataSource: Option[String] = None,
    val cacheDir: Option[String] = None,
    val cacheSet: Set[String] = Set.empty) {

  private val cache = new CacheManager(spark, cacheDir, metadataSource)

  /** The normalized catalog with dense `nc:id`. When no metadata is given,
    * the catalog is autogenerated from text ids (corpus.py:89-98). */
  lazy val catalog: DataFrame = cached("catalog") {
    metadataSource match {
      case Some(path) => Catalog.build(spark, path)
      case None => Ids.assignDense(textSource.select(col("@id")), "@id")
    }
  }

  /** Text joined to dense ids: (nc:id, @id, text). Every downstream stage
    * carries nc:id from here — no positional alignment anywhere
    * (SURVEY §1.5 J4). */
  lazy val text: DataFrame = cached("text") {
    textSource.join(catalog.select(col("@id"), col("nc:id")), Seq("@id"))
      .select(col("nc:id"), col("@id"), col("text"))
  }

  // ------------------------------------------------ derived-table registry

  /** The named-transformation registry. Each entry builds from `text` (or
    * another registry entry) — mirrors transformations.py:385-399. */
  def derived(name: String): DataFrame = cached(name)(builders(name)())

  def transformations: Seq[String] = builders.keys.toSeq.sorted

  private lazy val builders: Map[String, () => DataFrame] = Map(
    "tokenization" -> (() => TextOps.tokenization(text, "nc:id")),
    "document_lengths" -> (() => TextOps.documentLengths(text, "nc:id")),
    "unigrams" -> (() => TextOps.unigrams(text, "nc:id")),
    "bigrams" -> (() => TextOps.ngrams(text, 2, "nc:id")),
    "trigrams" -> (() => TextOps.ngrams(text, 3, "nc:id")),
    "quadgrams" -> (() => TextOps.ngrams(text, 4, "nc:id")),
    "quintgrams" -> (() => TextOps.ngrams(text, 5, "nc:id")),
    "total_wordcounts" -> (() => TextOps.totalWordcounts(text, TextOps.VocabCap, "nc:id")),
    "encoded_unigrams" -> (() => TextOps.encodedUnigrams(text, totalWordcounts, "nc:id")),
    "encoded_bigrams" -> (() =>
      TextOps.encodeNgramTable(bigrams, totalWordcounts, 2, "nc:id")),
    "encoded_trigrams" -> (() =>
      TextOps.encodeNgramTable(trigrams, totalWordcounts, 3, "nc:id")),
    "srp" -> (() => Srp.srpFlat(text, Srp.DefaultDims, "nc:id")),
    "srp_bits" -> (() => Srp.srpBits(text, Srp.DefaultDims, "nc:id")),
    "simhash" -> (() => Dedup.simhash(text, 60, "nc:id")),
    "tfidf" -> (() => TextRanking.tfidf(text, "nc:id")),
    "keywords" -> (() => TextRanking.keywords(text, 3, "nc:id")),
    "sentences" -> (() => TextOps.sentences(text, "nc:id")),
    "collocations" -> (() => TextRanking.collocations(text, idCol = "nc:id")),
    "cross_entropy" -> (() => TextRanking.bigramCrossEntropy(text, idCol = "nc:id")),
    "redaction_audit" -> (() =>
      graft.operators.TextAnalysis.redactionAudit(text, "nc:id")),
    "repetition" -> (() =>
      graft.operators.TextAnalysis.repetitionSignals(text, "nc:id")),
    "packed_sequences" -> (() =>
      TextOps.packSequences(text, idCol = "nc:id")),
    "winnow_fingerprints" -> (() =>
      Dedup.winnowFingerprints(text, idCol = "nc:id")),
    "winnow_pairs" -> (() =>
      Dedup.winnowPairs(text, idCol = "nc:id")),
    // near-dup clusters + survivors over the winnow pair graph (the
    // self-contained dedup chain; callers with LSH/cosine pair tables use
    // the operators directly)
    "dup_clusters" -> (() =>
      Dedup.duplicateClusters(Dedup.winnowPairs(text, idCol = "nc:id"))),
    "dedup_survivors" -> (() =>
      Dedup.dropNearDuplicates(text,
        Dedup.winnowPairs(text, idCol = "nc:id"), idCol = "nc:id")),
    // fixed-size corpus token-frequency sketch (mergeable across shards)
    "cms" -> (() =>
      graft.operators.Sketches.cmsBuild(
        unigrams.groupBy("token").agg(
          org.apache.spark.sql.functions.sum("count").as("n")),
        "token", "n")),
    // search-index layer: positional posting lists + BM25 term weights
    "postings" -> (() => TextRanking.postings(text, "nc:id")),
    "bm25" -> (() => TextRanking.bm25(text, idCol = "nc:id")),
    // crawl-text cleaning audit (tags/control chars/whitespace)
    "clean_audit" -> (() =>
      graft.operators.TextAnalysis.cleanAudit(text, "nc:id")),
    // graph-based keyword importance over the corpus co-occurrence graph
    "textrank" -> (() => TextRanking.textrank(text, idCol = "nc:id")),
    // Kneser-Ney LM cross-entropy quality signal
    "kneser_ney" -> (() =>
      TextRanking.kneserNeyCrossEntropy(text, idCol = "nc:id")),
    // content-defined chunks (rsync/LBFS boundaries) for sub-doc dedup
    "cdc_chunks" -> (() => TextOps.cdcChunks(text, idCol = "nc:id")),
    // O(n) rolling-hash CDC (same contract, codegen boundary scan)
    "cdc_rolling" -> (() => TextOps.cdcChunksRolling(text, idCol = "nc:id")),
    // character-exact repeated-substring report + keep-first-cleaned text
    "substring_spans" -> (() =>
      Dedup.repeatedSubstringSpans(text, idCol = "nc:id")),
    "substring_clean" -> (() =>
      Dedup.removeSpans(text,
        Dedup.repeatedSubstringSpans(text, idCol = "nc:id", keepFirst = true),
        idCol = "nc:id")),
    // padding-minimizing length-bucketed training batches
    "length_batches" -> (() => TextOps.lengthBatches(text, idCol = "nc:id")),
    // SRP-fingerprint near-dup pairs: the winnow chain's alternative
    // candidate generator — 180-bit multi-word Hamming, exact recall
    "srp_hamming_pairs" -> (() =>
      graft.operators.Srp.hammingPairsWide(text, maxDist = 2, dims = 180,
        idCol = "nc:id")),
    // DSIR importance scores, self-supervised: target = documents whose
    // n-gram language-ID says English (the corpus carries no label column,
    // so the predicate is derived from the text itself)
    "dsir_scores" -> (() => {
      val lang = graft.operators.TextAnalysis.languageId(text, "nc:id")
        .select(org.apache.spark.sql.functions.col("nc:id"),
          org.apache.spark.sql.functions.col("lang_pred"))
      graft.operators.Dsir.scoreAll(text.join(lang, Seq("nc:id")),
        org.apache.spark.sql.functions.col("lang_pred") === "en",
        numBuckets = 4096, idCol = "nc:id")
    })
  )

  def tokenization: DataFrame = derived("tokenization")
  def documentLengths: DataFrame = derived("document_lengths")
  def unigrams: DataFrame = derived("unigrams")
  def bigrams: DataFrame = derived("bigrams")
  def trigrams: DataFrame = derived("trigrams")
  /** The corpus-wide vocabulary; forced before encoded_* like the
    * reference's build ordering (tests/test_threading.py:99-104). */
  def totalWordcounts: DataFrame = derived("total_wordcounts")
  def encodedUnigrams: DataFrame = derived("encoded_unigrams")
  def encodedBigrams: DataFrame = derived("encoded_bigrams")
  def encodedTrigrams: DataFrame = derived("encoded_trigrams")
  def srp: DataFrame = derived("srp")
  def srpBits: DataFrame = derived("srp_bits")

  // ----------------------------------------------------------- exports

  /** P2 point lookup (metadata.py:103-110). */
  def document(id: String): Option[org.apache.spark.sql.Row] =
    catalog.filter(col("@id") === id).collect().headOption

  /** K2/K3 `to_parquet`: metadata + chosen feature tables joined on nc:id,
    * one parquet dataset (corpus.py:172-184, writers.py:5-30). Features are
    * re-nested per document at this export boundary only (SURVEY §7.1).
    * `maxDocsPerFile` rolls output files like the reference's
    * BookstackBuilder (K4, utils.py:56-111). */
  def toParquet(path: String, features: Seq[String] = Seq("unigrams"),
                maxDocsPerFile: Int = 65536): Unit = {
    val nested = features.foldLeft(catalog) { (acc, f) =>
      val feat = derived(f)
      val valueCols = feat.columns.filterNot(_ == "nc:id")
      val packed = feat.groupBy(col("nc:id"))
        .agg(collect_list(struct(valueCols.toSeq.map(col): _*)).as(s"nc:$f"))
      acc.join(packed, Seq("nc:id"), "left")
    }
    nested.write.mode("overwrite")
      .option("maxRecordsPerFile", maxDocsPerFile.toLong)
      .parquet(path)
  }

  /** A10 flat catalog export: `catalog`, `fastcat`, one Lookup table per
    * dictionary column, and one exploded child table per list column
    * (metadata.py:112-182; child tables :152-160: table `<col>` with columns
    * (nc:id, <col>), one row per element). As in the reference, the 1NF
    * `catalog` table drops the list columns — they live only in the
    * children. */
  def toFlatCatalog(path: String, dictCols: Seq[String]): Unit = {
    val listCols = catalog.schema.fields
      .filter(_.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType])
      .map(_.name).toSeq
    catalog.drop(listCols: _*).write.mode("overwrite").parquet(s"$path/catalog")
    // dictionary index widths narrow by cardinality at the sink
    // (catalog.py:506-513): ONE aggregate for all dictionary columns.
    val cards: Map[String, Long] =
      if (dictCols.isEmpty) Map.empty
      else {
        val aggs = dictCols.map(c => countDistinct(col(s"`$c`")).as(c))
        val row = catalog.agg(aggs.head, aggs.tail: _*).collect()(0)
        dictCols.map(c => c -> row.getAs[Long](c)).toMap
      }
    val fast = FlatCatalog.fastcat(catalog, "nc:id", dictCols)
    fast.select(fast.columns.toSeq.map {
        case c if c.endsWith("__id") =>
          col(s"`$c`").cast(FlatCatalog.indexType(cards(c.stripSuffix("__id")))).as(c)
        case c => col(s"`$c`")
      }: _*)
      .write.mode("overwrite").parquet(s"$path/fastcat")
    dictCols.foreach { c =>
      val d = FlatCatalog.dictionary(catalog, c)
      d.withColumn("id", col("id").cast(FlatCatalog.indexType(cards(c))))
        .write.mode("overwrite").parquet(s"$path/${c}Lookup")
    }
    listCols.foreach { c =>
      FlatCatalog.listChild(catalog, "nc:id", c).withColumnRenamed("value", c)
        .write.mode("overwrite").parquet(s"$path/$c")
    }
  }

  /** Build-and-materialize targets (commander.py `build --targets`). */
  def cacheTargets(targets: Seq[String]): Unit =
    targets.foreach(t => derived(t).count())

  /** Cached stages already resolved by this instance: each is listed,
    * fingerprinted and read back once, not on every access. */
  private val resolved = scala.collection.concurrent.TrieMap.empty[String, DataFrame]

  private def cached(name: String)(build: => DataFrame): DataFrame =
    if (cacheSet.contains(name))
      resolved.getOrElseUpdate(name, cache.getOrBuild(name)(build))
    else build
}

object Corpus {

  /** Folder-of-text-files corpus (ids from filenames). */
  def fromFolder(spark: SparkSession, dir: String, format: String = "txt",
                 metadata: Option[String] = None, cacheDir: Option[String] = None,
                 cacheSet: Set[String] = Set.empty): Corpus =
    new Corpus(spark, TextSources.folder(spark, dir, format), metadata, cacheDir, cacheSet)

  /** Single mallet-style file corpus. */
  def fromSingleFile(spark: SparkSession, path: String,
                     metadata: Option[String] = None, cacheDir: Option[String] = None,
                     cacheSet: Set[String] = Set.empty): Corpus =
    new Corpus(spark, TextSources.singleFile(spark, path), metadata, cacheDir, cacheSet)

  /** Corpus whose text is a metadata column (text_options.metadata_field). */
  def fromMetadataField(spark: SparkSession, metadataPath: String, textField: String,
                        cacheDir: Option[String] = None,
                        cacheSet: Set[String] = Set.empty): Corpus = {
    lazy val cat = Catalog.withId(Catalog.load(spark, metadataPath))
    new Corpus(spark, TextSources.fromMetadata(cat, textField),
      Some(metadataPath), cacheDir, cacheSet)
  }

  /** Parquet-bookstacks corpus (S7). `onlyStacks` restricts which stack
    * files load (P5, corpus.py:305-312) — a partition filter on the file
    * identity, pruned at the scan. */
  def fromBookstacks(spark: SparkSession, dir: String,
                     onlyStacks: Option[Set[String]] = None,
                     cacheDir: Option[String] = None,
                     cacheSet: Set[String] = Set.empty): Corpus = {
    lazy val stacks = {
      val all = TextSources.bookstacks(spark, dir)
      onlyStacks match {
        case Some(keep) => all.filter(col("nc:stack").isInCollection(keep))
        case None => all
      }
    }
    new Corpus(spark, TextSources.bookstackText(stacks), None, cacheDir, cacheSet)
  }
}

/** Write-through parquet stage cache with source-fingerprint staleness
  * (reference: data_storage.py Reservoir caching + metadata.py:43-56 mtime
  * invalidation, re-expressed as a manifest of (path, mtime, size)). */
final class CacheManager(spark: SparkSession, cacheDir: Option[String],
                         source: Option[String]) {

  def getOrBuild(name: String)(build: => DataFrame): DataFrame = cacheDir match {
    case None => build
    case Some(dir) =>
      val path = s"$dir/$name"
      val markFile = Paths.get(s"$path/_FINGERPRINT")
      val fp = fingerprint()
      if (Files.exists(markFile) &&
        new String(Files.readAllBytes(markFile)) == fp) {
        spark.read.parquet(path)
      } else {
        val built = build
        built.write.mode("overwrite").parquet(path)
        Files.write(markFile, fp.getBytes)
        // parquet stores every column nullable; reading back with the known
        // schema skips the footer-inference job
        spark.read.schema(SchemaShims.asNullable(built.schema)).parquet(path)
      }
  }

  /** Fingerprint of the corpus source: path + mtime + size of each file.
    * Hadoop FS API, not java.io — the source can live on any scheme
    * (hdfs://, s3a://, file:) on a real cluster. The listing is RECURSIVE,
    * matching the folder source's recursiveFileLookup: a directory entry's
    * own mtime does not change when a file nested under it is edited, so a
    * top-level-only listing would serve stale caches for nested edits. */
  private def fingerprint(): String = source match {
    case None => "no-source"
    case Some(p) =>
      val path = new org.apache.hadoop.fs.Path(p)
      val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val st = fs.getFileStatus(path)
      val files =
        if (st.isDirectory) {
          val it = fs.listFiles(path, true)
          Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
            .map(x => (x.getPath.toString, x.getModificationTime, x.getLen))
            .toArray.sortBy(_._1)
        } else Array((st.getPath.toString, st.getModificationTime, st.getLen))
      files.map { case (pp, mt, len) => s"$pp:$mt:$len" }.mkString("|")
  }
}
