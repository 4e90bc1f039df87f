package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Corpus

/** Port of tests/test_caching.py + test_writers.py: cache materialization,
  * idempotence, export round-trips, the derived-table registry. */
class CorpusSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def newCorpus(cacheDir: Option[String] = None,
                        cacheSet: Set[String] = Set.empty) =
    Corpus.fromFolder(spark, s"${TestSpark.fixtures}/corpora/test1/texts",
      cacheDir = cacheDir, cacheSet = cacheSet)

  test("autogenerated catalog: ids from filenames, dense nc:id") {
    val cat = newCorpus().catalog
    val rows = cat.collect().map(r =>
      (r.getString(r.fieldIndex("@id")), r.getLong(r.fieldIndex("nc:id")))).sortBy(_._2)
    assert(rows.map(_._1).toSeq == Seq("a", "b", "c")) // sorted @id order
    assert(rows.map(_._2).toSeq == Seq(0L, 1L, 2L))
  }

  test("registry exposes the reference transformation names") {
    val names = newCorpus().transformations.toSet
    assert(Set("tokenization", "unigrams", "bigrams", "trigrams", "quadgrams",
      "quintgrams", "document_lengths", "total_wordcounts", "encoded_unigrams",
      "srp", "srp_bits").subsetOf(names))
  }

  test("round-8 registry entries build on a tiny corpus") {
    val c = newCorpus()
    // rolling CDC tiles each doc (chunk lengths sum to doc length)
    val cdc = c.derived("cdc_rolling")
      .groupBy("nc:id").agg(org.apache.spark.sql.functions.sum("chunk_len"))
      .collect().map(r => r.getLong(1))
    assert(cdc.nonEmpty && cdc.forall(_ > 0L))
    // distinct tiny docs share no 24-char gram: no spans, clean == text
    assert(c.derived("substring_spans").count() == 0L)
    assert(c.derived("substring_clean").count() == c.text.count())
    // every doc lands in exactly one batch slot
    assert(c.derived("length_batches").count() == c.text.count())
    // SRP hamming pairs: the 3 distinct tiny docs share no fingerprint
    // band at 180 bits — empty, not a crash
    assert(c.derived("srp_hamming_pairs").count() == 0L)
    // DSIR: every doc WITH TOKENS gets an importance score (the empty doc
    // c has no features and is absent — the documented contract)
    val withTokens = c.documentLengths
      .filter(org.apache.spark.sql.functions.col("nwords") > 0)
      .collect().map(_.getLong(0)).toSet
    val scores = c.derived("dsir_scores").collect()
    assert(scores.map(_.getLong(0)).toSet == withTokens)
    graft.core.CacheScope.release()
  }

  test("dedup-chain and sketch registry entries build on a tiny corpus") {
    val c = newCorpus()
    // 3 distinct docs, no shared 8-token runs: no pairs, no clusters,
    // every doc survives; the sketch has at most depth*width cells
    assert(c.derived("winnow_pairs").count() == 0L)
    assert(c.derived("dup_clusters").count() == 0L)
    assert(c.derived("dedup_survivors").count() == c.text.count())
    val cms = c.derived("cms")
    assert(cms.count() > 0L && cms.count() <= 3L * 1024L)
    // search-index layer builds over the same registry surface
    assert(c.derived("postings").count() > 0L)
    assert(c.derived("bm25").count() > 0L)
    graft.core.CacheScope.release()
  }

  test("cache_set materializes exactly one parquet dir per cached stage, idempotently") {
    val dir = Files.createTempDirectory("nc_cache").toString
    val c = newCorpus(Some(dir), Set("unigrams"))
    val n1 = c.unigrams.count()
    val cachedDirs = new java.io.File(dir).listFiles().map(_.getName).toSet
    assert(cachedDirs == Set("unigrams"))
    // second corpus over the same cache: reads back, same rows
    val c2 = newCorpus(Some(dir), Set("unigrams"))
    assert(c2.unigrams.count() == n1)
    // a cold stage reads back with the schema it was written with, which
    // is what a warm read infers from the files
    assert(c.unigrams.schema == c2.unigrams.schema)
    // each instance resolves a stage once
    assert(c.unigrams eq c.unigrams)
    assert(new java.io.File(dir).listFiles().map(_.getName).toSet == Set("unigrams"))
  }

  test("to_parquet export round-trips metadata + nested features") {
    val out = Files.createTempDirectory("nc_export").toString + "/export"
    newCorpus().toParquet(out, Seq("unigrams"))
    val back = spark.read.parquet(out)
    assert(back.count() == 3)
    assert(back.columns.contains("nc:unigrams"))
    val aCounts = back.filter($"@id" === "a")
      .select(explode($"nc:unigrams").as("u"))
      .select("u.token", "u.count").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(aCounts("the") == 3L)
  }

  test("flat catalog export: fastcat + lookup tables") {
    val dir = Files.createTempDirectory("nc_flat").toString
    val cat = Seq(("a", "eng"), ("b", "bio"), ("c", "eng"))
      .toDF("@id", "dept")
    val c = new Corpus(spark,
      Seq(("a", "x y"), ("b", "y z"), ("c", "z q")).toDF("@id", "text"))
    // use the corpus catalog (ids only) joined with dept for the export test
    val full = c.catalog.join(cat, Seq("@id"))
    graft.operators.FlatCatalog.fastcat(full, "nc:id", Seq("dept"))
      .write.parquet(s"$dir/fastcat")
    graft.operators.FlatCatalog.dictionary(full, "dept")
      .write.parquet(s"$dir/deptLookup")
    val fastcat = spark.read.parquet(s"$dir/fastcat")
    val lookup = spark.read.parquet(s"$dir/deptLookup").collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(lookup == Map("eng" -> 0L, "bio" -> 1L)) // freq desc, tie by value
    val joined = fastcat.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(joined.values.toSet == Set(0L, 1L))
  }

  test("flat catalog export writes exploded child tables for list columns") {
    val dir = Files.createTempDirectory("nc_flat_child").toString
    // corpus whose metadata carries a list column (keywords)
    val metaFile = Files.createTempFile("childcat", ".ndjson")
    Files.writeString(metaFile,
      """{"@id": "a", "dept": "eng", "keywords": ["cats", "mats"]}
        |{"@id": "b", "dept": "bio", "keywords": ["dogs"]}
        |{"@id": "c", "dept": "eng", "keywords": []}
        |""".stripMargin)
    val c = new Corpus(spark,
      Seq(("a", "x y"), ("b", "y z"), ("c", "z q")).toDF("@id", "text"),
      Some(metaFile.toString))
    c.toFlatCatalog(dir, Seq("dept"))
    val names = new java.io.File(dir).listFiles().map(_.getName).toSet
    assert(names == Set("catalog", "fastcat", "deptLookup", "keywords"))
    // 1NF: the parent catalog dropped the list column; the child carries
    // one row per element keyed by nc:id
    assert(!spark.read.parquet(s"$dir/catalog").columns.contains("keywords"))
    val child = spark.read.parquet(s"$dir/keywords")
    assert(child.columns.toSeq == Seq("nc:id", "keywords"))
    val byId = child.collect()
      .map(r => r.getLong(0) -> r.getString(1)).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    assert(byId(0L) == Set("cats", "mats"))
    assert(byId(1L) == Set("dogs"))
    assert(!byId.contains(2L)) // empty list -> no child rows
    // dictionary index width narrowed by cardinality at the sink
    // (2 depts < 2^7 -> int8)
    import org.apache.spark.sql.types.ByteType
    assert(spark.read.parquet(s"$dir/fastcat").schema("dept__id")
      .dataType == ByteType)
    assert(spark.read.parquet(s"$dir/deptLookup").schema("id")
      .dataType == ByteType)
  }

  test("cache staleness: source fingerprint change triggers rebuild") {
    val srcDir = Files.createTempDirectory("nc_src")
    Files.writeString(srcDir.resolve("x.txt"), "alpha beta")
    val cacheDir = Files.createTempDirectory("nc_cache2").toString
    // staleness fingerprints come from the metadata source path
    val metaFile = srcDir.resolve("meta.csv")
    Files.writeString(metaFile, "@id,title\nx,first\n")
    def c2() = new Corpus(spark,
      graft.sources.TextSources.folder(spark, srcDir.toString),
      Some(metaFile.toString), Some(cacheDir), Set("catalog"))
    assert(c2().catalog.count() == 1)
    // same fingerprint: cached result reused (file untouched)
    assert(c2().catalog.count() == 1)
    // change the source -> fingerprint differs -> rebuild sees 2 rows
    Thread.sleep(5)
    Files.writeString(metaFile, "@id,title\nx,first\ny,second\n")
    assert(c2().catalog.count() == 2)
  }

  test("point lookup returns the single document row") {
    val doc = newCorpus().document("b")
    assert(doc.isDefined)
    assert(newCorpus().document("missing").isEmpty)
  }
}
