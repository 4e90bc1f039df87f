package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._

/** Core per-document text operators: the reference's transformation DAG
  * (nonconsumptive/transformations.py) re-expressed as declarative Spark
  * plans over a flat `(docId, ...)` representation.
  *
  * Design notes for scale (SURVEY §7.1):
  *  - flat exploded form `(docId, token | w0..wn-1, count)` is canonical;
  *    nested list-of-struct (the reference's storage layout,
  *    transformations.py:219-222) is an export view only.
  *  - ngram windows are built with array higher-order functions INSIDE each
  *    row (no window-function shuffle/sort): `transform(sequence(...),
  *    i -> slice(tokens, i, n))`. The only shuffle is the final partial+final
  *    hash aggregate on (docId, words), which map-side combines.
  *  - the vocabulary is a groupBy/sum + top-k; Spark's partial aggregation
  *    replaces the reference's manual polars-partial + bounter merge
  *    (corpus.py:186-245).
  */
object TextOps {

  /** Default vocabulary cap, from the reference (corpus.py:193,241). */
  val VocabCap = 1000000

  /** tokenization: (docId, text) -> (docId, tokens array<string>)
    * (transformations.py:107-110). */
  def tokenization(docs: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame =
    docs.select(col(idCol), tokens(col(textCol)).as("tokens"))

  /** Positional token stream: (docId, pos, token), pos is 1-based within the
    * document. Uses posexplode — one pass, no shuffle. */
  def tokenStream(docs: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame =
    docs.select(col(idCol), posexplode(tokens(col(textCol))).as(Seq("pos0", "token")))
      .select(col(idCol), (col("pos0") + 1).as("pos"), col("token"))

  /** document_lengths: token count per document, zero-shuffle
    * (transformations.py:113-132 — `size` replaces offsets arithmetic). */
  def documentLengths(docs: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame =
    docs.select(col(idCol), size(tokens(col(textCol))).cast("long").as("nwords"))

  /** Per-document n-gram slices as an array column, built row-locally with
    * higher-order functions (no window shuffle). Empty array when the doc has
    * fewer than n tokens (guard: `sequence(1, size-n+1)` would run backwards
    * otherwise).
    *
    * `toks` MUST be a bound column (a projected attribute), not an inline
    * expression: the transform lambda references it per ELEMENT, and in
    * interpreted eval an inline `regexp_extract_all` subtree would re-run
    * per window — quadratic in document length. */
  private def ngramArrays(toks: Column, n: Int): Column = {
    val slices = transform(
      sequence(lit(1), size(toks) - lit(n - 1)),
      i => slice(toks, i, lit(n)))
    when(size(toks) >= n, slices).otherwise(array())
  }

  /** ngrams: (docId, w0..w{n-1}, count) — the reference's core operator
    * (A1, transformations.py:191-255). One map-side pass + one hash
    * aggregate; incomplete windows dropped by construction. Tokens are
    * projected ONCE before the window lambda (see ngramArrays). */
  def ngrams(docs: DataFrame, n: Int, idCol: String = "doc_id",
             textCol: String = "text"): DataFrame =
    ngramsFromTokens(docs.select(col(idCol), tokens(col(textCol)).as("toks")),
      n, idCol, "toks")

  /** [[ngrams]] over a PRE-TOKENIZED (idCol, toksCol) table — callers that
    * need several n-gram orders (e.g. repetition signals) tokenize once and
    * share (persist) the token arrays instead of re-running the tokenizer
    * regex per order. */
  def ngramsFromTokens(toksDf: DataFrame, n: Int, idCol: String = "doc_id",
                       toksCol: String = "toks"): DataFrame =
    ngramRows(toksDf, n, idCol, toksCol)
      .groupBy(col(idCol) +: (0 until n).map(i => col(s"w$i")): _*)
      .agg(count(lit(1)).as("count"))

  /** [[ngrams]] before its per-document aggregate: one row per n-gram
    * OCCURRENCE, (docId, w0..w{n-1}, count = 1). A map-only pass (no
    * shuffle) for consumers that sum the counts again anyway — every sum
    * over it equals the same sum over [[ngrams]]. */
  def ngramOccurrences(docs: DataFrame, n: Int, idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame =
    ngramRows(docs.select(col(idCol), tokens(col(textCol)).as("toks")),
      n, idCol, "toks").withColumn("count", lit(1L))

  private def ngramRows(toksDf: DataFrame, n: Int, idCol: String,
                        toksCol: String): DataFrame = {
    require(n >= 1, s"ngram order must be >= 1, got $n")
    val wordCols = (0 until n).map(i => col("ng").getItem(i).as(s"w$i"))
    toksDf.select(col(idCol), col(s"`$toksCol`").as("toks"))
      .select(col(idCol), explode(ngramArrays(col("toks"), n)).as("ng"))
      .select(col(idCol) +: wordCols: _*)
  }

  /** unigrams: (docId, token, count) (A3, document.py:82-92). */
  def unigrams(docs: DataFrame, idCol: String = "doc_id",
               textCol: String = "text"): DataFrame =
    docs.select(col(idCol), explode(tokens(col(textCol))).as("token"))
      .groupBy(col(idCol), col("token")).agg(count(lit(1)).as("count"))

  def bigrams(docs: DataFrame): DataFrame = ngrams(docs, 2)
  def trigrams(docs: DataFrame): DataFrame = ngrams(docs, 3)
  /** n=4 — fixing, not replicating, the reference's Quadgrams-passes-3 bug
    * (transformations.py:288). */
  def quadgrams(docs: DataFrame): DataFrame = ngrams(docs, 4)
  def quintgrams(docs: DataFrame): DataFrame = ngrams(docs, 5)

  /** total_wordcounts: corpus-wide token -> (count, wordid), frequency-ranked
    * desc with token as deterministic tie-break, capped at `cap`
    * (A5/W2/O3, corpus.py:186-245). The heavy lifting (groupBy.sum) is one
    * distributed aggregate; the rank is the two-phase range-partitioned
    * scheme (`Ids.denseRankBy`) — no single-partition window, no
    * driver-side top-k merge, so a billion-type token universe ranks with
    * ordinary parallelism. */
  def totalWordcounts(docs: DataFrame, cap: Int = VocabCap,
                      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    rankVocab(docs
      .select(explode(tokens(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("count")), cap)

  /** Vocabulary derived from an existing per-document unigram table (one
    * tokenize pass feeds both the counts and the vocabulary):
    * sum per-doc counts -> rank -> cap. Identical result to
    * [[totalWordcounts]]. */
  def vocabFromUnigrams(uni: DataFrame, cap: Int = VocabCap): DataFrame =
    rankVocab(uni.groupBy("token").agg(sum("count").as("count")), cap)

  /** Shared rank-and-cap tail: wordid = dense global rank by (count desc,
    * token asc) — total order, so run-identical — truncated to the top
    * `cap`. Filtering AFTER the distributed rank is row-identical to
    * ranking a pre-truncated top-k, without materializing a global top-k
    * anywhere. */
  private def rankVocab(counts: DataFrame, cap: Int): DataFrame =
    graft.core.Ids.denseRankBy(counts, Seq(desc("count"), asc("token")), "wordid")
      .filter(col("wordid") < cap)

  /** Incremental vocabulary growth — the production half the reference's
    * static `total_wordcounts` (corpus.py:186-245) lacks: fold a NEW batch
    * of documents into an existing `(token, count, wordid)` vocabulary
    * WITHOUT renumbering. Every existing token keeps its wordid (so every
    * encoded table, cache, and downstream artifact keyed by wordid stays
    * valid — the whole point of id stability); counts are merged; tokens
    * first seen in the new batch are appended AFTER the existing id range,
    * ranked among themselves by (merged count desc, token).
    *
    * Scale shape: one aggregate over the new batch, one full-outer hash
    * join with the vocabulary, a 1-row max() scalar, and the two-phase
    * [[graft.core.Ids.denseRankBy]] over the NEW-token remainder only —
    * no global window, no renumber of the (possibly billion-row) existing
    * table. Applying repeatedly is the streaming-vocab pattern: each
    * batch appends a dense block. */
  def mergeVocab(existing: DataFrame, newDocs: DataFrame,
                 idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val newCounts = newDocs
      .select(explode(tokens(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnew"))
    val joined = graft.core.CacheScope.persist(
      existing.select(col("token"), col("count").as("cold"), col("wordid"))
        .join(newCounts, Seq("token"), "full_outer"))
    val kept = joined.filter(col("wordid").isNotNull)
      .select(col("token"),
        (coalesce(col("cold"), lit(0L)) + coalesce(col("cnew"), lit(0L)))
          .as("count"), col("wordid"))
    // max wordid rides as a broadcast 1-row aggregate instead of a driver
    // scalar (round 17, guide §1.2) — the whole merge is one lazy plan;
    // coalesce(-1) keeps the empty-vocab case starting new ids at 0
    val maxIdTab = joined.agg(
      coalesce(max("wordid"), lit(-1L)).as("__maxid"))
    val fresh = joined.filter(col("wordid").isNull)
      .select(col("token"), col("cnew").as("count"))
    val freshRanked = graft.core.Ids
      .denseRankBy(fresh, Seq(desc("count"), asc("token")), "__r")
      .crossJoin(broadcast(maxIdTab))
      .select(col("token"), col("count"),
        (col("__r") + col("__maxid") + lit(1L)).as("wordid"))
    kept.unionByName(freshRanked)
  }

  /** encoded unigram counts: token replaced by its frequency-rank wordid via
    * a broadcast hash join against the (<=1M row) vocabulary
    * (J1, transformations.py:320-346). The unigram table is persisted and
    * reused for the vocabulary so the corpus is tokenized ONCE. */
  def encodedUnigrams(docs: DataFrame, vocab: DataFrame,
                      idCol: String = "doc_id"): DataFrame =
    unigrams(docs, idCol)
      .join(broadcast(vocab.select(col("token"), col("wordid"))), Seq("token"), "inner")
      .select(col(idCol), col("wordid"), col("count"))

  /** Self-contained encoded unigrams: tokenize once, derive vocabulary from
    * the persisted unigram table, broadcast-encode. */
  def encodedUnigramsOnePass(docs: DataFrame, cap: Int = VocabCap,
                             idCol: String = "doc_id",
                             textCol: String = "text"): DataFrame = {
    val uni = graft.core.CacheScope.persist(unigrams(docs, idCol, textCol))
    uni.join(broadcast(vocabFromUnigrams(uni, cap)
        .select(col("token"), col("wordid"))), Seq("token"), "inner")
      .select(col(idCol), col("wordid"), col("count"))
  }

  /** Encoded n-gram counts (J1, transformations.py:257-297 named
    * EncodedBigrams/Trigrams; encoding loop :320-346): EVERY word position of
    * the n-gram table is replaced by its frequency-rank wordid. One broadcast
    * hash join per position against the (<=1M row) vocabulary — the fact
    * table is never shuffled. Out-of-vocabulary words encode as null,
    * mirroring the reference's `pc.index_in` semantics.
    *
    * The vocabulary is persisted so the n broadcast builds read the (tiny)
    * cached relation instead of re-running the corpus-wide count. */
  def encodeNgramTable(ngramTable: DataFrame, vocab: DataFrame, n: Int,
                       idCol: String = "doc_id"): DataFrame = {
    val v = graft.core.CacheScope.persist(
      vocab.select(col("token"), col("wordid")))
    val joined = (0 until n).foldLeft(ngramTable) { (acc, i) =>
      acc.join(
        broadcast(v.select(col("token").as(s"__t$i"), col("wordid").as(s"wordid$i"))),
        col(s"w$i") === col(s"__t$i"), "left")
    }
    joined.select(
      col(idCol) +: (0 until n).map(i => col(s"wordid$i")) :+ col("count"): _*)
  }

  /** Self-contained encoded n-grams: vocabulary derived from one unigram
    * pass, n-gram table encoded per position. */
  def encodedNgramsOnePass(docs: DataFrame, n: Int, cap: Int = VocabCap,
                           idCol: String = "doc_id",
                           textCol: String = "text"): DataFrame =
    encodeNgramTable(ngrams(docs, n, idCol, textCol),
      vocabFromUnigrams(unigrams(docs, idCol, textCol), cap), n, idCol)

  /** Sentence segmentation (regex, engine-portable): a sentence is a
    * maximal run starting at a non-space non-terminator character, through
    * any non-terminators, plus its trailing `.!?` terminators; leading
    * whitespace is consumed outside the capture. Entirely row-local (one
    * regex pass + posexplode) — the sentence-level unit for chunking and
    * dedup pipelines. Output: (docId, sent_idx (1-based), sentence,
    * n_tokens). */
  val SentencePattern = "\\s*([^\\s.!?][^.!?]*[.!?]*)"

  def sentences(docs: DataFrame, idCol: String = "doc_id",
                textCol: String = "text"): DataFrame =
    docs.select(col(idCol),
        posexplode(regexp_extract_all(col(textCol), lit(SentencePattern), lit(1)))
          .as(Seq("idx0", "sentence")))
      .select(col(idCol), (col("idx0") + 1).cast("long").as("sent_idx"),
        col("sentence"),
        size(tokens(col("sentence"))).cast("long").as("n_tokens"))

  /** Token-window document chunking for training pipelines: split each
    * document into windows of `chunkTokens` tokens with `overlap` tokens of
    * context carried between consecutive chunks — the standard LLM
    * pre-tokenization packing step. Entirely row-local (array slices inside
    * the row, then one explode): no shuffle at any size.
    * Output: (docId, chunk_id, chunk_text, n_tokens). */
  def tokenChunks(docs: DataFrame, chunkTokens: Int, overlap: Int = 0,
                  idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(chunkTokens >= 1 && overlap >= 0 && overlap < chunkTokens,
      "need chunkTokens >= 1 and 0 <= overlap < chunkTokens")
    val stride = chunkTokens - overlap
    // tokenize once per row; chunk arithmetic reads the bound column
    val toks = col("toks")
    // chunk starts: 1, 1+stride, 1+2*stride, ... while start <= n
    val starts = when(size(toks) > 0,
      sequence(lit(1), size(toks), lit(stride))).otherwise(array())
    docs
      .select(col(idCol), tokens(col(textCol)).as("toks"))
      .select(col(idCol), col("toks"),
        posexplode(starts).as(Seq("chunk_id", "start")))
      .select(col(idCol), col("chunk_id").cast("long").as("chunk_id"),
        concat_ws(" ", slice(col("toks"), col("start"), lit(chunkTokens)))
          .as("chunk_text"),
        least(size(col("toks")) - col("start") + 1, lit(chunkTokens))
          .cast("long").as("n_tokens"))
  }

  /** Content-defined chunking (CDC) — split each document at positions
    * chosen by CONTENT, not offset, so an insertion early in a document
    * shifts only the chunk it lands in and every later chunk re-aligns
    * (the dedup-storage primitive behind rsync/LBFS/restic; fixed-offset
    * chunking would re-hash the whole tail). A position i is a boundary
    * when the hash of the `window`-char substring ending at i is 0 mod
    * `divisor` — expected chunk length ~`divisor` chars. Output: one row
    * per chunk (idCol, chunk_idx, start, chunk_len, chunk_md5); feed
    * chunk_md5 into [[graft.operators.Dedup.dedupSpans]]-style
    * first-occurrence marking for cross-corpus chunk dedup.
    *
    * Engine-stable and SQL-replayable: the boundary hash is the md5-derived
    * hash60 (not a platform gear table), so DuckDB recomputes identical
    * boundaries (`t_cdc_chunks`). Entirely row-local (windows, boundary
    * filter, chunk assembly all inside the row; one explode) — no shuffle
    * at any size. Docs shorter than `window` form one whole-doc chunk;
    * empty/null text yields no rows. The production variant,
    * [[cdcChunksRolling]], swaps the per-window md5 for a codegen'd O(n)
    * rolling-hash Expression — chunk assembly and everything downstream
    * are shared. */
  def cdcChunks(docs: DataFrame, window: Int = 8, divisor: Long = 64,
                idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(window >= 1 && divisor >= 1, "need window >= 1 and divisor >= 1")
    val t = col("__cdc_t")
    val n = length(t)
    val bnds = when(n >= window,
      transform(
        filter(
          transform(sequence(lit(window), n),
            i => struct(i.as("i"),
              pmod(graft.functions.TextFunctions.hash60(
                t.substr(i - lit(window - 1), lit(window))), lit(divisor)).as("h"))),
          s => s.getField("h") === 0L),
        b => b.getField("i").cast("long")))
      .otherwise(array().cast("array<long>"))
    cdcAssemble(docs, bnds, idCol, textCol)
  }

  /** [[cdcChunks]] with the boundary hash swapped for the O(n) polynomial
    * ROLLING hash ([[graft.plans.CdcExpressions.cdcBoundaries]], a native
    * codegen Expression — VERDICT r7 #8): one multiply-add per code point
    * instead of a full md5 per window position, the rsync/LBFS inner
    * loop. Boundary POSITIONS differ from the md5 variant (different hash
    * family, same expected-chunk-length contract); assembly, output
    * schema, edit-resilience and the downstream chunk-dedup composition
    * are identical. Engine-stable: the DuckDB oracle (`t_cdc_rolling`)
    * replays the same fold over code points with `list_reduce`. */
  def cdcChunksRolling(docs: DataFrame, window: Int = 8, divisor: Long = 64,
                       idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(window >= 1 && divisor >= 1, "need window >= 1 and divisor >= 1")
    cdcAssemble(docs,
      graft.plans.CdcExpressions.cdcBoundaries(col("__cdc_t"), window, divisor),
      idCol, textCol)
  }

  /** Shared CDC chunk assembly: boundary END positions (1-based,
    * array<long>, ascending) -> one row per chunk with its md5. Row-local
    * throughout — ONE definition so the md5 and rolling variants can
    * never drift on assembly semantics. */
  private def cdcAssemble(docs: DataFrame, bnds: Column, idCol: String,
                          textCol: String): DataFrame = {
    val t = col("__cdc_t")
    val n = length(t)
    val chunks = docs
      .filter(col(textCol).isNotNull)
      .select(col(idCol), col(textCol).as("__cdc_t"))
      .withColumn("__starts",
        concat(array(lit(1L)), transform(bnds, b => b + 1L)))
      .withColumn("__ends", concat(bnds, array(n.cast("long"))))
    chunks
      .select(col(idCol), t,
        posexplode(transform(sequence(lit(1), size(col("__starts"))),
          j => struct(element_at(col("__starts"), j).as("s"),
            element_at(col("__ends"), j).as("e")))).as(Seq("idx0", "c")))
      .filter(col("c.s") <= col("c.e")) // a boundary at n leaves an empty tail
      .select(col(idCol), (col("idx0") + 1).cast("long").as("chunk_idx"),
        col("c.s").cast("long").as("start"),
        (col("c.e") - col("c.s") + 1).cast("long").as("chunk_len"),
        md5(t.substr(col("c.s").cast("int"),
          (col("c.e") - col("c.s") + 1).cast("int"))).as("chunk_md5"))
  }

  /** Sequence packing — assign every document a position in a fixed-token-
    * budget training sequence (the GPT-style "concatenate then cut every
    * `budget` tokens" packing). Deterministic and fully distributed:
    *
    *  1. each document hashes into one of `nBuckets` independent packing
    *     streams (engine-stable hash60 bucket — no RNG, rerun-identical);
    *  2. within a stream, documents are ordered by id and laid end to end:
    *     `start_tok` = running token total of the documents before it;
    *  3. `seq_id` / `seq_off` locate the document's first token in the
    *     stream's sequence grid (`start_tok` div / mod `budget`).
    *
    * The only non-row-local step is a running sum windowed BY BUCKET — each
    * partition holds ~1/nBuckets of the corpus, so at cluster scale you set
    * nBuckets to a small multiple of the parallelism and no single task ever
    * sees the whole corpus. A document may straddle a sequence boundary —
    * standard concat-and-chunk semantics (the trainer's loader slices it).
    * Output: (docId, bucket, n_tokens, seq_id, seq_off), all exact integers
    * — hash-stable across engines. */
  /** Shared base projection of both packing forms (batch [[packSequences]]
    * and streaming `EventsStreaming.packStream`): token count + the salted
    * hash bucket. ONE definition so the two forms can never drift apart on
    * tokenizer, cast, or salt — their grids must stay interchangeable. */
  def packBase(docs: DataFrame, nBuckets: Int, idCol: String = "doc_id",
               textCol: String = "text"): DataFrame = {
    require(nBuckets >= 1, "need nBuckets >= 1")
    docs.select(col(idCol),
      size(tokens(col(textCol))).cast("long").as("n_tokens"),
      Sampling.hashBucket(col(idCol), "pack", nBuckets).as("bucket"))
  }

  def packSequences(docs: DataFrame, budget: Int = 512, nBuckets: Int = 32,
                    idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(budget >= 1 && nBuckets >= 1, "need budget >= 1 and nBuckets >= 1")
    val base = packBase(docs, nBuckets, idCol, textCol)
    val w = Window.partitionBy("bucket").orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    base.withColumn("start_tok", coalesce(sum("n_tokens").over(w), lit(0L)))
      .select(col(idCol), col("bucket"), col("n_tokens"),
        floor(col("start_tok") / lit(budget)).cast("long").as("seq_id"),
        (col("start_tok") % lit(budget)).as("seq_off"))
  }

  /** Length-bucketed training batches — the padding-minimizing batch
    * construction every sequence trainer wants (docs of similar token
    * count batched together, so pad-to-max waste per batch is bounded by
    * `bucketTokens - 1` rather than the corpus length spread). Each doc
    * lands in length band `n_tok / bucketTokens`; bands are ordered by
    * (n_tok, id) — total, rerun-identical — and cut into batches of
    * `batchSize`. Output: (idCol, n_tok, bucket, batch_ix, pos,
    * padded_to) where padded_to is the batch's true max length.
    *
    * Scale shape: within-band positions come from ONE global two-phase
    * rank ([[graft.core.Ids.denseRankBy]] over (band, len, id)) minus the
    * band's first rank — there is NO band-sized window, so a skewed
    * length distribution (most corpora) cannot pile one band onto one
    * task the way a naive `row_number() OVER (PARTITION BY band)` would.
    * Band first-ranks are NOT re-derived from the ranked table (that
    * would re-run the rank pipeline on a second branch): because the rank
    * orders by (band, len, id), a band's first rank IS the running total
    * of earlier bands' counts — one aggregate over the persisted 3-column
    * base + a prefix sum over the BAND table (bounded by max-length /
    * bucketTokens, never data size). The only other window is the
    * per-(band, batch) max — partitions bounded by batchSize rows. */
  def lengthBatches(docs: DataFrame, batchSize: Int = 32,
                    bucketTokens: Int = 16, idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    require(batchSize >= 1 && bucketTokens >= 1,
      "need batchSize >= 1 and bucketTokens >= 1")
    // persisted: the tokenize pass feeds BOTH the rank and the band counts
    val base = graft.core.CacheScope.persist(
      docs.select(col(idCol),
          size(tokens(col(textCol))).cast("long").as("n_tok"))
        .withColumn("bucket", (col("n_tok") / lit(bucketTokens)).cast("long")))
    val ranked = graft.core.Ids.denseRankBy(base,
      Seq(col("bucket").asc, col("n_tok").asc, col(idCol).asc), "__rid")
    // bands-sized by construction; `pmod(bucket, 1)` (constant 0 but not
    // foldable) states the one-partition-by-design contract in the plan,
    // the graft.core.Ids.denseRankBy convention
    val bandStart = base.groupBy("bucket").agg(count(lit(1)).as("__bn"))
      .select(col("bucket"),
        (sum("__bn").over(Window.partitionBy(pmod(col("bucket"), lit(1L)))
          .orderBy("bucket")) - col("__bn")).as("__b0"))
    val rn = ranked.join(broadcast(bandStart), "bucket")
      .withColumn("__rn", col("__rid") - col("__b0"))
    val batchMax = Window.partitionBy(col("bucket"),
      (col("__rn") / lit(batchSize)).cast("long"))
    rn.select(col(idCol), col("n_tok"), col("bucket"),
        (col("__rn") / lit(batchSize)).cast("long").as("batch_ix"),
        (col("__rn") % lit(batchSize)).as("pos"),
        max("n_tok").over(batchMax).as("padded_to"))
  }

  /** chunked_wordcounts (A4, wordcounting.py:5-55): split each document's
    * token stream into ~equal chunks of ≈chunkSize tokens, count words per
    * (doc, chunk). Chunk id is computed arithmetically from the position so
    * the whole thing stays one explode + one aggregate:
    * nchunks = max(1, round(n/chunkSize)); chunk = floor((pos-1)*nchunks/n).
    * This balances the remainder across chunks like the reference's
    * even-split. */
  def chunkedWordcounts(docs: DataFrame, chunkSize: Int,
                        idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // doc length computed row-locally BEFORE the explode — no window shuffle.
    val stream = docs
      .select(col(idCol), tokens(col(textCol)).as("toks"))
      .select(col(idCol), size(col("toks")).cast("long").as("n"),
        posexplode(col("toks")).as(Seq("pos0", "token")))
    // round(n/chunkSize) with HALF_UP like both engines' round()
    val nchunks = greatest(lit(1L), round(col("n") / lit(chunkSize), 0).cast("long"))
    stream
      .withColumn("chunk", floor(col("pos0") * nchunks / col("n")))
      .groupBy(col(idCol), col("chunk"), col("token"))
      .agg(count(lit(1)).as("count"))
  }
}
