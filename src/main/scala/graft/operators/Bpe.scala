package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding training — the tokenizer-building step of a training
  * pipeline (the reference stops at word counting; a 100 TB corpus is what
  * you TRAIN the tokenizer on). Classic Sennrich BPE over the corpus's
  * word-frequency table: each round counts adjacent symbol pairs
  * (frequency-weighted, overlap-counted) and merges the most frequent pair
  * everywhere, leftmost-non-overlapping per word.
  *
  * Scale shape per round: ONE map-side-combined pair aggregate over the
  * vocabulary-sized word table (never the corpus — the word table is the
  * sufficient statistic), a 1-row driver collect for the winning pair, and
  * a row-local `replace`. The corpus is tokenized exactly once, up front.
  *
  * Engine-exact and SQL-replayable (`t_bpe` replays every round): symbols
  * are kept in a boundary-safe string form — every symbol wrapped in one
  * leading and one trailing space, so adjacent symbols read `"a  b"` and
  * the merge is a LITERAL replace of `" a  b "` with `" ab "`. Because
  * each occurrence owns its boundary spaces, consecutive occurrences all
  * merge in one left-to-right pass (Java and DuckDB `replace` agree), and
  * a pair can never match inside a longer symbol. Ties break by
  * (count desc, left asc, right asc) — total, deterministic.
  *
  * Input is restricted to lowercased `[a-z]+` words: '.'-per-character
  * segmentation of supplementary Unicode diverges between UTF-16 (Java)
  * and code-point (RE2) engines, and tokenizer unicode policy is a
  * tokenizer concern — the trainer's job is the merge table.
  */
object Bpe {

  /** One learned merge: step (1-based), the two symbols joined, and the
    * frequency-weighted pair count that won the round. */
  final case class Merge(step: Int, lhs: String, rhs: String, n: Long)

  private def wrapped(word: Column): Column =
    concat(lit(" "), concat_ws("  ", split(word, "")), lit(" "))

  private def adjacentPairs(sym: Column): Column = {
    val arr = split(trim(sym), "  ")
    when(size(arr) >= 2,
      transform(sequence(lit(1), size(arr) - 1), i =>
        struct(element_at(arr, i).as("a"), element_at(arr, i + 1).as("b"))))
      .otherwise(array().cast("array<struct<a:string,b:string>>"))
  }

  /** The corpus word-frequency table BPE trains on: lowercased `[a-z]+`
    * tokens with total occurrence counts — vocabulary-sized.
    *
    * ONE shuffle (round 17, guide §2.4): grouping the exploded token
    * stream by the lowered word directly replaces the old two-aggregate
    * chain (per-doc unigrams, then re-group by word) — the per-document
    * intermediate carried no information the word table needs, and its
    * corpus-sized exchange was pure overhead (map-side combine already
    * collapses each task's occurrences to the vocab before the one
    * remaining exchange). Totals are identical: Σ_doc count(doc, w) =
    * count(w). */
  def wordTable(docs: DataFrame, idCol: String = "doc_id",
                textCol: String = "text"): DataFrame =
    docs.select(explode(
        graft.functions.TextFunctions.tokens(col(textCol))).as("token"))
      .select(lower(col("token")).as("word"))
      .filter(col("word").rlike("^[a-z]+$"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))

  /** Train `nMerges` rounds; stops early when no pair is left. Returns the
    * merge table in learned order.
    *
    * The word table is the SUFFICIENT STATISTIC and is vocabulary-sized
    * (distinct lowercased `[a-z]+` words — Heaps'-law bounded, not
    * corpus-sized). It is aggregated ONCE, materialized with its measured
    * row count; up to `maxLocalVocab` rows it is collected and the merge
    * rounds run DRIVER-LOCALLY — the rounds are inherently sequential
    * argmaxes, and running each as a full Spark job over a ≤|vocab|-row
    * cached table paid nMerges per-job fixed costs for microseconds of
    * work (measured 2.5-2.7 s for 6 rounds over a 31-word table at
    * sf0.1). The local path holds O(|vocab|) symbol strings on the driver
    * and does O(|vocab|·nMerges) work there; the default guard of 2^20
    * words is ~30 MB collected, the same order as a broadcast side. Past
    * the guard the distributed loop runs over the same materialized table,
    * one aggregate and a 1-row collect per round, so the driver holds only
    * the merges. The two paths are value-identical: same wrapped-symbol
    * string state, same literal left-to-right non-overlapping replace
    * (Java String.replace ≡ Spark replace ≡ DuckDB replace on these
    * boundary-safe strings), same overlap-counted pair sums, same
    * (n desc, a asc, b asc) tie-break — BpeSpec pins local ≡ distributed
    * on real corpora, through the guard and past it. */
  def train(docs: DataFrame, nMerges: Int, idCol: String = "doc_id",
            textCol: String = "text",
            maxLocalVocab: Int = 1 << 20): Seq[Merge] = {
    require(nMerges >= 1, "need nMerges >= 1")
    var state = graft.core.CacheScope.materialize(
      wordTable(docs, idCol, textCol).withColumn("sym", wrapped(col("word"))))
    if (graft.core.CacheScope.rowCount(state) <= maxLocalVocab)
      return trainLocal(state.select("word", "cnt").collect()
        .map(r => (r.getString(0), r.getLong(1))), nMerges)
    val merges = scala.collection.mutable.ListBuffer[Merge]()
    var step = 1
    var exhausted = false
    while (step <= nMerges && !exhausted) {
      val top = state
        .select(col("cnt"), explode(adjacentPairs(col("sym"))).as("p"))
        .groupBy(col("p.a"), col("p.b")).agg(sum("cnt").as("n"))
        .orderBy(desc("n"), asc("a"), asc("b")).limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (a, b, n) =
          (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += Merge(step, a, b, n)
        // symbols are [a-z]+ by construction: safe to inline in SQL text
        state = graft.core.CacheScope.persist(state.withColumn("sym",
          expr(s"replace(sym, ' $a  $b ', ' $a$b ')")))
        step += 1
      }
    }
    merges.toList
  }

  /** Driver-local merge rounds over a collected (word, cnt) table — the
    * exact algorithm of the distributed loop on the same string state.
    * Symbols stay in the boundary-safe wrapped form (" a  b  c "), pairs
    * are overlap-counted and frequency-weighted, the winner is the
    * (n desc, a asc, b asc) minimum ([a-z]+ strings: Java compareTo ≡
    * UTF8String binary order), and the merge is the literal
    * `" a  b " -> " ab "` replace, left-to-right non-overlapping —
    * byte-for-byte the distributed round. */
  private def trainLocal(words: Array[(String, Long)],
                         nMerges: Int): Seq[Merge] = {
    var state = words.map { case (w, cnt) =>
      (w.toCharArray.mkString(" ", "  ", " "), cnt)
    }
    val merges = scala.collection.mutable.ListBuffer[Merge]()
    var step = 1
    var exhausted = false
    while (step <= nMerges && !exhausted) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      state.foreach { case (sym, cnt) =>
        val arr = sym.trim.split("  ")
        var i = 0
        while (i < arr.length - 1) {
          val k = (arr(i), arr(i + 1))
          counts(k) = counts.getOrElse(k, 0L) + cnt
          i += 1
        }
      }
      if (counts.isEmpty) exhausted = true
      else {
        val ((a, b), n) = counts.minBy { case ((a, b), n) => (-n, a, b) }
        merges += Merge(step, a, b, n)
        state = state.map { case (sym, cnt) =>
          (sym.replace(s" $a  $b ", s" $a$b "), cnt)
        }
        step += 1
      }
    }
    merges.toList
  }

  /** Apply a learned merge table to a word column (row-local replace
    * chain in merge order — how the trained tokenizer segments new text).
    * Returns the symbol array per word. Input contract matches the
    * trainer's: single alphabetic words (lowercased here). Anything else
    * — embedded whitespace would collide with the boundary-space symbol
    * encoding and shred silently — yields NULL, not garbage. */
  def encode(word: Column, merges: Seq[Merge]): Column = {
    val w = lower(word)
    val sym = merges.foldLeft(wrapped(w)) { (s, m) =>
      call_function("replace", s, lit(s" ${m.lhs}  ${m.rhs} "),
        lit(s" ${m.lhs}${m.rhs} "))
    }
    when(w.rlike("^[a-z]+$"), split(trim(sym), "  "))
  }

  /** Document-level tokenizer APPLICATION — the doc → `input_ids` bridge a
    * training pipeline runs after the tokenizer is trained: every in-
    * contract word (lowercased `[a-z]+`, the trainer's own contract) is
    * segmented by the merge table, pieces get DENSE INTEGER IDS (dense
    * rank of the distinct piece strings — data-derived, deterministic,
    * and at most 26 + merges.size distinct pieces exist since the replace
    * chain only ever creates single letters or merge results), and each
    * document re-assembles its id sequence in (word, piece) order.
    *
    * Out-of-contract words (digits, non-Latin scripts) are SKIPPED — the
    * same NULL contract as [[encode]]; documents with no encodable words
    * are absent. Output: (idCol, n_pieces, ids_str) with ids_str the
    * space-joined id sequence (string form — the engine's array-output
    * convention for cross-engine comparison).
    *
    * Scale shape: one tokenize + one row-local segmentation explode; the
    * piece vocabulary is ≤ 26+|merges| rows (broadcast); sequence
    * re-assembly is collect_list + row-local array_sort per document —
    * no window, no global sort; one per-doc aggregate shuffle. */
  /** Persist a trained merge list to `dir` as one parquet table —
    * the TOKENIZER artifact (the merge sequence IS the tokenizer: encode
    * replays it in step order). Train once on the curated corpus, ship
    * the directory, [[loadMerges]] + encode in every downstream job; the
    * artifact is nMerges rows however large the training corpus. */
  def saveMerges(merges: Seq[Merge], dir: String,
                 spark: org.apache.spark.sql.SparkSession): Unit = {
    import spark.implicits._
    merges.toDF("step", "lhs", "rhs", "n")
      .coalesce(1).write.mode("overwrite").parquet(dir)
  }

  /** Load a [[saveMerges]]-persisted tokenizer, in step order. Encoding
    * under a loaded merge list is value-identical to the original
    * (spec-proven: same input_ids, same packed sequences). */
  def loadMerges(spark: org.apache.spark.sql.SparkSession,
                 dir: String): Seq[Merge] = {
    import spark.implicits._
    spark.read.parquet(dir).as[Merge].collect().sortBy(_.step).toSeq
  }

  /** Dense ids for a distinct piece table: GEOMETRY-BOUNDED rank — the
    * piece universe is at most 26 + |merges| rows by construction (the
    * replace chain only ever yields single letters or merge results), so
    * a single-partition window is safe BY DESIGN at any corpus size and
    * the general two-phase [[graft.core.Ids.denseRankBy]] (range-sample
    * job + pinned cache + offsets join — built for data-sized inputs) is
    * pure overhead here: it measured 1.55 s of encodeDocuments' 5.1 s at
    * sf0.1 (round 17). `pmod(length, 1)` is the repo's bounded-window
    * marker (constant 0, not foldable), same as Ids/TextOps/Sketches.
    * Values identical: 0-based longs in piece asc order. */
  private def pieceIds(distinctPieces: DataFrame): DataFrame =
    distinctPieces.withColumn("piece_id",
      (row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy(pmod(length(col("piece")), lit(1)))
        .orderBy(col("piece"))) - 1).cast("long"))

  def encodeDocuments(docs: DataFrame, merges: Seq[Merge],
                      idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame = {
    val words = docs.select(col(idCol),
      posexplode(graft.functions.TextFunctions.tokens(col(textCol)))
        .as(Seq("pos", "word")))
    val pieces = graft.core.CacheScope.persist(
      words.select(col(idCol), col("pos"),
        posexplode(encode(col("word"), merges)).as(Seq("sp", "piece"))))
    val vocab = pieceIds(pieces.select("piece").distinct())
    pieces.join(broadcast(vocab), Seq("piece"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_pieces"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("pos"), col("sp"),
            col("piece_id")))),
          x => x.getField("piece_id").cast("string"))).as("ids_str"))
  }

  /** The dense piece-id vocabulary [[encodeDocuments]] assigns — exposed
    * so ids can be DECODED back: (piece, piece_id), id = dense rank of
    * the distinct piece strings over this corpus' segmentation (at most
    * 26 + |merges| rows). */
  def pieceVocab(docs: DataFrame, merges: Seq[Merge],
                 textCol: String = "text"): DataFrame =
    pieceIds(docs.select(
        explode(graft.functions.TextFunctions.tokens(col(textCol)))
          .as("word"))
      .select(explode(encode(col("word"), merges)).as("piece"))
      .distinct())

  /** DECODE [[encodeDocuments]] output back to the concatenated piece
    * stream: parse ids_str, map ids back through the vocabulary
    * (broadcast), re-assemble in sequence order. The result concatenates
    * the document's in-contract words with no separator — the round-trip
    * identity t_bpe_roundtrip asserts against the original text's word
    * stream. Output: (idCol, decoded_text). */
  def decodeDocuments(encoded: DataFrame, vocab: DataFrame,
                      idCol: String = "doc_id"): DataFrame =
    encoded
      .select(col(idCol),
        posexplode(split(col("ids_str"), " ")).as(Seq("seq", "pid")))
      .withColumn("piece_id", col("pid").cast("long"))
      .join(broadcast(vocab), Seq("piece_id"))
      .groupBy(col(idCol))
      .agg(concat_ws("", transform(
        array_sort(collect_list(struct(col("seq"), col("piece")))),
        x => x.getField("piece"))).as("decoded_text"))

  /** Tokenizer FERTILITY per source — the standard tokenizer-quality
    * metric (mean pieces per word; 1.0 = every word is one piece, high
    * fertility = the vocabulary serves that source poorly). In-contract
    * words only (the [[encode]] NULL contract skips digits/non-Latin).
    * Output: (source, n_words, n_pieces, fertility_micro) — the ratio on
    * the exact integer micro grid. One tokenize + row-local segmentation
    * + one per-source aggregate; source cardinality bounds the output. */
  def fertility(docs: DataFrame, merges: Seq[Merge],
                sourceCol: String = "source",
                textCol: String = "text"): DataFrame =
    docs.select(col(sourceCol).as("source"),
        explode(graft.functions.TextFunctions.tokens(col(textCol)))
          .as("word"))
      .select(col("source"), size(encode(col("word"), merges)).as("np"))
      .filter(col("np").isNotNull)
      .groupBy("source")
      .agg(count(lit(1)).as("n_words"),
        sum("np").cast("long").as("n_pieces"))
      .withColumn("fertility_micro",
        round(col("n_pieces") * lit(1000000.0) / col("n_words"), 0)
          .cast("long"))

  /** PACKED TRAINING SEQUENCES — the final artifact a pretraining
    * pipeline emits: [[encodeDocuments]] output laid end to end in
    * `nBuckets` independent hash-bucketed streams (the
    * [[TextOps.packSequences]] grid, same "pack" salt semantics) and cut
    * every `budget` PIECES. Documents straddle boundaries with standard
    * concat-and-chunk semantics; each output row is one training
    * sequence: (bucket, seq_id, n_docs, n_pieces, ids_str) with exactly
    * `budget` pieces except each stream's tail.
    *
    * Scale shape: the only non-row-local steps are the per-bucket running
    * sum (partitioned window — each bucket holds ~1/nBuckets of the
    * corpus) and the per-(bucket, seq) aggregate; piece-to-sequence
    * assignment is pure integer arithmetic on the global piece index.
    * No data-sized window, no global sort. */
  def packedInputIds(docs: DataFrame, merges: Seq[Merge], budget: Int = 512,
                     nBuckets: Int = 32, idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame = {
    require(budget >= 1 && nBuckets >= 1, "need budget >= 1 and nBuckets >= 1")
    val enc = encodeDocuments(docs, merges, idCol, textCol)
      .withColumn("bucket",
        graft.operators.Sampling.hashBucket(col(idCol), "pack", nBuckets))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("bucket").orderBy(col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val started = enc.withColumn("start_tok",
      coalesce(sum("n_pieces").over(w), lit(0L)))
    started
      .select(col(idCol), col("bucket"), col("start_tok"),
        posexplode(split(col("ids_str"), " ")).as(Seq("ip", "pid")))
      .withColumn("pg", col("start_tok") + col("ip"))
      .withColumn("seq_id", expr(s"pg DIV ${budget}L"))
      .groupBy(col("bucket"), col("seq_id"))
      // n_docs WITHOUT countDistinct (round 17, guide §2.3): a doc's pieces
      // are one contiguous pg range inside its bucket, so per (bucket, seq)
      // each doc owns exactly one "first piece in this sequence" — its
      // global start (ip = 0) if the doc begins mid-sequence, else the
      // sequence boundary piece (pg ≡ 0 mod budget); a doc starting exactly
      // on a boundary satisfies both on the SAME row. Counting those rows
      // equals count(DISTINCT doc) exactly, and drops the distinct-agg's
      // Expand operator, which doubled every row through the pack shuffle.
      .agg(sum(when(col("ip") === 0 ||
          col("pg") % lit(budget.toLong) === 0, 1L).otherwise(0L))
          .as("n_docs"),
        count(lit(1)).as("n_pieces"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("pg"), col("pid")))),
          x => x.getField("pid"))).as("ids_str"))
  }
}
