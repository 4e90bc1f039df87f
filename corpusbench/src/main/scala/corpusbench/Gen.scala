package corpusbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

/** One generated document: its text and its catalog fields. */
final case class Doc(id: String, text: String, tokens: Int, year: Int,
                     genre: String, keywords: Seq[String])

/** A generated corpus and the facts planted in it.
  *
  * `exactCopies` and `nearCopies` are (original, copy) document indexes with
  * copy > original, so a keep-the-minimum-id dedup always drops the copy.
  * `contaminated` documents carry one whole passage of `evalPassages`. The
  * document at index i has `@id` `Gen.id(i)` and dense id i, because ids sort
  * in index order. */
final case class GenCorpus(seed: Long, docs: IndexedSeq[Doc],
                           exactCopies: Seq[(Int, Int)],
                           nearCopies: Seq[(Int, Int)],
                           contaminated: Seq[Int],
                           evalPassages: IndexedSeq[String]) {
  def tokenTotal: Long = docs.iterator.map(_.tokens.toLong).sum
  def textBytes: Long = docs.iterator.map(_.text.getBytes(UTF_8).length.toLong).sum

  /** Catalog as NDJSON, one object per document, fixed key order. */
  def catalogNdjson: String = docs.map { d =>
    val kw = d.keywords.map(k => "\"" + k + "\"").mkString("[", ",", "]")
    s"""{"@id":"${d.id}","year":${d.year},"genre":"${d.genre}","keywords":$kw}"""
  }.mkString("", "\n", "\n")

  /** Text source as NDJSON (`@id`, `text`). Text holds only letters,
    * spaces and periods, so it needs no JSON escaping. */
  def textNdjson: String = docs.map { d =>
    s"""{"@id":"${d.id}","text":"${d.text}"}"""
  }.mkString("", "\n", "\n")

  /** Writes `catalog.ndjson` and `text.ndjson` under `dir`; byte-identical
    * for equal seeds and sizes. */
  def write(dir: Path): (Path, Path) = {
    Files.createDirectories(dir)
    val cat = dir.resolve("catalog.ndjson")
    val txt = dir.resolve("text.ndjson")
    Files.write(cat, catalogNdjson.getBytes(UTF_8))
    Files.write(txt, textNdjson.getBytes(UTF_8))
    (cat, txt)
  }
}

/** Seeded corpus generator. Each property has a reason:
  *  - words are letters only, because the engine tokenizes on `[\p{L}]+`;
  *    words with digits in them would split into one-letter tokens and
  *    collapse the vocabulary;
  *  - word frequencies follow Zipf's law over `VocabTypes` word types, the
  *    shape of real text, so the vocabulary, its cap and the encoders see a
  *    long tail;
  *  - text comes from a first-order Markov chain (each word has a set of
  *    preferred successors), so bigrams and trigrams repeat across
  *    documents as in real text, which the KN3 language model and the
  *    n-gram tables need; the chain is loose enough that unrelated documents
  *    rarely share the 5-word shingles near-duplicate search keys on;
  *  - the catalog carries an int `year`, a low-cardinality `genre` (which
  *    the catalog build dictionary-encodes) and a `keywords` list (which the
  *    flat export explodes into a child table);
  *  - exact copies, near copies (a few words replaced) and documents holding
  *    an eval passage are planted at known indexes, so dedup, the Hamming
  *    search and decontamination can be checked against ground truth.
  */
object Gen {
  val VocabTypes = 200000
  val ZipfExponent = 1.0
  val Successors = 16
  val FollowProb = 0.3
  val Genres: IndexedSeq[String] =
    IndexedSeq("fiction", "news", "letters", "science", "poetry", "law",
      "travel", "sermons")
  val EvalPassages = 12
  val EvalPassageWords = 40

  def id(i: Int): String = f"d$i%07d"

  private val Onsets = "b c d f g h j k l m n p r s t v w z br st tr ch sh th"
    .split(' ')
  private val Vowels = "a e i o u ai ea ou".split(' ')
  private val Syllables = for (o <- Onsets; v <- Vowels) yield o + v

  /** The word of frequency rank `r`: bijective base-|Syllables| numeral, so
    * every rank has a distinct all-letter form and frequent words are
    * short. */
  def word(r: Int): String = {
    val sb = new StringBuilder
    var n = r.toLong + 1
    while (n > 0) {
      n -= 1
      sb.append(Syllables((n % Syllables.length).toInt))
      n /= Syllables.length
    }
    sb.toString
  }

  private lazy val words: Array[String] = Array.tabulate(VocabTypes)(word)

  private lazy val zipfCdf: Array[Double] = {
    val w = Array.tabulate(VocabTypes)(r => 1.0 / math.pow(r + 1.0, ZipfExponent))
    val cdf = w.scanLeft(0.0)(_ + _).tail
    val total = cdf.last
    cdf.map(_ / total)
  }

  /** Rank drawn from the Zipf distribution for a uniform `u` in [0, 1). */
  private def zipfRank(u: Double): Int = {
    val i = java.util.Arrays.binarySearch(zipfCdf, u)
    math.min(if (i >= 0) i else -i - 1, VocabTypes - 1)
  }

  /** SplitMix64: a stateless mix, so successor lists need no table. */
  private def mix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  private def unit(x: Long): Double = (x >>> 11).toDouble / (1L << 53).toDouble

  /** Word chain for one seed: successor j of rank w is a Zipf draw keyed by
    * (seed, w, j). */
  private final class Chain(seed: Long, rng: java.util.SplittableRandom) {
    private var prev = zipfRank(rng.nextDouble())
    def next(): Int = {
      prev =
        if (rng.nextDouble() < FollowProb) {
          val j = rng.nextInt(Successors)
          zipfRank(unit(mix(seed * 0x100000001B3L ^ (prev.toLong << 8) ^ j)))
        } else zipfRank(rng.nextDouble())
      prev
    }
    /** `n` words as sentences of 6 to 18 words ending in ". ". */
    def sentences(n: Int): (String, Int) = {
      val sb = new StringBuilder
      var left = n
      while (left > 0) {
        val len = math.min(left, 6 + rng.nextInt(13))
        var k = 0
        while (k < len) {
          if (k > 0) sb.append(' ')
          sb.append(words(next()))
          k += 1
        }
        sb.append(". ")
        left -= len
      }
      (sb.toString.trim, n)
    }
  }

  /** `n` documents of 60 to 420 words. About 1% of documents each are exact
    * copies, near copies, and eval-contaminated. */
  def corpus(seed: Long, n: Int): GenCorpus = {
    require(n >= 100, s"need at least 100 documents, got $n")
    val rng = new java.util.SplittableRandom(seed)
    val chain = new Chain(seed, rng)
    val evalChain = new Chain(seed ^ 0x5EEDL, new java.util.SplittableRandom(~seed))
    val evalPassages = IndexedSeq.fill(EvalPassages)(
      evalChain.sentences(EvalPassageWords)._1.stripSuffix("."))
    val planted = math.max(n / 100, 3)
    // planted indexes sit in the upper half so every copy has an original
    // below it; the three kinds never share an index
    val slots = scala.util.Random.javaRandomToRandom(new java.util.Random(seed))
      .shuffle((n / 2 until n).toVector).take(3 * planted)
    val exactAt = slots.take(planted).sorted
    val nearAt = slots.slice(planted, 2 * planted).sorted
    val contamAt = slots.drop(2 * planted).sorted
    val plantedSet = slots.toSet
    def original(): Int = { // an unplanted document from the lower half
      var i = rng.nextInt(n / 2)
      while (plantedSet.contains(i)) i = rng.nextInt(n / 2)
      i
    }
    val exactSrc = exactAt.map(c => c -> original()).toMap
    val nearSrc = nearAt.map(c => c -> original()).toMap
    val contamPassage = contamAt.map(c => c -> rng.nextInt(EvalPassages)).toMap
    val docs = new Array[Doc](n)
    for (i <- 0 until n) {
      val (text, toks) =
        if (exactSrc.contains(i)) {
          val o = docs(exactSrc(i)); (o.text, o.tokens)
        } else if (nearSrc.contains(i)) {
          val o = docs(nearSrc(i))
          val ws = o.text.split(' ')
          for (_ <- 0 until 3) {
            val p = rng.nextInt(ws.length)
            val dot = ws(p).endsWith(".")
            ws(p) = words(zipfRank(rng.nextDouble())) + (if (dot) "." else "")
          }
          (ws.mkString(" "), o.tokens)
        } else {
          val (body, k) = chain.sentences(60 + rng.nextInt(361))
          contamPassage.get(i) match {
            case Some(p) => (body + " " + evalPassages(p) + ".", k + EvalPassageWords)
            case None => (body, k)
          }
        }
      val kws = Seq.fill(1 + rng.nextInt(4))(words(rng.nextInt(2000))).distinct
      // skewed genre mix: the first genres are the common ones
      val genre = Genres(math.min((rng.nextDouble() * rng.nextDouble() *
        Genres.length).toInt, Genres.length - 1))
      docs(i) = Doc(id(i), text, toks, 1850 + rng.nextInt(171), genre, kws)
    }
    GenCorpus(seed, docs.toIndexedSeq,
      exactAt.map(c => exactSrc(c) -> c), nearAt.map(c => nearSrc(c) -> c),
      contamAt, evalPassages)
  }
}
