package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.TextFunctions._

/** Deduplication suite for training-data pipelines. All variants are
  * declarative DataFrame plans designed around ONE principle: never compare
  * all pairs. Candidates come from equality buckets (hash / LSH band), so the
  * only shuffles are hash-partitioned groupBys and equi-joins that scale
  * linearly in corpus size; the quadratic work is confined to within-bucket
  * candidates.
  *
  * Hashes are engine-stable (md5-derived, see TextFunctions.hash60) so every
  * stage is reproducible across runs and checkable against a SQL oracle.
  */
object Dedup {

  /** Exact duplicate groups by content hash: (textHash, nDups, keepId).
    * keepId = min doc id, the canonical "first wins" survivor
    * (reference dedups by seen-id-set, inputs.py:86-94; here by content).
    * One groupBy — fully distributed, map-side combined. */
  def exactDuplicates(docs: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame =
    docs.groupBy(md5(col(textCol)).as("text_hash"))
      .agg(count(lit(1)).as("n_dups"), min(col(idCol)).as("keep_id"))
      .filter(col("n_dups") > 1)

  /** Cross-SOURCE duplication matrix — the provenance dashboard a
    * multi-source corpus reads before choosing mixing weights: for every
    * unordered source pair (a <= b), the number of exact-duplicate
    * document PAIRS whose members come from those sources (a == b counts
    * within-source duplication). Mirror-heavy source pairs (the same
    * crawl syndicated twice) light up immediately.
    *
    * Shape: one content-hash aggregate collapses each duplicate group to
    * its per-source member counts, and the pair counts are COMBINATORIAL
    * on those counts (n·m across sources, k·(k−1)/2 within) — the
    * quadratic is arithmetic on group-size integers, never a self-join
    * of members, so a million-way duplicate group costs one row per
    * source it touches. Output: (source_a, source_b, n_dup_pairs),
    * sources ordered lexicographically within the pair. */
  def duplicateSourceMatrix(docs: DataFrame, textCol: String = "text",
                            srcCol: String = "source"): DataFrame = {
    // per (content, source) member counts — duplicate groups only
    val perSrc = docs
      .groupBy(md5(col(textCol)).as("__h"), col(srcCol).as("src"))
      .agg(count(lit(1)).as("k"))
      .withColumn("tot",
        sum("k").over(org.apache.spark.sql.expressions.Window
          .partitionBy("__h")))
      .filter(col("tot") > 1)
    sourcePairCounts(perSrc)
  }

  /** Pair-count arithmetic of [[duplicateSourceMatrix]], split out so the
    * overflow guard is testable without materializing overflow-scale
    * groups. Input: (__h, src, k) per-(content, source) member counts.
    *
    * The combinatorics are OVERFLOW-LOUD (the Pca/KN3 standard — fail,
    * never wrap or round): every product runs in decimal(38,0), where
    * k_a·k_b and k·(k−1) of int64 inputs are exact (≤ 8.6e37 < 1e38);
    * k·(k−1)/2 halves the EVEN factor first via `shiftright` (exact long
    * integer division — never Column./'s double path, whose 53-bit
    * mantissa silently rounds above k ≈ 9.5e7 while the DuckDB oracle's
    * `//` stays exact); and the final per-pair sum is checked back into
    * int64 with `raise_error` on either a > Long.Max total or a
    * NULL-from-decimal-overflow sum (groups are never empty and pair
    * counts never null, so a null sum can only mean > 1e38 pairs). */
  private[graft] def sourcePairCounts(perSrc: DataFrame): DataFrame = {
    val dec = "decimal(38,0)"
    // cross-source pairs: k_a * k_b per group (exact in decimal)
    val cross = perSrc.as("a").join(perSrc.as("b"),
        col("a.__h") === col("b.__h") && col("a.src") < col("b.src"))
      .select(col("a.src").as("source_a"), col("b.src").as("source_b"),
        (col("a.k").cast(dec) * col("b.k").cast(dec)).cast(dec).as("pairs"))
    // within-source: k*(k-1)/2 — halve the even factor in long first
    val halfProd = when(col("k") % 2 === 0,
        shiftright(col("k"), 1).cast(dec) * (col("k") - 1).cast(dec))
      .otherwise(col("k").cast(dec) * shiftright(col("k") - 1, 1).cast(dec))
    val within = perSrc.filter(col("k") > 1)
      .select(col("src").as("source_a"), col("src").as("source_b"),
        halfProd.cast(dec).as("pairs"))
    val total = sum("pairs")
    val loud = when(total.isNull || total > lit(Long.MaxValue).cast(dec),
        raise_error(concat(
          lit("duplicateSourceMatrix: pair count overflows int64 for ("),
          col("source_a"), lit(", "), col("source_b"),
          lit("): "), coalesce(total.cast("string"), lit("> 1e38")))))
      .otherwise(total.cast("long"))
    cross.unionByName(within)
      .groupBy("source_a", "source_b")
      .agg(loud.as("n_dup_pairs"))
  }

  /** Exact-dedup SURVIVORS: one document per distinct content, the
    * min-id occupant winning — the same "first wins" choice
    * [[exactDuplicates]] reports as keep_id, as a reusable pipeline stage
    * (run this BEFORE near-dup detection: a k-way dup group otherwise
    * contributes k^2 near-dup pairs of pure noise). One window keyed by
    * content hash; all original columns preserved. */
  def dropExactDuplicates(docs: DataFrame, idCol: String = "doc_id",
                          textCol: String = "text"): DataFrame = {
    // min_by HASH aggregate, not a row_number window (round 17, guide §5
    // hash-vs-sort operator choice): both shapes shuffle the full rows
    // once by content hash, but the window then SORTS every partition by
    // (hash, id) before its row_number filter — a data-sized sort the
    // aggregate never pays (its buffer holds one candidate row per hash).
    // Survivors identical: min_by keeps the row with the minimum id per
    // hash group, ids are unique, and null-text rows (null md5) form one
    // group either way.
    // CONTRACT (ADVICE r17): idCol must be NON-NULL. min_by skips rows
    // whose ordering value is null, so a group mixing null and non-null
    // ids would prefer a non-null id (the old window ordered nulls
    // first) and an all-null-id group would emit one all-null row. No
    // registry corpus has null ids (doc_id/vec_id are key columns); a
    // caller with nullable ids must coalesce them before deduping.
    val cols = docs.columns
    docs.withColumn("__h", md5(col(textCol)))
      .groupBy(col("__h"))
      .agg(min_by(struct(cols.map(col): _*), col(idCol)).as("__r"))
      .select(cols.map(c => col("__r.`" + c + "`").as(c)): _*)
  }

  /** Distinct word-k-shingles per document: (docId, shingle) where shingle is
    * the space-joined k-gram of letter tokens. Per-document dedup happens
    * ROW-LOCALLY (`array_distinct` before the explode), so building shingle
    * sets costs no shuffle at all. */
  def shingles(docs: DataFrame, k: Int, idCol: String = "doc_id",
               textCol: String = "text"): DataFrame = {
    // k=1 shingles ARE the tokens: skip the window machinery entirely. The
    // general path runs an interpreted lambda per window position (slice
    // copy + concat_ws build); for the single-token case that work is pure
    // overhead on the hottest dedup input shape (word-level minhash).
    if (k == 1)
      docs.select(col(idCol),
        explode(array_distinct(tokens(col(textCol)))).as("shingle"))
    else {
      // tokens projected ONCE before the lambda references them (an inline
      // regex subtree would re-evaluate per window in interpreted eval)
      val toks = col("toks")
      val slices = transform(sequence(lit(1), size(toks) - lit(k - 1)),
        i => concat_ws(" ", slice(toks, i, lit(k))))
      val guarded = when(size(toks) >= k, slices).otherwise(array())
      docs.select(col(idCol), tokens(col(textCol)).as("toks"))
        .select(col(idCol), explode(array_distinct(guarded)).as("shingle"))
    }
  }

  /** Exact n-gram Jaccard near-duplicate pairs (idA < idB, jaccard >= thr).
    * Candidates are generated by joining on shared shingles (equi-join on the
    * shingle hash — shuffle scales with shingle multiplicity, not |docs|^2).
    *
    * `maxShingleDf` is the 100TB guard: a ubiquitous "stop shingle" (k=1
    * "the") puts ~every document in one bucket, making the self-join
    * quadratic. With a document-frequency cap, shingles appearing in more
    * than `maxShingleDf` documents are dropped from the universe — from BOTH
    * the set sizes and the intersections, so the result is exact Jaccard
    * over the informative-shingle sets (the standard df-capped
    * approximation; a stop shingle carries no near-dup signal anyway).
    * The default (Long.MaxValue) computes exact full-set Jaccard. */
  def jaccardPairs(docs: DataFrame, k: Int, threshold: Double,
                   idCol: String = "doc_id", textCol: String = "text",
                   maxShingleDf: Long = Long.MaxValue): DataFrame = {
    val shAll = shingles(docs, k, idCol, textCol)
      .select(col(idCol).as("id"), hash60(col("shingle")).as("sh"))
    val sh =
      if (maxShingleDf == Long.MaxValue) shAll
      else {
        // one extra groupBy (linear, map-side combined); the surviving-
        // shingle join is a plain hash equi-join — no driver involvement.
        val keep = shAll.groupBy("sh").agg(count(lit(1)).as("df"))
          .filter(col("df") <= maxShingleDf).select("sh")
        shAll.join(keep, Seq("sh"))
      }
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("n"))
    val inter = sh.as("a").join(sh.as("b"),
        col("a.sh") === col("b.sh") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n", "n_a"), "id_a")
      .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n", "n_b"), "id_b")
      .withColumn("jaccard",
        round(col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter")), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Winnowing fingerprints (Schleimer–Wilkerson–Aiken 2003, the MOSS
    * algorithm): per document, hash every k-token gram, slide a window of
    * `w` consecutive k-gram hashes, and keep the MINIMUM hash of each
    * window. The guarantee: any shared token run of length >= k + w - 1
    * between two documents yields at least one shared fingerprint, while
    * only ~2/(w+1) of all k-grams are kept — the local-fingerprinting
    * substring-overlap detector (catches copied PASSAGES that whole-set
    * measures like Jaccard dilute away in long documents).
    *
    * Entirely row-local (two bound projections + array HOFs, no window
    * function): tokens -> k-gram hash array -> per-window minima ->
    * distinct. Documents with 1..w-1 k-grams keep their single minimum;
    * shorter ones produce no fingerprints. Output: (docId, fp). */
  def winnowFingerprints(docs: DataFrame, k: Int = 5, w: Int = 4,
                         idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(k >= 1 && w >= 1, "need k >= 1 and w >= 1")
    val toks = col("toks")
    val kgrams = when(size(toks) >= k,
      transform(sequence(lit(1), size(toks) - lit(k - 1)),
        i => hash60(concat_ws(" ", slice(toks, i, lit(k))))))
      .otherwise(array().cast("array<long>"))
    // kg must be a BOUND column (a projected attribute), and the sliding
    // minima run through the codegen'd monotonic-deque SlidingMin — the
    // HOF spelling (transform + array_min(slice)) is an interpreted lambda
    // per window rescanning w elements: O(n*w) vs O(n).
    val kg = col("kg")
    val winnowed = when(size(kg) >= w,
      array_distinct(graft.plans.ArrayExpressions.slidingMin(kg, w)))
      .otherwise(when(size(kg) > 0, array(array_min(kg)))
        .otherwise(array().cast("array<long>")))
    docs.select(col(idCol), tokens(col(textCol)).as("toks"))
      .select(col(idCol), kgrams.as("kg"))
      .select(col(idCol), explode(winnowed).as("fp"))
  }

  /** Substring-overlap candidate pairs from shared winnowing fingerprints:
    * (idA < idB, shared_fps >= minShared). Same scale shape as
    * [[jaccardPairs]] — ONE equi-join on the fingerprint value, quadratic
    * only within a fingerprint bucket — with `maxFpDf` as the stop-
    * fingerprint guard (a boilerplate passage shared by millions of docs
    * carries no pair signal but would otherwise go quadratic). */
  def winnowPairs(docs: DataFrame, k: Int = 5, w: Int = 4,
                  minShared: Long = 1, idCol: String = "doc_id",
                  textCol: String = "text",
                  maxFpDf: Long = Long.MaxValue): DataFrame = {
    val fpAll = winnowFingerprints(docs, k, w, idCol, textCol)
      .select(col(idCol).as("id"), col("fp"))
    val fps =
      if (maxFpDf == Long.MaxValue) fpAll
      else {
        val keep = fpAll.groupBy("fp").agg(count(lit(1)).as("df"))
          .filter(col("df") <= maxFpDf).select("fp")
        fpAll.join(keep, Seq("fp"))
      }
    fps.as("a").join(fps.as("b"),
        col("a.fp") === col("b.fp") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("shared_fps"))
      .filter(col("shared_fps") >= minShared)
  }

  /** MinHash permutation value for a 31-bit shingle hash: universal hashing
    * (a*h + b) mod p with p = 2^31-1; exact in 64-bit since a,h < 2^31 is
    * avoided by keeping a small. Deterministic per permutation index. */
  private def perm(h: Column, i: Int): Column =
    (h * lit(2L * i + 3) + lit(12289L * i + 1)) % lit(2147483647L)

  /** MinHash signatures: (docId, m0..m{k-1}) — k permutation minima over the
    * document's shingle set. One explode + one aggregate; no shuffle beyond
    * the groupBy. */
  def minhashSignatures(docs: DataFrame, shingleK: Int, numPerms: Int,
                        idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val sh = shingles(docs, shingleK, idCol, textCol)
      .select(col(idCol), hash31(col("shingle")).as("h"))
    val aggs = (0 until numPerms).map(i => min(perm(col("h"), i)).as(s"m$i"))
    sh.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** MinHash + LSH candidate pairs, verified by signature similarity.
    * Signatures are split into `bands` bands of `numPerms/bands` rows; docs
    * sharing any full band become candidates. Implemented as ONE
    * (bandIdx, bandValue) self equi-join over the exploded band table (not
    * one join per band) — a single hash shuffle keyed by band value. The
    * banded rows CARRY their full signature (numPerms longs), so candidate
    * verification is computed inline on the join output and the pair-level
    * distinct runs once at the end — no join back to the signature table.
    * (Round 1 joined candidates to the signature table twice; carrying
    * ~8*numPerms extra bytes per banded row costs less than two more hash
    * shuffles at any scale.) Output: (idA, idB, sigSim >= threshold) where
    * sigSim is the fraction of matching signature components.
    *
    * Band geometry: the LSH s-curve threshold is ~(1/bands)^(bands/numPerms);
    * defaults (3 bands x 4 rows) target ~0.76 — near-dup territory — so the
    * candidate volume stays linear-ish in corpus size even on corpora with
    * high background similarity. This is the 100TB-scale near-dup path. */
  def minhashLshPairs(docs: DataFrame, shingleK: Int = 5, numPerms: Int = 12,
                      bands: Int = 3, threshold: Double = 0.5,
                      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(numPerms % bands == 0, "numPerms must divide into bands")
    val rowsPerBand = numPerms / bands
    // The signature pipeline feeds both sides of the self-join — persist so
    // the shingle->minhash computation runs once (numPerms longs per doc).
    val sig = graft.core.CacheScope.persist(
      minhashSignatures(docs, shingleK, numPerms, idCol, textCol))
    // (id, bandIdx, bandValue, m0..m{numPerms-1}) — one row per band per doc.
    val bandStructs = array((0 until bands).map { b =>
      struct(lit(b).as("bidx"), concat_ws("-",
        (0 until rowsPerBand).map(r => col(s"m${b * rowsPerBand + r}")): _*).as("bval"))
    }: _*)
    val banded = sig.select(
      col(idCol).as("id") +: explode(bandStructs).as("bd") +:
        (0 until numPerms).map(i => col(s"m$i")): _*)
      .select(col("id") +: col("bd.bidx").as("bidx") +:
        col("bd.bval").as("bval") +: (0 until numPerms).map(i => col(s"m$i")): _*)
    val simExpr = (0 until numPerms)
      .map(i => when(col(s"x.m$i") === col(s"y.m$i"), 1).otherwise(0))
      .reduce(_ + _).cast("double") / lit(numPerms)
    // A pair sharing several bands would be emitted once PER shared band;
    // instead of a trailing distinct() — a second full shuffle of the pair
    // table, the dominant cost on dup-dense corpora — keep a candidate only
    // at its FIRST matching band. Both sides carry their full signatures, so
    // "does band b' also match" is a map-side component-wise comparison.
    def bandMatches(b: Int): Column = (0 until rowsPerBand)
      .map(r => col(s"x.m${b * rowsPerBand + r}") === col(s"y.m${b * rowsPerBand + r}"))
      .reduce(_ && _)
    val isFirstMatchingBand = (0 until bands)
      .map(b => (col("bidx") === b,
        (0 until b).foldLeft(lit(true))((acc, p) => acc && !bandMatches(p))))
      .foldRight(lit(false)) { case ((cond, keep), acc) => when(cond, keep).otherwise(acc) }
    banded.as("x").join(banded.as("y"), Seq("bidx", "bval"))
      .filter(col("x.id") < col("y.id") && isFirstMatchingBand)
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        round(simExpr, 6).as("sig_sim"))
      .filter(col("sig_sim") >= threshold)
  }

  /** Connected components over a near-duplicate PAIR table — the stage that
    * turns pairwise dup evidence into actionable clusters (keep one doc per
    * cluster). Output: (id, cluster_id, cluster_size) — one row per node
    * that appears in `pairs`, cluster_id = min id of its component.
    * Singleton docs (no pairs) are by definition their own cluster and are
    * not emitted.
    *
    * The symmetric edge table is materialized ONCE; its measured row count
    * picks the path:
    *  - at most `maxLocalEdges` edges (2^20 by default) and integral ids:
    *    the edges are collected as primitive longs and a union-find with
    *    min-id roots runs on the DRIVER; its rows are materialized like
    *    the distributed path's labels. Near-dup pair graphs are tiny next
    *    to the corpus, and every propagation round below is a full Spark
    *    job whose fixed cost dwarfs its work at this size. At the budget
    *    (2^20 edges: 2^19 pairs in chains of 4 nodes, 699k nodes,
    *    local[4] on 4 vCPUs) the driver holds about 50 MB of arrays and
    *    the path takes 1.7 s warm against the label propagation's 7-8 s.
    *    Integral ids only, because there the driver's numeric order IS
    *    Spark's `min` order; other id types (strings, decimals) always
    *    take the distributed path, and so does a pair table with a null
    *    id (the label join gives a null node the least label among its
    *    neighbours without passing one on).
    *  - otherwise: iterative min-label propagation in Spark. Every node
    *    starts labelled with its own id; each round every node takes the
    *    minimum label in its closed neighborhood; fixpoint = each cluster
    *    labelled by its minimum member id. Each round is ONE hash
    *    equi-join (edges x labels) + one map-side-combined groupBy — no
    *    driver-side graph state, edges never rebuilt. Rounds needed =
    *    graph diameter, and near-dup clusters are shallow (near-cliques
    *    from banded LSH buckets), so 3-5 rounds is typical; `maxIter`
    *    bounds the worst case and NON-convergence within it throws rather
    *    than silently returning a split component. Two iterative-Spark
    *    essentials: (a) every round's labels are materialized as a leaf
    *    plan over the stored rows ([[graft.core.CacheScope.materialize]])
    *    — without the lineage cut the logical plan DOUBLES per round
    *    (labels feeds both the join and the union) and the driver OOMs
    *    analyzing it long before any data is big; the previous round's
    *    cache is released as soon as the next round is materialized, so
    *    storage stays O(1) in rounds (the final round is tracked by
    *    [[graft.core.CacheScope]] like every operator-internal persist).
    *    (b) Convergence is detected with one tiny aggregate, not a join:
    *    labels only ever decrease, so the exact (decimal, overflow-proof)
    *    label sum is strictly monotonic and stalls exactly at the
    *    fixpoint.
    *
    * Both paths give identical rows; `maxLocalEdges = 0` forces the
    * distributed one (tests). */
  def duplicateClusters(pairs: DataFrame, idACol: String = "id_a",
                        idBCol: String = "id_b", maxIter: Int = 50,
                        maxLocalEdges: Long = 1L << 20): DataFrame = {
    val edges = graft.core.CacheScope.materialize(
      pairs.select(col(idACol).as("src"), col(idBCol).as("dst"))
        .union(pairs.select(col(idBCol).as("src"), col(idACol).as("dst")))
        .distinct())
    val idType = edges.schema("src").dataType
    val integral = idType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    val local =
      if (integral && graft.core.CacheScope.rowCount(edges) <= maxLocalEdges)
        localClusters(edges)
      else None
    local.map { clusters => graft.core.CacheScope.free(edges); clusters }
      .getOrElse(propagateLabels(edges, maxIter))
  }

  /** [[duplicateClusters]]'s driver path over the materialized symmetric
    * edge table of integral ids; `None` when an id is null. One job
    * collects each edge once (its src <= dst half) as primitive longs;
    * the nodes are sorted and indexed, so the union-find runs on int
    * arrays, and a root hung by index order is the minimum id of its set
    * (a union hangs the larger root under the smaller). The rows are
    * materialized like the distributed path's labels, so neither the
    * plan nor any later task carries them. */
  private def localClusters(edges: DataFrame): Option[DataFrame] = {
    val idField = edges.schema("src")
    val parts = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .rdd.mapPartitions { it =>
        val ends = Array.newBuilder[Long]
        var hasNull = false
        it.foreach { r =>
          if (r.anyNull) hasNull = true
          else if (r.getLong(0) <= r.getLong(1)) {
            ends += r.getLong(0); ends += r.getLong(1)
          }
        }
        Iterator.single(if (hasNull) null else ends.result())
      }.collect()
    if (parts.contains(null)) None
    else {
      val ends = Array.concat(parts.toIndexedSeq: _*)
      val sorted = ends.sorted
      val distinct = Array.newBuilder[Long]
      for (i <- sorted.indices if i == 0 || sorted(i) != sorted(i - 1))
        distinct += sorted(i)
      val nodes = distinct.result()
      val parent = Array.range(0, nodes.length)
      def find(x: Int): Int = {
        var i = x
        while (parent(i) != i) { parent(i) = parent(parent(i)); i = parent(i) }
        i
      }
      for (e <- ends.indices by 2) {
        val a = find(java.util.Arrays.binarySearch(nodes, ends(e)))
        val b = find(java.util.Arrays.binarySearch(nodes, ends(e + 1)))
        if (a != b) parent(math.max(a, b)) = math.min(a, b)
      }
      val root = Array.tabulate(nodes.length)(find)
      val size = new Array[Long](nodes.length)
      root.foreach(r => size(r) += 1)
      // slices of at most 2^15 nodes: three longs each keep every task
      // under Spark's large-task warning
      val slices = (0 until nodes.length by (1 << 15)).map { s =>
        val r = root.slice(s, s + (1 << 15))
        (nodes.slice(s, s + (1 << 15)), r.map(nodes(_)), r.map(size(_)))
      }
      val spark = edges.sparkSession
      val rows = spark.sparkContext.parallelize(slices, math.max(1, slices.size))
        .flatMap { case (ids, cl, sz) =>
          ids.indices.iterator.map(i => org.apache.spark.sql.Row(ids(i), cl(i), sz(i)))
        }
      val asLong = StructType(Seq(
        StructField("id", LongType, idField.nullable),
        StructField("cluster_id", LongType, idField.nullable),
        StructField("cluster_size", LongType, nullable = false)))
      Some(graft.core.CacheScope.materialize(spark.createDataFrame(rows, asLong)
        .select(col("id").cast(idField.dataType),
          col("cluster_id").cast(idField.dataType), col("cluster_size"))))
    }
  }

  /** [[duplicateClusters]]'s distributed path over the materialized
    * symmetric edge table. */
  private def propagateLabels(edges: DataFrame, maxIter: Int): DataFrame = {
    // Materialize: the returned frame's plan is a leaf over the stored
    // rows (O(1) logical plan regardless of round count), carrying the
    // measured size, so a small label table broadcasts into the next
    // round's join. The exact decimal label-sum is the monotone fixpoint
    // witness.
    def cutLineage(df: DataFrame): (DataFrame, java.math.BigDecimal) = {
      val cut = graft.core.CacheScope.materialize(df)
      (cut, cut.agg(sum(col("lbl").cast("decimal(38,0)"))).head().getDecimal(0))
    }
    var (labels, prevSum) = cutLineage(
      edges.select(col("src").as("id")).distinct().withColumn("lbl", col("id")))
    var converged = prevSum == null // empty graph: nothing to propagate
    var iter = 0
    while (!converged && iter < maxIter) {
      // min over the closed neighborhood: own label AND every neighbor's.
      // (Pointer jumping — adopting the label's own label to halve round
      // count — was tried in round 17 and MEASURED WORSE at sf0.1:
      // e_dup_clusters 9.3 → 13.1 s. Near-dup clusters are shallow
      // (3-5 rounds), so the extra node-table self-join per round costs
      // more than the rounds it saves; it only pays past diameters these
      // pair graphs don't produce.)
      val (next, nextSum) = cutLineage(
        edges.join(labels.withColumnRenamed("id", "dst")
            .withColumnRenamed("lbl", "nlbl"), "dst")
          .select(col("src").as("id"), col("nlbl").as("lbl"))
          .union(labels)
          .groupBy("id").agg(min("lbl").as("lbl")))
      converged = nextSum.compareTo(prevSum) == 0
      prevSum = nextSum
      graft.core.CacheScope.free(labels) // next round is materialized
      labels = next
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"duplicateClusters did not converge in $maxIter rounds — the pair " +
          "graph has a component of diameter > maxIter; raise maxIter")
    val sizes = labels.groupBy("lbl").agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "lbl")
      .select(col("id"), col("lbl").as("cluster_id"), col("cluster_size"))
  }

  /** Near-duplicate SURVIVORS: given a pair table, resolve clusters and drop
    * every member except the minimum-id representative — the terminal stage
    * of the near-dup pipeline ([[minhashLshPairs]] / [[winnowPairs]] /
    * cosine pairs all feed it unchanged). One anti-join against the (small)
    * loser set; docs in no pair survive untouched. */
  def dropNearDuplicates(docs: DataFrame, pairs: DataFrame,
                         idCol: String = "doc_id", idACol: String = "id_a",
                         idBCol: String = "id_b"): DataFrame = {
    val losers = duplicateClusters(pairs, idACol, idBCol)
      .filter(col("id") =!= col("cluster_id"))
      .select(col("id").as(idCol))
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** Eval-set decontamination: flag training documents sharing any exact
    * word-n-gram with a benchmark/eval corpus (the standard "remove
    * n-gram-contaminated training docs" pass; n around 8-13 words in
    * published pipelines). Output: (docId, shared_ngrams) for training docs
    * with >= `minOverlap` DISTINCT shared n-grams; anti-join the result to
    * drop them.
    *
    * Scale shape: eval sets are small by construction (benchmarks, not
    * corpora), so the distinct eval n-gram set is BROADCAST by default —
    * the training side streams through one broadcast hash join with zero
    * shuffle of the training n-grams, then one map-side-combined count per
    * doc. For the rare giant decontamination list (e.g. decontaminating
    * against another corpus), pass `broadcastEval = false` to fall back to
    * a hash-partitioned equi-join. N-grams are compared by engine-stable
    * 60-bit hash, never by string, so the join key is 8 bytes regardless
    * of n. */
  def decontaminate(docs: DataFrame, evalDocs: DataFrame, n: Int = 8,
                    minOverlap: Long = 1, idCol: String = "doc_id",
                    textCol: String = "text",
                    broadcastEval: Boolean = true): DataFrame = {
    val trainSh = shingles(docs, n, idCol, textCol)
      .select(col(idCol), hash60(col("shingle")).as("sh"))
    val evalSh = shingles(evalDocs.withColumn("__eid", lit(0)), n, "__eid", textCol)
      .select(hash60(col("shingle")).as("sh"))
      .distinct()
    trainSh.join(if (broadcastEval) broadcast(evalSh) else evalSh, "sh")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("shared_ngrams"))
      .filter(col("shared_ngrams") >= minOverlap)
  }

  /** Contamination SEVERITY report — [[decontaminate]]'s boolean flag is
    * enough to drop documents, but threshold TUNING needs the fraction:
    * per training document, the share of its distinct n-gram shingles
    * found in the eval set, INCLUDING clean documents (overlap 0), so the
    * full severity distribution is visible. Output:
    * (idCol, n_shingles, n_hits, overlap_frac) — frac = hits/shingles
    * rounded to 6dp (an integer ratio, engine-exact before rounding).
    * Documents with < n tokens have no shingles and are absent, matching
    * [[decontaminate]].
    *
    * Scale shape: the train shingle table is computed once and persisted
    * for its two consumers (per-doc totals; broadcast-join hits); both
    * are map-side-combined aggregates — no shuffle of the training
    * n-grams beyond their one per-doc groupBy. */
  def contaminationReport(docs: DataFrame, evalDocs: DataFrame, n: Int = 8,
                          idCol: String = "doc_id", textCol: String = "text",
                          broadcastEval: Boolean = true): DataFrame = {
    val trainSh = graft.core.CacheScope.persist(
      shingles(docs, n, idCol, textCol)
        .select(col(idCol), hash60(col("shingle")).as("sh")))
    val evalSh = shingles(evalDocs.withColumn("__eid", lit(0)), n, "__eid", textCol)
      .select(hash60(col("shingle")).as("sh"))
      .distinct()
    val totals = trainSh.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shingles"))
    val hits = trainSh
      .join(if (broadcastEval) broadcast(evalSh) else evalSh, "sh")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hits"))
    totals.join(hits, Seq(idCol), "left")
      .na.fill(0L, Seq("n_hits"))
      .select(col(idCol), col("n_shingles"), col("n_hits"),
        round(col("n_hits").cast("double") / col("n_shingles"), 6)
          .as("overlap_frac"))
  }

  /** [[decontaminate]] with a Bloom PRE-FILTER — the shape that survives an
    * eval suite too large to broadcast as a join side: the eval shingle
    * set collapses to a <= numBits/32-row Bloom (always broadcastable,
    * whatever the eval size), every training shingle tests it ROW-LOCALLY
    * (no shuffle, no join), and only the surviving sliver reaches the
    * exact confirm join. Bloom filters have no false negatives and the
    * exact join kills the false positives, so the result is IDENTICAL to
    * [[decontaminate]] — same oracle (`t_decontam_bloom` reuses
    * `t_decontam`'s SQL verbatim); the pre-filter only changes how many
    * rows pay the join. Equality is also spec-pinned (DedupSpec).
    *
    * `numBits <= 0` (the default) sizes the filter from the MEASURED
    * distinct eval-shingle count ([[Sketches.adaptiveBloomBits]], ~1% FP
    * at 10 bits/key — the freeze-time contract of VERDICT r10 #2): a
    * fixed size saturates for a large eval suite and silently degrades
    * the prune to pass-everything. The count action this costs is over
    * the (persisted) EVAL side, never the corpus. */
  def decontaminateBloom(docs: DataFrame, evalDocs: DataFrame, n: Int = 8,
                         minOverlap: Long = 1, idCol: String = "doc_id",
                         textCol: String = "text", numBits: Int = -1,
                         numHashes: Int = 5): DataFrame = {
    val trainSh = shingles(docs, n, idCol, textCol)
      .select(col(idCol), hash60(col("shingle")).as("sh"))
    val evalSh = graft.core.CacheScope.persist(
      shingles(evalDocs.withColumn("__eid", lit(0)), n, "__eid", textCol)
        .select(hash60(col("shingle")).as("sh"))
        .distinct())
    // past the per-filter budget the filter SHARDS by key hash instead
    // of clamping (VERDICT r11 #3) — an eval suite of any size keeps the
    // ~1% FP design point; numBits > 0 pins one fixed-size shard
    val (shards, bits) =
      if (numBits > 0) (1, numBits)
      else {
        val n = evalSh.count()
        val s = Sketches.bloomShards(n)
        (s, Sketches.adaptiveBloomBits((n + s - 1) / s,
          label = "decontaminateBloom"))
      }
    val bloom = Sketches.bloomBuildSharded(evalSh, "sh", shards, bits,
      numHashes)
    Sketches.bloomPruneSharded(bloom, trainSh, "sh", shards, bits,
        numHashes)
      .join(evalSh, "sh") // exact confirm: false positives die here
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("shared_ngrams"))
      .filter(col("shared_ngrams") >= minOverlap)
  }

  /** Character-exact REPEATED-SUBSTRING spans — the "deduplicating
    * training data" primitive of Lee et al. 2021 (ExactSubstr): find every
    * maximal run of positions whose length-`L` character gram occurs MORE
    * THAN ONCE corpus-wide. Where [[dedupSpans]] works on pre-cut chunks
    * (a duplicate must align with chunk boundaries), this is
    * boundary-free: any verbatim copy of >= L characters is caught at
    * every offset. The output is the REPORT — (idCol, span_start,
    * span_end, n_grams) per maximal repeated run, 1-based inclusive
    * character positions, span covering [start, end] = [first gram pos,
    * last gram pos + L - 1]; a removal policy (keep-first, cut-all)
    * composes downstream.
    *
    * Suffix arrays don't distribute; the Spark-shaped equivalent is
    * L-gram seeding: every position's gram -> engine-stable 60-bit hash,
    * one hash-partitioned df count keeps hashes seen >= 2 times, marked
    * positions merge into maximal runs per document (classic
    * gaps-and-islands; the only window partitions by document — bounded
    * by document length, the [[dedupLines]] reassembly contract).
    * "Repeated" means repeated 60-bit hash: a collision can mark a
    * false repeat at ~2^-60 per pair — the standard trade, identical in
    * the DuckDB replay (`t_substring_spans`) because both engines use the
    * same md5-derived hash. */
  def repeatedSubstringSpans(docs: DataFrame, L: Int = 20,
                             idCol: String = "doc_id",
                             textCol: String = "text",
                             keepFirst: Boolean = false): DataFrame = {
    require(L >= 2, "need L >= 2")
    val t = col(textCol)
    val grams = docs
      .filter(t.isNotNull && length(t) >= L)
      .select(col(idCol),
        posexplode(transform(sequence(lit(1), length(t) - lit(L - 1)),
          i => hash60(t.substr(i, lit(L))))).as(Seq("pos0", "h")))
      .select(col(idCol), (col("pos0") + 1).cast("long").as("pos"), col("h"))
    // keepFirst = the Lee et al. removal policy: the corpus-FIRST
    // occurrence of each gram (lowest (doc, pos) — total order) is exempt,
    // so exactly one copy of every repeated region survives a cut. The
    // rank window partitions by gram hash — bounded by that gram's
    // occurrence count, never corpus size.
    val marked =
      if (!keepFirst) {
        val repeated = grams.groupBy("h").agg(count(lit(1)).as("__df"))
          .filter(col("__df") >= 2).select("h")
        grams.join(repeated, "h")
      } else {
        val wh = Window.partitionBy(col("h")).orderBy(col(idCol), col("pos"))
        grams.withColumn("__rn", row_number().over(wh))
          .filter(col("__rn") > 1).drop("__rn")
      }
    val w = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    marked
      .withColumn("__grp", col("pos") - row_number().over(w))
      .groupBy(col(idCol), col("__grp"))
      .agg(min("pos").as("span_start"),
        (max("pos") + lit(L - 1)).as("span_end"),
        count(lit(1)).as("n_grams"))
      .drop("__grp")
  }

  /** Apply a character-span report to the corpus: delete every reported
    * [span_start, span_end] range (1-based inclusive — the
    * [[repeatedSubstringSpans]] output) from its document's text and
    * return the stitched remainder. Cut-all policy — pair with a
    * keep-first exemption upstream if one occurrence should survive.
    *
    * Row-local surgery: spans arrive per doc as one sorted array (they
    * are non-overlapping maximal islands by construction), the kept
    * segments are the gaps between them (the [[graft.operators.TextOps]]
    * CDC assembly shape), concatenated in order. Docs with no spans pass
    * through untouched. Output: (idCol, clean_text, n_cut_chars). */
  def removeSpans(docs: DataFrame, spans: DataFrame,
                  idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame = {
    val sp = spans.groupBy(col(idCol))
      .agg(array_sort(collect_list(struct(
        col("span_start").as("s"), col("span_end").as("e")))).as("__spans"))
    val t = col(textCol)
    val n = length(t).cast("long")
    docs.join(sp, Seq(idCol), "left")
      .withColumn("__spans", coalesce(col("__spans"),
        array().cast("array<struct<s:bigint,e:bigint>>")))
      // gap k runs from (end of span k-1) + 1 to (start of span k) - 1,
      // with virtual spans at positions 0 and n+1
      .withColumn("__starts",
        concat(array(lit(1L)), transform(col("__spans"), x => x.getField("e") + 1L)))
      .withColumn("__ends",
        concat(transform(col("__spans"), x => x.getField("s") - 1L), array(n)))
      .select(col(idCol),
        // null text stays null (concat_ws would collapse it to "")
        when(t.isNull, lit(null).cast("string")).otherwise(
          concat_ws("", transform(
            filter(zip_with(col("__starts"), col("__ends"),
              (s, e) => struct(s.as("s"), e.as("e"))), g => g.getField("s") <= g.getField("e")),
            g => t.substr(g.getField("s").cast("int"),
              (g.getField("e") - g.getField("s") + 1L).cast("int")))))
          .as("clean_text"),
        aggregate(transform(col("__spans"),
            x => x.getField("e") - x.getField("s") + 1L),
          lit(0L), (acc, x) => acc + x).as("n_cut_chars"))
  }

  /** Corpus-wide span-level exact dedup — the C4-style "line dedup"
    * (Raffel et al. 2020 §2.2 keep one occurrence of every three-sentence
    * span; reference scope: document-level dedup only, catalog.py:103-108 —
    * this generalizes it below document granularity). Input is any
    * span table `(idCol, idxCol, spanCol)` — lines ([[dedupLines]]), token
    * chunks (`TextOps.tokenChunks`), or sentences (`TextOps.sentences`).
    * Appends `keep`: true iff this row is the span's FIRST occurrence in
    * the corpus, ordered by (idCol, idxCol) — total, so rerun-identical.
    *
    * Scale shape: ONE hash shuffle, partitioned by the span's md5 (32
    * bytes shuffled per row instead of the span text; spans repeat, so
    * each partition holds full duplicate groups). `row_number` runs within
    * a span's occurrence group — bounded by that span's duplicate count,
    * never by corpus size. No global window, no driver state. */
  def dedupSpans(spans: DataFrame, idCol: String = "doc_id",
                 idxCol: String = "chunk_id",
                 spanCol: String = "chunk_text"): DataFrame = {
    val w = Window.partitionBy(md5(col(spanCol)))
      .orderBy(col(idCol), col(idxCol))
    spans.withColumn("keep", row_number().over(w) === 1)
  }

  /** Line-level corpus dedup over raw documents: split on newline, keep
    * only first occurrences of each line corpus-wide, reassemble the
    * surviving text in original line order. Lines shorter than `minChars`
    * are always kept (boilerplate floors mirror C4's span threshold —
    * deduping ubiquitous short lines like "" or "---" would shred
    * unrelated documents). Output: (idCol, clean_text, n_kept, n_dropped).
    *
    * Reassembly is one groupBy(doc): collect (idx, line) structs, sort
    * row-locally, join — per-document state only. */
  def dedupLines(docs: DataFrame, minChars: Int = 1, sep: String = "\n",
                 idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val lines = docs
      .select(col(idCol), posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep), -1))
        .as(Seq("idx0", "line")))
      .select(col(idCol), (col("idx0") + 1).cast("long").as("line_idx"), col("line"))
    val short = lines.filter(length(col("line")) < minChars)
      .withColumn("keep", lit(true))
    val marked = dedupSpans(lines.filter(length(col("line")) >= minChars),
      idCol, "line_idx", "line")
    reassembleSpans(short.unionByName(marked), sep, idCol, "line_idx", "line")
  }

  /** Rebuild documents from a marked span table (the [[dedupSpans]] output):
    * per doc, surviving spans joined by `sep` in span order, plus
    * kept/dropped counts. Empty survivor set yields an empty string (the
    * document row is retained — dropping it is the caller's policy). */
  def reassembleSpans(marked: DataFrame, sep: String = " ",
                      idCol: String = "doc_id", idxCol: String = "chunk_id",
                      spanCol: String = "chunk_text"): DataFrame =
    marked
      .groupBy(col(idCol))
      .agg(
        concat_ws(sep,
          transform(
            array_sort(collect_list(when(col("keep"),
              struct(col(idxCol).as("i"), col(spanCol).as("s"))))),
            e => e.getField("s"))).as("clean_text"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("keep"), 0L).otherwise(1L)).as("n_dropped"))

  /** Fuzzy record-linkage duplicate pairs: blocked Levenshtein matching —
    * the classic record-linkage shape (Fellegi-Sunter blocking; the
    * reference dedups metadata by exact id only, catalog.py:103-108 — this
    * extends matching to typo-distance). Emits (id_a, id_b, s_a, s_b, dist)
    * for same-block pairs with `minDist <= dist <= maxDist` (id_a < id_b;
    * minDist = 1 excludes exact-equal strings, which [[exactDuplicates]]
    * already owns).
    *
    * Scale shape: the all-pairs quadratic is confined to blocks — ONE hash
    * equi-join on the caller's `blockKey` (a cheap canonicalization such as
    * last token, soundex, or a length bucket), never a cross join. Within a
    * block, a |len(a)-len(b)| <= maxDist band-prune runs BEFORE the O(m·n)
    * Levenshtein DP, so the expensive comparator only sees length-plausible
    * pairs. Degenerate blocks (empty/null key) are dropped: a null block
    * key never matches anything rather than forming a giant bucket. */
  def fuzzyPairs(df: DataFrame, blockKey: Column, maxDist: Int = 4,
                 minDist: Int = 1, idCol: String = "doc_id",
                 strCol: String = "text"): DataFrame = {
    require(maxDist >= minDist && minDist >= 0, "need 0 <= minDist <= maxDist")
    val keyed = df
      .select(col(idCol).as("__fid"), col(strCol).as("__fs"),
        blockKey.cast("string").as("__fblk"))
      .filter(col("__fblk").isNotNull && col("__fblk") =!= "")
    val a = keyed.select(col("__fid").as("id_a"), col("__fs").as("s_a"),
      col("__fblk"))
    val b = keyed.select(col("__fid").as("id_b"), col("__fs").as("s_b"),
      col("__fblk"))
    // the lower bound as a cheap predicate where one exists: dist >= 1 is
    // exactly string inequality — otherwise the join condition would run
    // the edit-distance DP twice per band-surviving pair (once per
    // comparison)
    val lower: Column = minDist match {
      case 0 => lit(true)
      case 1 => col("s_a") =!= col("s_b")
      case d => levenshtein(col("s_a"), col("s_b"), d - 1) === -1
    }
    // THRESHOLD-bounded Levenshtein (round 17, guide §1.2 step 2): the
    // 3-arg form computes only the |2·maxDist+1|-wide DP band and bails
    // out early once every band cell exceeds the bound, returning -1 —
    // O(n·maxDist) instead of O(n·m) per pair on the block-quadratic hot
    // path (this comparator ran the full DP on every length-surviving
    // pair; q_fuzzy_parts measured 50.7 s at sf0.1, the slowest query in
    // the whole registry). Kept pairs and their distances are identical:
    // -1 sorts below any minDist >= 0, so the BETWEEN filter drops
    // exactly the dist > maxDist pairs the full DP filtered.
    a.join(b, "__fblk")
      .filter(col("id_a") < col("id_b"))
      .filter(abs(length(col("s_a")) - length(col("s_b"))) <= maxDist)
      .filter(lower)
      .withColumn("dist",
        levenshtein(col("s_a"), col("s_b"), maxDist).cast("long"))
      .filter(col("dist") >= minDist && col("dist") <= maxDist)
      .select("id_a", "id_b", "s_a", "s_b", "dist")
  }

  /** SimHash: 60-bit locality-sensitive fingerprint per document. For each
    * bit position, sum +count/-count of each distinct token's hash bit; the
    * fingerprint sets bits with positive sums. One pass: a custom typed
    * Aggregator keeps all 60 counters in the aggregation buffer (classic
    * partial agg), instead of exploding 60 rows per token pre-shuffle —
    * 60x less shuffle volume, bit-identical output. */
  def simhash(docs: DataFrame, bits: Int = 60,
              idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val agg = udaf(new graft.plans.HashAggregators.SimhashAgg(bits))
    TextOps.unigrams(docs, idCol, textCol)
      .select(col(idCol), hash60(col("token")).as("h"), col("count"))
      .groupBy(col(idCol))
      .agg(agg(col("h"), col("count")).as("simhash"))
  }
}
