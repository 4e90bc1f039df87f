package graft

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll

import graft.core.Ids

/** ScalaCheck properties for the pure driver-side logic (SURVEY §5's
  * suggestion: property tests for the inference ladder and chunk plans). */
object IdsProps extends Properties("Ids.prefixChunks") {

  private val idsGen: Gen[Vector[String]] =
    Gen.listOf(Gen.alphaNumStr.map(_.take(12))).map(_.distinct.sorted.toVector)

  property("partition: preserves order and every id exactly once") =
    forAll(idsGen) { ids =>
      Ids.prefixChunks(ids, minSize = 2, maxSize = 7).flatten == ids
    }

  property("chunk sizes bounded by maxSize") =
    forAll(idsGen) { ids =>
      Ids.prefixChunks(ids, minSize = 2, maxSize = 7).forall(_.size <= 7)
    }

  property("all chunks except the last reach minSize") =
    forAll(idsGen) { ids =>
      val chunks = Ids.prefixChunks(ids, minSize = 2, maxSize = 7)
      chunks.isEmpty || chunks.init.forall(_.size >= 2)
    }
}

/** Properties of the n-gram window arithmetic (checked against the Spark
  * implementation on small generated docs — one session, bounded cases). */
object NgramProps extends Properties("TextOps.ngrams") {
  import org.apache.spark.sql.functions._

  private lazy val spark = TestSpark.spark

  private val docGen: Gen[List[String]] =
    Gen.listOfN(3, Gen.listOf(Gen.oneOf("a", "b", "c", "dd")).map(_.mkString(" ")))

  property("total ngram count = sum of max(0, tokens - n + 1)") = {
    import spark.implicits._
    forAll(docGen, Gen.choose(1, 4)) { (texts, n) =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val got = graft.operators.TextOps.ngrams(docs, n)
        .agg(coalesce(sum("count"), lit(0L))).head().getLong(0)
      val expected = texts.map { t =>
        val toks = t.split("\\s+").count(_.nonEmpty)
        math.max(0, toks - n + 1)
      }.sum.toLong
      Prop(got == expected) :| s"got=$got expected=$expected n=$n"
    }
  }

  property("chunked wordcounts conserve every token") = {
    import spark.implicits._
    forAll(docGen, Gen.choose(1, 6)) { (texts, chunkSize) =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val got = graft.operators.TextOps.chunkedWordcounts(docs, chunkSize)
        .agg(coalesce(sum("count"), lit(0L))).head().getLong(0)
      val expected = texts.map(_.split("\\s+").count(_.nonEmpty)).sum.toLong
      Prop(got == expected) :| s"got=$got expected=$expected cs=$chunkSize"
    }
  }

  property("driver-side Hash60 equals the md5 reference formula on any string") =
    forAll(Gen.asciiPrintableStr, Gen.alphaNumStr) { (a, b) =>
      val s = a + b
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
        .map(x => f"$x%02x").mkString.take(15)
      Prop(graft.plans.HashUtil.hash60(s) == java.lang.Long.parseLong(hex, 16))
    }
}

/** Properties of the round-3 operators: the winnowing collision guarantee
  * and sequence-packing conservation, checked against the Spark
  * implementations on small generated corpora. */
object Round3Props extends Properties("Winnow/Pack") {
  import org.apache.spark.sql.functions._

  private lazy val spark = TestSpark.spark

  private val word: Gen[String] = Gen.oneOf("aa", "bb", "cc", "dd", "ee",
    "ff", "gg", "hh", "ii", "jj")
  private val run: Gen[List[String]] = Gen.listOfN(8, word) // k+w-1 = 8

  property("winnowing: a shared run of length k+w-1 forces a shared fingerprint") = {
    import spark.implicits._
    forAll(run, Gen.listOfN(6, word), Gen.listOfN(6, word)) { (shared, p1, p2) =>
      val docs = Seq(
        (1L, (p1 ++ shared).mkString(" ")),
        (2L, (shared ++ p2).mkString(" "))).toDF("doc_id", "text")
      val pairs = graft.operators.Dedup.winnowPairs(docs, k = 5, w = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      Prop(pairs.contains((1L, 2L))) :| s"shared=$shared p1=$p1 p2=$p2"
    }
  }

  property("SlidingMin (codegen deque) == HOF array_min-over-slices on any array") = {
    import spark.implicits._
    forAll(Gen.listOf(Gen.choose(-100L, 100L)), Gen.choose(1, 6)) { (xs, w) =>
      val df = Seq(Tuple1(xs)).toDF("a")
      val deque = df.select(graft.plans.ArrayExpressions.slidingMin(col("a"), w))
        .as[Seq[Long]].head()
      val hof = df.select(
        when(size(col("a")) >= w,
          transform(sequence(lit(1), size(col("a")) - lit(w - 1)),
            i => array_min(slice(col("a"), i, lit(w)))))
          .otherwise(array().cast("array<long>")))
        .as[Seq[Long]].head()
      Prop(deque == hof) :| s"xs=$xs w=$w deque=$deque hof=$hof"
    }
  }

  property("packing: per-bucket offsets are the exact prefix sums, any budget") = {
    import spark.implicits._
    val docsGen = Gen.listOfN(5, Gen.listOf(word).map(_.mkString(" ")))
    forAll(docsGen, Gen.choose(1, 16)) { (texts, budget) =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val got = graft.operators.TextOps
        .packSequences(docs, budget = budget, nBuckets = 3)
        .collect()
        .map(r => (r.getLong(1), r.getLong(0), r.getLong(2),
          r.getLong(3) * budget + r.getLong(4)))
      val ok = got.groupBy(_._1).values.forall { rows =>
        val sorted = rows.sortBy(_._2)
        sorted.map(_._4).toSeq ==
          sorted.map(_._3).scanLeft(0L)(_ + _).init.toSeq
      }
      Prop(ok) :| s"budget=$budget rows=${got.toSeq}"
    }
  }
}

/** duplicateClusters checked against a brute-force union-find on small
  * random graphs, through both sides of its edge budget: the driver-local
  * union-find and the distributed label propagation (budget 0). Bounded
  * cases: each case runs the iterative Spark job. */
object ClusterProps extends Properties("Dedup.duplicateClusters") {

  override def overrideParameters(p: org.scalacheck.Test.Parameters)
      : org.scalacheck.Test.Parameters = p.withMinSuccessfulTests(12)

  private lazy val spark = TestSpark.spark

  private val edgesGen: Gen[List[(Long, Long)]] =
    Gen.listOfN(8, for {
      a <- Gen.choose(0L, 11L); b <- Gen.choose(0L, 11L) if a != b
    } yield (math.min(a, b), math.max(a, b))).map(_.distinct)

  private def bruteComponents(edges: List[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    edges.flatMap(e => Seq(e._1, e._2)).distinct
      .map(n => n -> find(n)).toMap
  }

  property("labels = min component member; sizes = component cardinality") = {
    import spark.implicits._
    forAll(edgesGen) { edges =>
      val expected = bruteComponents(edges)
      def got(maxLocalEdges: Long) =
        if (edges.isEmpty) Map.empty[Long, (Long, Long)]
        else graft.operators.Dedup
          .duplicateClusters(edges.toDF("id_a", "id_b"),
            maxLocalEdges = maxLocalEdges).collect()
          .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      val (local, distributed) = (got(1L << 20), got(0L))
      graft.core.CacheScope.release()
      val sizes = expected.groupBy(_._2).map { case (c, m) => c -> m.size.toLong }
      val want = expected.map { case (id, c) => id -> (c, sizes(c)) }
      Prop(local == want && distributed == want) :|
        s"edges=$edges local=$local distributed=$distributed want=$want"
    }
  }
}

/** Count-min sketch cells and estimates checked against an independent
  * plain-Scala reimplementation of the same md5 bucket arithmetic. */
object CmsProps extends Properties("Sketches.cms") {

  override def overrideParameters(p: org.scalacheck.Test.Parameters)
      : org.scalacheck.Test.Parameters = p.withMinSuccessfulTests(12)

  private lazy val spark = TestSpark.spark

  private def hash60(s: String): Long = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.take(15), 16)
  }
  private def bucket(key: String, d: Int, width: Int): Long =
    hash60(s"$d\u0001$key") % width

  private val itemsGen: Gen[Map[String, Long]] =
    Gen.mapOf(for {
      k <- Gen.oneOf("a", "b", "c", "dd", "ee", "f")
      n <- Gen.choose(1L, 50L)
    } yield k -> n)

  property("cells match the reference arithmetic; estimates are exact minima") = {
    import spark.implicits._
    val depth = 2; val width = 4
    forAll(itemsGen) { items =>
      val df = items.toSeq.toDF("k", "n")
      val cms = graft.operators.Sketches.cmsBuild(df, "k", "n", depth, width)
      val cells = cms.collect()
        .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
      val wantCells = items.toSeq
        .flatMap { case (k, n) => (0 until depth).map(d => (d, bucket(k, d, width)) -> n) }
        .groupBy(_._1).map { case (c, m) => c -> m.map(_._2).sum }
      val est = graft.operators.Sketches
        .cmsEstimate(cms, df.select("k").distinct(), "k", depth, width)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val wantEst = items.keys.map { k =>
        k -> (0 until depth)
          .map(d => wantCells.getOrElse((d, bucket(k, d, width)), 0L)).min
      }.toMap
      Prop(cells == wantCells && est == wantEst) :|
        s"items=$items cells=$cells want=$wantCells est=$est wantEst=$wantEst"
    }
  }
}

/** DSIR resampling properties: membership is a deterministic function of
  * (score, max, T, id-hash), and p = exp((s-max)/T) is monotone in BOTH
  * arguments — higher temperature or higher score can only ADD members. */
object DsirProps extends Properties("Dsir.importanceResample") {
  import org.apache.spark.sql.functions._

  private lazy val spark = TestSpark.spark

  private val scoresGen: Gen[List[(Long, Long)]] =
    Gen.nonEmptyListOf(Gen.zip(Gen.chooseNum(0L, 500L),
      Gen.chooseNum(-5000000L, 0L))).map(_.distinctBy(_._1))

  property("kept set grows monotonically with temperature") = {
    import spark.implicits._
    forAll(scoresGen) { rows =>
      val df = rows.toDF("doc_id", "score_micro")
      def kept(t: Double): Set[Long] =
        graft.operators.Dsir.importanceResample(df, temperature = t)
          .collect().map(_.getLong(0)).toSet
      val (k1, k2, k4) = (kept(1.0), kept(2.0), kept(4.0))
      Prop(k1.subsetOf(k2) && k2.subsetOf(k4)) :|
        s"T=1:$k1 T=2:$k2 T=4:$k4"
    }
  }

  property("statistics merge: any sharding, any merge order == monolithic") = {
    // the incremental-maintenance invariant generalized: random docs
    // split into 1..4 shards by a random assignment, statistics merged
    // in shard order AND reversed — every path must equal the weights of
    // the unsharded corpus (additivity + commutativity, checked end to
    // end through the hash/bucket pipeline).
    import spark.implicits._
    import graft.operators.Dsir
    val docsGen = Gen.listOfN(6,
      Gen.listOf(Gen.oneOf("a", "bb", "ccc", "dd"))
        .map(_.mkString(" ")))
    forAll(docsGen, Gen.listOfN(6, Gen.choose(0, 3))) { (texts, assign) =>
      val b = 32
      val rows = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val df = rows.toDF("doc_id", "text")
      val shards = (0 to 3).map { s =>
        val ids = rows.indices.filter(i => assign(i) == s).map(_.toLong).toSet
        Dsir.bucketCounts(Dsir.hashedFeatures(
          df.filter(col("doc_id").isin(ids.toSeq: _*)), b))
      }
      def weights(raw: org.apache.spark.sql.DataFrame) =
        Dsir.weightsFromCounts(
          Dsir.bucketCounts(Dsir.hashedFeatures(df.limit(0), b)), raw, b)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val fwd = weights(Dsir.mergeCounts(shards))
      val rev = weights(Dsir.mergeCounts(shards.reverse))
      val mono = weights(Dsir.bucketCounts(Dsir.hashedFeatures(df, b)))
      Prop(fwd == mono && rev == mono) :| s"fwd=$fwd mono=$mono"
    }
  }

  property("max-score doc always kept; keep rule matches exp formula") = {
    import spark.implicits._
    forAll(scoresGen) { rows =>
      val df = rows.toDF("doc_id", "score_micro")
      val out = graft.operators.Dsir.importanceResample(df, temperature = 2.0)
        .collect().map(r => (r.getLong(0), r.getLong(1),
          r.getAs[Long]("p_micro"), r.getAs[Long]("u_micro")))
      val maxDoc = rows.maxBy(r => (r._2, -r._1))._1
      val maxScore = rows.map(_._2).max
      val maxDocs = rows.filter(_._2 == maxScore).map(_._1).toSet
      val keptIds = out.map(_._1).toSet
      // every max-score doc has p_micro = 1e6 > u — always kept
      Prop(maxDocs.subsetOf(keptIds) &&
        out.forall { case (_, s, p, u) =>
          u < p && p == math.round(math.exp((s - maxScore) / 2e6) * 1e6)
        }) :| s"out=${out.toList} maxDocs=$maxDocs maxDoc=$maxDoc"
    }
  }

}

/** Invariants of the create-only pointer protocol (round 15): reads are
  * monotone and equal to the newest publish under any publish/prune
  * interleaving, and prune can never strand an artifact pointer-less. */
object FsPointerProps extends Properties("Fs.pointer") {

  property("publish/prune interleavings keep reads monotone and " +
           "equal to the newest publish; prune never strands") = {
    lazy val spark = TestSpark.spark
    // a random schedule: publish versions 0..n-1 in order, with an
    // arbitrary prunePointers(keepBelow) (any window, even absurd ones
    // past the newest version) optionally interleaved after each publish
    val planGen: Gen[(Int, List[(Long, Option[Long])])] = for {
      n <- Gen.choose(1, 8)
      prunes <- Gen.listOfN(n, Gen.option(Gen.choose(-2L, 12L)))
    } yield (n, (0 until n).toList.map(v => (v.toLong, prunes(v))))
    forAll(planGen) { case (n, steps) =>
      val dir = java.nio.file.Files
        .createTempDirectory("prop_ptr").toString
      steps.foreach { case (v, pruneAfter) =>
        graft.core.Fs.writePointer(spark, dir, v)
        // read-after-publish is exactly the newest version
        assert(graft.core.Fs.readPointer(spark, dir).contains(v))
        pruneAfter.foreach(k => graft.core.Fs.prunePointers(spark, dir, k))
        // prune (any window, even past the top) never strands the
        // artifact and never changes the resolved version
        assert(graft.core.Fs.readPointer(spark, dir).contains(v))
      }
      Prop(graft.core.Fs.readPointer(spark, dir).contains(n - 1L)) :|
        s"final pointer != ${n - 1}: ${graft.core.Fs.readPointer(spark, dir)}"
    }
  }
}
