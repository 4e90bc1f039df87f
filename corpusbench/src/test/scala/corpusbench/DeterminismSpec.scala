package corpusbench

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own determinism: one seed gives byte-identical inputs and
  * identical workload outputs, so runs of one seed are comparable across
  * commits. */
class DeterminismSpec extends AnyFunSuite {

  private def withTmp[A](f: Path => A): A = {
    val dir = Files.createTempDirectory("corpusbench-spec")
    try f(dir) finally Bench.deleteTree(dir)
  }

  test("the same seed writes byte-identical inputs; another seed does not") {
    def bytes(seed: Long): (Seq[Byte], Seq[Byte]) = withTmp { dir =>
      val (cat, txt) = Gen.corpus(seed, 300).write(dir)
      (Files.readAllBytes(cat).toSeq, Files.readAllBytes(txt).toSeq)
    }
    assert(bytes(7) == bytes(7))
    assert(bytes(7) != bytes(8))
  }

  test("generated words are letters only and planted facts are consistent") {
    val g = Gen.corpus(3, 400)
    assert(g.docs.forall(_.text.forall(ch => ch.isLetter || ch == ' ' || ch == '.')))
    assert(g.exactCopies.forall { case (o, k) => o < k && g.docs(o).text == g.docs(k).text })
    assert(g.nearCopies.forall { case (o, k) => o < k && g.docs(o).text != g.docs(k).text })
    val tokens = g.docs.map(d => "\\p{L}+".r.findAllIn(d.text).size)
    assert(tokens == g.docs.map(_.tokens))
    assert(g.contaminated.forall(k =>
      g.evalPassages.exists(p => g.docs(k).text.contains(p))))
  }

  test("the same seed gives the same workload output digests across runs") {
    withTmp(digestsAgree)
  }

  private def digestsAgree(work: Path): Unit = {
    val spark = Bench.session(work)
    try {
      for (name <- Workloads.Names) {
        val digests = (1 to 2).map { run =>
          val ctx = new Ctx(spark, new Tracer(spark.sparkContext),
            work.resolve(s"$name-$run"), 11)
          val w = Workloads(name, ctx, docs = 150)
          val in = w.prepare()
          w.pass(in)
          val failed = w.checks(in).filterNot(_._2)
          assert(failed.isEmpty, s"$name checks failed: $failed")
          w.digest
        }
        assert(digests.head == digests.last, name)
      }
    } finally spark.stop()
  }
}
