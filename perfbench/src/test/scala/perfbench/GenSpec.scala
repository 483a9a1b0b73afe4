package perfbench

import org.scalatest.funsuite.AnyFunSuite

import java.io.File
import java.nio.file.Files

class GenSpec extends AnyFunSuite {

  /** Stage every workload's inputs for `seed` into a fresh directory. */
  private def stageAll(seed: Long): File = {
    val dir = Files.createTempDirectory("perfbench-gen-").toFile
    Gen.writeLines(new File(dir, "lineitem.csv").toPath,
      Gen.lineItems(seed, 5000).iterator.map(Gen.lineItemCsv))
    val v = Gen.vectors(seed, 300, 16, 4, 20, 3, 10)
    Gen.writeLines(new File(dir, "corpus.jsonl").toPath, v.corpus.iterator.map(Gen.vecJson))
    Gen.writeLines(new File(dir, "queries.jsonl").toPath, v.queries.iterator.map(Gen.vecJson))
    Gen.writeLines(new File(dir, "appends.jsonl").toPath, v.appends.iterator.flatten.map(Gen.vecJson))
    Gen.writeLines(new File(dir, "docs.csv").toPath, Gen.corpus(seed, 200, 10).docs.iterator.map(Gen.docCsv))
    Gen.events(seed, Seq(100, 50, 50)).zipWithIndex.foreach { case (b, i) =>
      Gen.writeLines(new File(dir, s"events-$i.csv").toPath, b.iterator.map(Gen.eventCsv))
    }
    dir
  }

  private def hashOf(seed: Long): String = {
    val dir = stageAll(seed)
    try Gen.treeHash(dir) finally Main.deleteTree(dir)
  }

  test("the same seed gives byte-identical files") {
    assert(hashOf(7) == hashOf(7))
  }

  test("a different seed gives different files") {
    assert(hashOf(7) != hashOf(8))
  }

  test("every input kind depends on the seed") {
    assert(Gen.lineItems(1, 100).toSeq != Gen.lineItems(2, 100).toSeq)
    assert(Gen.vectors(1, 10, 4, 2, 2, 1, 2).corpus.map(_.v.toSeq).toSeq !=
      Gen.vectors(2, 10, 4, 2, 2, 1, 2).corpus.map(_.v.toSeq).toSeq)
    assert(Gen.corpus(1, 50, 5).docs.toSeq != Gen.corpus(2, 50, 5).docs.toSeq)
    assert(Gen.events(1, Seq(20)).head.toSeq != Gen.events(2, Seq(20)).head.toSeq)
  }

  test("planted duplicates are what the curate checks assume") {
    val c = Gen.corpus(3, 300, 12)
    val byId = c.docs.map(d => d.id -> d).toMap
    assert(c.exactPairs.size == 12 && c.nearPairs.size == 12)
    c.exactPairs.foreach { case (a, b) => assert(a < b && byId(a).text == byId(b).text) }
    c.nearPairs.foreach { case (a, b) =>
      val (x, y) = (byId(a).text.split(' '), byId(b).text.split(' '))
      assert(a < b && x.length == y.length && x.zip(y).count { case (p, q) => p != q } == 1)
    }
    val originals = (c.exactPairs ++ c.nearPairs).map(_._1)
    assert(originals.distinct.size == originals.size)
  }

  test("vector values sit on the 1/1024 grid, so their text parses back exactly") {
    val v = Gen.vectors(5, 50, 8, 3, 5, 1, 5)
    (v.corpus ++ v.queries).foreach(x => x.v.foreach(d => assert(d * 1024 == math.rint(d * 1024))))
  }
}
