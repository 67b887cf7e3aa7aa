package graft

import graft.corpus.CorpusGen
import graft.index._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import scala.util.Random

/** r8 continuation pin: the sort-free postings run builder (accumRuns)
  * must produce exactly the rows the sorted-stream builder (buildRuns)
  * produces — same runs, same compressed bytes — and a build routed
  * through either path must commit identical segments. */
class AccumRunsSpec extends AnyFunSuite with SparkSessionFixture {

  private def rowKey(r: PostingRowPos): (String, Int) = (r.term, r.shard)

  private def assertSameRows(a: Seq[PostingRowPos], b: Seq[PostingRowPos]): Unit = {
    assert(a.map(rowKey) == b.map(rowKey), "run key sequences differ")
    a.zip(b).foreach { case (x, y) =>
      assert(x.df == y.df && x.bytes == y.bytes, s"df/bytes differ for ${rowKey(x)}")
      assert(x.blocks.length == y.blocks.length &&
        x.blocks.zip(y.blocks).forall { case (p, q) => p.sameElements(q) },
        s"blocks differ for ${rowKey(x)}")
      assert(x.skips == y.skips, s"skips differ for ${rowKey(x)}")
      assert(x.posBlocks.length == y.posBlocks.length &&
        x.posBlocks.zip(y.posBlocks).forall { case (p, q) => p.sameElements(q) },
        s"posBlocks differ for ${rowKey(x)}")
    }
  }

  test("accumRuns == buildRuns on randomized doc-major posting streams") {
    val rnd = new Random(88021L)
    (1 to 30).foreach { round =>
      val nDocs = 1 + rnd.nextInt(80)
      val shards = 1 + rnd.nextInt(3) // exercise multi-shard partitions too
      val vocab = (1 to (3 + rnd.nextInt(40))).map(i => s"t${i.toHexString}")
      val withPos = rnd.nextBoolean()
      // doc-major stream exactly like the analyze stage emits: docIds
      // ascending, terms sorted within a doc, positions pre-encoded
      val stream = (0 until nDocs).flatMap { d =>
        val docId = IndexBuilder.docIdFor(0, d % shards, (d / shards).toLong)
        val terms = rnd.shuffle(vocab).take(1 + rnd.nextInt(vocab.size)).sorted
        val dl = terms.length * 2
        terms.map { t =>
          val tf = 1 + rnd.nextInt(4)
          val ps = (0 until tf).scanLeft(rnd.nextInt(5))(
            (acc, _) => acc + 1 + rnd.nextInt(9)).tail.toArray
          TokenPosting(IndexBuilder.shardOf(docId), t, docId, tf, dl,
            if (withPos) Codec.encodePositions(Array(ps))
            else Array.emptyByteArray)
        }
      // docIds must ascend in arrival order for each key; group docs of
      // the same shard together in ascending local order as routing does
      }.sortBy(p => (p.shard, p.docId))
      val sortedForBuild = stream.sortBy(p => (p.term, p.shard, p.docId))
      val viaBuild = IndexBuilder.buildRuns(sortedForBuild.iterator).toSeq
      val viaAccum = IndexBuilder.accumRuns(stream.iterator).toSeq
      // buildRuns emits in (term, shard) order here because its input is
      // term-major sorted; accumRuns sorts its emission the same way
      assertSameRows(viaBuild, viaAccum)
    }
    // empty partition
    assert(IndexBuilder.accumRuns(Iterator.empty).isEmpty)
  }

  test("accumRuns rejects out-of-order docIds loudly") {
    val p1 = TokenPosting(0, "tok", 10L, 1, 2, Array.emptyByteArray)
    val p2 = TokenPosting(0, "tok", 5L, 1, 2, Array.emptyByteArray)
    val e = intercept[IllegalArgumentException] {
      IndexBuilder.accumRuns(Iterator(p1, p2)).toSeq
    }
    assert(e.getMessage.contains("ascending docIds"))
  }

  test("accumRuns hard-stops loudly past 4x the accumulation budget") {
    val saved = IndexBuilder.AccumMaxPostings
    try {
      IndexBuilder.AccumMaxPostings = 10L // hard cap 40
      val stream = (1 to 50).iterator.map(i =>
        TokenPosting(0, s"t$i", i.toLong, 1, 2, Array.emptyByteArray))
      val e = intercept[IllegalStateException] {
        IndexBuilder.accumRuns(stream).toSeq
      }
      // the remedy an operator can act on, not the private test seam
      assert(e.getMessage.contains("rebuild with more shards"))
      assert(!e.getMessage.contains("AccumMaxPostings"))
    } finally IndexBuilder.AccumMaxPostings = saved
  }

  test("builds routed through either path commit identical segments") {
    val work = Files.createTempDirectory(
      Paths.get("/root/repo/target"), "accum-e2e").toString
    val ds = CorpusGen.dataset(spark, 400L, 42L, 6)
    val saved = IndexBuilder.AccumMaxPostings
    try {
      IndexBuilder.AccumMaxPostings = Long.MaxValue // force accumRuns
      val a = IndexBuilder.build(spark, ds, s"$work/accum", numShards = 8)
      IndexBuilder.AccumMaxPostings = 0L // force the sorted path
      val b = IndexBuilder.build(spark, ds, s"$work/sorted", numShards = 8)
      assert(a.manifest.segments.head.metrics == b.manifest.segments.head.metrics)
      def postings(root: String, seg: String) = {
        spark.read.parquet(s"$root/$seg/postings")
          .selectExpr("shard", "term", "df", "bytes",
            "transform(blocks, b -> hex(b)) AS blocks",
            "skips",
            "transform(posBlocks, b -> hex(b)) AS posBlocks")
          .orderBy("term", "shard")
          .collect().toSeq
      }
      val pa = postings(s"$work/accum", a.manifest.segments.head.name)
      val pb = postings(s"$work/sorted", b.manifest.segments.head.name)
      assert(pa == pb, "stored postings differ between the two paths")
      def docmeta(root: String, seg: String) =
        spark.read.parquet(s"$root/$seg/docmeta").orderBy("docId").collect().toSeq
      assert(docmeta(s"$work/accum", a.manifest.segments.head.name) ==
        docmeta(s"$work/sorted", b.manifest.segments.head.name))
      // and the default budget routes the bench-scale build through accum
      IndexBuilder.AccumMaxPostings = saved
      val c = IndexBuilder.build(spark, ds, s"$work/default", numShards = 8)
      assert(postings(s"$work/default", c.manifest.segments.head.name) == pa)
    } finally IndexBuilder.AccumMaxPostings = saved
  }

  test("obsLong: null is the empty pass; a missing key or a non-number fails naming it") {
    assert(IndexBuilder.obsLong(Map("tokens" -> 7L), "tokens") == 7L)
    assert(IndexBuilder.obsLong(Map("maxDl" -> Integer.valueOf(3)), "maxDl") == 3L)
    assert(IndexBuilder.obsLong(Map("tokens" -> null), "tokens") == 0L)
    val missing = intercept[IllegalStateException] {
      IndexBuilder.obsLong(Map("maxDl" -> 3L), "tokens")
    }
    assert(missing.getMessage.contains("'tokens'"), missing.getMessage)
    val wrongType = intercept[IllegalStateException] {
      IndexBuilder.obsLong(Map("tokens" -> "12"), "tokens")
    }
    assert(wrongType.getMessage.contains("'tokens'"), wrongType.getMessage)
  }
}
