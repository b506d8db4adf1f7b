package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkFunSuite

/** Fixed-length LM sequence packing (Chunking.fixedPack). */
class FixedPackSpec extends SparkFunSuite {

  private def docsOf(tokens: Seq[Int]) = {
    val s = spark
    import s.implicits._
    tokens.zipWithIndex.map { case (n, i) =>
      (i.toLong, Seq.fill(n)("tok").mkString(" "))
    }.toDF("doc_id", "text")
  }

  test("hand-computed packing: docs split across sequence cuts") {
    // token stream: doc0 [0,3), doc1 [3,7), doc2 [7,12); L=4 →
    // seq0 [0,4): docs 0,1; seq1 [4,8): docs 1,2; seq2 [8,12): doc 2
    val out = Chunking.fixedPack(docsOf(Seq(3, 4, 5)), "text", "doc_id",
        seqLen = 4, nShards = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq((0L, 2L, 4L), (1L, 2L, 4L), (2L, 1L, 4L)))
  }

  test("final partial sequence reports its true fill") {
    val out = Chunking.fixedPack(docsOf(Seq(5, 2)), "text", "doc_id",
        seqLen = 4, nShards = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // stream [0,7): seq0 [0,4) doc0; seq1 [4,8): docs 0,1, fill 3
    assert(out.toSeq == Seq((0L, 1L, 4L), (1L, 2L, 3L)))
  }

  test("result is independent of the shard count") {
    // empty input included: every shard count packs it to no sequences
    for (tokens <- Seq(Seq(3, 0, 7, 1, 4, 9, 2, 6, 5, 8), Seq.empty[Int])) {
      val docs = docsOf(tokens)
      val a = Chunking.fixedPack(docs, "text", "doc_id", seqLen = 8,
        nShards = 1).collect().toSeq
      val b = Chunking.fixedPack(docs.repartition(5), "text", "doc_id",
        seqLen = 8, nShards = 4).collect().toSeq
      assert(a == b && a.isEmpty == tokens.isEmpty)
    }
  }

  test("shard count scales past the old 64 ceiling: nShards=256 (the " +
      "filter-HOF shard path) matches nShards=1 and the auto default") {
    // 300 docs ⇒ ~255 distinct equi-count boundaries ⇒ the >128-boundary
    // HOF shard assignment is the code path under test
    val docs = docsOf((0 until 300).map(i => (i * 7919) % 23))
    val one = Chunking.fixedPack(docs, "text", "doc_id", seqLen = 16,
      nShards = 1).collect().toSeq
    val auto = Chunking.fixedPack(docs.repartition(7), "text", "doc_id",
      seqLen = 16).collect().toSeq
    val wide = Chunking.fixedPack(docs.repartition(3), "text", "doc_id",
      seqLen = 16, nShards = 256).collect().toSeq
    assert(auto == one && wide == one,
      "packing must be invariant to shard count")
    val spansWide = Chunking.fixedPackSpans(docs, "text", "doc_id",
      seqLen = 16, nShards = 256).collect().toSeq
    val spansOne = Chunking.fixedPackSpans(docs, "text", "doc_id",
      seqLen = 16, nShards = 1).collect().toSeq
    assert(spansWide == spansOne)
  }

  test("spans: tile every full sequence exactly, agree with fixedPack " +
      "totals, and carry consistent in-document offsets") {
    val docs = docsOf(Seq(5, 9, 3, 14, 2, 7, 1))
    val L = 8
    val spans = Chunking.fixedPackSpans(docs, "text", "doc_id", seqLen = L)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    val packs = Chunking.fixedPack(docs, "text", "doc_id", seqLen = L)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    // per-sequence: span token counts sum to fixedPack's n_tokens, span
    // count to n_docs; spans tile [0, fill) contiguously in doc order
    spans.groupBy(_._1).foreach { case (seq, ss) =>
      val (nDocs, nToks) = packs(seq)
      assert(ss.length == nDocs && ss.map(_._5).sum == nToks, s"seq $seq")
      val sorted = ss.sortBy(_._2)
      var cursor = 0L
      sorted.foreach { case (_, _, startInSeq, _, n) =>
        assert(startInSeq == cursor, s"seq $seq gap at $cursor")
        cursor += n
      }
    }
    // per-document: doc_off starts at 0 and advances by the span sizes
    spans.groupBy(_._2).foreach { case (doc, ss) =>
      val sorted = ss.sortBy(_._1)
      var off = 0L
      sorted.foreach { case (_, _, _, docOff, n) =>
        assert(docOff == off, s"doc $doc offset")
        off += n
      }
    }
  }

  test("token conservation: sequence fills sum to the corpus total") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val out = Chunking.fixedPack(docs, "text", "doc_id", seqLen = 512)
    val packed = out.agg(sum("n_tokens")).head().getLong(0)
    val total = docs.select(
        sum(size(graft.functions.TextFunctions.normTokens(col("text")))
          .cast("long")).as("t"))
      .head().getLong(0)
    assert(packed == total)
  }
}
