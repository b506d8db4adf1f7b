package graft.operators

import graft.config.Pin._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions => TF}

/** Context-window preparation for LLM training (no reference counterpart —
  * extension surface, SURVEY.md §8): sliding token-window chunking and
  * shard-parallel sequence packing.
  *
  * 100 TB design:
  *   - [[tokenWindows]] is a row-local explode — zero shuffle; a document
  *     expands to its own windows on the executor that read it, and the
  *     emitted rows carry fingerprints/offsets, not repeated text (the
  *     window text re-materializes downstream only where needed);
  *   - [[packSequences]] must order documents to pack them, and a single
  *     global running sum would serialize on one partition. Instead the
  *     corpus is hash-sharded (doc_id pmod nShards) and each shard packs
  *     independently — nShards-way parallel windows, each bounded by
  *     corpus/nShards. Pack identity is (shard, pack_in_shard): stable
  *     under any cluster size because the shard function and the in-shard
  *     order are both content-deterministic.
  */
object Chunking {

  /** Sliding windows of `window` normalized tokens every `stride` tokens
    * (stride < window ⇒ overlap). Last window of a document may be short;
    * documents with zero tokens emit nothing. Output: (doc_id, chunk_id,
    * start_tok, n_toks, chunk_fp) where chunk_fp is the portable
    * Karp-Rabin fingerprint of the space-joined window — chunk identity
    * without shipping chunk text. */
  def tokenWindows(docs: DataFrame, textCol: String, idCol: String,
      window: Int, stride: Int): DataFrame = {
    require(window > 0 && stride > 0, "window and stride must be positive")
    val starts = sequence(lit(0), size(col("toks")) - 1, lit(stride))
    docs
      .select(col(idCol).as("doc_id"), TF.normTokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"), col("toks"),
        posexplode(starts).as(Seq("chunk_id", "start_tok")))
      .select(col("doc_id"), col("chunk_id"), col("start_tok"),
        // slice is 1-based; window truncates at the document tail
        slice(col("toks"), col("start_tok") + 1, lit(window)).as("w"))
      .select(col("doc_id"), col("chunk_id"), col("start_tok"),
        size(col("w")).as("n_toks"),
        // the window is already normalized tokens — skip re-normalization
        TF.fingerprintPolyRaw(concat_ws(" ", col("w"))).as("chunk_fp"))
  }

  /** Greedy in-order sequence packing: within each of `nShards` hash
    * shards, documents (in doc_id order) are appended to a pack until the
    * running token count passes `budget`, then a new pack starts —
    * `pack_id = floor(cumulative_tokens_before_doc / budget)`. Documents
    * longer than `budget` consume packs proportionally (they'd be split by
    * [[tokenWindows]] upstream in a real pipeline). Output: (doc_id,
    * shard, n_toks, pack_id, offset_in_pack). */
  def packSequences(docs: DataFrame, textCol: String, idCol: String,
      budget: Int, nShards: Int): DataFrame = {
    require(budget > 0 && nShards > 0, "budget and nShards must be positive")
    val w = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow - 1)
    docs
      .select(col(idCol).as("doc_id"),
        pmod(col(idCol), lit(nShards)).as("shard"),
        size(TF.normTokens(col(textCol))).cast("long").as("n_toks"))
      .withColumn("tokens_before", coalesce(sum("n_toks").over(w), lit(0L)))
      .select(col("doc_id"), col("shard"), col("n_toks"),
        // exact integer division — no float rounding to keep portable
        expr(s"tokens_before DIV $budget").as("pack_id"),
        pmod(col("tokens_before"), lit(budget.toLong)).as("offset_in_pack"))
  }

  /** FIXED-LENGTH sequence packing (round 8) — the ".bin shard" export
    * shape of an LM pipeline: documents concatenate in doc-id order into
    * one global token stream, cut every `seqLen` tokens. Unlike
    * [[packSequences]] (which bins whole docs), a document here SPLITS
    * across cuts — standard LM packing, where attention masks own the
    * boundary. Output: one row per emitted sequence
    * `(seq_id, n_docs, n_tokens)` — n_docs = documents contributing,
    * n_tokens = seqLen everywhere except the final partial sequence.
    *
    * The global prefix sum is TWO-PHASE, never single-partition: ids
    * range-shard into contiguous ranges (Spark's sampled range
    * partitioning — the cuts only set task balance; the offset
    * arithmetic below is exact wherever they land), per-shard windows
    * compute local sums, and each shard's start offset is the sum of
    * earlier shard totals — an nShards-row collect broadcast back as a
    * literal array. At 100 TB that is one range exchange + one
    * shard-keyed window, no `Window.orderBy` over the world.
    * `nShards <= 0` (the default) auto-sizes to the session's shuffle
    * parallelism; any explicit value up to 4096 gives the same result
    * (sharding is parallelization, not semantics). */
  /** Default per-doc token counter: whitespace-normalized tokens. A
    * caller packing for a REAL tokenizer passes its own counter —
    * e.g. byte-level BPE subwords
    * (`TF.byteBpeStats(_).getField("n_subwords")`), which is what the
    * .bin shard's token budget actually means to the model. */
  def normTokenCount(text: Column): Column =
    size(TF.normTokens(text)).cast("long")

  def fixedPack(docs: DataFrame, textCol: String, idCol: String,
      seqLen: Int, nShards: Int = 0,
      tokenCount: Column => Column = normTokenCount): DataFrame = {
    val L = seqLen.toLong
    fixedPackSpanBase(docs, textCol, idCol, seqLen, nShards, tokenCount)
      .groupBy(col("seq_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(least(col("end"), (col("seq_id") + 1) * L) -
          greatest(col("start"), col("seq_id") * L)).as("n_tokens"))
      .orderBy(col("seq_id"))
  }

  /** Per-(sequence, document) SPAN export (round 9) — the loader-facing
    * half of [[fixedPack]]: where fixedPack reports per-sequence totals,
    * this emits the index an LM data loader actually consumes — for
    * every sequence, which documents contribute which token ranges:
    * `(seq_id, doc_id, start_in_seq, doc_off, n_toks)` with
    * `start_in_seq` the position inside the seqLen window, `doc_off`
    * the token offset inside the document, and spans of one sequence
    * tiling `[0, seqLen)` in doc-id order (the attention-mask /
    * boundary-loss bookkeeping falls out of this relation directly).
    *
    * Same scale shape as fixedPack — the identical two-phase sharded
    * prefix sum, then a row-local explode; the span arithmetic is pure
    * integer projection on the exploded rows. */
  def fixedPackSpans(docs: DataFrame, textCol: String, idCol: String,
      seqLen: Int, nShards: Int = 0,
      tokenCount: Column => Column = normTokenCount): DataFrame = {
    val L = seqLen.toLong
    fixedPackSpanBase(docs, textCol, idCol, seqLen, nShards, tokenCount)
      .select(col("seq_id"), col("id").as("doc_id"),
        (greatest(col("start"), col("seq_id") * L) - col("seq_id") * L)
          .as("start_in_seq"),
        (greatest(col("start"), col("seq_id") * L) - col("start"))
          .as("doc_off"),
        (least(col("end"), (col("seq_id") + 1) * L) -
          greatest(col("start"), col("seq_id") * L)).as("n_toks"))
      .orderBy(col("seq_id"), col("doc_id"))
  }

  /** Shared middle of the fixed-pack family: global token offsets via
    * the sharded prefix sum, exploded to one row per (doc, sequence it
    * touches). */
  private def fixedPackSpanBase(docs: DataFrame, textCol: String,
      idCol: String, seqLen: Int, nShards0: Int,
      tokenCount: Column => Column = normTokenCount): DataFrame = {
    require(seqLen > 0, "seqLen must be positive")
    // nShards ≤ 0 = auto: track the session's shuffle parallelism (the
    // same rule Layout.rangeBoundaries uses for its own shard count), so
    // the prefix-sum window stage widens with the cluster instead of the
    // pre-round-10 hard 64-way ceiling. The output is shard-INVARIANT
    // (sharding only parallelizes the one global doc-id-ordered stream),
    // so auto-sizing never changes results — pinned by FixedPackSpec.
    // the auto path CLAMPS to the 4096 cap (a 8192-partition session
    // must not make the default call throw); only an explicit
    // out-of-range request fails loudly
    val nShards =
      if (nShards0 > 0) {
        require(nShards0 <= 4096, s"nShards must be <= 4096, got $nShards0")
        nShards0
      } else math.min(4096, math.max(1, docs.sparkSession.conf
        .get("spark.sql.shuffle.partitions", "32").toInt))
    // (id, n) is consumed by several jobs (shard sample, shard totals,
    // the window pass) — materialize it once so an expensive token
    // counter (byte-BPE subwords) runs per doc, not per job; 16
    // bytes/doc, strictly cheaper than re-deriving even for the
    // whitespace default
    val base = docs.select(col(idCol).cast("long").as("id"),
      tokenCount(col(textCol)).cast("long").as("n"))
      .pin()
    // Shard rule (round 18, §1.2): the output is shard-INVARIANT (the
    // per-shard offsets below make the prefix sum exact wherever the
    // cuts land — FixedPackSpec pins invariance), so the cuts only set
    // task BALANCE. The exact equi-count quantile machinery
    // ([[Layout.equiCountBoundaries]]: histogram checkpoint + two
    // driver collects + a boundary window) was therefore pure overhead
    // here; Spark's own sampled range partitioning gives the same
    // contiguous, balanced id ranges in one exchange. The sharded
    // relation is PINNED because the totals collect and the window
    // pass are separate jobs — re-planning would resample different
    // cuts and misalign the offsets (and the sample reads the pinned
    // base, so the token counter still runs once). Measured:
    // corpus_pack_spans 16 → 10 jobs.
    val sharded =
      (if (nShards == 1) base.withColumn("shard", lit(0))
       else base.repartitionByRange(nShards, col("id"))
         .withColumn("shard", spark_partition_id()))
        .pin()
    val totals = sharded.groupBy(col("shard")).agg(sum(col("n")).as("t"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val offs = (0 until nShards)
      .scanLeft(0L)((acc, sh) => acc + totals.getOrElse(sh, 0L))
      .dropRight(1)
    val w = Window.partitionBy(col("shard")).orderBy(col("id"))
    val L = seqLen.toLong
    sharded
      .withColumn("end", sum(col("n")).over(w) +
        element_at(typedLit(offs), col("shard") + 1))
      .withColumn("start", col("end") - col("n"))
      .filter(col("n") > 0)
      .select(col("id"), col("start"), col("end"),
        explode(sequence(TF.intDivNonNeg(col("start"), lit(L)),
          TF.intDivNonNeg(col("end") - 1, lit(L)))).as("seq_id"))
  }

  /** SENTENCE-aligned chunking (round 7) — the RAG/pretraining chunk
    * shape: a document's sentences ([[TF.sentences]]) assemble into
    * chunks of ~`budgetChars`, never splitting inside a sentence. The
    * assignment rule is the same budget-quantized prefix sum as
    * [[packSequences]] (`chunk = chars_before DIV budget` within the
    * doc): exact integer arithmetic, order-deterministic, portable — a
    * greedy reset rule would need a per-doc fold that SQL engines don't
    * share. Chunks can overshoot the budget by at most one sentence,
    * the documented greedy-chunker tradeoff.
    *
    * Scale shape: one row-local sentence explode + ONE window keyed by
    * doc (the exchange carries (doc_id, sentence-length) rows, never
    * text twice) + a map-side-combinable regroup. Output one row per
    * chunk: (doc_id, chunk_id, n_sentences, chunk_chars, first_sentence,
    * offset sentences carried for the re-assembly join). */
  def sentenceChunks(docs: DataFrame, textCol: String, idCol: String,
      budgetChars: Int): DataFrame = {
    require(budgetChars > 0, "budgetChars must be positive")
    val w = Window.partitionBy("doc_id").orderBy("sent_idx")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow - 1)
    docs
      .select(col(idCol).as("doc_id"),
        posexplode(TF.sentences(col(textCol))).as(Seq("sent_idx", "sent")))
      .withColumn("n_chars", length(col("sent")).cast("long"))
      .withColumn("chars_before", coalesce(sum("n_chars").over(w), lit(0L)))
      .withColumn("chunk_id",
        expr(s"chars_before DIV $budgetChars"))
      .groupBy(col("doc_id"), col("chunk_id"))
      .agg(count(lit(1)).as("n_sentences"),
        sum(col("n_chars")).as("chunk_chars"),
        min(col("sent_idx")).cast("long").as("first_sent_idx"))
  }
}
