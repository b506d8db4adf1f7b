package graft.streaming

import graft.config.Pin._

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
  OutputMode, StreamingQuery}
import org.apache.spark.sql.types._

import graft.avro.{AvroTransform, SchemaProvider}
import graft.config.EngineConfig
import graft.functions.{TextFunctions => TF}
import graft.operators.{Dedup, Similarity}

/** Structured-Streaming wiring for the engine (SURVEY.md §7.1 M2).
  *
  * The reference runs as a per-record SMT inside a Kafka Connect worker
  * (`AvroTransform.java:118` — `apply(R r)`); its only state is the schema
  * LRU cache, which is a cache, not stream state (SURVEY.md §2.2). The
  * decode transform is therefore completely stateless and works UNCHANGED
  * on a streaming DataFrame — [[decodeStream]] is the same logical plan
  * over `readStream`. Prod source/sink are Kafka
  * (`spark.readStream.format("kafka")` / `writeStream.format("kafka")
  * .option("includeHeaders", ...)`); tests drive MemoryStream (offline
  * container, no broker — SURVEY.md §5).
  *
  * Beyond reference parity, the event-time operators the reference lacks:
  * watermarked tumbling-window aggregation and session-gap state
  * (`flatMapGroupsWithState`) — Spark's native replacements for what a
  * Kafka Streams user would hand-roll.
  */
object StreamingPipelines {

  /** The reference pipeline over any streaming (or batch) kafka-shaped
    * DataFrame. Stateless: checkpoint/exactly-once come from the sink. */
  def decodeStream(df: DataFrame, cfg: EngineConfig,
      provider: SchemaProvider): DataFrame =
    AvroTransform(df, cfg, provider)

  /** Typed fast path over a stream: the fixed-schema decode expression is
    * stateless, so it lifts to streaming unchanged — the streaming twin of
    * `AvroTransform.fromAvroFixed` (SURVEY.md §7.3). */
  def decodeTypedStream(df: DataFrame, schemaJson: String,
      expectedSchemaId: Int = -1, valueCol: String = "value"): DataFrame =
    df.withColumn("event",
      AvroTransform.fromAvroFixed(schemaJson, expectedSchemaId)(col(valueCol)))

  /** Streaming media triage — the streaming twin of
    * [[graft.operators.Multimodal.extractDecodeAudit]] (round 7): every
    * payload in a media-blob stream gets a (kind, ok, reason) verdict
    * row. STATELESS (the audit is a row-local codegen'd Catalyst
    * expression, [[graft.plans.MediaAudit]]), so it lifts to streaming
    * unchanged and composes with any sink split —
    * route `ok` to the decode fan-out, rejects to the quarantine topic,
    * and alert on reason-rate drift. This is the media ingest front
    * door a 100 TB multimodal pipeline runs continuously. */
  def mediaAuditStream(blobs: DataFrame, idCol: String,
      blobCol: String = "blob"): DataFrame =
    graft.operators.Multimodal.extractDecodeAudit(blobs, idCol, blobCol)
      .toDF()

  /** Streaming exact dedup on content digest with BOUNDED state:
    * `dropDuplicatesWithinWatermark` keeps a digest key only until the
    * watermark passes it, so state size tracks the dedup horizon (e.g.
    * "suppress duplicates arriving within 24h"), not the full stream
    * history — the property that keeps this running forever at 100 TB/day.
    * The digest (not the payload) is what enters the state store, same
    * 32-bytes-per-row shuffle contract as the batch `exactByHash`. */
  def dedupExactStream(docs: DataFrame, textCol: String, tsCol: String,
      horizon: String = "24 hours"): DataFrame =
    docs
      .withColumn("text_sha", sha2(col(textCol), 256))
      .withWatermark(tsCol, horizon)
      .dropDuplicatesWithinWatermark("text_sha")

  /** Streaming NEAR-duplicate pairs — the streaming twin of
    * [[graft.operators.Dedup.minhashNearDup]]: the same row-local
    * shingle → minhash → band-key projection, but candidate generation is
    * a watermarked stream-stream SELF-join on the band key instead of a
    * batch bucket join. The join condition is time-bounded in both
    * directions by `horizon`, so Spark expires band-key state as the
    * watermark advances — a document can only collide with documents that
    * arrived within ± horizon of it, and state stays proportional to one
    * horizon of traffic, never the stream history. Verification is exact
    * Jaccard, computed inline from the shingle sets carried next to the
    * band rows (the batch operator joins text back by id; mid-stream
    * there is no corpus to join back to, so the shingle sets ride through
    * the join state — the documented state-size tradeoff of streaming
    * dedup). Pairs that collide in several bands are collapsed by a
    * downstream `dropDuplicatesWithinWatermark` keyed on (a, b).
    *
    * Emits (a, b, ts_a, jaccard), a < b, jaccard ≥ threshold — append
    * mode, results final once the watermark passes. */
  def nearDupPairsStream(docs: DataFrame, textCol: String, idCol: String,
      tsCol: String, horizon: String = "24 hours", shingleK: Int = 3,
      numHashes: Int = 64, bands: Int = 16, threshold: Double = 0.8)
      : DataFrame = {
    val rows = numHashes / bands
    val sigs = docs.select(col(idCol).as("id"), col(tsCol).as("ts"),
      TF.wordShingleHashes(col(textCol), shingleK).as("shingles"))
    val withSig = sigs.select(col("id"), col("ts"), col("shingles"),
      TF.minhashSignature(col("shingles"), numHashes).as("sig"))
    val bandRows = withSig
      .select(col("id"), col("ts"), col("shingles"), col("sig"),
        explode(TF.minhashBandKeys(col("sig"), bands, rows)).as("bk"))
      .select(col("bk"), col("id"), col("ts"), col("shingles"))
    val l = bandRows
      .select(col("bk"), col("id").as("a"), col("ts").as("ts_a"),
        col("shingles").as("sh_a"))
      .withWatermark("ts_a", horizon)
    val r = bandRows
      .select(col("bk").as("bk_r"), col("id").as("b"),
        col("ts").as("ts_b"), col("shingles").as("sh_b"))
      .withWatermark("ts_b", horizon)
    l.join(r, expr(
        s"""bk = bk_r AND a < b AND
           |ts_b >= ts_a - INTERVAL $horizon AND
           |ts_b <= ts_a + INTERVAL $horizon""".stripMargin))
      .withColumn("jaccard", TF.jaccardSorted(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("a"), col("b"), col("ts_a"), col("jaccard"))
      .dropDuplicatesWithinWatermark("a", "b")
  }

  /** The one foreachBatch launcher: runs `body` on every micro-batch of
    * `df` in append mode. `checkpointLocation` must be DURABLE for
    * batchIds to stay stable across restarts (omitted → a temp
    * checkpoint, batchIds reset on restart). */
  private def startForeachBatch(df: DataFrame,
      checkpointLocation: Option[String])
      (body: (DataFrame, Long) => Unit): StreamingQuery = {
    val writer = df.writeStream.outputMode("append").foreachBatch(body)
    checkpointLocation.foreach(p => writer.option("checkpointLocation", p))
    writer.start()
  }

  /** A stream over the files matching `glob` that land in `dir`, each
    * micro-batch handed to `body` as its sorted new paths. The source
    * carries file METADATA ONLY: the binaryFile source prunes the
    * content read when only `path` is required, so the collect is
    * metadata-scale. */
  private def startNewFileBatches(spark: SparkSession, dir: String,
      glob: String, checkpointLocation: Option[String])
      (body: (SparkSession, Seq[String], Long) => Unit): StreamingQuery = {
    val meta = spark.readStream.format("binaryFile")
      .schema(StructType(Seq(StructField("path", StringType),
        StructField("modificationTime", TimestampType),
        StructField("length", LongType),
        StructField("content", BinaryType))))
      .option("pathGlobFilter", glob).load(dir)
      .select(col("path"))
    startForeachBatch(meta, checkpointLocation) { (batch, batchId) =>
      body(batch.sparkSession,
        batch.collect().map(_.getString(0)).toSeq.sorted, batchId)
    }
  }

  /** The one ledgered micro-batch step of the index-ingest loops, in
    * order:
    *  1. the [[IngestLedger]] guard: a replay of a fully-applied batch
    *     no-ops (its sink ran, the index absorbed it), and a batch that
    *     crashed after its manifest only finishes its moves and mark
    *     (its probe and sink ran — they precede staging);
    *  2. `result`: the loop's probe, or its schema-stable result for an
    *     index with no data yet (each loop's own rule);
    *  3. a pin, so the lazily-evaluated probe can never observe its own
    *     batch once the append lands;
    *  4. `sink`;
    *  5. `append`: the index's `appendTo*` with the stream's
    *     (queryId, batchId), handed the pinned result. */
  private def ledgeredBatch(spark: SparkSession, indexPath: String,
      queryId: String, batchId: Long, sink: (DataFrame, Long) => Unit)
      (result: => DataFrame)(append: DataFrame => Unit): Unit =
    if (!IngestLedger.alreadyApplied(spark, indexPath, queryId, batchId) &&
        !IngestLedger.resumePending(spark, indexPath, queryId, batchId)) {
      val out = result.pin()
      sink(out, batchId)
      append(out)
    }

  /** True iff `path` holds a data entry, not only the ledger's
    * `_`-prefixed bookkeeping. Checked through the path's Hadoop FS,
    * NOT java.io.File: the production index lives on hdfs:// or s3a://
    * URIs, where a local-file check is always false and would silently
    * disable every cross-batch suppression. */
  private def hasData(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.listStatus(p).exists { st =>
      val n = st.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }
  }

  /** Streaming INCREMENTAL INGEST — the streaming loop around
    * [[graft.operators.Dedup.incrementalNewByDigest]], i.e. the daily
    * delta-vs-corpus dedup run continuously: every micro-batch is deduped
    * against a PERSISTENT parquet digest index, genuinely-new docs go to
    * `sink`, and the batch's digests are appended to the index so later
    * batches (and later runs — the index outlives the query) see them.
    *
    * State lives in the INDEX, not the state store: re-crawl suppression
    * must span the whole corpus lifetime, which no watermark horizon can
    * bound — contrast [[dedupExactStream]], whose in-store digest state
    * expires with the watermark. foreachBatch gives the batch-exact
    * anti-join semantics plus transactional pacing: survivors are
    * materialized (localCheckpoint) BEFORE the index append, so the
    * lazily-evaluated anti-join can never observe its own batch's
    * digests.
    *
    * Exactly-once: foreachBatch is at-least-once on retries, so the
    * whole batch body is guarded by the index's [[IngestLedger]]
    * (queryId, batchId) high-water mark and the digest append goes
    * through [[IngestLedger.exactlyOnceAppend]]'s staged commit —
    * same contract as the near-dup and bucketed loops.
    * `sink` receives the batchId for its own idempotent writes. Needs
    * a DURABLE `checkpointLocation` for batchIds to stay stable
    * across restarts (omitted → temp checkpoint, batchIds reset on
    * restart; the INDEX-level suppression still holds either way). */
  def ingestNewStream(docs: DataFrame, textCol: String, idCol: String,
      indexPath: String, checkpointLocation: Option[String] = None)
      (sink: (DataFrame, Long) => Unit): StreamingQuery =
    startForeachBatch(docs, checkpointLocation) { (batch, batchId) =>
      newIngestBatch(batch, batchId,
        IngestLedger.currentQueryId(batch.sparkSession),
        indexPath, textCol, idCol)(sink)
    }

  /** STREAMING COMMON CRAWL INGEST (round 15, split-fan-out round 16)
    * — the capstone pipeline as a continuous loop over a GROWING
    * directory of `.warc.zst` archives (what a crawler drops); every
    * micro-batch runs the full text hop — WARC record walk → HTTP
    * status/header parse → de-chunk → gunzip/inflate → charset →
    * html strip → word-count quality gate — then the ledgered
    * exact-dedup ingest ([[newIngestBatch]]: probe the persistent
    * digest index, genuinely-new pages to `sink`, digests absorbed
    * through the staged exactly-once commit). Document identity is
    * the WARC-Target-URI. Same replay contract as every ledgered
    * loop; needs a DURABLE `checkpointLocation`.
    *
    * The stream source carries file METADATA ONLY
    * ([[startNewFileBatches]]), and each micro-batch plans the SAME
    * split read the batch capstone uses
    * ([[graft.sources.ZstdSeekable.readArchives]]):
    * a seekable archive fans into ceil(frames/k) positioned-range
    * tasks, so a 100 GB crawl segment decodes across the cluster.
    * Round 15 shipped this loop reading whole blobs as single binary
    * rows — one task and one ≤2 GiB JVM array per archive; that
    * ceiling is gone. */
  def ingestCcArchiveStream(spark: SparkSession,
      archiveDir: String, indexPath: String, minWords: Int = 20,
      checkpointLocation: Option[String] = None,
      framesPerSplit: Int = 16)
      (sink: (DataFrame, Long) => Unit): StreamingQuery =
    startNewFileBatches(spark, archiveDir, "*.warc.zst",
        checkpointLocation) { (s, paths, batchId) =>
      ccArchivePathsBatch(s, paths, batchId, IngestLedger.currentQueryId(s),
        indexPath, minWords, framesPerSplit)(sink)
    }

  /** One micro-batch of [[ingestCcArchiveStream]] over archive PATHS
    * — plans the seekable split read, then the shared decode/dedup
    * body ([[ccArchiveBatch]]). Public for the identity/replay
    * specs. */
  def ccArchivePathsBatch(spark: SparkSession,
      paths: Seq[String], batchId: Long, queryId: String,
      indexPath: String, minWords: Int, framesPerSplit: Int = 16)
      (sink: (DataFrame, Long) => Unit): Unit = {
    val frames = graft.sources.ZstdSeekable
      .readArchives(spark, paths, framesPerSplit)
      .select(col("blob"))
    ccArchiveBatch(frames, batchId, queryId, indexPath, minWords)(sink)
  }

  /** STREAMING PDF INGEST (round 16) — the paper/book corpus loop:
    * a GROWING directory of `.pdf` files, metadata-only stream source
    * (the CC loop's pruning discipline), each micro-batch reading the
    * new files EXECUTOR-side (one task per file — a PDF is a single
    * document, the natural unit; unlike archives there is nothing to
    * split), extracting page text through [[graft.operators.PdfText]],
    * assembling pages in order, gating on word count, and feeding the
    * ledgered exact-dedup ingest keyed on the file path. Same replay
    * contract as every ledgered loop. */
  def ingestPdfStream(spark: SparkSession,
      pdfDir: String, indexPath: String, minWords: Int = 20,
      checkpointLocation: Option[String] = None)
      (sink: (DataFrame, Long) => Unit): StreamingQuery =
    startNewFileBatches(spark, pdfDir, "*.pdf", checkpointLocation) {
      (s, paths, batchId) =>
        pdfIngestBatch(s, paths, batchId, IngestLedger.currentQueryId(s),
          indexPath, minWords)(sink)
    }

  /** One micro-batch of [[ingestPdfStream]] — public for the
    * identity/replay specs. */
  def pdfIngestBatch(spark: SparkSession,
      paths: Seq[String], batchId: Long, queryId: String,
      indexPath: String, minWords: Int)
      (sink: (DataFrame, Long) => Unit): Unit = {
    import org.apache.spark.sql.Row
    val schema = StructType(Seq(
      StructField("path", StringType, nullable = false),
      StructField("blob", BinaryType, nullable = false)))
    val rows =
      if (paths.isEmpty) spark.sparkContext.emptyRDD[Row]
      else spark.sparkContext.parallelize(paths, paths.size)
        .map { p =>
          val hp = new org.apache.hadoop.fs.Path(p)
          val fs = hp.getFileSystem(
            new org.apache.hadoop.conf.Configuration())
          val len = fs.getFileStatus(hp).getLen
          require(len <= Int.MaxValue - 16,
            s"$p: $len B exceeds the single-document byte-array " +
              "ceiling")
          val buf = new Array[Byte](len.toInt)
          val in = fs.open(hp)
          try in.readFully(0L, buf) finally in.close()
          Row(p, buf)
        }
    val blobs = spark.createDataFrame(rows, schema)
    val docs = blobs
      .select(col("path"), explode(graft.plans.MediaExprs
        .pdfPagesCol(col("blob"))).as("pg"))
      .filter(col("pg.text").isNotNull)
      .groupBy(col("path"))
      .agg(sort_array(collect_list(
        struct(col("pg.page_idx").as("i"), col("pg.text").as("t"))))
        .as("pgs"))
      .select(col("path"),
        concat_ws("\n", transform(col("pgs"), p => p.getField("t")))
          .as("text"))
      .filter(size(split(col("text"), "[\\s]+")) >= minWords)
    newIngestBatch(docs, batchId, queryId, indexPath, "text", "path")(
      sink)
  }

  /** One micro-batch of [[ingestCcArchiveStream]]'s decode/dedup body
    * — public for the replay spec. `batch` carries archive blobs (or
    * independently-decodable frame-group blobs from the split read)
    * in `blob`. */
  def ccArchiveBatch(batch: DataFrame, batchId: Long, queryId: String,
      indexPath: String, minWords: Int)
      (sink: (DataFrame, Long) => Unit): Unit = {
    val pages = batch
      .select(explode(graft.plans.MediaExprs
        .warcZstHttpBodiesCol(col("blob"))).as("r"))
      .select(col("r.target_uri").as("uri"),
        TF.stripMarkup(col("r.body_text")).as("clean"))
      .filter(col("clean").isNotNull &&
        size(split(col("clean"), " ")) >= minWords)
    newIngestBatch(pages, batchId, queryId, indexPath, "clean", "uri")(
      sink)
  }

  /** One micro-batch of [[ingestNewStream]] — public so the
    * replay-idempotence spec can apply the SAME (queryId, batchId)
    * twice and pin byte-identical index contents. With no index data
    * yet, the probe runs against an empty digest relation. */
  def newIngestBatch(batch: DataFrame, batchId: Long, queryId: String,
      indexPath: String, textCol: String, idCol: String)
      (sink: (DataFrame, Long) => Unit): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    ledgeredBatch(spark, indexPath, queryId, batchId, sink) {
      val index =
        if (hasData(spark, indexPath)) spark.read.parquet(indexPath)
        else Seq.empty[String].toDF("text_sha")
      Dedup.incrementalNewByDigest(index, batch, textCol, idCol)
    } { fresh =>
      IngestLedger.exactlyOnceAppend(spark, indexPath, queryId, batchId) {
        root => fresh.select(col("text_sha"))
          .write.mode("overwrite").parquet(root)
      }
    }
  }

  /** One micro-batch of the streaming archive export
    * ([[exportWarcZstStream]]), exposed for direct idempotency
    * testing: write the batch's seekable `.warc.zst` shards into a
    * STAGING directory, then atomically rename to the per-batch
    * target. foreachBatch is at-least-once on retries — a replayed
    * batch whose target already exists no-ops entirely, and a lost
    * rename race cleans its own staging; either way exactly one
    * committed `batch-NNNNNN` directory per batch id. */
  def exportWarcZstBatch(batch: DataFrame, batchId: Long,
      outPath: String, dict: Array[Byte] = null,
      idCol: String = "doc_id", textCol: String = "text"): Boolean = {
    val spark = batch.sparkSession
    val target = new org.apache.hadoop.fs.Path(outPath,
      f"batch-$batchId%06d")
    val fs = target.getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    if (fs.exists(target)) return false // replay of a committed batch
    val stage = new org.apache.hadoop.fs.Path(outPath,
      f".stage-$batchId%06d-${java.util.UUID.randomUUID()}")
    graft.sources.ZstdSeekable.writeWarcZstShards(batch,
      stage.toString, idCol = idCol, textCol = textCol, dict = dict)
    if (!fs.exists(stage)) { // empty batch wrote nothing: mark done
      fs.mkdirs(target)
      return true
    }
    if (fs.rename(stage, target)) true
    else { fs.delete(stage, true); false } // lost the commit race
  }

  /** Streaming corpus → Common-Crawl-shaped archive: every micro-batch
    * lands as its own seekable (optionally dictionary-compressed)
    * `.warc.zst` shard directory, staged-committed for idempotent
    * replays. Downstream fan-out is the same seekable split read as
    * the batch sink — a continuously-growing crawl archive whose
    * every shard is independently random-accessible. Needs a DURABLE
    * `checkpointLocation` for batch ids to stay stable across
    * restarts. */
  def exportWarcZstStream(docs: DataFrame, outPath: String,
      checkpointLocation: Option[String] = None,
      dict: Array[Byte] = null): StreamingQuery =
    startForeachBatch(docs, checkpointLocation) { (batch, batchId) =>
      exportWarcZstBatch(batch, batchId, outPath, dict); ()
    }

  /** Streaming incremental NEAR-dup ingest — the near-dup twin of
    * [[ingestNewStream]], looped around
    * [[graft.operators.Dedup.lshProbeNearDup]]: every micro-batch probes
    * the PERSISTENT written LSH band index for near-duplicate
    * `(a = corpus id, b = batch id, jaccard)` pairs, hands them to
    * `sink`, and appends its own band keys + shingle sets so later
    * batches (and later runs) see them.
    *
    * Same state rationale as the digest loop: near-dup suppression must
    * span the corpus lifetime, which no watermark horizon can bound —
    * contrast [[nearDupPairsStream]], whose self-join state expires with
    * the watermark. Within-batch near-dups are NOT emitted (the probe is
    * batch-vs-index only); run the batch operator inside `sink` if batch
    * internal pairs matter. Pairs are materialized (localCheckpoint)
    * BEFORE the index append so the lazily-evaluated probe can never see
    * its own batch.
    *
    * Exactly-once: foreachBatch is at-least-once on retries, so the
    * whole batch body is guarded by the index's [[IngestLedger]]
    * (queryId, batchId) high-water mark, and the append
    * ([[graft.operators.Dedup.appendToLshIndex]]) is a STAGED COMMIT
    * ([[IngestLedger.exactlyOnceAppend]]: stage → manifest → resumable
    * per-file moves → mark), so even a crash inside the append cannot
    * double-apply. A replayed batch whose append already committed
    * no-ops entirely: re-probing would now see the batch's OWN rows in
    * the index (self-pairs the first run never emitted), and `sink`
    * already ran (it is sequenced strictly before the append). Needs a
    * DURABLE `checkpointLocation` for batchIds to stay stable across
    * restarts. */
  def ingestNearDupStream(docs: DataFrame, textCol: String, idCol: String,
      indexPath: String, threshold: Double = 0.8, shingleK: Int = 3,
      numHashes: Int = 64, bands: Int = 16,
      checkpointLocation: Option[String] = None)
      (sink: (DataFrame, Long) => Unit): StreamingQuery =
    startForeachBatch(docs, checkpointLocation) { (batch, batchId) =>
      nearDupIngestBatch(batch, batchId,
        IngestLedger.currentQueryId(batch.sparkSession),
        indexPath, textCol, idCol, threshold, shingleK, numHashes,
        bands)(sink)
    }

  /** One micro-batch of [[ingestNearDupStream]] — public so the
    * replay-idempotence spec can apply the SAME (queryId, batchId) twice
    * and pin byte-identical index contents and probe results. With no
    * band relation yet, the sink gets an empty pair frame. */
  def nearDupIngestBatch(batch: DataFrame, batchId: Long, queryId: String,
      indexPath: String, textCol: String, idCol: String,
      threshold: Double, shingleK: Int, numHashes: Int, bands: Int)
      (sink: (DataFrame, Long) => Unit): Unit = {
    val index = Dedup.LshIndex(indexPath, shingleK, numHashes, bands)
    ledgeredBatch(batch.sparkSession, indexPath, queryId, batchId, sink) {
      if (hasData(batch.sparkSession, s"$indexPath/bands"))
        Dedup.lshProbeNearDup(index, batch, textCol, idCol, threshold)
      else Dedup.emptyPairs(batch, idCol)
    }(_ => Dedup.appendToLshIndex(index, batch, textCol, idCol, queryId,
      batchId))
  }

  /** [[ingestNearDupStream]] over a BUCKETED index (round 12) — the
    * daily-ingest loop finally gets BOTH halves of the 100 TB story:
    * partition-pruned probes ([[graft.operators.Dedup
    * .lshProbeNearDupBucketed]]) AND bucket-aligned incremental
    * appends ([[graft.operators.Dedup.appendToLshIndexBucketed]]
    * through the ledger's staged commit), where round 11 forced a choice
    * between pruned probes (bucketed, rebuild-to-refresh) and
    * incremental appends (flat, corpus-scan probes). Same exactly-once
    * contract as the flat loop; compact per-batch bucket files with
    * [[graft.operators.Dedup.compactLshIndexBucketed]] on a cadence. */
  def ingestNearDupStreamBucketed(docs: DataFrame, textCol: String,
      idCol: String, indexPath: String, threshold: Double = 0.8,
      shingleK: Int = 3, numHashes: Int = 64, bands: Int = 16,
      nBuckets: Int = 64, checkpointLocation: Option[String] = None)
      (sink: (DataFrame, Long) => Unit): StreamingQuery =
    startForeachBatch(docs, checkpointLocation) { (batch, batchId) =>
      bucketedNearDupIngestBatch(batch, batchId,
        IngestLedger.currentQueryId(batch.sparkSession),
        indexPath, textCol, idCol, threshold, shingleK, numHashes,
        bands, nBuckets)(sink)
    }

  /** One micro-batch of [[ingestNearDupStreamBucketed]] — public for
    * the replay/parity specs (the [[nearDupIngestBatch]] pattern). */
  def bucketedNearDupIngestBatch(batch: DataFrame, batchId: Long,
      queryId: String, indexPath: String, textCol: String, idCol: String,
      threshold: Double, shingleK: Int, numHashes: Int, bands: Int,
      nBuckets: Int)(sink: (DataFrame, Long) => Unit): Unit = {
    val index = Dedup.LshIndexBucketed(indexPath, shingleK, numHashes,
      bands, nBuckets)
    ledgeredBatch(batch.sparkSession, indexPath, queryId, batchId, sink) {
      if (hasData(batch.sparkSession, s"$indexPath/bands"))
        Dedup.lshProbeNearDupBucketed(index, batch, textCol, idCol,
          threshold)
      else Dedup.emptyPairs(batch, idCol)
    }(_ => Dedup.appendToLshIndexBucketed(index, batch, textCol, idCol,
      queryId, batchId))
  }

  /** [[ingestNewStream]] over a BUCKETED digest index — pruned
    * anti-join probes + bucket-aligned appends, ledger-guarded like
    * the flat loop. The append stages the BATCH's digests (not just the
    * fresh survivors): duplicate digests are benign for the anti-join —
    * any match suppresses — and keeping the stage a pure function of
    * the batch keeps replays trivially idempotent. */
  def ingestNewStreamBucketed(docs: DataFrame, textCol: String,
      idCol: String, indexPath: String, nBuckets: Int = 256,
      checkpointLocation: Option[String] = None)
      (sink: (DataFrame, Long) => Unit): StreamingQuery =
    startForeachBatch(docs, checkpointLocation) { (batch, batchId) =>
      bucketedNewIngestBatch(batch, batchId,
        IngestLedger.currentQueryId(batch.sparkSession),
        indexPath, textCol, idCol, nBuckets)(sink)
    }

  /** One micro-batch of [[ingestNewStreamBucketed]] — public for the
    * replay/parity specs. With no bucket data yet, every distinct
    * digest of the batch survives. */
  def bucketedNewIngestBatch(batch: DataFrame, batchId: Long,
      queryId: String, indexPath: String, textCol: String, idCol: String,
      nBuckets: Int)(sink: (DataFrame, Long) => Unit): Unit = {
    val index = Dedup.DigestIndexBucketed(indexPath, nBuckets)
    ledgeredBatch(batch.sparkSession, indexPath, queryId, batchId, sink) {
      if (hasData(batch.sparkSession, indexPath))
        Dedup.incrementalNewBucketed(index, batch, textCol, idCol)
      else Dedup.exactByHash(batch, textCol, idCol)
    }(_ => Dedup.appendToDigestIndexBucketed(index, batch, textCol,
      queryId, batchId))
  }

  /** Streaming IVF-PQ INGEST — the ANN-serving loop around
    * [[graft.operators.Similarity.appendToIvfPqIndex]], mirroring
    * [[ingestNearDupStream]]'s probe-then-append discipline: every
    * micro-batch of vectors is FIRST probed against the persistent
    * written IVF-PQ index (`(query_id, rank, neighbor_id, cosine)` top-k
    * rows to `sink` — the "alert on similar existing items before
    * admitting" ingest shape), then absorbed: cells and residual codes
    * assigned row-locally with the index's OWN frozen centroids and
    * codebooks, append-written into the cell partitions. Later batches
    * (and later runs — the index outlives the query) probe against
    * everything admitted before them; results are spec-pinned identical
    * to the batch build→append→probe composition (`sim_ivf_append_probe`
    * twin). Probe results materialize (localCheckpoint) BEFORE the
    * append, so a batch can never match itself.
    *
    * Index state spans the corpus lifetime (no watermark horizon can
    * bound ANN membership) — the [[ingestNewStream]] rationale. Replays
    * are guarded by the index's [[IngestLedger]] (queryId, batchId)
    * high-water mark (the [[nearDupIngestBatch]] discipline): a replayed
    * fully-applied batch no-ops instead of appending its vectors a
    * second time (a duplicated vector could otherwise occupy two of the
    * k slots in every later top-k). Re-train
    * ([[graft.operators.Similarity.buildIvfPqIndex]]) when centroid
    * drift warrants. At deployment scale each trigger reads
    * `nprobe/nlist` of the CODES column for the coarse pass and appends
    * one batch of coded rows — no rewrite, no corpus shuffle. */
  def ingestIvfPqStream(vectors: DataFrame,
      index: Similarity.IvfPqIndex, k: Int = 5,
      nprobe: Int = 4, overfetch: Int = 4, vecCol: String = "embedding",
      idCol: String = "vec_id", checkpointLocation: Option[String] = None)
      (sink: (DataFrame, Long) => Unit): StreamingQuery =
    startForeachBatch(vectors, checkpointLocation) { (batch, batchId) =>
      ivfPqIngestBatch(batch, batchId,
        IngestLedger.currentQueryId(batch.sparkSession),
        index, k, nprobe, overfetch, vecCol, idCol)(sink)
    }

  /** One micro-batch of [[ingestIvfPqStream]] — public so the
    * replay-idempotence spec can apply the SAME (queryId, batchId) twice
    * and pin byte-identical index contents and probe results. An EMPTY
    * batch skips the probe: the sink gets the empty batch projected to
    * the hit schema, and its (empty) append still advances the mark, so
    * its replay no-ops too. */
  def ivfPqIngestBatch(batch: DataFrame, batchId: Long, queryId: String,
      index: Similarity.IvfPqIndex, k: Int, nprobe: Int,
      overfetch: Int, vecCol: String, idCol: String)
      (sink: (DataFrame, Long) => Unit): Unit =
    ledgeredBatch(batch.sparkSession, index.path, queryId, batchId, sink) {
      if (batch.isEmpty)
        batch.select(col(idCol).as("query_id"), lit(1).as("rank"),
          col(idCol).as("neighbor_id"), lit(null).cast(DoubleType)
            .as("cosine"))
      else Similarity.ivfPqTopKIndexed(index, batch, k, nprobe, overfetch,
        vecCol, idCol)
    }(_ => Similarity.appendToIvfPqIndex(index, batch, vecCol, idCol,
      queryId, batchId))

  /** Stream-stream INTERVAL join — the streaming twin of
    * `operators.RangeJoin`: each trigger event joins to the follow events
    * of the same user within `[trigger_ts, trigger_ts + window)`. Both
    * sides carry watermarks and the join condition is time-bounded in both
    * directions, so Spark can expire join state as the watermark advances
    * — constant state for unbounded streams (an unbounded-time stream join
    * would buffer forever). Output columns:
    * (trigger_id, event_id, user_id). */
  /** Resolve a LEGACY (pre-round-10, monolithic) snapshot directory
    * under `snapshotPath`: follow the `_latest` pointer file if it names
    * an existing `v*` dir, else (pointer missing or dangling — i.e. a
    * crash between version write and pointer flip) fall back to the
    * NEWEST COMPLETE `v*` dir (one carrying Spark's `_SUCCESS` commit
    * marker — a version that crashed mid-write must read as absent, not
    * as a partial corpus), else the pre-round-7 `current/` layout, else
    * None. Since round 10 the live protocol is the incremental
    * [[BucketedSnapshotStore]]; this resolver remains as its MIGRATION
    * fallback, so upgrading an existing deployment folds its old corpus
    * into the bucketed store instead of silently restarting from
    * empty. */
  def resolveCdcSnapshot(spark: org.apache.spark.sql.SparkSession,
      snapshotPath: String): Option[org.apache.hadoop.fs.Path] = {
    val base = new org.apache.hadoop.fs.Path(snapshotPath)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def complete(p: org.apache.hadoop.fs.Path): Boolean =
      fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS"))
    val ptr = new org.apache.hadoop.fs.Path(base, "_latest")
    val fromPtr =
      if (!fs.exists(ptr)) None
      else {
        val in = fs.open(ptr)
        val name =
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
          finally in.close()
        Some(new org.apache.hadoop.fs.Path(base, name))
          .filter(p => fs.exists(p) && complete(p))
      }
    fromPtr.orElse {
      if (!fs.exists(base)) None
      else fs.listStatus(base).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.matches("v\\d+") &&
          complete(s.getPath))
        .sortBy(_.getPath.getName.drop(1).toLong)
        .lastOption.map(_.getPath)
        .orElse {
          val legacy = new org.apache.hadoop.fs.Path(base, "current")
          Some(legacy).filter(fs.exists)
        }
    }
  }

  /** Streaming CDC maintenance — the streaming twin of
    * [[graft.operators.Cdc.mergeCdc]]: each micro-batch of CDC rows
    * (key, payload, version, deleted) is merged into the PERSISTENT
    * snapshot at `snapshotPath`.
    *
    * Publish is INCREMENTAL (round-10: the round-9 protocol rewrote the
    * full snapshot every micro-batch — O(state) write amplification a
    * 100 TB corpus cannot afford): the snapshot lives in a
    * [[BucketedSnapshotStore]] hash-bucketed on the key column, and each
    * batch merges `mergeCdc` ONLY over the buckets its delta touches —
    * bytes written per trigger ∝ delta, not state. The store keeps the
    * round-6 crash-safety story (immutable versioned artifacts, atomic
    * pointer flip, complete-state recovery at every crash point) and adds
    * a (queryId, batchId) transaction token, so a checkpointed replay
    * publishes exactly once.
    *
    * `sink` receives the PUBLISHED snapshot (a lazy frame over the live
    * bucket leaves) per batch — on a replayed batch it therefore observes
    * the same exactly-once state a reader would, not a recomputed merge
    * (round-9 advice: the recomputed merge could double-apply a replayed
    * delta in non-idempotent consumers). Sink contract: CONSUME WITHIN
    * THE BATCH (the standard foreachBatch discipline) — the frame reads
    * concrete leaf files, and retention keeps only the 2 newest
    * manifests' leaves, so a frame retained and materialized ≥ 2 batches
    * later can hit pruned paths. (The round-9 protocol eagerly
    * localCheckpoint'ed the full merge, which an O(delta) publish must
    * not do — materializing O(state) per trigger is exactly the cost
    * this store removes.)
    *
    * Same unbounded-state rationale as [[ingestNewStream]]: upsert
    * semantics span the corpus lifetime, which no watermark horizon can
    * bound, so the state lives in storage (the snapshot itself), not in
    * the streaming state store. At-least-once delivery makes duplicate
    * (key, version) rows WITHIN a batch normal, so the batch is
    * deduplicated on (key, version) before the merge — otherwise both
    * copies tie on the packed ordering and the snapshot silently keeps
    * duplicate keys (round-6 advice). Duplicates with DIFFERING payloads
    * for the same (key, version) violate the CDC contract
    * ([[graft.operators.Cdc.mergeCdc]] requires unique pairs); the dedup
    * keeps one of them arbitrarily rather than corrupting the snapshot
    * with both. */
  def mergeCdcStream(cdc: DataFrame, keyCol: String, versionCol: String,
      deletedCol: String, snapshotPath: String,
      checkpointLocation: Option[String] = None, nBuckets: Int = 64)
      (sink: (DataFrame, Long) => Unit): StreamingQuery =
    startForeachBatch(cdc, checkpointLocation) { (batch, batchId) =>
      val spark = batch.sparkSession
      val delta = batch.dropDuplicates(Seq(keyCol, versionCol))
      BucketedSnapshotStore.publish(spark, snapshotPath, batchId,
          delta, Seq(keyCol), nBuckets) { (current, d) =>
        graft.operators.Cdc
          .mergeCdc(current, d, keyCol, versionCol, deletedCol)
      }
      sink(BucketedSnapshotStore.read(spark, snapshotPath)
        .getOrElse(batch.filter(lit(false))), batchId)
    }

  def followWithin(events: DataFrame, triggerType: String = "purchase",
      window_ : String = "1 hour", lateness: String = "10 minutes")
      : DataFrame = {
    val follows = events
      .select(col("user_id"), col("event_id"), col("ts"))
      .withWatermark("ts", lateness)
    val triggers = events
      .filter(col("event_type") === triggerType)
      .select(col("user_id").as("t_user"), col("event_id").as("trigger_id"),
        col("ts").as("t_ts"))
      .withWatermark("t_ts", lateness)
    follows.join(triggers,
        expr(s"user_id = t_user AND ts >= t_ts AND " +
          s"ts < t_ts + INTERVAL $window_ AND event_id <> trigger_id"))
      .select(col("trigger_id"), col("event_id"), col("user_id"))
  }

  /** Watermarked tumbling-window counts/sums per event_type over a decoded
    * event stream with columns (ts: timestamp, event_type, value). Late
    * data beyond `lateness` is dropped; state is bounded by
    * watermark ✕ window count, so this runs forever at constant memory. */
  def windowedAgg(events: DataFrame, window_ : String = "1 hour",
      lateness: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast("decimal(18,2)")).cast("double")
          .as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("cnt"), col("total_value"))

  /** TRENDING TERMS: a watermarked tumbling-window Misra-Gries sketch
    * over a document stream — the bounded-memory "what is frequent right
    * now" analytics a crawl monitor runs. The mergeable sketch is
    * exactly what an incremental streaming aggregate needs: each
    * micro-batch folds into the window's stored buffer (the same
    * serialize/merge path the batch aggregate uses map-side), so state
    * per window is ≤ sketchK counters regardless of stream volume, and
    * the watermark expires whole windows. Every term with in-window
    * frequency > n/(sketchK+1) is guaranteed present (run the exact
    * batch re-count over the emitted window if exact counts matter —
    * [[graft.operators.HeavyHitters.heavyTokens]] on the window's
    * documents).
    *
    * Input columns: (`ts` timestamp, `textCol`). Output per closed
    * window: (window_start, n_tokens, candidates array<string>). */
  def trendingTermsStream(docs: DataFrame, textCol: String,
      window_ : String = "10 minutes", lateness: String = "10 minutes",
      sketchK: Int = 64): DataFrame =
    docs
      .withWatermark("ts", lateness)
      .select(col("ts"), explode(
        graft.functions.TextFunctions.normTokens(col(textCol)))
        .as("term"))
      .groupBy(window(col("ts"), window_))
      .agg(graft.operators.HeavyHitters.misraGries(col("term"), sketchK)
        .as("mg"))
      .select(col("window.start").as("window_start"),
        col("mg.n_tokens").as("n_tokens"),
        col("mg.candidates").as("candidates"))

  final case class Event(user_id: Long, ts: Timestamp, event_type: String,
      value: Double)
  final case class Session(user_id: Long, session_start: Timestamp,
      session_end: Timestamp, n_events: Long, total_value: Double)
  /** Internal per-user state (public: Catalyst state encoders need an
    * accessible constructor + accessors for codegen). */
  final case class SessionState(start: Long, last: Long,
      n: Long, total: Double)

  /** Session-gap analysis: one output row per closed user session, where a
    * session closes after `gapMs` of event-time inactivity. Timeouts are
    * EVENT-time (watermark-driven): fully deterministic, replayable, and
    * MemoryStream-testable — a processing-time timeout would tie results
    * to the wall clock (and `processAllAvailable` never settles). State
    * per key is O(1) and expires with the watermark, so state size tracks
    * ACTIVE users only — the property that matters at 100 TB/day volume. */
  def sessionize(events: Dataset[Event], gapMs: Long = 30 * 60 * 1000L)
      : Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "0 seconds")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(Session(userId, new Timestamp(s.start),
              new Timestamp(s.last), s.n, s.total))
          } else {
            val sorted = rows.toSeq.sortBy(_.ts.getTime)
            var out = List.empty[Session]
            var cur = state.getOption
            sorted.foreach { e =>
              cur match {
                case Some(s) if e.ts.getTime - s.last > gapMs =>
                  out ::= Session(userId, new Timestamp(s.start),
                    new Timestamp(s.last), s.n, s.total)
                  cur = Some(SessionState(e.ts.getTime, e.ts.getTime, 1,
                    e.value))
                case Some(s) =>
                  cur = Some(s.copy(last = e.ts.getTime, n = s.n + 1,
                    total = s.total + e.value))
                case None =>
                  cur = Some(SessionState(e.ts.getTime, e.ts.getTime, 1,
                    e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.last + gapMs)
            }
            out.reverseIterator
          }
      }
  }

  final case class NodeEvent(user_id: Long, ts: Timestamp, event_id: Long,
      node: Long)
  final case class TransitionEdge(src: Long, dst: Long)
  final case class LastNode(ts: Long, eventId: Long, node: Long)

  /** Streaming twin of [[graft.operators.Graph.transitionEdges]] (round
    * 8): per-actor O(1) state holds only the LAST node seen; every
    * arriving event emits one edge from it — the live-graph maintenance
    * shape (feed the emitted edges to a streaming count or a foreachBatch
    * edge store, then run [[graft.operators.Graph.pageRank]] on the
    * aggregated relation periodically).
    *
    * Ordering contract: rows are sorted by (ts, event_id) WITHIN a
    * micro-batch; ACROSS batches the stream must deliver each actor's
    * events in event-time order (the Kafka per-key ordering guarantee a
    * transition log replays with). Under that contract the emitted edge
    * multiset equals the batch operator's — spec-pinned over a 2-batch
    * MemoryStream replay. State expires `horizonMs` past each actor's
    * last event (event-time timeout: deterministic, replayable), so
    * state size tracks ACTIVE actors; an actor returning after the
    * horizon starts a fresh chain (its cross-horizon transition is
    * unobserved — the honest reading of an expired session). */
  def transitionEdgesStream(events: Dataset[NodeEvent],
      horizonMs: Long = 24L * 3600 * 1000): Dataset[TransitionEdge] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "0 seconds")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[LastNode, TransitionEdge](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: Long, rows: Iterator[NodeEvent], state: GroupState[LastNode]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val sorted = rows.toSeq
              .sortBy(e => (e.ts.getTime, e.event_id))
            if (sorted.isEmpty) Iterator.empty
            else {
              val out =
                scala.collection.mutable.ListBuffer.empty[TransitionEdge]
              var last = state.getOption
              sorted.foreach { e =>
                last.foreach(l => out += TransitionEdge(l.node, e.node))
                last = Some(LastNode(e.ts.getTime, e.event_id, e.node))
              }
              val l = last.get
              state.update(l)
              state.setTimeoutTimestamp(l.ts + horizonMs)
              out.iterator
            }
          }
      }
  }

  /** Streaming PAGERANK MAINTENANCE (round 9) — the live-graph loop the
    * [[transitionEdgesStream]] docs promise: per-event edges fold into a
    * PERSISTENT aggregated edge relation `(src, dst, w)` at `edgePath`,
    * and [[pageRankFromSnapshot]] is the periodic re-rank over it.
    *
    * Scale shape: the corpus-scale work (ordering each actor's events)
    * already happened in the O(1)-state stateful operator upstream; each
    * micro-batch merge is `union + re-aggregate` over ONLY the buckets
    * the batch's edges touch — since round 10 the relation lives in a
    * [[BucketedSnapshotStore]] keyed on (src, dst), so bytes written per
    * trigger ∝ delta, not the full (node²-bounded) relation. Same
    * crash-safety as the CDC corpus: immutable versioned artifacts,
    * atomic `_latest` flip, complete-state recovery at every crash
    * point, and a (queryId, batchId) transaction token making the
    * publish exactly-once across checkpointed replays. The re-aggregate
    * merge is bucket-local-correct because an edge's weight rows never
    * leave the bucket of its (src, dst) hash.
    *
    * `sink` observes the PUBLISHED snapshot per batch — exactly-once
    * edge weights even on a replayed batch (round-9 advice: the old
    * recomputed merge handed a replayed delta's weights to the sink
    * twice, and weight summation is not idempotent). Same sink contract
    * as [[mergeCdcStream]]: consume within the batch — leaves referenced
    * by neither of the 2 newest manifests are pruned. */
  def maintainEdgesStream(events: Dataset[NodeEvent], edgePath: String,
      horizonMs: Long = 24L * 3600 * 1000,
      checkpointLocation: Option[String] = None, nBuckets: Int = 64)
      (sink: (DataFrame, Long) => Unit = (_, _) => ()): StreamingQuery =
    startForeachBatch(transitionEdgesStream(events, horizonMs).toDF(),
        checkpointLocation) { (batch, batchId) =>
      val spark = batch.sparkSession
      val delta = batch.groupBy(col("src"), col("dst"))
        .agg(count(lit(1)).as("w"))
      BucketedSnapshotStore.publish(spark, edgePath, batchId, delta,
          Seq("src", "dst"), nBuckets) { (current, d) =>
        current.unionByName(d)
          .groupBy(col("src"), col("dst")).agg(sum(col("w")).as("w"))
      }
      sink(BucketedSnapshotStore.read(spark, edgePath)
        .getOrElse(delta.filter(lit(false))), batchId)
    }

  /** Periodic re-rank over the maintained edge snapshot: read the live
    * bucketed state ([[BucketedSnapshotStore.read]] — manifest + pointer
    * protocol, legacy-layout fallback included) and run the
    * deterministic fixed-point PageRank on it. None = no snapshot
    * published yet (or an empty relation). */
  def pageRankFromSnapshot(spark: org.apache.spark.sql.SparkSession,
      edgePath: String, iters: Int = 5): Option[DataFrame] =
    BucketedSnapshotStore.read(spark, edgePath)
      .map(graft.operators.Graph.pageRank(_, iters))

  /** WATERMARKED STREAMING QUANTILES (round 9) — the histogram-quantile
    * sketch as a windowed streaming aggregate next to
    * [[trendingTermsStream]]: per tumbling window, ONE mergeable
    * [[graft.operators.Sketches.binHistogram]] aggregate (each
    * micro-batch folds into the window's stored ≤ maxBins counters —
    * the batch sketch's cascaded aggregate + window chain cannot run in
    * append mode), then the same count-threshold quantile rule
    * extracted row-locally from the emitted histogram
    * ([[graft.operators.Sketches.quantilesFromHistogram]] — batch-twin
    * parity is spec-pinned against [[graft.operators.Sketches.histQuantiles]]).
    * State per window is ≤ maxBins longs regardless of stream volume;
    * the watermark expires whole windows.
    *
    * Input columns: (`ts` timestamp, `valueCol` integral). Output per
    * closed window and requested percent:
    * (window_start, n_values, p, est_lo, est_hi). */
  def windowedQuantilesStream(docs: DataFrame, valueCol: String,
      window_ : String = "10 minutes", lateness: String = "10 minutes",
      binWidth: Long = 100L, ps: Seq[Int] = Seq(25, 50, 75, 90),
      maxBins: Int = 65536): DataFrame =
    docs
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), window_))
      .agg(graft.operators.Sketches
        .binHistogram(col(valueCol), binWidth, maxBins).as("hist"))
      .select(col("window.start").as("window_start"),
        aggregate(map_values(col("hist")), lit(0L), (a, x) => a + x)
          .as("n_values"),
        explode(graft.operators.Sketches
          .quantilesFromHistogram(col("hist"), binWidth, ps)).as("q"))
      .select(col("window_start"), col("n_values"), col("q.p").as("p"),
        col("q.est_lo").as("est_lo"), col("q.est_hi").as("est_hi"))
}
