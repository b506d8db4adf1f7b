package graft.streaming

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.SparkSession

/** The one append path of the written indexes (flat and bucketed LSH,
  * bucketed digest, IVF, IVF-PQ and the flat digest directory): every
  * `appendTo*` writes its batch through [[exactlyOnceAppend]], and every
  * ledgered streaming loop guards its batch body with the same
  * (queryId, batchId) high-water mark — factored out of
  * [[BucketedSnapshotStore.publish]]'s manifest so the indexes get the
  * same exactly-once token without adopting the snapshot layout.
  *
  * Protocol: `<indexPath>/_ingest_hwm` holds the newest applied
  * (queryId, batchId), written via the same write-tmp + atomic-rename
  * discipline as the snapshot manifests. foreachBatch replays re-run the
  * LAST batch with the SAME pair (batchIds are monotonic within a
  * checkpointed query), so a batch is a replay iff its queryId matches
  * and its batchId is ≤ the mark. A FRESH query reusing batchId 0
  * carries a different queryId and applies normally; an ANONYMOUS
  * caller (no streaming queryId, no publisherId) gets NO guard — two
  * unrelated ad-hoc jobs that happen to reuse a batchId must both
  * apply (the [[BucketedSnapshotStore.publish]] rule).
  *
  * The mark alone leaves one residual window (a crash between the
  * append and the mark re-appends on replay), so the appends
  * themselves go through [[exactlyOnceAppend]] — a staged-commit
  * protocol that closes it completely:
  *
  *  1. STAGE: the batch's files are written under
  *     `<indexRoot>/_ingest_staging/<token>/` mirroring the index
  *     layout (a leading-underscore dir — parquet readers of the live
  *     index never list it). Re-runnable: staging is overwritten.
  *  2. MANIFEST: the staged file list is written atomically
  *     (write-tmp + rename). A manifest EXISTS only complete — it is
  *     the commit point: before it, a replay re-runs everything
  *     against an untouched index; after it, a replay only finishes.
  *  3. MOVE: each staged file renames to
  *     `<indexRoot>/<relDir>/<token>_<name>` — per-file idempotent
  *     (dest exists → drop the src), so a crashed move RESUMES.
  *  4. MARK + cleanup: the high-water mark is written, then staging
  *     and manifest are deleted.
  *
  * [[resumePending]] at batch entry handles a crash after the
  * manifest: the probe and sink of that incarnation already ran (they
  * precede staging), so the batch body must NOT re-run them — it
  * completes the moves and marks. A crash before the manifest left
  * the index untouched, so the full re-run is correct. */
object IngestLedger {

  private val MarkFile = "_ingest_hwm"
  private val StagingDir = "_ingest_staging"

  /** The stable streaming query id when called inside a micro-batch
    * (set by StreamExecution on the micro-batch thread), else "". */
  def currentQueryId(spark: SparkSession): String =
    Option(spark.sparkContext
      .getLocalProperty(BucketedSnapshotStore.QueryIdKey)).getOrElse("")

  /** True iff (queryId, batchId) was already applied to the index at
    * `indexPath` — i.e. this is a checkpointed replay whose append (and
    * everything sequenced before it) already ran. Always false for an
    * anonymous caller (empty queryId). */
  def alreadyApplied(spark: SparkSession, indexPath: String,
      queryId: String, batchId: Long): Boolean =
    queryId.nonEmpty &&
      readMark(spark, new Path(indexPath)).exists { case (q, hwm) =>
        q == queryId && hwm >= batchId
      }

  /** The (queryId, batchId) recorded in `<indexRoot>/_ingest_hwm`, if
    * any. */
  private def readMark(spark: SparkSession, indexRoot: Path)
      : Option[(String, Long)] = {
    val p = new Path(indexRoot, MarkFile)
    val fs = fsOf(spark, p)
    if (!fs.exists(p)) return None
    val kv = BucketedSnapshotStore.readSmallFile(fs, p).linesIterator
      .filter(_.contains('=')).map { l =>
        val i = l.indexOf('='); (l.substring(0, i), l.substring(i + 1))
      }.toMap
    for (q <- kv.get("lastQueryId"); b <- kv.get("lastBatchId"))
      yield (q, b.toLong)
  }

  /** Record (queryId, batchId) as applied — called immediately after the
    * index append commits. No-op for an anonymous caller. */
  private def record(spark: SparkSession, indexPath: String, queryId: String,
      batchId: Long): Unit = {
    if (queryId.isEmpty) return
    BucketedSnapshotStore.atomicWrite(spark,
      new Path(new Path(indexPath), MarkFile),
      s"lastQueryId=$queryId\nlastBatchId=$batchId\n")
  }

  /** Filesystem-safe transaction token. The queryId is a UUID and the
    * batchId a long — both path-safe; sanitize defensively anyway. */
  private[streaming] def tokenOf(queryId: String, batchId: Long): String =
    tokenPrefix(queryId) + batchId

  private def tokenPrefix(queryId: String): String =
    queryId.replaceAll("[^A-Za-z0-9-]", "_") + "_b"

  private def fsOf(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private[streaming] def stagingRoot(indexRoot: Path, token: String): Path =
    new Path(new Path(indexRoot, StagingDir), token)

  private[streaming] def manifestPath(indexRoot: Path, token: String): Path =
    new Path(new Path(indexRoot, StagingDir), s"$token.manifest")

  /** Data files under `root`, as /-relative paths — `_SUCCESS` and
    * other underscore/dot-prefixed bookkeeping excluded. */
  private[streaming] def listDataFiles(spark: SparkSession, root: Path)
      : Seq[String] = {
    val fs = fsOf(spark, root)
    def walk(p: Path, rel: String): Seq[String] =
      fs.listStatus(p).toSeq.flatMap { st =>
        val name = st.getPath.getName
        val r = if (rel.isEmpty) name else s"$rel/$name"
        if (name.startsWith("_") || name.startsWith(".")) Nil
        else if (st.isDirectory) walk(st.getPath, r)
        else Seq(r)
      }
    if (!fs.exists(root)) Nil else walk(root, "")
  }

  /** Move every manifest-listed staged file into the live index —
    * per-file idempotent so a crashed move resumes: dest already
    * present → the staged src (if any) is just dropped. */
  private[streaming] def completeMoves(spark: SparkSession,
      indexRoot: Path, token: String, files: Seq[String]): Unit = {
    val fs = fsOf(spark, indexRoot)
    val sRoot = stagingRoot(indexRoot, token)
    files.foreach { rel =>
      val src = new Path(sRoot, rel)
      val i = rel.lastIndexOf('/')
      val (dir, name) =
        if (i < 0) (indexRoot, rel)
        else (new Path(indexRoot, rel.substring(0, i)), rel.substring(i + 1))
      val dest = new Path(dir, s"${token}_$name")
      if (fs.exists(dest)) {
        if (fs.exists(src)) fs.delete(src, false)
      } else {
        fs.mkdirs(dir)
        if (!fs.rename(src, dest))
          throw new java.io.IOException(s"ingest move failed: $src → $dest")
      }
      ()
    }
  }

  private[streaming] def cleanup(spark: SparkSession, indexRoot: Path,
      token: String): Unit = {
    val fs = fsOf(spark, indexRoot)
    fs.delete(stagingRoot(indexRoot, token), true)
    fs.delete(manifestPath(indexRoot, token), false)
    // one writer per index: an empty staging dir holds no other batch
    val sDir = new Path(indexRoot, StagingDir)
    if (fs.exists(sDir) && fs.listStatus(sDir).isEmpty) fs.delete(sDir, false)
    ()
  }

  /** Delete staging debris under `_ingest_staging` — called at every
    * append entry (one staging-dir listing: index bookkeeping, not
    * data). Only runs once THIS query owns the high-water mark (it has
    * recorded a batch), so a fresh query's first batch never touches a
    * live predecessor's in-flight state. Two debris classes:
    *
    *  - OWN tokens with batchId ≤ the mark: a crash in the
    *    record()→cleanup() window — on replay `alreadyApplied` is true
    *    before `resumePending` ever runs, so nothing else would delete
    *    them. Safe: batchId ≤ HWM means the moves completed before the
    *    mark (record follows completeMoves); only cleanup is finished.
    *  - FOREIGN tokens (a superseded queryId — a stream recreated with
    *    a new checkpoint — or a crashed anonymous append): once a newer
    *    mark owner exists, nobody will ever resume them. COMMITTED
    *    debris (manifest present) is FINISHED, not dropped — the
    *    manifest is the commit point, so its files belong in the index
    *    (the moves are per-file idempotent; a replay that already moved
    *    them no-ops). Uncommitted staging (no manifest) never reached
    *    the commit point and is deleted. For anonymous tokens this
    *    keeps the documented at-least-once semantics: a crashed anon
    *    batch both finishes here AND may be re-run by its job retry. */
  private def sweepApplied(spark: SparkSession, indexPath: String,
      queryId: String): Unit = {
    if (queryId.isEmpty) return
    val root = new Path(indexPath)
    val fs = fsOf(spark, root)
    val hwm = readMark(spark, root) match {
      case Some((q, b)) if q == queryId => b
      case _ => return
    }
    val prefix = tokenPrefix(queryId)
    val sDir = new Path(root, StagingDir)
    if (!fs.exists(sDir)) return
    val entries = fs.listStatus(sDir).toSeq
    val tokens = entries.map(_.getPath.getName.stripSuffix(".manifest"))
      .distinct
    val manifests = entries.filter(_.getPath.getName.endsWith(".manifest"))
      .map(_.getPath.getName.stripSuffix(".manifest")).toSet
    tokens.foreach { token =>
      if (token.startsWith(prefix)) {
        val bid = token.substring(prefix.length)
        if (bid.nonEmpty && bid.forall(_.isDigit) && bid.toLong <= hwm)
          cleanup(spark, root, token)
      } else {
        // superseded query or crashed anonymous append
        if (manifests.contains(token)) {
          val files = BucketedSnapshotStore.readSmallFile(fs,
            manifestPath(root, token)).linesIterator
            .filter(_.nonEmpty).toSeq
          completeMoves(spark, root, token, files)
        }
        cleanup(spark, root, token)
      }
    }
  }

  /** Stage-manifest-move-mark: `stage` writes the batch's files under
    * the given staging root MIRRORING the live index layout; the
    * protocol then publishes them exactly-once (see the object doc). A
    * batch that stages no data file skips the manifest and moves and
    * only records its mark.
    * Anonymous callers (empty queryId) append without a transaction —
    * the staged files move under a batch-only token, with no replay
    * identity to guard and no mark left behind (the
    * [[BucketedSnapshotStore.publish]] rule). */
  def exactlyOnceAppend(spark: SparkSession, indexPath: String,
      queryId: String, batchId: Long)(stage: String => Unit): Unit = {
    // the primitive is replay-safe on its own: an already-applied
    // (queryId, batchId) no-ops (staged part files carry fresh UUID
    // names, so re-staging + re-moving would DOUBLE the data — the
    // per-file idempotent rename only guards re-moves of the SAME
    // staged files), and a post-manifest crash only finishes. Batch
    // bodies that sequence a probe/sink BEFORE the append still check
    // these at entry to skip the whole body.
    if (alreadyApplied(spark, indexPath, queryId, batchId)) {
      sweepApplied(spark, indexPath, queryId)
      return
    }
    if (resumePending(spark, indexPath, queryId, batchId)) return
    sweepApplied(spark, indexPath, queryId)
    val root = new Path(indexPath)
    // an anonymous caller has no replay identity: its token carries a
    // nanotime disambiguator so two unrelated jobs reusing a batchId
    // both apply and never collide on staged file names
    val token =
      if (queryId.isEmpty) s"anon_b${batchId}_${System.nanoTime()}"
      else tokenOf(queryId, batchId)
    val sr = stagingRoot(root, token)
    fsOf(spark, root).delete(sr, true) // staging is re-runnable
    stage(sr.toString)
    val files = listDataFiles(spark, sr)
    // an empty batch has nothing to move: the mark alone commits it
    if (files.nonEmpty) {
      BucketedSnapshotStore.atomicWrite(spark, manifestPath(root, token),
        files.mkString("\n")) // the commit point
      completeMoves(spark, root, token, files)
    }
    record(spark, indexPath, queryId, batchId)
    cleanup(spark, root, token)
  }

  /** True iff this (queryId, batchId) crashed AFTER its manifest (its
    * probe and sink already ran): the moves and mark are completed
    * here, and the caller must skip the rest of the batch body. */
  def resumePending(spark: SparkSession, indexPath: String,
      queryId: String, batchId: Long): Boolean = {
    if (queryId.isEmpty) return false
    val root = new Path(indexPath)
    val token = tokenOf(queryId, batchId)
    val mp = manifestPath(root, token)
    val fs = fsOf(spark, root)
    if (!fs.exists(mp)) return false
    val files = BucketedSnapshotStore.readSmallFile(fs, mp)
      .linesIterator.filter(_.nonEmpty).toSeq
    completeMoves(spark, root, token, files)
    record(spark, indexPath, queryId, batchId)
    cleanup(spark, root, token)
    true
  }
}
