package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The crash protocol of one durable state root: a single-writer lease,
  * the sibling dirs a crash between a swap's renames can strand, and
  * the family's heal that puts stranded state back.
  *
  * The lease is a sibling `<root>.__writer` file holding the writer's
  * token. Two concurrent writers on one root would interleave their swap
  * renames, segment appends and markers (the whole-swap fold is worst:
  * both read the old state, fold their own batch, and the LAST swap
  * silently discards the first batch's rows). A writer claims the lease
  * before any read or mutation, heals, runs, and releases the lease on
  * exit (success OR failure; only a JVM death leaves it). A second
  * writer with a DIFFERENT token refuses loudly; a crashed writer's
  * retry carries the same token (the applied id) and re-enters. Two
  * truly concurrent attempts with the SAME token are outside the
  * contract (foreachBatch retries are serial by construction; adhoc
  * single-shot callers are single-flight by definition). The lease
  * lives OUTSIDE the root so a whole-root swap cannot drop it
  * mid-operation, and so a first write can fence before the root exists.
  *
  * Readers heal too ([[healForRead]]): a crashed swap strands the
  * target renamed aside, and until the next write ran its entry heal,
  * every serving read failed on "path does not exist" (or silently
  * lost a stranded bucket). Healing renames state dirs, which is only
  * safe with no writer mid-swap, so a reader heals only when no lease
  * is held.
  *
  * The families, each declared once in the companion: [[wholeSwap]],
  * [[compacted]], [[spanState]], [[treeState]], [[textIndex]] and
  * [[leaseOnly]].
  */
private[graft] final class DurableRoot private (
    val fs: FileSystem,
    path: String,
    op: String,
    private val strands: Seq[Path],
    heal: () => Unit
) {

  private val lease = DurableRoot.leaseOf(path)

  /** Take (or re-enter) the lease under `token`, heal, then run `body`. */
  def write[T](token: String)(body: => T): T = {
    DurableRoot.claimOrReenter(fs, lease, path, token, op)
    try {
      heal()
      body
    } finally Maintenance.deleteOrFail(fs, lease)
  }

  /** With no lease, heal exactly as a writer would. Under a live lease,
    * leftovers are ambiguous (a writer mid-swap or a crash), so a reader
    * that finds something to heal refuses instead of racing the
    * writer's renames; with nothing stranded it reads normally (each
    * swap rename is atomic, so a concurrent read sees the pre- or
    * post-swap state, both complete).
    */
  def healForRead(): Unit =
    Maintenance.readTextFile(fs, lease) match {
      case None => heal()
      case Some(b) =>
        if (strands.exists(fs.exists))
          throw new IllegalArgumentException(
            s"$op: state at $path has swap leftovers while writer lease " +
              s"'${DurableRoot.leaseTokenOf(b)}' is held — a writer is live mid-swap (wait " +
              "for it) or crashed (retry it under its token, or `--maintenance lease_break " +
              s"--state $path` after confirming it is dead); refusing to heal under a lease")
    }
}

private[graft] object DurableRoot {

  private def fsOf(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def leaseOf(path: String) = new Path(s"$path.__writer")

  /** Writes are appends or idempotent overwrites and nothing is swapped,
    * so nothing strands: the exact dedup index, the batch-keyed ingest
    * index, [[NearDupIndex]] and [[VectorIndex]].
    */
  def leaseOnly(spark: SparkSession, path: String, op: String): DurableRoot =
    new DurableRoot(fsOf(spark, path), path, op, Nil, () => ())

  /** [[Maintenance.foldState]]'s whole-dir two-rename swap. */
  def wholeSwap(spark: SparkSession, path: String, op: String): DurableRoot = {
    val fs = fsOf(spark, path)
    val old = new Path(s"$path.__refresh_old")
    new DurableRoot(fs, path, op, Seq(old), () => Maintenance.recoverSwap(fs, new Path(path), old))
  }

  /** A dataset rewritten by [[Maintenance.compact]] (whole-dir swap) and
    * [[Maintenance.compactPartitioned]] (per-partition swaps). A crashed
    * whole-dir compact leaves the target renamed away; a crashed
    * partitioned one leaves partition dirs missing, so reads silently
    * lose rows. The partitioned tmp dir is not a strand: every dir in it
    * is unswapped (its data still in the root) or already swapped in.
    */
  def compacted(spark: SparkSession, path: String, op: String): DurableRoot = {
    val fs = fsOf(spark, path)
    val root = new Path(path)
    val cOld = new Path(s"$path.__compact_old")
    val pOld = new Path(s"$path.__pcompact_old")
    new DurableRoot(fs, path, op, Seq(cOld, pOld), () => {
      Maintenance.recoverSwap(fs, root, cOld)
      Maintenance.recoverPartitionedCompact(fs, root, new Path(s"$path.__pcompact_tmp"), pOld)
    })
  }

  /** The segmented span-hash state: the legacy whole-dir swap, the
    * partitioned fold's bucket swaps, and a crashed seg-layout migration
    * (mixed bare files and `seg=` dirs, which no reader can open).
    * Sibling append/compaction tmp dirs and `.spark-staging` entries are
    * writer-only sweeps: they never block a read, and a reader deleting
    * them could race a writer that claimed the lease after its check.
    */
  def spanState(spark: SparkSession, path: String, op: String): DurableRoot = {
    val fs = fsOf(spark, path)
    val root = new Path(path)
    val refreshOld = new Path(s"$path.__refresh_old")
    val pfoldTmp = new Path(s"$path.__pfold_tmp")
    val pfoldOld = new Path(s"$path.__pfold_old")
    new DurableRoot(fs, path, op, Seq(refreshOld, pfoldTmp, pfoldOld), () => {
      Maintenance.recoverSwap(fs, root, refreshOld)
      Maintenance.recoverPartitionedFold(fs, root, pfoldTmp, pfoldOld)
      Maintenance.ensureSegmented(fs, root)
    })
  }

  /** [[TreeState]]: a reshard's whole-root swap and a fold's per-bucket
    * swaps.
    */
  def treeState(spark: SparkSession, path: String, op: String): DurableRoot = {
    val fs = fsOf(spark, path)
    val reshardOld = new Path(s"$path.__reshard_old")
    val foldOld = new Path(s"$path.__fold_old")
    new DurableRoot(fs, path, op, Seq(reshardOld, foldOld),
      () => TreeState.healAt(fs, new Path(path), reshardOld, foldOld))
  }

  /** [[TextIndex]]: the root lease fences appends against
    * `compactIndex`; the strands are its `docs/` and `postings/`
    * sub-roots' compaction strands, healed through their own leases.
    */
  def textIndex(spark: SparkSession, path: String, op: String): DurableRoot = {
    val parts = Seq(compacted(spark, s"$path/docs", op), compacted(spark, s"$path/postings", op))
    new DurableRoot(fsOf(spark, path), path, op, parts.flatMap(_.strands),
      () => parts.foreach(_.healForRead()))
  }

  /** Lease file body (round 16): the token on line 1 — the ONLY line
    * the fence compares — followed by holder host/pid/created-at audit
    * metadata, the fields `lease_report` prints and `lease_break` ages
    * against (a crashed holder's lease used to demand a hand-deleted
    * file; the verbs make the runbook mechanical). r15-format leases
    * (bare token, no metadata) stay readable: token parsing takes
    * line 1, missing fields report as unknown.
    */
  def leaseBody(token: String): String = {
    val host =
      try java.net.InetAddress.getLocalHost.getHostName
      catch { case _: java.net.UnknownHostException => "unknown" }
    s"$token\nhost=$host\npid=${ProcessHandle.current().pid()}\ncreated_at=${System.currentTimeMillis()}\n"
  }

  def leaseTokenOf(body: String): String =
    body.linesIterator.nextOption().map(_.trim).getOrElse("")

  def leaseFields(body: String): Map[String, String] =
    body.linesIterator
      .drop(1)
      .flatMap(_.split("=", 2) match {
        case Array(k, v) => Some(k.trim -> v.trim)
        case _           => None
      })
      .toMap

  /** Take (or re-enter) the single-writer lease on `path`.
    *
    * The claim is write-temp-then-RENAME (round 16; previously
    * create(overwrite=false) + a second write): the lease file appears
    * ATOMICALLY with its full body, so no crash window can leave an
    * empty-token lease that wedges every later writer and reader with
    * an unactionable holder ''. On HDFS-semantics stores a rename onto
    * an existing destination fails, which makes the claim itself
    * atomic; the fence is documented HDFS-semantics-ONLY — on stores
    * whose rename overwrites (raw local fs) or is copy+delete (S3A
    * without conditional writes) two racers can briefly both rename,
    * so the claim is followed by a VERIFY read that refuses when a
    * foreign token won. Should an empty/unparseable lease appear
    * anyway (a pre-r16 crash, a truncated copy), it is stale BY
    * PROTOCOL — no live r16 writer can own it — and is removed with a
    * note rather than wedging the pipeline.
    */
  private def claimOrReenter(fs: FileSystem, p: Path, path: String, token: String, op: String): Unit =
    Maintenance.readTextFile(fs, p) match {
      case Some(b) if leaseTokenOf(b) == token => () // crashed attempt's retry: re-enter
      case Some(b) if leaseTokenOf(b).isEmpty =>
        System.err.println(
          s"[$op] removing EMPTY writer lease at $p — stale by protocol (r16 leases " +
            "appear atomically with their token; an empty file is a pre-r16 crash artifact)")
        Maintenance.deleteOrFail(fs, p)
        claim(fs, p, path, token, op)
      case Some(b) =>
        val f = leaseFields(b)
        def fld(k: String) = f.getOrElse(k, "unknown")
        throw new IllegalArgumentException(
          s"$op: writer lease on $path is held by '${leaseTokenOf(b)}' " +
            s"(host=${fld("host")}, pid=${fld("pid")}, created_at=${fld("created_at")}; " +
            s"this attempt: '$token') — either a concurrent writer is live (wait for it) " +
            "or a previous one crashed mid-operation (retry it under ITS token until it " +
            "completes). Inspect with `--maintenance lease_report --state " + path +
            "`; if the holder is confirmed dead, `--maintenance lease_break --state " +
            path + "`")
      case None => claim(fs, p, path, token, op)
    }

  private def claim(fs: FileSystem, p: Path, path: String, token: String, op: String): Unit = {
    def lostRace(cause: Throwable): Nothing =
      throw new IllegalArgumentException(
        s"$op: lost the writer-lease race on $path (attempt '$token') — " +
          "a concurrent writer claimed it first; retry after it completes",
        cause)
    val tmp = new Path(s"$p.claim.${java.util.UUID.randomUUID()}")
    Maintenance.writeTextFile(fs, tmp, leaseBody(token))
    val renamed =
      try fs.rename(tmp, p)
      catch {
        case e @ (_: java.io.IOException | _: RuntimeException) =>
          fs.delete(tmp, false); lostRace(e)
      }
    if (!renamed) { fs.delete(tmp, false); lostRace(null) }
    // verify read: detects the rename-overwrites race on non-HDFS stores
    if (!Maintenance.readTextFile(fs, p).map(leaseTokenOf).contains(token)) lostRace(null)
  }

  /** Lease token of a fold: `fold:<id>` with an applied id (a streaming
    * batch id included), so a crashed attempt's retry re-enters its own
    * stale lease; otherwise a unique adhoc token.
    *
    * adhoc (id-less) lease tokens are UNIQUE PER ATTEMPT (round 16):
    * the r15 constant 'fold:adhoc' meant any two concurrent id-less
    * writers shared a token and both silently re-entered — the exact
    * last-swap-wins race the fence exists to refuse, wearing a fence.
    * The trade is deliberate: an id-less caller that CRASHES leaves a
    * lease no retry can re-enter (there is no id to carry), and the
    * runbook is `lease_break` — id-carrying callers keep crash-retry
    * re-entry, which is why every scheduled/streaming path passes an
    * applied id and adhoc is for single-shot human invocations only.
    */
  def leaseToken(appliedId: Option[Long]): String =
    appliedId.map(id => s"fold:$id").getOrElse(adhocToken("fold"))

  def adhocToken(kind: String): String =
    s"adhoc:$kind:${java.util.UUID.randomUUID()}"

  /** Read-only lease inspection for the `lease_report` verb: (token,
    * metadata fields) of the live lease, or None. */
  def leaseReport(spark: SparkSession, statePath: String): Option[(String, Map[String, String])] = {
    Maintenance.readTextFile(fsOf(spark, statePath), leaseOf(statePath)).map(b => (leaseTokenOf(b), leaseFields(b)))
  }

  /** Break a dead holder's writer lease — the loud, audited runbook
    * verb for a JVM death (the lease is otherwise released in the
    * holder's `finally`; only a crash leaves it). REFUSES while the
    * lease is fresher than `minAgeMs`: a just-created lease is far
    * more likely a LIVE writer than a crash, and breaking a live
    * writer's lease re-opens the lost-batch race the fence closes.
    * Leases without created-at metadata (r15 format, or a truncated
    * body) are treated as old — they predate the metadata deploy.
    * Returns the broken (token, fields) for the audit line.
    */
  def leaseBreak(
      spark: SparkSession,
      statePath: String,
      minAgeMs: Long = 15 * 60 * 1000L
  ): (String, Map[String, String]) = {
    val p = leaseOf(statePath)
    val fs = fsOf(spark, statePath)
    val body = Maintenance.readTextFile(fs, p).getOrElse(
      throw new IllegalArgumentException(s"lease_break: no writer lease at $p"))
    val fields = leaseFields(body)
    fields.get("created_at").flatMap(_.toLongOption).foreach { created =>
      val age = System.currentTimeMillis() - created
      if (age < minAgeMs)
        throw new IllegalArgumentException(
          s"lease_break: lease on $statePath is only ${age / 1000}s old " +
            s"(threshold ${minAgeMs / 1000}s) — a lease this fresh is far more likely a " +
            "LIVE writer than a crash; wait for it (or re-run with a lower --min_age_sec " +
            "only after confirming host/pid from lease_report is dead)")
    }
    Maintenance.deleteOrFail(fs, p)
    (leaseTokenOf(body), fields)
  }
}
