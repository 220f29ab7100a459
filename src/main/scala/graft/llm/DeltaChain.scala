package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Delta-composed version chain — the shared layout that replaces the
  * copy-on-write fold for the exact-index family ([[LineDedupIndex]],
  * [[SpanDedupIndex]], [[CmsIndex]], [[FamilyIndex]]).
  *
  * The copy-on-write chains rewrote their FULL cumulative table every
  * addBatch, so per-batch upkeep scaled with the CORPUS, not the batch
  * (measured: the streamed span-dedup ingest grew 4.5×/decade because
  * each fold rewrote the cumulative gram table, and the family ingest
  * mode ran at a tenth of the append-shaped wings' rate). This chain
  * is the LSM answer: each fold writes only the BATCH's delta, reads
  * compose the deltas over the last full snapshot, and a periodic
  * [[IndexMaintenance]]-style compaction folds the composed view back
  * into one snapshot. Per-batch WRITE ∝ batch; read cost ∝ snapshot +
  * live deltas (bounded by compaction cadence) — for [[FamilyIndex]]
  * too, whose remap chain is collected once and composed on the driver
  * (pinned in FamilyIndexDepthSpec).
  *
  * Layout: `path/base/v=B` full snapshots, `path/delta/v=K` per-batch
  * deltas, one monotone version sequence shared by both dirs (v=1 is
  * the build snapshot; each fold takes the next number as a delta;
  * compaction re-uses the number of the last folded delta as its
  * snapshot version — "composed through K"). The live view is the
  * HIGHEST committed base plus every committed delta ABOVE it; deltas
  * at or below the base are superseded ([[vacuum]] reclaims them, plus
  * older bases). Commit discipline is [[IndexVersions]]' `_SUCCESS`
  * marker on every dir, so a torn snapshot OR a torn delta is
  * invisible and healed by the retry's overwrite — and crucially a
  * torn COMPACTION leaves the previous base + deltas authoritative
  * (the successor never supersedes anything until its marker lands).
  *
  * The exactness argument carries over unchanged for the count tables:
  * their merge is addition, which is associative and commutative, so
  * `Σ(base ∪ deltas)` equals the eager fold equals a from-scratch
  * aggregate over the union of all batches. [[FamilyIndex]] composes
  * its own (non-sum) delta representation on the same layout.
  */
object DeltaChain {

  /** Latest committed full snapshot, if any. */
  def latestBase(path: String): Option[Int] =
    IndexVersions.latest(s"$path/base")

  /** Latest committed version of the chain — base or delta, whichever
    * is newest. This is the number the foldOnce exactly-once invariant
    * tracks: build commits 1, every fold commits +1, compaction never
    * advances it (it re-commits an existing number as a snapshot).
    */
  def latest(path: String): Option[Int] =
    (IndexVersions.committed(s"$path/base") ++
      IndexVersions.committed(s"$path/delta")).sorted.lastOption

  /** Committed delta versions strictly above the latest base — the
    * live, not-yet-compacted tail (version order).
    */
  def liveDeltaVersions(path: String): Seq[Int] = {
    val b = latestBase(path).getOrElse(0)
    IndexVersions.committed(s"$path/delta").filter(_ > b).sorted
  }

  def writeBase(df: DataFrame, path: String, v: Int): Unit =
    df.write.mode("overwrite").parquet(s"$path/base/v=$v")

  def writeDelta(df: DataFrame, path: String, v: Int): Unit =
    df.write.mode("overwrite").parquet(s"$path/delta/v=$v")

  /** One consistent capture of the chain's live shape: the latest base
    * (if any) and the live delta versions above it, listed ONCE. Every
    * consumer that both reads and labels (compaction) must work from a
    * single capture — re-listing between "what version am I" and "what
    * do I fold" lets a concurrently committed delta slip into a base
    * labeled below it, after which reads double-count it forever.
    */
  final case class Capture(base: Option[Int], deltas: Seq[Int]) {
    def version: Option[Int] = (base.toSeq ++ deltas).maxOption
  }

  def capture(path: String): Capture = {
    val b = latestBase(path)
    Capture(b, IndexVersions.committed(s"$path/delta")
      .filter(_ > b.getOrElse(0)).sorted)
  }

  private def segmentsOf(spark: SparkSession, path: String,
      c: Capture): Seq[DataFrame] =
    c.base.toSeq.map(v => spark.read.parquet(s"$path/base/v=$v")) ++
      c.deltas.map(v => spark.read.parquet(s"$path/delta/v=$v"))

  /** The live segments (latest base snapshot, then live deltas in
    * version order). Empty when the chain was never built.
    */
  def segments(spark: SparkSession, path: String): Seq[DataFrame] =
    segmentsOf(spark, path, capture(path))

  private def sumOf(segs: Seq[DataFrame], keys: Seq[String],
      cnt: String): DataFrame = {
    require(segs.nonEmpty, "no delta chain segments")
    if (segs.size == 1) segs.head
    else segs.reduce(_ unionByName _)
      .groupBy(keys.map(col): _*).agg(sum(col(cnt)).as(cnt))
  }

  /** The composed COUNT table: union of segments, summed per key.
    * Exact by associativity of addition. The common no-live-deltas
    * case (fresh build, or just compacted) returns the snapshot
    * as-is — no shuffle.
    */
  def composedSum(spark: SparkSession, path: String,
      keys: Seq[String], cnt: String): DataFrame = {
    val segs = segments(spark, path)
    require(segs.nonEmpty, s"no delta chain at $path")
    sumOf(segs, keys, cnt)
  }

  /** Fold the live deltas into a new snapshot carrying the version of
    * the last delta composed ("composed through K"). No-op (returning
    * the current base version) when there is nothing to fold. Torn
    * compactions are invisible — the snapshot supersedes the deltas
    * only once its `_SUCCESS` lands — and the retry overwrites.
    * Returns the snapshot's version.
    *
    * The version list is captured ONCE and the snapshot is labeled with
    * the max version actually folded — a delta committed concurrently
    * with the compose stays live above the new base instead of being
    * silently folded under a lower label and double-counted on read.
    */
  def compactSum(spark: SparkSession, path: String,
      keys: Seq[String], cnt: String): Int = {
    val c = capture(path)
    val v = c.version.getOrElse(
      throw new IllegalStateException(s"no delta chain at $path"))
    if (!c.base.contains(v))
      writeBase(sumOf(segmentsOf(spark, path, c), keys, cnt), path, v)
    v
  }

  /** WHEN to fold the live tail back into a snapshot — the cadence
    * knob the round-8 measurements showed matters both ways: an
    * unbounded tail grows every composed read linearly (the fold
    * itself, for chains like [[FamilyIndex]] that read the assignment
    * per batch), while compacting on a one-read protocol pays a full
    * corpus write for nothing (q202 measured +14%). The policy fires
    * when EITHER leg trips:
    *   - `maxLiveDeltas`: more live deltas than this (read-time
    *     composition is a union over segments — list-length cost);
    *   - `maxDeltaBytesRatio`: live delta bytes exceed this fraction
    *     of the snapshot's bytes (composition shuffle cost — once the
    *     tail rivals the base, the compact write is amortized by the
    *     very next composed read).
    * Apply it inside repeated-read folds (streaming maintenance);
    * leave one-shot protocols on explicit compaction.
    */
  final case class CompactionPolicy(
      maxLiveDeltas: Int = 8, maxDeltaBytesRatio: Double = 1.0)

  private def dirBytes(spark: SparkSession, dir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
  }

  /** Whether `policy` asks for a compaction now. False for an unbuilt
    * or just-compacted chain (no live tail, nothing to fold).
    */
  def shouldCompact(spark: SparkSession, path: String,
      policy: CompactionPolicy): Boolean = {
    val c = capture(path)
    if (c.deltas.isEmpty) false
    else if (c.deltas.size >= policy.maxLiveDeltas) true
    else {
      val base = c.base
        .map(v => dirBytes(spark, s"$path/base/v=$v")).getOrElse(0L)
      val tail = c.deltas.map(v => dirBytes(spark, s"$path/delta/v=$v")).sum
      base == 0L || tail > policy.maxDeltaBytesRatio * base
    }
  }

  /** Policy-gated compaction: runs the chain's own `compactFn` (and
    * then `vacuumFn`) when [[shouldCompact]] fires, returning the new
    * snapshot version; None when the policy holds off. The single
    * cadence seam for streaming folds — idempotent on replay exactly
    * like the underlying compact (same version re-written; vacuum of
    * already-gone dirs is 0).
    */
  def maybeCompact(spark: SparkSession, path: String,
      policy: CompactionPolicy = CompactionPolicy())(
      compactFn: => Int, vacuumFn: => Int): Option[Int] =
    if (!shouldCompact(spark, path, policy)) None
    else {
      val v = compactFn
      vacuumFn
      Some(v)
    }

  /** Reclaim superseded directories in place: every base below the
    * latest committed base, every delta at or below it — committed or
    * torn, they are equally dead (reads resolve through the latest
    * base; a retry never targets an old number). Torn DELTAS above the
    * base survive: they are an in-flight writer's target. Returns the
    * number of directories removed; 0 for a missing chain.
    */
  def vacuum(spark: SparkSession, path: String): Int = {
    val b = latestBase(path).getOrElse(return 0)
    val conf = spark.sessionState.newHadoopConf()
    def drop(sub: String, dead: Int => Boolean): Int = {
      val p = new org.apache.hadoop.fs.Path(s"$path/$sub")
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p)) 0
      else fs.listStatus(p).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("v="))
        .filter(s => dead(s.getPath.getName.stripPrefix("v=").toInt))
        .count(s => fs.delete(s.getPath, true))
    }
    drop("base", _ < b) + drop("delta", _ <= b)
  }
}
