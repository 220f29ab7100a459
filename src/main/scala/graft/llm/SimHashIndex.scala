package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Iterate.MaterializeOps

/** Persisted SimHash multi-index — Hamming-radius near-dup detection as
  * an INCREMENTAL operation, completing the persisted-index tier
  * ([[MinHashIndex]] Jaccard, [[WinnowIndex]] shared spans,
  * [[IvfIndex]] ANN, this Hamming).
  *
  * The index is the corpus's banding table `(id, simhash, combo, bkey)`
  * ([[SimHashDedup.bandKeys]] — Manku multi-index combos). A new batch
  * generates its own keys, joins the index (new-vs-old) and itself
  * (new-vs-new), and candidates are verified exactly: by `bit_count`
  * Hamming distance (pure SimHash semantics) or by shingle Jaccard
  * (no-false-positive dedup). Storing the signature IN the index means
  * verification of new-vs-old candidates never touches old text for the
  * Hamming form — one long per historical doc.
  *
  * Recall carries over from the full-corpus operator unchanged: the
  * pigeonhole guarantee is per-pair (a pair within `radius` collides on
  * some combo key no matter which batch each side arrived in), so
  * incremental results equal the full run's batch-touching slice
  * (pinned in SimHashIndexSpec). Hot-bucket caps apply per written
  * batch, same caveat as [[MinHashIndex]]: [[cappedBucketReport]]
  * surfaces when cross-batch occupancy breaks that equivalence. The
  * write, probe, compaction and report are the [[BandIndex]]
  * core's; the probe derives each pair's Hamming distance from the two
  * stored signatures.
  */
object SimHashIndex {

  // uncached: the sidecar only guards, so every probe and append checks
  // the parameters on disk, also after a rebuild by another process
  private val params = new BandIndex.Sidecar[(Int, Int)]("_params",
    "radius INT, blocks INT", r => (r.getInt(0), r.getInt(1)), cached = false)
  private val core = new BandIndex(Seq("combo", "bkey"),
    (a, b) => Seq(bit_count(col(s"$a.simhash").bitwiseXOR(col(s"$b.simhash")))
      .as("hamming")),
    sidecar = Some(params))

  /** The banding parameters an index was BUILT with, from its `_params`
    * sidecar ([[BandIndex.Sidecar]]). Band keys are
    * `xxhash64(combo, block values)`, so keys generated under a
    * different (radius, blocks) scheme essentially never collide with
    * the stored ones — probing with mismatched parameters would return
    * a silently near-empty candidate set, not an error. The sidecar
    * makes that a hard failure instead.
    */
  def storedParams(spark: SparkSession, path: String): Option[(Int, Int)] =
    params.get(spark, path)

  private def requireParamsMatch(spark: SparkSession, path: String,
      radius: Int, blocks: Int): Unit =
    storedParams(spark, path).foreach { case (r, b) =>
      require(r == radius && b == blocks,
        s"SimHashIndex at $path was built with (radius=$r, blocks=$b); " +
          s"probing/appending with (radius=$radius, blocks=$blocks) would " +
          "generate band keys that never match the stored ones")
    }

  /** Write the banding index for an initial corpus (overwrites), plus
    * the `_params` sidecar recording (radius, blocks).
    */
  def build(
      docs: DataFrame,
      path: String,
      idCol: String,
      textCol: String,
      radius: Int = 3,
      blocks: Int = 6,
      maxBucketSize: Long = 100000L): Unit = {
    core.write(SimHashDedup.bandKeys(docs, idCol, textCol, radius, blocks),
      path, "overwrite", maxBucketSize)
    params.put(docs.sparkSession, path, (radius, blocks))
  }

  /** Append a new batch's band keys (call AFTER deduping the batch
    * against the index). Parameters are validated against the sidecar.
    */
  def append(
      docs: DataFrame,
      path: String,
      idCol: String,
      textCol: String,
      radius: Int = 3,
      blocks: Int = 6,
      maxBucketSize: Long = 100000L): Unit = {
    requireParamsMatch(docs.sparkSession, path, radius, blocks)
    core.write(SimHashDedup.bandKeys(docs, idCol, textCol, radius, blocks),
      path, "append", maxBucketSize)
  }

  /** Compact the band-key table into a SUCCESSOR directory (the
    * `_params` sidecar rides along) — see [[IndexMaintenance]] for why
    * never in place. Probes through the successor are bit-identical
    * (pinned in SimHashIndexSpec).
    */
  def compact(spark: SparkSession, path: String, outPath: String,
      targetFiles: Int = 8): Unit =
    core.compact(spark, path, outPath, targetFiles)

  /** Candidate pairs INVOLVING the new batch, with exact Hamming
    * distances: new-vs-indexed plus new-vs-new. Returns
    * `(id_a, id_b, hamming)` with `id_a < id_b`.
    */
  def incrementalCandidates(
      spark: SparkSession,
      path: String,
      newDocs: DataFrame,
      idCol: String,
      textCol: String,
      radius: Int = 3,
      blocks: Int = 6,
      maxBucketSize: Long = 100000L): DataFrame = {
    requireParamsMatch(spark, path, radius, blocks)
    core.probe(spark, path,
      SimHashDedup.bandKeys(newDocs, idCol, textCol, radius, blocks),
      maxBucketSize)
  }

  /** Pairs involving the batch within `radius` Hamming distance — pure
    * SimHash semantics; old-side verification uses only the indexed
    * signature, never historical text.
    */
  def incrementalNearDupPairs(
      spark: SparkSession,
      path: String,
      newDocs: DataFrame,
      idCol: String,
      textCol: String,
      radius: Int = 3,
      blocks: Int = 6,
      maxBucketSize: Long = 100000L): DataFrame =
    incrementalCandidates(spark, path, newDocs, idCol, textCol,
        radius, blocks, maxBucketSize)
      .filter(col("hamming") <= radius)

  /** Banding candidates with exact shingle-Jaccard verification against
    * `allDocs` (must cover batch and indexed ids — Jaccard needs text;
    * only candidate ids are read). Same contract and same scale valve
    * as [[SimHashDedup.nearDupPairsJaccard]]: candidates are prefiltered
    * to `hamming <= radius` before the shingle-array verification join,
    * so out-of-radius combo collisions die as two-long rows instead of
    * hauling document shingles through the shuffle.
    */
  def incrementalNearDupPairsJaccard(
      spark: SparkSession,
      path: String,
      newDocs: DataFrame,
      allDocs: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      // same defaults as build/append (not SimHashDedup's Jaccard form's
      // 5/8): the index's key scheme is fixed at build time, so every
      // entry point must agree by default — mismatches are also caught
      // against the `_params` sidecar
      radius: Int = 3,
      blocks: Int = 6,
      shingleWords: Int = 3,
      maxBucketSize: Long = 100000L): DataFrame = {
    val cands = incrementalNearDupPairs(spark, path, newDocs, idCol,
        textCol, radius, blocks, maxBucketSize)
      .materialized
    JaccardVerify.verify(cands, BandIndex.candidateRows(cands, allDocs, idCol),
      idCol, textCol, threshold, shingleWords)
  }

  /** Buckets whose cross-batch occupancy exceeds the per-batch cap —
    * the incremental-vs-full divergence signal (see [[MinHashIndex]]).
    */
  def cappedBucketReport(
      spark: SparkSession,
      path: String,
      maxBucketSize: Long = 100000L): DataFrame =
    core.cappedBucketReport(spark, path, maxBucketSize)

  /** Tombstone-forget indexed docs — the takedown path; see
    * [[IndexMaintenance.appendTombstones]] for the full contract
    * (probes anti-join history against `_dels`; compact materializes;
    * no re-ingest while the tombstone is live).
    */
  def forget(path: String, ids: DataFrame): Unit =
    IndexMaintenance.appendTombstones(path, ids)
}
