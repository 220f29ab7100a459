package graft.multimodal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.llm.BandIndex

/** Persisted perceptual-hash band index — image (or audio/video-frame)
  * near-dup detection as an INCREMENTAL operation, the multimodal
  * member of the band-key index wing ([[graft.llm.MinHashIndex]],
  * [[graft.llm.SimHashIndex]]): each arriving batch dedups against the
  * already-ingested corpus through a band-key join, and history is
  * never re-decoded or re-hashed.
  *
  * The index rows are the band-exploded hashes
  * `(id, h1, h2, band, key)` — and because the 64-bit fingerprint IS
  * the verification input (exact XOR popcount, no raster access), the
  * probe path never touches historical image bytes at all: candidate
  * generation AND verification both run off the index. That is the
  * whole-pipeline version of the property that makes perceptual
  * hashing deployable at 100 TB — the media bytes are read once, at
  * ingest.
  *
  * The write, probe (each pair's Hamming distance comes from the two
  * stored hashes), compaction and report — with the wing's caps
  * and "re-append on any doubt" crash contract — are the [[BandIndex]]
  * core's.
  */
object PHashIndex {

  private val core = new BandIndex(Seq("band", "key"), (a, b) => Seq(
    (bit_count(col(s"$a.h1").bitwiseXOR(col(s"$b.h1"))) +
      bit_count(col(s"$a.h2").bitwiseXOR(col(s"$b.h2")))).cast("long").as("hamming")))

  private def explodeBands(hashes: DataFrame, idCol: String): DataFrame =
    hashes.select(col(idCol).as("id"), col("h1"), col("h2"),
        explode(array(
          struct(lit(0).as("band"),
            col("h1").bitwiseAND(lit(0xffffL)).as("key")),
          struct(lit(1).as("band"), shiftright(col("h1"), 16).as("key")),
          struct(lit(2).as("band"),
            col("h2").bitwiseAND(lit(0xffffL)).as("key")),
          struct(lit(3).as("band"), shiftright(col("h2"), 16).as("key"))))
          .as("bx"))
      .select(col("id"), col("h1"), col("h2"),
        col("bx.band").as("band"), col("bx.key").as("key"))

  /** Write the band index for an initial hash table `(id, h1, h2)`. */
  def build(hashes: DataFrame, path: String, idCol: String = "id",
      maxBucketSize: Long = 10000L): Unit =
    core.write(explodeBands(hashes, idCol), path, "overwrite", maxBucketSize)

  /** Append a new batch's band rows (call AFTER probing the batch). */
  def append(hashes: DataFrame, path: String, idCol: String = "id",
      maxBucketSize: Long = 10000L): Unit =
    core.write(explodeBands(hashes, idCol), path, "append", maxBucketSize)

  /** Compact the band table into a SUCCESSOR directory — see
    * [[graft.llm.IndexMaintenance]] for why never in place. Probes
    * through the successor are bit-identical (pinned in PHashIndexSpec).
    */
  def compact(spark: SparkSession, path: String, outPath: String,
      targetFiles: Int = 8): Unit =
    core.compact(spark, path, outPath, targetFiles)

  /** Buckets whose cross-batch occupancy exceeds the cap — the
    * condition under which incremental results can diverge from a
    * single-pass run (see [[graft.llm.MinHashIndex.cappedBucketReport]]).
    */
  def cappedBucketReport(spark: SparkSession, path: String,
      maxBucketSize: Long = 10000L): DataFrame =
    core.cappedBucketReport(spark, path, maxBucketSize)

  /** Near-dup pairs of a NEW hash batch against indexed history AND
    * itself: `(id_a, id_b, hamming ≤ radius)`, verified entirely from
    * the carried hash halves. Probe BEFORE [[append]]ing the batch.
    */
  def incrementalNearDupPairs(
      spark: SparkSession,
      path: String,
      newHashes: DataFrame,
      idCol: String = "id",
      radius: Int = 8,
      maxBucketSize: Long = 10000L): DataFrame =
    core.probe(spark, path, explodeBands(newHashes, idCol), maxBucketSize)
      .filter(col("hamming") <= radius)

  /** Tombstone-forget indexed docs — the takedown path; see
    * [[graft.llm.IndexMaintenance.appendTombstones]] for the full contract
    * (probes anti-join history against `_dels`; compact materializes;
    * no re-ingest while the tombstone is live).
    */
  def forget(path: String, ids: DataFrame): Unit =
    graft.llm.IndexMaintenance.appendTombstones(path, ids)
}
