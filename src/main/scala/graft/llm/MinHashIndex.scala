package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.Iterate.MaterializeOps

/** Persisted MinHash band-key index — near-dup detection as an
  * INCREMENTAL operation: dedup each arriving batch against the
  * already-ingested corpus without ever re-clustering it.
  *
  * The index is the corpus's (id, band, bkey) table
  * ([[MinHashDedup.bandKeys]]). A new batch generates its own band
  * keys, joins them against the index (new-vs-old candidates) and
  * against itself (new-vs-new), and only those candidates are
  * jaccard-verified. Per batch, cost scales with |batch| × bucket
  * occupancy — the 100 TB history is touched only through the band-key
  * join, never re-shingled, never re-signed.
  *
  * The write, probe, compaction and occupancy report — with the
  * hot-bucket caps and the "re-append on any doubt" crash contract —
  * are the [[BandIndex]] core's. The exact indexes ([[LineDedupIndex]]/[[CmsIndex]]/
  * [[Bm25Index]]), where a torn write would corrupt counts rather than
  * recall, use versioned commit-marker writes instead ([[IndexVersions]]).
  */
object MinHashIndex {

  /** Buckets whose CROSS-BATCH occupancy (distinct ids) in the persisted
    * index exceeds `maxBucketSize` — exactly the condition under which
    * incremental results can diverge from a single-pass full-corpus run
    * (each batch stayed under the cap, but the union did not, so a full
    * run would have dropped the bucket while the incremental path kept
    * it — or vice versa). Empty report ⇒ parity-equivalent. Returns
    * (band, bkey, occupancy).
    */
  def cappedBucketReport(
      spark: SparkSession,
      path: String,
      maxBucketSize: Long = 100000L): DataFrame =
    core.cappedBucketReport(spark, path, maxBucketSize)

  /** The banding geometry an index was BUILT with, persisted as a
    * `_geom/` sidecar inside the index directory ([[BandIndex.Sidecar]]).
    * Probes and appends derive their geometry FROM the sidecar: band keys
    * joined across mismatched (numHashes, bands) silently produce ~zero
    * candidates — a recall collapse, not an error — so geometry must
    * travel with the index, never be re-guessed per call.
    */
  final case class Geometry(numHashes: Int, bands: Int, shingleWords: Int)

  // the one place the append/probe signature defaults live — the
  // passed-on-purpose heuristic in warnIfArgsConflict compares against
  // these, so a default change cannot silently desynchronize it
  private val DefaultNumHashes = 32
  private val DefaultBands = 8
  private val DefaultShingleWords = 3

  private val geom = new BandIndex.Sidecar[Geometry]("_geom",
    "num_hashes INT, bands INT, shingle_words INT",
    r => Geometry(r.getInt(0), r.getInt(1), r.getInt(2)))
  private val core = new BandIndex(Seq("band", "bkey"), sidecar = Some(geom))

  /** The persisted geometry, or None for a pre-sidecar (legacy) index.
    * Cached per path on the driver, so one writer per index path is
    * assumed: a rebuild at the same path by another process is not seen
    * (see [[BandIndex.Sidecar]]). Only ABSENCE maps to None: a transient read failure or a corrupt
    * (rowless) sidecar must propagate, because silently falling back to
    * call-site defaults is exactly the mismatched-geometry recall
    * collapse the sidecar exists to prevent.
    */
  def geometry(spark: SparkSession, path: String): Option[Geometry] =
    geom.get(spark, path)

  /** The sidecar wins over the caller's geometry (mismatched band keys
    * join to ~nothing), but the override is surfaced: warn when the
    * caller's args differ from BOTH the method defaults (i.e. were
    * plausibly passed on purpose) and the persisted values. Legacy
    * indexes without a sidecar use the caller's args.
    *
    * Accepted residual gap: a caller who DELIBERATELY passes geometry
    * equal to the method defaults (32/8/3) against a sidecar persisting
    * different values gets the silent override with no warning —
    * indistinguishable from not passing args at all, because Scala
    * default parameters erase that difference at the call site. The
    * alternative (splitting probe/append into geometry-free overloads)
    * would break every existing call site for a warning-only gain; the
    * sidecar remains authoritative either way, which is the property
    * that protects recall.
    */
  private def resolve(spark: SparkSession, path: String, op: String,
      numHashes: Int, bands: Int, shingleWords: Int): Geometry = {
    val passed = Geometry(numHashes, bands, shingleWords)
    val side = geometry(spark, path)
    side.filter(g => g != passed &&
        passed != Geometry(DefaultNumHashes, DefaultBands, DefaultShingleWords))
      .foreach(g => System.err.println(
        s"[minhash-index] $op: caller geometry (numHashes=$numHashes, " +
          s"bands=$bands, shingleWords=$shingleWords) conflicts with the " +
          s"index's _geom sidecar (${g.numHashes}, ${g.bands}, " +
          s"${g.shingleWords}); the sidecar wins — keys computed under " +
          "any other geometry would match ~nothing"))
    side.getOrElse(passed)
  }

  private def keys(docs: DataFrame, idCol: String, textCol: String,
      g: Geometry): DataFrame =
    MinHashDedup.bandKeys(docs, idCol, textCol, g.numHashes, g.bands,
      g.shingleWords)

  /** Write the band-key index for an initial corpus (overwrites),
    * `bands = 0` self-calibrating for `calibrateThreshold` via
    * [[MinHashDedup.bandsFor]]. The geometry is persisted in the
    * `_geom/` sidecar; every later append/probe follows it.
    */
  def build(
      docs: DataFrame,
      path: String,
      idCol: String,
      textCol: String,
      numHashes: Int = 32,
      bands: Int = 0,
      shingleWords: Int = 3,
      maxBucketSize: Long = 100000L,
      calibrateThreshold: Double = 0.5): Unit = {
    val g = Geometry(numHashes,
      if (bands == 0) MinHashDedup.bandsFor(calibrateThreshold, numHashes)
      else bands, shingleWords)
    core.write(keys(docs, idCol, textCol, g), path, "overwrite", maxBucketSize)
    geom.put(docs.sparkSession, path, g)
  }

  /** Append a new batch's band keys to the index (call AFTER the batch
    * has been deduped against it). Geometry comes from the `_geom`
    * sidecar when present — the arguments apply only to a legacy index
    * without one.
    */
  def append(
      docs: DataFrame,
      path: String,
      idCol: String,
      textCol: String,
      numHashes: Int = DefaultNumHashes,
      bands: Int = DefaultBands,
      shingleWords: Int = DefaultShingleWords,
      maxBucketSize: Long = 100000L): Unit = {
    val g = resolve(docs.sparkSession, path, "append", numHashes, bands,
      shingleWords)
    core.write(keys(docs, idCol, textCol, g), path, "append", maxBucketSize)
  }

  /** Compact the band-key table (and its `_geom` sidecar) into a
    * SUCCESSOR directory — see [[IndexMaintenance]] for why never in
    * place. Probes through the successor are bit-identical (pinned in
    * MinHashIndexSpec); any tombstones ([[forget]]) are materialized by
    * the rewrite.
    */
  def compact(spark: SparkSession, path: String, outPath: String,
      targetFiles: Int = 8): Unit =
    core.compact(spark, path, outPath, targetFiles)

  /** Tombstone-forget indexed docs — the takedown path; see
    * [[IndexMaintenance.appendTombstones]] for the full contract
    * (probes anti-join history against `_dels`; compact materializes;
    * no re-ingest while the tombstone is live).
    */
  def forget(path: String, ids: DataFrame): Unit =
    IndexMaintenance.appendTombstones(path, ids)

  /** Near-dup pairs INVOLVING the new batch: new-vs-indexed plus
    * new-vs-new, LSH candidates jaccard-verified at `threshold`
    * against `allDocs` (which must cover both the batch's and the
    * indexed ids — verification needs the text; only candidate ids are
    * read). Returns (id_a, id_b, jaccard) with id_a < id_b, exactly the
    * subset of the full-corpus [[MinHashDedup.nearDupPairs]] that
    * touches the batch.
    */
  def incrementalNearDupPairs(
      spark: SparkSession,
      path: String,
      newDocs: DataFrame,
      allDocs: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      numHashes: Int = DefaultNumHashes,
      bands: Int = DefaultBands,
      shingleWords: Int = DefaultShingleWords,
      maxBucketSize: Long = 100000L): DataFrame = {
    val g = resolve(spark, path, "incrementalNearDupPairs", numHashes, bands,
      shingleWords)
    val cands = core.probe(spark, path, keys(newDocs, idCol, textCol, g),
      maxBucketSize).materialized
    JaccardVerify.verify(cands, BandIndex.candidateRows(cands, allDocs, idCol),
      idCol, textCol, threshold, g.shingleWords)
  }
}
