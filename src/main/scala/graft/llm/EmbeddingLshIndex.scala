package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions
import graft.operators.BucketCaps
import graft.operators.Iterate.MaterializeOps

/** Persisted hyperplane-LSH band index — embedding-level near-dup
  * detection as an INCREMENTAL operation, the vector member of the
  * band-key index wing (text: [[MinHashDedup]]'s persisted sibling,
  * perceptual: [[graft.multimodal.PHashIndex]]): each arriving batch
  * dedups against the already-ingested corpus through a signature-key
  * join, and history is never re-embedded or re-scanned from the
  * source corpus.
  *
  * Layout is TWO flat-append tables under `path`:
  *   - `bands/` — the signature rows `(id, table, sig)`, one per LSH
  *     table (the join side; 24 bytes/row × tables per vector);
  *   - `vecs/`  — the vectors `(id, v)` stored ONCE (the verification
  *     side; candidates re-join here for the exact cosine).
  * Splitting them keeps the band join narrow — at 100 TB the shuffle
  * carries (id, table, sig) only, and full vectors attach to the
  * candidate PAIRS (bounded by bucket occupancy), not to every band
  * row. Signatures use [[EmbeddingKnn.rademacherPlanes]], so an
  * external engine can rebuild them and the incremental result is
  * contractually EQUAL to the one-shot [[EmbeddingKnn.nearDupPairsLsh]]
  * on the accumulated corpus (same planes, same caps, same rounding).
  *
  * Crash semantics match the band-key wing: flat append, torn batches
  * cost recall on the torn vectors only — a band row whose vector is
  * missing produces a candidate the verification join drops; a vector
  * whose band rows are missing is never a candidate. Either way
  * precision is unharmed, so the retry discipline is "re-append on any
  * doubt". Cross-batch bucket-occupancy divergence is observable via
  * [[cappedBucketReport]]. The band write, probe, compaction (both
  * tables plus `_geom/`) and report are the [[BandIndex]] core's.
  */
object EmbeddingLshIndex {

  /** Sentinel for geometry parameters: resolve from the index's
    * persisted build geometry (probe/append/cleanse), or — at [[build]]
    * — pick `planesPerTable` by the measured decade law
    * ([[defaultPlanesPerTable]]). Explicit values always win, but when
    * the index carries a geometry record they are VALIDATED against it:
    * probing with geometry that differs from the build's produces
    * signatures that never match (silent 0-recall), so a mismatch is
    * always a caller bug and fails fast.
    */
  final val Auto = 0
  final val AutoSeed = Long.MinValue

  /** The four signature-defining parameters. Persisted at build as a
    * one-row parquet sidecar `_geom/` so later appends and probes can't
    * under- or mis-set them (the round-8 RecallCurves finding: p
    * under-set by one decade costs two orders of magnitude of
    * candidates — 371M at p=12/200k vs 2.85M at p=20).
    */
  final case class Geometry(
      tables: Int, planesPerTable: Int, dim: Int, seed: Long)

  /** What every pre-sidecar index was built with (the historical
    * signature defaults) — the fallback when `_geom/` is absent.
    */
  private val LegacyGeometry = Geometry(8, 8, 64, 42L)

  /** planesPerTable by the decade law measured in the round-8 recall
    * curves: hold expected bucket occupancy n/2^p at ≤ 8 vectors, i.e.
    * p = ceil(log₂(n/8)), floored at the historical default 8 (the law
    * only binds above 2^11 vectors) and capped at 48 (sig is a Long;
    * beyond ~48 planes the per-table dot-product cost dwarfs any
    * occupancy win). Measured anchors: 2k vecs → 8 planes (avg bucket
    * 7.8), 20k → 12 (5.3), 200k → 15-16 (3.9); under-setting by a
    * decade at 200k blew candidates 130× (371M vs 2.85M).
    */
  def defaultPlanesPerTable(n: Long): Int =
    if (n <= 2048L) 8
    else math.min(48, math.ceil(
      math.log(n / 8.0) / math.log(2.0)).toInt)

  private val geom = new BandIndex.Sidecar[Geometry]("_geom",
    "tables INT, planes_per_table INT, dim INT, seed BIGINT",
    r => Geometry(r.getInt(0), r.getInt(1), r.getInt(2), r.getLong(3)))
  private val core = new BandIndex(Seq("table", "sig"),
    tables = Seq("bands", "vecs"), sidecar = Some(geom))

  /** The persisted build geometry, when the index carries one — cached
    * per path on the driver, so one writer per index path is assumed: a
    * rebuild at the same path by another process is not seen (see
    * [[BandIndex.Sidecar]]).
    */
  def geometry(spark: SparkSession, path: String): Option[Geometry] =
    geom.get(spark, path)

  /** Geometry for a batch with no index yet: explicit values, else the
    * legacy defaults, with `planesPerTable` by the decade law.
    */
  private def fresh(batch: DataFrame, tables: Int, planesPerTable: Int,
      dim: Int, seed: Long): Geometry = Geometry(
    if (tables == Auto) LegacyGeometry.tables else tables,
    if (planesPerTable == Auto) defaultPlanesPerTable(batch.count())
    else planesPerTable,
    if (dim == Auto) LegacyGeometry.dim else dim,
    if (seed == AutoSeed) LegacyGeometry.seed else seed)

  /** Resolve (and validate) probe-side geometry against the sidecar. */
  private def resolve(spark: SparkSession, path: String,
      tables: Int, planesPerTable: Int, dim: Int, seed: Long): Geometry = {
    val g = geometry(spark, path)
    val base = g.getOrElse(LegacyGeometry)
    def pick[T](explicitV: T, auto: T, geomV: T, name: String): T =
      if (explicitV == auto) geomV
      else {
        require(g.isEmpty || explicitV == geomV,
          s"$name=$explicitV contradicts the index's build geometry " +
            s"($name=$geomV) at $path — mismatched geometry produces " +
            "signatures that never match (silent zero recall)")
        explicitV
      }
    Geometry(pick(tables, Auto, base.tables, "tables"),
      pick(planesPerTable, Auto, base.planesPerTable, "planesPerTable"),
      pick(dim, Auto, base.dim, "dim"), pick(seed, AutoSeed, base.seed, "seed"))
  }

  /** `keep` plus one `(table, sig)` row per LSH table of `vecCol`. */
  private def bandRows(batch: DataFrame, vecCol: String, g: Geometry,
      keep: Column*): DataFrame =
    batch.select(keep :+
      posexplode(array((0 until g.tables).map(t =>
        EmbeddingKnn.lshSignature(col(vecCol),
          EmbeddingKnn.rademacherPlanes(g.planesPerTable, g.dim, g.seed,
            planeOffset = t * g.planesPerTable))): _*))
        .as(Seq("table", "sig")): _*)

  /** Write the index for an initial batch `(id, vec)`. With
    * `planesPerTable = Auto` the plane count follows the measured
    * decade law ([[defaultPlanesPerTable]]) from the build batch's
    * cardinality; either way the chosen geometry is persisted as the
    * `_geom/` sidecar so appends and probes resolve (and explicit
    * callers are validated) against what was actually built. A corpus
    * that later outgrows its build-time plane count signals through
    * [[cappedBucketReport]] / deepening buckets — the re-index cue.
    */
  def build(batch: DataFrame, path: String,
      idCol: String = "vec_id", vecCol: String = "embedding",
      tables: Int = Auto, planesPerTable: Int = Auto, dim: Int = Auto,
      seed: Long = AutoSeed, maxBucketSize: Long = 100000L): Unit = {
    val vecs = batch.select(col(idCol).as("id"), col(vecCol).as("v"))
    val g = fresh(vecs, tables, planesPerTable, dim, seed)
    vecs.write.mode("overwrite").parquet(s"$path/vecs")
    core.write(bandRows(batch, vecCol, g, col(idCol).as("id")), path,
      "overwrite", maxBucketSize)
    geom.put(batch.sparkSession, path, g)
  }

  /** Append a new batch (call AFTER probing it). Geometry resolves
    * from the `_geom/` sidecar (explicit values validated against it).
    */
  def append(batch: DataFrame, path: String,
      idCol: String = "vec_id", vecCol: String = "embedding",
      tables: Int = Auto, planesPerTable: Int = Auto, dim: Int = Auto,
      seed: Long = AutoSeed, maxBucketSize: Long = 100000L): Unit = {
    val g = resolve(batch.sparkSession, path, tables, planesPerTable,
      dim, seed)
    batch.select(col(idCol).as("id"), col(vecCol).as("v"))
      .write.mode("append").parquet(s"$path/vecs")
    core.write(bandRows(batch, vecCol, g, col(idCol).as("id")), path,
      "append", maxBucketSize)
  }

  /** TOMBSTONE-forget indexed vectors — the takedown path, mirroring
    * [[Bm25Index.deleteDocs]] in the exact tier: the ids are appended to
    * `_dels/` and every probe and [[cleanseWith]] anti-joins its history
    * against it; [[compact]] materializes the delete. See
    * [[IndexMaintenance.appendTombstones]] for the crash contract and
    * the no-re-ingest rule. `ids`' first column is taken as the vector
    * id, cast to the tables' long.
    */
  def forget(spark: SparkSession, path: String, ids: DataFrame): Unit =
    IndexMaintenance.appendTombstones(path,
      ids.select(col(ids.columns.head).cast("long")))

  /** Buckets whose cross-batch occupancy (distinct ids) exceeds the cap —
    * the condition under which incremental results can diverge from a
    * single-pass run (same divergence contract as
    * [[graft.llm.Containment.hotShingles]]).
    */
  def cappedBucketReport(spark: SparkSession, path: String,
      maxBucketSize: Long = 100000L): DataFrame =
    core.cappedBucketReport(spark, path, maxBucketSize)

  /** Pre-flight divergence report: buckets of `batch` that exceed the
    * cap and will be dropped at write — the embedding analogue of
    * [[Containment.hotShingles]]. Dense semantic clusters share sign
    * bits at ANY signature resolution, so their buckets deepen with
    * the corpus and their pair sets grow quadratically; this report
    * names the mass the pairwise path will NOT cover, so callers can
    * route it to the clustering path (k-means cell pruning, q90's
    * protocol) instead of silently losing it.
    */
  def hotInputBuckets(batch: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      tables: Int = Auto, planesPerTable: Int = Auto, dim: Int = Auto,
      seed: Long = AutoSeed, maxBucketSize: Long = 100000L): DataFrame = {
    // pre-flight (no index yet): Auto resolves exactly as build would,
    // so the report names what a subsequent default build will drop
    val g = fresh(batch, tables, planesPerTable, dim, seed)
    BucketCaps.overflowBuckets(bandRows(batch, vecCol, g, col(idCol).as("id")),
      Seq(col("table"), col("sig")), maxBucketSize)
  }

  /** Compact a flat-append index into a SUCCESSOR directory: after
    * many small appends (each streamed microbatch leaves
    * shuffle-partition-count band files), rewrite both tables into
    * `targetFiles` files each at `outPath`, tombstones materialized and
    * the geometry record carried — probes against the successor
    * hash-match probes against the original (pinned in the spec and by
    * q222's oracle). See [[IndexMaintenance]] for why a successor and
    * never an in-place swap.
    */
  def compact(spark: SparkSession, path: String, outPath: String,
      targetFiles: Int = 8): Unit =
    core.compact(spark, path, outPath, targetFiles)

  /** Admission-time semantic decontamination against a PERSISTED
    * reference index: the rows of `batch` whose vector has NO banded
    * near-dup (candidate in some LSH table with rounded cosine ≥
    * `threshold`) among the INDEXED vectors — the streaming-ingest
    * member of the cleanse family, mirroring
    * [[SpanDedupIndex.cleanseWith]]. Unlike [[incrementalNearDupPairs]]
    * this probes the index ONLY (no batch-internal pairs: a reference
    * suite is a fixed contamination source, batch cohesion is dedup's
    * job), and the index is read as ONE broadcast (bands ⋈ vecs — an
    * eval/benchmark set is small by construction), so the batch never
    * shuffles: band rows carry the batch vector map-side into the
    * verify, and the only exchange is the distinct over contaminated
    * ids. Geometry resolves from (and is validated against) the
    * `_geom/` sidecar — it must match what the index was built with.
    */
  def cleanseWith(spark: SparkSession, path: String, batch: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      threshold: Double = 0.9, tables: Int = Auto, planesPerTable: Int = Auto,
      dim: Int = Auto, seed: Long = AutoSeed, roundSim: Int = 6): DataFrame = {
    val g = resolve(spark, path, tables, planesPerTable, dim, seed)
    val ref = broadcast(
      IndexMaintenance.minusTombstones(spark, path,
          spark.read.parquet(s"$path/bands")).as("b")
        .join(spark.read.parquet(s"$path/vecs").as("v"),
          col("b.id") === col("v.id"))
        .select(col("b.table"), col("b.sig"), col("v.v").as("rv")))
    val contaminated = bandRows(batch, vecCol, g, col(idCol).as("cid"),
        col(vecCol).as("cv"))
      .join(ref, Seq("table", "sig"))
      .filter(round(VectorFunctions.cosine(col("cv"), col("rv")), roundSim)
        >= threshold)
      .select(col("cid").as(idCol)).distinct()
    batch.join(broadcast(contaminated), Seq(idCol), "left_anti")
  }

  /** Near-dup pairs of a NEW vector batch against indexed history AND
    * itself: `(id_a, id_b, sim)` with rounded cosine ≥ `threshold`.
    * Candidates come from the narrow band join; verification joins the
    * candidate pairs back to the batch's vectors ∪ the index's `vecs/`
    * table — the source corpus is never re-read. Probe BEFORE
    * [[append]]ing the batch.
    */
  def incrementalNearDupPairs(
      spark: SparkSession,
      path: String,
      batch: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      threshold: Double = 0.9,
      tables: Int = Auto, planesPerTable: Int = Auto, dim: Int = Auto,
      seed: Long = AutoSeed, maxBucketSize: Long = 100000L,
      roundSim: Int = 6): DataFrame = {
    val g = resolve(spark, path, tables, planesPerTable, dim, seed)
    // tombstoned ids leave the candidate space in the probe: pairs only
    // ever form through a band join, so filtering the history bands is
    // sufficient (a forgotten id's stale vecs row can never be probed)
    val pairs = core.probe(spark, path,
      bandRows(batch, vecCol, g, col(idCol).as("id")), maxBucketSize).materialized
    // verify only the candidate ids' vectors: the history vec table is
    // corpus-sized. dropDuplicates keeps a retried append (duplicate vec
    // rows) from fanning out the join.
    val lookup = BandIndex.candidateRows(pairs,
        batch.select(col(idCol).as("id"), col(vecCol).as("v"))
          .union(spark.read.parquet(s"$path/vecs")), "id")
      .dropDuplicates("id")
    pairs
      .join(lookup.select(col("id").as("id_a"), col("v").as("va")), Seq("id_a"))
      .join(lookup.select(col("id").as("id_b"), col("v").as("vb")), Seq("id_b"))
      .withColumn("sim",
        round(VectorFunctions.cosine(col("va"), col("vb")), roundSim))
      .filter(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), col("sim"))
  }
}
