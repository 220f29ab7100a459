package graft.llm

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.operators.BucketCaps
import graft.operators.Iterate.MaterializeOps

/** The shared core of the persisted band-key index wing
  * ([[MinHashIndex]], [[SimHashIndex]], [[graft.multimodal.PHashIndex]],
  * [[EmbeddingLshIndex]]). Each index derives presence-only band rows
  * `(id, bucket..., payload...)` from its own input and keeps its own
  * verifier and its caller-vs-sidecar rule; everything between lives
  * here once: the capped write, the probe, compaction and the occupancy
  * report. Forget is [[IndexMaintenance.appendTombstones]] on the index
  * root.
  *
  * `pairCols(a, b)` derives per-pair columns (a Hamming distance) from
  * the payload of the two matched rows, addressed by their aliases. It
  * must be symmetric in `a` and `b`: the new-vs-old side passes them in
  * join order, not id order.
  *
  * Layout under an index root `path`: the band table is `tables.head`
  * (`""` = the root itself), `tables.tail` are further flat tables
  * compacted alongside it, `sidecar` is the optional one-row parameter
  * table, and `_dels` holds [[IndexMaintenance]] tombstones.
  *
  * Hot-bucket posture: writes cap buckets WITHIN the written batch and
  * the probe caps the new batch's keys, so a degenerate bucket fans out
  * at most capᵒˡᵈ × capⁿᵉʷ per band — never quadratic in the corpus.
  * Cross-batch occupancy can exceed one batch's cap;
  * [[cappedBucketReport]] makes that observable.
  *
  * Crash semantics of the flat append layout: a writer dying before job
  * commit leaves its files under `_temporary` (invisible to reads);
  * dying DURING commit can leave a torn batch — a subset of its band
  * rows visible. Re-appending the batch after either crash is SAFE:
  * band rows are presence-only, duplicates only add candidate-join work,
  * and the probe's `distinct()` collapses them — the retry discipline is
  * "re-append on any doubt". A torn batch left without retry costs
  * recall on the torn rows only, never precision.
  */
final class BandIndex(bucket: Seq[String],
    pairCols: (String, String) => Seq[Column] = (_, _) => Nil,
    tables: Seq[String] = Seq(""),
    sidecar: Option[BandIndex.Sidecar[_ <: Product]] = None) {

  private def table(path: String, t: String) = if (t.isEmpty) path else s"$path/$t"
  private def bandTable(path: String) = table(path, tables.head)

  /** Write a batch's band rows, buckets capped within the batch
    * (`mode` "overwrite" at build, "append" after).
    */
  def write(keys: DataFrame, path: String, mode: String,
      maxBucketSize: Long): Unit =
    BucketCaps.capBuckets(keys, bucket.map(col), maxBucketSize)
      .write.mode(mode).parquet(bandTable(path))

  /** Candidate pairs touching a new batch whose band rows are `newKeys`:
    * `broadcast(new) ⋈ (history − tombstones)` ∪ `new ⋈ new` on the
    * bucket columns, then `distinct`. Returns `(id_a, id_b)` with
    * `id_a < id_b`, then the `pairCols`. The batch keys are capped and
    * materialized once (two join consumers) and BROADCAST: the persisted
    * table is the corpus-sized side and must stream map-side past the
    * probe — without the hint Spark has no size estimate for the
    * computed keys and shuffles both sides, a corpus-sized shuffle per
    * batch.
    */
  def probe(spark: SparkSession, path: String, newKeys: DataFrame,
      maxBucketSize: Long): DataFrame = {
    val keys = BucketCaps.capBuckets(newKeys, bucket.map(col), maxBucketSize)
      .materialized
    val history = IndexMaintenance.minusTombstones(spark, path,
      spark.read.parquet(bandTable(path)))
    def sameBucket(l: String, r: String) =
      bucket.map(c => col(s"$l.$c") === col(s"$r.$c")).reduce(_ && _)
    val newVsOld = broadcast(keys.as("n"))
      .join(history.as("o"), sameBucket("n", "o") && col("n.id") =!= col("o.id"))
      .select(Seq(least(col("n.id"), col("o.id")).as("id_a"),
        greatest(col("n.id"), col("o.id")).as("id_b")) ++ pairCols("n", "o"): _*)
    val newVsNew = broadcast(keys.as("l"))
      .join(keys.as("r"), sameBucket("l", "r") && col("l.id") < col("r.id"))
      .select(Seq(col("l.id").as("id_a"), col("r.id").as("id_b")) ++
        pairCols("l", "r"): _*)
    newVsOld.union(newVsNew).distinct()
  }

  /** Compact every table into a SUCCESSOR directory (see
    * [[IndexMaintenance]] for why never in place), tombstones
    * materialized, sidecar carried along: probes through the successor
    * are bit-identical.
    */
  def compact(spark: SparkSession, path: String, outPath: String,
      targetFiles: Int): Unit = {
    tables.foreach(t => IndexMaintenance.compactTable(spark, table(path, t),
      table(outPath, t), targetFiles, Some(path)))
    sidecar.foreach(_.copy(spark, path, outPath))
  }

  /** Buckets whose cross-batch occupancy — DISTINCT ids, so a retried
    * append's duplicate rows count once — exceeds `maxBucketSize`: the
    * condition under which incremental results can diverge from a
    * single-pass full-corpus run (each batch stayed under the cap, the
    * union did not). Empty ⇒ parity-equivalent. Returns
    * `(bucket..., occupancy)`.
    */
  def cappedBucketReport(spark: SparkSession, path: String,
      maxBucketSize: Long): DataFrame =
    BucketCaps.overflowBuckets(
      spark.read.parquet(bandTable(path)).select(("id" +: bucket).map(col): _*)
        .distinct(), bucket.map(col), maxBucketSize)
}

object BandIndex {

  /** `rows` restricted to the ids that candidate pairs `(id_a, id_b)`
    * touch: the verification input may be the whole corpus, and
    * shingling + shuffling non-candidate rows was the measured
    * corpus-proportional term of the streamed probes.
    */
  def candidateRows(cands: DataFrame, rows: DataFrame, idCol: String): DataFrame =
    rows.join(cands.select(col("id_a").as(idCol))
      .union(cands.select(col("id_b").as(idCol))).distinct(), Seq(idCol), "left_semi")

  /** A one-row parameter table persisted as `path/<name>` inside an index
    * (underscore-prefixed ⇒ invisible to the band table's own parquet
    * reads). Band keys computed under other parameters join to ~nothing
    * — a silent recall collapse, not an error — so the parameters travel
    * with the index.
    *
    * With `cached` (the default), values are cached per path on the
    * driver after the first read. That assumes ONE WRITER PER PATH: an
    * index is immutable once built and every rebuild in this JVM goes
    * through [[put]], which refreshes the entry — but a rebuild at the
    * same path by ANOTHER process is not seen, and this JVM keeps using
    * the old parameters. A sidecar that only guards (a fail-fast check
    * against caller parameters) passes `cached = false` and reads the
    * table on every call.
    *
    * Only ABSENCE reads as None (a legacy index): a sidecar directory
    * holding no row (an interrupted build) fails with a diagnosis,
    * never a silent fallback to call-site values.
    */
  final class Sidecar[P <: Product](name: String, ddl: String, fromRow: Row => P,
      cached: Boolean = true) {
    private val cache = new java.util.concurrent.ConcurrentHashMap[String, P]()
    private val schema =
      StructType(StructType.fromDDL(ddl).map(_.copy(nullable = false)))

    def get(spark: SparkSession, path: String): Option[P] =
      Option(cache.get(path)).orElse {
        val p = new org.apache.hadoop.fs.Path(s"$path/$name")
        if (!p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)) None
        else {
          val v = fromRow(spark.read.parquet(p.toString).collect().headOption
            .getOrElse(throw new IllegalStateException(
              s"corrupt $name sidecar at $path/$name: directory exists but " +
                "holds no parameter row (interrupted index build?) — rebuild " +
                "the index or restore the sidecar")))
          if (cached) cache.put(path, v)
          Some(v)
        }
      }

    def put(spark: SparkSession, path: String, v: P): Unit = {
      spark.createDataFrame(java.util.List.of(Row.fromTuple(v)), schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$path/$name")
      if (cached) cache.put(path, v)
    }

    def copy(spark: SparkSession, from: String, to: String): Unit =
      get(spark, from).foreach(put(spark, to, _))
  }
}
