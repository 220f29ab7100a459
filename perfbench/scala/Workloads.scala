package graftbench

import java.io.File

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.Pipeline
import graft.llm._
import graft.operators.Iterate.MaterializeOps
import graft.streaming.StreamOps
import graft.tools.GenerateData

/** What a workload shares with the harness during one run. `checks` go to
  * the result file for the output checks; `info` describes the inputs.
  */
final class Ctx(val spark: SparkSession, val rec: Recorder, val seed: Long, val smoke: Boolean,
    val data: String, val work: String) {
  val checks = ArrayBuffer.empty[Map[String, Any]]
  val info = mutable.LinkedHashMap.empty[String, Any]
  var inputBytes = 0L
  def state(round: Int): String = s"$work/state/round=$round"
}

trait Workload {
  /** Generate the seeded inputs into `ctx.data` unless already cached there. */
  def prepare(ctx: Ctx): Unit
  /** One untimed pass over the same code paths as a round. */
  def warmup(ctx: Ctx): Unit
  /** One fixed unit of work; every public engine call in it is an op. */
  def round(ctx: Ctx, r: Int): Unit
  /** Output checks that need the engine; they run after the timed phase. */
  def verify(ctx: Ctx): Unit = ()
}

object Workloads {
  def byName(name: String): Workload = name match {
    case "pipeline" => Pipe
    case "neardup" => NearDup
    case "index_lifecycle" => Lifecycle
    case "stream_ingest" => Stream
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  def bytesUnder(path: String): Long = {
    val f = new File(path)
    if (f.isFile) f.length
    else Option(f.listFiles).map(_.map(c => bytesUnder(c.getPath)).sum).getOrElse(0L)
  }

  def deleteTree(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** One write, one file per value of `part`: `dir/part=K/`. */
  def stage(df: DataFrame, dir: String): Unit =
    df.repartition(col("part")).write.partitionBy("part").parquet(dir)

  /** Run `gen` into a fresh `dir` once; `_DONE` marks a complete cache. */
  def cached(dir: String)(gen: => Unit): Unit = {
    val done = new File(dir, "_DONE")
    if (!done.exists) {
      deleteTree(new File(dir))
      new File(dir).mkdirs()
      gen
      done.createNewFile()
    }
  }
}

/** The paper's job: read two Parquet inputs, dedup, count per (location,
  * item), keep the top 5 per location, broadcast-join location names,
  * write snappy Parquet. One op is one `Pipeline.processParquetFiles` call
  * into a fresh directory.
  */
object Pipe extends Workload {
  private def rows(ctx: Ctx) = if (ctx.smoke) 20000L else 150000L
  private val Locations = 10000
  private val Items = 1000

  def prepare(ctx: Ctx): Unit = {
    Workloads.cached(ctx.data) {
      val (a, b) = GenerateData.generate(ctx.spark, GenerateData.Config(dataARows = rows(ctx),
        dataBRows = Locations, duplicationRate = 0.15, skewLocationId = 1L, skewFactor = 5.0,
        numItems = Items, seed = ctx.seed))
      a.write.parquet(s"${ctx.data}/dataA")
      b.write.parquet(s"${ctx.data}/dataB")
    }
    ctx.inputBytes = Workloads.bytesUnder(ctx.data)
    ctx.info ++= Seq("detections" -> rows(ctx), "duplicate_share" -> 0.15, "skew_factor" -> 5.0,
      "skew_location_share" -> 0.7 * 5.0 / 6.0, "locations" -> Locations, "items" -> Items)
  }

  private def call(ctx: Ctx, out: String): Unit =
    Pipeline.processParquetFiles(ctx.spark, s"${ctx.data}/dataA", s"${ctx.data}/dataB", out, 5)

  def warmup(ctx: Ctx): Unit = call(ctx, s"${ctx.work}/warmup")

  def round(ctx: Ctx, r: Int): Unit = {
    val out = ctx.state(r)
    val op = ctx.rec.nextOpId
    ctx.rec.op("pipeline")(call(ctx, out))
    ctx.checks += Map("kind" -> "pipeline", "op" -> op, "path" -> out)
  }
}

/** One-shot similarity over the whole corpus: one op is one kernel call,
  * materialized as Parquet. A round calls each of the five kernels once.
  */
object NearDup extends Workload {
  private def docs(ctx: Ctx) = if (ctx.smoke) 300 else 2000
  val Share = 0.15

  def prepare(ctx: Ctx): Unit = {
    Workloads.cached(ctx.data) {
      Workloads.stage(Gen.docsDf(ctx.spark, Gen.docs(ctx.seed, docs(ctx), Share).toSeq, _ => 0),
        s"${ctx.data}/docs")
    }
    ctx.info ++= Seq("docs" -> docs(ctx), "near_dup_share" -> Share)
    ctx.inputBytes = Workloads.bytesUnder(s"${ctx.data}/docs")
  }

  val kernels: Seq[(String, DataFrame => DataFrame)] = Seq(
    "minhash" -> (d => MinHashDedup.nearDupPairs(d, "doc_id", "text", threshold = 0.5)),
    "simhash" -> (d => SimHashDedup.nearDupPairsJaccard(d, "doc_id", "text", threshold = 0.5)),
    "ngram" -> (d => NGramJaccard.similarPairs(d, "doc_id", "text", n = 3, threshold = 0.5)),
    "containment" -> (d => Containment.containedPairs(d, "doc_id", "text", n = 3,
      thresholdPct = 80)),
    "tfidf" -> (d => TfIdfCosine.similarPairs(d, "doc_id", "text", thresholdPct = 60)))

  private def pass(ctx: Ctx, dir: String, record: Boolean): Unit = kernels.foreach { case (k, f) =>
    val out = s"$dir/$k"
    val op = ctx.rec.nextOpId
    ctx.rec.op(k)(f(ctx.spark.read.parquet(s"${ctx.data}/docs/part=0")).write.parquet(out))
    if (record) ctx.checks += Map("kind" -> "neardup", "kernel" -> k, "op" -> op, "path" -> out)
  }

  def warmup(ctx: Ctx): Unit = pass(ctx, s"${ctx.work}/warmup", record = false)
  def round(ctx: Ctx, r: Int): Unit = pass(ctx, ctx.state(r), record = true)
}

/** The persisted-index protocol at streaming cadence. A round is one
  * compaction cycle in fresh index directories: build the four indexes
  * over the initial corpus, take a doc-disjoint batch through probe →
  * fold → append → `DeltaChain.maybeCompact` with the DEFAULT
  * `CompactionPolicy` (then vacuum), embedding probe + append, and BM25
  * addBatch; then forget a few ingested docs and search. Each public
  * index call is one op.
  */
object Lifecycle extends Workload {
  // The default policy compacts when the family index's delta tail
  // outgrows its base in bytes, or at 8 live deltas. The batch is twice
  // the initial corpus, so its delta outgrows the base and every cycle
  // compacts once. A climb to depth 8 needs a base ~8x a delta instead: a
  // cycle of ~75 s on 4 cores at 4000 initial docs and 100-doc batches,
  // too long for a run. Parts 2 and 3 are a smaller copy of the cycle for
  // the warm-up, which runs the same calls.
  private def parts(ctx: Ctx) = if (ctx.smoke) Seq(100, 200, 30, 60) else Seq(300, 600, 60, 120)
  private val Share = 0.25
  private val Forget = 5

  def prepare(ctx: Ctx): Unit = {
    val n = parts(ctx).sum
    Workloads.cached(ctx.data) {
      val d = Gen.docs(ctx.seed, n, Share)
      val v = Gen.vectors(ctx.seed, n, 64, Share)
      val partOf = (id: Long) => parts(ctx).indices.find(b => id < range(ctx, b)._2).get
      Workloads.stage(Gen.docsDf(ctx.spark, d.toSeq, partOf), s"${ctx.data}/docs")
      Workloads.stage(Gen.vecsDf(ctx.spark, v.toSeq, partOf), s"${ctx.data}/embs")
    }
    ctx.inputBytes = Seq(0, 1).map(b => Workloads.bytesUnder(s"${ctx.data}/docs/part=$b") +
      Workloads.bytesUnder(s"${ctx.data}/embs/part=$b")).sum
    ctx.info ++= Seq("initial_docs" -> parts(ctx).head, "batch_docs" -> parts(ctx)(1),
      "near_dup_share" -> Share, "vector_near_dup_share" -> Share, "dim" -> 64,
      "forgotten_per_cycle" -> Forget)
  }

  /** Doc ids `[lo, hi)` of part `b`. */
  private def range(ctx: Ctx, b: Int): (Int, Int) =
    (parts(ctx).take(b).sum, parts(ctx).take(b + 1).sum)

  private def docs(ctx: Ctx, b: Int) = ctx.spark.read.parquet(s"${ctx.data}/docs/part=$b")
  private def vecs(ctx: Ctx, b: Int) = ctx.spark.read.parquet(s"${ctx.data}/embs/part=$b")

  private def rows(df: DataFrame): Seq[Seq[Any]] = df.collect().toSeq.map(_.toSeq)

  /** Depth of the family chain before each fold, by op id. */
  val depthByOp = mutable.LinkedHashMap.empty[Int, Int]
  private val searches = ArrayBuffer.empty[(Int, Int, Seq[Long], Seq[Seq[Any]], Seq[(Long, String)])]

  /** One cycle into `dir` over initial part `base` and batch part
    * `base + 1`; returns the number of compactions.
    */
  private def cycle(ctx: Ctx, dir: String, base: Int, record: Boolean): Int = {
    val spark = ctx.spark
    val rec = ctx.rec
    val (mh, fam, emb, bm) = (s"$dir/minhash", s"$dir/family", s"$dir/embedding", s"$dir/bm25")
    val allDocs = spark.read.parquet(s"${ctx.data}/docs")
    val d0 = docs(ctx, base)
    rec.op("build_minhash")(MinHashIndex.build(d0, mh, "doc_id", "text"))
    rec.op("build_family")(FamilyIndex.build(
      MinHashDedup.nearDupPairs(d0, "doc_id", "text", threshold = 0.5), fam))
    rec.op("build_embedding")(EmbeddingLshIndex.build(vecs(ctx, base), emb))
    rec.op("build_bm25")(Bm25Index.build(d0, bm, "doc_id", "text"))

    val b = base + 1
    val db = docs(ctx, b)
    val (lo, hi) = range(ctx, b)
    depthByOp(rec.nextOpId + 1) = DeltaChain.liveDeltaVersions(fam).size
    val probeOp = rec.nextOpId
    val pairs = rec.op("probe")(MinHashIndex.incrementalNearDupPairs(spark, mh, db, allDocs,
      "doc_id", "text", threshold = 0.5).materialized)
    val probeRows = pairs.map(rows)
    pairs.foreach(p => rec.op("fold")(FamilyIndex.addBatch(spark, fam, p)))
    rec.op("append")(MinHashIndex.append(db, mh, "doc_id", "text"))
    val compactions = rec.op("compact")(DeltaChain.maybeCompact(spark, fam)(
      rec.span("family_compact")(FamilyIndex.compact(spark, fam)),
      rec.span("family_vacuum")(FamilyIndex.vacuum(spark, fam)))).flatten.size
    pairs.foreach(graft.operators.Iterate.release)
    val embOp = rec.nextOpId
    val embRows = rec.op("emb_probe")(rows(EmbeddingLshIndex.incrementalNearDupPairs(spark,
      emb, vecs(ctx, b))))
    rec.op("emb_append")(EmbeddingLshIndex.append(vecs(ctx, b), emb))
    rec.op("bm25_add")(Bm25Index.addBatch(spark, bm, db, "doc_id", "text"))
    if (record) {
      ctx.checks += Map("kind" -> "minhash_probe", "op" -> probeOp, "lo" -> lo, "hi" -> hi,
        "forgotten" -> Nil, "pairs" -> probeRows.getOrElse(Nil))
      ctx.checks += Map("kind" -> "emb_probe", "op" -> embOp, "lo" -> lo, "hi" -> hi,
        "forgotten" -> Nil, "pairs" -> embRows.getOrElse(Nil))
    }

    // forget, then search: the search must no longer see the forgotten docs
    val rnd = new java.util.SplittableRandom(ctx.seed * 31 + 7)
    val first = range(ctx, base)._1
    val forgotten = (0 until Forget).map(_ => first + rnd.nextInt(hi - first).toLong).toSet
    val idf = spark.createDataFrame(forgotten.toSeq.map(Tuple1(_))).toDF("id")
    rec.op("forget_minhash")(MinHashIndex.forget(mh, idf))
    rec.op("forget_embedding")(EmbeddingLshIndex.forget(spark, emb, idf))
    rec.op("bm25_delete")(Bm25Index.deleteDocs(spark, bm, idf))
    val queries = (0 until 4).map { q =>
      var id = first + rnd.nextInt(hi - first).toLong
      while (forgotten.contains(id)) id = first + rnd.nextInt(hi - first).toLong
      (q.toLong, id)
    }
    val qdf = allDocs.join(spark.createDataFrame(queries).toDF("qid", "doc_id"), "doc_id")
      .select(col("qid"), array_join(slice(split(col("text"), " "), 1, 3), " ").as("qtext"))
      .localCheckpoint()
    val searchOp = rec.nextOpId
    val hits = rec.op("bm25_search")(rows(Bm25Index.search(spark, bm, qdf, k = 5)))
    if (record) hits.foreach(h => searches += ((searchOp, hi, forgotten.toSeq, h,
      qdf.collect().toSeq.map(r => (r.getLong(0), r.getString(1))))))
    compactions
  }

  def warmup(ctx: Ctx): Unit = {
    cycle(ctx, s"${ctx.work}/warmup", 2, record = false)
    depthByOp.clear()
  }

  def round(ctx: Ctx, r: Int): Unit = {
    searches.clear()
    val n = cycle(ctx, ctx.state(r), 0, record = true)
    ctx.info("compactions_per_cycle") = n
    if (n == 0) ctx.rec.failed(ctx.rec.nextOpId - 1) = "the cycle ended without a compaction"
  }

  /** Every search of the last cycle against a one-shot BM25 over the
    * corpus that survived at that point.
    */
  override def verify(ctx: Ctx): Unit = {
    val spark = ctx.spark
    searches.foreach { case (op, hi, gone, got, queries) =>
      val surviving = spark.read.parquet(s"${ctx.data}/docs")
        .filter(col("doc_id") < hi && !col("doc_id").isin(gone: _*))
        .select("doc_id", "text")
      val q = spark.createDataFrame(queries).toDF("qid", "qtext")
      val want = rows(Bm25.search(surviving, "doc_id", "text", q, k = 5)).toSet
      if (want != got.toSet)
        ctx.rec.failed(op) = s"bm25 search differs from a one-shot search: " +
          s"${(want -- got).take(3)} vs ${(got.toSet -- want).take(3)}"
    }
  }
}

/** Structured Streaming ingest: watermark → keyed dedup → static-dim
  * enrich → windowed stats, on the RocksDB state store, over event files
  * admitted two per trigger. One op is one micro-batch; a round is one
  * query over all files from a fresh checkpoint.
  */
object Stream extends Workload {
  private def files(ctx: Ctx) = if (ctx.smoke) 12 else 16
  private def perFile(ctx: Ctx) = if (ctx.smoke) 500 else 2000
  private val DupShare = 0.05
  private val LateShare = 0.02
  val PerTrigger = 2

  def prepare(ctx: Ctx): Unit = {
    Workloads.cached(ctx.data) {
      val ev = Gen.events(ctx.seed, files(ctx), perFile(ctx), DupShare, LateShare)
      val in = new File(s"${ctx.data}/in")
      in.mkdirs()
      Workloads.stage(Gen.eventsDf(ctx.spark, ev.toSeq.map(_.toSeq)), s"${ctx.data}/tmp")
      // the file source admits the oldest files first: file k gets mtime k
      for (k <- ev.indices) {
        val part = new File(s"${ctx.data}/tmp/part=$k").listFiles
          .filter(f => f.getName.endsWith(".parquet")).head
        val dst = new File(in, f"events-$k%05d.parquet")
        java.nio.file.Files.move(part.toPath, dst.toPath)
        dst.setLastModified(Gen.Anchor * 1000L + k * 1000L)
      }
      Workloads.deleteTree(new File(s"${ctx.data}/tmp"))
      // the warm-up reads a copy of the first files: a full query would
      // double the run
      val warm = new File(s"${ctx.data}/warmup")
      warm.mkdirs()
      in.listFiles.sortBy(_.getName).take(2 * PerTrigger).foreach { f =>
        val dst = new File(warm, f.getName)
        java.nio.file.Files.copy(f.toPath, dst.toPath)
        dst.setLastModified(f.lastModified)
      }
    }
    ctx.inputBytes = Workloads.bytesUnder(s"${ctx.data}/in")
    ctx.info ++= Seq("event_files" -> files(ctx), "events_per_file" -> perFile(ctx),
      "duplicate_share" -> DupShare, "late_share" -> LateShare, "files_per_trigger" -> PerTrigger,
      "watermark_delay_s" -> 2 * Gen.FileSpanSec)
  }

  private val dimRows = Seq(("click", "engage"), ("view", "engage"), ("purchase", "convert"),
    ("signup", "convert"))

  /** Runs the query to completion; returns final (window start s, type) → (n, sum). */
  private def query(ctx: Ctx, in: String, dir: String): mutable.Map[(Long, String), (Long, Double)] = {
    val spark = ctx.spark
    val finals = mutable.Map.empty[(Long, String), (Long, Double)]
    val schema = spark.read.parquet(in).schema
    val dim = spark.createDataFrame(dimRows).toDF("event_type", "kind")
    StreamOps.withRocksDbStateStore(spark) {
      val src = spark.readStream.schema(schema).option("maxFilesPerTrigger", PerTrigger.toLong)
        .option("maxFileAge", "36500d").parquet(in)
      val deduped = StreamOps.dedupByKeyWithTtl(src, Seq("event_id"), "ts",
        s"${2 * Gen.FileSpanSec} seconds")
      val enriched = StreamOps.enrichWithStaticDim(deduped, dim, "event_type", "event_type",
        Map("kind" -> "other"))
      val stats = StreamOps.windowedEventStats(enriched, "1 minute")
      val q = stats.writeStream.outputMode("update")
        .option("checkpointLocation", s"$dir/checkpoint")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.collect().foreach { row =>
            val w = row.getStruct(0)
            finals((w.getTimestamp(0).getTime / 1000L, row.getString(1))) =
              (row.getLong(2), row.getDouble(3))
          }
        }
        .start()
      q.awaitTermination()
      q.recentProgress.foreach { p =>
        val ms = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
        ctx.rec.external("micro_batch", java.time.Instant.parse(p.timestamp).toEpochMilli, ms)
      }
    }
    finals
  }

  def warmup(ctx: Ctx): Unit = query(ctx, s"${ctx.data}/warmup", s"${ctx.work}/warmup")

  def round(ctx: Ctx, r: Int): Unit = {
    val first = ctx.rec.nextOpId
    val finals = ctx.rec.span("stream_query")(query(ctx, s"${ctx.data}/in", ctx.state(r)))
    ctx.checks += Map("kind" -> "stream", "ops" -> (first until ctx.rec.nextOpId),
      "rows" -> finals.toSeq.map { case ((w, t), (n, s)) => Seq(w, t, n, s) })
  }
}
