package graftbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.sql.SparkSession

/** One benchmark run of one workload in this JVM, driven from a single
  * closed-loop client thread. Writes a result file for `run.py`, which
  * checks the outputs and prints the metrics.
  *
  * Flags: --workload NAME --seed N --seconds S --trace 0|1 --scale full|smoke
  *        --data DIR (seeded input cache) --work DIR (fresh) --out FILE
  */
object Main {
  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wl = Workloads.byName(o("workload"))
    val traced = o("trace") == "1"
    val seconds = o("seconds").toDouble
    val cores = Runtime.getRuntime.availableProcessors
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime

    val spark = graft.GraftSession.local("graftbench", cores)
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    if (traced) installCountingFs(spark)
    val rec = new Recorder
    val ctx = new Ctx(spark, rec, o("seed").toLong, o.get("scale").contains("smoke"),
      o("data"), o("work"))

    val g0 = System.nanoTime()
    wl.prepare(ctx)
    val genMs = (System.nanoTime() - g0) / 1e6
    val w0 = System.nanoTime()
    wl.warmup(ctx)
    val warmupMs = (System.nanoTime() - w0) / 1e6
    rec.spans.clear()
    val setupMs = System.currentTimeMillis() - jvmStart - genMs

    // timed phase: whole rounds until `seconds` have passed; a traced run
    // alternates untraced and traced rounds so the overhead is measured
    // on the same inputs in the same JVM, and runs at least three, since
    // the first round after the warm-up runs slower than later ones
    val tracer = if (traced) Some(new Tracer(spark)) else None
    val rounds = ArrayBuffer.empty[(Int, Double, Boolean)]
    val t0 = System.nanoTime()
    var r = 0
    while (r < (if (traced) 3 else 1) || (System.nanoTime() - t0) / 1e9 < seconds) {
      val tr = traced && r % 2 == 1
      if (tr) { tracer.get.attach(); rec.traced = true }
      rec.round = r
      val s0 = System.nanoTime()
      rec.op("round")(wl.round(ctx, r))
      val ms = (System.nanoTime() - s0) / 1e6
      if (tr) { tracer.get.detach(); rec.traced = false }
      rounds += ((r, ms, tr))
      r += 1
    }

    // a full GC can run while Spark threads still finish up: take the
    // least heap seen after three
    val heapMb = (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
    // what the last round left on disk: output, index, checkpoint, state
    val storedBytes = Workloads.bytesUnder(ctx.state(r - 1))
    wl.verify(ctx)

    // the "round" wrapper is an op only so that a failure outside any op
    // still counts; a round's ops are its children
    val roundSpans = rec.spans.filter(s => s.name == "round" && s.parent == -1)
    val roundIds = roundSpans.map(_.id).toSet
    val failedRounds = roundSpans.filterNot(_.ok)
    val opSpans = rec.spans.filter(s => isOp(s, roundIds)) ++ failedRounds
    val ops = opSpans.map { s =>
      Map("id" -> s.op, "name" -> s.name, "round" -> s.round, "ms" -> s.nanos / 1e6,
        "ok" -> s.ok, "error" -> Option(s.error).orElse(rec.failed.get(s.op)).orNull,
        "traced" -> (traced && s.round % 2 == 1))
    }

    val out = scala.collection.mutable.LinkedHashMap[String, Any](
      "workload" -> o("workload"), "seed" -> ctx.seed, "cores" -> cores,
      "jvm_start_ms" -> jvmStart, "setup_ms" -> setupMs, "gen_ms" -> genMs,
      "warmup_ms" -> warmupMs,
      "rounds" -> rounds.map { case (i, ms, tr) => Map("round" -> i, "ms" -> ms, "traced" -> tr) },
      "ops" -> ops, "stored_bytes" -> storedBytes, "input_bytes" -> ctx.inputBytes,
      "heap_mb" -> heapMb, "inputs" -> ctx.info, "checks" -> ctx.checks)
    tracer.foreach { t =>
      val tracedOps = opSpans.filter(s => s.round % 2 == 1)
      val windows = rec.spans.filter(s => s.round % 2 == 1 &&
        (s.name == "stream_query" || (isOp(s, roundIds) && s.name != "micro_batch")))
      out("layers") = Layers.compute(t, windows.toSeq, tracedOps.size, cores) ++
        LlmLayer.compute(rec.spans.filter(_.round % 2 == 1).toSeq, tracedOps.size) ++
        StreamLayer.compute(t)
      out("fold_ms_by_depth") = LlmLayer.foldByDepth(rec.spans.filter(_.round % 2 == 1).toSeq)
      o.get("spans").foreach(p => write(p, rec.spans.map(spanJson).mkString("[\n", ",\n", "\n]")))
    }
    write(o("out"), Json(out))
    spark.stop()
  }

  /** Top-level engine calls: the direct children of a round span. */
  private def isOp(s: Span, roundIds: Set[Int]): Boolean =
    roundIds.contains(s.parent) && s.name != "stream_query" ||
      s.name == "micro_batch"

  private def spanJson(s: Span): String = Json(Map("id" -> s.id, "name" -> s.name,
    "parent" -> s.parent, "op" -> s.op, "round" -> s.round, "start_ms" -> s.startMs,
    "end_ms" -> s.endMs, "ms" -> s.nanos / 1e6, "ok" -> s.ok, "error" -> s.error))

  /** Make the counting file system the cached `file:` instance, so calls
    * through a fresh `Configuration` reach it too.
    */
  private def installCountingFs(spark: SparkSession): Unit = {
    FileSystem.closeAll()
    val fs = FileSystem.get(new java.net.URI("file:///"), spark.sparkContext.hadoopConfiguration)
    require(fs.isInstanceOf[CountingLocalFs], s"file: resolves to ${fs.getClass}")
  }

  private def write(path: String, s: String): Unit = {
    val w = new PrintWriter(new File(path), "UTF-8")
    try w.write(s) finally w.close()
  }
}

/** `llm` layer: time in the persisted-index and kernel calls, by call. */
object LlmLayer {
  private val groups: Seq[(String, Set[String])] = Seq(
    "llm.probe_ms" -> Set("probe", "emb_probe"),
    "llm.fold_ms" -> Set("fold"),
    "llm.append_ms" -> Set("append", "emb_append", "bm25_add"),
    "llm.search_ms" -> Set("bm25_search"),
    "llm.forget_ms" -> Set("forget_minhash", "forget_embedding", "bm25_delete"),
    "llm.compact_ms" -> Set("family_compact"),
    "llm.vacuum_ms" -> Set("family_vacuum"),
    "llm.minhash_ms" -> Set("minhash"),
    "llm.simhash_ms" -> Set("simhash"),
    "llm.ngram_ms" -> Set("ngram"),
    "llm.containment_ms" -> Set("containment"),
    "llm.tfidf_ms" -> Set("tfidf"))

  def compute(spans: Seq[Span], ops: Int): Map[String, Double] = {
    val n = math.max(ops, 1).toDouble
    groups.map { case (k, names) =>
      k -> spans.filter(s => names.contains(s.name)).map(_.nanos / 1e6).sum / n
    }.toMap + ("llm.live_deltas" -> Lifecycle.depthByOp.values.maxOption.getOrElse(0).toDouble)
  }

  def foldByDepth(spans: Seq[Span]): Map[String, Double] =
    spans.filter(_.name == "fold").flatMap(s => Lifecycle.depthByOp.get(s.op).map(_ -> s.nanos / 1e6))
      .groupBy(_._1).map { case (d, xs) => d.toString -> xs.map(_._2).sum / xs.size }
}

/** `streaming` layer, from the progress events of traced rounds: times per
  * micro-batch; batches, final state size and late rows per query.
  */
object StreamLayer {
  def compute(t: Tracer): Map[String, Double] = {
    val ps = t.stream.progress.asScala.toSeq
    val n = math.max(ps.size, 1).toDouble
    def dur(k: String) = ps.map(p => Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)).sum / n
    val states = ps.flatMap(_.stateOperators.toSeq)
    val last = ps.groupBy(_.id).values.map(_.maxBy(_.batchId)).toSeq
    val queries = math.max(last.size, 1).toDouble
    Map(
      "streaming.batches" -> ps.size / queries,
      "streaming.data_batch_ratio" -> (if (ps.isEmpty) 0.0 else ps.count(_.numInputRows > 0) / n),
      "streaming.trigger_ms" -> dur("triggerExecution"),
      "streaming.add_batch_ms" -> dur("addBatch"),
      "streaming.query_planning_ms" -> dur("queryPlanning"),
      "streaming.latest_offset_ms" -> dur("latestOffset"),
      "streaming.get_batch_ms" -> dur("getBatch"),
      "streaming.wal_commit_ms" -> dur("walCommit"),
      "streaming.commit_offsets_ms" -> dur("commitOffsets"),
      "streaming.state_rows" -> last.flatMap(_.stateOperators.map(_.numRowsTotal)).sum / queries,
      "streaming.state_memory_bytes" ->
        last.flatMap(_.stateOperators.map(_.memoryUsedBytes)).sum / queries,
      "streaming.state_commit_ms" -> states.map(_.commitTimeMs).sum / n,
      "streaming.late_rows_dropped" -> states.map(_.numRowsDroppedByWatermark).sum / queries)
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b.append('"').toString
  }
}
