package graft.llm

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Iterate.MaterializeOps

/** Persisted incremental duplicate-FAMILY index — the connected-
  * components closure (q42/q43's pairs → families → survivor) as an
  * INCREMENTAL maintenance problem, completing the persisted-index
  * tier's dedup story: the band indexes ([[MinHashIndex]] and
  * siblings) already generate each arriving batch's near-dup PAIRS
  * incrementally; this index folds those pairs into a cumulative
  * family assignment without ever re-running connected components
  * over the corpus's full edge set.
  *
  * The logical index is the assignment table `(id, family)`, `family`
  * = the minimum id reachable in the pair graph — exactly
  * [[graft.operators.ConnectedComponents.run]]'s contract, so
  * survivor selection ([[graft.operators.Dedup.byNearDupPairs]]'
  * min-id rule) and leakage-safe splitting (q183) read it directly.
  *
  * The fold exploits that min-closure is ASSOCIATIVE under vertex
  * contraction: an already-assigned endpoint can be replaced by its
  * family representative, and CC then runs on the CONTRACTED edge
  * list — (family(a), family(b)) for old endpoints, raw ids for new
  * ones — whose size is bounded by the BATCH's pairs, never the
  * corpus. Representatives are min-ids, so the contracted minimum IS
  * the global minimum of the merged component: parity with a one-shot
  * CC over the union of all folded pairs is EXACT, id for id (pinned
  * in FamilyIndexSpec against random graphs, and by q229's oracle).
  *
  * DELTA-COMPOSED ([[DeltaChain]] layout): a fold writes ONLY the
  * batch's outcome as `delta/v=N` — rows `(id, family, kind)` where
  * `kind='new'` assigns a first-seen id and `kind='remap'` records a
  * family-representative merge `(old rep → new rep)`. [[assignment]]
  * composes at read time: remap tables are CHAINED in version order
  * (substitution composition — rep chains fully resolved), then one
  * broadcast join maps every base/new row's family through the
  * composed remap. This is sound because a min-id representative,
  * once merged away, can never become a representative again (its
  * component forever contains a smaller id), so remap domains across
  * batches are disjoint after in-order resolution; applying the fully
  * composed remap to ALL rows is therefore exact. The copy-on-write
  * form this replaces rewrote the corpus-sized assignment every fold
  * (measured: the family ingest mode ran at a tenth of the
  * append-shaped wings' rate, flat but 10× the constant); per-batch
  * write is now ∝ batch, and [[compact]] folds the composed view back
  * into a snapshot on the operator's cadence, not the stream's.
  *
  * Remap tables are broadcast-sized by construction (≤ families
  * merged per batch ≤ batch pairs) — the same envelope the
  * copy-on-write fold's broadcast remap join already assumed.
  */
object FamilyIndex {

  /** Latest COMMITTED version (build = 1, +1 per fold; compaction does
    * not advance it — see [[DeltaChain.latest]]).
    */
  def latestVersion(path: String): Option[Int] = DeltaChain.latest(path)

  /** Start the index (v=1 snapshot) from an initial pair batch
    * `(id_a, id_b)`. Ids in no pair don't appear — read-side callers
    * left-join and `coalesce(family, id)`, same universe contract as
    * CC itself.
    */
  def build(pairs: DataFrame, path: String): Unit =
    DeltaChain.writeBase(
      graft.operators.ConnectedComponents.run(pairs, "id_a", "id_b")
        .withColumnRenamed("component", "family"), path, 1)

  /** Fold a new pair batch into the index. Pairs may touch old ids,
    * new ids, or bridge the two; old families linked by a batch edge
    * are merged to their common minimum. Writes only the batch-bounded
    * delta (new-id assignments + rep remaps).
    */
  def addBatch(spark: SparkSession, path: String, pairs: DataFrame): Unit = {
    val v = latestVersion(path).getOrElse(
      throw new IllegalStateException(s"no FamilyIndex at $path"))
    val cur = assignment(spark, path)
    val p = pairs.select("id_a", "id_b").materialized
    val ids = p.select(col("id_a").as("id"))
      .union(p.select(col("id_b").as("id"))).distinct()
    // assignment rows of batch-touched OLD ids: batch-bounded, pulled
    // with a broadcast semi-join (the corpus table only streams past —
    // a READ; nothing corpus-sized is ever written here)
    val touched = cur.join(broadcast(ids), Seq("id"), "left_semi")
      .materialized
    // contract old endpoints to their family representative
    val contracted = p
      .join(broadcast(touched.select(col("id").as("id_a"),
        col("family").as("fa"))), Seq("id_a"), "left")
      .join(broadcast(touched.select(col("id").as("id_b"),
        col("family").as("fb"))), Seq("id_b"), "left")
      .select(coalesce(col("fa"), col("id_a")).as("id_a"),
        coalesce(col("fb"), col("id_b")).as("id_b"))
    // CC over the batch-bounded contracted graph: nodes are old family
    // reps and genuinely new ids
    val merged = graft.operators.ConnectedComponents
      .run(contracted, "id_a", "id_b")
      .withColumnRenamed("component", "family")
      .materialized
    val oldReps = touched.select(col("family").as("id")).distinct()
    // contracted nodes that ARE old reps and moved → remap rows; the
    // rest are first-seen ids → new rows. Old member rows are NOT
    // rewritten — the read path routes them through the remap chain.
    val remapRows = merged.join(broadcast(oldReps), Seq("id"), "left_semi")
      .filter(col("id") =!= col("family"))
      .select(col("id"), col("family"), lit("remap").as("kind"))
    val newRows = merged.join(broadcast(oldReps), Seq("id"), "left_anti")
      .select(col("id"), col("family"), lit("new").as("kind"))
    DeltaChain.writeDelta(remapRows.unionByName(newRows), path, v + 1)
  }

  /** Compose the rep-remap tables `(from, to)` in version order:
    * `(r1 ⨾ r2)(x) = r2(r1(x))` where defined, with r2's fresh domain
    * entries carried over — substitution that fully resolves rep chains
    * (5→3 then 3→1 composes to 5→1 AND 3→1). The tables are collected in
    * ONE job — they are broadcast-sized by construction — and composed
    * on the driver into a local table, so repeated reads don't re-run
    * the fold lineage and read cost stays linear in the live deltas: a
    * plan-level pairwise fold reads its left side twice per step and
    * doubles the composed plan with every delta.
    */
  private def composeRemaps(spark: SparkSession,
      remaps: Seq[DataFrame]): DataFrame = {
    val steps = remaps.zipWithIndex
      .map { case (r, i) => r.withColumn("step", lit(i)) }
      .reduce(_ unionByName _).collect()
      .groupBy(_.getInt(2)).toSeq.sortBy(_._1)
      .map(_._2.map(r => r.get(0) -> r.get(1)).toMap)
    val composed = steps.foldLeft(Map.empty[Any, Any]) { (acc, r2) =>
      acc.map { case (f, t) => f -> r2.getOrElse(t, t) } ++
        r2.filter { case (f, _) => !acc.contains(f) }
    }
    spark.createDataFrame(
      composed.toSeq.map { case (f, t) => Row(f, t) }.asJava,
      remaps.head.schema)
  }

  /** The current assignment `(id, family)` — every id that ever
    * appeared in a folded pair, read through the composed delta chain:
    * base ∪ new-rows, families routed through the chained remaps.
    */
  def assignment(spark: SparkSession, path: String): DataFrame =
    assignmentOf(spark, path, DeltaChain.capture(path))

  /** [[assignment]] over ONE consistent capture of the chain shape —
    * compaction reads and labels from the same capture (see
    * [[DeltaChain.compactSum]]'s TOCTOU note).
    */
  private def assignmentOf(spark: SparkSession, path: String,
      c: DeltaChain.Capture): DataFrame = {
    val b = c.base.getOrElse(
      throw new IllegalStateException(s"no FamilyIndex at $path"))
    val base = spark.read.parquet(s"$path/base/v=$b")
    val dvs = c.deltas
    if (dvs.isEmpty) base
    else {
      val deltas = dvs.map(dv => spark.read.parquet(s"$path/delta/v=$dv"))
      val rows = (base +: deltas.map(_.filter(col("kind") === "new")
        .select("id", "family"))).reduce(_ unionByName _)
      val remaps = deltas.map(_.filter(col("kind") === "remap")
        .select(col("id").as("from"), col("family").as("to")))
      val composed = composeRemaps(spark, remaps)
      rows.join(broadcast(composed), rows("family") === composed("from"),
          "left")
        .select(rows("id"), coalesce(col("to"), rows("family")).as("family"))
    }
  }

  /** Fold the live deltas into a new snapshot carrying the latest
    * version ("composed through N"). Returns the snapshot version.
    */
  def compact(spark: SparkSession, path: String): Int = {
    // one capture feeds both the label and the compose: a delta
    // committed mid-compact stays live above the new base rather than
    // being folded under a lower label (and then applied twice)
    val c = DeltaChain.capture(path)
    val v = c.version.getOrElse(
      throw new IllegalStateException(s"no FamilyIndex at $path"))
    if (!c.base.contains(v))
      DeltaChain.writeBase(assignmentOf(spark, path, c), path, v)
    v
  }

  /** Reclaim superseded directories (see [[DeltaChain.vacuum]]). */
  def vacuum(spark: SparkSession, path: String): Int =
    DeltaChain.vacuum(spark, path)
}
