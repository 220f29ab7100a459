package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.multimodal.{MultimodalOps, PHashIndex, PerceptualHash}

/** Behaviour the [[BandIndex]] core gives every band index alike. */
class BandIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

  private def tmp(tag: String) =
    java.nio.file.Files.createTempDirectory(s"graft-band-$tag").toString + "/idx"

  /** Largest number of distinct ids sharing one bucket of a band table. */
  private def maxOccupancy(table: String, bucket: String*): Long =
    spark.read.parquet(table).groupBy(bucket.map(col): _*)
      .agg(countDistinct("id").as("n")).agg(max("n")).head().getLong(0)

  /** Re-append the build batch (the "re-append on any doubt" retry) and
    * check the report at the true maximum occupancy stays empty, while
    * one below it still fires.
    */
  private def retriedAppendLeavesReportExact(table: String, bucket: Seq[String],
      report: Long => DataFrame)(reAppend: => Unit): Unit = {
    val top = maxOccupancy(table, bucket: _*)
    assert(top >= 2, "fixture needs a shared bucket")
    reAppend
    assert(spark.read.parquet(table).count() >
      spark.read.parquet(table).distinct().count(), "the retry duplicated rows")
    assert(report(top).isEmpty)
    assert(!report(top - 1).isEmpty)
  }

  test("MinHashIndex: a retried append does not inflate cappedBucketReport") {
    val path = tmp("mh")
    MinHashIndex.build(docs, path, "doc_id", "text")
    retriedAppendLeavesReportExact(path, Seq("band", "bkey"),
        MinHashIndex.cappedBucketReport(spark, path, _)) {
      MinHashIndex.append(docs, path, "doc_id", "text")
    }
  }

  test("SimHashIndex: a retried append does not inflate cappedBucketReport") {
    val path = tmp("sh")
    SimHashIndex.build(docs, path, "doc_id", "text")
    retriedAppendLeavesReportExact(path, Seq("combo", "bkey"),
        SimHashIndex.cappedBucketReport(spark, path, _)) {
      SimHashIndex.append(docs, path, "doc_id", "text")
    }
  }

  test("PHashIndex: a retried append does not inflate cappedBucketReport") {
    val path = tmp("ph")
    // twins (2g, 2g+1) share a noise seed: near-identical hashes, so
    // their band keys share buckets
    val hashes = (0L until 16L).map { id =>
      val (h1, h2) = PerceptualHash.dHashKernel(
        MultimodalOps.synthNoiseBitmap(id / 2, 16, 12,
          perturbR00 = if (id % 2 == 1) 8 else 0), 16, 12)
      (id, h1, h2)
    }.toDF("id", "h1", "h2")
    PHashIndex.build(hashes, path)
    retriedAppendLeavesReportExact(path, Seq("band", "key"),
        PHashIndex.cappedBucketReport(spark, path, _)) {
      PHashIndex.append(hashes, path)
    }
  }

  test("EmbeddingLshIndex: a retried append does not inflate cappedBucketReport") {
    val path = tmp("el")
    // twins (2g, 2g+1) point the same way: identical signatures
    val vecs = (0L until 16L).map { id =>
      val r = new scala.util.Random(id / 2)
      val v = Array.fill(64)(r.nextGaussian().toFloat)
      (id, if (id % 2 == 1) v.map(_ * 2.0f) else v)
    }.toDF("vec_id", "embedding")
    EmbeddingLshIndex.build(vecs, path)
    retriedAppendLeavesReportExact(s"$path/bands", Seq("table", "sig"),
        EmbeddingLshIndex.cappedBucketReport(spark, path, _)) {
      EmbeddingLshIndex.append(vecs, path)
    }
  }

  test("a rowless _params sidecar (interrupted build) fails SimHashIndex with a diagnosis") {
    val path = tmp("shparams")
    spark.emptyDataFrame.withColumn("radius", lit(0)).withColumn("blocks", lit(0))
      .write.parquet(s"$path/_params")
    val e = intercept[IllegalStateException](SimHashIndex.storedParams(spark, path))
    assert(e.getMessage.contains("corrupt _params sidecar"))
    // the probe surfaces the same diagnosis instead of running
    intercept[IllegalStateException](SimHashIndex.incrementalNearDupPairs(
      spark, path, docs, "doc_id", "text"))
  }

  test("SimHashIndex's fail-fast check sees _params rewritten by another writer") {
    val path = tmp("shrebuild")
    SimHashIndex.build(docs, path, "doc_id", "text")
    assert(SimHashIndex.storedParams(spark, path).contains((3, 6)))
    // another process rebuilds at the same path under other parameters:
    // nothing in this JVM sees the write
    Seq((4, 8)).toDF("radius", "blocks").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/_params")
    assert(SimHashIndex.storedParams(spark, path).contains((4, 8)))
    intercept[IllegalArgumentException](SimHashIndex.incrementalNearDupPairs(
      spark, path, docs, "doc_id", "text"))
  }

  test("a rowless _geom sidecar (interrupted build) fails EmbeddingLshIndex with a diagnosis") {
    val path = tmp("elgeom")
    spark.emptyDataFrame.withColumn("tables", lit(0))
      .withColumn("planes_per_table", lit(0)).withColumn("dim", lit(0))
      .withColumn("seed", lit(0L))
      .write.parquet(s"$path/_geom")
    val e = intercept[IllegalStateException](EmbeddingLshIndex.geometry(spark, path))
    assert(e.getMessage.contains("corrupt _geom sidecar"))
  }
}
