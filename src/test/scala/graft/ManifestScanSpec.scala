package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.graft.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

import graft.{SparkSpec, Tables}

/** Index scans built from the manifest ([[IndexFiles.dataFrame]],
  * [[IndexFiles.tombstoneIds]]): a probe starts no listing or
  * schema-inference job of its own, and the scan is the one Spark's
  * reader gives over the same files — same schema, partition column
  * types included, and same rows. */
class ManifestScanSpec extends SparkSpec {

  private def freshDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_scan_$tag").toString

  /** Call sites of every job `body` starts, as (short form, long
    * form); the long form holds the user stack that started the job. */
  private def jobCallSites(body: => Unit): Seq[(String, String)] = {
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        e.stageInfos.foreach(st => sites.add((st.name, st.details)))
    }
    val sc = spark.sparkContext
    ListenerBusDrain.drain(sc)
    sc.addSparkListener(listener)
    try { body; ListenerBusDrain.drain(sc) }
    finally sc.removeSparkListener(listener)
    sites.asScala.toSeq
  }

  private def annQueries(emb: DataFrame): DataFrame =
    emb.where(col("vec_id") < 3)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))

  private def smallDocs: DataFrame =
    Tables.documents(spark, Sf).where(col("doc_id") < 40)
      .select(col("doc_id"), col("text"))

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** The manifest scan against `spark.read` over the same files. */
  private def assertSameScan(viaManifest: DataFrame, base: String,
                             rels: Seq[String]): Unit = {
    val viaReader = spark.read.option("basePath", base)
      .parquet(rels.map(r => s"$base/$r"): _*)
    assert(viaManifest.schema === viaReader.schema)
    assert(rowsOf(viaManifest) === rowsOf(viaReader))
  }

  test("probes over >32 live files and a tombstone start no job from IndexFiles") {
    val emb = Tables.embeddings(spark, Sf)
    val annDir = freshDir("ann")
    AnnIndex.build(spark, emb, annDir, k = 64)
    AnnIndex.delete(spark, annDir, Seq(7L))
    val annMan = IndexFiles.read(spark, annDir)
    // past spark.sql.sources.parallelPartitionDiscovery.threshold (32),
    // where spark.read.parquet(files) would add a listing job
    assert(annMan.data.size > 32 && annMan.tombstones.size == 1)
    val bmDir = freshDir("bm25")
    // the small corpus has ~30 distinct terms: the append's own
    // per-bucket files take the live set past 32
    Bm25Index.build(spark, smallDocs.where(col("doc_id") < 20), bmDir)
    Bm25Index.append(spark, smallDocs.where(col("doc_id") >= 20), bmDir)
    Bm25Index.delete(spark, bmDir, Seq(3L))
    val bmMan = IndexFiles.read(spark, bmDir)
    assert(bmMan.data.size > 32 && bmMan.tombstones.size == 1)
    val terms = smallDocs.where(col("doc_id") === 5L).collect().head
      .getString(1).toLowerCase.split("\\s+").take(3).toSeq

    var annHits, bmHits = 0
    val annSites = jobCallSites {
      annHits = AnnIndex.query(spark, annDir, annQueries(emb), nProbe = 4)
        .collect().length
    }
    val bmSites = jobCallSites {
      bmHits = Bm25Index.search(spark, bmDir, terms).collect().length
    }
    assert(annHits > 0 && bmHits > 0)
    // the listener saw the probes' own execution jobs
    assert(annSites.nonEmpty && bmSites.nonEmpty)
    def fromIndexFiles(sites: Seq[(String, String)]): Seq[String] =
      sites.collect { case (short, long)
        if (short + long).contains("IndexFiles.scala") => short }
    assert(fromIndexFiles(annSites).isEmpty)
    assert(fromIndexFiles(bmSites).isEmpty)
  }

  test("manifest scan = spark.read over the same files: BM25 postings, ANN cells, tombstones") {
    val bmDir = freshDir("bm25parity")
    val docs = smallDocs
    Bm25Index.build(spark, docs.where(col("doc_id") < 30), bmDir)
    Bm25Index.append(spark, docs.where(col("doc_id") >= 30), bmDir)
    Bm25Index.delete(spark, bmDir, Seq(3L, 31L))
    Bm25Index.delete(spark, bmDir, Seq(4L))
    val bm = IndexFiles.read(spark, bmDir)
    val postings = IndexFiles.dataFrame(spark, bmDir, "postings", bm).get
    assert(postings.schema("tb").dataType === IntegerType)
    val tbs = postings.select(col("tb")).distinct().collect().map(_.getInt(0)).toSet
    assert(tbs(-1) && tbs(-2) && tbs.exists(_ >= 0))
    assertSameScan(postings, s"$bmDir/postings", bm.dataFiles)
    assert(bm.tombstones.size == 2)
    assertSameScan(IndexFiles.tombstoneIds(spark, bmDir, bm, "doc_id").get,
      s"$bmDir/tombstones", bm.tombFiles)

    val emb = Tables.embeddings(spark, Sf)
    val annDir = freshDir("annparity")
    AnnIndex.build(spark, emb.where(col("vec_id") % 10 =!= 9), annDir, k = 8)
    AnnIndex.append(spark, emb.where(col("vec_id") % 10 === 9), annDir)
    AnnIndex.delete(spark, annDir, Seq(11L))
    val ann = IndexFiles.read(spark, annDir)
    val cells = IndexFiles.dataFrame(spark, annDir, "cells", ann).get
    assert(cells.schema("cell").dataType === IntegerType)
    assertSameScan(cells, s"$annDir/cells", ann.dataFiles)
    assertSameScan(IndexFiles.tombstoneIds(spark, annDir, ann, "vec_id").get,
      s"$annDir/tombstones", ann.tombFiles)
  }

  test("manifest scan = spark.read for TableStore versions with different schemas") {
    import spark.implicits._
    val dir = freshDir("tablestore")
    TableStore.publish(spark, Seq((1L, "alpha"), (2L, "bravo"))
      .toDF("doc_id", "text"), dir)
    TableStore.publish(spark, Seq((3L, 2.5, true))
      .toDF("doc_id", "score", "kept"), dir)
    val v1 = IndexFiles.readVersion(spark, dir, 1L)
    val v2 = IndexFiles.readVersion(spark, dir, 2L)
    val s1 = IndexFiles.dataFrame(spark, dir, "snapshots", v1).get
    val s2 = IndexFiles.dataFrame(spark, dir, "snapshots", v2).get
    assert(s1.columns.toSeq === Seq("doc_id", "text"))
    assert(s2.columns.toSeq === Seq("doc_id", "score", "kept"))
    assertSameScan(s1, s"$dir/snapshots", v1.dataFiles)
    assertSameScan(s2, s"$dir/snapshots", v2.dataFiles)
  }
}
