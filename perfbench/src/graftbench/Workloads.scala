package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.Try

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

import graft.{SparkEntry, Tables}
import graft.operators.{AnnIndex, Bm25Index, TextAnalysis}

object Workloads {
  def since(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def error(e: Throwable): String = s"${e.getClass.getName}: ${e.getMessage}"

  def dirBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
  }
}

import Workloads._

/** `tpch` and `curation`: each operation is one query key, constructed
  * through `SparkEntry.queries` and executed by collecting its rows to
  * the driver. The traced path splits it into construction (eager driver
  * jobs included), physical planning and execution. After the timed
  * call, outside the timed region, the first call of a key (a warm-up)
  * writes the rows it returned under `results/<op>-t<traced>`, where
  * run.py checks them against the oracle; every later call of the key
  * must return the same rows, as a multiset. */
final class QueryWorkload(data: String, work: String, warm: Seq[Op]) extends Workload {
  private val json = new ObjectMapper().registerModule(DefaultScalaModule)
  /** The rows of each key's first call, one JSON array per row, sorted. */
  private val warmRows = mutable.Map[String, Seq[String]]()

  private def rowSet(rows: Array[Row]): Seq[String] =
    rows.map(r => Try(json.writeValueAsString(r.toSeq)).getOrElse(r.toString)).sorted.toSeq

  def prepare(spark: SparkSession, tr: Tracer): Seq[(String, Double)] = Nil

  /** One call of every key: warms code paths and per-JVM fits. */
  def warmup(spark: SparkSession, tr: Tracer): Unit =
    warm.foreach(op => warmups += run(spark, op, tr))

  def run(spark: SparkSession, op: Op, tr: Tracer): OpResult = {
    val key = op.args("key")
    var phases = Map.empty[String, Double]
    var result: Option[(Array[Row], StructType)] = None
    val t0 = System.nanoTime()
    val err =
      try {
        tr("op", op.idx) {
          val df = tr("SparkEntry.construct", op.idx)(SparkEntry.queries(key)(spark, data))
          if (tr.on) {
            tr("QueryExecution.executedPlan", op.idx)(df.queryExecution.executedPlan)
            phases = df.queryExecution.tracker.phases.map { case (k, p) =>
              s"${k}_ms" -> p.durationMs.toDouble
            }
          }
          result = Some((tr("execution", op.idx)(df.collect()), df.schema))
        }
        ""
      } catch { case e: Throwable => error(e) }
    val s = since(t0)
    val t = if (tr.on) 1 else 0
    var written = 0.0
    val check = result match {
      case Some((rows, schema)) => warmRows.get(key) match {
        case None =>
          warmRows(key) = rowSet(rows)
          written = 1.0
          try spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
            .write.mode("overwrite").parquet(s"$work/results/${op.idx}-t$t")
          catch { case _: Throwable => () } // the check reports the missing result
          ""
        case Some(want) if rowSet(rows) != want =>
          s"rows differ from the first call's (${rows.length} rows, ${want.size} then)"
        case _ => ""
      }
      case None => "" // the call threw, and its error fails the op
    }
    OpResult(op, tr.on, s, err, check, phases + ("written" -> written))
  }

  /** Writes the oracle SQL of the warmed-up keys for run.py's check. */
  def finish(spark: SparkSession, tr: Tracer): (Seq[(String, String)], Map[String, Double]) = {
    val oracles = warm.map(_.args("key")).flatMap(k => SparkEntry.oracleSql.get(k).map(k -> _))
    Files.writeString(Paths.get(s"$work/results/oracle_sql.json"),
      new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(oracles.toMap))
    (Nil, Map.empty)
  }
}

/** `index_churn`: probes and writes against a persisted ANN (IVF) index
  * and a BM25 index. The benchmark keeps its own model of the live rows
  * (base rows, plus appended, minus deleted) and checks every probe
  * against it outside the timed region. */
final class ChurnWorkload(data: String, work: String, warm: Seq[Op],
                          recallFloor: Double) extends Workload {
  private val vecs = mutable.Map[Long, Array[Float]]()
  private val texts = mutable.Map[Long, String]()
  private val liveVec = mutable.Set[Long]()
  private val liveDoc = mutable.Set[Long]()
  private var annDir = ""
  private var bmDir = ""
  /** Expected BM25 top-20 by (writes so far, terms): repeated warm-up
    * searches are checked once. */
  private var writes = 0
  private val expectedBm25 = mutable.Map[(Int, Seq[String]), Seq[(Long, Double, Long)]]()
  private val QueryIdBase = 1L << 40

  // ids ending in 9 are held out of the initial indexes; run.py's plan
  // appends them later under fresh ids
  private def held(id: Long): Boolean = id % 10 == 9

  def prepare(spark: SparkSession, tr: Tracer): Seq[(String, Double)] = {
    val emb = tr("Tables.embeddings", -1)(Tables.embeddings(spark, data))
      .select("vec_id", "embedding")
    val docs = tr("Tables.documents", -1)(Tables.documents(spark, data))
      .select("doc_id", "text")
    emb.collect().foreach(r => vecs(r.getLong(0)) = r.getSeq[Float](1).toArray)
    docs.collect().foreach(r => texts(r.getLong(0)) = r.getString(1))
    annDir = s"$work/ann"
    bmDir = s"$work/bm25"
    val t0 = System.nanoTime()
    tr("AnnIndex.build", -1)(AnnIndex.build(spark, emb.where(col("vec_id") % 10 =!= 9), annDir))
    val t1 = System.nanoTime()
    tr("Bm25Index.build", -1)(Bm25Index.build(spark, docs.where(col("doc_id") % 10 =!= 9), bmDir))
    val t2 = System.nanoTime()
    liveVec ++= vecs.keys.filterNot(held)
    liveDoc ++= texts.keys.filterNot(held)
    Seq("AnnIndex.build" -> (t1 - t0) / 1e9, "Bm25Index.build" -> (t2 - t1) / 1e9)
  }

  def warmup(spark: SparkSession, tr: Tracer): Unit =
    warm.foreach(op => warmups += run(spark, op, tr))

  private def pairs(op: Op, k: String): Seq[(Long, Long)] =
    op.args.get(k).filter(_.nonEmpty).toSeq.flatMap(_.split(',')).map { p =>
      val Array(src, dst) = p.split(':'); (src.toLong, dst.toLong)
    }

  private def status(spark: SparkSession, tr: Tracer, op: Int): (AnnIndex.Status, AnnIndex.Status) =
    (tr("AnnIndex.status", op)(AnnIndex.status(spark, annDir)),
      tr("Bm25Index.status", op)(Bm25Index.status(spark, bmDir)))

  def run(spark: SparkSession, op: Op, tr: Tracer): OpResult = {
    import spark.implicits._
    val i = op.idx
    op.kind match {
      case "ann_query" =>
        val qs = op.ids("q").zipWithIndex.map { case (id, n) => (QueryIdBase + n, vecs(id)) }
        val qdf = qs.map { case (q, v) => (q, v.toSeq) }.toDF("q_id", "q_emb")
        val t0 = System.nanoTime()
        val (rows, err) =
          try (tr("AnnIndex.query", i)(AnnIndex.query(spark, annDir, qdf, topK = 10,
            excludeSelf = false).select("q_id", "vec_id").collect()
            .map(r => (r.getLong(0), r.getLong(1))).toSeq), "")
          catch { case e: Throwable => (Nil, error(e)) }
        val s = since(t0)
        val recall = qs.map { case (q, v) =>
          val exact = exactTop10(v)
          rows.count { case (qq, id) => qq == q && exact(id) }.toDouble / exact.size
        }.sum / qs.size
        val dead = rows.map(_._2).filterNot(liveVec)
        val check =
          if (err.nonEmpty) ""
          else if (dead.nonEmpty) s"returned ids not live: ${dead.take(5).mkString(",")}"
          else if (recall < recallFloor) f"recall@10 $recall%.3f below floor $recallFloor"
          else ""
        OpResult(op, tr.on, s, err, check, Map("recall_at_10" -> recall))

      case "bm25_search" =>
        val terms = op.args("terms").split(',').toSeq
        val t0 = System.nanoTime()
        val (rows, err) =
          try (tr("Bm25Index.search", i)(Bm25Index.search(spark, bmDir, terms, k = 20)
            .select("doc_id", "bm25", "n_terms_hit", "stats_corrected").collect().toSeq), "")
          catch { case e: Throwable => (Nil, error(e)) }
        val s = since(t0)
        val want = expectedBm25.getOrElseUpdate((writes, terms), {
          val live = liveDoc.toSeq.sorted.map(d => (d, texts(d))).toDF("doc_id", "text")
          TextAnalysis.bm25Search(live, terms, k = 20)
            .select("doc_id", "bm25", "n_terms_hit").collect()
            .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
        })
        val got = rows.map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
        val check =
          if (err.isEmpty && got != want)
            s"bm25 top-20 differs from bm25Search over live docs: got ${got.take(3)} want ${want.take(3)}"
          else ""
        val corrected = if (rows.exists(_.getBoolean(3))) 1.0 else 0.0
        OpResult(op, tr.on, s, err, check, Map("stats_corrected" -> corrected))

      case "append" | "delete" =>
        val a = if (op.kind == "append") pairs(op, "a") else Nil
        val d = if (op.kind == "append") pairs(op, "d") else Nil
        val annRows = a.map { case (src, id) => (id, vecs(src).toSeq) }.toDF("vec_id", "embedding")
        val docRows = d.map { case (src, id) => (id, texts(src)) }.toDF("doc_id", "text")
        val (a0, b0) = status(spark, tr, i)
        val bytes0 = dirBytes(annDir) + dirBytes(bmDir)
        val t0 = System.nanoTime()
        val err =
          try {
            tr("op", i) {
              if (op.kind == "append") {
                tr("AnnIndex.append", i)(AnnIndex.append(spark, annRows, annDir))
                tr("Bm25Index.append", i)(Bm25Index.append(spark, docRows, bmDir))
                if (op.args.get("compact").contains("1")) {
                  tr("AnnIndex.compact", i)(AnnIndex.compact(spark, annDir))
                  tr("Bm25Index.compact", i)(Bm25Index.compact(spark, bmDir))
                }
              } else {
                tr("AnnIndex.delete", i)(AnnIndex.delete(spark, annDir, op.ids("a")))
                tr("Bm25Index.delete", i)(Bm25Index.delete(spark, bmDir, op.ids("d")))
              }
            }
            ""
          } catch { case e: Throwable => error(e) }
        val s = since(t0)
        writes += 1
        if (op.kind == "append") {
          a.foreach { case (src, id) => vecs(id) = vecs(src); liveVec += id }
          d.foreach { case (src, id) => texts(id) = texts(src); liveDoc += id }
        } else {
          liveVec --= op.ids("a"); liveDoc --= op.ids("d")
        }
        val (a1, b1) = status(spark, tr, i)
        // appended input as raw bytes: id + float vector, id + UTF-8 text
        val inputBytes = a.map { case (_, id) => 8L + 4L * vecs(id).length }.sum +
          d.map { case (_, id) => 8L + texts(id).getBytes("UTF-8").length }.sum
        OpResult(op, tr.on, s, err, "", Map(
          "commits" -> (a1.version - a0.version + b1.version - b0.version).toDouble,
          "ann_live_files" -> a1.liveDataFiles.toDouble,
          "bm25_live_files" -> b1.liveDataFiles.toDouble,
          "bytes_added" -> (dirBytes(annDir) + dirBytes(bmDir) - bytes0).toDouble,
          "input_bytes" -> inputBytes.toDouble))
    }
  }

  /** Exact top-10 ids by cosine over the live vectors, ties by id. */
  private def exactTop10(q: Array[Float]): Set[Long] = {
    def cos(v: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var k = 0
      while (k < q.length) {
        d += q(k).toDouble * v(k); na += q(k).toDouble * q(k); nb += v(k).toDouble * v(k); k += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    liveVec.toSeq.map(id => (-cos(vecs(id)), id)).sorted.take(10).map(_._2).toSet
  }

  /** The indexes' live row sets must equal the model's after the run. */
  def finish(spark: SparkSession, tr: Tracer): (Seq[(String, String)], Map[String, Double]) = {
    def ids(df: DataFrame, c: String): Set[Long] =
      df.select(c).distinct().collect().map(_.getLong(0)).toSet
    val annLive = tr("AnnIndex.liveRows", -1)(ids(AnnIndex.liveRows(spark, annDir), "vec_id"))
    val bmLive = tr("Bm25Index.liveRows", -1)(
      ids(Bm25Index.liveRows(spark, bmDir).where(col("doc_id").isNotNull), "doc_id"))
    val checks = Seq(
      "ann_live_rows" -> (if (annLive == liveVec.toSet) "" else
        s"ANN live ids differ from the model: ${(annLive diff liveVec).size} extra, ${(liveVec.toSet diff annLive).size} missing"),
      "bm25_live_rows" -> (if (bmLive == liveDoc.toSet) "" else
        s"BM25 live ids differ from the model: ${(bmLive diff liveDoc).size} extra, ${(liveDoc.toSet diff bmLive).size} missing"))
      .filter(_._2.nonEmpty)
    val (a, b) = status(spark, tr, -1)
    (checks, Map("index_bytes" -> (dirBytes(annDir) + dirBytes(bmDir)).toDouble,
      "ann_live_files" -> a.liveDataFiles.toDouble, "bm25_live_files" -> b.liveDataFiles.toDouble))
  }
}
