package perfbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions
import graft.operators.GroupTopK
import graft.queries.Similarity

/** `vector_serve`: build an IVF and an IVF-SQ8 index over seeded
  * embeddings (kernels and shuffle over the whole corpus), then a
  * closed loop of single-query probe-1 searches, three on the IVF index
  * for every one on the SQ8 index (each touches one posting partition
  * and pays mostly planning and job launch), with an exact batch top-k
  * and an append batch halfway. */
final class VectorServe extends Workload {
  import VectorServe._

  val primary = "search_ivf"
  val secondary = "search_sq8"
  val build = "build"

  private var inDir = ""
  private var base: Array[Array[Double]] = Array.empty
  private var baseById: collection.Map[Long, Array[Double]] = Map.empty
  private var queries: Seq[Int] = Nil
  private var appendPath = ""
  private var appendRows: Seq[(Long, Array[Double])] = Nil
  private var mins, maxs: Array[Double] = Array.empty
  private var episodeNo = 0
  private var recallSum = 0.0
  private var recallN = 0
  private var appendWritten, appendRaw = 0L
  private val spaceAmps = mutable.ArrayBuffer.empty[Double]

  /** Driver-side copies of the inputs, read without Spark from the
    * generator's float64 twins of the parquet files. */
  def prepare(c: Ctx): Unit = {
    val dir = new File(c.in, "vector")
    inDir = dir.getPath
    base = f64Rows(new File(dir, "embeddings.f64"))
    baseById = mutable.LinkedHashMap.from(base.indices.map(i => i.toLong -> base(i)))
    val q = scala.io.Source.fromFile(new File(dir, "queries.txt"))
    try queries = q.getLines().map(_.trim).filter(_.nonEmpty).map(_.toInt).toSeq
    finally q.close()
    appendPath = new File(dir, "append.parquet").getPath
    val rows = f64Rows(new File(dir, "append.f64"))
    appendRows = rows.indices.map(i => (AppendIdBase + i) -> rows(i))
    mins = Array.tabulate(Dim)(d => base.map(_(d)).min)
    maxs = Array.tabulate(Dim)(d => base.map(_(d)).max)
  }

  private def f64Rows(f: File): Array[Array[Double]] = {
    val buf = java.nio.ByteBuffer.wrap(java.nio.file.Files.readAllBytes(f.toPath))
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).asDoubleBuffer()
    Array.fill(buf.remaining / Dim) { val v = new Array[Double](Dim); buf.get(v); v }
  }

  /** Build both indexes, then one search per query id with an exact
    * batch and an append halfway. The short episode does four searches. */
  def episode(c: Ctx, short: Boolean): Unit = {
    val searches = if (short) 4 else queries.size
    val spark = c.spark
    val t = c.tracer
    episodeNo += 1
    val root = new File(c.work, s"ep$episodeNo")
    val ivf = new File(root, "ivf").getPath
    val sq8 = new File(root, "sq8").getPath
    // vectors the IVF index holds: the base plus every append so far
    val indexed = mutable.LinkedHashMap.from(baseById)

    val built = c.op(build) {
      t.span("similarity", "queries.similarity.build") {
        Similarity.buildIvfIndex(spark, inDir, ivf)
        Similarity.buildIvfSq8Index(spark, inDir, sq8)
      }
    } { _ =>
      spaceAmps += (c.du(new File(ivf)) + c.du(new File(sq8))).toDouble /
        (2L * base.length * Dim * 8L)
      indexSize(spark, ivf) == base.length && indexSize(spark, sq8) == base.length
    }
    if (built.isEmpty) { Main.deleteTree(root); return }

    var j = 0
    while (j < searches) {
      val qid = queries(j)
      val qv = base(qid)
      val cluster = clusterOf(qv)
      if (j % 4 != 3) {
        c.op(primary)(search(c, Similarity.annIvfFromIndex(spark, ivf, cluster, qv,
          topK = K, excludeId = Some(qid.toLong)))) { got =>
          checkAndScore(c, got, qid, exactTop(qv, qid, indexed, cosine = true), indexed,
            r => cos(qv, r), desc = true)
        }
      } else {
        c.op(secondary)(search(c, Similarity.annIvfSq8FromIndex(spark, sq8, cluster,
          qv, codes(qv), topK = K, coarse = Coarse, excludeId = Some(qid.toLong)))) {
          got => checkAndScore(c, got, qid, exactTop(qv, qid, baseById, cosine = false),
            baseById, r => l2(qv, r), desc = false)
        }
      }
      j += 1
      if (j == searches / 2) {
        exactBatch(c)
        appendBatch(c, ivf, indexed)
      }
    }
    Main.deleteTree(root)
  }

  private def search(c: Ctx, plan: => DataFrame): Array[Row] = {
    val df = c.tracer.span("similarity", "queries.similarity.search_plan")(plan)
    c.tracer.span("similarity", "queries.similarity.search_exec")(df.collect())
  }

  /** Append a batch; afterwards the index holds every vector once. */
  private def appendBatch(c: Ctx, ivf: String,
      indexed: mutable.LinkedHashMap[Long, Array[Double]]): Unit = {
    val spark = c.spark
    val before = c.du(new File(ivf))
    c.op("append") {
      c.tracer.span("similarity", "queries.similarity.append") {
        Similarity.appendToIvfIndexIdempotent(spark, ivf,
          spark.read.parquet(appendPath))
      }
    } { _ =>
      appendRows.foreach { case (id, v) => indexed(id) = v }
      val ids = spark.read.parquet(ivf).select("vec_id").collect().map(_.getLong(0))
      ids.length == indexed.size && ids.toSet == indexed.keySet
    }
    appendWritten += c.du(new File(ivf)) - before
    appendRaw += appendRows.size.toLong * Dim * 8L
  }

  /** Exact top-k of a batch of queries over the corpus through
    * `GroupTopK`, checked against the driver's brute force. */
  private def exactBatch(c: Ctx): Unit = {
    val spark = c.spark
    val qs = queries.take(BatchQueries)
    c.op("exact_batch") {
      c.tracer.span("operators", "operators.topk") {
        val e = spark.read.parquet(new File(inDir, "embeddings.parquet").getPath)
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        val q = e.filter(col("vec_id").isin(qs: _*))
          .select(col("vec_id").as("query_id"), col("v").as("qv"))
        val scored = e.crossJoin(broadcast(q))
          .select(col("query_id"), col("vec_id"),
            GraftFunctions.cosineSim(col("qv"), col("v")).as("sim"))
        GroupTopK.topK(scored, Seq("query_id"), Seq(("sim", true), ("vec_id", false)),
          k = K).select("query_id", "vec_id").collect()
      }
    } { got =>
      val byQ = got.groupBy(_.getLong(0)).map { case (q, rs) =>
        q.toInt -> rs.map(_.getLong(1)).toSet }
      qs.forall(q => byQ.get(q).contains(
        exactTop(base(q), -1, baseById, cosine = true).toSet))
    }
  }

  private def indexSize(spark: org.apache.spark.sql.SparkSession, path: String): Long =
    spark.read.parquet(path).count()

  /** Valid result: the expected row count, distinct ids that are in the
    * index and are not the query, scores that match the vectors, in
    * ranked order. Records recall@10 against the exact top 10. */
  private def checkAndScore(c: Ctx, got: Array[Row], self: Long, exact: Seq[Long],
      indexed: collection.Map[Long, Array[Double]], score: Array[Double] => Double,
      desc: Boolean): Boolean = {
    val ids = got.map(_.getLong(0))
    val scores = got.map(_.getDouble(1))
    val ordered = scores.sliding(2).forall {
      case Array(a, b) => if (desc) a >= b else a <= b
      case _ => true
    }
    val valid = ids.length == math.min(K, exact.size) && ids.distinct.length == ids.length &&
      ids.forall(indexed.contains) && !ids.contains(self) && ordered &&
      ids.zip(scores).forall { case (id, s) =>
        math.abs(score(indexed(id)) - s) <= 1e-5 * math.max(1.0, math.abs(s)) }
    recallSum += ids.count(exact.toSet).toDouble / K
    recallN += 1
    valid
  }

  def writeAmp: Double = appendWritten.toDouble / math.max(appendRaw, 1L)
  def spaceAmp: Double = Stats.median(spaceAmps.toSeq)
  /** Mean recall@10 of every search against the exact top 10. */
  def quality: Double = recallSum / math.max(recallN, 1)

  def perLayer(c: Ctx): Map[String, Double] = {
    val t = c.tracer
    val e = c.spark.read.parquet(new File(inDir, "embeddings.parquet").getPath)
      .select(col("embedding").cast("array<double>").as("v"))
    val q = lit(base(queries.head)).cast("array<double>")
    Map(
      "queries.similarity.build_s" -> t.meanSeconds("queries.similarity.build"),
      "queries.similarity.append_s" -> t.meanSeconds("queries.similarity.append"),
      "queries.similarity.search_plan_ms" ->
        t.meanSeconds("queries.similarity.search_plan") * 1e3,
      "queries.similarity.search_exec_ms" ->
        t.meanSeconds("queries.similarity.search_exec") * 1e3,
      "operators.topk_s" -> t.meanSeconds("operators.topk"),
      "functions.cosine_rows_per_s" -> Main.kernelRate(e, 100000,
        _.select(GraftFunctions.cosineSim(col("v"), q))),
      "functions.l2dist_rows_per_s" -> Main.kernelRate(e, 100000,
        _.select(GraftFunctions.l2DistSq(col("v"), q))))
  }

  // ---- driver-side exact math ------------------------------------------

  private def clusterOf(v: Array[Double]): Long =
    (0 until Centroids).map(k => (r6(cos(v, base(k))), k))
      .maxBy { case (s, k) => (s, -k) }._2.toLong

  private def codes(v: Array[Double]): Array[Double] = Array.tabulate(Dim) { d =>
    if (maxs(d) == mins(d)) 0.0
    else math.min(255.0, math.max(0.0,
      math.floor((v(d) - mins(d)) * 255.0 / (maxs(d) - mins(d)) + 0.5)))
  }

  /** Exact top-k ids by cosine (desc) or squared L2 (asc), id
    * tie-break, excluding the query itself. */
  private def exactTop(q: Array[Double], self: Long,
      pool: collection.Map[Long, Array[Double]], cosine: Boolean): Seq[Long] = {
    val scored = pool.iterator.filter(_._1 != self).map { case (id, v) =>
      (if (cosine) -cos(q, v) else l2(q, v), id)
    }.toSeq
    scored.sorted.take(K).map(_._2)
  }
}

object VectorServe {
  val Dim = 64
  val Centroids = 16 // the index convention: vec_id < 16 are centroids
  val K = 10
  val Coarse = 40
  val BatchQueries = 16
  val AppendIdBase = 1000000L

  def cos(a: Array[Double], b: Array[Double]): Double = {
    var dot, na, nb = 0.0
    var i = 0
    while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    if (na == 0 || nb == 0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  def l2(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  def r6(x: Double): Double =
    BigDecimal(x + 1e-9).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
}
