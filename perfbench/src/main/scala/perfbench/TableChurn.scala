package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.util.zip.CRC32
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{ColumnPayload, Modality, ShardedPayload, ShardsConfig}
import graft.operators.Processor
import graft.queries.{MaterializedAgg, TableLog}
import graft.sources.{DatasetReader, ShardWriters, Validators}

/** `table_churn`: the Maintain family on a versioned table. Each episode
  * ingests the base corpus from a tar + csv shards dataset (read,
  * validate, write the base), runs a fixed schedule of small keyed
  * commits (upsert + view maintain, delete, compact) with snapshot
  * reads of the latest and of old versions, a data-skipping range read
  * and `history` between them, and exports the last snapshot as shards.
  * Many small Spark actions: the driver and table metadata are the
  * cost; the version count grows through the episode, so log replay
  * shows. */
final class TableChurn extends Workload {
  import TableChurn._

  val primary = "commit"
  val secondary = "read"
  val build = "ingest"
  // One episode (one ingest, 8 commits) per run gave medians that
  // spread across runs by more than the bounds. The warm-up is at full
  // size because Spark's plans and the JIT's profiles depend on row
  // counts, so a tenth-size warm-up leaves the measured paths cold.
  override val warmFull = true
  override val minEpisodes = 2

  private var baseDir = ""
  private var base: Map[Long, Rec] = Map.empty
  /** (kind, batch file, rows) per commit of the schedule */
  private var batches: Seq[(String, String, Seq[Rec])] = Nil
  private var episodeNo = 0
  private val writeAmps = mutable.ArrayBuffer.empty[Double]
  private val spaceAmps = mutable.ArrayBuffer.empty[Double]
  private var liveFiles, openedFiles = 0L

  /** Driver-side copies of the inputs, read without Spark: the base
    * rows from the shard csvs, the batches from their .tsv twins. */
  def prepare(c: Ctx): Unit = {
    val dir = new File(c.in, "table")
    baseDir = new File(dir, "base").getPath
    base = new File(baseDir).listFiles.filter(_.getName.endsWith(".csv"))
      .flatMap(f => lines(f).map(_.split(",")).map(a =>
        Rec(a(1).toLong, a(2), a(3).toLong, a(4))))
      .map(r => r.key -> r).toMap
    batches = lines(new File(dir, "schedule.txt"), header = false).zipWithIndex
      .map { case (k, i) =>
        val f = new File(dir, f"c${i + 1}%04d")
        val rows = if (k == "compact") Nil else lines(new File(f.getPath + ".tsv"))
          .map(_.split("\t")).map {
            case Array(key) => Rec(key.toLong, "", 0L, "")
            case Array(key, g, v, n) => Rec(key.toLong, g, v.toLong, n)
          }
        (k, f.getPath + ".parquet", rows)
      }
  }

  private def lines(f: File, header: Boolean = true): Seq[String] = {
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.getLines().drop(if (header) 1 else 0).filter(_.nonEmpty).toVector
    finally src.close()
  }

  /** A fresh table from the shards, the whole commit schedule with
    * reads between commits, the export, then the version checks. The
    * short episode commits one upsert, one delete and the compact, and
    * reads each way once. */
  def episode(c: Ctx, short: Boolean): Unit = {
    val picks = if (short) Seq(0, 1, batches.size - 1) else batches.indices
    val spark = c.spark
    val t = c.tracer
    episodeNo += 1
    val root = new File(c.work, s"ep$episodeNo")
    val dir = new File(root, "table").getPath
    val view = new File(root, "view").getPath
    var live = base
    // every acknowledged version and the content it must read back as
    val acked = mutable.ArrayBuffer.empty[(Int, Fp)]
    var written, changed = 0L

    var validation: graft.core.ValidationResult = null
    val ok = c.op(build) {
      val p = t.span("sources", "sources.read_shards") {
        val p = DatasetReader.readShards(spark, ShardsConfig(baseDir,
          Seq(ShardedPayload(Modality.Image, "image_name"))))
        p.copy(df = t.force(p.df))
      }
      validation = t.span("sources", "sources.validate")(Validators.validate(p))
      t.count("sources.tar_bytes", new File(baseDir).listFiles
        .filter(_.getName.endsWith(".tar")).map(_.length).sum.toDouble)
      t.span("tablelog", "queries.tablelog.write_base") {
        TableLog.writeBase(spark, p.df.select(col("key").cast("long"), col("grp"),
          col("val").cast("long"), col("note")), dir, statsKey = Some("key"))
      }
      t.span("tablelog", "queries.tablelog.maintain_view") {
        maintainView(spark, dir, view)
      }
    } { _ =>
      acked += ((TableLog.currentVersion(spark, dir), fingerprint(live.values)))
      validation.isValid && viewMatches(spark, view, live.values)
    }
    if (ok.isEmpty) return

    var i = 0
    while (i < picks.size) {
      val (kind, path, rows) = batches(picks(i))
      i += 1
      val before = c.du(new File(dir))
      val next = kind match {
        case "upsert" => live ++ rows.map(r => r.key -> r)
        case "delete" => live -- rows.map(_.key)
        case _ => live
      }
      changed += (kind match {
        case "upsert" => rows.map(_.bytes).sum
        case "delete" => rows.flatMap(r => live.get(r.key)).map(_.bytes).sum
        case _ => 0L
      })
      c.op(primary) {
        kind match {
          case "upsert" =>
            t.span("tablelog", "queries.tablelog.upsert") {
              TableLog.upsert(spark, dir, spark.read.parquet(path), "key")
            }
            t.span("tablelog", "queries.tablelog.maintain_view") {
              maintainView(spark, dir, view)
            }
          case "delete" =>
            t.span("tablelog", "queries.tablelog.delete") {
              TableLog.delete(spark, dir, spark.read.parquet(path), "key")
            }
          case "compact" =>
            t.span("tablelog", "queries.tablelog.compact") {
              TableLog.compact(spark, dir, CompactBytes)
            }
        }
      } { _ =>
        live = next
        acked += ((TableLog.currentVersion(spark, dir), fingerprint(live.values)))
        kind != "upsert" || viewMatches(spark, view, live.values)
      }
      val w = c.du(new File(dir)) - before
      written += w
      if (t.on) t.count("queries.tablelog.bytes_written", w.toDouble)

      // reads between commits
      val (head, headFp) = acked.last
      c.op(secondary)(readFp(c, TableLog.readVersion(spark, dir)))(_ == headFp)
      if (i % 2 == 0 || short && i == 1) {
        val (oldV, oldFp) = acked(acked.size / 2)
        c.op(secondary)(readFp(c, TableLog.readVersion(spark, dir, Some(oldV))))(
          _ == oldFp)
      }
      if (i % 3 == 0 || short && i == 2) {
        val span = base.size / 20L // a 5% key range
        val lo = (i * 7919L) % (base.size - span)
        val hi = lo + span
        c.op(secondary)(readFp(c, TableLog.readVersionRange(spark, dir, lo, hi)))(
          _ == fingerprint(live.values.filter(r => r.key >= lo && r.key <= hi)))
        liveFiles += TableLog.liveFiles(spark, dir).size
        openedFiles += TableLog.prunedLiveFiles(spark, dir, lo, hi).size
      }
      if (i % 4 == 0 || short && i == 3)
        c.op(secondary)(t.span("tablelog", "queries.tablelog.history") {
          TableLog.history(spark, dir).collect()
        })(_.map(_.getInt(0)).toSeq == (0 to head))
    }

    val out = new File(root, "export")
    c.op("export") {
      t.span("sources", "sources.write_shards") {
        ShardWriters.saveToShards(Processor(TableLog.readVersion(spark, dir),
          ShardsConfig(out.getPath, Seq(ColumnPayload(Modality.Text, "note")))),
          out.getPath, maxFilesInShard = 5000)
      }
    } { _ =>
      val rows = out.listFiles.filter(_.getName.endsWith(".csv")).toSeq.flatMap { f =>
        val col = lines(f, header = false).head.split(",").zipWithIndex.toMap
        lines(f).map(_.split(",", -1)).map(a => Rec(a(col("key")).toLong,
          a(col("grp")), a(col("val")).toLong, a(col("note"))))
      }
      fingerprint(rows) == acked.last._2
    }

    // every acknowledged version must still read back as acknowledged
    acked.foreach { case (v, fp) =>
      val got = try Some(fpOf(TableLog.readVersion(spark, dir, Some(v))))
      catch { case _: Exception => None }
      if (!got.contains(fp)) c.fail(s"version $v of episode $episodeNo")
    }
    writeAmps += written.toDouble / changed
    spaceAmps += c.du(new File(dir)).toDouble / live.values.map(_.bytes).sum
    if (t.on) {
      t.count("queries.tablelog.replay_files", TableLog.replayCost(spark, dir))
      t.count("queries.tablelog.live_files", TableLog.liveFiles(spark, dir).size)
    }
    Main.deleteTree(root)
  }

  private def readFp(c: Ctx, df: => DataFrame): Fp =
    c.tracer.span("tablelog", "queries.tablelog.read_version")(fpOf(df))

  def writeAmp: Double = Stats.median(writeAmps.toSeq)
  def spaceAmp: Double = Stats.median(spaceAmps.toSeq)
  /** Data skipping of the range reads: live files over the files the
    * manifest stats leave to open (1 when nothing is skipped). */
  def quality: Double = liveFiles.toDouble / math.max(openedFiles, 1L)

  def perLayer(c: Ctx): Map[String, Double] = {
    val t = c.tracer
    val validateS = t.meanSeconds("sources.validate")
    Map(
      "sources.write_shards_s" -> t.meanSeconds("sources.write_shards"),
      "sources.read_shards_s" -> t.meanSeconds("sources.read_shards"),
      "sources.validate_s" -> validateS,
      "sources.tar_bytes" -> t.countMean("sources.tar_bytes"),
      // size-normalised: validation reads the csv rows and only the tar
      // headers, so this is not the MB it moved
      "sources.validate_input_mb_per_s" -> (if (validateS == 0) 0.0
        else c.du(new File(baseDir)) / 1e6 / validateS),
      "queries.tablelog.upsert_s" -> t.meanSeconds("queries.tablelog.upsert"),
      "queries.tablelog.delete_s" -> t.meanSeconds("queries.tablelog.delete"),
      "queries.tablelog.compact_s" -> t.meanSeconds("queries.tablelog.compact"),
      "queries.tablelog.maintain_view_s" ->
        t.meanSeconds("queries.tablelog.maintain_view"),
      "queries.tablelog.read_version_s" ->
        t.meanSeconds("queries.tablelog.read_version"),
      "queries.tablelog.history_s" -> t.meanSeconds("queries.tablelog.history"),
      "queries.tablelog.replay_files" -> t.countMean("queries.tablelog.replay_files"),
      "queries.tablelog.live_files" -> t.countMean("queries.tablelog.live_files"),
      "queries.tablelog.bytes_written" ->
        t.countMean("queries.tablelog.bytes_written")
    ) ++ Main.textKernels(c.spark.createDataFrame(
      base.values.toSeq.map(r => Tuple1(r.note))).toDF("text"))
  }
}

object TableChurn {
  val CompactBytes: Long = 1L << 20

  final case class Rec(key: Long, grp: String, value: Long, note: String) {
    /** Logical size of the row: two longs and two UTF-8 strings. */
    def bytes: Long = 16L + grp.getBytes(StandardCharsets.UTF_8).length +
      note.getBytes(StandardCharsets.UTF_8).length
    def crc: Long = {
      val c = new CRC32
      c.update(s"$key|$grp|$value|$note".getBytes(StandardCharsets.UTF_8))
      c.getValue
    }
  }

  /** Order-free content fingerprint: row count, key sum and the sum of
    * each row's CRC-32 over all its columns. */
  final case class Fp(rows: Long, keySum: Long, crcSum: Long)

  def fingerprint(rs: Iterable[Rec]): Fp =
    Fp(rs.size.toLong, rs.iterator.map(_.key).sum, rs.iterator.map(_.crc).sum)

  def fpOf(df: DataFrame): Fp = {
    val r: Row = df.agg(count(lit(1)), coalesce(sum(col("key")), lit(0L)),
      coalesce(sum(crc32(concat_ws("|", col("key").cast("string"), col("grp"),
        col("val").cast("string"), col("note")).cast("binary"))), lit(0L))).head()
    Fp(r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** The view the workload maintains: row count and sum of `val` per
    * `grp`, brought current after every upsert. */
  def maintainView(spark: SparkSession, dir: String, view: String)
      : MaterializedAgg.MaintainStats =
    MaterializedAgg.maintain(spark, dir, "key", view, Seq("grp"), Seq("val"))

  def viewMatches(spark: SparkSession, view: String,
      live: Iterable[Rec]): Boolean = {
    val want = live.groupBy(_.grp).map { case (g, rs) =>
      g -> ((rs.size.toLong, rs.iterator.map(_.value).sum))
    }
    val got = MaterializedAgg.readView(spark, view)
      .select("grp", "n_rows", "sum_val").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    got == want
  }
}
