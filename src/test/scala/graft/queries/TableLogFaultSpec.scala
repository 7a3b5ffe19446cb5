package graft.queries

import java.io.IOException
import java.net.URI
import java.nio.file.Files

import org.apache.hadoop.fs.{FSDataInputStream, FilterFileSystem, Path,
  RawLocalFileSystem}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterEach
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec

/** Local filesystem under its own `faultfs` scheme whose calls pass
  * through [[FaultFs.hook]] first — a hook that throws is a crash at
  * that exact call. Registered with the FileSystem cache disabled, so
  * every `getFileSystem` builds a fresh instance that sees the
  * current hook. */
class FaultFs extends FilterFileSystem(new FaultFs.Local) {
  override def getScheme: String = FaultFs.Scheme

  override def exists(f: Path): Boolean = {
    FaultFs.hook("exists", f)
    super.exists(f)
  }

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    FaultFs.hook("open", f)
    super.open(f, bufferSize)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    FaultFs.hook("rename", dst)
    super.rename(src, dst)
  }
}

object FaultFs {
  val Scheme = "faultfs"

  /** The wrapped local filesystem, answering for `faultfs:` paths. */
  class Local extends RawLocalFileSystem {
    override def getUri: URI = URI.create(s"$Scheme:///")
    override def getScheme: String = Scheme
  }

  @volatile var hook: (String, Path) => Unit = (_, _) => ()

  def crash(what: String): Nothing =
    throw new IOException(s"injected crash: $what")
}

/** Crash windows of the keyed copy-on-write rewrite, injected at the
  * filesystem calls themselves: (a) after the data files are written
  * and before the manifest is published, (b) inside the optimistic
  * rebase that follows a lost commit race. Either way the table must
  * be left exactly as it was — version, and every version's content
  * — and the next mutation must land. */
class TableLogFaultSpec extends SparkSpec with Matchers
    with BeforeAndAfterEach {
  import spark.implicits._

  override def beforeAll(): Unit = {
    super.beforeAll()
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set(s"fs.${FaultFs.Scheme}.impl", classOf[FaultFs].getName)
    conf.setBoolean(s"fs.${FaultFs.Scheme}.impl.disable.cache", true)
  }

  override def afterEach(): Unit = {
    FaultFs.hook = (_, _) => ()
    super.afterEach()
  }

  private def table(name: String): String = {
    val dir = s"${FaultFs.Scheme}://" +
      Files.createTempDirectory(name).toAbsolutePath
    TableLog.writeBase(spark,
      (0L until 400L).map(i => (i, s"b$i")).toDF("id", "body")
        .repartitionByRange(4, col("id")),
      dir, statsKey = Some("id"))
    TableLog.upsert(spark, dir, Seq((5L, "u5"), (900L, "n900"))
      .toDF("id", "body"), "id")
    dir
  }

  private def content(dir: String, v: Int): Seq[(Long, String)] =
    TableLog.readVersion(spark, dir, Some(v)).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq

  private def history(dir: String): Seq[Seq[(Long, String)]] =
    (0 to TableLog.currentVersion(spark, dir)).map(content(dir, _))

  private def isManifest(p: Path, v: Int) =
    p.getName == f"v$v%05d.manifest"

  private val mutations: Seq[(String, String => Unit)] = Seq(
    "upsert" -> (dir => TableLog.upsert(spark, dir,
      Seq((7L, "u7"), (1000L, "n1000")).toDF("id", "body"), "id")),
    "delete" -> (dir => TableLog.delete(spark, dir,
      Seq(8L, 300L).toDF("id"), "id")))

  mutations.foreach { case (name, mutate) =>
    test(s"$name: a crash between the data write and the manifest " +
        "publish leaves every version unchanged") {
      val dir = table(s"tl-fault-publish-$name")
      val head = TableLog.currentVersion(spark, dir)
      val before = history(dir)
      FaultFs.hook = {
        case ("rename", p) if p.getName.endsWith(".manifest") =>
          FaultFs.crash(s"publishing $p")
        case _ => ()
      }
      val e = intercept[IOException](mutate(dir))
      e.getMessage should include("injected crash")
      FaultFs.hook = (_, _) => ()
      // the attempt's data files did land — as orphans
      val fs = new Path(dir).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      fs.listStatus(new Path(dir, "data")).map(_.getPath.getName)
        .count(_.startsWith(f"v${head + 1}%05d-")) shouldBe 1
      TableLog.currentVersion(spark, dir) shouldBe head
      history(dir) shouldBe before
      mutate(dir)
      TableLog.currentVersion(spark, dir) shouldBe head + 1
      content(dir, head + 1) should not be before.last
    }

    test(s"$name: a crash inside the rebase after a lost commit race " +
        "commits nothing of the loser") {
      val dir = table(s"tl-fault-rebase-$name")
      val head = TableLog.currentVersion(spark, dir)
      val before = history(dir)
      val raced = head + 1
      // the loser's commit checks its manifest slot: a winner takes
      // the slot first (a metadata-only commit), and the loser's
      // rebase then crashes reading the winner's manifest
      FaultFs.hook = {
        case ("exists", p) if isManifest(p, raced) =>
          FaultFs.hook = {
            case ("open", q) if isManifest(q, raced) =>
              FaultFs.crash(s"rebasing over $q")
            case _ => ()
          }
          TableLog.commit(spark, dir, raced, Nil, Nil, Some("winner#1"))
        case _ => ()
      }
      val e = intercept[IOException](mutate(dir))
      e.getMessage should include("rebasing")
      FaultFs.hook = (_, _) => ()
      // only the winner's (content-free) version landed
      TableLog.currentVersion(spark, dir) shouldBe raced
      TableLog.txnHighWater(spark, dir, "winner") shouldBe Some(1L)
      history(dir) shouldBe before :+ before.last
      mutate(dir)
      TableLog.currentVersion(spark, dir) shouldBe raced + 1
      content(dir, raced + 1) should not be before.last
    }
  }
}
