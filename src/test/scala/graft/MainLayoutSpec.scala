package graft

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

/** `src/main` holds the engine and its five entry points, nothing
  * else: a one-off measurement main belongs in a spec or in the
  * benchmark, with its result in NOTES.md. */
class MainLayoutSpec extends AnyFunSuite {
  private val EntryPoints =
    Set("Bench", "Verify", "Explain", "SparkEntry", "ModelCheck")

  test("the top level of src/main/scala/graft holds only the entry " +
      "points") {
    val top = new File(sys.props("user.dir"), "src/main/scala/graft")
    assert(top.isDirectory, s"$top not found — run from the repo root")
    val files = top.listFiles().filter(_.isFile).map(_.getName)
    assert(files.nonEmpty)
    val extra = files.filterNot(n =>
      n.endsWith(".scala") && EntryPoints(n.stripSuffix(".scala")))
    assert(extra.isEmpty,
      s"files outside the entry points: ${extra.sorted.mkString(", ")}")
  }
}
