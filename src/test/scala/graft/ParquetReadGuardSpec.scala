package graft

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Every engine parquet read goes through `Tables.readParquet`, which
  * resolves the schema on the driver; a plain `spark.read…parquet(`
  * anywhere else brings back the one-task schema job per read. This
  * scans the engine sources and fails on any such read outside
  * `core/Tables.scala`, with two exclusions:
  *  - `tools/`: one-off probe mains, not engine paths, slated for
  *    deletion (ROADMAP item 2);
  *  - `Bench.scala`: its `floor_sec` measures a plain read on purpose
  *    (the per-query floor a reader compares the totals against), and
  *    its warm-up reads the same table.
  */
class ParquetReadGuardSpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala/graft")
  // `.read`, then only option/options/schema/format calls, then `.parquet(`
  private val plainRead = ("""\bread(\s*\.\s*(option|options|schema|format)""" +
    """\((?:[^()]|\([^()]*\))*\))*\s*\.\s*parquet\(""").r

  private def excluded(p: Path): Boolean = {
    val rel = root.relativize(p).toString
    rel.startsWith("tools/") || rel == "Bench.scala" ||
      rel == "core/Tables.scala"
  }

  test("the regex sees single-line and chained reads") {
    assert(plainRead.findFirstIn("spark.read.parquet(p)").nonEmpty)
    assert(plainRead.findFirstIn(
      "s.read.option(\"recursiveFileLookup\", \"true\")\n  .parquet(ps: _*)")
      .nonEmpty)
    assert(plainRead.findFirstIn("df.write.mode(\"overwrite\").parquet(p)").isEmpty)
    assert(plainRead.findFirstIn("spark.read.option(\"a\", f(x)).csv(p)").isEmpty)
  }

  test("no plain parquet read in the engine outside core/Tables.scala") {
    assert(Files.isDirectory(root), s"run from the repo root: $root")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.exists(_.endsWith("llm/Admission.scala")))
    val hits = files.filterNot(excluded).flatMap { f =>
      val src = new String(Files.readAllBytes(f), "UTF-8")
      plainRead.findAllMatchIn(src).map { m =>
        val line = src.substring(0, m.start).count(_ == '\n') + 1
        s"${root.relativize(f)}:$line"
      }
    }
    assert(hits.isEmpty,
      s"route these through graft.core.Tables.readParquet: ${hits.mkString(", ")}")
  }
}
