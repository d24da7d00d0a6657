package graft

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Source guards over the Scala tree.
  *
  * Every engine parquet read goes through `Tables.readParquet`, which
  * resolves the schema on the driver; a plain `spark.read…parquet(`
  * anywhere else brings back the one-task schema job per read. The
  * read guard scans the main sources and fails on any such read outside
  * `core/Tables.scala`, with one exclusion: `Bench.scala`, whose
  * `floor_sec` measures a plain read on purpose (the per-query floor a
  * reader compares the totals against), and whose warm-up reads the
  * same table.
  *
  * The citation guard keeps comments from naming dev tools that no
  * longer exist: a measurement is cited by its SCALE.md section, and a
  * tool is cited only while its file is in the tree. It also keeps the
  * main tree's scaladoc links (`[[Name]]`, `[[a.b.Name]]`) pointing at
  * names the tree still defines, and every main-tree scaladoc block
  * attached to a definition rather than stacked on the next block.
  */
class ParquetReadGuardSpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala/graft")
  // `.read`, then only option/options/schema/format calls, then `.parquet(`
  private val plainRead = ("""\bread(\s*\.\s*(option|options|schema|format)""" +
    """\((?:[^()]|\([^()]*\))*\))*\s*\.\s*parquet\(""").r

  private def excluded(p: Path): Boolean = {
    val rel = root.relativize(p).toString
    rel == "Bench.scala" || rel == "core/Tables.scala"
  }

  private def scalaFiles(dir: Path): Seq[Path] =
    Files.walk(dir).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq

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
    val files = scalaFiles(root)
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

  test("every probe or tools/ name a source cites exists") {
    val tools = root.resolve("tools")
    assert(Files.isDirectory(tools), s"run from the repo root: $tools")
    val srcs = Seq("src/main/scala", "src/test/scala")
      .flatMap(d => scalaFiles(Paths.get(d)))
      .map(f => f -> new String(Files.readAllBytes(f), "UTF-8"))
    val toolNames = scalaFiles(tools)
      .map(_.getFileName.toString.stripSuffix(".scala")).toSet
    val main = Paths.get("src/main/scala")
    // (in the main tree, keyword, name)
    val definitions = srcs.flatMap { case (f, src) =>
      """\b(val|def|object|class|trait|type)\s+(\w+)""".r.findAllMatchIn(src)
        .map(m => (f.startsWith(main), m.group(1), m.group(2)))
    }
    val defined = definitions.collect {
      case (_, k, n) if Set("val", "def", "object")(k) => n
    }.toSet
    val cited = """\bProbe[A-Z]\w*|\btools/(\w+)""".r
    val cites = srcs.flatMap { case (f, src) =>
      cited.findAllMatchIn(src).map { m =>
        val line = src.substring(0, m.start).count(_ == '\n') + 1
        (Option(m.group(1)).getOrElse(m.matched), s"$f:$line")
      }
    }
    // the engine's own probe constants keep this from passing vacuously
    assert(cites.nonEmpty)
    val dangling = cites.filterNot { case (name, _) =>
      toolNames(name) || defined(name)
    }
    assert(dangling.isEmpty, "cite a SCALE.md section instead of a " +
      s"deleted tool: ${dangling.map { case (n, at) => s"$n at $at" }.mkString(", ")}")
    // a link may wrap across comment lines (`[[a.b\n  * .Name]]`); its
    // last segment must name a main-tree definition of any kind
    val links = srcs.filter(_._1.startsWith(main))
      .flatMap { case (f, src) =>
        """\[\[([^\]]+)\]\]""".r.findAllMatchIn(src).map { m =>
          val line = src.substring(0, m.start).count(_ == '\n') + 1
          val target = m.group(1).replaceAll("""\s*\*\s*|\s+""", "")
          (target.split("[.#]").last, s"$f:$line")
        }
      }
    assert(links.nonEmpty)
    val mainDefined = definitions.collect { case (true, _, n) => n }.toSet
    val deadLinks = links.filterNot { case (name, _) => mainDefined(name) }
    assert(deadLinks.isEmpty, "scaladoc links to undefined names: " +
      deadLinks.map { case (n, at) => s"$n at $at" }.mkString(", "))
    // a scaladoc block documents the definition below it, so a block
    // followed directly by another block documents nothing
    val orphanDocs = srcs.filter(_._1.startsWith(main))
      .flatMap { case (f, src) =>
        """/\*\*""".r.findAllMatchIn(src).flatMap { m =>
          val end = src.indexOf("*/", m.end)
          val next = if (end < 0) -1 else src.indexWhere(!_.isWhitespace, end + 2)
          if (next >= 0 && src.startsWith("/**", next))
            Some(s"$f:${src.substring(0, m.start).count(_ == '\n') + 1}")
          else None
        }
      }
    assert(orphanDocs.isEmpty, "scaladoc blocks followed by another block " +
      s"instead of a definition: ${orphanDocs.mkString(", ")}")
  }
}
