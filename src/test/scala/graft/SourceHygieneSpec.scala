package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/**
 * Source rules that keep configuration and training in one place:
 * `graft.core.KMeans` is the only k-means (no MLlib), `Sessions` is the
 * only session factory, and only the entry points (Sessions itself,
 * Bench, Verify, the CLI and the tools) read system properties or the
 * environment, so no operator or query carries a hidden switch.
 */
class SourceHygieneSpec extends AnyFunSuite {
  private def scalaFiles(root: String): Seq[Path] = {
    val s = Files.walk(Paths.get(root))
    try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList finally s.close()
  }
  private def offenders(files: Seq[Path], needles: String*): Seq[String] =
    files.filter { f =>
      val text = new String(Files.readAllBytes(f), "UTF-8")
      needles.exists(text.contains)
    }.map(_.toString).sorted

  test("only Sessions.scala calls the SparkSession builder") {
    val files = scalaFiles("src/main/scala") ++ scalaFiles("src/test/scala")
    assert(files.exists(_.endsWith("Sessions.scala")), "source tree not found")
    val bad = offenders(files.filterNot(_.endsWith("Sessions.scala")),
      "SparkSession" + ".builder()")
    assert(bad.isEmpty, s"build sessions through graft.Sessions: $bad")
  }

  test("no operator or query reads sys.props or sys.env") {
    val entryPoints = Set("Sessions.scala", "Bench.scala", "Verify.scala")
    val files = scalaFiles("src/main/scala/graft").filterNot { f =>
      val rel = Paths.get("src/main/scala/graft").relativize(f).toString
      entryPoints(rel) || rel.startsWith("cli/") || rel.startsWith("tools/")
    }
    assert(files.exists(_.endsWith("SparkEntry.scala")), "source tree not found")
    val bad = offenders(files, "sys" + ".props", "sys" + ".env")
    assert(bad.isEmpty, s"operators and queries take no switches from the process: $bad")
  }

  test("no MLlib import under src/main: the engine has one k-means") {
    val files = scalaFiles("src/main/scala")
    assert(files.exists(_.endsWith("KMeans.scala")), "source tree not found")
    val bad = offenders(files, "org.apache.spark" + ".ml")
    assert(bad.isEmpty, s"train with graft.core.KMeans, not MLlib: $bad")
  }
}
