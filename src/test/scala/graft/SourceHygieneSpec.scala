package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/**
 * Source rules that keep configuration and training in one place:
 * `graft.core.KMeans` is the only k-means (no MLlib), `Sessions` is the
 * only session factory, and only the entry points (Sessions itself,
 * Bench, Verify, the CLI and the tools) read system properties or the
 * environment, so no operator or query carries a hidden switch. The
 * engine is batch only, `graft.sinks.BulkSink` is its one writer of
 * sorted runs (no DataSource V2 write surface), operators materialize
 * intermediates only through `graft.core.Materialize`, no engine `var`
 * holds a function (a test hook), and every public entry that no other
 * source file calls is listed, with its reason, in
 * `docs/kept_entries.txt`.
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

  test("no structured-streaming surface under src/main: the engine is batch only") {
    val files = scalaFiles("src/main/scala")
    assert(files.exists(_.endsWith("SparkEntry.scala")), "source tree not found")
    val bad = offenders(files, "read" + "Stream", "write" + "Stream",
      "foreach" + "Batch")
    assert(bad.isEmpty, s"no stream sources, sinks or micro-batch writers: $bad")
  }

  test("no DataSource V2 write surface under src/main: one bulk writer") {
    val files = scalaFiles("src/main/scala")
    assert(files.exists(_.endsWith("BulkSink.scala")), "source tree not found")
    val needles = Seq("Supports" + "Write", "DataWriter" + "Factory", "Batch" + "Write",
      ".write.format(\"graft" + "-bulk\")")
    val bad = files.filter { f =>
      val code = SourceInventory.strip(read(f), keepStrings = true)
      needles.exists(code.contains)
    }.map(_.toString).sorted
    assert(bad.isEmpty, s"write sorted runs with graft.sinks.BulkSink: $bad")
  }

  test("operators, the CLI and the queries materialize only through Materialize") {
    val root = "src/main/scala/graft"
    val files = scalaFiles(s"$root/operators") ++ scalaFiles(s"$root/cli") :+
      Paths.get(s"$root/SparkEntry.scala")
    assert(files.exists(_.endsWith("Dedup.scala")), "source tree not found")
    val calls = Seq(".persist(", ".cache()", "unpersist(", "localCheckpoint(", ".checkpoint(")
    val bad = files.filter { f =>
      val code = SourceInventory.strip(read(f), keepStrings = false)
      calls.exists(code.contains)
    }.map(_.toString).sorted
    assert(bad.isEmpty, s"cache, truncate and release with Materialize: $bad")
  }

  test("no var under src/main holds a function: tests interleave through a test filesystem") {
    val files = scalaFiles("src/main/scala")
    assert(files.exists(_.endsWith("Lakehouse.scala")), "source tree not found")
    // `var f: () => Unit = ...` (a function type before the `=`) or
    // `var f = (...) => ...` (a lambda assigned)
    val typed = "\\bvar\\s+\\w+\\s*:((?!\\s=\\s)[^\\n])*=>".r
    val lambda = "\\bvar\\s+\\w+\\s*=\\s*(\\([^)\\n]*\\)|\\w+)\\s*=>".r
    val bad = files.filter { f =>
      val code = SourceInventory.strip(read(f), keepStrings = false)
      typed.findFirstIn(code).isDefined || lambda.findFirstIn(code).isDefined
    }.map(_.toString).sorted
    assert(bad.isEmpty, s"no mutable hooks in the engine: $bad")
  }

  test("every public entry without a caller in another file is on the keep-list") {
    val root = Paths.get("src/main/scala")
    val mainFiles = scalaFiles(root.toString)
    val others = mainFiles ++ scalaFiles("perfbench/src/main/scala")
    assert(mainFiles.exists(_.endsWith("SparkEntry.scala")), "source tree not found")
    val callerText = others.map(f => f -> SourceInventory.strip(read(f), keepStrings = true)).toMap
    val found = mainFiles.flatMap { f =>
      val rel = root.relativize(f).toString
      SourceInventory.publicDefs(read(f)).distinct.filterNot { name =>
        val word = ("(?<![A-Za-z0-9_])" + java.util.regex.Pattern.quote(name) +
          "(?![A-Za-z0-9_])").r
        others.exists(g => g != f && word.findFirstIn(callerText(g)).isDefined)
      }.map(rel -> _)
    }.toSet
    val kept = read(Paths.get("docs/kept_entries.txt")).split("\n").toSeq
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val parts = l.split("\\s+", 3)
        assert(parts.length == 3 &&
          Seq("survey:", "seam:").exists(parts(2).startsWith),
          s"keep-list lines read `<path> <name> survey:|seam: <why>`: $l")
        parts(0) -> parts(1)
      }
    assert(kept.distinct.size === kept.size, "duplicate keep-list lines")
    val unlisted = (found -- kept).toSeq.sorted
    assert(unlisted.isEmpty, "public entries with no caller in another file — " +
      s"delete them, narrow them, or list them with a reason: $unlisted")
    val stale = (kept.toSet -- found).toSeq.sorted
    assert(stale.isEmpty, "keep-list entries that no longer exist or have " +
      s"gained a caller in another file: $stale")
  }

  private def read(f: Path): String = new String(Files.readAllBytes(f), "UTF-8")
}

/**
 * A lexical scan of Scala sources, enough for the keep-list inventory:
 * comments are dropped (and string literals, for finding definitions),
 * then `def`s are collected whose every enclosing brace opens an
 * object, class or trait that is not private.
 */
object SourceInventory {
  /** `src` with comments removed, newlines kept. String literals stay
    * when `keepStrings` (a SQL function is called by its registered
    * name) and become `""` otherwise; char literals become `' '`. */
  def strip(src: String, keepStrings: Boolean): String = {
    val out = new StringBuilder
    val n = src.length
    def newlines(a: Int, b: Int): String = "\n" * src.substring(a, b).count(_ == '\n')
    var i = 0
    while (i < n) {
      val c = src.charAt(i)
      if (src.startsWith("//", i)) {
        val j = src.indexOf('\n', i)
        i = if (j < 0) n else j
      } else if (src.startsWith("/*", i)) {
        val j = src.indexOf("*/", i + 2)
        val end = if (j < 0) n else j + 2
        out ++= newlines(i, end)
        i = end
      } else if (c == '"') {
        var end = i + 1
        if (src.startsWith("\"\"\"", i)) {
          val j = src.indexOf("\"\"\"", i + 3)
          end = if (j < 0) n else j + 3
          while (end < n && src.charAt(end) == '"') end += 1
        } else {
          while (end < n && src.charAt(end) != '"' && src.charAt(end) != '\n') {
            if (src.charAt(end) == '\\') end += 1
            end += 1
          }
          if (end < n && src.charAt(end) == '"') end += 1
        }
        out ++= (if (keepStrings) src.substring(i, end) else "\"\"" + newlines(i, end))
        i = end
      } else if (c == '\'' && i + 2 < n && src.charAt(i + 1) != '\\' &&
          src.charAt(i + 2) == '\'') {
        out ++= "' '"
        i += 3
      } else if (c == '\'' && i + 1 < n && src.charAt(i + 1) == '\\') {
        val j = src.indexOf('\'', i + 2)
        out ++= "' '"
        i = if (j < 0 || j > i + 8) i + 1 else j + 1
      } else {
        out += c
        i += 1
      }
    }
    out.toString
  }

  private val Template = "\\b(object|class|trait)\\s+\\w+".r
  private val PrivateTemplate = "\\b(private|protected)\\b.*\\b(object|class|trait)\\s".r
  private val Def = ("^\\s*((?:(?:final|implicit|override|private|protected|lazy|" +
    "abstract|sealed|case|inline)(?:\\[\\w+\\])?\\s+)*)def\\s+([A-Za-z_][A-Za-z0-9_]*)").r
  private val HeaderContinues = Seq("extends", "with", "{")

  /** Names of the public, non-override `def`s declared directly in a
    * non-private object, class or trait (nested templates included). */
  def publicDefs(src: String): Seq[String] = {
    // each open brace: (opens a template, that template is private)
    val stack = scala.collection.mutable.ArrayBuffer.empty[(Boolean, Boolean)]
    var pending: Option[Boolean] = None // a template header awaiting its `{`
    var parens = 0
    val found = Seq.newBuilder[String]
    strip(src, keepStrings = false).split("\n", -1).foreach { line =>
      if (pending.isDefined && parens == 0 &&
          !HeaderContinues.exists(line.trim.startsWith))
        pending = None
      Def.findFirstMatchIn(line).foreach { m =>
        val mods = m.group(1)
        if (stack.forall(_._1) && !stack.exists(_._2) && !mods.contains("private") &&
            !mods.contains("protected") && !mods.contains("override"))
          found += m.group(2)
      }
      Template.findFirstMatchIn(line).foreach { m =>
        pending = Some(PrivateTemplate.findFirstIn(line.substring(0, m.end)).isDefined)
      }
      line.foreach {
        case '(' => parens += 1
        case ')' => parens = math.max(0, parens - 1)
        case '{' =>
          stack += (pending.isDefined -> pending.getOrElse(false))
          pending = None
        case '}' => if (stack.nonEmpty) stack.remove(stack.size - 1)
        case _ => ()
      }
    }
    found.result()
  }
}
