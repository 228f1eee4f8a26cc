package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Operators take no knobs: no `spark.graft.*` session conf is read
  * anywhere in the program, and the environment is read only by the
  * mains' run settings (`Bench`) and the one session builder
  * (`core.GraftSession`). A form an operator would pick by a knob is a
  * form its caller calls directly. Tests, likewise, share one session
  * ([[GraftSpark]]): a suite builds its own only where it says why. */
class NoKnobSpec extends AnyFunSuite {

  private val envReaders = Set(
    Paths.get("graft", "Bench.scala"),
    Paths.get("graft", "core", "GraftSession.scala"))

  /** The test fixture, and the two suites that need a session of their
    * own (task retries; a plain builder under test). */
  private val sessionBuilders = Set(
    Paths.get("graft", "GraftSpark.scala"),
    Paths.get("graft", "ops", "CheckpointRecoverySpec.scala"),
    Paths.get("graft", "functions", "GraftExtensionsSpec.scala"))

  /** (path relative to `root`, line number, line) of every line of the
    * scala sources under `root`, as the build compiles them. */
  private def linesUnder(root: Path): Seq[(Path, Int, String)] = {
    assert(Files.isDirectory(root), s"no source tree at ${root.toAbsolutePath}")
    val files = Files.walk(root)
    try files.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    finally files.close()
  }.flatMap { f =>
    Files.readAllLines(f).asScala.zipWithIndex.map { case (l, i) =>
      (root.relativize(f), i + 1, l)
    }
  }

  private lazy val lines = linesUnder(Paths.get("src", "main", "scala"))
  private lazy val testLines = linesUnder(Paths.get("src", "test", "scala"))

  private def show(hits: Seq[(Path, Int, String)]) =
    hits.map { case (f, n, l) => s"$f:$n: ${l.trim}" }.mkString("\n")

  test("the source scan sees the whole program") {
    assert(lines.exists(_._1 == Paths.get("graft", "SparkEntry.scala")))
    assert(envReaders.forall(f => lines.exists(_._1 == f)))
    assert(sessionBuilders.forall(f => testLines.exists(_._1 == f)))
  }

  test("no spark.graft.* conf is named in the program") {
    val hits = lines.filter(_._3.contains("spark.graft."))
    assert(hits.isEmpty, "\n" + show(hits))
  }

  test("only the mains' run settings and the session builder read the environment") {
    val hits = lines.filter { case (f, _, l) =>
      !envReaders(f) && (l.contains("sys.env") || l.contains("System.getenv"))
    }
    assert(hits.isEmpty, "\n" + show(hits))
  }

  test("tests build no session but the shared one and the two that say why") {
    // split so this line is no hit of its own
    val builder = "SparkSession" + ".builder"
    val hits = testLines.filter { case (f, _, l) =>
      !sessionBuilders(f) && l.contains(builder)
    }
    assert(hits.isEmpty, "\n" + show(hits))
  }
}
