package graft

import java.io.File
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** `Bench`'s adaptive-execution probe sizes the input it is pointed at. */
class BenchSpec extends AnyFunSuite {

  private def write(f: File, bytes: Int): Unit = {
    f.getParentFile.mkdirs()
    Files.write(f.toPath, new Array[Byte](bytes))
  }

  test("the AQE probe counts partitioned tables at any depth") {
    val root = Files.createTempDirectory("graft-bench-probe").toFile
    try {
      write(new File(root, "small.parquet"), 10)
      write(new File(root, "flat/part-0.parquet"), 10)
      write(new File(root, "events/day=1/hour=0/part-0.parquet"), 600)
      write(new File(root, "events/day=2/hour=5/part-0.parquet"), 600)
      assert(Bench.adaptiveFor(root, 1000L))
      assert(!Bench.adaptiveFor(root, 2000L))
      assert(!Bench.adaptiveFor(new File(root, "flat"), 11L))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(root)
  }

  test("the AQE probe turns adaptive execution on for an input it cannot read") {
    val root = Files.createTempDirectory("graft-bench-probe").toFile
    try assert(Bench.adaptiveFor(new File(root, "missing"), Long.MaxValue))
    finally org.apache.commons.io.FileUtils.deleteDirectory(root)
  }
}
