package graft.core

import java.io.File
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** `GraftSession.conf` derives the mains' one session profile; nothing
  * here starts a session. */
class GraftSessionSpec extends AnyFunSuite {

  private def write(f: File, bytes: Int): Unit = {
    f.getParentFile.mkdirs()
    Files.write(f.toPath, new Array[Byte](bytes))
  }

  private def withDir[A](body: File => A): A = {
    val root = Files.createTempDirectory("graft-session").toFile
    try body(root)
    finally org.apache.commons.io.FileUtils.deleteDirectory(root)
  }

  private val Aqe = "spark.sql.adaptive.enabled"

  test("the AQE probe counts partitioned tables at any depth") {
    withDir { root =>
      write(new File(root, "small.parquet"), 10)
      write(new File(root, "flat/part-0.parquet"), 10)
      write(new File(root, "events/day=1/hour=0/part-0.parquet"), 600)
      write(new File(root, "events/day=2/hour=5/part-0.parquet"), 600)
      assert(GraftSession.adaptiveFor(root, 1000L))
      assert(!GraftSession.adaptiveFor(root, 2000L))
      assert(!GraftSession.adaptiveFor(new File(root, "flat"), 11L))
    }
  }

  test("the AQE probe turns adaptive execution on for an input it cannot read") {
    withDir { root =>
      assert(GraftSession.adaptiveFor(new File(root, "missing"), Long.MaxValue))
    }
  }

  test("the derived profile: cores, partitions, UTC, split size, floor, AQE by input size") {
    withDir { root =>
      write(new File(root, "t/part-0.parquet"), 100)
      val small = GraftSession.conf(Some("3"), Some(root))
      assert(small("spark.master") == "local[3]")
      assert(small("spark.sql.shuffle.partitions") == "3")
      assert(small("spark.sql.session.timeZone") == "UTC")
      assert(small("spark.ui.enabled") == "false")
      assert(small("spark.sql.files.maxPartitionBytes") == (32 * 1024 * 1024).toString)
      assert(small("spark.sql.adaptive.coalescePartitions.minPartitionSize") ==
        (256 * 1024).toString)
      assert(small(Aqe) == "false")
      assert(GraftSession.conf(Some("3"), Some(new File(root, "missing")))(Aqe) == "true")
      assert(GraftSession.conf(Some("3"), None)(Aqe) == "true")
      val n = Runtime.getRuntime.availableProcessors()
      assert(GraftSession.conf(None, None)("spark.master") == s"local[$n]")
    }
  }

  test("a spark.* system property set before the call wins over the derived value") {
    withDir { root =>
      write(new File(root, "t/part-0.parquet"), 100)
      assert(sys.props.get(Aqe).isEmpty)
      sys.props(Aqe) = "true"
      try assert(GraftSession.conf(Some("2"), Some(root))(Aqe) == "true")
      finally sys.props.remove(Aqe)
      assert(sys.props.get(Aqe).isEmpty)
      assert(GraftSession.conf(Some("2"), Some(root))(Aqe) == "false")
    }
  }

  test("a non-numeric or non-positive SPARK_GRAFT_CPUS is rejected by name") {
    for (bad <- Seq("abc", "0", "-2", "", "4.5")) {
      val e = intercept[IllegalArgumentException](GraftSession.conf(Some(bad), None))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), bad)
    }
    assert(GraftSession.conf(Some(" 8 "), None)("spark.master") == "local[8]")
  }
}
