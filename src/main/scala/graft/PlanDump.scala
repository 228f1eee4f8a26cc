package graft

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Dumps `.explain("formatted")` for bench queries to one file per key —
  * the optimization-round evidence trail (plans/rN/<key>_before.txt /
  * _after.txt). Run:
  *
  *   sbt "runMain graft.PlanDump <sfDir> <outDir> <suffix> [k1,k2,...]"
  *
  * Builds its session with [[graft.core.GraftSession]], as graft.Bench
  * does, so the dumped plans are the plans the bench runs on the same
  * input (AQE off below 1 GiB of input). Queries that train driver-side
  * models (the sim family) execute their training jobs during plan
  * construction — that is part of the declared query and is dumped as-is.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outDir = args.lift(1).getOrElse("plans/r16")
    val suffix = args.lift(2).getOrElse("before")
    val keys: Seq[String] = args.lift(3) match {
      case Some(csv) => csv.split(",").toSeq
      case None => Bench.headlineKeys
    }
    val spark = graft.core.GraftSession.build("graft-plandump",
      Some(new java.io.File(sfDir)))
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    keys.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => System.err.println(s"[plandump] unknown key: $name")
        case Some(fn) =>
          graft.core.EscapedCaches.release()
          spark.sharedState.cacheManager.clearCache()
          graft.ops.Similarity.clearCodebookMemo()
          val txt = try {
            val df = fn(spark, sfDir)
            val buf = new ByteArrayOutputStream()
            Console.withOut(new PrintStream(buf, true, "UTF-8")) {
              df.explain("formatted")
            }
            buf.toString("UTF-8")
          } catch {
            case scala.util.control.NonFatal(e) =>
              s"PLAN FAILED: ${e.getMessage}\n"
          }
          Files.write(Paths.get(outDir, s"${name}_$suffix.txt"),
            txt.getBytes(StandardCharsets.UTF_8))
          println(s"[plandump] $name -> $outDir/${name}_$suffix.txt")
      }
    }
    spark.stop()
  }
}
