package graft.queries

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSpark

/** Differential fuzz of the sessionize twins: the window (lag +
  * grouped sum) and grouped-array (collect_list -> sort_array ->
  * higher-order fold) formulations must produce identical rows on
  * ADVERSARIAL shapes the sf fixtures don't guarantee — duplicate
  * timestamps inside one user (ties must break no session), gaps at
  * EXACTLY the 30 min boundary (strictly-greater rule), single-event
  * users, and one user whose events all land on one timestamp. */
class SessionizeTwinSpec extends AnyFunSuite with GraftSpark {

  test("window and grouped-array sessionize agree on adversarial shapes") {
    import spark.implicits._
    val gap = 30L * 60 * 1000000
    val rnd = new scala.util.Random(19)
    val rows = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    // fuzz users: bursts with random gaps straddling the boundary
    for (u <- 1L to 40L) {
      var t = 1700000000000000L + rnd.nextInt(1000000)
      val n = 1 + rnd.nextInt(12)
      for (_ <- 0 until n) {
        rows += ((u, t))
        // gaps hover around the boundary: exactly gap, gap±1, tiny, huge
        t += (rnd.nextInt(5) match {
          case 0 => gap
          case 1 => gap + 1
          case 2 => gap - 1
          case 3 => 1 + rnd.nextInt(1000)
          case _ => gap * (2 + rnd.nextInt(3))
        })
      }
    }
    // pinned shapes: duplicate timestamps, all-same-timestamp user
    rows ++= Seq((100L, 42L), (100L, 42L), (100L, 42L + gap), (100L, 42L + gap + 1))
    rows ++= (1 to 5).map(_ => (101L, 777L))
    rows += ((102L, 1L)) // single-event user
    // pre-1970 (NEGATIVE) timestamps: the fold's first-event sentinel
    // must be an explicit flag, not a sign test — a -1 sentinel counts
    // a break on every negative-ts event (ADVICE r11)
    rows ++= Seq((103L, -5L * gap), (103L, -5L * gap + 10L),
      (103L, -4L * gap + 11L), (103L, -42L))

    // write a minimal events fixture in the LongType-nanos encoding
    // Tables supports (ts nanos = micros * 1000)
    val dir = Files.createTempDirectory("graft-sess-twin").toFile
    dir.deleteOnExit()
    rows.toSeq.zipWithIndex.map { case ((u, tUs), i) =>
      (i.toLong, tUs * 1000L, u, "click", 1.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"${dir.getAbsolutePath}/events.parquet")

    val w = AnalyticsSurface.queries("win_sessionize")(spark, dir.getAbsolutePath)
      .orderBy("user_id").collect().toSeq
    val a = AnalyticsSurface.queries("win_sessionize_agg")(spark, dir.getAbsolutePath)
      .orderBy("user_id").collect().toSeq
    assert(w == a, s"window vs agg diverged:\n${w.zip(a).filter(p => p._1 != p._2).take(5)}")
    // the segmented two-level fold must agree too — its gaps straddle
    // bucket boundaries by construction here (fuzz gaps hover around
    // 30 min on a 1 h bucket, so merges and breaks both cross edges)
    val g = AnalyticsSurface.queries("win_sessionize_seg")(spark, dir.getAbsolutePath)
      .orderBy("user_id").collect().toSeq
    assert(w == g, s"window vs segmented diverged:\n${w.zip(g).filter(p => p._1 != p._2).take(5)}")
    // sanity on the pinned shapes: chain (42, 42 [dup: gap 0], +gap
    // [NO break — the rule is strictly greater], +gap+1) is ONE session
    val u100 = w.find(_.getLong(0) == 100L).get
    assert(u100.getLong(1) == 1L && u100.getLong(2) == 4L, u100.toString)
    val u101 = w.find(_.getLong(0) == 101L).get
    assert(u101.getLong(1) == 1L && u101.getLong(2) == 5L, u101.toString)
  }

  test("segmented session DETAIL matches the built-in session_window on boundary-straddling fuzz") {
    import spark.implicits._
    val gap = 30L * 60 * 1000000
    val rnd = new scala.util.Random(29)
    val rows = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    for (u <- 1L to 30L) {
      var t = 1700000000000000L + rnd.nextInt(1000000)
      for (_ <- 0 until 1 + rnd.nextInt(15)) {
        rows += ((u, t))
        t += (rnd.nextInt(5) match {
          case 0 => gap      // EXACTLY at the gap: session_window coalesces
          case 1 => gap + 1  // one past: break
          case 2 => gap - 1
          case 3 => 1 + rnd.nextInt(100000)
          case _ => gap * (2 + rnd.nextInt(4))
        })
      }
    }
    rows ++= Seq((100L, 42L), (100L, 42L), (100L, 42L + gap), (100L, 42L + 2 * gap + 1))
    rows ++= Seq((101L, -5L * gap), (101L, -5L * gap + 10), (101L, -3L * gap)) // pre-1970
    val dir = Files.createTempDirectory("graft-swseg-twin").toFile
    dir.deleteOnExit()
    rows.toSeq.zipWithIndex.map { case ((u, tUs), i) =>
      (i.toLong, tUs * 1000L, u, "click", 1.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"${dir.getAbsolutePath}/events.parquet")
    def rowsOf(key: String) =
      StreamSurface.queries(key)(spark, dir.getAbsolutePath)
        .orderBy("user_id", "session_start").collect().toSeq
    val a = rowsOf("session_window_agg")
    val g = rowsOf("session_window_seg")
    assert(a == g, s"built-in vs segmented diverged:\n${a.zip(g).filter(p => p._1 != p._2).take(5)}")
    // pinned: user 100's chain (42, 42 dup, +gap EXACT -> coalesce,
    // then +gap+1 past the window-extended end... session_window ends
    // at last_ts + gap, so 42+2gap+1 > (42+gap)+gap -> second session
    val u100 = g.filter(_.getLong(0) == 100L)
    assert(u100.length == 2 && u100.head.getLong(2) == 3L && u100.last.getLong(2) == 1L,
      u100.mkString(","))
  }

  test("window and segmented sessionize agree on a 100-row relation") {
    import spark.implicits._
    val ev = (1L to 20L).flatMap(u => (0 until 5).map(i =>
      (u, 1700000000000000L + i * 1000000L)))
      .toDF("user_id", "timestamp")
    def hasWindowNode(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }.nonEmpty
    val window = AnalyticsSurface.sessionizeWindow(ev)
    val seg = AnalyticsSurface.sessionizeSegmented(ev)
    assert(hasWindowNode(window) && !hasWindowNode(seg))
    // docs/SCALING.md "Sessionize form selection" says which form to
    // call at which scale; they answer identically
    assert(window.orderBy("user_id").collect().toSeq ==
      seg.orderBy("user_id").collect().toSeq)
  }

  test("window and bounded-aggregate top3 agree on tie-heavy data") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    // few distinct values + repeated timestamps -> ties crowd the
    // rank-3 cut, exercising the accept test's tie path (equal value
    // at the buffer tail falls to ts; identical (value, ts) records
    // are interchangeable, so sort both outputs for comparison)
    val rows = (1L to 30L).flatMap { u =>
      (0 until (2 + rnd.nextInt(10))).map { _ =>
        (u, rnd.nextInt(4).toDouble, (1000L + rnd.nextInt(5)) * 1000000L)
      }
    }
    val dir = Files.createTempDirectory("graft-top3-twin").toFile
    dir.deleteOnExit()
    rows.zipWithIndex.map { case ((u, v, tUs), i) =>
      (i.toLong, tUs * 1000L, u, "click", v, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"${dir.getAbsolutePath}/events.parquet")

    def rowsOf(key: String) =
      AnalyticsSurface.queries(key)(spark, dir.getAbsolutePath)
        .orderBy("user_id", "rn", "timestamp", "value").collect().toSeq
    val w = rowsOf("win_top3_per_user")
    val a = rowsOf("win_top3_agg")
    assert(w == a, s"diverged:\n${w.zip(a).filter(p => p._1 != p._2).take(5)}")
  }
}
