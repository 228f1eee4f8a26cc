package graft

import org.apache.spark.sql.SparkSession

import graft.core.GraftSession

/** The one test session: the served profile of
  * [[graft.core.GraftSession.conf]] (the settings the server, the REPL
  * and maintenance run under, AQE on) at a fixed 4 cores, so a suite
  * plans the same on every box. Suites run one at a time in one forked
  * JVM and share it; a suite that needs other runtime settings scopes
  * them with [[withConf]]. */
trait GraftSpark {

  protected lazy val spark: SparkSession = TestSpark.session

  /** Runs `body` with the runtime confs `kvs` set, then restores each
    * key's prior value (or unsets it). */
  protected def withConf[A](kvs: (String, String)*)(body: => A): A = {
    val conf = spark.conf
    val prior = kvs.map { case (k, _) => k -> conf.getOption(k) }
    kvs.foreach { case (k, v) => conf.set(k, v) }
    try body
    finally prior.foreach { case (k, v) => v.fold(conf.unset(k))(conf.set(k, _)) }
  }
}

object TestSpark {

  /** The served profile's settings at 4 cores. */
  val Conf: Map[String, String] = GraftSession.conf(Some("4"), None)

  private var current: Option[SparkSession] = None

  /** The shared session, built once per SparkContext: a suite that
    * stopped the context (one that needs its own) leaves the next
    * caller a fresh one. A live session is handed out as is, never
    * passed to `getOrCreate` with settings again. */
  def session: SparkSession = synchronized {
    current.filterNot(_.sparkContext.isStopped).getOrElse {
      val s = Conf.foldLeft(SparkSession.builder().appName("graft-test")) {
        case (b, (k, v)) => b.config(k, v) }.getOrCreate()
      current = Some(s)
      s
    }
  }
}
