package graft.cli

import graft.catalog.TsCatalog
import graft.engine.{ExecResult, StatementExecutor}

/** Interactive REPL — the Spark-native analog of the reference client
  * (src/raftcli.c:16-47,126-183): reads dialect statements from stdin,
  * prints `(string)` / `(array)` / `(error)` results with per-command
  * timing, and streams large result sets in batches of 1000 records
  * (the reference's stream batch size, src/timeseries.c:1040) via
  * `toLocalIterator` so the driver never materializes a full series.
  *
  * Statements run through the same [[StatementExecutor]] as the
  * server: an INSERT is a driver-side parquet file write plus rename
  * per touched bucket, with no Spark job, acked once the file is in
  * place (nothing is fsynced, as with the reference's WAL pwrite).
  *
  * Run: sbt "runMain graft.cli.Repl [catalogRoot]"
  */
object Repl {

  def main(args: Array[String]): Unit = {
    val root = args.headOption.getOrElse(
      sys.props("java.io.tmpdir") + "/graft_repl_catalog")
    val spark = graft.core.GraftSession.build("graft-repl")
    spark.sparkContext.setLogLevel("ERROR")
    val exec = new StatementExecutor(spark, new TsCatalog(spark, root))

    println(s"graft repl — catalog at $root  (\\q to quit)")
    val in = scala.io.Source.stdin.getLines()
    print("> "); Console.flush()
    // takeWhile, not a filter: `\q` must TERMINATE the loop (a guard
    // would silently skip the line and keep reading until EOF)
    for (line <- in.takeWhile(_.trim != "\\q")) {
      val trimmed = line.trim
      if (trimmed.nonEmpty) run(exec, trimmed)
      print("> "); Console.flush()
    }
    spark.stop()
  }

  /** Run `body` (one statement's construction + materialization) in
    * its own escaped-cache scope and release it right after — the
    * per-statement cache discipline TsServer applies (r13 verdict #7):
    * a long-lived REPL session must not accumulate caches across
    * statements, and today's tsql surface registering none makes this
    * correct-by-construction wiring for the operators that do. A
    * throwing body releases via scoped's exception path. */
  private[graft] def scopedStatement[A](body: => A): A = {
    val (a, scope) = graft.core.EscapedCaches.scoped(body)
    scope.release()
    a
  }

  private[graft] def run(exec: StatementExecutor, sql: String): Unit = {
    val t0 = System.nanoTime()
    // the scope encloses BOTH construction and materialization
    // (render streams the rows)
    scopedStatement { render(exec.executeSql(sql)) }
    println(f"(${(System.nanoTime() - t0) / 1e6}%.1f ms)")
  }

  /** Result rendering, shaped like the reference protocol markers
    * (string `$`, array `#`, stream `~`, error `!` —
    * src/encoding.c:125-267). */
  private[cli] def render(res: ExecResult): Unit = res match {
    case ExecResult.Ack(msg) => println(s"(string) $msg")
    case ExecResult.Listing(names) =>
      println(s"(array) ${names.size}")
      names.foreach(n => println(s"  $n"))
    case ExecResult.Scalar(df) =>
      val r = df.collect()(0)
      println(s"(array) 1")
      println(s"  ${r.toSeq.mkString(" ")}")
    case ExecResult.Rows(df) =>
      // stream in 1000-record batches; never collect() the full set
      val it = ExecResult.rowIterator(df)
      var n = 0
      val batch = new StringBuilder
      while (it.hasNext) {
        val row = it.next()
        batch.append("  :").append(row.get(0)).append(" ;")
          .append(row.get(1))
        if (row.length > 2) batch.append(" ").append(row.get(2))
        batch.append('\n')
        n += 1
        if (n % 1000 == 0) { print(batch); batch.clear() }
      }
      // flush the final partial batch BEFORE the footer so rows always
      // precede the count line
      print(batch)
      println(s"(stream) $n")
    case ExecResult.Err(code, msg) => println(s"(error) $code: $msg")
  }
}
