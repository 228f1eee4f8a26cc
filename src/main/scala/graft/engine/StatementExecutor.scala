package graft.engine

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._

import graft.catalog.{SeriesMeta, TsCatalog}
import graft.tsql._

/** Execution result ADT mirroring the reference's error taxonomy
  * (reference src/statement_execute.h:11-38: EXEC_SUCCESS_* /
  * EXEC_ERROR_{DB,TS}_NOT_FOUND / EMPTY_RESULTSET / INVALID_* ...).
  */
sealed trait ExecResult
object ExecResult {
  /** Row results — always (timestamp, value) records, or
    * (sample_ts, avg_value, n_points) for SAMPLE BY. */
  final case class Rows(df: DataFrame) extends ExecResult
  /** Scalar result of avg(...) (reference declares FN_AVG but stubs it,
    * src/statement_execute.c:236-238). */
  final case class Scalar(df: DataFrame) extends ExecResult
  final case class Ack(message: String) extends ExecResult
  final case class Listing(names: Seq[String]) extends ExecResult
  final case class Err(code: ErrCode.Value, message: String) extends ExecResult

  /** The rows of a [[Rows]] frame, in order, for a caller that streams
    * them. A frame over rows already on the driver (the
    * `StatementExecutor.oneShot` answers and the driver-side reads) is
    * read straight off its LocalRelation: no Spark job, where
    * `toLocalIterator` would run one, and no query execution, where
    * `collect` would optimize, plan and run one. Any other frame
    * streams a partition at a time. */
  def rowIterator(df: DataFrame): Iterator[Row] = df.queryExecution.logical match {
    case local: LocalRelation =>
      val toRow = CatalystTypeConverters.createToScalaConverter(local.schema)
      local.data.iterator.map(toRow(_).asInstanceOf[Row])
    case _ => df.toLocalIterator().asScala
  }
}

object ErrCode extends Enumeration {
  val DbNotFound, TsNotFound, TsExists, EmptyResultset, InvalidRange,
      UnknownKey, NoActiveDb, Unsupported, ParseError = Value
}

/** Per-SESSION statement state — today just the active database.
  *
  * The reference keeps the active db process-global because its server
  * is a single-threaded select() loop where one statement runs at a
  * time (src/dbcontext.c:153-167, src/server.c:160-266). This server
  * is thread-per-connection, so global active-db state would let one
  * client's `USE` silently redirect another client's in-flight
  * statements. Each connection gets its own TsSession; single-session
  * embedders (REPL, the tsql_* gate surface, specs) use the executor's
  * [[StatementExecutor.defaultSession]] implicitly via the one-argument
  * entry points. `@volatile` because a connection's reads and the
  * statement execution may touch the field from different threads. */
final class TsSession {
  @volatile var activeDb: Option[String] = None
}

/** Statement → DataFrame-plan executor: the Spark analog of the
  * reference's stmt_execute dispatch (src/statement_execute.c:476-513),
  * except every parsed-but-stubbed clause (WHERE, SAMPLE BY, LIMIT, avg,
  * earliest, DELETE, meta — SURVEY.md §2.1 ⚠ rows) is implemented for
  * real. Time expressions are constant-folded to epoch-nanos Longs
  * before the plan is built, so range predicates reach the parquet scan
  * as pushdown-able literals.
  */
final class StatementExecutor(spark: SparkSession, catalog: TsCatalog,
    now: () => Long = TimeEval.nowNanos _) {

  import ExecResult._
  import StatementExecutor.OneShotMaxRows

  /** The embedder's session (REPL, gate surface, specs): one caller,
    * one session — the single-argument entry points below bind to it. */
  val defaultSession = new TsSession

  def executeSql(sql: String): ExecResult = executeSql(sql, defaultSession)

  def executeSql(sql: String, session: TsSession): ExecResult =
    Parser.parse(sql) match {
      case Left(err) => Err(ErrCode.ParseError, err)
      case Right(stmt) => execute(stmt, session)
    }

  def execute(stmt: Statement): ExecResult = execute(stmt, defaultSession)

  def execute(stmt: Statement, session: TsSession): ExecResult = stmt match {

    case Statement.CreateDb(name) =>
      catalog.createDb(name)
      // first database this SESSION creates becomes its active db
      // (reference src/dbcontext.c:112-118, scoped per-session here)
      if (session.activeDb.isEmpty) session.activeDb = Some(name)
      Ack(s"database '$name' created")

    case Statement.UseDb(name) =>
      if (catalog.dbExists(name)) {
        session.activeDb = Some(name)
        Ack(s"using '$name'")
      } else Err(ErrCode.DbNotFound, s"database '$name' not found")

    case Statement.CreateTs(name, retention, policy) =>
      withDb(session) { db =>
        val retNs = retention match {
          case Some(expr) => TimeEval.eval(expr, now) match {
            case Left(e) => return Err(ErrCode.ParseError, e)
            case Right(v) => Some(v)
          }
          case None => None
        }
        val pol = policy.map(_.toLowerCase).getOrElse("insert")
        if (pol != "insert" && pol != "ignore")
          return Err(ErrCode.Unsupported, s"unknown duplication policy '$pol'")
        if (catalog.createSeries(db, name, SeriesMeta(retNs, pol)))
          Ack(s"timeseries '$name' created")
        else Err(ErrCode.TsExists, s"timeseries '$name' already exists")
      }

    case Statement.Insert(name, rows) =>
      withSeries(name, session) { (db, _) =>
        val (resolved, errors) = resolveRows(rows)
        // the rows are on the driver: one parquet file per touched
        // bucket, written and renamed into place with no Spark job,
        // acked after the rename
        val n = catalog.append(db, name, resolved)
        Ack(s"$n point(s) inserted, $errors error(s)")
      }

    case Statement.Select(name, fn, between, where, sampleBy, limit, fillPolicy) =>
      withSeries(name, session) { (db, _) =>
        // range (closed interval, reference src/partition.c:203-212) is
        // resolved BEFORE the read so the catalog can prune bucket
        // partitions at plan time
        val rangeNs = between match {
          case Some((a, b)) =>
            (TimeEval.eval(a, now), TimeEval.eval(b, now)) match {
              case (Right(t0), Right(t1)) =>
                if (t0 > t1)
                  return Err(ErrCode.InvalidRange, s"invalid range: $t0 > $t1")
                else Some((t0, t1))
              case (Left(e), _) => return Err(ErrCode.ParseError, e)
              case (_, Left(e)) => return Err(ErrCode.ParseError, e)
            }
          case None => None
        }

        // WHERE in disjunctive normal form: OR of AND-chains over the
        // two columns (keys per reference tests: value, timestamp —
        // tests/statement_test.c:351-368; OR is the dialect extension)
        val orGroups = where.map { conj =>
          conj.map { p =>
            val key = p.key.toLowerCase
            if (key != "value" && key != "timestamp")
              return Err(ErrCode.UnknownKey, s"unknown WHERE key '${p.key}'")
            val c = col(key)
            val v: Column = if (key == "timestamp") lit(p.longValue) else lit(p.value)
            p.op match {
              case CmpOp.Eq => c === v
              case CmpOp.Ne => c =!= v
              case CmpOp.Lt => c < v
              case CmpOp.Le => c <= v
              case CmpOp.Gt => c > v
              case CmpOp.Ge => c >= v
            }
          }.reduce(_ && _)
        }
        // the same WHERE over points read on the driver
        val keep = (p: (Long, Double)) =>
          where.isEmpty || where.exists(_.forall(StatementExecutor.holds(_, p)))
        // lazy: the driver-side reads never build it; the in-range
        // buckets come from one driver listing shared by every path
        lazy val inRange = catalog.buckets(db, name, rangeNs)
        lazy val filtered = SeriesOps.whereDnf(
          catalog.readBuckets(db, name, inRange, rangeNs), orGroups)

        sampleBy match {
          case Some(intervalExpr) =>
            TimeEval.eval(intervalExpr, now) match {
              case Left(e) => return Err(ErrCode.ParseError, e)
              case Right(interval) =>
                if (interval <= 0)
                  return Err(ErrCode.InvalidRange, s"invalid sample interval $interval")
                if (fillPolicy.isDefined &&
                    !(fn.isEmpty || fn.contains(SelectFn.Avg)))
                  return Err(ErrCode.Unsupported,
                    "FILL combines only with the avg SAMPLE BY")
                // the reference's SAMPLE BY implies avg (ts_avg_sample,
                // src/timeseries.c:1265-1308); min/max/latest selectors
                // extend the same windowing (extension surface)
                val sampled = (fn match {
                  case None | Some(SelectFn.Avg) =>
                    fillPolicy match {
                      case Some(policy) =>
                        SeriesOps.sampleByFill(filtered, interval, policy)
                      case None => SeriesOps.sampleBy(filtered, interval)
                    }
                  case Some(SelectFn.Min) =>
                    SeriesOps.sampleByFn(filtered, interval, "min")
                  case Some(SelectFn.Max) =>
                    SeriesOps.sampleByFn(filtered, interval, "max")
                  case Some(SelectFn.Latest) =>
                    SeriesOps.sampleByFn(filtered, interval, "latest")
                  case Some(SelectFn.Delta) =>
                    SeriesOps.sampleByFn(filtered, interval, "delta")
                  case Some(SelectFn.Rate) =>
                    SeriesOps.sampleByFn(filtered, interval, "rate")
                  case Some(SelectFn.Earliest(_)) =>
                    return Err(ErrCode.Unsupported,
                      "earliest(n) cannot combine with SAMPLE BY")
                }).orderBy("sample_ts")
                Rows(limit.map(sampled.limit).getOrElse(sampled))
            }
          case None =>
            // empty result sets from aggregate selectors are an ERROR in
            // the reference's taxonomy (EXEC_ERROR_EMPTY_RESULTSET,
            // src/statement_execute.h:11-26), not a null record.
            // Aggregates produce at most a handful of rows, so they are
            // collected ONCE here (the statement's only Spark job) and
            // re-wrapped as a LocalRelation — emptiness is read off the
            // collected rows instead of a separate isEmpty pre-probe,
            // which used to double the latency of every aggregate query.
            fn match {
              case None =>
                // a range the driver can hold is read there, with no
                // job; past the bound the scan stays lazy (streaming
                // path): rows of one bucket sort in one task, more
                // buckets take the range-partitioned global sort
                catalog.localPoints(db, name, inRange, rangeNs) match {
                  case Some(points) =>
                    val kept = points.filter(keep)
                    localRows(limit.fold(kept)(kept.take))
                  case None =>
                    val scan =
                      if (inRange.size == 1) SeriesOps.scanOnePartition(filtered)
                      else SeriesOps.scan(filtered)
                    Rows(limit.map(scan.limit).getOrElse(scan))
                }
              case Some(SelectFn.Min) =>
                oneShot(SeriesOps.minRecord(filtered)
                  .filter(col("timestamp").isNotNull))(Rows)
              case Some(SelectFn.Max) =>
                oneShot(SeriesOps.maxRecord(filtered)
                  .filter(col("timestamp").isNotNull))(Rows)
              case Some(SelectFn.Avg) =>
                oneShot(SeriesOps.avgValue(filtered)
                  .filter(col("n") > 0))(Scalar)
              case Some(SelectFn.Delta) =>
                oneShot(SeriesOps.deltaValue(filtered)
                  .filter(col("n") > 0))(Scalar)
              case Some(SelectFn.Rate) =>
                oneShot(SeriesOps.rateValue(filtered)
                  .filter(col("n") > 0))(Scalar)
              // latest respects the range (fixing the reference quirk where
              // BETWEEN was ignored, src/statement_execute.c:261-271)
              case Some(SelectFn.Latest) => latest(db, name, inRange, rangeNs, keep, orGroups)
              case Some(SelectFn.Earliest(n)) if n <= OneShotMaxRows =>
                oneShot(SeriesOps.earliest(filtered, n))(Rows)
              case Some(SelectFn.Earliest(n)) =>
                // a huge n must NOT collect on the driver — keep the lazy
                // streaming path and pay the emptiness probe instead
                val df = SeriesOps.earliest(filtered, n)
                if (df.isEmpty) Err(ErrCode.EmptyResultset, "empty result set")
                else Rows(df)
            }
        }
      }

    case Statement.Delete(name, Some(db)) =>
      if (!catalog.dbExists(db)) Err(ErrCode.DbNotFound, s"database '$db' not found")
      else if (catalog.dropSeries(db, name)) Ack(s"timeseries '$name' deleted")
      else Err(ErrCode.TsNotFound, s"timeseries '$name' not found")

    case Statement.Delete(name, None) =>
      // bare DELETE x drops database x (reference src/statement_parse.c:943-957)
      if (catalog.dropDb(name)) {
        if (session.activeDb.contains(name)) session.activeDb = None
        Ack(s"database '$name' deleted")
      } else Err(ErrCode.DbNotFound, s"database '$name' not found")

    case Statement.Meta("databases") => Listing(catalog.listDbs())
    case Statement.Meta("timeseries") =>
      withDb(session)(db => Listing(catalog.listSeries(db)))
    case Statement.Meta(other) =>
      Err(ErrCode.Unsupported, s"unknown meta command .$other")
  }

  /** Resolve INSERT rows' time expressions with per-row error counting
    * (reference src/statement_execute.c:430-445). */
  private def resolveRows(rows: Seq[(TimeExpr, Double)])
      : (Seq[(Long, Double)], Int) = {
    var errors = 0
    val resolved = rows.flatMap { case (texpr, v) =>
      TimeEval.eval(texpr, now) match {
        case Right(t) => Some((t, v))
        case Left(_) => errors += 1; None
      }
    }
    (resolved, errors)
  }

  /** Collect-and-rewrap for aggregate selectors (at most a handful of
    * rows by construction; earliest(n) is pre-gated at
    * [[StatementExecutor.OneShotMaxRows]]). The collect is BOUNDED
    * (limit max+1), so the aggregate-only assumption is ENFORCED
    * rather than assumed: a caller routing an unbounded relation here
    * fails loudly on the first overflowing row instead of pulling a
    * table onto the driver (ExecutorSpec locks the guard). */
  private[graft] def oneShot(df: DataFrame)(
      wrap: DataFrame => ExecResult): ExecResult = {
    val rows = df.limit(OneShotMaxRows + 1).collect()
    if (rows.length > OneShotMaxRows)
      throw new IllegalStateException(
        s"oneShot invariant breach: >$OneShotMaxRows rows from an " +
          "aggregate selector; refusing the driver-side collect")
    if (rows.isEmpty) Err(ErrCode.EmptyResultset, "empty result set")
    else wrap(spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), df.schema))
  }

  /** Newest record in range passing WHERE, newest bucket first.
    * Buckets are floor-divided time, so every point of a higher bucket
    * is strictly newer than every point of a lower one: the newest
    * in-range bucket answers on its own unless WHERE empties it, and
    * only then are the remaining in-range buckets read. Each of the two
    * reads is done on the driver with no job (the last surviving point
    * of [[TsCatalog.localPoints]]), or past the driver-row bound by one
    * Spark top-1 job. Ties on the maximum timestamp share a bucket, so
    * the candidate rows are those of a full scan. */
  private def latest(db: String, name: String, buckets: Seq[Long],
      rangeNs: Option[(Long, Long)], keep: ((Long, Double)) => Boolean,
      orGroups: Seq[Column]): ExecResult = {
    def in(buckets: Seq[Long]) = catalog.localPoints(db, name, buckets, rangeNs) match {
      case Some(points) => points.filter(keep).lastOption
        .fold[ExecResult](Err(ErrCode.EmptyResultset, "empty result set"))(p => localRows(Seq(p)))
      case None =>
        val rows = SeriesOps.whereDnf(catalog.readBuckets(db, name, buckets, rangeNs), orGroups)
        oneShot(SeriesOps.latest(rows))(Rows)
    }
    in(buckets.takeRight(1)) match {
      case Err(ErrCode.EmptyResultset, _) if buckets.size > 1 => in(buckets.init)
      case r => r
    }
  }

  /** Points the driver holds as a [[Rows]] frame over a LocalRelation,
    * which [[ExecResult.rowIterator]] drains with no job. */
  private def localRows(points: Seq[(Long, Double)]): ExecResult =
    Rows(spark.createDataFrame(
      points.map { case (t, v) => Row(t, v) }.asJava, TsCatalog.PointSchema))

  private def withDb(session: TsSession)(f: String => ExecResult): ExecResult =
    session.activeDb match {
      case Some(db) => f(db)
      case None => Err(ErrCode.NoActiveDb, "no active database (USE <db> first)")
    }

  private def withSeries(name: String, session: TsSession)(
      f: (String, SeriesMeta) => ExecResult): ExecResult =
    withDb(session) { db =>
      catalog.seriesMeta(db, name) match {
        case Some(meta) => f(db, meta)
        case None =>
          if (catalog.seriesExists(db, name)) f(db, SeriesMeta(None))
          else Err(ErrCode.TsNotFound, s"timeseries '$name' not found")
      }
    }
}

object StatementExecutor {
  /** Bound on the rows one statement may hold on the driver: the rows
    * an aggregate collects and rewraps (the oneShot path), and the rows
    * a driver-side read decodes ([[TsCatalog.localPoints]], for plain
    * scans, `latest` and the `ignore`-policy INSERT lookup). Past it a
    * statement keeps its Spark plan, lazy and streamed where it can. */
  val OneShotMaxRows = 10000

  /** WHERE predicate `p` over one point, compared as Spark compares
    * the columns: Long order on `timestamp`, SQL double order on
    * `value` (-0.0 equals 0.0; NaN equals NaN and sorts above every
    * number). */
  private def holds(p: WherePred, point: (Long, Double)): Boolean = {
    val (t, v) = point
    val c =
      if (p.key.equalsIgnoreCase("timestamp")) java.lang.Long.compare(t, p.longValue)
      else if (v == p.value) 0
      else java.lang.Double.compare(v, p.value)
    p.op match {
      case CmpOp.Eq => c == 0
      case CmpOp.Ne => c != 0
      case CmpOp.Lt => c < 0
      case CmpOp.Le => c <= 0
      case CmpOp.Gt => c > 0
      case CmpOp.Ge => c >= 0
    }
  }
}
