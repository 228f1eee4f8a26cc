package tsbench

import graft.protocol.{Wire, WireResponse}

/** A decoded answer: a string (`$` ok / `!` error) or the records of an
  * array or of a whole chunk stream. */
sealed trait Answer
object Answer {
  final case class Text(ok: Boolean, msg: String) extends Answer
  final case class Records(points: IndexedSeq[(Long, Double)]) extends Answer

  /** Decode one complete response with the program's own codec. */
  def decode(raw: Array[Byte]): Either[String, Answer] =
    Wire.decodeResponse(raw).flatMap {
      case (WireResponse.Str(rc, msg), _) => Right(Text(rc == 0, msg))
      case (WireResponse.Arr(records), _) => Right(Records(records.toIndexedSeq))
      case (first: WireResponse.StreamChunk, used) =>
        val out = IndexedSeq.newBuilder[(Long, Double)]
        out ++= first.records
        var chunk = first
        var off = used
        while (!chunk.isFinal) {
          Wire.decodeResponse(java.util.Arrays.copyOfRange(raw, off, raw.length)) match {
            case Right((c: WireResponse.StreamChunk, n)) => out ++= c.records; chunk = c; off += n
            case Right((other, _)) => return Left(s"non-chunk frame inside a stream: $other")
            case Left(e) => return Left(e)
          }
        }
        Right(Records(out.result()))
    }
}

/** Checks an answer against what the generator knows. */
object Check {

  /** None when `got` is the correct answer to `expect`, else why not. */
  def apply(expect: Expect, got: Answer): Option[String] = (expect, got) match {
    case (Expect.Records(want), Answer.Records(have)) =>
      if (want.size != have.size) Some(s"expected ${want.size} records, got ${have.size}")
      else want.indices.find(i => want(i) != have(i))
        .map(i => s"record $i: expected ${want(i)}, got ${have(i)}")
    case (Expect.Inserted(n), Answer.Text(true, msg)) =>
      if (msg == s"$n point(s) inserted, 0 error(s)") None
      else Some(s"expected $n points acked, got '$msg'")
    case (_, Answer.Text(false, msg)) => Some(s"error answer: $msg")
    case (want, have) =>
      Some(s"expected ${want.getClass.getSimpleName}, got ${have.getClass.getSimpleName}")
  }
}
