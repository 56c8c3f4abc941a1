package icebench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** A wrong answer: the op ran but its output disagrees with the expected one. */
final class WrongAnswer(msg: String) extends RuntimeException(msg)

/** One op of a closed loop: `run` is timed, `check` runs after the clock
  * stops and throws [[WrongAnswer]] when the output is wrong.
  */
trait Op {
  def kind: String
  def run(t: Tracer): Unit
  def check(): Unit
  /** Work counts of the op, recorded in the trace file. */
  def counters: Map[String, Double] = Map.empty
}

/** `seconds` is the timed run; `checkSeconds` the untimed check after it. */
final case class OpResult(kind: String, request: String, seconds: Double, ok: Boolean,
    error: String, checkSeconds: Double)

/** A workload: state built by `setup`, a seeded op sequence, and the
  * per-layer metrics its traced run reports.
  */
trait Workload {
  /** Makes the workload's fixed inputs, before any set-up is timed. */
  def prepare(session: () => SparkSession): Unit = ()
  /** Builds everything the timed loop reads; `session` creates the Spark
    * session so that its start-up is part of the set-up time.
    */
  def setup(session: () => SparkSession, work: Path): SparkSession
  /** Untimed ops run once, after the last set-up, so that the loop's
    * first ops do not pay the planner's, codegen's and JIT's first use. A
    * failure here is not counted; the same op fails again in the loop.
    */
  def warmUp(): Unit
  def op(i: Int): Op
  /** Ops per block: the loop stops only at a block boundary. */
  def blockSize: Int
  /** Whether the block's ops run back to back and are checked after the
    * block, rather than each right after it ran.
    */
  def deferChecks: Boolean = false
  /** Whole-run checks after the loop; each message is one wrong answer. */
  def finalCheck(): Seq[String] = Nil
  /** Rows of work done so far (landed or returned). */
  def rowsDone: Long
  /** `rows_per_s` over the loop's results; `rowsDone` counts since set-up. */
  def rowsPerSecond(rs: Seq[OpResult]): Double = rowsDone / rs.map(_.seconds).sum
  /** Per-layer metrics over the traced ops (names from [[Catalog]]). */
  def layerMetrics(t: Tracer, traced: Seq[(Op, OpResult)]): Map[String, Double]
}

object Harness {

  def timed(op: Op, t: Tracer, requestId: String): OpResult = check(op, run(op, t, requestId))

  /** Times `op.run`; an op that throws is failed, never a timed success. */
  def run(op: Op, t: Tracer, requestId: String): OpResult = {
    val t0 = System.nanoTime()
    val err =
      try { t.request(op.kind, requestId)(op.run(t)); null }
      catch { case e: Throwable => s"threw ${e.getClass.getSimpleName}: ${msg(e)}" }
    OpResult(op.kind, requestId, (System.nanoTime() - t0) / 1e9, err == null, err, 0.0)
  }

  /** Runs `op.check` after the clock has stopped; a wrong answer fails the op. */
  def check(op: Op, r: OpResult): OpResult =
    if (!r.ok) r
    else {
      val t1 = System.nanoTime()
      val wrong =
        try { op.check(); null }
        catch { case e: Throwable => s"wrong answer: ${msg(e)}" }
      r.copy(ok = wrong == null, error = wrong, checkSeconds = (System.nanoTime() - t1) / 1e9)
    }

  private def msg(e: Throwable): String =
    Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString.take(300)

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no values")
    val s = xs.sorted
    (s((s.size - 1) / 2) + s(s.size / 2)) / 2
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
      .map(Files.size).sum

  def listFiles(p: Path): Map[Path, Long] =
    if (!Files.exists(p)) Map.empty
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
      .map(f => f -> Files.size(f)).toMap

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(Files.deleteIfExists)

  def jsonNum(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def writeString(p: Path, s: String): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, s.getBytes("UTF-8"))
  }

  def readString(p: Path): String = new String(Files.readAllBytes(p), "UTF-8")
}

/** The seeded op sequence in blocks: each block of `kinds.size` ops holds
  * every kind exactly as often as listed, in a seeded order, so any whole
  * number of blocks has the exact mix whatever the seed.
  */
final class Deck(kinds: Seq[String], seed: Long) {
  private val rnd = new scala.util.Random(seed)
  private val dealt = mutable.ArrayBuffer.empty[String]
  def apply(i: Int): String = {
    while (dealt.size <= i) dealt ++= rnd.shuffle(kinds)
    dealt(i)
  }
  def blockSize: Int = kinds.size
}
