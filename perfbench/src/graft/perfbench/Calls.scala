package graft.perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One timed call into a layer, seen from outside the library. `kind`
  * is `<layer>.<call>` (`covid.etl_once`, `ops.dedup`, ...); `name` says
  * which query, card or builder it ran.
  */
final case class Call(kind: String, name: String, pass: Int, tag: String,
    startMs: Long, endMs: Long, wallMs: Double, ok: Boolean, error: String)

/** Runs each layer call under its own job tag and records its wall time.
  * A call that throws is recorded as failed and never as a time.
  */
final class Calls(spark: SparkSession) {
  val all = mutable.ArrayBuffer.empty[Call]
  private var seq = 0

  def apply[A](kind: String, name: String, pass: Int)(body: => A): Option[A] = {
    seq += 1
    val tag = s"${Calls.TagPrefix}$seq"
    val sc = spark.sparkContext
    sc.addJobTag(tag)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try {
      val r = body
      val wall = (System.nanoTime() - t0) / 1e6
      all += Call(kind, name, pass, tag, startMs, System.currentTimeMillis(), wall, ok = true, "")
      Some(r)
    } catch {
      case NonFatal(e) =>
        failed(kind, name, pass, tag, startMs, (System.nanoTime() - t0) / 1e6, e)
        None
    } finally sc.removeJobTag(tag)
  }

  /** Records a failure of `kind`/`name`; `tag` is empty for a failure
    * outside any layer call. */
  def failed(kind: String, name: String, pass: Int, tag: String, startMs: Long,
      wallMs: Double, e: Throwable): Unit = {
    val msg = String.valueOf(e.getMessage).linesIterator.take(1).mkString
    System.err.println(s"[perfbench] $kind $name failed: $msg")
    all += Call(kind, name, pass, tag, startMs, System.currentTimeMillis(), wallMs,
      ok = false, s"${e.getClass.getSimpleName}: $msg")
  }
}

object Calls {
  val TagPrefix = "pb-"
}
