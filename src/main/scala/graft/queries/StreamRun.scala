package graft.queries

import graft.operators.Scoped
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}

import java.util.concurrent.atomic.AtomicInteger

/**
 * The one stream runner of the D-tier query builders: every topology
 * runs to completion inside its builder and hands back a batch frame,
 * so the batch oracle checks streaming semantics.
 *
 * One run: set the per-stream session confs, start the query with its
 * checkpoint in a [[Scratch]] dir, drive it ([[Drive]]), stop it, and
 * restore the confs in `finally` — a stream that throws mid-feed leaves
 * the session as it found it.
 *
 * Per-stream confs: `partitions > 0` sets `spark.sql.shuffle.partitions`
 * for the run. The state-store partition count is fixed when a stream
 * starts and its cost is per partition per micro-batch, so small-state
 * streams run narrow (4; q_d5's two-sided join 2). `noDataBatches =
 * false` skips no-data micro-batches for streams with no watermark or
 * timeout to advance.
 */
private[graft] object StreamRun {
  private val seq = new AtomicInteger(0)
  private val Partitions = "spark.sql.shuffle.partitions"
  private val NoDataBatches = "spark.sql.streaming.noDataMicroBatches.enabled"

  /** How a started query is driven to completion. */
  sealed trait Drive
  /** `Trigger.AvailableNow`: process everything the source holds, then stop. */
  case object AvailableNow extends Drive
  /** Default trigger: run each step (add data to one or several
   * MemoryStreams, in lockstep), then `processAllAvailable`. */
  final case class Fed(steps: Seq[() => Unit]) extends Drive

  /** Feed `mem` one chunk per micro-batch. */
  def feed[A](mem: MemoryStream[A], chunks: Seq[collection.Seq[A]]): Fed =
    Fed(chunks.map(c => () => { mem.addData(c); () }))

  /** `rows` in `n` equal consecutive chunks (the last may be short). */
  def chunked[A](rows: collection.Seq[A], n: Int): Seq[collection.Seq[A]] =
    rows.grouped(math.max(1, rows.length / n + 1)).toSeq

  /** A driver-fed source on `s`. */
  def source[A: Encoder](s: SparkSession): MemoryStream[A] =
    MemoryStream[A](implicitly[Encoder[A]], s.sqlContext)

  /** Run `out` into a memory sink and return the sink's table. */
  def toMemory(out: Dataset[_], drive: Drive, mode: String = "append",
      partitions: Int = 0, noDataBatches: Boolean = true): DataFrame = {
    val s = out.sparkSession
    val name = s"graft_stream_${seq.incrementAndGet()}"
    Scoped.onRelease(() => { s.catalog.dropTempView(name); () })
    run(s, drive, partitions, noDataBatches)(_ =>
      out.writeStream.format("memory").queryName(name).outputMode(mode))
    s.table(name)
  }

  /** Run the writer `writer(checkpoint)` builds (a foreachBatch sink)
   * with its checkpoint in a fresh scratch dir. */
  def run(s: SparkSession, drive: Drive, partitions: Int = 0,
      noDataBatches: Boolean = true)(writer: String => DataStreamWriter[_]): Unit = {
    val confs = (if (partitions > 0) Seq(Partitions -> partitions.toString) else Nil) ++
      (if (noDataBatches) Nil else Seq(NoDataBatches -> "false"))
    val saved = confs.map { case (k, _) => k -> s.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => s.conf.set(k, v) }
      val ckpt = Scratch.dir("ckpt")
      val w = writer(ckpt).option("checkpointLocation", ckpt)
      drive match {
        case AvailableNow =>
          val q = w.trigger(Trigger.AvailableNow()).start()
          try q.awaitTermination() finally q.stop()
        case Fed(steps) =>
          val q = w.start()
          try steps.foreach { step => step(); q.processAllAvailable() }
          finally q.stop()
      }
    } finally saved.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }
}
