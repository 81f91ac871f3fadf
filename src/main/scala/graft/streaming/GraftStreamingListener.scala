package graft.streaming

import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

/** Streaming observability — capability-parity with the reference's
  * listener (reference: stream_listener.py:10-80): accumulates
  * `numInputRows` from progress events and captures termination
  * errors.
  */
final class GraftStreamingListener extends StreamingQueryListener {

  private val rows = new AtomicLong(0L)
  private val lastError = new AtomicReference[Option[String]](None)
  @volatile private var terminated = false

  def rowsProcessed: Long = rows.get()
  def error: Option[String] = lastError.get()
  def isTerminated: Boolean = terminated

  override def onQueryStarted(event: QueryStartedEvent): Unit = ()

  override def onQueryProgress(event: QueryProgressEvent): Unit = {
    val n = event.progress.numInputRows
    if (n > 0) rows.addAndGet(n)
  }

  override def onQueryTerminated(event: QueryTerminatedEvent): Unit = {
    terminated = true
    lastError.set(event.exception)
  }
}
