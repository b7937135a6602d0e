package graft.ingest

import java.util.concurrent.{ConcurrentHashMap, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.Row

/** Per-session write-behind buffer for the HTTP ingest path — the Spark
  * counterpart of the reference's in-memory IPC buffer batching
  * (writer.py:233-259): a POST acks 201 once its rows are accepted into
  * the session buffer, and one storage append covers MANY posts. The
  * reference's own ack contract is "201 = buffered, not archived"
  * (main.py:330-337) with the buffer living in process memory until a
  * size-triggered flush, so acked-but-unflushed rows lost to a hard
  * crash are the same durability window the reference has — bounded
  * here by a per-session byte threshold, a GLOBAL byte bound across all
  * sessions, and a periodic timer, and closed entirely on graceful
  * shutdown ([[close]] drains everything or throws).
  *
  * Why it exists: every storage append publishes one hot file and
  * commits one manifest version. Appending per 40-row POST would leave
  * a session with thousands of tiny files and versions for compaction
  * and expiry to work through; one append per flushed BATCH bounds both
  * by the flush cadence, which is how the reference batches too (one
  * Arrow IPC write per 10 MiB of buffered rows). The append itself is
  * cheap: a batch's rows are already on the driver, so the store writes
  * them without a Spark job (10–20 ms on a 4-core host).
  *
  * Memory bound: `flushBytes` caps ONE session, but N hot sessions
  * would otherwise hold ~N·flushBytes on the gateway heap between timer
  * ticks. `globalFlushBytes` is the whole-process cap: when total
  * buffered bytes cross it, the ADDING thread synchronously flushes the
  * LARGEST sessions until the total is back under — hot sessions
  * backpressure themselves, cold sessions keep batching. On a cluster
  * this is the per-gateway admission bound.
  *
  * Read-your-writes is preserved by the server calling [[flush]] before
  * every read of the same session: a completed `flush(c, s)` is
  * guaranteed to cover every row whose `add(c, s, ...)` returned before
  * the flush began (the per-session flush mutex serializes flushes, and
  * the snapshot is taken under the buffer lock adds also hold).
  *
  * Failure semantics, per path:
  *  - [[add]]: a size-triggered flush that FAILS is swallowed (stderr
  *    only) and the POST still acks — the rows are safely buffered and
  *    the timer retries; surfacing a 500 for already-accepted rows
  *    would make the client retry and duplicate acked data.
  *  - [[flush]] (the explicit read-path barrier): failures re-buffer
  *    the snapshot at the FRONT of the queue and RETHROW — here the
  *    error signals a real visibility failure the reader must see.
  *  - [[close]]: drains with bounded retries and THROWS if any session
  *    still holds acked rows, so a caller can never report a clean
  *    shutdown that silently dropped data (the T5 contract).
  */
final class IngestBuffer(flushBytes: Long = 4L * 1024 * 1024,
                         flushIntervalMs: Long = 100,
                         globalFlushBytes: Long = 64L * 1024 * 1024)
                        (flushFn: (String, String, Seq[Row]) => Unit)
    extends AutoCloseable {

  private final class Buf {
    val rows = scala.collection.mutable.ArrayBuffer.empty[Row]
    var bytes = 0L
  }

  private val bufs = new ConcurrentHashMap[(String, String), Buf]()
  // Flush mutex per session, separate from the buffer lock: the storage
  // append runs OUTSIDE the buffer lock (posters keep buffering while a
  // flush writes), but two flushes of one session never interleave.
  private val flushLocks = new ConcurrentHashMap[(String, String), Object]()
  // Total buffered bytes across every session — the globalFlushBytes
  // admission counter. Updated under each Buf's lock (add, snapshot,
  // failure restore), so it tracks the sum of buf.bytes exactly.
  private val totalBytes = new AtomicLong(0L)

  /** Rough in-memory size of one row — only drives the flush threshold,
    * so a constant per-row overhead estimate is fine. */
  private def rowBytes(r: Row): Long =
    24L + String.valueOf(r.get(1)).length + String.valueOf(r.get(2)).length

  /** Accept `rows` for (container, session). Returns after the rows are
    * buffered (the ack point); triggers a synchronous flush when this
    * session crosses its byte threshold (so a hot session backpressures
    * its own writers) or when the PROCESS crosses the global bound (so
    * many warm sessions can't stack unbounded heap between timer
    * ticks). Flush failures here are swallowed — see class doc. */
  def add(container: String, session: String, rows: Seq[Row]): Unit = {
    // Rejecting after close() is part of the T5 contract: without it a
    // POST handler racing shutdown could buffer + ack AFTER the final
    // drain cleared the maps (the timer is already stopped, so nothing
    // would ever flush those rows) — a clean-looking shutdown that
    // silently dropped acked data (round-7 review).
    if (closed) throw new IllegalStateException("ingest buffer is closed")
    val buf = bufs.computeIfAbsent((container, session), _ => new Buf)
    val over = buf.synchronized {
      // RE-check under the buffer lock (round-8, closing the round-7
      // advice window): close() sets the flag and then drains each
      // buffer under this same lock, so an insert that raced past the
      // unsynchronized check above either lands before the drain's
      // snapshot (flushed) or observes closed=true here (rejected) —
      // it can never slip in after the final drain.
      if (closed) throw new IllegalStateException("ingest buffer is closed")
      buf.rows ++= rows
      val b = rows.iterator.map(rowBytes).sum
      buf.bytes += b
      totalBytes.addAndGet(b)
      buf.bytes >= flushBytes
    }
    if (over) quietFlush(container, session)
    if (totalBytes.get() >= globalFlushBytes) flushLargestUntilUnder()
  }

  private def quietFlush(container: String, session: String): Unit =
    try flush(container, session)
    catch { case scala.util.control.NonFatal(e) =>
      // rows remain buffered (front of queue) and the timer retries —
      // the POST that triggered this flush still acks. FATAL errors
      // (OOM, stack overflow) propagate: swallowing one would keep a
      // broken JVM acking 201s, maximizing the loss when it dies.
      System.err.println(s"[ingest] size-triggered flush $container/$session " +
        s"failed (buffered, timer will retry): ${e.getMessage}")
    }

  /** Drive total buffered bytes back under the global bound by flushing
    * the largest sessions first (most bytes recovered per storage
    * dispatch). Stops when under the bound, when nothing is left to
    * flush, or when every remaining candidate's flush failed (storage
    * down — rows stay buffered; the timer owns the retry). */
  private def flushLargestUntilUnder(): Unit = {
    val tried = scala.collection.mutable.Set.empty[(String, String)]
    var continue = true
    while (totalBytes.get() >= globalFlushBytes && continue) {
      val largest = bufs.entrySet().asScala
        .filter(e => !tried.contains(e.getKey))
        .maxByOption(e => e.getValue.synchronized(e.getValue.bytes))
      largest match {
        case Some(e) =>
          tried += e.getKey
          quietFlush(e.getKey._1, e.getKey._2)
        case None => continue = false // every session tried once — timer owns retries
      }
    }
  }

  /** Synchronously write this session's buffered rows via `flushFn`.
    * No-op when empty. On failure the snapshot is restored ahead of any
    * rows buffered during the attempt, and the error propagates. */
  def flush(container: String, session: String): Unit = {
    val buf = bufs.get((container, session))
    if (buf == null) return
    flushLocks.computeIfAbsent((container, session), _ => new Object).synchronized {
      val snapshot = buf.synchronized {
        if (buf.rows.isEmpty) Vector.empty[Row]
        else {
          val r = buf.rows.toVector
          buf.rows.clear(); totalBytes.addAndGet(-buf.bytes); buf.bytes = 0L
          r
        }
      }
      if (snapshot.nonEmpty) {
        try flushFn(container, session, snapshot)
        catch {
          case e: Throwable =>
            buf.synchronized {
              buf.rows.prependAll(snapshot)
              val b = snapshot.iterator.map(rowBytes).sum
              buf.bytes += b
              totalBytes.addAndGet(b)
            }
            throw e
        }
      }
    }
  }

  /** Flush every session with buffered rows (timer tick / shutdown).
    * Per-session failures are contained so one sick session can't
    * starve the rest of the tick. */
  def flushAll(): Unit =
    bufs.keys.asScala.toSeq.foreach { case (c, s) => quietFlush(c, s) }

  /** Total bytes currently buffered across all sessions (test hook /
    * metrics surface for the gateway's admission bound). */
  def bufferedBytes: Long = totalBytes.get()

  private val timer = Executors.newSingleThreadScheduledExecutor(r => {
    val t = new Thread(r, "graft-ingest-flush"); t.setDaemon(true); t
  })
  timer.scheduleWithFixedDelay(() => flushAll(),
    flushIntervalMs, flushIntervalMs, TimeUnit.MILLISECONDS)

  /** Stop the timer, then drain everything — after close() returns
    * normally, every acked row is durable (the T5 graceful-shutdown
    * contract). Transient storage errors get bounded retries; if rows
    * REMAIN buffered after the last attempt, close() throws with the
    * stranded sessions so no caller can mistake a lossy shutdown for a
    * clean one. On a full drain the session maps are cleared, so a
    * long-lived process cycling many sessions doesn't accumulate empty
    * Buf/lock entries. */
  @volatile private var closed = false

  override def close(): Unit = {
    closed = true // new add()s reject from here; buffered rows drain below
    timer.shutdown()
    try timer.awaitTermination(30, TimeUnit.SECONDS)
    catch { case _: InterruptedException => Thread.currentThread.interrupt() }
    var attempt = 0
    while (totalBytes.get() > 0 && attempt < 3) {
      if (attempt > 0) Thread.sleep(200L << attempt)
      flushAll()
      attempt += 1
    }
    // BARRIER against in-flight flushes: a size-triggered flush that
    // started before `closed` was set can still be INSIDE flushFn with
    // its snapshot in hand — invisible to both the byte counter and the
    // buffers, so the loop above may have seen nothing to drain. Taking
    // each session's flush mutex once waits those flushes out: success
    // landed the rows durably; failure restored them to the buffer
    // where the re-check below sees (and re-drains) them. add() rejects
    // after `closed`, so no NEW flush can start behind this barrier.
    flushLocks.values().asScala.foreach(l => l.synchronized(()))
    def strandedNow() = bufs.entrySet().asScala
      .filter(e => e.getValue.synchronized(e.getValue.rows.nonEmpty))
    // an add() that read closed=false just before the flag was set can
    // land after the byte-counter read above skipped the drain loop —
    // its rows are acked and buffered, so drain them (once) instead of
    // reporting a spurious stranding
    if (strandedNow().nonEmpty) flushAll()
    val stranded = strandedNow()
      .map { e => s"${e.getKey._1}/${e.getKey._2}(${e.getValue.bytes}B)" }
    if (stranded.nonEmpty)
      throw new IllegalStateException(
        s"ingest close(): acked rows still buffered after retries — ${stranded.mkString(", ")}")
    bufs.clear(); flushLocks.clear()
  }
}
