package graft.ingest

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** Unit contract of the write-behind ingest buffer, independent of
  * Spark: threshold-triggered flush, failure re-buffering (acked rows
  * survive a storage error IN ORDER), and the close() drain. The
  * HTTP-level exactly-once property lives in ConcurrencySpec; this pins
  * the buffer's own edges, which that test can't reach deterministically
  * (a flush failure in the server path needs a broken filesystem). */
class IngestBufferSpec extends AnyFunSuite {

  private def row(msg: String): Row =
    Row(new java.sql.Timestamp(0L), "INFO", msg)

  test("byte threshold triggers a synchronous flush; small adds stay buffered") {
    var flushed = Vector.empty[(String, Seq[String])]
    // huge timer interval: only the size path can flush in this test
    val buf = new IngestBuffer(flushBytes = 200, flushIntervalMs = 3600000)({
      (c, s, rows) => flushed :+= (s"$c/$s", rows.map(_.getString(2)))
    })
    try {
      buf.add("c", "s", Seq(row("a"))) // ~29 bytes — under threshold
      assert(flushed.isEmpty, "sub-threshold add must not flush")
      buf.add("c", "s", (1 to 10).map(i => row(s"filler-$i")))
      assert(flushed.nonEmpty, "crossing the byte threshold must flush synchronously")
      assert(flushed.head._2.head === "a", "flush must drain rows in arrival order")
    } finally buf.close()
  }

  test("a failing flush re-buffers the snapshot ahead of newer rows and rethrows") {
    var fail = true
    var flushed = Vector.empty[Seq[String]]
    val buf = new IngestBuffer(flushBytes = Long.MaxValue, flushIntervalMs = 3600000)({
      (_, _, rows) =>
        if (fail) throw new java.io.IOException("disk on fire")
        else flushed :+= rows.map(_.getString(2))
    })
    try {
      buf.add("c", "s", Seq(row("first")))
      intercept[java.io.IOException] { buf.flush("c", "s") }
      assert(flushed.isEmpty)
      // rows accepted while storage was down queue BEHIND the failed batch
      buf.add("c", "s", Seq(row("second")))
      fail = false
      buf.flush("c", "s")
      assert(flushed === Vector(Seq("first", "second")),
        "recovered flush must carry the failed snapshot first, then newer rows")
      buf.flush("c", "s") // empty buffer: no-op, no spurious flushFn call
      assert(flushed.size === 1)
    } finally buf.close()
  }

  test("close() drains every session's buffered rows exactly once") {
    var flushed = Map.empty[String, Seq[String]]
    val buf = new IngestBuffer(flushBytes = Long.MaxValue, flushIntervalMs = 3600000)({
      (c, s, rows) => flushed += s"$c/$s" -> rows.map(_.getString(2))
    })
    buf.add("c1", "s", Seq(row("x")))
    buf.add("c2", "s", Seq(row("y"), row("z")))
    buf.close()
    assert(flushed === Map("c1/s" -> Seq("x"), "c2/s" -> Seq("y", "z")))
    // post-close adds REJECT instead of acking into a drained buffer
    // (the shutdown race that silently dropped acked rows): nothing
    // will ever flush them, so the caller must get an error, not a 201
    intercept[IllegalStateException] { buf.add("c1", "s", Seq(row("late"))) }
    assert(flushed("c1/s") === Seq("x"))
  }

  test("global byte bound caps total heap across many warm sessions") {
    // per-session threshold never reached (each session stays small),
    // timer disabled: only the global bound can flush. Rows are ~33 B;
    // 64 sessions × 10 rows ≈ 21 KiB buffered without the bound.
    val peak = new java.util.concurrent.atomic.AtomicLong(0L)
    @volatile var bufRef: IngestBuffer = null
    val buf: IngestBuffer = new IngestBuffer(
      flushBytes = Long.MaxValue, flushIntervalMs = 3600000, globalFlushBytes = 4096)({ (_, _, _) => () })
    bufRef = buf
    try {
      (1 to 64).foreach { i =>
        buf.add("c", s"sess-$i", (1 to 10).map(j => row(s"m$i-$j")))
        peak.getAndUpdate(p => math.max(p, bufRef.bufferedBytes))
      }
      // the adding thread flushes the largest sessions as soon as the
      // bound is crossed, so the observable total never runs away past
      // bound + one POST's worth of rows
      assert(peak.get() < 4096 + 1024,
        s"peak buffered bytes ${peak.get()} escaped the 4096-byte global bound")
    } finally buf.close()
  }

  test("add() survives a failing size-triggered flush (rows stay buffered for the timer)") {
    var fail = true
    var flushed = Vector.empty[Seq[String]]
    val buf = new IngestBuffer(flushBytes = 100, flushIntervalMs = 3600000)({
      (_, _, rows) =>
        if (fail) throw new java.io.IOException("disk on fire")
        else flushed :+= rows.map(_.getString(2))
    })
    try {
      // crosses flushBytes → sync flush fails → add must NOT throw (the
      // POST acks; rows are buffered and a later flush delivers them)
      buf.add("c", "s", (1 to 5).map(i => row(s"payload-$i")))
      assert(flushed.isEmpty)
      fail = false
      buf.flush("c", "s")
      assert(flushed === Vector((1 to 5).map(i => s"payload-$i")),
        "rows from the failed size-triggered flush must survive in order")
    } finally buf.close()
  }

  test("close() throws when storage stays down, instead of dropping acked rows") {
    val buf = new IngestBuffer(flushBytes = Long.MaxValue, flushIntervalMs = 3600000)({
      (_, _, _) => throw new java.io.IOException("storage permanently down")
    })
    buf.add("c", "s", Seq(row("doomed?")))
    val e = intercept[IllegalStateException] { buf.close() }
    assert(e.getMessage.contains("c/s"),
      "close() must name the sessions still holding acked rows")
  }

  test("timer flushes a lingering buffer without any further adds") {
    val seen = new java.util.concurrent.CountDownLatch(1)
    val buf = new IngestBuffer(flushBytes = Long.MaxValue, flushIntervalMs = 20)({
      (_, _, _) => seen.countDown()
    })
    try {
      buf.add("c", "s", Seq(row("slow")))
      assert(seen.await(10, java.util.concurrent.TimeUnit.SECONDS),
        "periodic timer never flushed a non-empty buffer")
    } finally buf.close()
  }
}
