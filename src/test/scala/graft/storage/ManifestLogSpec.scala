package graft.storage

import java.sql.Timestamp
import java.time.Instant
import java.util.concurrent.{CountDownLatch, TimeUnit}
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import graft.SparkSuite
import graft.model.LogSchema

/** The manifest-swap store's contract (SURVEY §11's cluster visibility
  * story, executable): lock-free reads with snapshot isolation, the
  * manifest commit as the only visibility point, READS AND APPENDS
  * PROCEEDING WHILE A COMPACTION IS HELD MID-PUBLISH, exactly-once
  * visibility across the swap, and grace-window GC that never touches
  * the live file set. */
class ManifestLogSpec extends SparkSuite {

  private def batch(rows: (String, String, String)*): DataFrame =
    spark.createDataFrame(
      rows.map { case (ts, lvl, msg) =>
        Row(Timestamp.from(Instant.parse(ts)), lvl, msg)
      }.asJava,
      LogSchema.fileSchema)

  private def msgs(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.getString(2)).sorted

  test("append/read roundtrip with partition columns recovered; compaction preserves the multiset") {
    val log = new ManifestLog(spark, tempDir("mlog"))
    log.append(batch(("2024-01-01T10:00:00Z", "INFO", "a"),
                     ("2024-01-01T10:01:00Z", "ERROR", "b")), "app", "run1")
    log.append(batch(("2024-01-01T10:02:00Z", "INFO", "a")), "app", "run1") // dup msg
    log.append(batch(("2024-01-01T10:03:00Z", "INFO", "other")), "app", "run2")
    val r = log.read("app", "run1").collect()
    assert(r.map(_.getString(3)).toSet == Set("app") && r.map(_.getString(4)).toSet == Set("run1"))
    assert(msgs(log.read("app", "run1")) == Seq("a", "a", "b"))
    assert(log.compact("app", "run1") > 0L)
    assert(msgs(log.read("app", "run1")) == Seq("a", "a", "b")) // exactly once
    assert(msgs(log.read("app", "run2")) == Seq("other"))       // isolated
    // post-compaction appends land hot and union with cold
    log.append(batch(("2024-01-01T10:04:00Z", "WARN", "late")), "app", "run1")
    assert(msgs(log.read("app", "run1")) == Seq("a", "a", "b", "late"))
  }

  test("reads and appends proceed while a compaction is held mid-publish; swap is exactly-once") {
    val log = new ManifestLog(spark, tempDir("mlog"))
    log.append(batch(("2024-01-01T10:00:00Z", "INFO", "pre1")), "c", "s")
    log.append(batch(("2024-01-01T10:01:00Z", "INFO", "pre2")), "c", "s")

    val inHook = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    log.beforeSwap = () => { inHook.countDown(); release.await(30, TimeUnit.SECONDS); () }
    val compactor = new Thread(() => log.compact("c", "s"))
    compactor.start()
    assert(inHook.await(60, TimeUnit.SECONDS), "compaction never reached the swap point")
    try {
      // compaction is stalled AFTER publishing cold files, BEFORE the
      // swap — the exact window where a reader lock would block
      // readers. Reads must complete NOW and see the pre-swap snapshot.
      assert(msgs(log.read("c", "s")) == Seq("pre1", "pre2"))
      // appends must also proceed (manifest commit is independent)
      log.append(batch(("2024-01-01T10:02:00Z", "INFO", "mid")), "c", "s")
      assert(msgs(log.read("c", "s")) == Seq("mid", "pre1", "pre2"))
    } finally release.countDown()
    compactor.join(60000)
    assert(!compactor.isAlive, "compaction did not finish")
    log.beforeSwap = () => ()
    // post-swap: compacted rows once, the mid-compaction append intact
    assert(msgs(log.read("c", "s")) == Seq("mid", "pre1", "pre2"))
    val (_, entries) = log.resolve("c", "s")
    assert(entries.count(_.startsWith("cold/")) >= 1)
    assert(entries.count(_.startsWith("hot/")) == 1) // just the mid append
  }

  test("expire deletes retired files and old manifests after the grace window, never live ones") {
    val root = tempDir("mlog")
    val log = new ManifestLog(spark, root)
    log.append(batch(("2024-01-01T10:00:00Z", "INFO", "x")), "c", "s")
    log.append(batch(("2024-01-01T10:01:00Z", "INFO", "y")), "c", "s")
    log.compact("c", "s")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def count(sub: String): Int = {
      val p = new org.apache.hadoop.fs.Path(s"$root/$sub/container=c/session=s")
      if (!fs.exists(p)) 0
      else fs.listStatus(p).count(st => st.isFile && !st.getPath.getName.startsWith("."))
    }
    assert(count("hot") == 2, "retired hot files must survive until expire")
    // a horizon in the past deletes nothing (grace window active)
    assert(log.expire("c", "s", Instant.now().minusSeconds(3600)) == 0L)
    assert(count("hot") == 2)
    // horizon beyond now: retired hot files + superseded manifests go
    assert(log.expire("c", "s", Instant.now().plusSeconds(3600)) >= 2L)
    assert(count("hot") == 0)
    assert(count("manifest") == 1, "exactly the latest manifest survives")
    assert(msgs(log.read("c", "s")) == Seq("x", "y")) // live set untouched
    // idempotent
    assert(log.expire("c", "s", Instant.now().plusSeconds(3600)) == 0L)
  }

  test("expire keys the grace window to RETIREMENT time, not file creation time") {
    val root = tempDir("mlog-retire")
    val log = new ManifestLog(spark, root)
    log.append(batch(("2024-01-01T10:00:00Z", "INFO", "old")), "c", "s")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // age the hot file: written "2 hours ago"
    val hotDir = new org.apache.hadoop.fs.Path(s"$root/hot/container=c/session=s")
    val hotFile = fs.listStatus(hotDir).filter(_.isFile).head.getPath
    val twoHoursAgo = System.currentTimeMillis() - 2 * 3600 * 1000L
    fs.setTimes(hotFile, twoHoursAgo, -1)
    // retire it NOW via compaction, then GC with a 1-hour grace window:
    // the file's creation predates the horizon but its RETIREMENT does
    // not — a reader pinned to the pre-swap manifest may still be
    // scanning it, so it must survive
    log.compact("c", "s")
    assert(log.expire("c", "s", java.time.Instant.now().minusSeconds(3600)) == 0L)
    assert(fs.exists(hotFile), "retired-just-now file deleted on creation-time grace")
    // once the retirement itself is older than the horizon, it goes
    assert(log.expire("c", "s", java.time.Instant.now().plusSeconds(3600)) >= 1L)
    assert(!fs.exists(hotFile))
    assert(msgs(log.read("c", "s")) == Seq("old"))
  }

  test("unreferenced stray files (crashed writer) are collected without affecting reads") {
    val root = tempDir("mlog")
    val log = new ManifestLog(spark, root)
    log.append(batch(("2024-01-01T10:00:00Z", "INFO", "keep")), "c", "s")
    // simulate a crash between cold publish and swap: a cold file that
    // no manifest references
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stray = new org.apache.hadoop.fs.Path(
      s"$root/cold/container=c/session=s/compact-orphan.parquet")
    fs.mkdirs(stray.getParent)
    val out = fs.create(stray, true); out.write(Array[Byte](1, 2, 3)); out.close()
    assert(msgs(log.read("c", "s")) == Seq("keep")) // manifest ignores strays
    assert(log.expire("c", "s", Instant.now().plusSeconds(3600)) >= 1L)
    assert(!fs.exists(stray))
    assert(msgs(log.read("c", "s")) == Seq("keep"))
    // a session with NO manifest at all (writer crashed before its
    // first commit) must still have its orphans collected
    val orphanOnly = new org.apache.hadoop.fs.Path(
      s"$root/hot/container=c/session=fresh/append-orphan.parquet")
    fs.mkdirs(orphanOnly.getParent)
    val o = fs.create(orphanOnly, true); o.write(Array[Byte](9)); o.close()
    assert(log.expire("c", "fresh", Instant.now().minusSeconds(3600)) == 0L) // grace
    assert(fs.exists(orphanOnly))
    assert(log.expire("c", "fresh", Instant.now().plusSeconds(3600)) == 1L)
    assert(!fs.exists(orphanOnly))
  }

  test("idempotent appends: tag replay no-ops, and the tag survives compaction as a tombstone") {
    val log = new ManifestLog(spark, tempDir("mlog"))
    val b = batch(("2024-01-01T10:00:00Z", "INFO", "once"))
    assert(log.appendIdempotent(b, "c", "s", "batch-7") > 0L)
    assert(log.appendIdempotent(b, "c", "s", "batch-7") == -1L) // replay no-ops
    assert(msgs(log.read("c", "s")) == Seq("once"))
    // compaction rewrites the tagged file into cold; the tag must stay
    // committed (tombstone), so a late replay STILL no-ops
    log.compact("c", "s")
    assert(log.resolve("c", "s")._2.exists(_ == "#tag batch-7"))
    assert(log.appendIdempotent(b, "c", "s", "batch-7") == -1L)
    assert(msgs(log.read("c", "s")) == Seq("once")) // exactly once throughout
    // a different tag is a different batch
    assert(log.appendIdempotent(
      batch(("2024-01-01T10:01:00Z", "INFO", "next")), "c", "s", "batch-8") > 0L)
    assert(msgs(log.read("c", "s")) == Seq("next", "once"))
    // crash window: file published but manifest commit lost — replay of
    // the same tag must converge to exactly-once, not zero or two
    val root2 = tempDir("mlog")
    val log2 = new ManifestLog(spark, root2)
    val fs = new org.apache.hadoop.fs.Path(root2)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val orphanDir = new org.apache.hadoop.fs.Path(s"$root2/hot/container=c/session=s")
    fs.mkdirs(orphanDir)
    // simulate the crashed writer's published-but-uncommitted file
    b.select("timestamp", "level", "message").coalesce(1)
      .write.parquet(s"$root2/.stage-sim")
    val f = fs.listStatus(new org.apache.hadoop.fs.Path(s"$root2/.stage-sim"))
      .find(_.getPath.getName.endsWith(".parquet")).get.getPath
    fs.rename(f, new org.apache.hadoop.fs.Path(orphanDir, "tag-batch-9.parquet"))
    assert(log2.appendIdempotent(b, "c", "s", "batch-9") > 0L) // adopts the file
    assert(msgs(log2.read("c", "s")) == Seq("once"))
    assert(log2.appendIdempotent(b, "c", "s", "batch-9") == -1L)
  }

  test("QueryEngine serves unchanged from the manifest store (LogTier seam)") {
    val log = new ManifestLog(spark, tempDir("mlog-engine"))
    log.append(batch(("2024-01-01T10:00:00Z", "INFO", "a"),
                     ("2024-01-01T11:00:00Z", "ERROR", "b"),
                     ("2024-01-01T12:00:00Z", "INFO", "c")), "app", "run")
    val engine = new graft.engine.QueryEngine(log)
    assert(engine.count("app", "run") == 3)
    assert(engine.count("app", "run",
      filters = Seq(("level", "==", "ERROR"))) == 1)
    assert(engine.readLogs("app", "run",
      start = Some(Instant.parse("2024-01-01T10:30:00Z")),
      end = Some(Instant.parse("2024-01-01T11:30:00Z"))).collect()
      .map(_.getString(2)).toSeq == Seq("b"))
    val pre = engine.summary("app", "run")
    assert(pre.totalRows == 3 && pre.bufferFiles == 1 && pre.archiveFiles == 0)
    // compaction flips the tiers; the engine's answers don't change
    log.compact("app", "run")
    assert(engine.count("app", "run") == 3)
    val post = engine.summary("app", "run")
    assert(post.totalRows == 3 && post.bufferFiles == 0 && post.archiveFiles >= 1)
    assert(post.totalSizeBytes > 0 && post.filesScanned == post.archiveFiles)
  }

  test("streaming foreachBatch sink: a batch replayed after a post-append crash lands exactly once") {
    val root = tempDir("mlog-stream")
    val in = tempDir("mlog-stream-in")
    val log = new ManifestLog(spark, s"$root/data")
    java.nio.file.Files.write(java.nio.file.Paths.get(in, "b0.json"),
      Seq(
        """{"ts":"2025-03-01T10:00:00Z","lvl":"INFO","msg":"s-a"}""",
        """{"ts":"2025-03-01T10:01:00Z","lvl":"WARN","msg":"s-b"}""")
        .mkString("\n").getBytes("UTF-8"))
    @volatile var failedOnce = false
    def run(): Unit = {
      val src = spark.readStream
        .schema(org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("lvl", org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("msg", org.apache.spark.sql.types.StringType))))
        .json(in)
        .selectExpr("CAST(ts AS TIMESTAMP) AS timestamp", "lvl AS level", "msg AS message")
      val q = src.writeStream
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (df: DataFrame, id: Long) =>
          log.appendIdempotent(df, "app", "s1", s"b$id")
          // crash AFTER the durable append but BEFORE the checkpoint
          // commit — the batch WILL be replayed on restart
          if (!failedOnce) { failedOnce = true; throw new RuntimeException("injected post-append crash") }
          ()
        }
        .start()
      try q.awaitTermination(120000)
      catch { case _: org.apache.spark.sql.streaming.StreamingQueryException => () }
    }
    run() // fails after appending batch 0
    assert(failedOnce)
    assert(msgs(log.read("app", "s1")) == Seq("s-a", "s-b"))
    run() // replays batch 0 from the checkpoint; the tag must no-op
    assert(msgs(log.read("app", "s1")) == Seq("s-a", "s-b"), "replayed batch duplicated rows")
    // new data still flows after the replay converged
    java.nio.file.Files.write(java.nio.file.Paths.get(in, "b1.json"),
      """{"ts":"2025-03-01T11:00:00Z","lvl":"INFO","msg":"s-c"}""".getBytes("UTF-8"))
    run()
    assert(msgs(log.read("app", "s1")) == Seq("s-a", "s-b", "s-c"))
  }

  test("randomized interleaving: appends, compactions, GC and readers keep every batch exactly-once") {
    // The storage property that matters, quantified over interleavings:
    // whatever order appends / compactions / expires land in, (a) every
    // mid-flight read sees each committed batch EXACTLY once and never a
    // torn batch, and (b) the final state is the exact multiset of all
    // acked rows. Batches are self-describing (message = "w<writer>-<seq>",
    // constant rows per batch) so a reader can check batch atomicity and
    // duplication from counts alone.
    val log = new ManifestLog(spark, tempDir("mlog-chaos"), targetFileBytes = 4096L)
    val RowsPerBatch = 3
    val writers = 4; val batchesPerWriter = 5
    val acked = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    def guard(f: => Unit): Unit = try f catch { case t: Throwable => errors.add(t) }

    val writerThreads = (0 until writers).map { w =>
      new Thread(() => guard {
        for (i <- 0 until batchesPerWriter) {
          val tag = s"w$w-$i"
          val rows = (0 until RowsPerBatch).map { r =>
            (f"2024-01-01T${10 + w}%02d:${i}%02d:${r}%02dZ", "INFO", tag)
          }
          log.append(batch(rows: _*), "c", "s")
          acked.add(tag)
          // even-seq batches also land a TAGGED twin (one extra copy),
          // and its immediate replay must no-op even while compactions
          // race the tag's file into cold
          if (i % 2 == 0) {
            assert(log.appendIdempotent(batch(rows: _*), "c", "s", s"t-$tag") > 0L)
            assert(log.appendIdempotent(batch(rows: _*), "c", "s", s"t-$tag") == -1L)
          }
        }
      }, s"chaos-writer-$w")
    }
    // (the tagged replays above ADD their batch once too — track them)
    val compactor = new Thread(() => guard {
      while (!stop.get()) { log.compact("c", "s"); Thread.sleep(15) }
    }, "chaos-compactor")
    val gc = new Thread(() => guard {
      // horizon far in the past: must never delete anything live or
      // anything a pinned reader might still need
      while (!stop.get()) {
        log.expire("c", "s", java.time.Instant.now().minusSeconds(3600))
        Thread.sleep(25)
      }
    }, "chaos-gc")
    val readerErrors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val reader = new Thread(() => guard {
      while (!stop.get()) {
        val seen = log.read("c", "s").groupBy(col("message")).count()
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        seen.foreach { case (tag, n) =>
          val isTagged = tag.startsWith("w") // all batches use w-prefixed msgs
          if (isTagged && n % RowsPerBatch != 0)
            readerErrors.add(s"torn batch $tag: $n rows")
          val copies = n / RowsPerBatch
          // untagged append = 1 copy; an even-seq batch may also have its
          // idempotent tagged twin = 2 copies max; never more
          if (copies > 2) readerErrors.add(s"batch $tag visible $copies times")
        }
        Thread.sleep(10)
      }
    }, "chaos-reader")

    (writerThreads :+ compactor :+ gc :+ reader).foreach(_.start())
    writerThreads.foreach(_.join(120000))
    stop.set(true)
    Seq(compactor, gc, reader).foreach(_.join(60000))
    assert(errors.isEmpty, s"background failures: ${errors.peek()}")
    assert(readerErrors.isEmpty, s"reader saw: ${readerErrors.peek()}")
    // final state: every acked batch present with its exact copy count
    log.compact("c", "s") // one more flip for good measure
    val fin = log.read("c", "s").groupBy(col("message")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    (0 until writers).foreach { w =>
      (0 until batchesPerWriter).foreach { i =>
        val tag = s"w$w-$i"
        val expected = RowsPerBatch * (if (i % 2 == 0) 2 else 1)
        assert(fin.getOrElse(tag, 0L) == expected,
          s"$tag: expected $expected rows, got ${fin.getOrElse(tag, 0L)}")
      }
    }
    assert(acked.size == writers * batchesPerWriter)
  }

  test("cross-instance chaos: writers on two instances, DUELING compactors and GC on their own — exactly once") {
    // The multi-node form of the randomized-interleaving property:
    // every actor runs on its OWN ManifestLog instance over one root,
    // so nothing is serialized by in-process locks — appends, two
    // RACING compactors (exercising the decline-the-swap path), and a
    // continuous GC coordinate purely through the version CAS.
    val root = tempDir("mlog-chaos2")
    def inst() = new ManifestLog(spark, root, targetFileBytes = 4096L)
    val RowsPerBatch = 3
    val writersPerInstance = 2; val batchesPerWriter = 4
    val acked = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    def guard(f: => Unit): Unit = try f catch { case t: Throwable => errors.add(t) }

    val writerThreads = Seq("A", "B").flatMap { side =>
      val log = inst()
      (0 until writersPerInstance).map { w =>
        new Thread(() => guard {
          for (i <- 0 until batchesPerWriter) {
            val tag = s"$side$w-$i"
            val rows = (0 until RowsPerBatch).map { r =>
              (f"2024-01-01T${10 + w}%02d:${i}%02d:${r}%02dZ", "INFO", tag)
            }
            log.append(batch(rows: _*), "c", "s")
            acked.add(tag)
          }
        }, s"xchaos-writer-$side$w")
      }
    }
    val compactors = Seq(inst(), inst()).zipWithIndex.map { case (log, i) =>
      new Thread(() => guard {
        while (!stop.get()) { log.compact("c", "s"); Thread.sleep(10) }
      }, s"xchaos-compactor-$i")
    }
    val gc = { val log = inst(); new Thread(() => guard {
      while (!stop.get()) {
        log.expire("c", "s", java.time.Instant.now().minusSeconds(3600))
        Thread.sleep(20)
      }
    }, "xchaos-gc") }

    (writerThreads ++ compactors :+ gc).foreach(_.start())
    writerThreads.foreach(_.join(180000))
    stop.set(true)
    (compactors :+ gc).foreach(_.join(60000))
    assert(errors.isEmpty, s"background failures: ${errors.peek()}")
    // verify through a FRESH instance: every acked batch exactly once
    val fin = inst().read("c", "s").groupBy(col("message")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    for (side <- Seq("A", "B"); w <- 0 until writersPerInstance; i <- 0 until batchesPerWriter) {
      val tag = s"$side$w-$i"
      assert(fin.getOrElse(tag, 0L) == RowsPerBatch.toLong,
        s"$tag: expected $RowsPerBatch rows, got ${fin.getOrElse(tag, 0L)}")
    }
    assert(fin.keySet.size == acked.size, s"unexpected batches: ${fin.keySet -- acked.asScala}")
  }

  test("concurrent appends from many threads all become visible exactly once") {
    val log = new ManifestLog(spark, tempDir("mlog"))
    val threads = (1 to 8).map { i =>
      new Thread(() => log.append(
        batch((f"2024-01-01T10:${i}%02d:00Z", "INFO", s"t$i")), "c", "s"))
    }
    threads.foreach(_.start()); threads.foreach(_.join(60000))
    assert(msgs(log.read("c", "s")) == (1 to 8).map(i => s"t$i"))
    val (v, entries) = log.resolve("c", "s")
    assert(v == 8L && entries.size == 8)
  }

  // ---- multi-instance CAS (round-8: the commit is a real cross-process
  // compare-and-swap, not an in-process lock) ----

  test("two INSTANCES on one root: racing appends serialize through the version CAS, none lost") {
    val root = tempDir("mlog")
    // separate objects = separate in-process locks: every commit below
    // contends purely through the create-if-absent version claim
    val a = new ManifestLog(spark, root)
    val b = new ManifestLog(spark, root)
    val perInstance = 6
    val threads = Seq(a -> "a", b -> "b").flatMap { case (log, tag) =>
      (1 to 2).map { t =>
        new Thread(() => (1 to perInstance).foreach { i =>
          log.append(batch((f"2024-01-01T10:${i}%02d:00Z", "INFO", s"$tag$t-$i")), "c", "s")
        }, s"cas-$tag$t")
      }
    }
    threads.foreach(_.start()); threads.foreach(_.join(120000))
    val expected = (for (tag <- Seq("a", "b"); t <- 1 to 2; i <- 1 to perInstance)
      yield s"$tag$t-$i").sorted
    // read through a THIRD instance — no shared state with the writers
    assert(msgs(new ManifestLog(spark, root).read("c", "s")) == expected)
    // no lost version: every commit claimed a distinct slot, so the
    // final version count equals the append count exactly
    val (v, entries) = a.resolve("c", "s")
    assert(v == expected.size.toLong, s"expected v${expected.size}, got v$v")
    assert(entries.size == expected.size)
  }

  test("two instances racing appends against a concurrent compaction: exactly-once, nothing overwritten") {
    val root = tempDir("mlog")
    val a = new ManifestLog(spark, root)
    val b = new ManifestLog(spark, root)
    a.append(batch(("2024-01-01T09:00:00Z", "INFO", "seed")), "c", "s")
    @volatile var compactErr: Throwable = null
    val appender = new Thread(() => (1 to 8).foreach { i =>
      a.append(batch((f"2024-01-01T10:${i}%02d:00Z", "INFO", s"app-$i")), "c", "s")
    }, "cas-appender")
    val compactor = new Thread(() => try {
      (1 to 4).foreach(_ => b.compact("c", "s"))
    } catch { case t: Throwable => compactErr = t }, "cas-compactor")
    appender.start(); compactor.start()
    appender.join(120000); compactor.join(120000)
    assert(compactErr == null, s"cross-instance compaction failed: $compactErr")
    assert(msgs(a.read("c", "s")) == ("seed" +: (1 to 8).map(i => s"app-$i")).sorted)
  }

  test("a CORRUPT manifest degrades reads to the last intact state and fails commits loudly — never deleted") {
    val root = tempDir("mlog")
    val log = new ManifestLog(spark, root)
    log.append(batch(("2024-01-01T10:00:00Z", "INFO", "intact")), "c", "s")
    log.append(batch(("2024-01-01T10:01:00Z", "INFO", "damaged")), "c", "s")
    val v2 = new java.io.File(f"$root/manifest/container=c/session=s/v${2L}%020d")
    val lines = new String(java.nio.file.Files.readAllBytes(v2.toPath), "UTF-8")
      .split("\n").filter(_.nonEmpty)
    val entries = lines.filterNot(_.startsWith("#"))
    // this store only ever publishes header + entries + footer
    // atomically, so every other shape is external damage: a
    // footer/count mismatch, and files missing the header
    Seq(
      "count mismatch" -> (lines.init.mkString("\n") + "\n#commit 99\n"),
      "no header, no footer" -> (entries.mkString("\n") + "\n"),
      "footer without header" -> (entries.mkString("\n") + s"\n#commit ${entries.length}\n")
    ).foreach { case (shape, text) =>
      java.nio.file.Files.write(v2.toPath, text.getBytes("UTF-8"))
      // readers skip the damaged version — last intact state serves
      assert(msgs(log.read("c", "s")) == Seq("intact"), s"$shape: read")
      // a commit against the blocked frontier surfaces the corruption as
      // an operator-actionable error once the file is old enough to rule
      // out visibility lag — and must NOT delete the file
      assert(v2.setLastModified(System.currentTimeMillis() - 10 * 60 * 1000))
      val e = intercept[java.io.IOException] {
        log.append(batch(("2024-01-01T10:02:00Z", "INFO", "blocked")), "c", "s")
      }
      assert(e.getMessage.contains("corrupt"), s"$shape: unexpected error: ${e.getMessage}")
      assert(v2.isFile, s"$shape: commit path must never delete a manifest file")
    }
  }

  test("expire sweeps corrupt manifests BELOW the frontier and aged staging dirs; frontier corruption is kept for diagnosis") {
    val root = tempDir("mlog")
    val log = new ManifestLog(spark, root)
    log.append(batch(("2024-01-01T10:00:00Z", "INFO", "a")), "c", "s")
    log.append(batch(("2024-01-01T10:01:00Z", "INFO", "b")), "c", "s")
    log.append(batch(("2024-01-01T10:02:00Z", "INFO", "c")), "c", "s")
    // damage v2 (below the v3 frontier) and age it past the horizon;
    // age v3 too so v1 is deterministically deletable — the corrupt
    // sweep only runs below the lowest SURVIVING valid version (gap
    // guard), so v2's deletion requires v1's
    val v2 = new java.io.File(f"$root/manifest/container=c/session=s/v${2L}%020d")
    java.nio.file.Files.write(v2.toPath, "hot/ghost.parquet\n#commit 9\n".getBytes)
    assert(v2.setLastModified(System.currentTimeMillis() - 10 * 60 * 1000))
    val v3 = new java.io.File(f"$root/manifest/container=c/session=s/v${3L}%020d")
    assert(v3.setLastModified(System.currentTimeMillis() - 10 * 60 * 1000))
    // plant a crashed append's staging dir, older than the 24h writer bound
    val staging = new java.io.File(s"$root/.staging-deadbeef")
    assert(staging.mkdirs())
    assert(staging.setLastModified(System.currentTimeMillis() - 25L * 3600 * 1000))
    log.expire("c", "s", java.time.Instant.now())
    assert(!v2.isFile, "corrupt below-frontier manifest should be swept")
    assert(!staging.isDirectory, "aged staging dir should be swept by expire")
    assert(msgs(log.read("c", "s")) == Seq("a", "b", "c"))
  }

  test("tail truncation of a new-format manifest is DETECTED (header survives, footer gone) and counted") {
    val root = tempDir("mlog")
    val log = new ManifestLog(spark, root)
    log.append(batch(("2024-01-01T10:00:00Z", "INFO", "keep")), "c", "s")
    log.append(batch(("2024-01-01T10:01:00Z", "INFO", "cut")), "c", "s")
    val v2 = new java.io.File(f"$root/manifest/container=c/session=s/v${2L}%020d")
    // truncate the TAIL — the stated at-rest threat: the footer is the
    // first casualty.
    val lines = new String(java.nio.file.Files.readAllBytes(v2.toPath), "UTF-8")
      .split("\n").filter(_.nonEmpty)
    assert(lines.head.startsWith("#graft-manifest "), "new files must carry the header")
    assert(lines.last.startsWith("#commit "), "new files must carry the footer")
    java.nio.file.Files.write(v2.toPath,
      (lines.init.mkString("\n") + "\n").getBytes("UTF-8")) // footer cut off
    val skipsBefore = log.corruptManifestSkips
    // reads degrade to the last intact state — and the degradation is
    // OBSERVABLE via the health counter (a read-mostly session must not
    // serve stale data with no signal)
    assert(msgs(log.read("c", "s")) == Seq("keep"))
    assert(log.corruptManifestSkips > skipsBefore,
      "resolve skipped a corrupt manifest without counting it")
    // truncation mid-entry (footer AND half the last entry gone) too
    java.nio.file.Files.write(v2.toPath,
      (lines.init.mkString("\n").dropRight(5) + "\n").getBytes("UTF-8"))
    assert(msgs(log.read("c", "s")) == Seq("keep"))
  }

  test("a ZERO-BYTE or torn-header manifest is IN-FLIGHT, never legacy-complete (O_EXCL claim window)") {
    // On link-less mounts Cas.tryClaim's O_EXCL fallback creates the
    // FINAL name empty before writing content. Serving that as a
    // committed empty manifest would resolve the frontier as (v, Nil):
    // reads silently serve zero rows, and a concurrent commit applies
    // update(Nil) and claims v+1 with only its own entry — permanently
    // dropping every prior entry.
    val root = tempDir("mlog")
    val log = new ManifestLog(spark, root)
    log.append(batch(("2024-01-01T10:00:00Z", "INFO", "keep")), "c", "s")
    val v2 = new java.io.File(f"$root/manifest/container=c/session=s/v${2L}%020d")
    java.nio.file.Files.write(v2.toPath, Array.empty[Byte]) // mid-claim snapshot
    val skipsBefore = log.corruptManifestSkips
    assert(msgs(log.read("c", "s")) == Seq("keep"),
      "empty frontier file must not be served as a committed empty manifest")
    assert(log.resolve("c", "s")._2.nonEmpty, "resolve returned (v, Nil) for an in-flight claim")
    assert(log.corruptManifestSkips > skipsBefore, "in-flight skip must be observable")
    // a torn FIRST line (sub-16-byte partial write of the header)
    java.nio.file.Files.write(v2.toPath, "#graft-man".getBytes("UTF-8"))
    assert(msgs(log.read("c", "s")) == Seq("keep"))
    // a committer facing an AGED empty frontier surfaces loudly instead
    // of committing past state resolved below it (the silent-drop path)
    java.nio.file.Files.write(v2.toPath, Array.empty[Byte])
    assert(v2.setLastModified(System.currentTimeMillis() - 10 * 60 * 1000))
    val e = intercept[java.io.IOException] {
      log.append(batch(("2024-01-01T10:02:00Z", "INFO", "blocked")), "c", "s")
    }
    assert(e.getMessage.contains("corrupt"), s"unexpected error: ${e.getMessage}")
    assert(msgs(log.read("c", "s")) == Seq("keep"), "prior entries must survive")
  }

  test("snapshot reads (time travel): a pinned version replays its exact row set across appends and compaction") {
    val root = tempDir("mlog")
    val log = new ManifestLog(spark, root)
    log.append(batch(("2024-01-01T10:00:00Z", "INFO", "a1"),
                     ("2024-01-01T10:01:00Z", "INFO", "a2")), "c", "s") // v1
    log.append(batch(("2024-01-01T10:02:00Z", "INFO", "b1")), "c", "s") // v2
    assert(log.versions("c", "s") == Seq(1L, 2L))
    // further appends + a full compaction + GC with a grace window —
    // the pinned snapshots must replay exactly
    log.append(batch(("2024-01-01T10:03:00Z", "INFO", "c1")), "c", "s") // v3
    assert(log.compact("c", "s") > 0L)                                  // v4
    log.expire("c", "s", Instant.now().minusSeconds(3600)) // grace: nothing deletable
    assert(msgs(log.readAt("c", "s", 1L)) == Seq("a1", "a2"))
    assert(msgs(log.readAt("c", "s", 2L)) == Seq("a1", "a2", "b1"))
    assert(msgs(log.readAt("c", "s", 4L)) == Seq("a1", "a2", "b1", "c1"))
    assert(log.versions("c", "s") == Seq(1L, 2L, 3L, 4L))
    // a version that never committed fails loudly, not nearest-match
    val e = intercept[java.io.IOException] { log.readAt("c", "s", 99L) }
    assert(e.getMessage.contains("snapshot"), s"unexpected: ${e.getMessage}")
  }

  test("read cache: same version reuses the plan, a version bump rebuilds — staleness impossible") {
    val log = new ManifestLog(spark, tempDir("mlog"))
    log.append(batch(("2024-01-01T10:00:00Z", "INFO", "one")), "c", "s")
    val r1 = log.read("c", "s")
    val r2 = log.read("c", "s")
    assert(r1 eq r2, "unchanged version should serve the cached plan object")
    log.append(batch(("2024-01-01T10:01:00Z", "INFO", "two")), "c", "s")
    val r3 = log.read("c", "s")
    assert(!(r3 eq r1), "version bump must invalidate the cached plan")
    assert(msgs(r3) == Seq("one", "two")) // post-append read sees the new version
    // isolated per session
    log.append(batch(("2024-01-01T10:02:00Z", "INFO", "other")), "c", "s2")
    assert(msgs(log.read("c", "s2")) == Seq("other"))
    assert(msgs(log.read("c", "s")) == Seq("one", "two"))
  }

  test("corrupt sweep never opens a gap above a surviving valid version (stale-hint lost-update guard)") {
    val root = tempDir("mlog")
    val log = new ManifestLog(spark, root)
    log.append(batch(("2024-01-01T10:00:00Z", "INFO", "a")), "c", "s") // v1
    log.append(batch(("2024-01-01T10:01:00Z", "INFO", "b")), "c", "s") // v2
    log.append(batch(("2024-01-01T10:02:00Z", "INFO", "c")), "c", "s") // v3
    val mdir = s"$root/manifest/container=c/session=s"
    val v2 = new java.io.File(f"$mdir/v${2L}%020d")
    java.nio.file.Files.write(v2.toPath, "hot/ghost.parquet\n#commit 9\n".getBytes)
    // v2 is aged past the horizon but v3 is NOT — so valid v1 must
    // survive, and therefore corrupt v2 must survive too: deleting it
    // would leave v1 readable with v2 absent while v3 is the real
    // frontier, exactly the gap a stale version hint would stop in
    // (concluding v1 is current and committing into the freed v2 slot)
    assert(v2.setLastModified(System.currentTimeMillis() - 10 * 60 * 1000))
    log.expire("c", "s", java.time.Instant.now().minusSeconds(60))
    assert(new java.io.File(f"$mdir/v${1L}%020d").isFile, "v1 should survive (v3 inside grace)")
    assert(v2.isFile, "corrupt v2 must be kept while valid v1 survives below it")
    assert(msgs(log.read("c", "s")) == Seq("a", "b", "c"))
  }

  test("persistent hint file: a fresh instance probes from it; garbage or expired-past hints fall back") {
    val root = tempDir("mlog")
    // cadence 2 so a 4-append test exercises two hint writes (last wins)
    val log = new ManifestLog(spark, root, hintFileEvery = 2L)
    (1 to 4).foreach(i =>
      log.append(batch((s"2024-01-01T10:0$i:00Z", "INFO", s"m$i")), "c", "s"))
    val dir = new Path(s"$root/manifest/container=c/session=s")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(log.readHintFile(dir) == 4L, "commits at the cadence boundary must persist the frontier hint")
    // a FRESH instance (no in-process hint) must serve the true frontier
    // seeded from the file
    assert(msgs(new ManifestLog(spark, root).read("c", "s")) == Seq("m1", "m2", "m3", "m4"))
    // the hint is advisory: torn/garbage content degrades to the listing
    val g = fs.create(new Path(dir, "hint"), true)
    g.write("not-a-number".getBytes("UTF-8")); g.close()
    assert(msgs(new ManifestLog(spark, root).read("c", "s")) == Seq("m1", "m2", "m3", "m4"))
    // expired-past shape (hint above any existing version): probe fails,
    // listing still serves
    val h = fs.create(new Path(dir, "hint"), true)
    h.write("99999".getBytes("UTF-8")); h.close()
    assert(msgs(new ManifestLog(spark, root).read("c", "s")) == Seq("m1", "m2", "m3", "m4"))
  }

  test("commit ABA guard: a committer whose resolved predecessor was expired refuses the vacated slot") {
    // the hazard: a committer stalls (GC/VM pause) between resolve and
    // claim while the chain advances and expire's prefix sweep vacates
    // its target slot — an unguarded claim would "succeed" invisibly
    // below the live frontier, silently dropping acked rows. Expire
    // deletes in prefix order, so the guard is O(1): the resolved
    // predecessor still existing proves the slot was never vacated.
    val root = tempDir("mlog")
    val log = new ManifestLog(spark, root)
    (1 to 3).foreach(i =>
      log.append(batch((s"2024-01-01T10:0$i:00Z", "INFO", s"m$i")), "c", "s"))
    val dir = new Path(s"$root/manifest/container=c/session=s")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val vs = fs.listStatus(dir).map(_.getPath.getName)
      .filter(_.matches("v\\d{20}")).sorted.map(_.stripPrefix("v").toLong)
    assert(vs.length >= 3)
    assert(log.predecessorSurvives(dir, vs.init.last), "live chain must pass the guard")
    // simulate a remote expire: prefix sweep leaves only the frontier
    vs.init.foreach(v => assert(fs.delete(new Path(dir, f"v$v%020d"), false)))
    assert(!log.predecessorSurvives(dir, vs.init.last),
      "a resolve from before the sweep must refuse its (possibly vacated) successor slot")
    assert(log.predecessorSurvives(dir, vs.last), "the frontier committer still passes")
    assert(log.predecessorSurvives(dir, 0L), "a fresh session has nothing below v1 to vacate")
    // the live path re-resolves and continues past the sweep
    log.append(batch(("2024-01-01T10:09:00Z", "INFO", "post")), "c", "s")
    assert(msgs(log.read("c", "s")).contains("post"))
  }

  test("version-hint resolve: foreign commits are probed forward; past the probe cap it falls back to a listing") {
    val root = tempDir("mlog")
    val a = new ManifestLog(spark, root)
    val b = new ManifestLog(spark, root)
    a.append(batch(("2024-01-01T10:00:00Z", "INFO", "mine")), "c", "s")   // v1: a's hint = 1
    b.append(batch(("2024-01-01T10:01:00Z", "INFO", "theirs")), "c", "s") // v2 via the peer
    // a's resolve probes v2 off its stale hint — no listing needed
    assert(msgs(a.read("c", "s")) == Seq("mine", "theirs"))
    assert(a.resolve("c", "s")._1 == 2L)
    // push the frontier far past the probe cap (64) with planted
    // versions, all referencing v1's hot file
    val mdir = new java.io.File(s"$root/manifest/container=c/session=s")
    val hotEntry = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(mdir, f"v${1L}%020d").toPath), "UTF-8")
      .split("\n").find(_.startsWith("hot/")).get
    b.plantVersions("c", "s", 3L, 90L, Seq(hotEntry))
    assert(a.resolve("c", "s")._1 == 90L, "cap-exceeded probe must fall back to listing")
    assert(msgs(a.read("c", "s")) == Seq("mine"))
    // and commits build on the listed frontier
    b.append(batch(("2024-01-01T10:02:00Z", "INFO", "after")), "c", "s")
    assert(b.resolve("c", "s")._1 == 91L)
    assert(msgs(a.read("c", "s")) == Seq("after", "mine"))
  }

  test("idempotency tags are filename-safe (':' would parse as a Path scheme)") {
    val ml = new ManifestLog(spark, tempDir("mlog"))
    intercept[IllegalArgumentException] {
      ml.appendIdempotent(batch(("2024-01-01T10:00:00Z", "INFO", "x")), "c", "s", "batch:7")
    }
  }

  test("concurrent compactions from two instances: loser declines its swap, rows exactly once") {
    val root = tempDir("mlog")
    val a = new ManifestLog(spark, root)
    val b = new ManifestLog(spark, root)
    a.append(batch(("2024-01-01T10:00:00Z", "INFO", "r1"),
                   ("2024-01-01T10:01:00Z", "INFO", "r2")), "c", "s")
    a.append(batch(("2024-01-01T10:02:00Z", "INFO", "r3")), "c", "s")
    // hold A after its cold publish, immediately before its swap; let B
    // compact the SAME hot snapshot to completion in that window
    val inHook = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    a.beforeSwap = () => { inHook.countDown(); release.await(60, TimeUnit.SECONDS); () }
    @volatile var aRetired = -1L
    val ta = new Thread(() => aRetired = a.compact("c", "s"), "race-compact-a")
    ta.start()
    assert(inHook.await(120, TimeUnit.SECONDS), "A never reached its swap point")
    val bRetired = b.compact("c", "s")
    assert(bRetired > 0L, "B's compaction should have won the race")
    release.countDown()
    ta.join(120000)
    // A must DECLINE: applying its swap would re-add the snapshot's rows
    // via its own cold files while B's cold files already carry them
    assert(aRetired == 0L, s"loser compaction reported retired bytes $aRetired")
    assert(msgs(a.read("c", "s")) == Seq("r1", "r2", "r3"))
    assert(msgs(b.read("c", "s")) == Seq("r1", "r2", "r3"))
    // and A's never-referenced cold output was discarded: every cold
    // file on disk is referenced by the manifest
    val (_, entries) = a.resolve("c", "s")
    val coldOnDisk = {
      val d = new java.io.File(s"$root/cold/container=c/session=s")
      if (!d.isDirectory) Array.empty[String]
      else d.listFiles.filter(f => f.isFile && f.getName.endsWith(".parquet")).map(_.getName)
    }
    val coldReferenced = entries.filter(_.startsWith("cold/")).map(_.split("/").last).toSet
    assert(coldOnDisk.toSet == coldReferenced,
      s"cold dir ${coldOnDisk.toSet} != manifest-referenced $coldReferenced")
  }

  test("reads are isolated per (container, session) and union both tiers") {
    val log = new ManifestLog(spark, tempDir("mlog"))
    log.append(batch(("2024-01-01T10:00:00Z", "INFO", "x")), "app", "run1")
    log.append(batch(("2024-01-01T11:00:00Z", "INFO", "y")), "app", "run2")
    log.append(batch(("2024-01-01T12:00:00Z", "INFO", "z")), "other", "run1")
    log.compact("app", "run1") // run1 rows now cold
    log.append(batch(("2024-01-01T13:00:00Z", "WARN", "w")), "app", "run1") // hot again
    val (cf, _, hf, _) = log.tierStats("app", "run1")
    assert(cf == 1L && hf == 1L, "run1 must span both tiers")
    assert(msgs(log.read("app", "run1")) == Seq("w", "x"))
    assert(msgs(log.read("app", "run2")) == Seq("y"))
    assert(msgs(log.read("other", "run1")) == Seq("z"))
    assert(log.sessions().map { case (c, s) => log.read(c, s).count() }.sum == 4L)
  }

  test("duplicates are preserved (bag semantics, reader.py:488-510)") {
    val log = new ManifestLog(spark, tempDir("mlog"))
    val b = batch(("2024-01-01T10:00:00Z", "INFO", "same"))
    log.append(b, "c", "s")
    log.append(b, "c", "s")
    assert(log.read("c", "s").count() == 2L)
    log.compact("c", "s")
    assert(log.read("c", "s").count() == 2L)
  }

  test("tierStats counts files and bytes per tier from the manifest") {
    val log = new ManifestLog(spark, tempDir("mlog"))
    log.append(batch(("2024-01-01T10:00:00Z", "INFO", "a")), "c", "s")
    val (cf0, cb0, hf0, hb0) = log.tierStats("c", "s")
    assert((cf0, cb0) == ((0L, 0L)) && hf0 == 1L && hb0 > 0L)
    log.compact("c", "s")
    val (cf1, cb1, hf1, hb1) = log.tierStats("c", "s")
    assert(cf1 == 1L && cb1 > 0L && (hf1, hb1) == ((0L, 0L)))
  }

  test("sessions() lists namespaces across both tiers") {
    val log = new ManifestLog(spark, tempDir("mlog"))
    log.append(batch(("2024-01-01T10:00:00Z", "INFO", "a")), "c1", "s1")
    log.append(batch(("2024-01-01T10:00:00Z", "INFO", "b")), "c2", "s2")
    log.compact("c1", "s1")
    assert(log.sessions().sorted == Seq(("c1", "s1"), ("c2", "s2")))
  }

  test("append rejects invalid ids") {
    val log = new ManifestLog(spark, tempDir("mlog"))
    intercept[IllegalArgumentException] {
      log.append(batch(("2024-01-01T10:00:00Z", "INFO", "a")), "bad/id", "s")
    }
    intercept[IllegalArgumentException] {
      log.append(batch(("2024-01-01T10:00:00Z", "INFO", "a")), "c", "bad id")
    }
    assert(log.sessions().isEmpty)
  }

  test("reopen after restart preserves the row multiset exactly once (T6)") {
    val root = tempDir("mlog-reopen")
    val log1 = new ManifestLog(spark, root)
    log1.append(batch(("2024-01-01T10:00:00Z", "INFO", "cold-row")), "c", "s")
    log1.compact("c", "s")
    log1.append(batch(("2024-01-01T11:00:00Z", "INFO", "hot-row")), "c", "s")
    // "restart": a fresh instance over the same root — no reload step
    // exists to double-count (the reference's writer.py:181-231 bug)
    val log2 = new ManifestLog(spark, root)
    assert(msgs(log2.read("c", "s")) == Seq("cold-row", "hot-row"))
    log2.compact("c", "s")
    assert(msgs(log2.read("c", "s")) == Seq("cold-row", "hot-row"))
    val log3 = new ManifestLog(spark, root)
    assert(msgs(log3.read("c", "s")) == Seq("cold-row", "hot-row"))
  }

  test("idempotent replay skips across a store restart") {
    val root = tempDir("mlog-idem-restart")
    val b = batch(("2024-01-01T10:00:00Z", "INFO", "once"))
    val log1 = new ManifestLog(spark, root)
    assert(log1.appendIdempotent(b, "c", "s", "stream-3") > 0L)
    log1.compact("c", "s")
    val log2 = new ManifestLog(spark, root)
    assert(log2.appendIdempotent(b, "c", "s", "stream-3") == -1L)
    assert(log2.read("c", "s").count() == 1L)
  }

  test("compact range-clusters by timestamp: cold files cover disjoint time slices (footer-prunable)") {
    val root = tempDir("mlog-cluster")
    val log = new ManifestLog(spark, root, targetFileBytes = 1L)
    // 40 rows over 40 distinct minutes, appended in SHUFFLED order —
    // clustering must come from compaction, not ingest order
    val rows = new scala.util.Random(7).shuffle((0 until 40).toVector)
      .map(i => (f"2024-01-01T10:$i%02d:00Z", "INFO", s"m$i"))
    log.append(batch(rows: _*), "c", "s")
    log.compact("c", "s")
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sparkContext.hadoopConfiguration
    // the cold files are the ones the manifest references, not whatever
    // sits in the cold directory
    val coldFiles = log.resolve("c", "s")._2.filter(_.startsWith("cold/")).map(e => s"$root/$e")
    assert(coldFiles.size > 1, "tiny target ⇒ multiple cold files")
    val ranges = coldFiles.map { p =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(p), conf))
      try {
        val stats = r.getFooter.getBlocks.asScala
          .flatMap(_.getColumns.asScala.find(_.getPath.toDotString == "timestamp"))
          .map(_.getStatistics)
        val mins = stats.map(_.genericGetMin.asInstanceOf[java.lang.Long].longValue)
        val maxs = stats.map(_.genericGetMax.asInstanceOf[java.lang.Long].longValue)
        (mins.min, maxs.max)
      } finally r.close()
    }.sortBy(_._1)
    // consecutive files must not interleave: each file's max < next file's min
    ranges.sliding(2).foreach {
      case Seq((_, aMax), (bMin, _)) =>
        assert(aMax < bMin, s"file time ranges overlap: $ranges")
      case _ => ()
    }
    assert(log.read("c", "s").count() == 40L)
  }

  test("compact sizes output files by targetFileBytes") {
    val log = new ManifestLog(spark, tempDir("mlog"), targetFileBytes = 1L) // 1 file per byte-bucket
    log.append(batch((1 to 50).map(i => ("2024-01-01T10:00:00Z", "INFO", s"m$i")): _*), "c", "s")
    log.compact("c", "s")
    val (coldFiles, _, _, _) = log.tierStats("c", "s")
    assert(coldFiles > 1L) // tiny target ⇒ multiple sized outputs
    assert(log.read("c", "s").count() == 50L)
  }
}
