package graft.storage

import java.util.concurrent.atomic.AtomicInteger
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, LocalFileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite

/** The version chain's request-path cost, pinned by counting filesystem
  * calls. The catalog resolves on every authenticated request (token,
  * then session access) and the manifest store on every read and
  * commit, so a resolve that lists or opens per call shows up in every
  * request's latency. */
class VersionChainSpec extends AnyFunSuite {

  /** The local filesystem, counting metadata calls (every `exists` is
    * one `getFileStatus`), opens and listings. `beforeStat` runs ahead
    * of each metadata call. */
  private final class CountingFs extends LocalFileSystem {
    val stats, opens, lists = new AtomicInteger()
    @volatile var beforeStat: Path => Unit = _ => ()
    override def getFileStatus(p: Path): FileStatus = {
      stats.incrementAndGet(); beforeStat(p); super.getFileStatus(p)
    }
    override def open(p: Path, bufferSize: Int): FSDataInputStream = {
      opens.incrementAndGet(); super.open(p, bufferSize)
    }
    override def listStatus(p: Path): Array[FileStatus] = {
      lists.incrementAndGet(); super.listStatus(p)
    }
    /** (metadata calls, opens, listings) made by `body`. */
    def cost(body: => Unit): (Int, Int, Int) = {
      val (s, o, l) = (stats.get, opens.get, lists.get)
      body
      (stats.get - s, opens.get - o, lists.get - l)
    }
  }

  private def chain(): (CountingFs, VersionChain[StateRecord], Path) = {
    val fs = new CountingFs
    fs.initialize(java.net.URI.create("file:///"), new Configuration())
    val dir = new Path(java.nio.file.Files.createTempDirectory("chain").toString)
    (fs, StateRecord.chain(fs, dir), dir)
  }

  private def record(p: String): Array[Byte] = StateRecord(isDelta = false, p).bytes

  test("an unchanged clean frontier resolves with two existence checks and no read; a claim adds no read") {
    val (fs, c, _) = chain()
    assert(c.claim(0L, record("one")))
    // a claim: the predecessor guard before and after Cas.tryClaim, and
    // the new record's status for the hint — never more than the three
    // existence checks a manifest commit made around its claim before
    assert(fs.cost(assert(c.claim(1L, record("two")))) == ((3, 0, 0)))
    // the writer's own frontier, and again: probe v+1, confirm v
    assert(fs.cost(assert(c.resolve().record.contains(StateRecord(false, "two")))) == ((2, 0, 0)))
    assert(fs.cost(c.resolve()) == ((2, 0, 0)))
    // a fresh instance lists once, then holds the frontier like the writer
    val fresh = StateRecord.chain(fs, c.pathOf(1L).getParent)
    assert(fs.cost(fresh.resolve())._3 == 1)
    assert(fs.cost(fresh.resolve()) == ((2, 0, 0)))
    // one foreign commit: probe it, read it once, no listing
    assert(c.claim(2L, record("three")))
    val (_, opens, lists) = fs.cost(assert(fresh.resolve().valid == 3L))
    assert((opens, lists) == ((1, 0)))
  }

  test("a predecessor deleted during the claim fails the claim loudly instead of acking it") {
    val (fs, c, _) = chain()
    (1L to 3L).foreach(v => assert(c.claim(v - 1, record(s"v$v"))))
    val pred = c.pathOf(3L)
    var checks = 0
    // the second check of v3 comes after Cas.tryClaim: a sweep removes
    // v3 in between, as a stalled writer would find after the grace
    fs.beforeStat = p => if (p == pred) { checks += 1; if (checks == 2) fs.delete(p, false) }
    val e = intercept[java.io.IOException](c.claim(3L, record("v4")))
    assert(e.getMessage.contains("NOT acked"), e.getMessage)
  }
}
