package graft.ops

import graft.SparkSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Input-table schema resolution in `Tables.load`: the first load of a
  * table per session infers its Parquet schema (one Spark job); later
  * loads reuse it and start no job, yet still build fresh relations.
  * The entries live and die with the memo's lifecycle. Every test uses
  * its own child session so the shared session's entries never
  * interfere. */
class TableResolveSpec extends SparkSuite {

  /** A small data dir with the `lineitem`, `nation` and `region` tables. */
  private lazy val sf: String = {
    val dir = tempDir("graft_resolve_tables")
    val s = spark
    import s.implicits._
    (1L to 200L).map(i => (i % 50, i, i * 1.5, if (i % 3 == 0) "R" else "N"))
      .toDF("l_orderkey", "l_linenumber", "l_extendedprice", "l_returnflag")
      .write.parquet(s"$dir/lineitem.parquet")
    (0L until 25L).map(k => (k, s"NATION$k", k % 5))
      .toDF("n_nationkey", "n_name", "n_regionkey")
      .write.parquet(s"$dir/nation.parquet")
    (0L until 5L).map(k => (k, s"REGION$k")).toDF("r_regionkey", "r_name")
      .write.parquet(s"$dir/region.parquet")
    dir
  }

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))

  test("a second load of a table in one session starts no Spark job") {
    val (s2, dir) = (spark.newSession(), sf)
    val (first, firstJobs) = jobsDuring(Tables.lineitem(s2, dir))
    assert(firstJobs >= 1, "the first load should infer the schema with a Spark job")
    val (second, secondJobs) = jobsDuring(Tables.lineitem(s2, dir))
    assert(secondJobs === 0, "a resolved table re-ran schema inference")
    assert(second.schema === first.schema)
    assert(second.count() === first.count())
    Tables.invalidate(s2)
  }

  test("two loads of one table self-join like two uncached reads") {
    val s2 = spark.newSession()
    def selfJoin(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame) =
      a.join(b, a("n_regionkey") === b("n_regionkey") && a("n_nationkey") < b("n_nationkey"))
        .select(a("n_nationkey").as("lo"), b("n_nationkey").as("hi"))
    Tables.nation(s2, sf) // resolve, so both loads below come from the cache
    val cached = rows(selfJoin(Tables.nation(s2, sf), Tables.nation(s2, sf)))
    val uncached = rows(selfJoin(s2.read.parquet(s"$sf/nation.parquet"),
                                 s2.read.parquet(s"$sf/nation.parquet")))
    assert(uncached.nonEmpty)
    assert(cached === uncached)
    Tables.invalidate(s2)
  }

  test("invalidateDir after an in-place rewrite resolves the new schema") {
    val dir = tempDir("graft_resolve")
    val s2 = spark.newSession()
    val ss = s2
    import ss.implicits._
    Seq(1L, 2L).toDF("a").write.parquet(s"$dir/probe.parquet")
    assert(Tables.load(s2, dir, "probe").columns.toSeq === Seq("a"))

    Seq((3L, "x")).toDF("a", "b").write.mode("overwrite").parquet(s"$dir/probe.parquet")
    // the data dir is assumed immutable until invalidated: the old
    // schema still applies, over the new files
    assert(Tables.load(s2, dir, "probe").columns.toSeq === Seq("a"))

    Tables.invalidateDir(dir)
    val reread = Tables.load(s2, dir, "probe")
    assert(reread.columns.toSeq === Seq("a", "b"))
    assert(rows(reread) === Seq(Seq(3L, "x")))
    Tables.invalidate(s2)
  }

  test("invalidate drops the session's schemas; eviction drops a stopped session's") {
    val s2 = spark.newSession()
    val other = spark.newSession()
    Tables.region(s2, sf)
    Tables.region(other, sf)
    assert(jobsDuring(Tables.region(s2, sf))._2 === 0)

    Tables.invalidate(s2)
    assert(jobsDuring(Tables.region(s2, sf))._2 >= 1, "invalidate kept the session's schema")
    assert(jobsDuring(Tables.region(other, sf))._2 === 0, "invalidate dropped another session's schema")

    // The shared SparkContext cannot be stopped inside this JVM, so the
    // sweep that evicts stopped sessions is run with `other` as the
    // stopped one.
    Tables.evictStopped((s: SparkSession) => s eq other)
    assert(jobsDuring(Tables.region(other, sf))._2 >= 1, "eviction kept the stopped session's schema")
    assert(jobsDuring(Tables.region(s2, sf))._2 === 0, "eviction dropped a live session's schema")
    Tables.invalidate(s2)
    Tables.invalidate(other)
  }

  test("flipping nanosAsLong re-infers the schema") {
    val dir = tempDir("graft_nanos")
    // Spark cannot write TIMESTAMP(NANOS); write the file with parquet-mr
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message t { required int64 ts (TIMESTAMP(NANOS,true)); }")
    val out = org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(
      new org.apache.hadoop.fs.Path(s"$dir/nanos.parquet/part-0.parquet"),
      spark.sparkContext.hadoopConfiguration)
    val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter.builder(out)
      .withType(schema).build()
    try writer.write(new org.apache.parquet.example.data.simple.SimpleGroupFactory(schema)
      .newGroup().append("ts", 1700000000123456000L))
    finally writer.close()

    val s2 = spark.newSession()
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    s2.conf.set(key, "true")
    val asLong = Tables.load(s2, dir, "nanos")
    assert(asLong.schema("ts").dataType === LongType)
    assert(asLong.select(col("ts")).head().getLong(0) === 1700000000123456000L)

    s2.conf.set(key, "false")
    val (flipped, jobs) = jobsDuring(scala.util.Try(Tables.load(s2, dir, "nanos").schema("ts").dataType))
    assert(jobs >= 1, "a conf flip served the schema resolved under the old conf")
    assert(!flipped.toOption.contains(LongType),
      s"nanosAsLong=false still read ts as a long: $flipped")

    s2.conf.set(key, "true")
    assert(Tables.load(s2, dir, "nanos").schema("ts").dataType === LongType)
    Tables.invalidate(s2)
  }
}
