package graft.storage

import java.sql.Timestamp
import java.time.Instant
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkSuite
import graft.model.LogSchema

/** `ManifestLog` appends a batch whose rows are already on the driver
  * (a `LocalRelation`, as every ingest flush is) without a Spark job,
  * and every other batch with a Spark write. Both paths must produce
  * the same file: same rows, same Parquet schema, codec and Spark
  * footer metadata, under the session's confs. */
class LocalAppendSpec extends SparkSuite {
  import LocalAppendSpec._

  /** The rows as a driver-local batch (what an ingest flush appends). */
  private def local(s: SparkSession): DataFrame =
    s.createDataFrame(rowsIn.asJava, LogSchema.fileSchema)

  /** The same rows behind an RDD scan: not a `LocalRelation`, so the
    * store takes the Spark write path. */
  private def derived(s: SparkSession): DataFrame =
    s.createDataFrame(s.sparkContext.parallelize(rowsIn, 2), LogSchema.fileSchema)

  private def multiset(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(r => s"${r.getTimestamp(0).toInstant}|${r.getString(1)}|${r.getString(2)}").sorted

  /** The single hot file a one-append session holds. */
  private def hotFile(root: String, c: String, s: String): Path = {
    val dir = new Path(s"$root/hot/container=$c/session=$s")
    val files = StoreFiles.walkParquet(dir.getFileSystem(spark.sparkContext.hadoopConfiguration), dir)
    assert(files.size === 1, s"expected one hot file under $dir")
    files.head.getPath
  }

  test("appending a local batch starts no Spark job") {
    val log = new ManifestLog(spark, tempDir("local_append"))
    val batch = local(spark)
    val (bytes, jobs) = jobsDuring(log.append(batch, "c", "s"))
    assert(jobs === 0, "a driver-local append ran a Spark job")
    assert(bytes > 0L)
    assert(multiset(log.read("c", "s")) === multiset(batch))
  }

  test("the driver path and the Spark path land the same rows") {
    val log = new ManifestLog(spark, tempDir("local_append"))
    log.append(local(spark), "c", "driver")
    log.append(derived(spark), "c", "spark")
    val viaDriver = multiset(log.read("c", "driver"))
    assert(viaDriver.size === rowsIn.size)
    assert(viaDriver === multiset(log.read("c", "spark")))
  }

  for ((label, tsType, codec, rebase) <- writeConfs)
    test(s"driver and Spark footers agree under $label") {
      val s2 = writerSession(spark, tsType, codec, rebase)
      val root = tempDir("local_append")
      val log = new ManifestLog(s2, root)
      log.append(local(s2), "c", "driver")
      log.append(derived(s2), "c", "spark")

      def footer(p: Path) = {
        val r = ParquetFileReader.open(
          HadoopInputFile.fromPath(p, spark.sparkContext.hadoopConfiguration))
        try r.getFooter finally r.close()
      }
      val (driverFile, sparkFile) = (hotFile(root, "c", "driver"), hotFile(root, "c", "spark"))
      val perms = (p: Path) => java.nio.file.Files.getPosixFilePermissions(java.nio.file.Paths.get(p.toUri))
      assert(perms(driverFile) === perms(sparkFile))
      val d = footer(driverFile)
      val s = footer(sparkFile)
      assert(d.getFileMetaData.getSchema === s.getFileMetaData.getSchema)
      val codecs = (f: org.apache.parquet.hadoop.metadata.ParquetMetadata) =>
        f.getBlocks.asScala.flatMap(_.getColumns.asScala.map(_.getCodec.name)).toSet
      assert(codecs(d) === Set(codec.toUpperCase))
      assert(codecs(d) === codecs(s))
      val meta = d.getFileMetaData.getKeyValueMetaData
      assert(meta.get("org.apache.spark.sql.parquet.row.metadata") != null)
      assert(meta.containsKey("org.apache.spark.legacyDateTime") === rebase.isDefined)
      assert(meta.asScala === s.getFileMetaData.getKeyValueMetaData.asScala)
      assert(multiset(log.read("c", "driver")) === multiset(log.read("c", "spark")))
    }

  test("a derived batch still runs a Spark write and its rows land") {
    val log = new ManifestLog(spark, tempDir("local_append"))
    val batch = spark.range(0, 4).select(
      timestamp_seconds(col("id") + 1704103200L).as("timestamp"),
      lit("INFO").as("level"),
      concat(lit("derived-"), col("id").cast("string")).as("message"))
    val (_, jobs) = jobsDuring(log.append(batch, "c", "s"))
    assert(jobs >= 1, "a derived batch did not run as a Spark job")
    assert(log.read("c", "s").collect().map(_.getString(2)).sorted.toSeq ===
      (0 until 4).map(i => s"derived-$i"))
  }

  test("an idempotent replay of a local batch is a no-op") {
    val log = new ManifestLog(spark, tempDir("local_append"))
    assert(log.appendIdempotent(local(spark), "c", "s", "batch-7") > 0L)
    assert(log.appendIdempotent(local(spark), "c", "s", "batch-7") === -1L)
    assert(multiset(log.read("c", "s")) === multiset(local(spark)))
  }
}

object LocalAppendSpec {
  /** Rows that exercise the timestamp encodings: micros, a pre-1900
    * instant (rebased under LEGACY), a duplicate, unicode. */
  private[storage] val rowsIn = Seq(
    Row(Timestamp.from(Instant.parse("2024-01-01T10:00:00Z")), "INFO", "plain"),
    Row(Timestamp.from(Instant.parse("2024-01-01T10:00:00.000001Z")), "WARN", "micros"),
    Row(Timestamp.from(Instant.parse("1850-06-01T00:00:00.123456Z")), "ERROR", "pre-1900"),
    Row(Timestamp.from(Instant.parse("2024-01-01T10:00:00Z")), "INFO", "plain"), // duplicate
    Row(Timestamp.from(Instant.parse("2038-01-19T03:14:08Z")), "DEBUG", ""),
    Row(Timestamp.from(Instant.parse("2024-02-29T23:59:59.999999Z")), "INFO", "ünïcødé ✓"))

  /** (label, timestamp type, codec, rebase mode) of the Parquet files
    * the specs write. The second case sets confs the writer reads
    * through SQLConf.get (the rebase modes), not only ones prepareWrite
    * copies into the Hadoop conf: a driver write outside the session's
    * SQLConf would miss them. */
  private[storage] val writeConfs = Seq(
    ("the default INT96 timestamps", "INT96", "snappy", None),
    ("TIMESTAMP_MICROS, gzip and LEGACY rebase", "TIMESTAMP_MICROS", "gzip", Some("LEGACY")))

  /** A new session of `spark` that writes Parquet with these confs. */
  private[storage] def writerSession(spark: SparkSession, tsType: String, codec: String,
                                     rebase: Option[String]): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.parquet.outputTimestampType", tsType)
    s.conf.set("spark.sql.parquet.compression.codec", codec)
    rebase.foreach { mode =>
      s.conf.set("spark.sql.parquet.datetimeRebaseModeInWrite", mode)
      s.conf.set("spark.sql.parquet.int96RebaseModeInWrite", mode)
    }
    s
  }
}
