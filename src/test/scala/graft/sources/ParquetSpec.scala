package graft.sources

import graft.{JobCount, SparkSpec}
import graft.streaming.{IncrementalPipeline, VersionedStore}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.Files

/** [[Parquet]] against `spark.read.parquet`: the same schema and rows on
  * every test table and on partitioned and multi-path stores, the same
  * result or error where it falls back, and no Spark job to build a
  * DataFrame. */
class ParquetSpec extends SparkSpec {
  import spark.implicits._

  private val sfDirs = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")
  private val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** The schema and rows of `df`, or the class and message of the error
    * building or collecting it. */
  private def outcome(df: => DataFrame): Either[(Class[_], String), (StructType, Seq[Row])] =
    try { val d = df; Right((d.schema, d.collect().toSeq)) }
    catch { case e: Exception => Left((e.getClass, e.getMessage)) }

  private def assertSame(actual: => DataFrame, expected: => DataFrame): Unit = {
    val (a, e) = (outcome(actual), outcome(expected))
    assert(a.isRight, s"reader failed: $a")
    assert(a === e)
  }

  for (dir <- sfDirs) {
    test(s"every table of ${dir.split('/').last}: same schema and rows as spark.read.parquet") {
      tables.foreach { t =>
        assertSame(Tables.load(spark, dir, t), spark.read.parquet(s"$dir/$t.parquet"))
      }
    }

    test(s"Tables.events of ${dir.split('/').last} equals its spark.read.parquet dispatch") {
      val events = Tables.events(spark, dir)
      val raw = spark.read.parquet(s"$dir/events.parquet")
      val expected = raw.schema("ts").dataType match {
        case LongType => raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
        case _ => raw.withColumn("ts", col("ts").cast(TimestampType))
      }
      assertSame(events, expected)
    }
  }

  test("the footer schema follows the session conf at read time") {
    val path = s"${sfDirs.head}/events.parquet"
    val key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    val before = spark.conf.getOption(key)
    try {
      for (ntz <- Seq("false", "true")) {
        spark.conf.set(key, ntz)
        assertSame(Parquet.read(spark, path), spark.read.parquet(path))
      }
    } finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("a key=value tree read with basePath: partition columns last, same types") {
    val base = tmp("pqtree") + "/t"
    (0 until 40).map(i => (i.toLong, s"n$i", i % 3, if (i % 2 == 0) "a" else "b"))
      .toDF("id", "name", "batch_id", "rng")
      .write.partitionBy("batch_id", "rng").parquet(base)
    // a hidden staging directory sorts first and holds another schema
    Seq("x").toDF("zzz").write.parquet(s"$base/.compact_upto=9")
    def spk(paths: String*) = spark.read.option("basePath", base).parquet(paths: _*)
    assertSame(Parquet.readTree(spark, base), spk(base))
    assertSame(Parquet.readTree(spark, base, s"$base/batch_id=1"), spk(s"$base/batch_id=1"))
    assertSame(Parquet.readTree(spark, base, s"$base/batch_id=2", s"$base/batch_id=0"),
      spk(s"$base/batch_id=2", s"$base/batch_id=0"))
    assertSame(Parquet.read(spark, base), spark.read.parquet(base))
    val fields = Parquet.readTree(spark, base).schema.fields
    assert(fields.map(f => f.name -> f.dataType).toSeq === Seq(
      "id" -> LongType, "name" -> StringType, "batch_id" -> IntegerType,
      "rng" -> StringType))
  }

  test("VersionedStore.segments over v0..v2 equals the multi-path spark.read.parquet") {
    val store = tmp("pqsegs")
    VersionedStore.writeSegment(Seq((1L, "a")).toDF("id", "name"), store, 0)
    // a segment with an extra column: the first path's footer decides
    VersionedStore.writeSegment(Seq((2L, "b", 7)).toDF("id", "name", "extra"), store, 1)
    VersionedStore.writeSegment(Seq((3L, "c")).toDF("id", "name"), store, 2)
    val all = (0 to 2).map(v => s"$store/v$v")
    assertSame(VersionedStore.segments(spark, store).get, spark.read.parquet(all: _*))
    assertSame(VersionedStore.segments(spark, store, before = 2).get,
      spark.read.parquet(all.take(2): _*))
    assertSame(VersionedStore.segments(spark, store).get
        .where(col("id") > 1).select(col("name")),
      spark.read.parquet(all: _*).where(col("id") > 1).select(col("name")))
  }

  test("missing path, empty directory and glob: the same result or error") {
    val root = tmp("pqedge")
    val empty = Files.createDirectory(java.nio.file.Paths.get(root, "empty")).toString
    val onlyMarker = Files.createDirectory(java.nio.file.Paths.get(root, "marker")).toString
    Files.createFile(java.nio.file.Paths.get(onlyMarker, "_SUCCESS"))
    Seq((1L, "a")).toDF("id", "name").write.parquet(s"$root/v0")
    Seq((2L, "b")).toDF("id", "name").write.parquet(s"$root/v1")
    val cases = Seq(Seq(s"$root/missing"), Seq(empty), Seq(onlyMarker),
      Seq(s"$root/v*"), Seq(s"$root/v0", s"$root/missing"))
    cases.foreach { paths =>
      val mine = outcome(Parquet.read(spark, paths: _*))
      assert(mine === outcome(spark.read.parquet(paths: _*)), paths)
      assert(mine.isLeft === !paths.contains(s"$root/v*"), paths)
    }
  }

  test("Parquet is the only parquet reader of the src/main library packages") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the project root, not ${root.getAbsolutePath}")
    def scalaFiles(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap { f =>
        if (f.isDirectory) scalaFiles(f)
        else if (f.getName.endsWith(".scala")) Seq(f) else Nil
      }
    // `.read`, any `.option(..)`/`.schema(..)` calls, then `.parquet(`
    val direct = """\.read(\s*\.\w+\([^()]*\))*\s*\.parquet\(""".r
    val hits = scalaFiles(root)
      .filter(f => direct.findFirstIn(
        new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")).isDefined)
      .map(f => root.toPath.relativize(f.toPath).toString)
    // the reader itself, and the corpus generator and store bench mains
    val allowed = Set("graft/sources/Parquet.scala", "graft/ScaleGen.scala",
      "graft/StoreBench.scala")
    assert(hits.filterNot(allowed) === Nil)
  }

  test("building a table, a latest dim or a schema audit submits no Spark job") {
    val dir = sfDirs.head
    val store = tmp("pqdim")
    VersionedStore.writeSegment(Seq((1L, "a")).toDF("id", "name"), store, 0)
    VersionedStore.writeSegment(Seq((2L, "b")).toDF("id", "name"), store, 1)
    val contract = StructType(Seq(StructField("r_regionkey", IntegerType)))
    val jobs = Seq(
      "Tables.load" -> JobCount.of(spark)(Tables.load(spark, dir, "lineitem").schema),
      "readLatestDim" -> JobCount.of(spark) {
        assert(IncrementalPipeline.readLatestDim(spark, store, spark.emptyDataFrame)
          .columns.toSeq === Seq("id", "name"))
      },
      "auditParquet" -> JobCount.of(spark)(
        SchemaAudit.auditParquet(spark, s"$dir/region.parquet", contract)))
    assert(jobs.forall(_._2 == 0), s"jobs: $jobs")
  }

  private val NanosKey = "spark.sql.legacy.parquet.nanosAsLong"

  test("an events load over TIMESTAMP(MICROS) data leaves the session conf unchanged") {
    val before = spark.conf.getOption(NanosKey)
    for (dir <- sfDirs) {
      assert(!Parquet.nanosTimestamp(spark, s"$dir/events.parquet", "ts"), dir)
      Tables.events(spark, dir).collect()
      assert(spark.conf.getOption(NanosKey) === before, dir)
    }
  }

  test("an events load over TIMESTAMP(NANOS) data sets nanosAsLong and converts ts") {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val dir = tmp("pqnanos")
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,true)); }")
    val writer = ExampleParquetWriter
      .builder(new Path(s"$dir/events.parquet/part-00000.parquet"))
      .withType(schema).build()
    val nanos = 1700000000123456789L
    try writer.write(new SimpleGroupFactory(schema).newGroup()
      .append("event_id", 1L).append("ts", nanos))
    finally writer.close()
    val before = spark.conf.getOption(NanosKey)
    try {
      spark.conf.unset(NanosKey)
      assert(Parquet.nanosTimestamp(spark, s"$dir/events.parquet", "ts"))
      val micros = Tables.events(spark, dir).select(unix_micros(col("ts"))).as[Long].head()
      assert(micros === nanos / 1000)
      assert(spark.conf.get(NanosKey) === "true")
    } finally before.fold(spark.conf.unset(NanosKey))(spark.conf.set(NanosKey, _))
  }
}
