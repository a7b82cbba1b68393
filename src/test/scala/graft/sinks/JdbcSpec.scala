package graft.sinks

import java.nio.file.Files
import java.sql.DriverManager

import graft.SparkSpec
import org.apache.spark.sql.SaveMode

/** Round-trips the JDBC presentation layer against embedded Derby
  * (on Spark's classpath) — dim bulk-load, MERGE-shaped SCD apply,
  * partitioned + incremental reads. */
class JdbcSpec extends SparkSpec {
  import spark.implicits._

  // keep derby.log out of the repo root
  System.setProperty("derby.system.home",
    Files.createTempDirectory("derbyhome").toString)

  private def freshDb(): String =
    s"jdbc:derby:${Files.createTempDirectory("derbydb")}/db;create=true"

  /** Derby uppercases unquoted identifiers; fold back for assertions. */
  private def lower(df: org.apache.spark.sql.DataFrame) =
    df.toDF(df.columns.map(_.toLowerCase): _*)

  private def dimRows = Seq(
    (1L, "Store A", d("2024-01-01"), null.asInstanceOf[java.sql.Date], true),
    (2L, "Store B", d("2024-01-02"), null.asInstanceOf[java.sql.Date], true))
    .toDF("nk", "name", "start_date", "end_date", "is_current")

  test("writeTable round-trips a dim snapshot") {
    val url = freshDb()
    Jdbc.writeTable(dimRows, url, "DIM_STORE", SaveMode.Overwrite,
      maxConnections = 2)
    val back = lower(spark.read.jdbc(url, "DIM_STORE", new java.util.Properties))
    assert(back.count() === 2)
    assert(back.columns.map(_.toLowerCase).sorted ===
      Array("end_date", "is_current", "name", "nk", "start_date"))
    val names = back.orderBy("nk").collect().map(_.getAs[String]("name"))
    assert(names.toSeq === Seq("Store A", "Store B"))
  }

  test("applyScdUpsert merges update/insert batches like MERGE") {
    val url = freshDb()
    val conn = DriverManager.getConnection(url)
    try {
      conn.createStatement().execute(
        """CREATE TABLE DIM_SCD (
          |  nk BIGINT, name VARCHAR(64), start_date DATE, end_date DATE,
          |  is_current BOOLEAN)""".stripMargin)
      val seed = conn.prepareStatement(
        "INSERT INTO DIM_SCD VALUES (?, ?, ?, NULL, TRUE)")
      for ((nk, nm, sd) <- Seq((1L, "A", "2024-01-01"), (2L, "X", "2024-01-02"))) {
        seed.setLong(1, nk); seed.setString(2, nm)
        seed.setDate(3, d(sd)); seed.addBatch()
      }
      seed.executeBatch()
    } finally conn.close()

    // SCD change for nk=1: close period A, open period B
    val updates = Seq(
      (1L, "A", d("2024-01-01"), d("2024-01-05"), false))
      .toDF("nk", "name", "start_date", "end_date", "is_current")
    val inserts = Seq(
      (1L, "B", d("2024-01-05"), null.asInstanceOf[java.sql.Date], true))
      .toDF("nk", "name", "start_date", "end_date", "is_current")
    Jdbc.applyScdUpsert(updates, inserts, url, "DIM_SCD",
      keyCols = Seq("nk", "start_date"), maxConnections = 2)

    val back = lower(spark.read.jdbc(url, "DIM_SCD", new java.util.Properties))
    assert(back.count() === 3)
    val k1 = back.where($"nk" === 1).orderBy("start_date").collect()
      .map(r => (r.getAs[String]("name"),
        Option(r.getAs[java.sql.Date]("end_date")).map(_.toString),
        r.getAs[Boolean]("is_current")))
    assert(k1.toSeq === Seq(
      ("A", Some("2024-01-05"), false),
      ("B", None, true)))
    // untouched key unchanged
    val k2 = back.where($"nk" === 2).collect()
    assert(k2.length === 1 && k2.head.getAs[Boolean]("is_current"))
  }

  test("scdUpsert applied through applyScdUpsert closes a NULL-attribute period once") {
    val url = freshDb()
    val conn = DriverManager.getConnection(url)
    try {
      conn.createStatement().execute(
        """CREATE TABLE DIM_NULL (
          |  nk BIGINT, name VARCHAR(64), start_date DATE, end_date DATE,
          |  is_current BOOLEAN)""".stripMargin)
      conn.createStatement().execute(
        "INSERT INTO DIM_NULL VALUES (1, NULL, DATE('2024-01-01'), NULL, TRUE)")
    } finally conn.close()

    def table() = lower(spark.read.jdbc(url, "DIM_NULL", new java.util.Properties))
    def apply(batch: Seq[(Long, String, java.sql.Date)]): Unit = {
      val (upd, ins) = graft.etl.Scd.scdUpsert(table(),
        batch.toDF("nk", "name", "d"), "nk", Seq("name"), "d")
      Jdbc.applyScdUpsert(upd, ins, url, "DIM_NULL",
        keyCols = Seq("nk", "start_date"), maxConnections = 2)
    }
    def rows() = table().orderBy("start_date").collect()
      .map(r => (Option(r.getAs[String]("name")),
        Option(r.getAs[java.sql.Date]("end_date")).map(_.toString),
        r.getAs[Boolean]("is_current"))).toSeq

    apply(Seq((1L, "B", d("2024-01-05"))))
    val closed = Seq(
      (None, Some("2024-01-05"), false),
      (Some("B"), None, true))
    assert(rows() === closed)
    // an empty batch changes nothing, however often it is applied
    apply(Nil)
    apply(Nil)
    assert(rows() === closed)
  }

  test("readNewerThan pushes the watermark predicate; readPartitioned strides") {
    val url = freshDb()
    Jdbc.writeTable(dimRows, url, "DIM_INC", SaveMode.Overwrite)
    val raw = Jdbc.readNewerThan(spark, url, "DIM_INC", "start_date",
      d("2024-01-01"))
    val delta = lower(raw)
    assert(delta.collect().map(_.getAs[Long]("nk")).toSeq === Seq(2L))
    // the watermark comparison must be part of the SQL the DATABASE
    // executes (the JDBCRelation's pushed-down subquery), not a
    // Spark-side Filter over a full-table read: the relation text
    // carries the WHERE, and the physical plan is a bare row-level scan
    val rel = raw.queryExecution.analyzed.toString
    assert(rel.contains("""WHERE "start_date" > '2024-01-01'"""),
      s"watermark predicate missing from the pushed subquery:\n$rel")
    val phys = raw.queryExecution.executedPlan.toString
    // a Spark-side filter node prints as "Filter (..." — distinct from
    // the scan's always-present "PushedFilters: [...]" annotation
    assert(!phys.contains("Filter ("),
      s"watermark filtering happened Spark-side, not in the database:\n$phys")

    val part = Jdbc.readPartitioned(spark, url, "DIM_INC", "nk",
      lower = 0L, upper = 30L, numPartitions = 3)
    assert(part.rdd.getNumPartitions === 3)
    assert(part.count() === 2)
  }

  test("SQL-interpolating helpers reject unsafe identifiers") {
    // these interpolate names into SQL text — a tainted name must fail
    // fast on the driver, never reach the database
    intercept[IllegalArgumentException] {
      Jdbc.readNewerThan(spark, "jdbc:derby:unused", "t; DROP TABLE x",
        "start_date", d("2024-01-01"))
    }
    intercept[IllegalArgumentException] {
      Jdbc.readNewerThan(spark, "jdbc:derby:unused", "DIM_INC",
        """d" OR '1'='1""", d("2024-01-01"))
    }
    val evil = dimRows.withColumnRenamed("name", "na me")
    intercept[IllegalArgumentException] {
      Jdbc.applyScdUpsert(evil, evil, "jdbc:derby:unused", "DIM_X", Seq("nk"))
    }
    intercept[IllegalArgumentException] {
      Jdbc.applyScdUpsert(dimRows, dimRows, "jdbc:derby:unused",
        "schema.DIM OK", Seq("nk"))
    }
    // schema-qualified tables stay in contract
    val url = freshDb()
    Jdbc.writeTable(dimRows, url, "APP.DIM_Q", SaveMode.Overwrite)
    assert(Jdbc.readNewerThan(spark, url, "APP.DIM_Q", "start_date",
      d("2024-01-01")).count() === 1)
  }
}
