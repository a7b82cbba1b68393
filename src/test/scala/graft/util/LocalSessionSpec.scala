package graft.util

import org.scalatest.funsuite.AnyFunSuite

class LocalSessionSpec extends AnyFunSuite {

  test("conf pins the suite-of-record session settings") {
    assert(LocalSession.conf(6).toMap === Map(
      "spark.sql.shuffle.partitions" -> "6",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "64k",
      "spark.sql.codegen.cache.maxEntries" -> "4096",
      "spark.ui.enabled" -> "false"))
  }

  test("LocalSession is the only SparkSession builder in src/main") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the project root, not ${root.getAbsolutePath}")
    def scalaFiles(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap { f =>
        if (f.isDirectory) scalaFiles(f)
        else if (f.getName.endsWith(".scala")) Seq(f) else Nil
      }
    val hits = scalaFiles(root)
      .filter(f => new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        .contains("SparkSession.builder"))
      .map(f => root.toPath.relativize(f.toPath).toString)
    assert(hits === Seq("graft/util/LocalSession.scala"))
  }
}
