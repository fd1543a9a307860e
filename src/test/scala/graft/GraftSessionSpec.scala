package graft

import org.apache.spark.SparkConf
import org.scalatest.funsuite.AnyFunSuite

class GraftSessionSpec extends AnyFunSuite {

  test("no main builds its own session: SparkSession.builder() is called only in GraftSession") {
    val root = java.nio.file.Paths.get("src/main/scala")
    val files = java.nio.file.Files.walk(root).toArray.toSeq
      .map(_.asInstanceOf[java.nio.file.Path]).filter(_.toString.endsWith(".scala"))
    val callers = files.filter { f =>
      scala.io.Source.fromFile(f.toFile, "UTF-8").getLines().exists { l =>
        val t = l.trim
        // scaladoc and line comments may mention the builder
        !t.startsWith("*") && !t.startsWith("//") && !t.startsWith("/*") &&
          t.contains("SparkSession.builder()")
      }
    }.map(root.relativize(_).toString).toSet
    assert(callers == Set("graft/GraftSession.scala"))
  }

  test("a -Dspark.* conf wins over a default and over a tool's override") {
    val held = new SparkConf(false).set("spark.sql.shuffle.partitions", "256")
    val got = GraftSession.settings(held,
      Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.files.maxPartitionBytes" -> "128m")).toMap
    assert(!got.contains("spark.sql.shuffle.partitions"))
    assert(got("spark.sql.autoBroadcastJoinThreshold") == "-1")
    assert(got("spark.sql.files.maxPartitionBytes") == "128m")
    assert(got("spark.sql.session.timeZone") == "UTC")
    val bare = GraftSession.settings(new SparkConf(false), Nil).toMap
    assert(bare("spark.master") == s"local[${GraftSession.cpus}]")
    assert(bare("spark.sql.shuffle.partitions") == GraftSession.cpus)
    val overridden = new SparkConf(false).set("spark.sql.autoBroadcastJoinThreshold", "10m")
    assert(!GraftSession.settings(overridden,
      Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1")).toMap
      .contains("spark.sql.autoBroadcastJoinThreshold"))
  }
}
