package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Config-drift guard: GraftSession is the one session factory, so the
  * suites, Verify and Bench run under one config. Fails when the test
  * session drifts from GraftSession's settings, or when a new
  * `SparkSession.builder` appears outside the two allowed sites. */
class SessionConfigSpec extends SparkSpec {

  test("the test session carries GraftSession's config") {
    val conf = spark.conf
    assert(conf.get("spark.sql.shuffle.partitions").toInt ==
      spark.sparkContext.defaultParallelism,
      "shuffle width must follow the context's parallelism")
    assert(spark.sessionState.conf.filesMaxPartitionBytes == (4L << 20))
    assert(conf.get("spark.sql.adaptive.enabled") == "true")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
  }

  test("session builders only in GraftSession and ExtensionsSpec") {
    // ExtensionsSpec keeps its own builder: the build-time
    // withExtensions hook is what it tests. The needle is split so this
    // file does not match itself; comment lines (the GraftExtensions
    // scaladoc names the builder) are not call sites.
    val needle = "SparkSession" + ".builder"
    def builders(root: String): Seq[String] = {
      val dir = Paths.get(root)
      assert(Files.isDirectory(dir), s"sweep root $root missing")
      val s = Files.walk(dir)
      try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
        .filter(p => Files.readAllLines(p).asScala.exists { l =>
          val t = l.trim
          !t.startsWith("*") && !t.startsWith("/*") && !t.startsWith("//") &&
            t.contains(needle)
        })
        .map(p => dir.relativize(p).toString).sorted
      finally s.close()
    }
    assert(builders("src/main/scala") == Seq("graft/GraftSession.scala"),
      "build sessions through GraftSession")
    assert(builders("src/test/scala") == Seq("graft/ExtensionsSpec.scala"),
      "suites share TestSpark (GraftSession)")
  }
}
