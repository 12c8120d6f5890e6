package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** One session factory: every session is built by [[GraftSession]] and
  * carries its shared confs, so tests plan as the bench times. */
class GraftSessionSpec extends SparkSpec {
  private val dir = new java.io.File(sf("documents")).getParent

  test("GraftSession is the only SparkSession builder in src/main and src/test") {
    val builder = """SparkSession\s*\.\s*builder""".r
    val sources = Seq("src/main", "src/test").flatMap { root =>
      val walk = Files.walk(Paths.get(root))
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    def calls(p: Path): Boolean =
      builder.findFirstIn(new String(Files.readAllBytes(p), "UTF-8")).isDefined
    assert(sources.filter(calls).map(_.toString) ==
      Seq("src/main/scala/graft/GraftSession.scala"))
  }

  test("the test session carries every shared conf") {
    GraftSession.shared.foreach { case (k, v) =>
      assert(spark.conf.get(k) == v, s"$k")
    }
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
  }

  test("Explain.plan formats a known query's plan") {
    val text = Explain.plan(spark, dir, "q1_pricing_summary")
    assert(text.trim.nonEmpty)
    assert(text.contains("Scan"), text)
  }

  test("Explain.plan throws on an unknown query") {
    intercept[NoSuchElementException] {
      Explain.plan(spark, dir, "q0_no_such_query")
    }
  }
}
