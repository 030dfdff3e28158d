package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{ExtensionQueries, ParityQueries}

/** Contract invariants of the SparkEntry registry — a duplicate query name
  * would silently drop an entry when the Seq becomes a Map. */
class RegistrySpec extends AnyFunSuite {

  val registry = ParityQueries.all ++ ExtensionQueries.all

  test("no duplicate query names; Map preserves every entry") {
    val names = registry.map(_.name)
    assert(names.distinct.size == names.size,
      s"dup names: ${names.diff(names.distinct)}")
    assert(SparkEntry.queries.size == registry.size)
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
    assert(SparkEntry.oracleSql.size ==
      registry.count(_.oracle.isDefined))
  }

  test("query names follow the qNN_ convention and oracles are non-blank") {
    assert(registry.forall(_.name.matches("q\\d{2,3}_[a-z0-9_]+")))
    assert(registry.flatMap(_.oracle).forall(_.trim.nonEmpty))
  }

  test("entry() returns rows on sf0.001 (driver smoke contract)") {
    assert(SparkEntry.entry(TestSpark.spark).count() > 0)
  }

  test("every entry point builds its session through GraftSession") {
    import scala.jdk.CollectionConverters._
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
    val builders = try walk.iterator.asScala
      .filter(p => p.toString.endsWith(".scala") &&
        java.nio.file.Files.readString(p).contains("SparkSession.builder("))
      .map(_.getFileName.toString).toSeq.sorted
    finally walk.close()
    assert(builders == Seq("GraftSession.scala"),
      s"SparkSession.builder( outside GraftSession: $builders")
  }

  test("DESCRIBE FUNCTION reports each kernel's real implementing class") {
    val spark = TestSpark.spark
    GraftSession.registerFunctions(spark)
    for ((name, cls, _) <- GraftSession.functions) {
      val desc = spark.sql(s"DESCRIBE FUNCTION `$name`")
        .collect().map(_.getString(0)).mkString("\n")
      assert(desc.contains(cls.getName), s"$name described as:\n$desc")
    }
  }
}
