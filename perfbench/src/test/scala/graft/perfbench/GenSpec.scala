package graft.perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = Session.create(2)
  private lazy val tmp = Files.createTempDirectory("perfbench-gen")
  override def afterAll(): Unit = Session.stop(spark)

  private def bytesOf(dir: Path): Seq[Seq[Byte]] =
    Files.list(dir).iterator().asScala.filter(_.getFileName.toString.startsWith("part-"))
      .toSeq.sortBy(_.getFileName.toString).map(p => Files.readAllBytes(p).toSeq)

  test("the same seed writes a byte-identical sheet; another seed does not") {
    Seq("a" -> 5L, "b" -> 5L, "c" -> 6L).foreach { case (n, s) =>
      VisSession.writeSheet(spark, s, tmp.resolve(n).toString)
    }
    assert(bytesOf(tmp.resolve("a")) == bytesOf(tmp.resolve("b")))
    assert(bytesOf(tmp.resolve("a")) != bytesOf(tmp.resolve("c")))
  }

  test("sheet has the ie19 shape: string key, nominal region, exp/imp clusters") {
    val df = Gen.sheet(spark, 3, 400, 2)
    assert(df.columns.toSeq == Seq("country", "region", "exp0", "exp1", "imp0", "imp1"))
    assert(df.select("country").distinct().count() == 400)
    assert(df.select("region").distinct().count() <= 20) // nominal: ≤ 5% of rows
  }

  test("the same seed gives a byte-identical corpus and ground truth") {
    def rows(seed: Long) = {
      val c = Gen.corpus(spark, seed, 3000, 0.02, 0.01)
      (c.docs.orderBy("id").collect().toSeq, c.planted.orderBy("dup").collect().toSeq)
    }
    assert(rows(9) == rows(9))
    assert(rows(9) != rows(10))
    Seq("x" -> 9L, "y" -> 9L).foreach { case (n, s) =>
      Gen.corpus(spark, s, 3000, 0.02, 0.01).docs.write.parquet(tmp.resolve(n).toString)
    }
    assert(bytesOf(tmp.resolve("x")) == bytesOf(tmp.resolve("y")))
  }

  test("planted corpus: collision-free base, twins share 26 of 32 tokens, copies are exact") {
    val c = Gen.corpus(spark, 4, 5000, 0.02, 0.01)
    val docs = c.docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val planted = c.planted.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(docs.size == 5000 + planted.length)
    val twins = planted.filter(_._3 == "twin"); val copies = planted.filter(_._3 == "copy")
    assert(twins.length > 60 && twins.length < 140)
    assert(copies.length > 25 && copies.length < 80)
    twins.foreach { case (o, d, _) =>
      val (a, b) = (docs(o).split(" ").toSet, docs(d).split(" ").toSet)
      assert(a.size == 32 && b.size == 32 && (a & b).size == 26)
    }
    copies.foreach { case (o, d, _) => assert(docs(o) == docs(d)) }
    val baseTokens = (0L until 5000L).flatMap(i => docs(i).split(" "))
    assert(baseTokens.distinct.size == baseTokens.size)
  }

  test("generated tables match the fixture column layout") {
    val dir = tmp.resolve("tables").toString
    Gen.writeTables(spark, dir, 0.001, 42)
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    assert(li.count() == 6000)
    assert(li.columns.toSeq == Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
      "l_quantity", "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
      "l_shipdate"))
    assert(li.schema("l_shipdate").dataType.typeName == "timestamp_ntz")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    assert(docs.where(col("n_chars") =!= length(col("text"))).count() == 0)
  }
}
