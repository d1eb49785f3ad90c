package graft.perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class ReportSpec extends AnyFunSuite {
  private val name = "[A-Za-z0-9_.-]+".r

  test("p85 of 69 samples has at least ten samples beyond it; p90 does not") {
    assert(Stats.beyond(69, 0.85) == 10)
    assert(Stats.beyond(69, 0.9) < 10)
    assert(Seq(0.9, 0.95, 0.99).forall(p => Stats.beyond(69, p) < 10))
    val xs = (1 to 69).map(_.toDouble).reverse
    assert(Stats.tail(xs, 0.85) == 59.0)
    assert(xs.count(_ > Stats.tail(xs, 0.85)) == 10)
    assertThrows[IllegalArgumentException](Stats.tail(xs.take(60), 0.85))
    assert(Stats.quantile(Seq(3.0, 1.0, 2.0, 4.0), 0.5) == 2.5)
  }

  test("every metric name matches [A-Za-z0-9_.-]+ and BENCHMARK.json lists the reported ones") {
    val fixed = Main.EndToEnd.map(_._1) ++ Main.PerLayer.map(_._1) ++
      Layers.generic(TraceData(Vector.empty, Vector.empty, Vector.empty, Vector.empty),
        new Ops(new Tracer)).map(_._1) ++
      Headline.module.values.toSeq.distinct.flatMap(m => Seq(s"operators.$m.s", s"operators.$m.jobs"))
    fixed.foreach(n => assert(name.pattern.matcher(n).matches(), n))
    val bench = Expected.json.readTree(new java.io.File("../BENCHMARK.json"))
    def names(k: String) = bench.path(k).elements().asScala.map(_.path("name").asText()).toSeq
    assert(names("end_to_end").toSet == Main.EndToEnd.map(_._1).toSet)
    assert(names("per_layer").toSet == Main.PerLayer.map(_._1).toSet)
    assert(names("workloads").forall(n => Workload.byName(n).isDefined))
  }

  test("every headline query is attributed to a module") {
    assert(Headline.queries.size == 69)
    assert(Headline.queries.forall(Headline.module.contains))
  }

  test("fingerprints ignore row and column order and sub-10-digit float noise, not values") {
    val schema = StructType(Seq(StructField("k", LongType), StructField("v", DoubleType),
      StructField("s", StringType)))
    def row(k: Long, v: Double, s: String): Row = new GenericRowWithSchema(Array(k, v, s), schema)
    val a = Seq(row(1L, 0.1 + 0.2, "x"), row(2L, 3.0, null))
    assert(Fingerprint.ofRows(a) == Fingerprint.ofRows(Seq(row(2L, 3.0, null), row(1L, 0.3, "x"))))
    val swapped = StructType(schema.fields.reverse)
    assert(Fingerprint.ofRows(a) == Fingerprint.ofRows(Seq(
      new GenericRowWithSchema(Array("x", 0.3, 1L), swapped),
      new GenericRowWithSchema(Array(null, 3.0, 2L), swapped))))
    assert(Fingerprint.ofRows(a) != Fingerprint.ofRows(Seq(row(1L, 0.31, "x"), row(2L, 3.0, null))))
    assert(Fingerprint.ofRows(a) != Fingerprint.ofRows(a.take(1)))
  }
}
