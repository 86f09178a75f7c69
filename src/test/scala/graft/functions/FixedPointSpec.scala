package graft.functions

import graft.SparkSpec
import graft.functions.FixedPoint.{Duck, Spark}
import org.apache.spark.sql.functions.expr
import scala.jdk.CollectionConverters._

class FixedPointSpec extends SparkSpec {

  test("literal renders only exact integers, typed per engine") {
    val v = new java.math.BigDecimal("-12345678901234567890123456789012345678")
    assert(Spark.literal(v) === s"CAST($v AS DECIMAL(38,0))")
    assert(Duck.literal(v) === s"CAST($v AS HUGEINT)")
    assert(Spark.literal(null) === "CAST(NULL AS DECIMAL(38,0))")
    val got = spark.range(1).select(expr(Spark.literal(v))).head.get(0)
    assert(got === v)
    intercept[IllegalArgumentException](
      Spark.literal(new java.math.BigDecimal("12.50")))
    intercept[IllegalArgumentException](Spark.literal(12.5))
    intercept[IllegalArgumentException](Duck.literal(12.0))
  }

  test("operator files keep no local fixed-point helper copies") {
    // every division, double cast and log2e6 in a query renders through
    // FixedPoint; a hand-copied helper is how sign conventions drifted
    val copy = raw"def (fdiv|sdiv|l2)\(|def d\((x|c): ".r
    val dir = java.nio.file.Paths.get("src/main/scala/graft/operators")
    val files = java.nio.file.Files.list(dir).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.toString.endsWith(".scala"))
    assert(files.nonEmpty, s"no sources under $dir")
    val hits = files.toSeq.flatMap { f =>
      java.nio.file.Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (l, i) if copy.findFirstIn(l).isDefined =>
          s"${f.getFileName}:${i + 1}: ${l.trim}"
      }
    }
    assert(hits.isEmpty, hits.mkString("local helper copies:\n", "\n", ""))
  }
}
