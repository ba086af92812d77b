package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** [[Retrieval.rrf]] against hand-computed fusion scores. */
class RetrievalSpec extends SparkSpec {
  import graft.SparkSpec.spark.implicits._

  private def c(r: Int): Double = 1.0 / (60.0 + r)

  test("rrf: hand-computed two-list fusion; missing docs get no imputation") {
    // list A ranks 1,2,3 = docs 10,20,30 ; list B ranks 1,2 = docs 20,40
    val a = Seq((10L, 1), (20L, 2), (30L, 3)).toDF("id", "rank")
    val b = Seq((20L, 1), (40L, 2)).toDF("id", "rank")
    val got = Retrieval.rrf(Seq(a, b), topK = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // doc 20 fuses both lists and must lead
    assert(got.head === ((20L, 2L, c(2) + c(1))))
    val by = got.map(t => t._1 -> ((t._2, t._3))).toMap
    assert(by(10L) === ((1L, c(1))))
    assert(by(30L) === ((1L, c(3))))
    assert(by(40L) === ((1L, c(2))))
  }

  test("rrf: a consensus mid-ranked doc beats a single-list winner") {
    // the SIGIR'09 property the formula exists for
    val a = Seq((1L, 1), (2L, 2)).toDF("id", "rank")
    val b = Seq((3L, 1), (2L, 2)).toDF("id", "rank")
    val top = Retrieval.rrf(Seq(a, b), topK = 1).collect().head.getLong(0)
    assert(top === 2L) // 2/(60+2) > 1/61
  }

  test("ranked: dense 1-based ranks, ties broken on id") {
    val got = Retrieval.ranked(
        Seq((5L, 9.0), (3L, 9.0), (1L, 7.0)).toDF("id", "s"),
        col("id"), col("s"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got === Map(3L -> 1, 5L -> 2, 1L -> 3))
  }

  test("rrf: -0.0 and 0.0 are one id") {
    val a = Seq((-0.0d, 1), (1.0d, 2)).toDF("id", "rank")
    val b = Seq((0.0d, 1)).toDF("id", "rank")
    val got = Retrieval.rrf(Seq(a, b), topK = 10)
      .collect().map(r => (r.getDouble(0), r.getLong(1), r.getDouble(2)))
    assert(got.length === 2)
    assert(got.head === ((0.0d, 2L, c(1) + c(1))))
    assert(java.lang.Double.doubleToRawLongBits(got.head._1) === 0L, "the fused id is +0.0")
  }

  test("rrf: lists with different id types are refused") {
    val a = Seq((1L, 1)).toDF("id", "rank")
    val b = Seq((1, 1)).toDF("id", "rank")
    val e = intercept[IllegalArgumentException](Retrieval.rrf(Seq(a, b), topK = 10))
    assert(e.getMessage.contains("one comparable type"))
  }

  test("rrf: topK caps the output after fusion ordering") {
    val a = (1L to 5L).map(i => (i, i.toInt)).toDF("id", "rank")
    val got = Retrieval.rrf(Seq(a), topK = 2).collect().map(_.getLong(0))
    assert(got.toSeq === Seq(1L, 2L))
  }
}
