package graft.llm

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

/** Rank-level retrieval composition — the pieces that sit ABOVE the
  * scorers ([[TfIdf.bm25]], [[TfIdf.dirichletQl]], [[Similarity]]'s
  * ANN family) in a hybrid search stack.
  *
  * Scale design: everything here operates on top-N candidate LISTS
  * (bounded frames), never on the corpus — the corpus-sized work
  * stays inside the scorers, which were each engineered for one
  * corpus pass. Fusion over k lists of N rows touches k·N rows.
  */
object Retrieval {

  /** Attach a dense 1-based rank to a score frame: (id, rank),
    * ordered by `score` descending with ties broken on `id` — the
    * deterministic rank both fusion and its oracle agree on. The
    * single-partition window is intentional: rank inputs are bounded
    * top-N lists by contract (see object scaladoc), not corpora.
    */
  def ranked(list: DataFrame, id: Column, score: Column): DataFrame =
    list.select(id.as("id"), score.as("s"))
      .withColumn("rank",
        row_number().over(Window.orderBy(col("s").desc, col("id").asc)))
      .select(col("id"), col("rank"))

  /** Reciprocal rank fusion (Cormack, Clarke & Buettcher SIGIR'09):
    * score(d) = Σ_lists 1/(k + rank_i(d)), the parameter-light fusion
    * that consistently beats learned weights on TREC runs and is the
    * standard BM25⊕dense hybrid in public search engines (k = 60 in
    * the paper and every mainstream default). A document missing from
    * a list contributes nothing for it — no rank imputation.
    *
    * Ranks are exact integers, so each contribution 1/(k+r) is the
    * same IEEE double in any engine; with two lists the fused sum is
    * order-independent (two-operand FP addition is commutative); ties
    * break on id.
    *
    * Input frames are (id, rank) as produced by [[ranked]]. Returns
    * (id, n_lists, rrf) sorted by (rrf desc, id), top `topK`.
    *
    * The lists are bounded top-N frames by the object contract, i.e.
    * MODEL-sized — so they are collected CONCURRENTLY at call time
    * (one Spark job each, overlapping the lists' independent upstream
    * kernels; the [[graft.llm.IncrementalDedup]] scheduler pattern)
    * and fused as driver arithmetic, replacing the union + aggregate
    * + global-sort stage waves the frame form paid over k·N rows.
    * The fold replicates the former column semantics term-exactly:
    * contrib = 1/(k + rank) over double-cast ranks summed in list
    * order (two-operand FP addition is commutative, and SQL sum
    * skips NULL contribs while count(1) does not), descending-double
    * ordering with NULLS LAST and ties on id ascending.
    */
  def rrf(lists: Seq[DataFrame], topK: Int, k: Int = 60): DataFrame = {
    require(lists.nonEmpty, "rrf: need at least one ranked list")
    val spark = lists.head.sparkSession
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    val collected = lists.map { l =>
      Future(l.select(col("id"), col("rank").cast("double").as("r"))
        .collect())(rrfEc)
    }.map(Await.result(_, Duration.Inf))
    val idType = lists.head.schema("id").dataType
    // ids key the fold and break ties, so every list must carry one
    // comparable runtime type: a Long 1 and an Int 1 would otherwise
    // fuse as two documents, or fail mid-sort
    val idClasses = collected.iterator.flatMap(_.iterator.map(_.get(0)))
      .filter(_ != null).map(_.getClass).toSet
    require(idClasses.size <= 1 && idClasses.forall(classOf[Comparable[_]].isAssignableFrom),
      s"rrf: ids must share one comparable type, got ${idClasses.map(_.getName).mkString(", ")}")
    // fuse: per id, contribution count and NULL-skipping sum in list
    // order (insertion-ordered map keeps the fold deterministic)
    val acc = scala.collection.mutable.LinkedHashMap
      .empty[Any, (Long, Option[Double])]
    collected.foreach(_.foreach { row =>
      // -0.0 and 0.0 are one id, as Spark groups them
      val id = row.get(0) match {
        case d: Double if d == 0.0d => 0.0d
        case f: Float if f == 0.0f => 0.0f
        case x => x
      }
      val contrib: Option[Double] =
        if (row.isNullAt(1)) None
        else Some(1.0d / (k.toDouble + row.getDouble(1)))
      val (n, s) = acc.getOrElse(id, (0L, None: Option[Double]))
      val fused = (s, contrib) match {
        case (Some(a), Some(b)) => Some(a + b)
        case (a, b) => a.orElse(b)
      }
      acc.put(id, (n + 1L, fused))
    })
    // (rrf desc NULLS LAST, id asc NULLS FIRST) — the former orderBy
    def cmpId(a: Any, b: Any): Int = (a, b) match {
      case (null, null) => 0
      case (null, _) => -1
      case (_, null) => 1
      // one runtime type, required above
      case (x: Comparable[_], y) =>
        x.asInstanceOf[Comparable[Any]].compareTo(y)
    }
    val sorted = acc.toSeq.sortWith { case ((ia, (_, sa)), (ib, (_, sb))) =>
      val c = (sa, sb) match {
        case (Some(x), Some(y)) =>
          // +0.0 normalizes -0.0 (Spark's double ordering equates them)
          -java.lang.Double.compare(x + 0.0d, y + 0.0d)
        case (Some(_), None) => -1
        case (None, Some(_)) => 1
        case (None, None) => 0
      }
      if (c != 0) c < 0 else cmpId(ia, ib) < 0
    }.take(topK)
    val schema = StructType(Seq(
      StructField("id", idType, nullable = true),
      StructField("n_lists", LongType, nullable = false),
      StructField("rrf", DoubleType, nullable = true)))
    val data = new java.util.ArrayList[Row](sorted.length)
    sorted.foreach { case (id, (n, s)) =>
      data.add(Row(id, n, s.map(Double.box).orNull))
    }
    spark.createDataFrame(data, schema)
  }

  /** Daemon pool for the concurrent list collects in [[rrf]] — the
    * [[IncrementalDedup]] fold-pool shape.
    */
  private lazy val rrfEc: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newCachedThreadPool(r => {
        val t = new Thread(r, "graft-rrf-collect"); t.setDaemon(true); t
      }))
}
