package graft.llm

import org.apache.spark.sql.{Column, DataFrame, GraftBridge, Row}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StructField, StructType}

/** Multinomial Naive Bayes document classifier — the "train a cheap
  * linear classifier on a labeled slice, score the whole corpus" step
  * of an LLM data pipeline (GPT-3/CCNet-style quality classifiers,
  * fastText-style language ID; Joachims-style multinomial NB as
  * described in McCallum & Nigam, AAAI-98 workshop).
  *
  * Determinism design (same scheme as [[NgramLm]]): the model is
  * exact integer counts; per-token class log-likelihoods
  * ln((c+1)/(tot+V)) are quantized to integer micro-nats
  * (floor(ln·10⁶)) BEFORE the per-document sum, so document scores
  * are integer sums — immune to float summation order across
  * partitions and verifiable across engines. Argmax tie-break is the
  * lexicographically smallest label.
  *
  * Scale shape: training is ONE pass over the labeled slice (token
  * explode → (label, token) counted groupBy); class totals, priors
  * and vocabulary size all derive from the model frame / the labeled
  * slice's label column — never a second corpus scan. Scoring joins
  * the corpus's (doc, token) profile against the model on the token
  * key — the model is |vocab|·|classes| bounded whatever the corpus
  * size, so AQE broadcasts it when it fits and the corpus never
  * shuffles beyond its own doc-keyed aggregation. Class count is
  * assumed small (languages, quality buckets): the per-class score
  * expansion is a |classes|-way multiply of the doc-token frame, and
  * the per-class stats (tot, prior) plus the vocabulary size are
  * CLASS-COUNT-bounded — collected at fit time (the PqIndex/Bpe
  * model-frame discipline) so scoring attaches them as literals
  * instead of paying broadcast-join stage waves per consumer.
  */
object NbClassifier {

  /** Trained model. `tokenCounts` stays a frame (|vocab|·|classes| —
    * vocabulary-sized, never collected); the class-count-bounded
    * stats are eagerly collected driver values, with `classStats` /
    * `vocabSize` exposed as the same local frames the lazy form
    * produced:
    *  - `tokenCounts`: (label, w, c) exact token counts;
    *  - `classStats`: (label, tot, n_docs, q_prior) — per-class token
    *    totals, doc counts, and quantized prior ln(n_docs/n_total);
    *  - `vocabSize`: 1-row (v) distinct training vocabulary.
    */
  final case class Model(tokenCounts: DataFrame, classStats: DataFrame,
      vocabSize: DataFrame,
      private[llm] val labelType: DataType,
      private[llm] val classRows: Seq[(Any, Long, Long)], // (label, tot, q_prior)
      private[llm] val v: Long)

  /** One-pass fit over a labeled slice: `docs` rows carry `label` and
    * a tokenized `words` array (empty-token docs still count toward
    * priors — a labeled empty document is evidence for its class).
    *
    * Literally one pass: a null marker token is appended to EVERY
    * doc's array before the explode, so the single (label, token)
    * aggregation yields both the token counts (non-null rows) and the
    * per-class doc counts (the null row's count) — no second corpus
    * scan for priors, no third for the total. Everything downstream
    * (class totals, vocabulary size, priors) aggregates the
    * |vocab|·|classes|-bounded model frame, never the corpus — as ONE
    * collected job over it: the per-label groups carry the token
    * totals and doc counts, a grand-total row carries the global doc
    * count (for priors) and the distinct vocabulary size, so the
    * former class-stats aggregation + global window + separate
    * vocabulary job collapse into a single model-frame job at fit
    * time.
    */
  def fit(docs: DataFrame, label: Column, words: Column): Model = {
    val counts = docs
      .select(label.as("label"),
        explode(concat(coalesce(words, array().cast("array<string>")),
          array(lit(null).cast("string")))).as("w"))
      .groupBy(col("label"), col("w"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(false)
    val tokenCounts = counts.filter(col("w").isNotNull)
    val labelType = counts.schema("label").dataType
    val spark = counts.sparkSession
    // (label, tot, n_docs, vd, g): per-label rows (g = 0) plus the grand
    // total (g = 1), the only one whose distinct vocabulary `vd` is read
    val stats = Seq(
      sum(when(col("w").isNotNull, col("c")).otherwise(0L)).as("tot"),
      sum(when(col("w").isNull, col("c")).otherwise(0L)).as("n_docs"))
    val agg = counts.groupBy(col("label"))
      .agg(stats.head, stats(1), lit(null).cast("long").as("vd"), lit(0.toByte).as("g"))
      .unionByName(counts
        .agg(stats.head, stats(1), count_distinct(col("w")).as("vd"), lit(1.toByte).as("g"))
        .withColumn("label", lit(null).cast(labelType)))
      .collect()
    val total = agg.filter(_.getByte(4) == 1.toByte)
    val (nTotal, vocab) = total.headOption
      .map(r => (if (r.isNullAt(2)) 0L else r.getLong(2),
        if (r.isNullAt(3)) 0L else r.getLong(3)))
      .getOrElse((0L, 0L))
    // q_prior replicates the former column expression exactly:
    // floor(ln(n_docs / n_total) * 1e6) over double-cast longs, with
    // StrictMath.log (Spark's Log implementation)
    val classRows: Seq[(Any, Long, Long)] = agg.toSeq
      .filter(_.getByte(4) == 0.toByte)
      .map { r =>
        val nd = r.getLong(2)
        val qp = math.floor(
          StrictMath.log(nd.toDouble / nTotal.toDouble) * 1000000d).toLong
        (r.get(0), r.getLong(1), qp) // n_docs only feeds the exposed frame
      }
    // the exposed stats frames, rebuilt as local relations — same
    // schema and rows as the former lazy aggregations, zero jobs
    val csSchema = StructType(Seq(
      StructField("label", labelType, nullable = true),
      StructField("tot", LongType, nullable = true),
      StructField("n_docs", LongType, nullable = true),
      StructField("q_prior", LongType, nullable = true)))
    val csData = new java.util.ArrayList[Row]()
    agg.filter(_.getByte(4) == 0.toByte).foreach { r =>
      val qp = math.floor(
        StrictMath.log(r.getLong(2).toDouble / nTotal.toDouble) * 1000000d).toLong
      csData.add(Row(r.get(0), r.getLong(1), r.getLong(2), qp))
    }
    val classStats = spark.createDataFrame(csData, csSchema)
    val vsData = new java.util.ArrayList[Row]()
    vsData.add(Row(vocab))
    val vocabSize = spark.createDataFrame(vsData,
      StructType(Seq(StructField("v", LongType, nullable = false))))
    Model(tokenCounts, classStats, vocabSize, labelType, classRows, vocab)
  }

  /** Score + argmax: (id, <carry...>, pred_label, q_score) with
    * q_score the winner's integer micro-nat total (prior + Σ token
    * likelihoods).
    *
    * The model join is LEFT with zero-coalesced counts: a token the
    * training slice never saw scores (0+1)/(tot+V) under every class
    * — dropping it (inner join) would silently favor classes that
    * happen to share rare tokens with the doc. Documents with zero
    * tokens score prior-only (classified to the majority class), not
    * dropped: a null marker token appended to every doc keeps one
    * row per doc alive, contributing 0 to the likelihood sum.
    *
    * `carry` rides id-functionally-dependent columns (the true label,
    * a source tag) through the aggregations as extra group keys, so a
    * caller needing them alongside the prediction does NOT re-scan
    * and re-join the corpus — at 100 TB that second scan is the cost
    * that matters.
    */
  def predict(model: Model, docs: DataFrame, id: Column, words: Column,
      carry: Seq[(String, Column)] = Nil): DataFrame = {
    val carryKeys = carry.map { case (n, _) => col(n) }
    // (id, carry..., w) per token OCCURRENCE, plus one null marker
    // row per doc so empty docs survive to the prior-only score.
    // Deliberately NOT pre-aggregated to a (doc, token, multiplicity)
    // profile: the model lookup is a broadcast join either way (the
    // model is |vocab|·|classes|-bounded whatever the corpus size),
    // so scoring per occurrence feeds the per-(doc, class) partial
    // aggregation map-side and saves the profile's own corpus-sized
    // shuffle — one fewer Exchange, Σ_occurrences q ≡ Σ_distinct m·q
    // exactly (integer micro-nats both ways).
    val toks = docs
      .select((id.as("id") +: carry.map { case (n, c) => c.as(n) }) :+
        explode(concat(coalesce(words, array().cast("array<string>")),
          array(lit(null).cast("string")))).as("w"): _*)
    // |classes|-way expansion as an inline Generate over a LITERAL
    // class array (the stats are class-count-bounded and already on
    // the driver) — the former crossJoin(broadcast(classStats)) +
    // crossJoin(broadcast(vocabSize)) stage waves fold into the
    // token scan itself. tokenCounts is vocab-bounded — plain join,
    // AQE picks broadcast when it fits.
    def labelLit(v: Any): Column =
      GraftBridge.column(Literal.create(v, model.labelType))
    val classArr = array(model.classRows.map { case (l, tot, qp) =>
      struct(labelLit(l).as("label"), lit(tot).as("tot"), lit(qp).as("q_prior"))
    }: _*)
    val q = floor(
      log((coalesce(col("c"), lit(0L)) + 1L).cast("double")
          / (col("tot") + lit(model.v)).cast("double")) * 1000000d)
      .cast("long")
    val expanded =
      if (model.classRows.isEmpty) toks.filter(lit(false))
        .select((toks.columns.map(col) :+ labelLit(null).as("label") :+
          lit(null).cast("long").as("tot") :+
          lit(null).cast("long").as("q_prior")): _*)
      else toks.select((toks.columns.map(col) :+
        explode(classArr).as("cl")): _*)
        .select((toks.columns.map(col) :+ col("cl.label") :+
          col("cl.tot") :+ col("cl.q_prior")): _*)
    expanded
      .join(model.tokenCounts, Seq("label", "w"), "left")
      .groupBy(col("id") +: carryKeys :+ col("label"): _*)
      .agg((first(col("q_prior")) +
        sum(when(col("w").isNotNull, q).otherwise(lit(0L)))).as("q_sum"))
      // argmax by (q desc, label asc): min over struct(-q, label)
      // orders lexicographically — no window, one aggregation.
      .groupBy(col("id") +: carryKeys: _*)
      .agg(min(struct((-col("q_sum")).as("nq"), col("label").as("pred"),
        col("q_sum").as("q"))).as("best"))
      .select((col("id") +: carryKeys) ++ Seq(
        col("best.pred").as("pred_label"), col("best.q").as("q_score")): _*)
  }
}
