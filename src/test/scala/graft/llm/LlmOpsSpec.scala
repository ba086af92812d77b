package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._

class LlmOpsSpec extends SparkSpec {
  import graft.SparkSpec.spark.implicits._

  val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy cat"), // near dup
    (4L, "completely different content about spark engines"),
  ).toDF("doc_id", "text")

  test("exactDupMapping maps duplicate to canonical id") {
    val m = Dedup.exactDupMapping(docs, col("doc_id"), TextOps.fingerprint(col("text")))
      .collect()
    assert(m.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((2L, 1L)))
  }

  test("minHashNearDups finds exact and near dups, not unrelated docs") {
    val withSh = docs.withColumn("sh",
      TextOps.wordNgrams(TextOps.words(col("text")), 3))
    val pairs = Dedup.minHashNearDups(withSh, col("doc_id"), col("sh"), 8, 2, 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("minHashCandidates: exact-dup pair always a candidate; no self pairs") {
    val withSh = docs.select(col("doc_id").as("id"),
      explode(array_distinct(TextOps.charNgrams(col("text"), 5))).as("s"))
    val cand = Dedup.minHashCandidates(withSh, 24, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cand.contains((1L, 2L))) // identical shingle sets: every band collides
    assert(cand.forall(p => p._1 < p._2))
  }

  test("prefixFilterCandidates: superset of all true pairs at the threshold (recall 1)") {
    import graft.core.Tables
    val t = 0.8 // prefix filtering is the high-threshold generator
    val g = Tables.documents(spark, sfDir)
      .filter(length(col("text")) >= 5)
      .select(col("doc_id").as("id"),
        array_distinct(TextOps.charNgrams(col("text"), 5)).as("gs"))
    val exploded = g.select(col("id"), explode(col("gs")).as("s"))
    val cand = Dedup.prefixFilterCandidates(exploded, t)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // ground truth by brute force (test scale only)
    val a = g.select(col("id").as("id_a"), col("gs").as("ga"))
    val b = g.select(col("id").as("id_b"), col("gs").as("gb"))
    val truth = a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .withColumn("ninter", size(array_intersect(col("ga"), col("gb"))))
      .withColumn("j", col("ninter") * lit(1.0d) /
        (size(col("ga")) + size(col("gb")) - col("ninter")))
      .filter(col("j") >= t)
      .select(col("id_a"), col("id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.subsetOf(cand),
      s"prefix filter missed true pairs: ${(truth -- cand).take(5)}")
    // pruning is data-dependent: this synthetic corpus draws from a
    // small word vocabulary, so even rare-ordered prefixes collide
    // broadly (~64% of pairs) — assert the filter is at least not a
    // full cross product; real corpora with long-tail shingles prune
    // far harder, and minHashCandidates is the low-threshold tool
    val nDocs = g.count()
    assert(cand.size < nDocs * (nDocs - 1) / 2,
      s"no pruning at all: ${cand.size} candidates for $nDocs docs")
  }

  test("simHash: identical texts agree; near dups within small hamming distance") {
    val bag = docs.select(col("doc_id"), explode(TextOps.words(col("text"))).as("w"))
    val fp = Dedup.simHash(bag, col("doc_id"), col("w"), 16)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp(1L) == fp(2L))
    val hamming = java.lang.Long.bitCount(fp(1L) ^ fp(3L))
    assert(hamming <= 6, s"near-dup hamming was $hamming")
  }

  test("simHashPairs: pigeonhole block-LSH equals brute force exactly (recall 1)") {
    val bag = docs.select(col("doc_id"), explode(TextOps.words(col("text"))).as("w"))
    val fps = Dedup.simHash(bag, col("doc_id"), col("w"), 16)
    val got = Dedup.simHashPairs(fps, col("id"), col("simhash"), 16, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val local = fps.collect().map(r => r.getLong(0) -> r.getLong(1))
    val truth = (for {
      (ia, fa) <- local; (ib, fb) <- local if ia < ib
      h = java.lang.Long.bitCount(fa ^ fb) if h <= 3
    } yield (ia, ib, h)).toSet
    assert(got == truth, s"missing=${(truth -- got).take(5)} extra=${(got -- truth).take(5)}")
    assert(truth.nonEmpty, "fixture must exercise at least one pair")
  }

  test("components: chain, triangle, and pair resolve; fixpoint within diameter rounds") {
    // chain 1-2-3-4 (diameter 3), triangle 10-11-12, isolated pair 20-21
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (10L, 12L), (20L, 21L)).toDF("id_a", "id_b")
    val got = Dedup.components(pairs, col("id_a"), col("id_b"), iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L)
    assert(got == want)
    // one more round changes nothing: 3 rounds was already the fixpoint
    val more = Dedup.components(pairs, col("id_a"), col("id_b"), iters = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(more == want)
    // reliable mode (RDD checkpoint to the checkpoint dir) — identical
    // labels, but blocks live in fault-tolerant storage, surviving
    // executor loss on a real cluster
    val ckptDir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    spark.sparkContext.setCheckpointDir(ckptDir)
    val rel = Dedup.components(pairs, col("id_a"), col("id_b"), iters = 3,
        reliable = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rel == want)
    assert(new java.io.File(ckptDir).listFiles.nonEmpty, "checkpoint dir used")
  }

  test("components + anti-join = keep-one corpus (canonical survivor per cluster)") {
    val pairs = Dedup.minHashNearDups(
      docs.withColumn("sh", TextOps.wordNgrams(TextOps.words(col("text")), 3)),
      col("doc_id"), col("sh"), 8, 2, 0.3)
    val doomed = Dedup.components(pairs, col("id_a"), col("id_b"), iters = 2)
      .filter(col("id") =!= col("label")).select(col("id").as("doc_id"))
    val survivors = docs.join(doomed, Seq("doc_id"), "left_anti")
      .select("doc_id").as[Long].collect().toSet
    assert(survivors.contains(1L) && survivors.contains(4L))
    assert(!survivors.contains(2L)) // exact dup of 1 loses to the canonical
  }

  test("winnowFingerprints equals local brute-force winnowing; overlap detected, short docs empty") {
    def localWinnow(t: String, k: Int, w: Int): Set[String] = {
      def md5hex(s: String): String =
        java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
      if (t.length < k + w - 1) Set.empty
      else {
        val hs = (0 to t.length - k).map(i => md5hex(t.substring(i, i + k)))
        (0 to t.length - k - w + 1).map(j => hs.slice(j, j + w).min).toSet
      }
    }
    val shared = "a very long shared passage that both documents contain verbatim"
    val rows = Seq(
      (1L, s"first document begins here $shared and then diverges completely"),
      (2L, s"totally other opening words $shared with a different conclusion"),
      (3L, "unrelated text with nothing in common at all zzz"),
      (4L, "tiny doc")) // shorter than k+w-1: no fingerprints
    val df = rows.toDF("doc_id", "t")
    val got = Dedup.winnowFingerprints(df, col("doc_id"), col("t"), 8, 4)
      .collect().map(r => r.getLong(0) -> r.getString(1))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    for ((id, t) <- rows)
      assert(got.getOrElse(id, Set.empty) == localWinnow(t, 8, 4), s"doc $id")
    assert((got(1L) & got(2L)).nonEmpty, "shared passage must share a fingerprint")
    assert((got(1L) & got(3L)).isEmpty, "unrelated docs should not collide")
    assert(!got.contains(4L))
  }

  test("ImageHeaderDecoder parses real PNG/JPEG headers; corrupt blobs isolate as error rows") {
    def be32(v: Int) = Array[Byte]((v >>> 24).toByte, (v >>> 16).toByte, (v >>> 8).toByte, v.toByte)
    // a structurally-real 640x480 PNG header: signature, IHDR chunk
    val png = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte) ++
      be32(13) ++ "IHDR".getBytes ++ be32(640) ++ be32(480) ++
      Array[Byte](8, 2, 0, 0, 0) ++ be32(0)
    // a real JPEG marker stream: SOI, APP0/JFIF, SOF0 (5x4), EOI
    val jpeg = Array(0xff, 0xd8, 0xff, 0xe0, 0x00, 0x10).map(_.toByte) ++
      "JFIF".getBytes ++ Array.fill[Byte](10)(0) ++
      Array(0xff, 0xc0, 0x00, 0x0b, 0x08, 0x00, 0x04, 0x00, 0x05,
        0x01, 0x01, 0x11, 0x00).map(_.toByte) ++
      Array(0xff, 0xd9).map(_.toByte)
    val truncatedPng = png.take(20)           // cut mid-IHDR
    val noise = "not an image at all".getBytes // wrong magic
    val sosFirst = Array(0xff, 0xd8, 0xff, 0xda, 0x00, 0x02).map(_.toByte) // scan, no SOF
    val rows = Seq((1L, png), (2L, jpeg), (3L, truncatedPng), (4L, noise), (5L, sosFirst))
      .toDF("id", "blob")
    val got = Multimodal.extractFeatures(rows, "blob", Seq("id"),
        new Multimodal.ImageHeaderDecoder)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(got(1L).getInt(3) == 640 && got(1L).getInt(4) == 480 && got(1L).getBoolean(5))
    assert(got(2L).getInt(3) == 5 && got(2L).getInt(4) == 4 && got(2L).getBoolean(5))
    for (i <- 3L to 5L) {
      assert(!got(i).getBoolean(5), s"row $i must fail decode")
      assert(got(i).getString(6).nonEmpty, s"row $i must carry the error")
    }
    // a failed row never fails the job, and good rows are unaffected
    assert(got.size == 5)
  }

  test("repetition metrics: dup-word and top-gram fractions on a known fixture") {
    // "a b a b a": 5 words, 2 distinct -> dup_word_frac = 0.6;
    // top word "a" x3 -> 0.6; bigrams: "a b" x2, "b a" x2 -> tie
    // breaks to "a b"; chars = 9, covered = 2 * 3 = 6 -> 0.6667
    val q = graft.catalog.LlmQueries.testRepetition(spark,
      Seq((1L, "a b a b a")).toDF("doc_id", "text"))
    val r = q.collect().head
    assert(r.getLong(1) == 5L)
    assert(math.abs(r.getDouble(2) - 0.6) < 1e-9, "dup_word_frac")
    assert(r.getString(3) == "a" && math.abs(r.getDouble(4) - 0.6) < 1e-9)
    assert(r.getString(5) == "a b", "bigram tie must break lexicographically")
    assert(math.abs(r.getDouble(6) - 0.6667) < 1e-9, "top_bigram_char_frac r4")
  }

  test("repetitionLines: dup-line fractions on a newline-bearing fixture") {
    // page 0: docs (1, "x\ny"), (2, "x") joined under header = doc 1's text:
    //   page_text = "x\ny" + \n + "x\ny" + \n + "x"
    //   lines = [x, y, x, y, x] -> 5 lines, 2 distinct
    //   dup_line_frac = 1 - 2/5 = 0.6
    //   all lines 1 char: dup chars = (3-1)*1 + (2-1)*1 = 3, tot = 5 -> 0.6
    // page 1: single doc "a\nb" -> header repeats it:
    //   lines = [a, b, a, b] -> dup_line_frac = 0.5, char frac = 0.5
    val q = graft.catalog.LlmQueries.testRepetitionLines(spark,
      Seq((1L, "x\ny", 0L), (2L, "x", 0L), (10L, "a\nb", 1L))
        .toDF("doc_id", "text", "page"))
    val rows = q.collect()
    assert(rows.length == 2)
    val p0 = rows(0); val p1 = rows(1)
    assert(p0.getLong(0) == 0L && p0.getLong(1) == 5L)
    assert(math.abs(p0.getDouble(2) - 0.6) < 1e-9, "p0 dup_line_frac")
    assert(math.abs(p0.getDouble(3) - 0.6) < 1e-9, "p0 dup_line_char_frac")
    assert(p1.getLong(0) == 1L && p1.getLong(1) == 4L)
    assert(math.abs(p1.getDouble(2) - 0.5) < 1e-9, "p1 dup_line_frac")
    assert(math.abs(p1.getDouble(3) - 0.5) < 1e-9, "p1 dup_line_char_frac")
  }

  test("scrubFrequentLines: boilerplate dropped everywhere, order kept, full-drop doc survives") {
    import graft.llm.Dedup
    // "footer" is in 3 docs (>= minDocs=2) -> scrubbed from all;
    // "rare" is in 1 doc -> kept; doc 3 is ALL boilerplate.
    val docs = Seq(
      (1L, Seq("alpha", "footer", "beta")),
      (2L, Seq("footer", "rare")),
      (3L, Seq("footer"))).toDF("doc_id", "lines")
    val got = Dedup.scrubFrequentLines(docs, col("doc_id"), col("lines"), minDocs = 2L)
      .orderBy("doc_id").collect()
    assert(got.length == 3)
    assert(got(0).getString(1) == "alpha\nbeta", "order of kept lines preserved")
    assert(got(0).getLong(2) == 2L && got(0).getLong(3) == 1L)
    assert(got(1).getString(1) == "rare" && got(1).getLong(2) == 1L && got(1).getLong(3) == 1L)
    assert(got(2).getString(1) == "" && got(2).getLong(2) == 0L && got(2).getLong(3) == 1L,
      "all-boilerplate doc keeps a row with empty clean_text")
    // a line must reach minDocs DISTINCT docs: repeats inside ONE doc
    // are not boilerplate
    val solo = Seq((1L, Seq("x", "x", "y")), (2L, Seq("z"))).toDF("doc_id", "lines")
    val soloGot = Dedup.scrubFrequentLines(solo, col("doc_id"), col("lines"), minDocs = 2L)
      .orderBy("doc_id").collect()
    assert(soloGot(0).getString(1) == "x\nx\ny" && soloGot(0).getLong(3) == 0L)
  }

  test("hashSample: deterministic, threshold math exact, rates approximately honored") {
    import graft.llm.Sampling
    assert(Sampling.rateThreshold(0.5) == "80000000")
    assert(Sampling.rateThreshold(0.25) == "40000000")
    assert(Sampling.rateThreshold(0.0) == "00000000")
    assert(Sampling.rateThreshold(1.0) == "g")
    val big = spark.range(10000).select(col("id"),
      when(col("id") % 2 === 0, "en").otherwise("zh").as("lang"))
    val kept = Sampling.hashSample(big, col("id"), col("lang"),
      rates = Map("en" -> 0.5d)) // zh defaults to keep-all
    val byLang = kept.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byLang("zh") == 5000L, "default rate 1.0 keeps every row")
    assert(math.abs(byLang("en") - 2500L) < 250, s"~50% of en, got ${byLang("en")}")
    // rerun = identical membership (the property rand() cannot give)
    val again = Sampling.hashSample(big, col("id"), col("lang"),
      rates = Map("en" -> 0.5d)).select("id").as[Long].collect().sorted.toSeq
    assert(again == kept.select("id").as[Long].collect().sorted.toSeq)
    // a different salt draws an independent sample
    val salted = Sampling.hashSample(big, col("id"), col("lang"),
      rates = Map("en" -> 0.5d), salt = "v2").select("id").as[Long].collect().toSet
    assert(salted != again.toSet)
    // rate 0 keeps nothing
    assert(Sampling.hashSample(big, col("id"), col("lang"),
      rates = Map.empty, defaultRate = 0.0d).count() == 0L)
  }

  test("sharedSpanPairs: verbatim 10-token span pairs, boilerplate df-pruned") {
    val span = (1 to 10).map(i => s"s$i").mkString(" ")
    val boiler = (1 to 10).map(i => s"b$i").mkString(" ")
    // docs 1,2 embed the same span in different surroundings; docs
    // 3..37 all carry `boiler` (df 35 > maxDf 32 → pruned — 595
    // quadratic pairs that must NOT materialize); doc 38 too short
    val rows = Seq(
      (1L, s"alpha beta $span gamma delta"),
      (2L, s"zeta eta theta $span iota")) ++
      (3 to 37).map(i => (i.toLong, s"x$i y$i $boiler z$i")) :+
      ((38L, "short doc"))
    val df = rows.toDF("id", "text")
    val grams = df.select(col("id"), explode(array_distinct(
      TextOps.wordNgrams(TextOps.words(col("text")), 10))).as("g"))
    val pairs = Dedup.sharedSpanPairs(grams, col("id"), col("g")).collect()
    assert(pairs.length === 1, "only the genuine copied span pairs; boilerplate pruned")
    assert(pairs.head.getAs[Long]("id_a") === 1L)
    assert(pairs.head.getAs[Long]("id_b") === 2L)
    assert(pairs.head.getAs[Long]("n_shared") === 1L)
    assert(pairs.head.getAs[String]("span") === span,
      "the witness is the exact copied text, not a hash")
  }

  test("containmentPairs: excerpt scores 1.0 one-way; unique content blocks the reverse") {
    // doc 1 = source (18 words), doc 2 = its middle third verbatim
    // (a PURE excerpt), doc 3 = unrelated; docs 10..45 share a
    // boilerplate run (df 36 > maxDf -> out of numerator AND
    // denominator, so the 630 quadratic pairs never materialize)
    val src18 = (1 to 18).map(i => s"w$i").mkString(" ")
    val excerpt = (7 to 12).map(i => s"w$i").mkString(" ")
    val boiler = (1 to 6).map(i => s"b$i").mkString(" ")
    val rows = Seq(
      (1L, src18),
      (2L, excerpt),
      (3L, (1 to 12).map(i => s"q$i").mkString(" "))) ++
      (10 to 45).map(i => (i.toLong, s"pre$i $boiler post$i"))
    val grams = rows.toDF("id", "text").select(col("id"),
      explode(array_distinct(TextOps.wordNgrams(TextOps.words(col("text")), 5))).as("g"))
    val got = Dedup.containmentPairs(grams, col("id"), col("g"))
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Double]("containment"))).toSet
    // doc 2's 2 five-grams both sit inside doc 1 => C(2 in 1) = 1.0.
    // Doc 1's 12 OTHER grams are df-1: they skip the pair join but
    // stay in its denominator, so C(1 in 2) = 2/14 -- unique content
    // is evidence against containment, and the direction is excluded.
    assert(got === Set((2L, 1L, 1.0d)),
      s"expected only (2 in 1)=1.0, got $got")
  }

  test("dropBottomQuantile: equals the percent_rank window on grouped data with ties") {
    import graft.llm.Sampling
    val rnd = new scala.util.Random(42)
    val rows = (0 until 500).map { i =>
      val g = s"g${i % 7}"
      // coarse scores force tie groups; g6 is constant-score (the
      // degenerate case where the whole group is one tie bucket)
      val q = if (i % 7 == 6) 5.0d else rnd.nextInt(8).toDouble
      (i.toLong, g, q)
    } :+ ((1000L, "solo", 3.0d)) // 1-row group: percent_rank 0 → dropped
    val df = rows.toDF("id", "g", "q")
    val got = Sampling.dropBottomQuantile(df, "g", "q", "id", 1L, 4L)
      .select("id").as[Long].collect().sorted.toSeq
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("g").orderBy(col("q"), col("id"))
    val ref = df.withColumn("pr", percent_rank().over(w))
      .filter(col("pr") >= 0.25d).select("id").as[Long].collect().sorted.toSeq
    assert(got === ref,
      "histogram+boundary construction must equal the sort-window semantics")
    assert(!got.contains(1000L), "1-row group has percent_rank 0 and is dropped")
    // constant-score group: ties resolve by id — lowest ceil((n-1)/4) ids go
    val g6 = rows.filter(_._2 == "g6").map(_._1).sorted
    assert(got.filter(g6.contains) === g6.drop(math.ceil((g6.size - 1) / 4.0d).toInt))
    // num = 0 keeps everything, including the 1-row group
    assert(Sampling.dropBottomQuantile(df, "g", "q", "id", 0L, 4L).count()
      === rows.size.toLong)
  }

  test("mixToBudget: data-derived rates, keep-whole groups, deterministic membership") {
    import graft.llm.Sampling
    // g0/g1: 1000 rows × weight 10 = 10k tokens each; tiny: 20 × 10 = 200
    val df = spark.range(2020).select(col("id"),
      when(col("id") < 1000, lit("g0"))
        .when(col("id") < 2000, lit("g1"))
        .otherwise(lit("tiny")).as("g"),
      lit(10L).as("w"))
    // budget 4000: g0 share 0.5 → rate 2000/10000 = 0.2; g1 default
    // 0.05 → 0.02; tiny share 0.9 → target 3600 > 200 → kept whole
    val kept = Sampling.mixToBudget(df, col("id"), col("g"), col("w"),
      shares = Map("g0" -> 0.5d, "tiny" -> 0.9d),
      budget = 4000.0d, defaultShare = 0.05d)
    val byG = kept.groupBy("g").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byG("tiny") === 20L, "group at/under its target is kept whole, never up-sampled")
    assert(math.abs(byG("g0") - 200L) < 60, s"~20% of g0, got ${byG("g0")}")
    assert(byG.getOrElse("g1", 0L) > 1L && byG.getOrElse("g1", 0L) < 60L,
      s"~2% of g1, got ${byG.getOrElse("g1", 0L)}")
    // the COLUMN threshold must agree exactly with the scalar
    // rateThreshold form on the same computed rate — membership, not
    // just counts
    val manual = df.filter(col("g") === "g0")
      .filter(substring(md5(concat_ws("|", lit("graft"), col("g"), col("id"))), 1, 8)
        < lit(Sampling.rateThreshold(0.5d * 4000.0d / 10000.0d)))
      .select("id").as[Long].collect().sorted.toSeq
    assert(kept.filter(col("g") === "g0").select("id").as[Long].collect().sorted.toSeq
      === manual, "column threshold drifted from the scalar rateThreshold math")
    // rerun = identical membership
    val again = Sampling.mixToBudget(df, col("id"), col("g"), col("w"),
      shares = Map("g0" -> 0.5d, "tiny" -> 0.9d),
      budget = 4000.0d, defaultShare = 0.05d)
      .select("id").as[Long].collect().sorted.toSeq
    assert(again === kept.select("id").as[Long].collect().sorted.toSeq)
  }

  test("tokenChunks: full coverage, correct overlap, short tail, empty and sub-window docs") {
    val rows = Seq(
      (1L, (1 to 60).map(i => s"t$i").mkString(" ")), // 60 tokens: chunks at 0,24,48
      (2L, "a b c"),                                  // sub-window: one short chunk
      (3L, "")                                        // empty: no chunks
    ).toDF("doc_id", "text")
    val got = rows
      .select(col("doc_id"),
        explode(TextOps.tokenChunks(TextOps.words(col("text")), 32, 24)).as("c"))
      .select(col("doc_id"), col("c.idx"), col("c.n_tok"), col("c.txt"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
    val d1 = got.filter(_._1 == 1L).sortBy(_._2)
    assert(d1.map(c => (c._2, c._3)).toSeq == Seq((0, 32), (1, 32), (2, 12)))
    // overlap: chunk 1 starts at token 25 (stride 24), so chunk 0's
    // last 8 tokens open chunk 1
    assert(d1(0)._4.split(" ").takeRight(8).toSeq == d1(1)._4.split(" ").take(8).toSeq)
    // every token covered exactly: union of chunks == original tokens
    assert(d1.flatMap(c => c._4.split(" ")).distinct.length == 60)
    assert(got.filter(_._1 == 2L).toSeq == Seq((2L, 0, 3, "a b c")))
    assert(!got.exists(_._1 == 3L))
  }

  test("decontamination: contaminated copies flagged, clean docs not, benchmark side broadcast") {
    // doc 0 (id % 97 == 0) is the "benchmark"; its constructed copy
    // (id+200000, 3 words dropped) must be flagged; unrelated docs not
    val fixture = Seq(
      (0L, (1 to 20).map(i => s"b$i").mkString(" ")),   // benchmark doc
      (5L, (1 to 20).map(i => s"x$i").mkString(" ")),   // clean training doc
      (7L, (1 to 12).map(i => s"b$i").mkString(" "))    // shares an 8-gram prefix
    ).toDF("doc_id", "text")
      .select(col("doc_id"), TextOps.words(col("text")).as("w"))
    val q = graft.catalog.LlmQueries.testDecontaminate(fixture)
    val got = q.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.contains(200000L), "constructed contaminated copy must be flagged")
    assert(got(200000L) == 10L, "17-token copy shares all 10 of its 8-grams")
    assert(got.contains(7L) && got(7L) == 5L, "12-token prefix doc shares 5 8-grams")
    assert(!got.contains(5L), "clean doc must not be flagged")
    assert(q.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      "benchmark gram set must broadcast, not shuffle the corpus")
  }

  test("cosine: self-similarity is 1.0, orthogonal is 0") {
    val df = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)), (3L, Array(2.0f, 0.0f))
    ).toDF("id", "v")
    val sims = df.crossJoin(df.filter($"id" === 1L).select($"v".as("q")))
      .select($"id", Similarity.cosine($"v", $"q").as("s"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(sims(1L) - 1.0) < 1e-12)
    assert(math.abs(sims(2L)) < 1e-12)
    assert(math.abs(sims(3L) - 1.0) < 1e-12)
  }

  test("bruteForceTopK ranks by cosine and excludes the query row") {
    val df = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.1f, 0.9f)), (3L, Array(1.0f, 0.01f))
    ).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(df, $"vec_id", $"embedding", $"vec_id" === 0L, 2)
      .collect().map(_.getLong(0))
    assert(top.toSeq == Seq(3L, 1L))
  }

  test("langId picks the language with most stopword hits") {
    val r = Seq((1L, "the cat and the dog"), (2L, "der hund und die katze"),
                (3L, "xyzzy qwerty"))
      .toDF("id", "t")
      .select(col("id"), TextOps.langId(TextOps.words(col("t"))).as("l"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(r(1L) == "en"); assert(r(2L) == "de"); assert(r(3L) == "und")
  }

  test("multimodal stub decoder: features deterministic, error isolated") {
    val df = Seq((1L, "hello"), (2L, "world")).toDF("doc_id", "t")
      .select(col("doc_id"), col("t").cast("binary").as("blob"))
    val f = Multimodal.extractFeatures(df, "blob", Seq("doc_id"))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(f(1L).getAs[Long]("n_bytes") == 5L)
    assert(f(1L).getAs[String]("digest") ==
      "5d41402abc4b2a76b9719d911017c592") // md5("hello")
    assert(f(1L).getAs[Boolean]("ok"))

    val failing = new Multimodal.MediaDecoder {
      override def decode(bytes: Array[Byte]): Multimodal.MediaFeatures =
        throw new IllegalStateException("codec unavailable")
    }
    val g = Multimodal.extractFeatures(df, "blob", Seq("doc_id"), failing).collect()
    assert(g.forall(!_.getAs[Boolean]("ok")))
    assert(g.forall(_.getAs[String]("error").contains("codec unavailable")))
  }

  test("nearDupPairs: LSH recall 1 on scaled copies, exact precision, no collected input in plan") {
    import graft.core.Tables
    val base = Tables.embeddings(spark, sfDir)
      .select(col("vec_id").as("id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
    val pert = base.filter(col("id") % 10 === 0)
      .select((col("id") + 10000000L).as("id"),
        transform(col("v"), x => x * 2.0d).as("v"))
    val pairs = Similarity.nearDupPairs(
      base.unionByName(pert), col("id"), col("v"), 0.9d)
    // the old implementation round-tripped the table through the driver
    // (collect + createDataset => LocalRelation); the LSH plan must
    // keep the original scan as its source
    assert(!pairs.queryExecution.optimizedPlan.exists(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]),
      "plan contains a LocalRelation — input was collected to the driver")
    val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = base.filter(col("id") % 10 === 0).select(col("id"))
      .collect().map(_.getLong(0)).map(i => (i, i + 10000000L)).toSet
    assert(expected.subsetOf(got),
      s"LSH missed cosine-1.0 pairs: ${(expected -- got).take(5)}")
    // precision is exact by construction (candidates verified with true
    // cosine); natural max cosine in this data is ~0.51, so nothing else
    assert(got == expected, s"unexpected extra pairs: ${(got -- expected).take(5)}")
  }

  test("nearDupPairsExact matches LSH output on the fixture and keeps recall 1 by construction") {
    import graft.core.Tables
    val base = Tables.embeddings(spark, sfDir)
      .select(col("vec_id").as("id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
    val pert = base.filter(col("id") % 10 === 0)
      .select((col("id") + 10000000L).as("id"),
        transform(col("v"), x => x * 2.0d).as("v"))
    val all = base.unionByName(pert)
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairSet(Similarity.nearDupPairsExact(all, col("id"), col("v"), 0.9d))
    val lsh = pairSet(Similarity.nearDupPairs(all, col("id"), col("v"), 0.9d))
    assert(exact == lsh, "fixture has no threshold-grazing pairs, so the modes must agree")
    assert(exact.nonEmpty)
  }

  test("jaccardCandidates: exact prefix filter above the cliff, LSH below") {
    import graft.core.Tables
    val exploded = Tables.documents(spark, sfDir)
      .filter(length(col("text")) >= 5).limit(50)
      .select(col("doc_id").as("id"),
        explode(array_distinct(TextOps.charNgrams(col("text"), 5))).as("s"))
    // t=0.8: prefix-filter candidates must be a superset of all true
    // J>=0.8 pairs (recall exactly 1); verify against brute force
    val cand = Dedup.jaccardCandidates(exploded, 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val sets = exploded.groupBy("id").agg(collect_set("s").as("ss")).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    val truth = sets.keys.toSeq.sorted.combinations(2).collect {
      case Seq(a, b) if {
        val i = sets(a).intersect(sets(b)).size
        i.toDouble / (sets(a).size + sets(b).size - i) >= 0.8
      } => (a, b)
    }.toSet
    assert(truth.subsetOf(cand), s"prefix filter missed: ${(truth -- cand).take(3)}")
  }

  test("kMeans IVF: deterministic, and probed cell holds the true nearest neighbor") {
    import graft.core.Tables
    val emb = Tables.embeddings(spark, sfDir)
    val bf = Similarity.bruteForceTopK(emb, col("vec_id"), col("embedding"),
      col("vec_id") === 0L, 1).collect().head.getLong(0)
    val r1 = Similarity.ivfKMeansTopK(emb, col("vec_id"), col("embedding"),
      col("vec_id") === 0L, 10, cells = 8, iters = 5).collect()
    val r2 = Similarity.ivfKMeansTopK(emb, col("vec_id"), col("embedding"),
      col("vec_id") === 0L, 10, cells = 8, iters = 5).collect()
    assert(r1.map(_.getLong(0)).toSeq == r2.map(_.getLong(0)).toSeq, "not deterministic")
    assert(r1.map(_.getLong(0)).contains(bf),
      s"true nearest $bf not in probed cell top-10: ${r1.map(_.getLong(0)).mkString(",")}")
    assert(r1.map(_.getInt(1)).distinct.length == 1) // single probed cell
  }
}
