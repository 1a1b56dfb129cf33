package graft

import org.apache.spark.sql.functions._

/** Round-16 additions, per the round-15 verdict + ADVICE: splitByGroup's
  * NULL-group loud failure, the Bench floors-file corruption contract,
  * the F44 tie-run sub-bucketing (one-window equivalence on a
  * constant-score source), the collapsed single-explode F43 report, the
  * F41 cluster-restricted scale path (recall law vs the brute-force
  * baseline), the F45b clustered soft-dedup weights, the F40b BM25⊕dense
  * fusion, and the CalibratedKeep curation stage.
  */
class Round16OpsSpec extends SparkSpec {

  import spark.implicits._

  // ---- splitByGroup: NULL group ids fail loudly (ADVICE r15) -----------

  test("splitByGroup raises on a NULL group id instead of silently training it") {
    val df = Seq((1L, Some(10L)), (2L, None), (3L, Some(10L)))
      .toDF("doc_id", "cluster_id")
    val e = intercept[Exception] {
      Dedup.splitByGroup(df, testMillionths = 250000L).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("NULL cluster_id")), e.toString)
    // the all-labeled frame is untouched by the guard
    val ok = Dedup.splitByGroup(df.filter(col("cluster_id").isNotNull), 250000L)
      .collect()
    assert(ok.length == 2)
  }

  // ---- F44: tie-run sub-bucketing (round-15 verdict item 3) -------------

  /** One-window reference: plain (score ASC, id ASC) percent rank. */
  private def calibRef(rows: Seq[(Long, String, Double)]): Set[(Long, String, Double, Long)] =
    rows.groupBy(_._2).flatMap { case (src, rs) =>
      val n = rs.length.toLong
      rs.sortBy(r => (r._3, r._1)).zipWithIndex.map { case ((id, s, sc), i) =>
        val pct = if (n == 1) 1000000L else i.toLong * 1000000L / (n - 1)
        (id, s, sc, pct)
      }
    }.toSet

  private def calibGot(rows: Seq[(Long, String, Double)], buckets: Int) =
    TextOps.scoreCalibration(
        rows.toDF("doc_id", "source", "sc").repartition(7), "sc", buckets = buckets)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getLong(3)))
      .toSet

  test("scoreCalibration ≡ one-window rank on a CONSTANT-score source (the degenerate tie-run)") {
    // one source whose score mass is a single value — the round-15
    // pathology: pre-fix this was one source-sized window partition.
    // Ids deliberately sparse/ragged so id-range slices are uneven.
    val const = Seq(3L, 5L, 900L, 901L, 1000000L, 1000007L, 4L, 77L)
      .map(id => (id, "blob", 42.0))
    val varied = (0 until 20).map(i => (2000L + i, "mix", (i * 7 % 11).toDouble))
    val rows = const ++ varied
    assert(calibGot(rows, 4) == calibRef(rows))
    assert(calibGot(rows, 256) == calibRef(rows))
  }

  test("scoreCalibration ≡ one-window rank when a heavy tie-run sits INSIDE a varied source") {
    // ties in the middle of a spread distribution: runOff must count the
    // smaller-score mass exactly, the run must split by id range, and
    // larger scores must resume after the whole run
    val rows =
      (0 until 10).map(i => (i.toLong, "s", i.toDouble)) ++          // below
      (100 until 140).map(i => (i.toLong, "s", 50.0)) ++             // the run
      (200 until 210).map(i => (i.toLong, "s", 90.0 + i)) ++         // above
      Seq((999L, "singleton", 5.0))                                  // n = 1 source
    assert(calibGot(rows, 3) == calibRef(rows))
    assert(calibGot(rows, 64) == calibRef(rows))
  }

  // ---- F41b: cluster-restricted hard negatives (verdict item 1) ---------

  test("hardNegativesClustered with nprobe = k scans every cell ≡ brute-force hardNegatives") {
    val emb = Tables.embeddings(spark, sf001)
    val model = Similarity.kmeansFitExact(emb, k = 8, iters = 2)
    val queries = emb.filter(col("vec_id") % 40 === 0)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
    val brute = rows(Similarity.hardNegatives(spark, queries, emb, k = 3))
    val full = rows(Similarity.hardNegativesClustered(spark, queries, emb,
      k = 3, model, nprobe = 8))
    assert(brute.nonEmpty && full == brute)
  }

  test("hardNegativesClustered recall on planted confusables: nprobe = 1 finds every near-twin") {
    // four orthogonal directions; each label-0 query has a near-identical
    // label-1 twin (cos ≈ 0.999) — the hard negative by construction —
    // while every OTHER different-label vector is near-orthogonal. A
    // hand-built model with one centroid per direction co-assigns each
    // query with exactly its twin, so nprobe = 1 must already find all
    // four at rank 1 with the full brute-force cosine.
    val dim = 4
    def unit(i: Int, scale: Float, bleed: Float) =
      Seq.tabulate(dim)(j => if (j == i) scale else bleed)
    val rows =
      (0 until dim).map(i => (i.toLong, unit(i, 1.0f, 0.0f), 0)) ++     // queries
      (0 until dim).map(i => (100L + i, unit(i, 0.95f, 0.02f), 1))      // twins
    val emb = rows.toDF("vec_id", "embedding", "label")
    val model = Similarity.KmeansModel(
      Seq.tabulate(dim)(i => Seq.tabulate(dim)(j =>
        if (j == i) 2000000L else 1000000L)))
    val got = Similarity.hardNegativesClustered(spark,
        emb.filter(col("label") === 0), emb, k = 1, model, nprobe = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSeq
    assert(got == (0 until dim).map(i => (i.toLong, 100L + i, 1L)), got.toString)
    // and the restricted pick agrees with the brute-force baseline's rank 1
    val brute = Similarity.hardNegatives(spark,
        emb.filter(col("label") === 0), emb, k = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSeq
    assert(brute == got)
  }

  test("hardNegativesClustered rejects an out-of-range nprobe") {
    val emb = Seq((1L, Seq(1.0f, 0.0f), 0)).toDF("vec_id", "embedding", "label")
    val model = Similarity.KmeansModel(Seq(Seq(2000000L, 1000000L)))
    intercept[IllegalArgumentException] {
      Similarity.hardNegativesClustered(spark, emb, emb, k = 1, model, nprobe = 0)
    }
    intercept[IllegalArgumentException] {
      Similarity.hardNegativesClustered(spark, emb, emb, k = 1, model, nprobe = 2)
    }
  }

  // ---- F45b: soft dedup over near-dup clusters (verdict item 6) ---------

  test("softDedupWeightsClustered: per-cluster mass lands in (10⁶ − n, 10⁶]; singletons keep full weight") {
    val labeled = Seq(
      (1L, 1L), (2L, 1L), (3L, 1L),          // 3-cluster: w = 333333
      (4L, 4L),                              // singleton: w = 1000000
      (5L, 5L), (6L, 5L), (7L, 5L), (8L, 5L), (9L, 5L), (10L, 5L), (11L, 5L))
      .toDF("doc_id", "cluster_id")
    val got = Dedup.softDedupWeightsClustered(labeled)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.length == 11)
    got.groupBy(_._2).foreach { case (_, members) =>
      val n = members.head._3
      assert(members.length == n)
      val w = members.head._4
      assert(members.forall(_._4 == w)) // every copy, same weight
      val mass = n * w
      assert(mass <= 1000000L && mass > 1000000L - n,
        s"cluster mass $mass for n=$n w=$w")
    }
    assert(got.find(_._1 == 4L).get._4 == 1000000L)
    assert(got.find(_._1 == 1L).get._4 == 333333L)
    assert(got.find(_._1 == 5L).get._4 == 142857L)
  }

  // ---- CalibratedKeep: F44 as a curation gate (verdict item 4) ----------

  /** 2-source corpus with per-source DISTINCT integer scores (token
    * counts), unique texts (dedup stages pass everything through). */
  private def calibDocs(n: Int) = (0 until n).map { i =>
    val src = if (i % 2 == 0) "crawl" else "curated"
    // crawl docs are short (5..), curated long (40..) — a global cut
    // would keep only curated; per-source q% keeps half of EACH
    val toks = (if (i % 2 == 0) 5 else 40) + i / 2
    (i.toLong, src, (1 to toks).map(j => s"w${i}_$j").mkString(" "))
  }.toDF("doc_id", "source", "text")

  private val looseGate = Graft.QualityGate(minTokens = 1, maxTokens = 100000,
    stopwords = Seq("zzz"), maxStopwordRatio = 1.0)

  test("calibrated_keep stage (exact mode): per-source top-50% of the pool, audit row present") {
    val docs = calibDocs(120)
    val ck = Graft.CalibratedKeep(
      org.apache.spark.sql.functions.size(split(col("text"), " ")).cast("long"),
      minPctMillionths = 500000L)
    val (packed, audit) = Graft.curateCorpusAudited(spark, docs, Nil,
      quality = looseGate, calibrated = Some(ck))
    assert(audit.map(_.stage) == Seq("input", "exact_dedup", "neardup_dedup",
      "quality_gate", "calibrated_keep", "contamination"), audit.toString)
    // the pool entering the stage is all 120 docs (unique texts, loose
    // gate); the standalone F44 rank at the same threshold is the truth
    val want = TextOps.scoreCalibration(
        docs.withColumn("s", size(split(col("text"), " ")).cast("long")), "s")
      .filter(col("pct_millionths") >= 500000L)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val got = packed.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == want && got.nonEmpty)
    // both sources survive — the per-source property a global cut breaks
    val bySrc = docs.join(packed.select("doc_id"), Seq("doc_id"), "left_semi")
      .groupBy(col("source")).count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySrc.keySet == Set("crawl", "curated") && bySrc.values.forall(_ == 30),
      s"per-source keeps: $bySrc")
  }

  test("frozen CalibrationModel ≡ the exact batch gate on distinct-score sources (fine buckets)") {
    val docs = calibDocs(80)
      .withColumn("s", size(split(col("text"), " ")).cast("long"))
    // every distinct value owns a bucket: 40 values per source spread
    // over [lo, hi]; 4096 equal-width buckets isolate each integer
    val model = TextOps.calibrationFit(docs, "s", buckets = 4096)
    for (t <- Seq(0L, 250000L, 500000L, 750000L, 1000000L)) {
      val frozen = docs.filter(model.pctCol(col("s"), col("source")) >= t)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val exact = TextOps.scoreCalibration(docs, "s")
        .filter(col("pct_millionths") >= t)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(frozen == exact, s"t=$t: frozen ${frozen.size} vs exact ${exact.size}")
    }
    // a source the reference never saw gates NULL → dropped
    val alien = Seq((999L, "mystery", 50L)).toDF("doc_id", "source", "s")
    assert(alien.filter(model.pctCol(col("s"), col("source")) >= 0L).count() == 0)
  }

  test("curateStream applies the frozen calibrated gate; no-reference streaming use fails loudly") {
    val t0 = new java.sql.Timestamp(1700000000000L)
    val ref = calibDocs(120)
      .withColumn("s", size(split(col("text"), " ")).cast("long"))
    val stream = calibDocs(120)
      .withColumn("ts", lit(t0)).select("doc_id", "ts", "text", "source")
    val ck = Graft.CalibratedKeep(
      size(split(col("text"), " ")).cast("long"), 500000L,
      reference = Some(calibDocs(120)), buckets = 4096)
    val out = Graft.curateStream(stream, Nil, quality = looseGate,
      minEst = 0.99, calibrated = Some(ck))
    val got = out.select("doc_id").collect().map(_.getLong(0)).toSet
    val want = ref.filter(ck.model.pctCol(col("s"), col("source")) >= 500000L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == want && got.nonEmpty, s"stream kept ${got.size}, want ${want.size}")
    // reference omitted: forcing the model must throw the descriptive error
    val bad = Graft.CalibratedKeep(lit(1L), 500000L)
    val e = intercept[IllegalArgumentException] { bad.model }
    assert(e.getMessage.contains("reference"))
  }

  // ---- F46: DSIR importance weights -------------------------------------

  test("dsirWeights ranks target-like docs above off-target docs; target ≡ raw zeroes out") {
    // target: cat documents; raw: cats and dogs. A cat doc's hashed-gram
    // mass sits in target-heavy buckets, so its log ratio must exceed
    // every dog doc's.
    val cats = (0 until 6).map(i => (i.toLong, s"cat purrs softly cat c$i"))
    val dogs = (0 until 6).map(i => (100L + i, s"dog barks loudly dog d$i"))
    val raw = (cats ++ dogs).toDF("doc_id", "text")
    val target = cats.toDF("doc_id", "text")
    val w = TextOps.dsirWeights(raw, target, buckets = 256)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    val worstCat = cats.map(c => w(c._1)).min
    val bestDog = dogs.map(d => w(d._1)).max
    assert(worstCat > bestDog, s"cat floor $worstCat vs dog ceiling $bestDog")
    // target ≡ raw: every bucket's pt = pr, every weight exactly 0
    val self = TextOps.dsirWeights(raw, raw, buckets = 256)
      .collect().map(_.getLong(2)).toSet
    assert(self == Set(0L))
    // loud failure on an empty target (the nbFit convention)
    val e = intercept[IllegalArgumentException] {
      TextOps.dsirWeights(raw, raw.filter(col("doc_id") < 0), buckets = 16)
    }
    assert(e.getMessage.contains("target"))
  }

  test("dsirWeights is partitioning-invariant (integer micro-sums, no float folds)") {
    val docs = Tables.documents(spark, sf001)
    val a = TextOps.dsirWeights(docs, docs.filter(col("lang") === "en"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    val b = TextOps.dsirWeights(docs.repartition(7),
        docs.filter(col("lang") === "en").repartition(3))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    assert(a == b && a.nonEmpty)
  }

  // ---- F47: near-containment detection -----------------------------------

  test("containmentPairs: a boilerplate-wrapped copy is caught one-way where Jaccard misses it") {
    val innerText = "alpha beta gamma delta epsilon zeta eta theta"
    val wrapper = "nav home about " + innerText + " footer contact terms privacy copyright " +
      "subscribe newsletter related links sitemap search login"
    val docs = Seq(
      (1L, innerText),                       // the contained doc
      (2L, wrapper),                         // the container
      (3L, "totally unrelated words here that share no shingles at all with others"))
      .toDF("doc_id", "text")
    val got = Dedup.containmentPairs(spark, docs, minC = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // doc 1's shingles all appear in doc 2 → containment 10⁶ one way only
    assert(got == Set((1L, 2L, 1000000L)), got.toString)
    // Jaccard at the same strength misses it (union is container-sized)
    assert(Dedup.jaccardPairsOf(spark, docs, 0.9).count() == 0)
  }

  test("prefix-filtered containmentPairs ≡ the exhaustive ordered join (the lemma is exact)") {
    val rnd = new scala.util.Random(16)
    val vocab = Vector.tabulate(30)(i => s"w$i")
    val bases = (0 until 60).map { i =>
      val n = 4 + rnd.nextInt(20)
      (i.toLong, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    // plant wrapped copies of every 5th doc so each threshold sees real
    // containments (plus whatever the random collisions produce)
    val wrapped = bases.collect { case (id, text) if id % 5 == 0 =>
      (1000L + id, s"hdr$id nav chrome $text footer$id links legal") }
    // a second corpus with > 2^16 distinct word 3-grams overflows the
    // driver-held df table, so the explode + df-join fallback runs too
    val wideBases = (0 until 720).map { i =>
      (i.toLong, Seq.fill(100)(s"v${rnd.nextInt(20000)}").mkString(" "))
    }
    val wideWrapped = wideBases.collect { case (id, text) if id % 40 == 0 =>
      (1000L + id, s"hdr$id $text footer$id") }
    for ((rows, kernel) <- Seq((bases ++ wrapped, true), (wideBases ++ wideWrapped, false))) {
      val docs = rows.toDF("doc_id", "text").localCheckpoint()
      assert(DriverTable.freqs(docs.select(call_function("shingle_hashes", col("text"),
        lit(MinHash.GramLen)).as("shs")), "long_freq_agg", col("shs")).isDefined == kernel)
      for (t <- Seq(0.5, 0.75, 0.9)) {
        val fast = Dedup.containmentPairs(spark, docs, t)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        // exhaustive reference: full shingle equi-join, no prefix filter
        val sh = docs.select(col("doc_id"),
            explode(call_function("shingle_hashes", col("text"), lit(3))).as("h"))
          .distinct()
        val sz = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
        val slow = sh.select(col("doc_id").as("inner_id"), col("h"))
          .join(sh.select(col("doc_id").as("outer_id"), col("h")), Seq("h"))
          .filter(col("inner_id") =!= col("outer_id"))
          .groupBy(col("inner_id"), col("outer_id")).agg(count(lit(1)).as("i"))
          .join(sz.select(col("doc_id").as("inner_id"), col("sz").as("sa")), Seq("inner_id"))
          .filter(col("i").cast("double") / col("sa") >= t)
          .select(col("inner_id"), col("outer_id"),
            expr("(i * 1000000L) div sa").as("c"))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        assert(fast == slow, s"kernel=$kernel t=$t: fast ${fast.size} vs exhaustive ${slow.size}")
        assert(t > 0.5 || slow.nonEmpty, "the law must exercise non-empty pair sets")
      }
    }
  }

  // ---- F48: temperature-scaled mixture budgets ---------------------------

  test("temperatureBudgets: exact sum, α endpoints, and the downweight-the-giant property") {
    // sources with wildly different masses: 'big' 10× 'small'
    val docs = ((0 until 100).map(i => (i.toLong, "big", "a b c d e")) ++
      (100 until 110).map(i => (i.toLong, "small", "a b c d e")))
      .toDF("doc_id", "source", "text")
    def budgets(alpha: Double) = TextOps.temperatureBudgets(docs, alpha, 9999L)
      .collect().map(r => r.getString(0) -> r.getLong(4)).toMap
    // α = 1: proportional to token mass (500 vs 50 → 10:1)
    val b1 = budgets(1.0)
    assert(b1.values.sum == 9999L)
    assert(b1("big").toDouble / b1("small") > 9.0 && b1("big").toDouble / b1("small") < 11.0)
    // α = 0: uniform (n^0 = 1 per source) — as equal as integers allow
    val b0 = budgets(0.0)
    assert(b0.values.sum == 9999L && math.abs(b0("big") - b0("small")) <= 1)
    // α = 0.3: strictly between — the giant is down-weighted
    val b3 = budgets(0.3)
    assert(b3.values.sum == 9999L)
    val ratio3 = b3("big").toDouble / b3("small")
    assert(ratio3 > 1.0 && ratio3 < 9.0, s"alpha=0.3 ratio was $ratio3")
    intercept[IllegalArgumentException] { TextOps.temperatureBudgets(docs, 1.5, 1L) }
    intercept[IllegalArgumentException] { TextOps.temperatureBudgets(docs, 0.3, -1L) }
    // empty corpus: an empty budget table, never a throw
    assert(TextOps.temperatureBudgets(docs.filter(col("doc_id") < 0), 0.3, 100L)
      .count() == 0)
  }

  test("temperature mix composition ≡ tokenBudgetMix under the derived budgets") {
    val docs = Tables.documents(spark, sf001)
    val budgets = TextOps.temperatureBudgetMap(docs, 0.3, 100000L)
    assert(budgets.values.sum == 100000L)
    val composed = TextOps.qTemperatureMix.fn(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toSeq
    val direct = TextOps.tokenBudgetMix(docs, budgets)
      .orderBy(col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(3))).toSeq
    assert(composed == direct && composed.nonEmpty)
  }

  // ---- Bench.loadFloors: missing vs corrupt (ADVICE r15) ----------------

  test("loadFloors: absent file is silently empty; corrupt file is empty with a warning, not a crash") {
    assert(Bench.loadFloors("/nonexistent/floors.json").isEmpty)
    val f = java.nio.file.Files.createTempFile("floors", ".json")
    java.nio.file.Files.write(f, "not json at all {{{".getBytes("UTF-8"))
    assert(Bench.loadFloors(f.toString).isEmpty) // no throw, gate off
    java.nio.file.Files.write(f,
      """{"q1": 0.5, "q2": 1.25}""".getBytes("UTF-8"))
    assert(Bench.loadFloors(f.toString) == Map("q1" -> 0.5, "q2" -> 1.25))
    java.nio.file.Files.delete(f)
  }
}
