package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.CheckpointDirs.withCheckpointDir
import org.apache.spark.sql.functions._

/** Round-8 hardening: scale-aware LSH band defaults, reliable lineage
  * cuts under a Spark checkpoint dir, the F22 single-sizing-job
  * contract, and the lock-free throttle idle sweep.
  */
class Round8OpsSpec extends SparkSpec {

  import spark.implicits._

  test("autoBandBits grows with the corpus and always divides nPlanes") {
    // small corpora keep the recall-friendly narrow bands...
    assert(Similarity.autoBandBits(100, 64) == 4)
    assert(Similarity.autoBandBits(250, 64) == 4)
    // ...and the width tracks log2(n) upward: the ann100k-proven config
    // (4 bands of 16 bits at 100k vectors) is now what the DEFAULT derives
    assert(Similarity.autoBandBits(2000, 64) == 8)
    assert(Similarity.autoBandBits(100000, 64) == 16)
    assert(Similarity.autoBandBits(1000000, 64) == 16)
    assert(Similarity.autoBandBits(100000000, 64) == 32)
    // cap: never wider than 32 bits (the shift/mask extraction's limit)
    assert(Similarity.autoBandBits(Long.MaxValue / 2, 64) == 32)
    // divisibility holds for non-power-of-two plane counts too
    for (np <- Seq(16, 24, 48, 64); n <- Seq(10L, 5000L, 200000L, 50000000L)) {
      val bb = Similarity.autoBandBits(n, np)
      assert(bb > 0 && bb <= 32 && np % bb == 0, s"n=$n np=$np -> $bb")
    }
  }

  test("default LSH banding does not degenerate at 100k vectors") {
    // the round-7 verdict's #1: the old fixed 4-bit default put 100k
    // vectors into 16 buckets per band — the candidate join collapsed
    // toward all-pairs (~5e9). With the corpus-sized default the TOTAL
    // candidate volume must stay sub-linear-in-n² — measured here by
    // running the real operator with a threshold every verified pair
    // passes, so the output count IS the deduped candidate-pair count.
    val n = 100000
    // deterministic pseudo-random 16-dim unit-ish vectors (hash-derived)
    val emb = spark.range(0, n).select($"id".as("vec_id"),
      transform(sequence(lit(0), lit(15)),
        j => ((pmod(hash($"id" * 16 + j), lit(2001)) - 1000) / lit(1000.0)).cast("float"))
        .as("embedding"))
    val cands = Similarity.lshCandidates(spark, emb, minCos = -2.0).count()
    // 64 planes / auto(100k) = 16-bit bands → 4 bands of 65536 buckets;
    // expected random collisions ≈ n²/2 × 4 × 2⁻¹⁶ ≈ 3e5. Allow an order
    // of magnitude of slack — the assert exists to catch the DEGENERATE
    // regime (≥ 1e9 pairs), not to pin the constant.
    assert(cands > 0, "sanity: some candidate pairs must exist")
    assert(cands < 10000000L,
      s"default banding produced $cands candidate pairs at n=$n — degenerate")
  }

  test("CC labels are identical under the reliable-checkpoint option") {
    // every lineage cut follows Spark's checkpoint dir (graft.Cut): per
    // operator family, the result with a reliable dir set must equal the
    // unset-dir (localCheckpoint) result, checkpoint files must land
    // under the dir, and no operator may move the dir itself
    val sc = spark.sparkContext
    val root = tmpDir("cut_reliable_ckpt")
    def runAt[A](name: String, dir: Option[String])(run: => A): A =
      withCheckpointDir(sc, dir) {
        val set = sc.getCheckpointDir
        try run finally assert(sc.getCheckpointDir == set, s"$name moved the checkpoint dir")
      }
    def same[A](name: String)(run: => A): A = {
      val before = sc.getCheckpointDir
      val dir = s"$root/$name"
      val reliable = runAt(name, Some(dir))(run)
      assert(reliable == runAt(name, None)(run), s"$name: reliable checkpoint changed the result")
      assert(java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(java.nio.file.Files.isRegularFile(_)).count() > 0,
        s"$name: no reliable checkpoint files were written")
      assert(sc.getCheckpointDir == before, s"$name: checkpoint dir not restored")
      reliable
    }
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).toSet
    // CC: a 2k-node star and a 60-node chain (deep enough to run several
    // convergence blocks → several checkpoint cuts)
    val nodes = spark.range(0, 2060).select($"id".as("doc_id"))
    val edges = spark.range(1, 2000).select(lit(0L).as("a_id"), $"id".as("b_id"))
      .unionByName(spark.range(2000, 2059).select($"id".as("a_id"), ($"id" + 1).as("b_id")))
    val labels = same("cc")(Dedup.connectedComponents(spark, nodes, edges,
      contractAbove = 1L, localFinishMaxEdges = 0L).as[(Long, Long)].collect().toMap)
    assert(labels(1999L) == 0L && labels(2059L) == 2000L)
    // the families with no reliable path before, on planted one-word edits
    val rnd = new scala.util.Random(8)
    val docs = (0 until 40).flatMap { i =>
      val ws = Seq.fill(30)(s"w${rnd.nextInt(400)}")
      Seq((i * 2L, if (i % 2 == 0) "a" else "b", ws.mkString(" ")),
        (i * 2L + 1, if (i % 3 == 0) "a" else "b", ws.updated(7, "edit").mkString(" ")))
    }.toDF("doc_id", "source", "text")
    assert(same("jaccard")(rows(Dedup.jaccardPairsOf(spark, docs, 0.6))).nonEmpty)
    same("containment")(rows(Dedup.containmentPairs(spark, docs, 0.8)))
    same("minhash")(rows(MinHash.candidatePairs(docs, 0.5)))
    same("mix_manifest")(rows(Graft.mixManifest(docs, Map("a" -> 300L, "b" -> 600L),
      Map("a" -> 2000000L, "b" -> 1000000L), nShards = 4, seed = 3L)))
    val sigs = Seq((1L, 0xF0F0L), (2L, 0xF0F1L), (3L, 0x0F0F0F0FL), (4L, 0xF0F0L))
      .toDF("doc_id", "sig")
    assert(same("media_sig")(rows(Multimodal.sigNearDupPairs(sigs, maxHamming = 3))).nonEmpty)
    same("edit_distance")(rows(Dedup.editDistancePairsQGram(spark, docs.drop("source"), 8)))
    // a q-gram vocabulary past the prefix-kernel cap forces the dfreq
    // fallback cut inside the edit-distance join
    val long = Seq.fill(300)(Seq.fill(300)(('a' + rnd.nextInt(26)).toChar).mkString)
    assert(long.flatMap(_.sliding(4)).toSet.size > DriverTable.MaxKeys)
    val longDocs = (long.zipWithIndex.map { case (t, i) => (i.toLong, t) } ++
      long.take(5).zipWithIndex.map { case (t, i) => (1000L + i, t.updated(150, '#')) })
      .toDF("doc_id", "text")
    val wide = same("edit_distance_fallback")(rows(Dedup.editDistancePairsQGram(spark, longDocs, 2)))
    assert(wide.size >= 5, s"planted one-byte edits must pair: $wide")
  }

  test("F22 computes the eval window set exactly once on both sides of the broadcast threshold") {
    // the sizing count() materializes the lazily-checkpointed distinct
    // window set; the semi-join must REUSE those blocks, not re-run the
    // eval scan — asserted at row granularity with an accumulator riding
    // the eval frame (stronger than a job count: any recompute of the
    // lineage re-fires it). Both threshold sides share the contract.
    graft.functions.VectorFunctions.register(spark)
    val train = (10 to 30).map(i =>
      (i.toLong, (1 to 14).map(j => s"t${i}_$j").mkString(" "))).toDF("doc_id", "text")
    val evalRows = Seq((1L, (1 to 10).map(j => s"t10_$j").mkString(" ")),
      (2L, (1 to 12).map(j => s"e$j").mkString(" ")))
    for (maxBroadcast <- Seq(Long.MaxValue, 0L)) {
      val acc = spark.sparkContext.longAccumulator(s"evalScans-$maxBroadcast")
      val eval = evalRows.toDS().map { r => acc.add(1); r }.toDF("doc_id", "text")
      val out = TextOps.ngramDecontamOf(train, eval, maxBroadcastWindows = maxBroadcast)
      val afterSizing = acc.value.longValue()
      assert(afterSizing == evalRows.size.toLong,
        s"the sizing pass must scan eval exactly once, saw $afterSizing row-visits")
      val rows = out.collect()
      assert(rows.exists(r => r.getLong(0) == 10L && r.getBoolean(3)),
        "planted contamination must surface")
      assert(acc.value.longValue() == afterSizing,
        s"executing the join re-computed the eval windows " +
          s"(maxBroadcastWindows=$maxBroadcast): ${acc.value} row-visits")
    }
  }

  test("throttle idle sweep never blocks on a bucket sleeping out its debt") {
    // round-7 ADVICE (medium): idleBeyondHorizon used to synchronize on
    // the bucket monitor that acquire HOLDS WHILE SLEEPING, so one
    // indebted shard's sleep serialized every resident() lookup on the
    // executor. The sweep now reads volatile stamps lock-free.
    val scope = "r8_sweep_noblock"
    val sleeping = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val bucket = new graft.pipeline.KinesisSink.ShardThrottle(
      recordsPerSec = 1, bytesPerSec = Long.MaxValue / 4,
      sleep = ms => {
        if (sleeping.getCount > 0) { sleeping.countDown(); release.await() }
        else Thread.sleep(ms) // post-release repayments sleep for real
      })
    graft.pipeline.KinesisSink.ShardThrottle.register(scope, 0, bucket)
    val t = new Thread(() => {
      bucket.acquire(2, 1L) // overdraws the 1-token bucket
      bucket.acquire(1, 1L) // must sleep the debt out — holds the monitor
    })
    t.start()
    try {
      assert(sleeping.await(10, TimeUnit.SECONDS), "bucket never started sleeping")
      val t0 = System.nanoTime()
      graft.pipeline.KinesisSink.ShardThrottle.sweepIdle()
      val sweepMs = (System.nanoTime() - t0) / 1e6
      assert(sweepMs < 1000.0,
        f"sweepIdle blocked $sweepMs%.0f ms on a sleeping bucket's monitor")
      // the sleeping bucket is NOT idle (its acquire is mid-flight) —
      // the sweep must have left it registered
      assert(graft.pipeline.KinesisSink.ShardThrottle.scopes.contains(scope))
    } finally {
      release.countDown()
      t.join(10000)
      graft.pipeline.KinesisSink.ShardThrottle.evictScope(scope)
    }
  }
}
