package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Similarity

class SimilaritySpec extends AnyFunSuite
    with org.scalatest.BeforeAndAfterEach {
  private lazy val spark = SparkSuite.session
  import spark.implicits._

  // q268/q272/q273 persist shared frames during construction; drop the
  // CacheManager entries after every test so plan-equality substitution
  // cannot splice one test's cached subtree into a later test's (or
  // suite's) plan — the same isolation Verify/Bench/AuditSweep apply
  // between queries
  override def afterEach(): Unit = {
    spark.catalog.clearCache()
    super.afterEach()
  }

  test("cosine kernel: self-similarity is 1, orthogonal is 0") {
    val df = Seq(
      (Array(1f, 0f, 2f), Array(1f, 0f, 2f), 1.0),
      (Array(1f, 0f, 0f), Array(0f, 3f, 0f), 0.0),
      (Array(1f, 1f, 0f), Array(-1f, -1f, 0f), -1.0))
      .toDF("a", "b", "expected")
    val got = df.select(Similarity.cosine(col("a"), col("b")).as("c"),
      col("expected")).collect()
    got.foreach(r => assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-9))
  }

  test("ANN top-k achieves reasonable recall vs brute force within-bucket") {
    val sfDir = SparkSuite.sf
    val ann = ops.Similarity.q74AnnTopk(spark, sfDir)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    // Brute-force top-5 over the whole corpus per query:
    val e = Tables.embeddings(spark, sfDir)
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(desc("cos"), col("cand_id"))
    val brute = q.crossJoin(
        e.select(col("vec_id").as("cand_id"), col("embedding")))
      .filter(col("cand_id") =!= col("query_id"))
      .select(col("query_id"), col("cand_id"),
        Similarity.cosine(col("q_emb"), col("embedding")).as("cos"))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= 5)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    val recall = ann.intersect(brute).size.toDouble / brute.size
    // 8 tables × 2 bits: a true neighbor at cosine ≈ 0.25 (θ ≈ 75°) lands
    // in the same 2-bit bucket with p ≈ (1 - θ/π)² ≈ 0.35 per table, so
    // miss-all-8 ≈ 0.65^8 ≈ 3% — recall should be high even on this
    // near-orthogonal random fixture.
    assert(recall >= 0.6, s"recall $recall")
    assert(ann.nonEmpty)
  }

  test("LSH near-dup finds planted near-identical vectors") {
    val sp = spark
    import sp.implicits._
    val rng = new scala.util.Random(123)
    def randVec() = Array.fill(64)(rng.nextGaussian().toFloat)
    val bases = (0 until 40).map(i => (i.toLong, randVec()))
    // clones 100..109 of vectors 0..9 with tiny noise → cosine ≈ 1
    val clones = (0 until 10).map { i =>
      ((100 + i).toLong, bases(i)._2.map(x => x + 0.001f * rng.nextGaussian().toFloat))
    }
    val e = (bases ++ clones).toDF("vec_id", "embedding")
    val pairs = ops.Similarity.lshNearDups(e, minCos = 0.98)
      .select("v1", "v2").as[(Long, Long)].collect().toSet
    // every planted clone pair must surface (clones share all sign bits
    // with their original in virtually every table at this noise level)
    (0 until 10).foreach { i =>
      assert(pairs.contains((i.toLong, (100 + i).toLong)),
        s"missing planted pair ($i, ${100 + i}); got $pairs")
    }
    // and unrelated random pairs must not pass the 0.98 threshold
    assert(pairs.size === 10, s"unexpected extra pairs: $pairs")
  }

  test("q66 kmeans step: partition of the corpus, self-assigned seeds") {
    val out = ops.Centroids.q66KmeansStep(spark, SparkSuite.sf).collect()
    assert(out.map(_.getLong(0)).toSeq === (0L until 8L))
    // every vector lands in exactly one cluster
    assert(out.map(_.getLong(1)).sum === 500L)
    // each seed vector is distance 0 from its own centroid, so every
    // cluster is non-empty and inertia is non-negative
    out.foreach { r =>
      assert(r.getLong(1) >= 1)
      assert(r.getLong(2) >= 0L && r.getLong(3) >= 0L && r.getLong(4) >= 0L)
    }
  }

  test("q262 kmeans train: round 1 IS q66's step; inertia non-increasing") {
    val out = ops.Centroids.q262KmeansTrain(spark, SparkSuite.sf)
      .collect()
    val byRound = out.groupBy(_.getLong(0))
    assert(byRound.keySet === (1L to ops.Centroids.KmeansRounds).toSet)
    // membership conservation per round
    val n = Tables.embeddings(spark, SparkSuite.sf).count()
    byRound.values.foreach(rs => assert(rs.map(_.getLong(2)).sum === n))
    // round 1 equals the standalone Lloyd step on (members, inertia,
    // shift) — the loop's first iteration is exactly q66
    val step = ops.Centroids.q66KmeansStep(spark, SparkSuite.sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(4)))
      .toSet
    val round1 = byRound(1L)
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    assert(round1 === step)
    // Lloyd descent: total inertia never increases round over round
    // (integer-floored centroids could in principle wobble by ~2^-20
    // relative; on the seeded fixture the descent is strict or equal)
    val totals = (1L to ops.Centroids.KmeansRounds)
      .map(r => byRound(r).map(_.getLong(3)).sum)
    totals.sliding(2).foreach { case Seq(a, b) =>
      assert(b <= a, s"inertia increased: $totals")
    }
    // the loop actually moved something after round 1
    assert(byRound(1L).map(_.getLong(4)).sum > 0L)
  }

  test("IVF top-k is a valid ANN: subset of probed lists, sane recall") {
    val sfDir = SparkSuite.sf
    val ivf = ops.Similarity.q76IvfTopk(spark, sfDir)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    assert(ivf.nonEmpty)
    val brute = ops.Similarity.q75BruteTopk(spark, sfDir)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    val recall = ivf.intersect(brute).size.toDouble / brute.size
    // 2 of 8 probed lists ≈ 1/4 of a near-orthogonal corpus scanned; exact
    // recall is fixture-dependent but must beat random candidate selection
    assert(recall >= 0.2, s"IVF recall $recall below sanity floor")
  }

  test("lshNearDups geometry derives from corpus size and clamps") {
    // 250-vector target bucket: small corpora stay at the 2-bit floor,
    // 10^9 vectors get ~22 bits (4M buckets), petabyte corpora clamp at 24
    assert(Similarity.bitsForCorpus(50) === 2)
    assert(Similarity.bitsForCorpus(1000) === 2)
    assert(Similarity.bitsForCorpus(256000) === 10)
    assert(Similarity.bitsForCorpus(1000000000L) === 22)
    assert(Similarity.bitsForCorpus(Long.MaxValue) === 24)
    // explicit geometry overrides the derivation (planted pairs still found)
    val sp = spark
    import sp.implicits._
    val rng = new scala.util.Random(7)
    def randVec() = Array.fill(64)(rng.nextGaussian().toFloat)
    val bases = (0 until 20).map(i => (i.toLong, randVec()))
    val clones = (0 until 5).map { i =>
      ((100 + i).toLong,
        bases(i)._2.map(x => x + 0.001f * rng.nextGaussian().toFloat))
    }
    val e = (bases ++ clones).toDF("vec_id", "embedding")
    val pairs = ops.Similarity
      .lshNearDups(e, minCos = 0.98, numTables = 4, bitsPerTable = 3)
      .select("v1", "v2").as[(Long, Long)].collect().toSet
    (0 until 5).foreach { i =>
      assert(pairs.contains((i.toLong, (100 + i).toLong)))
    }
  }

  test("as-of join: every matched click precedes its purchase") {
    val out = ops.Similarity.q16Asof(spark, SparkSuite.sf)
      .filter(col("last_click_ts").isNotNull)
    assert(out.filter(col("last_click_ts") >= col("ts")).count() === 0)
    assert(out.filter(col("micros_since_click") <= 0).count() === 0)
  }

  test("as-of join matches a per-row scalar-subquery recomputation") {
    val ev = Tables.events(spark, SparkSuite.sf)
    ev.createOrReplaceTempView("ev_asof_check")
    val expected = spark.sql("""
      SELECT p.event_id,
             (SELECT max(c.ts) FROM ev_asof_check c
              WHERE c.user_id = p.user_id AND c.event_type = 'click'
                AND c.ts < p.ts) AS want
      FROM ev_asof_check p WHERE p.event_type = 'purchase'
    """)
    val got = ops.Similarity.q16Asof(spark, SparkSuite.sf)
      .select(col("event_id"), col("last_click_ts"))
    val diff = got.join(expected, "event_id")
      .filter(!(col("last_click_ts") <=> col("want")))
    assert(diff.isEmpty)
  }

  test("int8 quantization preserves cosine to ~1e-2 and top-5 ranking") {
    val sfDir = SparkSuite.sf
    val e = Tables.embeddings(spark, sfDir)
    // per-pair error bound: quantized cosine within 0.02 of float cosine
    // (127 levels/dim over 64 dims ⇒ relative error ≈ 1/127 per component)
    val q = e.filter(col("vec_id") === 0)
      .select(col("embedding").as("qe"),
        ops.Quantize.quantizeInt(col("embedding")).as("qq"))
    val err = e.filter(col("vec_id") > 0).crossJoin(broadcast(q))
      .select(abs(
        Similarity.cosine(col("embedding"), col("qe")) -
          ops.Quantize.quantizedCosine(
            ops.Quantize.quantizeInt(col("embedding")), col("qq")))
        .as("err"))
      .agg(max(col("err"))).as[Double].head()
    assert(err < 0.02, s"quantization cosine error $err")

    // ranking: quantized top-5 overlaps float top-5 heavily
    val quant = ops.Quantize.q78QuantizedTopk(spark, sfDir)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    val float5 = ops.Similarity.q75BruteTopk(spark, sfDir)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    val agree = quant.intersect(float5).size.toDouble / float5.size
    assert(agree >= 0.6, s"rank agreement $agree after quantization")
  }

  test("q229 PQ/ADC: shortlist+rerank recovers the exact top-5") {
    val sfDir = SparkSuite.sf
    val adc = ops.Quantize.q229PqAdc(spark, sfDir)
    val rows = adc.select("query_id", "cand_id", "rank", "in_exact")
      .as[(Long, Long, Int, Long)].collect()
    // exactly 5 ranked hits per query, ranks 1..5
    val byQ = rows.groupBy(_._1)
    assert(byQ.size === 5, s"expected 5 queries, got ${byQ.keySet}")
    byQ.foreach { case (q, rs) =>
      assert(rs.map(_._3).sorted.toSeq === Seq(1, 2, 3, 4, 5), s"query $q")
    }
    // the ADC shortlist covers 10% of the corpus; after exact rerank the
    // emitted top-5 must mostly BE the exact top-5
    val recall = rows.map(_._4).sum.toDouble / rows.length
    assert(recall >= 0.6, s"mean in_exact $recall — shortlist misses NNs")
    // no candidate equals its query; no duplicate candidates per query
    assert(rows.forall(r => r._1 != r._2))
    byQ.foreach { case (q, rs) =>
      assert(rs.map(_._2).distinct.length === rs.length, s"dup cand in $q")
    }
  }

  test("int8 storage form stays within tinyint range") {
    val e = Tables.embeddings(spark, SparkSuite.sf)
    val stats = e.select(explode(
        ops.Quantize.quantizeInt8(col("embedding"))).as("b"))
      .agg(min(col("b")).as("lo"), max(col("b")).as("hi"))
      .as[(Byte, Byte)].head()
    assert(stats._1 >= -127 && stats._2 <= 127, stats.toString)
    // every vector's max-magnitude component must hit exactly ±127
    // (that's what symmetric scaling means)
    val hits = e.select(ops.Quantize.quantizeInt(col("embedding")).as("qv"))
      .select(aggregate(transform(col("qv"), x => abs(x)), lit(0),
        (a, x) => greatest(a, x)).as("m"))
      .filter(col("m") =!= 127).count()
    assert(hits === 0L, s"$hits vectors missing the ±127 anchor")
  }

  test("q268 semDedup drops planted clones, keeps originals, conserves") {
    val sp = spark
    import sp.implicits._
    val rng = new scala.util.Random(7)
    def randVec() = Array.fill(64)(rng.nextGaussian().toFloat)
    val bases = (0 until 40).map(i => (i.toLong, randVec()))
    // clones 100..109 of vectors 0..9 with tiny noise → cosine ≈ 1, and
    // a nearest-seed assignment that provably matches the original's
    val clones = (0 until 10).map { i =>
      ((100 + i).toLong,
        bases(i)._2.map(x => x + 0.001f * rng.nextGaussian().toFloat))
    }
    val e = (bases ++ clones).toDF("vec_id", "embedding")
    // production-grade τ: random 64-dim gaussians sit at |cos| ~ 0.125,
    // so ONLY the planted pairs can cross it — no flaky accidental drops
    val out = ops.Centroids.semDedup(e, tau = 0.95).collect()
    assert(out.map(_.getLong(1)).sum === 50L, "members must partition")
    out.foreach { r =>
      assert(r.getLong(2) >= 0 && r.getLong(2) < r.getLong(1),
        "a cluster's lowest id can never drop — n_dropped < n_members")
    }
    assert(out.map(_.getLong(2)).sum === 10L,
      "exactly the ten planted clones drop")
    // replay the keep-set checksum from the drop rule itself: kept =
    // everything but the clones (each clone's original has the lower id)
    val members = ops.Centroids.assignMembers(
        ops.Centroids.quantized(e), 8L, hintCentroids = false)
      .select(col("vec_id"), col("cid")).as[(Long, Long)].collect()
    val expected = members.filter(_._1 < 100L).groupBy(_._2)
      .map { case (cid, ms) =>
        (cid, ms.map { case (v, _) =>
          v * ops.TrainingData.MixA % ops.TrainingData.Mod32
        }.sum)
      }
    val got = out.map(r => (r.getLong(0), r.getLong(3))).toMap
    expected.foreach { case (cid, sum) =>
      assert(got(cid) === sum, s"kept_checksum mismatch in cluster $cid")
    }
  }

  test("q268 mega-cluster cap: a degenerate clone blob stays bounded, " +
    "drops the same set, and the accounting balances") {
    // The boilerplate-crawl shape the cap exists for: 200 clones of ONE
    // prototype all land in one cluster (n=240 → k=16 seeds; the clones
    // sit next to base 0, far from every other seed), so the uncapped
    // pair join is O(m²) in that cluster. With the cap forced to 5 the
    // left side admits only the 5 id-lowest members, yet every clone
    // still drops — the keep-rule's minimal representative (base 0) is
    // BY CONSTRUCTION in the admitted set — so the capped result is
    // row-identical to the effectively-uncapped one while the pair cost
    // falls from m(m−1)/2 to cap·m − cap(cap+1)/2.
    val sp = spark
    import sp.implicits._
    val rng = new scala.util.Random(23)
    def randVec() = Array.fill(64)(rng.nextGaussian().toFloat)
    val bases = (0 until 40).map(i => (i.toLong, randVec()))
    val proto = bases.head._2
    val clones = (0 until 200).map { i =>
      ((100 + i).toLong,
        proto.map(x => x + 0.001f * rng.nextGaussian().toFloat))
    }
    val e = (bases ++ clones).toDF("vec_id", "embedding")
    val capped = ops.Centroids.semDedup(e, tau = 0.95, cap = Some(5L))
      .collect()
    val uncapped = ops.Centroids.semDedup(e, tau = 0.95,
      cap = Some(1000000L)).collect()
    assert(capped.toSeq === uncapped.toSeq,
      "cap=5 must not change the verdicts on a clone blob — the minimal " +
        "representative is always admitted")
    assert(capped.map(_.getLong(1)).sum === 240L, "members must partition")
    assert(capped.map(_.getLong(2)).sum === 200L,
      "exactly the 200 planted clones drop")
    val mega = capped.maxBy(_.getLong(1))
    assert(mega.getLong(1) >= 201L,
      "the blob must actually form a mega-cluster (prototype + clones)")
    // accounting replay: the same closed-form arithmetic q274 reports,
    // over this corpus's true cluster sizes — the cap's pair saving is
    // real and exactly accounted, not asserted by vibes
    val sizes = ops.Centroids.assignMembers(
        ops.Centroids.quantized(e), 16L, hintCentroids = false)
      .groupBy(col("cid")).agg(count(lit(1)).as("m"))
    val acct = ops.Centroids.clusterPairAccounting(sizes, Seq(5L))
      .collect().head
    val ms = sizes.select("m").as[Long].collect()
    def full(m: Long) = m * (m - 1) / 2
    def gen(m: Long, cap: Long) =
      if (m <= cap) full(m) else cap * m - cap * (cap + 1) / 2
    assert(acct.getLong(4) === ms.map(gen(_, 5L)).sum, "pairs_generated")
    assert(acct.getLong(5) === ms.map(m => full(m) - gen(m, 5L)).sum,
      "pairs_skipped")
    assert(acct.getLong(5) > 0L, "the forced cap must skip real pairs")
    assert(acct.getLong(4) <= 5L * 240L,
      "generated pairs are bounded by cap·n — the O(n^1.5) device")
    Sessions.release(spark)
  }

  test("q271 hierarchical assignment: partition + sample conservation; " +
    "perfect exact-agreement on planted blobs") {
    val out = ops.Centroids.q271HierAssign(spark, SparkSuite.sf).collect()
    val n = Tables.embeddings(spark, SparkSuite.sf).count()
    assert(out.map(_.getLong(1)).sum === n, "members must partition")
    assert(out.map(_.getLong(3)).sum === (0L until n).count(_ % 37L == 3L),
      "every sampled vector audits exactly once")
    out.foreach(r => assert(r.getLong(4) <= r.getLong(3)))
    // planted locality: 20 tight blobs of 25, ids interleaved (blob =
    // id % 20) so the first k=23 fine seeds cover every blob and the
    // first kc=5 coarse seeds sit in 5 distinct blobs. Blob spread 0.01
    // against O(10) center separation: every member and its blob's seed
    // share a coarse cell, the cell contains that blob's fine seed, and
    // the exact argmin is the same seed — agreement must be total.
    val rng = new scala.util.Random(11)
    val centers = Array.fill(20)(Array.fill(64)(rng.nextGaussian() * 10))
    val sp = spark
    import sp.implicits._
    val vecs = (0 until 500).map { i =>
      (i.toLong, centers(i % 20).map(c =>
        (c + 0.01 * rng.nextGaussian()).toFloat))
    }.toDF("vec_id", "embedding")
    val blob = ops.Centroids.hierAssign(vecs).collect()
    assert(blob.map(_.getLong(1)).sum === 500L)
    assert(blob.map(_.getLong(3)).sum > 0L)
    assert(blob.map(_.getLong(4)).sum === blob.map(_.getLong(3)).sum,
      "with real locality the two-level index must agree with exact")
  }

  test("q272 incremental semantic admission: verdict precedence and " +
    "planted corpus/batch twins") {
    val sp = spark
    import sp.implicits._
    // fixture run: structural invariants on the real corpus
    val out = ops.Centroids.q272IncrSemDedup(spark, SparkSuite.sf).collect()
    val n = Tables.embeddings(spark, SparkSuite.sf).count()
    assert(out.length === (0L until n).count(_ % 10L == 0L),
      "one verdict row per batch vector")
    out.foreach { r =>
      val (corpusRep, batchRep) = (Option(r.get(2)), Option(r.get(3)))
      val verdict = r.getString(4)
      assert(verdict === (if (corpusRep.isDefined) "dup_corpus"
        else if (batchRep.isDefined) "dup_batch" else "novel"))
      corpusRep.foreach(s => assert(s.asInstanceOf[Long] % 10L != 0L,
        "corpus_rep must be a standing id"))
      batchRep.foreach(b => assert(b.asInstanceOf[Long] % 10L == 0L &&
        b.asInstanceOf[Long] < r.getLong(0),
        "batch_rep must be a lower batch id"))
    }
    // planted run: 60 random vectors (ids ≡ 0 mod 10 are the batch);
    // batch id 20 clones standing id 7 → dup_corpus via rep 7; batch
    // ids 30 and 50 clone a fresh vector unseen in the corpus → 30 is
    // novel, 50 is dup_batch via rep 30
    val rng = new scala.util.Random(19)
    def rv() = Array.fill(64)(rng.nextGaussian().toFloat)
    val base = (0 until 60).map(i => (i.toLong, rv())).toMap
    def noisy(v: Array[Float]) =
      v.map(x => x + 0.001f * rng.nextGaussian().toFloat)
    val u = rv()
    val planted = base ++ Map(
      20L -> noisy(base(7L)), 30L -> noisy(u), 50L -> noisy(u))
    val df = planted.toSeq.sortBy(_._1).toDF("vec_id", "embedding")
    val res = ops.Centroids.incrSemDedup(df).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(res(20L).getString(4) === "dup_corpus")
    assert(res(20L).getLong(2) === 7L)
    assert(res(30L).getString(4) === "novel")
    assert(res(50L).getString(4) === "dup_batch")
    assert(res(50L).getLong(3) === 30L)
  }

  test("q276 capped-dedup recall audit: conservation, a monotone dial, " +
    "and agreement with semDedup's own capped drop counts") {
    val out = ops.Centroids.q276SemdedupRecall(spark, SparkSuite.sf)
      .collect()
    assert(out.length === 3, "three dial points: 2, 8, production cap")
    out.foreach { r =>
      assert(r.getLong(1) === r.getLong(2) + r.getLong(3),
        "exact drops must split into capped-found + missed")
      if (r.getLong(3) === 0L)
        assert(r.getLong(4) === 0L, "no misses -> zero checksum")
    }
    val recalls = out.map(_.getDouble(5))
    assert(recalls.zip(recalls.tail).forall { case (a, b) => a <= b },
      "recall must be non-decreasing in the cap")
    assert(out.head.getLong(3) > 0L,
      "the forced-low cap must expose real misses on the fixture")
    assert(out.last.getLong(3) === 0L && out.last.getDouble(5) === 1.0,
      "the production cap misses nothing on the organic fixture")
    // cross-validate against the OPERATOR's own capped pair join: the
    // audit's per-cap drop count must equal what semDedup actually
    // drops when run at that cap — two independent code paths (the
    // min-witness-rank aggregate vs the capped join itself)
    val e = Tables.embeddings(spark, SparkSuite.sf)
    val drops2 = ops.Centroids.semDedup(e, cap = Some(2L)).collect()
      .map(_.getLong(2)).sum
    assert(drops2 === out.head.getLong(2),
      "cap=2 audit row must match semDedup(cap=2)'s total drops")
    spark.catalog.clearCache()
    val dropsAll = ops.Centroids.semDedup(e, cap = Some(1000000L))
      .collect().map(_.getLong(2)).sum
    assert(dropsAll === out.head.getLong(1),
      "the exact column must match the uncapped operator's total drops")
    Sessions.release(spark)
  }

  test("q277 probe agreement equals q271's audit columns cell by cell " +
    "(single-pass probe == two-pass hier audit, two independent paths)") {
    // Per-vector argmins are independent, so the two-level assignment
    // of the sample equals the full corpus's two-level assignment
    // restricted to the sample — q277's one-frame rank-window
    // derivation must therefore reproduce q271's (n_sample,
    // n_sample_agree) for every coarse cell that holds a sampled
    // vector, and q271's remaining cells must hold zero samples.
    val probe = ops.Centroids.q277ProbeAgreement(spark, SparkSuite.sf)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    val audit = ops.Centroids.q271HierAssign(spark, SparkSuite.sf)
      .collect().map(r => r.getLong(0) -> (r.getLong(3), r.getLong(4)))
      .toMap
    val n = Tables.embeddings(spark, SparkSuite.sf).count()
    assert(probe.values.map(_._1).sum ===
      (0L until n).count(_ % 37L == 3L).toLong,
      "every sampled vector appears exactly once")
    probe.foreach { case (cid, (ns, na)) =>
      assert(audit.get(cid) === Some((ns, na)),
        s"cell $cid: probe ($ns,$na) vs audit ${audit.get(cid)}")
    }
    (audit.keySet -- probe.keySet).foreach { cid =>
      assert(audit(cid) === ((0L, 0L)),
        s"cell $cid missing from the probe must hold zero samples")
    }
  }

  test("q273 cluster pruning: bands partition every cluster exactly and " +
    "always keep at least one member") {
    val out = ops.Centroids.q273ClusterPrune(spark, SparkSuite.sf).collect()
    val n = Tables.embeddings(spark, SparkSuite.sf).count()
    assert(out.map(_.getLong(1)).sum === n, "members must partition")
    out.foreach { r =>
      val (m, kept, proto, outl) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(kept + proto + outl === m, "bands must partition the cluster")
      assert(kept >= 1L, "every cluster keeps at least one member")
      // the band bounds are pure integer arithmetic in m — replay them
      val lo = m / 5
      val hi = math.max(4 * m / 5, lo + 1)
      assert(proto === lo, s"prototype band: $proto vs m=$m")
      assert(outl === m - math.min(hi, m), s"outlier band: $outl vs m=$m")
    }
  }

  test("q272 degenerate blob: capped ≡ uncapped verdicts (the ADVICE r10 " +
    "gap), and the capped regime ≡ the plain probe-selected regime") {
    // The q272 analogue of q268's mega-cluster spec, closing the ADVICE
    // hole: the corpus compare admits only the srk-lowest KEPT standing
    // reps, and unlike q268 that is not provably ≡ uncapped in general —
    // but on the prototype-kept-rep construction it is: 200 clones of
    // standing id 7 (ids 100-299, ~180 standing + ~20 batch) form one
    // mega-cluster whose standing keep-set collapses to {7} (every
    // standing clone drops against the lower id), so the blob's kept rep
    // has srk = 1 and ANY cap ≥ 1 admits it; batch clones must verdict
    // dup_corpus with corpus_rep = 7 under both caps. The run also
    // cross-validates the r11 two-regime split: cap=5 makes the binding
    // probe take the capped+salted branch while the effectively-uncapped
    // run takes the plain branch — row equality proves the two regimes
    // implement the same operator, not just the same cap.
    val rng = new scala.util.Random(29)
    def rv() = Array.fill(64)(rng.nextGaussian().toFloat)
    val base = (0 until 60).map(i => (i.toLong, rv()))
    val proto = base(7)._2
    val clones = (100 until 300).map { i =>
      (i.toLong, proto.map(x => x + 0.001f * rng.nextGaussian().toFloat))
    }
    val e = (base ++ clones).toDF("vec_id", "embedding")
    val capped = ops.Centroids.incrSemDedup(e, cap = Some(5L)).collect()
    spark.catalog.clearCache()
    val plain = ops.Centroids.incrSemDedup(e, cap = Some(1000000L))
      .collect()
    assert(capped.toSeq === plain.toSeq,
      "cap=5 must not change admission verdicts on a clone blob — the " +
        "cluster's kept standing set is exactly its minimal rep (srk=1)")
    val byId = capped.map(r => r.getLong(0) -> r).toMap
    val batchClones = (100 until 300).filter(_ % 10 == 0)
    batchClones.foreach { i =>
      assert(byId(i.toLong).getString(4) === "dup_corpus" &&
        byId(i.toLong).getLong(2) === 7L,
        s"batch clone $i must collapse onto standing rep 7")
    }
  }

  test("twoSeConclusive: the exact-integer 2-SE test matches IEEE") {
    // (10a - 9t)^2 * t > 400 * a * (t - a)  <=>  |a/t - 0.9| > 2*SE
    def ieee(a: Long, t: Long): Boolean = {
      val p = a.toDouble / t
      math.abs(p - 0.9) > 2.0 * math.sqrt(p * (1 - p) / t)
    }
    val sp = spark
    import sp.implicits._
    // exhaustive cross-check at small tot (every boundary case the
    // squaring could distort lives here), spot values at the sample cap
    // scale, and the named cases below — one frame, one evaluation of
    // the helper and of q278's go rule (threshold AND conclusive)
    val exhaustive = for (t <- 1L to 60L; a <- 0L to t) yield (a, t)
    val spots = Seq((151L, 541L), (232L, 1000L), (900L, 1000L),
      (905L, 1000L), (950L, 1000L), (1000L, 1000L), (0L, 0L), (9L, 10L),
      (500L, 500L), (18L, 20L), (19L, 20L), (20L, 20L))
    val a = col("a")
    val t = col("t")
    val rows = (exhaustive ++ spots).toDF("a", "t")
      .select(a, t, ops.Centroids.twoSeConclusive(a, t).as("c"),
        (a * 10L >= t * 9L && ops.Centroids.twoSeConclusive(a, t))
          .as("go"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getBoolean(2),
        r.getBoolean(3)))
      .toMap
    def conclusive(a: Long, t: Long): Boolean = rows((a, t))._1
    def go(a: Long, t: Long): Boolean = rows((a, t))._2
    exhaustive.foreach { case (a, t) =>
      assert(conclusive(a, t) === ieee(a, t),
        s"a=$a t=$t: integer form must match the IEEE definition")
    }
    Seq((151L, 541L), (232L, 1000L), (900L, 1000L), (905L, 1000L),
      (950L, 1000L), (1000L, 1000L)).foreach { case (a, t) =>
      assert(conclusive(a, t) === ieee(a, t), s"a=$a t=$t")
    }
    assert(!conclusive(0L, 0L), "an empty sample is never conclusive")
    // a corpus sitting exactly ON the threshold is inconclusive at any tot
    assert(!conclusive(9L, 10L) && !conclusive(900L, 1000L),
      "p-hat = 0.90 exactly must read inconclusive")
    // both measured regimes sit far outside 2 SEs: the r11/r12/r13
    // committed readings (isotropic 151/541, blob-mixed 232/1000) and
    // planted locality (tot/tot)
    assert(conclusive(151L, 541L) && conclusive(232L, 1000L) &&
      conclusive(500L, 500L),
      "the committed regimes must read conclusive")
    // q278's go (threshold AND conclusive): a sample within 2 SEs of
    // the threshold reads no-go even when its point estimate clears 9/10
    assert(!go(18L, 20L),
      "18/20 = 0.90 exactly clears the threshold but is inconclusive " +
        "at tot=20")
    assert(!go(19L, 20L),
      "19/20 = 0.95 sits inside 2 SEs (0.0975) of the threshold at tot=20")
    assert(go(20L, 20L), "a unanimous sample has zero SE and goes")
    assert(go(950L, 1000L),
      "0.95 at the production cap is 5+ SEs above the threshold and goes")
    assert(!go(905L, 1000L),
      "0.905 at the cap is inside the ~(0.881, 0.919) band")
    assert(!go(151L, 541L) && !go(0L, 0L),
      "below-threshold and empty samples read no-go")
  }

  test("gate memos: one probe per corpus snapshot; an in-place rewrite " +
    "re-probes") {
    // ADVICE r12: canonicalized plans name relations by path, so both
    // memos also key on the file inventory — a corpus rewritten in
    // place (same path, same row count) must be re-probed, not served
    // the stale decision. The memos are NOT cleared between the
    // resolves: the inventory alone must tell the snapshots apart.
    val src = Paths.get(SparkSuite.sf, "embeddings.parquet")
    val dir = Scratch.lasting("graft-gate-memo")
    val path = dir.resolve("embeddings.parquet")
    Files.copy(src, path)
    def corpus() = spark.read.parquet(path.toString)
      .select(col("vec_id"), col("embedding"))
    def resolve(): Long =
      ops.Similarity.resolveNprobe(corpus(), 500L, autoProbeGate = 0L)
    val inv = Tables.fileInventory(corpus())
    assert(inv.contains("embeddings.parquet:"),
      s"a file-backed frame carries its inventory (got $inv)")
    val sp = spark
    import sp.implicits._
    assert(Tables.fileInventory(
      Seq((1L, Array(0.1f))).toDF("vec_id", "embedding")) === "",
      "an in-memory frame has no file inventory")
    ops.Similarity.clearGateMemoForTest()
    val np0 = ops.Similarity.nprobeRuns.get()
    val first = resolve()
    assert(resolve() === first, "a memo hit returns the same decision")
    assert(ops.Similarity.nprobeRuns.get() === np0 + 1,
      "two resolves of one snapshot must probe once")
    // same bytes, new mtime; the sleep sits above the 1 s mtime
    // granularity of coarse filesystems (ADVICE r13)
    Thread.sleep(1100)
    Files.copy(src, path, StandardCopyOption.REPLACE_EXISTING)
    assert(Tables.fileInventory(corpus()) !== inv,
      "an in-place rewrite must change the inventory via its mtime")
    assert(resolve() === first,
      "identical bytes re-probe to the same decision")
    assert(ops.Similarity.nprobeRuns.get() === np0 + 2,
      "a rewritten snapshot must be re-probed, not replayed stale")
  }

  test("q281 and q282 key one nprobe dial per corpus snapshot") {
    // each entry builds its own corpus frame; the two must canonicalize
    // to one memo key, or every session runs the full dial twice
    val probes = new java.util.concurrent.atomic.AtomicInteger
    def dial(e: org.apache.spark.sql.DataFrame): Int =
      ops.Similarity.gateDecision(e, 500L, 23L) {
        probes.incrementAndGet()
      }._1
    ops.Similarity.clearGateMemoForTest()
    val q281 = dial(Similarity.ivfCorpus(spark, SparkSuite.sf))
    val q282 = dial(Similarity.ivfCorpus(spark, SparkSuite.sf))
    assert(q281 === q282 && probes.get() === 1,
      "the two entries' corpus frames must share one dial")
    // the memo itself tells corpora apart: a frame that keeps `label`
    // is another plan and probes again
    dial(Tables.embeddings(spark, SparkSuite.sf))
    assert(probes.get() === 2)
    ops.Similarity.clearGateMemoForTest()
  }

  test("capped probe sample (r13): the modulus adapts so the audit/probe " +
    "sample is min(n/37, ~cap) and decisions are unchanged at the cap") {
    // VERDICT r12 #1: the proportional 1-in-37 sample made the go-probe
    // O(n^1.5/37) — the same exponent as the flat assignment it gates.
    // The pure sizing rule: 37 until n/37 would exceed the cap, then
    // ceil(n/cap) so the realized sample stays within a row of the cap.
    val cap = ops.Centroids.HierSampleCap
    assert(ops.Centroids.hierSampleMod(500L) === 37L,
      "oracle fixtures keep the historical modulus")
    assert(ops.Centroids.hierSampleMod(20480L) === 37L,
      "the sf1 scale fixture keeps the historical modulus (20480/37 " +
        "= 553 < cap) — every committed audit reading is unchanged")
    assert(ops.Centroids.hierSampleMod(37L * cap) === 37L &&
      ops.Centroids.hierSampleMod(37L * cap + 1L) === 38L,
      "the cap binds exactly where n/37 first exceeds it")
    val big = 40960L // the sf2 point: first committed fixture that binds
    assert(ops.Centroids.hierSampleMod(big) === (big + cap - 1L) / cap,
      "above the bind point the modulus is ceil(n/cap)")
    // sample size never exceeds cap + 1 across six decades
    Seq(1L, 500L, 20480L, 40960L, 1000000L, 4000000000L).foreach { n =>
      val m = ops.Centroids.hierSampleMod(n)
      assert(n / m <= cap + 1L, s"n=$n: sample ${n / m} exceeds the cap")
      assert(m >= 37L,
        s"n=$n: modulus must stay >= 37 so the residue class 3 exists")
    }
    // threading: probePicks' sample follows hierSampleMod(n) — drive
    // the 500-row locality corpus with a synthetic n large enough to
    // bind (m = ceil(100000/cap) = 100 -> ids 3,103,203,303,403), and
    // the agreement survives the coarser sample
    val sp = spark
    import sp.implicits._
    val rng = new scala.util.Random(11)
    val centers = Array.fill(9)(Array.fill(64)(rng.nextGaussian() * 10))
    val loc = (0 until 500).map { i =>
      (i.toLong, centers(i % 9).map(c =>
        (c + 0.01 * rng.nextGaussian()).toFloat))
    }.toDF("vec_id", "embedding")
    val locQv = ops.Centroids.quantized(loc)
    val picks = ops.Centroids.probePicks(locQv, 100000L, 23L)
      .filter(col("erk") === 1)
      .select(col("vec_id"), col("hrk")).collect()
    val lt = picks.length.toLong
    val la = picks.count(_.getInt(1) == 1).toLong
    assert(lt === 5L, // ids 3,103,203,303,403 under mod 100
      s"probe sample must shrink under the synthetic-n modulus (got $lt)")
    assert(la === lt, "locality still agrees fully on the capped sample")
  }

  test("nprobe auto-select (r13): the q275 dial drives the IVF knob — " +
    "locality picks 1, isotropic walks the dial, fixtures keep the " +
    "default without probing") {
    // VERDICT r12 #4: q275 reported the recall-vs-cost curve but
    // nothing consumed it. resolveNprobe probes the fixed query sample
    // once per corpus snapshot and picks the minimal dial point whose
    // sampled recall clears 9/10 — the same resolver shape as the
    // assignment gate.
    val sp = spark
    import sp.implicits._
    val rng = new scala.util.Random(7)
    // 8 well-separated blobs whose prototypes ARE vec_ids 0..7 — the
    // q76 fixed centroid slice — so every true neighbor shares its
    // query's inverted list and the nearest list suffices
    val centers = Array.fill(8)(Array.fill(64)(rng.nextGaussian() * 10))
    val loc = (0 until 400).map { i =>
      (i.toLong, centers(i % 8).map(c =>
        (c + 0.01 * rng.nextGaussian()).toFloat))
    }.toDF("vec_id", "embedding")
    val runs0 = ops.Similarity.nprobeRuns.get()
    ops.Similarity.clearGateMemoForTest()
    assert(ops.Similarity.resolveNprobe(loc, 400L, 0L) === 1L,
      "planted locality must pick the cheapest dial point")
    assert(ops.Similarity.nprobeRuns.get() === runs0 + 1)
    // isotropic: neighbors scatter across the 8 lists, so no proper
    // prefix of the dial clears 9/10 and the resolver walks to the
    // exact endpoint (nprobe = k probes every list — recall 1.0 by
    // construction, so a clearing point always exists)
    val iso = (0 until 400).map(i =>
      (i.toLong, Array.fill(64)(rng.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val got = ops.Similarity.resolveNprobe(iso, 400L, 0L)
    assert(got > ops.Similarity.IvfDefaultNprobe,
      s"isotropic must walk past the default dial point (got $got)")
    // memoized: the same corpus snapshot never re-probes
    assert(ops.Similarity.resolveNprobe(iso, 400L, 0L) === got)
    assert(ops.Similarity.nprobeRuns.get() === runs0 + 2,
      "second resolve must hit the memo")
    // below the probe floor (every oracle fixture): the historical
    // default, zero probes — q76's oracle rows unchanged by construction
    assert(ops.Similarity.resolveNprobe(loc, 400L)
      === ops.Similarity.IvfDefaultNprobe)
    assert(ops.Similarity.nprobeRuns.get() === runs0 + 2)
    // and the retrieval core at the default equals the registered q76
    // on the fixture — the parameterization is a pure refactor
    val e = Tables.embeddings(spark, SparkSuite.sf)
    val viaCore = ops.Similarity.ivfTopk(e,
      ops.Similarity.IvfDefaultNprobe).collect()
    val viaQ76 = ops.Similarity.q76IvfTopk(spark, SparkSuite.sf).collect()
    assert(viaQ76.toSeq === viaCore.toSeq)
  }

  test("q280 resolver dial IS the resolver's decision input: the " +
    "minimal clearing row equals the pick, clears is the exact test") {
    val e = Tables.embeddings(spark, SparkSuite.sf)
      .select(col("vec_id"), col("embedding"))
    val rows = ops.Similarity.resolverDial(e).collect()
      .sortBy(_.getLong(0))
    assert(rows.nonEmpty, "the fixture covers the [8,13) probe slice")
    rows.foreach { r =>
      assert((r.getLong(1) * 10L >= r.getLong(2) * 9L)
        === (r.getLong(3) === 1L),
        s"clears must be the exact 9/10 integer test at nprobe " +
          s"${r.getLong(0)}")
    }
    val expected = rows.find(_.getLong(3) === 1L).map(_.getLong(0))
      .getOrElse(8L)
    ops.Similarity.clearGateMemoForTest()
    val pick = ops.Similarity.resolveNprobe(e, e.count(),
      autoProbeGate = 0L)
    assert(pick === expected,
      "the resolver's pick must be q280's minimal clearing dial row")
  }

  test("resolveNprobe on a corpus missing the probe-query ids: " +
    "conservative endpoint") {
    val sp = spark
    import sp.implicits._
    // ids start at 1000 — the [k, k+5) probe slice is empty
    val rng = new scala.util.Random(7)
    val e = (0 until 60).map(i =>
      (1000L + i, Array.fill(64)(rng.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    ops.Similarity.clearGateMemoForTest()
    assert(ops.Similarity.resolveNprobe(e, 60L, autoProbeGate = 0L) === 8L,
      "an empty dial must fall back to the conservative endpoint")
  }

  test("q281 scaled-k IVF: probing every list reproduces the exact " +
    "brute-force ground truth; the registered form is deterministic") {
    val e = Tables.embeddings(spark, SparkSuite.sf)
      .select(col("vec_id"), col("embedding"))
    val n = e.count()
    val k = math.max(2L, math.ceil(math.sqrt(n.toDouble)).toLong)
    // endpoint anchor at the scaled k: every list probed ⇒ the
    // candidate set is the whole corpus minus the query, so the top-5
    // must equal q75's brute force row for row (scores + tie-breaks)
    val full = ops.Similarity.ivfTopk(e, nprobe = k, k = k).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    val brute = ops.Similarity.q75BruteTopk(spark, SparkSuite.sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(full.toSeq === brute.toSeq)
    // the registered q281 (resolver default below the gate, nprobe 2)
    // returns 5 rows per query with ranks 1..5
    val out = ops.Similarity.q281IvfScaled(spark, SparkSuite.sf).collect()
    val byQ = out.groupBy(_.getLong(0))
    byQ.foreach { case (_, rs) =>
      assert(rs.map(_.getInt(3)).sorted.toSeq === (1 to rs.length)) }
  }

  test("assignParallelism clamps in Long at the 100 TB design point " +
    "(ADVICE r10: the raw quotient wraps negative past Int.MaxValue)") {
    // n = 4e9 vectors, k = ceil(sqrt(n)): n·k/budget ≈ 2.5e9 >
    // Int.MaxValue — the unclamped toInt wrapped negative and max()
    // silently restored the session floor (the one-task collapse the
    // device exists to prevent). Clamped, it returns the ceiling.
    val n = 4000000000L
    val k = math.ceil(math.sqrt(n.toDouble)).toLong
    assert(n * k / 100000L > Int.MaxValue.toLong,
      "precondition: this point must actually overflow Int")
    val got = ops.Centroids.assignParallelism(spark, n, k)
    assert(got === ops.Scale.MaxCountedTasks,
      s"expected the MaxCountedTasks clamp, got $got")
    assert(ops.Scale.hashBuildParallelism(spark, Long.MaxValue / 4)
      === ops.Scale.MaxCountedTasks, "hashBuildParallelism shares the clamp")
  }

  test("q275 IVF sweep: candidates and hits are monotone in nprobe, and " +
    "the full-dial endpoint is exact (recall 1.0)") {
    val out = ops.Similarity.q275IvfSweep(spark, SparkSuite.sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    val queries = out.keys.map(_._2).toSeq.distinct
    assert(out.size === 4 * queries.size, "one row per (nprobe, query)")
    queries.foreach { q =>
      // probing more lists can only ADD candidates, and the candidate
      // set is a superset of every smaller dial point's — so both the
      // scan cost and the hit count are monotone along the dial
      val dial = Seq(1L, 2L, 4L, 8L).map(out(_, q))
      dial.sliding(2).foreach { case Seq((c1, h1, _), (c2, h2, _)) =>
        assert(c1 <= c2, s"query $q: n_cands must be monotone in nprobe")
        assert(h1 <= h2, s"query $q: n_hits must be monotone in nprobe")
      }
      // nprobe = k probes EVERY list: the candidate set is the whole
      // corpus minus self, the scoring and tie-break match q75's, so
      // the retrieval IS the exact ground truth — recall exactly 1.0.
      val (cAll, hAll, rAll) = out((8L, q))
      val n = Tables.embeddings(spark, SparkSuite.sf).count()
      assert(cAll === n - 1, s"query $q: full dial must scan the corpus")
      assert(hAll === 5L && rAll === 1.0,
        s"query $q: the full-dial endpoint must be exact")
    }
  }

  test("q269 JL distortion is unbiased and exactly reproducible") {
    val sfDir = SparkSuite.sf
    val out = ops.Quantize.q269JlProjection(spark, sfDir).collect()
    // q73's band pairs: vec_id+1..vec_id+5 clipped at the corpus edge
    val n = Tables.embeddings(spark, sfDir).count()
    assert(out.length === (5L * n - 15L), "band-pair cardinality")
    val ds = out.map(_.getDouble(4))
    // JL unbiasedness: E[proj_d2 / (m·orig_d2)] = 1; stderr of the mean
    // over ~2.5k pairs at m=16 is ~0.016 — [0.9, 1.1] is 6σ-safe
    val mean = ds.sum / ds.length
    assert(mean > 0.9 && mean < 1.1, s"mean distortion $mean")
    // integer exactness: a different partitioning must produce the SAME
    // rows bit-for-bit (the groupBy sums are BIGINT, not IEEE folds)
    val conf = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "7")
      val again = ops.Quantize.q269JlProjection(spark, sfDir).collect()
      assert(again.toSeq === out.toSeq, "partitioning changed the result")
    } finally spark.conf.set("spark.sql.shuffle.partitions", conf)
  }
}
