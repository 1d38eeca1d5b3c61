package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Scaling probe: replicates the fact tables k× in memory (ids offset per
  * copy so key cardinality scales too) and times representative operators,
  * to check the plans scale linearly rather than quadratically before the
  * driver's per-round bench. Usage: runMain graft.Soak [sfDir] [k]
  */
object Soak {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val k = args.lift(1).map(_.toInt).getOrElse(10)
    val spark = Sessions.local(Sessions.cpus, "graft-soak")
    spark.sparkContext.setLogLevel("WARN")

    def replicate(df: DataFrame, idCol: String): DataFrame = {
      val maxRow = df.agg(max(col(idCol)).cast("long")).head()
      require(!maxRow.isNullAt(0), s"empty table, cannot replicate on $idCol")
      val span = maxRow.getLong(0) + 1
      (0 until k).map(i =>
        df.withColumn(idCol, col(idCol) + lit(i * span)))
        .reduce(_.unionByName(_))
    }

    val li = replicate(Tables.lineitem(spark, sfDir), "l_orderkey")
      .cache()
    val o = replicate(Tables.orders(spark, sfDir), "o_orderkey").cache()
    val docs = replicate(Tables.documents(spark, sfDir), "doc_id").cache()
    println(s"rows: lineitem=${li.count()} orders=${o.count()} " +
      s"documents=${docs.count()}")

    def time(name: String)(body: => Unit): Unit = {
      val t0 = System.nanoTime()
      body
      println(f"$name%-22s ${(System.nanoTime() - t0) / 1e9}%.2fs")
    }

    time("agg_group") {
      li.groupBy("l_returnflag", "l_linestatus")
        .agg(sum(col("l_extendedprice").cast(DecimalType(18, 2))),
          count(lit(1))).collect()
    }
    time("join_sortmerge") {
      o.join(li, col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderpriority").agg(count(lit(1))).collect()
    }
    time("window_rank") {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(desc("o_totalprice"), col("o_orderkey"))
      o.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
        .collect()
    }
    time("minhash_lsh") {
      graft.ops.Dedup.minhashClusters(docs).agg(count(lit(1))).collect()
    }
    time("ngram_jaccard") {
      graft.ops.Dedup.ngramJaccard(docs, 10L).agg(count(lit(1))).collect()
    }
    // Candidate growth of the production LSH near-dup path must stay
    // near-LINEAR in corpus size (the derived bucket geometry holds expected
    // bucket population constant). Synthetic pseudo-random directions, not
    // replicas — identical copies are true near-dups, whose pair count is
    // quadratic by definition.
    time("lsh_neardup_scaling") {
      // fract(sin(x)·43758.5453) per component (the classic shader hash):
      // effectively iid uniform. A plain sin(id·64+j) is NOT usable —
      // sin(64i+j) = sin(64i)cos(j)+cos(64i)sin(j) puts every vector on a
      // circle in a 2-D subspace, where more LSH bits cannot shrink buckets
      // and candidate growth is quadratic for any geometry.
      def synth(n: Int): DataFrame =
        spark.range(n).select(col("id").as("vec_id"),
          expr("transform(sequence(0, 63), " +
            "j -> CAST(sin(CAST(id * 64 + j AS DOUBLE)) * 43758.5453 " +
            "- floor(sin(CAST(id * 64 + j AS DOUBLE)) * 43758.5453) " +
            "- 0.5 AS FLOAT))")
            .as("embedding"))
      val c1 = graft.ops.Similarity.lshNearDups(synth(4000), -1.0).count()
      val c2 = graft.ops.Similarity.lshNearDups(synth(8000), -1.0).count()
      println(f"  candidate pairs: n=4000 -> $c1, n=8000 -> $c2 " +
        f"(ratio ${c2.toDouble / c1}%.2f; quadratic would be ~4)")
      require(c2.toDouble / c1 < 3.0,
        s"candidate growth is super-linear: $c1 -> $c2")
    }
    // Connected components must scale with the ACTIVE set (edge-touched
    // nodes), not the corpus: replication multiplies singletons and
    // in-band clusters alike while leaving component diameters unchanged
    // (the id offsets keep copies out of each other's bands), so runtime
    // grows ~linearly in k and the round count stays flat.
    time("dup_groups_cc") {
      graft.ops.Components.dupGroups(docs)
        .agg(count(lit(1))).collect()
    }
    // The custom heap operator vs the window form it replaces, on the
    // replicated table: the window sorts every partition of the full
    // table, the heap keeps k rows per group — the gap widens with k×SF.
    time("grouped_topk_window") {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(desc("o_totalprice"), col("o_orderkey"))
      o.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
        .drop("rn").agg(count(lit(1))).collect()
    }
    time("grouped_topk_custom") {
      graft.plans.GroupedTopK.topKPerKey(o, Seq("o_orderpriority"),
        Seq("o_totalprice" -> true, "o_orderkey" -> false), 3)
        .agg(count(lit(1))).collect()
    }
    // Triangle counting at fixed average degree must scale ~linearly in
    // the edge count (per-edge intersect cost is bounded by the oriented
    // out-degree, which the degree distribution — not the graph size —
    // controls). Lineitem replication can't probe this (copied orders
    // reuse the same part pairs, so the distinct edge set never grows);
    // a congruential synthetic graph doubles nodes and edges together.
    time("triangle_scaling") {
      def synthEdges(n: Long): DataFrame =
        spark.range(4 * n).select(
          pmod(col("id") * 2654435761L + 11, lit(n)).as("a"),
          pmod(col("id") * 3141592653L + 7, lit(n)).as("b"))
          .filter(col("a") =!= col("b"))
          .select(least(col("a"), col("b")).as("pa"),
            greatest(col("a"), col("b")).as("pb"))
          .distinct()
      def t(n: Long): Double = {
        val t0 = System.nanoTime()
        graft.ops.Graph.triangleCounts(synthEdges(n).localCheckpoint())
          .agg(sum(col("n_tri"))).collect()
        (System.nanoTime() - t0) / 1e9
      }
      val (t1, t2) = (t(50000), t(100000))
      println(f"  triangles: n=50k ${t1}%.2fs, n=100k ${t2}%.2fs " +
        f"(ratio ${t2 / t1}%.2f; quadratic would be ~4)")
      require(t2 / t1 < 3.2, s"triangle scaling super-linear: $t1 -> $t2")
    }
    // Replication multiplies gram multiplicity per hash (copies share
    // grams), so the novelty min-agg and the decontamination broadcast join
    // both hit their hot-key paths — runtime must stay ~linear in k because
    // both collapse hot grams map-side before the shuffle.
    time("curation_novelty") {
      graft.ops.Curation.novelty(docs).agg(count(lit(1))).collect()
    }
    time("curation_decontaminate") {
      graft.ops.Curation.decontaminate(docs,
        pmod(col("doc_id"), lit(20L)) === lit(7L))
        .agg(count(lit(1))).collect()
    }
    // K-means assignment is N·k rows post-aggregation; doubling N must
    // ~double runtime (broadcast centroids keep the join shuffle-free).
    time("kmeans_scaling") {
      def synth(n: Int): DataFrame =
        spark.range(n).select(col("id").as("vec_id"),
          expr("transform(sequence(0, 63), " +
            "j -> CAST(sin(CAST(id * 64 + j AS DOUBLE)) * 43758.5453 " +
            "- floor(sin(CAST(id * 64 + j AS DOUBLE)) * 43758.5453) " +
            "- 0.5 AS FLOAT))")
            .as("embedding"))
      def t(n: Int): Double = {
        val t0 = System.nanoTime()
        graft.ops.Centroids.kmeansStep(synth(n), 8)
          .agg(count(lit(1))).collect()
        (System.nanoTime() - t0) / 1e9
      }
      val (t1, t2) = (t(20000), t(40000))
      println(f"  kmeans step: n=20k ${t1}%.2fs, n=40k ${t2}%.2fs " +
        f"(ratio ${t2 / t1}%.2f; quadratic would be ~4)")
    }
    // Boilerplate removal: replication multiplies every term's document
    // frequency AND the corpus size by k, so the >pct% threshold decides
    // identically — runtime must stay linear (vocab-bounded DF aggregate +
    // broadcast anti-join; no corpus self-join to go quadratic).
    time("boilerplate_removal") {
      graft.ops.Text.removeBoilerplate(docs, graft.ops.Text.boilerplateDocPct)
        .agg(count(lit(1))).collect()
    }
    // Chunking is pure map expansion: rows out ≈ k × rows out at k=1.
    time("chunking") {
      graft.ops.Chunking.chunkTokens(
        docs.select(col("doc_id"), col("text")), "text", 32, 24)
        .agg(count(lit(1))).collect()
    }
    // Fuzzy join under replication: the dirty/clean NAME sets are
    // unchanged (copies repeat the same names), so the levenshtein pair
    // count must stay FLAT — only the two distinct-aggregates grow with k.
    // This is the probe that fails if someone reverts to row-level pairs
    // (pair count would grow k², the fuzzy-join mega-bucket bug).
    // Prefix-filtered set-similarity join: on a high-entropy corpus (random
    // 30-token docs over a 5k vocab; 5-gram shingles are df=1 noise) with
    // near-dups planted at a fixed 1% RATE, both the result pairs and the
    // candidate pairs grow ~linearly in n — doubling n must ~double output
    // and not blow up runtime. Replicated fixture docs are unusable here
    // for the same reason as the LSH probe: identical copies are true
    // near-dups, quadratic by definition.
    time("setsim_prefix_scaling") {
      def synth(n: Int): DataFrame = {
        // doc i copies doc i-1 when i%100==1 (the planted 1% dup rate);
        // the shader-hash word index is iid-uniform over the vocab
        val base = "id - CAST(id % 100 = 1 AS BIGINT)"
        spark.range(n).select(col("id").as("doc_id"),
          expr(s"""concat_ws(' ', transform(sequence(0, 29),
            j -> concat('w', CAST(floor(
              (sin(CAST(($base) * 30 + j AS DOUBLE)) * 43758.5453
               - floor(sin(CAST(($base) * 30 + j AS DOUBLE)) * 43758.5453))
              * 5000) AS INT))))""").as("text"))
      }
      def t(n: Int): (Double, Long) = {
        val t0 = System.nanoTime()
        val c = graft.ops.SetSim.similarPairs(synth(n)).count()
        ((System.nanoTime() - t0) / 1e9, c)
      }
      val ((t1, c1), (t2, c2)) = (t(4000), t(8000))
      println(f"  setsim: n=4000 $c1 pairs ${t1}%.2fs; " +
        f"n=8000 $c2 pairs ${t2}%.2fs (pair ratio ${c2.toDouble / c1}%.2f)")
      require(c2.toDouble / c1 < 3.0,
        s"setsim pair growth is super-linear: $c1 -> $c2")
    }
    // PageRank iterations are join+aggregate on (node, rank): replicated
    // copies form disjoint subgraphs (id offsets), so runtime must grow
    // ~linearly with k and ranks within each copy are unchanged.
    time("pagerank_2iter") {
      val pairs = o.join(li, col("o_orderkey") === col("l_orderkey"))
        .select(concat(lit("c"), col("o_custkey")).as("src"),
          concat(lit("s"), col("l_suppkey")).as("dst")).distinct()
      val edges = pairs.unionAll(
        pairs.select(col("dst").as("src"), col("src").as("dst")))
      val outdeg = edges.groupBy("src").agg(count(lit(1)).as("outdeg"))
      val degreed = edges.join(outdeg, "src")
      val r0 = edges.select(col("src").as("node")).distinct()
        .select(col("node"), lit(graft.ops.Graph.Unit).as("rank"))
      graft.ops.Graph.iterate(graft.ops.Graph.iterate(r0, degreed), degreed)
        .agg(count(lit(1))).collect()
    }
    time("fuzzy_join_flat_pairs") {
      val parts = replicate(Tables.part(spark, sfDir), "p_partkey")
      val base = graft.ops.Fuzzy.q103FuzzyJoin(spark, sfDir).count()
      // the same query over the replicated frame, via the SHARED builders
      val (dirty, clean) = graft.ops.Fuzzy.nameLevelFrames(parts)
      val repl = graft.ops.Fuzzy.fuzzyJoin(dirty, clean, "dirty_name",
        "clean_name", graft.ops.Fuzzy.prefixLengthBlock,
        graft.ops.Fuzzy.maxDistance).count()
      println(s"  name-level pairs: base=$base, ${k}x replicated=$repl")
      require(repl == base,
        s"pair count grew under replication: $base -> $repl")
    }
    spark.stop()
  }
}
