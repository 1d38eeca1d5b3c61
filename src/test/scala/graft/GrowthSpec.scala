package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Text

/** q167 vocabulary growth — the batch-wise new-type accounting must tie
  * out against the corpus-level distinct count. */
class GrowthSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.session

  test("q167: final vocab_size equals the corpus distinct-token count") {
    import org.apache.spark.sql.functions._
    val rows = Text.q167VocabGrowth(spark, SparkSuite.sf).collect()
    val finalVocab = rows.last.getLong(4)
    val distinctToks = Tables.documents(spark, SparkSuite.sf)
      .select(explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .agg(countDistinct(col("tok"))).collect()(0).getLong(0)
    assert(finalVocab === distinctToks)
    assert(rows.map(_.getLong(3)).sum === finalVocab,
      "new types across batches partition the vocabulary")
  }

  test("q167: vocab_size is the running sum and batches are ordered") {
    val rows = Text.q167VocabGrowth(spark, SparkSuite.sf).collect()
    assert(rows.map(_.getLong(0)).toSeq === rows.map(_.getLong(0)).sorted.toSeq)
    var run = 0L
    rows.foreach { r =>
      run += r.getLong(3)
      assert(r.getLong(4) === run, s"running total breaks at batch ${r.getLong(0)}")
    }
  }

  test("q225 BPE trainer: known merge sequence on a planted corpus") {
    import spark.implicits._
    // "aaab"×3: round 1 counts (a,a)=6 > (a,b)=3 → merge aa; round 2 has
    // (aa,a)=3 and (a,b)=3 tied — 'ab' < 'aaa' so the
    // lexicographic tie-break adopts (a,b); round 3 must merge (aa,ab).
    // This pins leftmost-first re-tokenization ("a a a b" → "aa a b", not
    // "a aa b") AND the tie-break in one corpus.
    val docs = Seq((0L, "aaab aaab"), (1L, "aaab")).toDF("doc_id", "text")
      .withColumn("n_chars", org.apache.spark.sql.functions.length($"text"))
    val dir = Scratch.lasting("bpe").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Text.q225BpeTrain(spark, dir).collect()
    val got = out.map(r => (r.getAs[Int]("round"), r.getAs[String]("tok_a"),
      r.getAs[String]("tok_b"), r.getAs[String]("merged"),
      r.getAs[Long]("pair_count"))).toSeq
    assert(got === Seq((1, "a", "a", "aa", 6L), (2, "a", "b", "ab", 3L),
      (3, "aa", "ab", "aaab", 3L)))
  }

  test("q226 encode: tokenization conserves chars and bounds fertility") {
    import org.apache.spark.sql.functions._
    val rows = Text.q226BpeEncode(spark, SparkSuite.sf).collect()
    rows.foreach { r =>
      val (w, t, c) = (r.getAs[Long]("n_words"), r.getAs[Long]("n_bpe_tokens"),
        r.getAs[Long]("n_chars"))
      // every word is ≥1 token, every token ≥1 char, merges only shrink
      assert(w <= t && t <= c, s"token bounds violated: $w/$t/$c")
      assert(r.getAs[Double]("fertility") === t.toDouble / w)
    }
    // chars are conserved: per-source totals equal a direct recompute
    val direct = Tables.documents(spark, SparkSuite.sf)
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy("source").agg(sum(length(col("w"))).as("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach(r =>
      assert(r.getAs[Long]("n_chars") === direct(r.getAs[String]("source"))))
  }

  test("q225 BPE trainer: adopted pair counts never increase across rounds") {
    // A merge removes the argmax pair; pairs it creates are bounded by its
    // count and untouched pairs keep theirs — so the adopted count is
    // nonincreasing. (Law of the mechanism, checked on the real fixture.)
    val counts = Text.q225BpeTrain(spark, SparkSuite.sf)
      .orderBy("round").collect().map(_.getAs[Long]("pair_count"))
    assert(counts.length === Text.BpeRounds)
    counts.sliding(2).foreach { case Array(a, b) =>
      assert(b <= a, s"adopted pair count grew: $a -> $b")
    }
  }
}
