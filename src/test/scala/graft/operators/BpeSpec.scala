package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class BpeSpec extends SparkSpec {
  import spark.implicits._

  test("applyMerge merges ALL consecutive occurrences left-to-right (the doubling trick)") {
    val out = Seq(" a a a a ", " a a a ", " a b a b ", " x a b y ", " a ")
      .toDF("seq")
      .select(Bpe.applyMerge(col("seq"), "a a").as("m"))
      .as[String].collect()
    // greedy left-to-right BPE: aaaa -> (aa)(aa); aaa -> (aa)a; a naive
    // single replace would yield ' aa a aa ' on the first case because the
    // match consumes the shared boundary space
    assert(out.toSeq === Seq(" aa aa ", " aa a ", " a b a b ", " x a b y ", " a "))
  }

  test("learnMerges recovers the planted argmax sequence with lexicographic tie-break") {
    // 'abab' x3, 'ab' x2: round 1 pairs: (a b)=8 via abab(2)*3 + ab*2, (b a)=3
    val vocab = Seq(("abab", 3L), ("ab", 2L)).toDF("word", "freq")
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    val merges = Bpe.learnMerges(vocab, 2)
    assert(spark.sparkContext.getPersistentRDDs.keySet == persisted, "round checkpoints freed")
    assert(merges.head === ((1, "a b", "ab", 8L)))
    // after merging: ' ab ab ' x3 and ' ab ' x2 -> round 2: (ab ab)=3
    assert(merges(1) === ((2, "ab ab", "abab", 3L)))
  }

  test("fertility report is internally consistent") {
    val rows = graft.SparkEntry.queries("q142_bpe_fertility")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (w, t, f) = (r.getAs[Long]("n_words"), r.getAs[Long]("n_tokens"),
        r.getAs[Double]("fertility"))
      assert(t >= w, "a word is at least one token")
      assert(math.abs(f - t.toDouble / w.toDouble) == 0.0)
    }
  }
}
