package graft

import graft.core.{LanguageModel, Materialize}
import org.apache.spark.sql.functions._

class LanguageModelSpec extends SparkSpec {
  import spark.implicits._

  private val corpus = Seq(
    (0L, "the cat sat on the mat"),
    (1L, "the cat ate the fish"),
    (2L, "the dog sat on the rug")
  ).toDF("doc_id", "text")

  test("trainBigram: exact counts, contexts, vocabulary") {
    val lm = LanguageModel.trainBigram(corpus)
    val big = lm.bigrams.as[(String, String, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(big(("the", "cat")) == 2L)
    assert(big(("sat", "on")) == 2L)
    assert(big(("on", "the")) == 2L)
    assert(big(("the", "mat")) == 1L)
    val ctx = lm.contexts.as[(String, Long)].collect().toMap
    assert(ctx("the") == 6L) // the->{cat,cat,mat,fish,dog,rug}
    assert(ctx("sat") == 2L)
    // vocab: the cat sat on mat ate fish dog rug = 9
    assert(lm.vocabSize == 9L)
  }

  test("scoreBigram: fixed-point log-likelihood matches hand computation") {
    val lm = LanguageModel.trainBigram(corpus)
    val doc = Seq((7L, "the cat sat")).toDF("doc_id", "text")
    val out = LanguageModel.scoreBigram(doc, lm).head()
    // P(cat|the) = (2+1)/(6+9), P(sat|cat) = (1+1)/(2+9)
    val expected =
      math.floor(1e6 * math.log(3.0 / 15.0)).toLong +
      math.floor(1e6 * math.log(2.0 / 11.0)).toLong
    assert(out.getAs[Long]("n_bigrams") == 2L)
    assert(out.getAs[Long]("n_oov") == 0L)
    assert(out.getAs[Long]("ll_scaled") == expected)
  }

  test("scoreBigram: OOV bigrams and short docs") {
    val lm = LanguageModel.trainBigram(corpus)
    val docs = Seq(
      (10L, "quantum flux"),     // both tokens unseen: 1 OOV bigram
      (11L, "word"),             // < 2 tokens: all zeros
      (12L, "the zebra")         // seen context, unseen bigram
    ).toDF("doc_id", "text")
    val rows = LanguageModel.scoreBigram(docs, lm)
      .orderBy("doc_id").collect()
    assert(rows(0).getAs[Long]("n_oov") == 1L)
    // unseen context: P = 1/V
    assert(rows(0).getAs[Long]("ll_scaled") ==
      math.floor(1e6 * math.log(1.0 / 9.0)).toLong)
    assert(rows(1).getAs[Long]("n_bigrams") == 0L &&
      rows(1).getAs[Long]("ll_scaled") == 0L)
    // seen context "the" (6) + add-one over V=9
    assert(rows(2).getAs[Long]("n_oov") == 1L)
    assert(rows(2).getAs[Long]("ll_scaled") ==
      math.floor(1e6 * math.log(1.0 / 15.0)).toLong)
  }

  test("LM separates in-domain text from token-garbled text; partition-invariant") {
    val docs = Tables.documents(spark, Sf0001)
    val lm = LanguageModel.trainBigram(docs.filter($"doc_id" % 2 === 0))
    val held = docs.filter($"doc_id" % 2 === 1)
    // garble: reverse every token's characters — same lengths/stats,
    // out-of-vocabulary everywhere
    val garbled = held.withColumn("text",
      array_join(transform(split(trim($"text"), "\\s+"), t => reverse(t)), " "))
    def meanNll(df: org.apache.spark.sql.DataFrame): Double =
      LanguageModel.scoreBigram(df, lm)
        .filter($"n_bigrams" > 0)
        .agg(avg(-$"ll_scaled" / $"n_bigrams" / 1e6)).head().getDouble(0)
    val inDomain = meanNll(held)
    val garbage = meanNll(garbled)
    assert(inDomain < garbage,
      s"in-domain NLL $inDomain should beat garbled $garbage")
    // exact integer outputs are partitioning-invariant
    val a = LanguageModel.scoreBigram(held, lm)
      .orderBy("doc_id").as[(Long, Long, Long, Long)].collect().toSeq
    val b = LanguageModel.scoreBigram(held.repartition(17), lm)
      .orderBy("doc_id").as[(Long, Long, Long, Long)].collect().toSeq
    assert(a == b)
  }

  test("DSIR: weights rank target-like docs first; resample is deterministic") {
    val target = (0L until 20L).map(i => (1000L + i, "cat dog pet animal fur cat dog"))
      .toDF("doc_id", "text")
    val raw = ((0L until 10L).map(i => (i, "cat dog pet animal fur paws")) ++
      (10L until 20L).map(i => (i, "stock market bond yield price index")))
      .toDF("doc_id", "text")
    val w = LanguageModel.dsirWeights(raw, target, buckets = 256)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r._2).toMap
    val petMin = (0L until 10L).map(w).min
    val stockMax = (10L until 20L).map(w).max
    assert(petMin > stockMax,
      s"every pet doc ($petMin) should outweigh every finance doc ($stockMax)")
    // tau=0: pure argmax-k by weight — must pick exactly the pet docs
    val top = LanguageModel.dsirResample(raw, target, k = 10,
        buckets = 256, tauMicro = 0L)
      .select($"doc_id").as[Long].collect().toSet
    assert(top == (0L until 10L).toSet)
    // tau=1: deterministic across runs and partitionings
    val r1 = LanguageModel.dsirResample(raw, target, k = 10, buckets = 256)
      .as[(Long, Long, Long, Long)].collect().toSeq
    val r2 = LanguageModel.dsirResample(raw.repartition(7), target, k = 10,
      buckets = 256).as[(Long, Long, Long, Long)].collect().toSeq
    assert(r1 == r2)
    assert(r1.map(_._1) == (1L to 10L)) // contiguous ranks
  }

  test("mooreLewis: in-domain docs outrank general docs; score is the " +
      "truncated scoreBigram difference quotient (the DIV//DuckDB-// " +
      "shared convention for signed values)") {
    // in-domain: pet text; general: finance text
    val pets = (0L until 8L).map(i =>
      (i, "the fluffy cat chased the playful dog around the garden"))
    val fin = (8L until 16L).map(i =>
      (i, "the quarterly stock report showed strong bond yields today"))
    Materialize.scope {
      val inLm = LanguageModel.trainBigram(pets.toDF("doc_id", "text"))
      val genLm = LanguageModel.trainBigram(fin.toDF("doc_id", "text"))
      val probe = Seq(
        (100L, "the fluffy cat chased the dog"),
        (101L, "the quarterly stock report today"),
        (102L, "x"))
      val got = LanguageModel.mooreLewis(probe.toDF("doc_id", "text"),
          inLm, genLm)
        .as[(Long, Long, Long, Long, Long)].collect()
        .map(r => r._1 -> r).toMap
      // pet-like doc scores ABOVE finance-like doc
      assert(got(100L)._5 > got(101L)._5,
        s"${got(100L)} should outrank ${got(101L)}")
      // score == (ll_in - ll_gen) quot n exactly (truncation toward
      // zero — Scala Long division shares the convention)
      got.values.filter(_._2 > 0).foreach { case (_, n, in_, gen, s) =>
        assert(s == (in_ - gen) / n)
      }
      assert(got(101L)._5 < 0)  // the general LM prefers the finance doc
      assert(got(102L) == ((102L, 0L, 0L, 0L, 0L))) // < 2 tokens
    }
  }
}
