package graft.core

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** In-engine byte-pair-encoding tokenizer (Sennrich et al. 2016) —
  * the subword vocabulary step between corpus curation and sequence
  * packing in an LM training pipeline.
  *
  * Distribution strategy follows the trainer discipline used across
  * this repo (distributed statistics, driver solves the bounded small
  * problem): BPE training NEVER iterates over the corpus — it
  * iterates over the WORD-FREQUENCY DICTIONARY, whose size is a
  * property of the language (≈10⁵–10⁶ types under Zipf), not of the
  * corpus. So:
  *
  *   - the dictionary is one corpus-scale aggregation (explode →
  *     count), min-frequency-filtered and deterministically capped;
  *   - the merge loop runs driver-side over that bounded dict (the
  *     standard single-node regime of production BPE trainers, fed
  *     here by a distributed count instead of a single-node scan);
  *   - ENCODING is fully distributed: merge ranks broadcast, one
  *     mapPartitions pass with a per-partition word→pieces memo —
  *     under Zipf the memo hit rate makes encoding ≈ a dictionary
  *     lookup per token.
  *
  * Merge semantics are the canonical ones: count every adjacent
  * symbol pair (overlapping occurrences included) weighted by word
  * frequency; merge the most frequent pair (ties broken
  * lexicographically, so training is deterministic); apply leftmost
  * non-overlapping within each word; stop at `numMerges` or when no
  * pair reaches `minFrequency`. Words end with an explicit
  * end-of-word symbol so suffixes tokenize differently from prefixes.
  *
  * Not SQL-expressible (the merge loop is an iterated argmax-rewrite
  * fixpoint), so the gate query is rows-only; `BpeSpec` pins the
  * classic worked example, parity with an independently written
  * reference implementation, reconstruction, and partition
  * invariance.
  */
object Bpe {

  val EndOfWord = "</w>"

  /** merges in learned order; rank = position. */
  final case class Model(merges: Seq[(String, String)]) {
    lazy val ranks: Map[(String, String), Int] =
      merges.zipWithIndex.toMap
  }

  /** The distributed word-frequency dictionary. */
  def wordCounts(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(TextAnalysis.tokens(col(textCol))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("cnt"))

  /** Learn `numMerges` merges from the corpus' word dictionary.
    *
    * @param maxVocab deterministic cap on dictionary rows brought to
    *                 the driver (top by (cnt desc, word)) — the
    *                 bounded-driver-work guard. Truncation drops only
    *                 the rarest types, which by construction cannot
    *                 win a merge vote against the head.
    */
  def train(df: DataFrame, textCol: String, numMerges: Int,
            minFrequency: Long = 2L, maxVocab: Int = 2000000): Model = {
    val dict: Array[(String, Long)] = wordCounts(df, textCol)
      .filter(col("cnt") >= minFrequency)
      .orderBy(col("cnt").desc, col("word"))
      .limit(maxVocab)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    trainFromDict(dict, numMerges, minFrequency)
  }

  /** The merge loop itself, driver-side over the bounded dict. */
  def trainFromDict(dict: Array[(String, Long)], numMerges: Int,
                    minFrequency: Long = 2L): Model = {
    val words: Array[Array[String]] =
      dict.map { case (w, _) => w.map(_.toString).toArray :+ EndOfWord }
    val counts = dict.map(_._2)
    val merges = mutable.ArrayBuffer.empty[(String, String)]
    var continue = numMerges > 0
    while (continue) {
      val pairCounts = mutable.HashMap.empty[(String, String), Long]
      var wi = 0
      while (wi < words.length) {
        val s = words(wi); val c = counts(wi)
        var i = 0
        while (i < s.length - 1) {
          val p = (s(i), s(i + 1))
          pairCounts.update(p, pairCounts.getOrElse(p, 0L) + c)
          i += 1
        }
        wi += 1
      }
      // deterministic argmax: count desc, then pair lexicographic
      val best = pairCounts.foldLeft(Option.empty[((String, String), Long)]) {
        case (acc, (p, c)) => acc match {
          case Some((bp, bc)) =>
            if (c > bc || (c == bc &&
              (p._1 < bp._1 || (p._1 == bp._1 && p._2 < bp._2)))) Some((p, c))
            else acc
          case None => Some((p, c))
        }
      }
      best match {
        case Some((pair, c)) if c >= minFrequency =>
          merges += pair
          wi = 0
          while (wi < words.length) {
            words(wi) = mergePair(words(wi), pair)
            wi += 1
          }
          continue = merges.length < numMerges
        case _ => continue = false
      }
    }
    Model(merges.toSeq)
  }

  /** Leftmost non-overlapping replacement of one adjacent pair. */
  private def mergePair(s: Array[String],
                        p: (String, String)): Array[String] = {
    var has = false
    var i = 0
    while (!has && i < s.length - 1) {
      has = s(i) == p._1 && s(i + 1) == p._2; i += 1
    }
    if (!has) return s
    val out = new mutable.ArrayBuffer[String](s.length)
    i = 0
    while (i < s.length) {
      if (i < s.length - 1 && s(i) == p._1 && s(i + 1) == p._2) {
        out += s(i) + s(i + 1); i += 2
      } else { out += s(i); i += 1 }
    }
    out.toArray
  }

  /** Greedy rank-order encoding of one word (the canonical algorithm:
    * repeatedly merge the best-ranked adjacent pair present).
    */
  def encodeWord(word: String,
                 ranks: Map[(String, String), Int]): Array[String] = {
    var s: Array[String] = word.map(_.toString).toArray :+ EndOfWord
    var done = false
    while (!done && s.length > 1) {
      var bestRank = Int.MaxValue
      var bestPair: (String, String) = null
      var i = 0
      while (i < s.length - 1) {
        ranks.get((s(i), s(i + 1))) match {
          case Some(r) if r < bestRank =>
            bestRank = r; bestPair = (s(i), s(i + 1))
          case _ => ()
        }
        i += 1
      }
      if (bestPair == null) done = true
      else s = mergePair(s, bestPair)
    }
    s
  }

  /** Distributed encode: (idCol, pieces array, n_pieces, n_words).
    * One mapPartitions pass; ranks ride the closure (broadcast by the
    * task serializer — ~numMerges small strings), and a per-partition
    * memo turns Zipf-repeated words into lookups. An `Expression`
    * would buy nothing here: the work is an array-walk over symbol
    * pairs, the same argument as the forest scorer.
    */
  def encode(df: DataFrame, idCol: String, textCol: String,
             model: Model): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val ranks = model.ranks
    val src: Dataset[(Long, String)] =
      df.select(col(idCol).cast("long"), col(textCol).cast("string"))
        .as[(Long, String)]
    src.mapPartitions { rows =>
      val memo = mutable.HashMap.empty[String, Array[String]]
      rows.map { case (id, text) =>
        val words = Option(text).map(_.trim).filter(_.nonEmpty)
          .map(_.split("\\s+")).getOrElse(Array.empty[String])
        val pieces = words.flatMap(w =>
          memo.getOrElseUpdate(w, encodeWord(w, ranks)))
        (id, pieces, pieces.length.toLong, words.length.toLong)
      }
    }.toDF(idCol, "pieces", "n_pieces", "n_words")
  }

  /** The distributed merge loop — the principled fallback when the
    * word dictionary exceeds what a driver should hold (agglutinative
    * corpora, byte-level dicts, no min-frequency floor). The dict
    * lives as a (symbols, cnt) TABLE; each merge is
    *
    *   1. adjacent-pair explode (aligned-slice zip_with — never
    *      per-index element_at, the nested-HOF re-evaluation trap) →
    *      map-side-combined sum → a ONE-ROW deterministic argmax
    *      (count desc, pair asc) to the driver;
    *   2. one rewrite pass applying the merge (leftmost
    *      non-overlapping, same semantics as the driver loop).
    *
    * Per merge the driver sees exactly one row. The initial dict
    * persists and the dict localCheckpoints every `checkpointEvery`
    * merges so lineage stays flat across hundreds of iterations — the
    * duplicateClusters discipline. (A per-round persist bought
    * nothing: each round's cache was read once, by the argmax that
    * filled it.) Both are released when training returns.
    * k merges cost k small jobs over a table that only SHRINKS; use
    * [[train]] whenever the dict fits (it almost always does — dict
    * size is a property of the language, not the corpus).
    */
  def trainDistributed(df: DataFrame, textCol: String, numMerges: Int,
                       minFrequency: Long = 2L,
                       checkpointEvery: Int = 8): Model = Materialize.scope {
    val spark = df.sparkSession
    import spark.implicits._
    var dict = Materialize.persist(wordCounts(df, textCol)
      .filter(col("cnt") >= minFrequency)
      .select(concat(split(col("word"), ""), array(lit(EndOfWord)))
        .as("symbols"), col("cnt")))
    val merges = mutable.ArrayBuffer.empty[(String, String)]
    var continue = numMerges > 0
    while (continue) {
      val best = dict.select(explode(zip_with(
          slice(col("symbols"), lit(1), size(col("symbols")) - 1),
          slice(col("symbols"), lit(2), size(col("symbols")) - 1),
          (a, b) => struct(a.as("a"), b.as("b")))).as("p"), col("cnt"))
        .groupBy(col("p.a"), col("p.b")).agg(sum("cnt").as("c"))
        .orderBy(col("c").desc, col("a"), col("b"))
        .limit(1).select(col("a"), col("b"), col("c").cast("long"))
        .as[(String, String, Long)].collect()
      best.headOption match {
        case Some((a, b, c)) if c >= minFrequency =>
          val pair = (a, b)
          merges += pair
          val applyMerge = udf((s: Seq[String]) =>
            mergePair(s.toArray, pair).toSeq)
          dict = dict.select(applyMerge(col("symbols")).as("symbols"),
            col("cnt"))
          if (merges.length % checkpointEvery == 0)
            dict = Materialize.localCheckpoint(dict)
          continue = merges.length < numMerges
        case _ => continue = false
      }
    }
    Model(merges.toSeq)
  }

  /** Deterministic piece→id vocabulary: the corpus' distinct base
    * characters (sorted) take ids 0..C−1, then `EndOfWord`, then one
    * id per merge product in LEARNED ORDER — so growing the merge
    * list only APPENDS ids, it never renumbers an existing piece
    * (the property checkpoint-compatible tokenizer upgrades need).
    * The char scan is one distinct aggregate; the id window runs over
    * the ≤ |alphabet| + merges result — trivially bounded.
    */
  def vocab(df: DataFrame, textCol: String, model: Model): DataFrame =
    vocabFromCounts(wordCounts(df, textCol), model)

  /** [[vocab]] built from an ALREADY-AGGREGATED word dictionary
    * ([[wordCounts]] output) instead of a second corpus scan. The char
    * sets are identical by construction — words are whitespace-split,
    * so the distinct characters of all word types ARE the corpus'
    * distinct non-whitespace characters — but the scan here runs over
    * |word types| rows (Zipf-bounded), not the corpus. A pipeline that
    * already aggregated the dictionary for training (q80) persists it
    * once and derives BOTH the training dict and the vocabulary from
    * it: one corpus scan total, not two.
    */
  def vocabFromCounts(wordCounts: DataFrame, model: Model): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = wordCounts.sparkSession
    import spark.implicits._
    val chars = wordCounts
      .select(explode(split(col("word"), "")).as("piece"))
      .filter(length(col("piece")) > 0).distinct()
      .withColumn("piece_id",
        row_number().over(Window.orderBy(col("piece"))).cast("long") - 1)
    val base = chars.count()
    // Two merges can yield the SAME product string (('a','bc') and
    // ('ab','c') both make "abc"): keep the first occurrence only —
    // .distinct preserves order, so ids stay dense, bijective, AND
    // append-only under merge-list growth (a later duplicate never
    // displaces an assigned id).
    val learned = (EndOfWord +: model.merges.map(m => m._1 + m._2))
      .distinct
      .zipWithIndex.map { case (p, i) => (p, base + i) }
      .toDF("piece", "piece_id")
    chars.unionByName(learned)
  }

  /** Encode straight to id arrays (unknown piece → −1, possible only
    * when the vocab was built on a different corpus than the text).
    */
  def encodeIds(df: DataFrame, idCol: String, textCol: String,
                model: Model, vocabIds: Map[String, Long]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val ranks = model.ranks
    df.select(col(idCol).cast("long"), col(textCol).cast("string"))
      .as[(Long, String)]
      .mapPartitions { rows =>
        val memo = mutable.HashMap.empty[String, Array[Long]]
        rows.map { case (id, text) =>
          val words = Option(text).map(_.trim).filter(_.nonEmpty)
            .map(_.split("\\s+")).getOrElse(Array.empty[String])
          val ids = words.flatMap(w => memo.getOrElseUpdate(w,
            encodeWord(w, ranks).map(p => vocabIds.getOrElse(p, -1L))))
          (id, ids, ids.length.toLong)
        }
      }.toDF(idCol, "piece_ids", "n_pieces")
  }

  /** Decode a flat piece-id stream back to text — the roundtrip
    * closing [[encodeIds]] (a dataloader stores ids; inspection,
    * eval-set reconstruction and leakage audits need the text back).
    * Word boundaries need no sidecar: every word's final piece ends
    * with [[EndOfWord]], so decode = map ids through the inverted
    * vocab, concatenate, turn each marker into a space, trim. Unknown
    * ids (-1 from encode) surface as U+FFFD so loss is visible, never
    * silent. Stateless map over the rows; the inverted vocab rides
    * the plan as a map literal (bounded model state).
    */
  def decodeIds(df: DataFrame, idCol: String, idsCol: String,
                vocabIds: Map[String, Long]): DataFrame = {
    val inv: Map[Long, String] = vocabIds.map(_.swap)
    require(inv.size == vocabIds.size, "vocab ids must be unique")
    val m = typedLit(inv)
    val pieces = transform(col(idsCol),
      i => coalesce(element_at(m, i), lit("�")))
    // EndOfWord has no regex metacharacters, so the pattern is literal
    df.withColumn("decoded",
      trim(regexp_replace(concat_ws("", pieces), EndOfWord, " ")))
  }
}
