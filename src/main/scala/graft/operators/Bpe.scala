package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed BPE tokenizer FITTING (Sennrich et al. 2016, "Neural
  * Machine Translation of Rare Words with Subword Units") — the
  * learn-a-vocabulary-from-the-corpus step of a training-data
  * pipeline, word-level: greedy merges are learned over the DISTINCT
  * word-frequency table, not the raw corpus.
  *
  * Scale shape: the corpus is scanned ONCE, collapsing to the
  * word-frequency table (Zipf: the distinct vocabulary is orders of
  * magnitude smaller than 100 TB of text, and it is the only thing the
  * iterations ever touch). Each merge round is then
  *   (1) one hash aggregation over adjacent subword pairs of the
  *       current segmentation (map-side combined; keys are subword
  *       pairs, so the shuffle is bounded by the segmentation size of
  *       the distinct vocabulary, not the corpus),
  *   (2) a 1-row TakeOrdered argmax (count desc, then lexicographic
  *       (a, b) — a total order, so the winner is engine-exact), the
  *       only thing the driver ever sees, and
  *   (3) a MAP-ONLY re-segmentation folding the winning pair into each
  *       word's subword array (greedy leftmost, the BPE merge rule),
  *       with `localCheckpoint` truncating the per-round lineage the
  *       way [[Dedup.connectedComponents]] does.
  * Nothing quadratic, no text on any exchange after the first
  * aggregation, driver traffic = nMerges rows.
  *
  * Engine-exact by construction: all counts are longs; the argmax
  * tie-break is binary string order (identical in Spark's UTF8String
  * comparison and DuckDB's codepoint collation for the UTF-8 BMP);
  * the fold is pure token-equality arithmetic. The DuckDB oracle
  * replays the same rounds as chained CTEs with a `list_reduce` fold.
  */
object Bpe {

  /** The greedy-leftmost merge of pair (a, b) folded over one word's
    * subword array: scan left to right, replacing each adjacent
    * (a, b) with the concatenation — a token formed BY this round's
    * merge never re-merges with what follows (aaa under (a,a) gives
    * [aa, a], not [a, aa] or [aaa]). Empty slice → the init array, so
    * single-subword words pass through unchanged. */
  private def mergeFold(seg: Column, a: String, b: String): Column =
    aggregate(
      slice(seg, lit(2), size(seg) - 1),
      array(element_at(seg, 1)),
      (acc, x) =>
        when(element_at(acc, -1) === lit(a) && x === lit(b),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
          .otherwise(concat(acc, array(x))))

  /** Sennrich's end-of-word marker: a distinct terminal symbol so the
    * learner can tell word-final subwords from word-internal ones
    * ("est" inside "restful" vs "est</w>" ending "newest"). */
  val EndOfWord = "</w>"

  /** Word-frequency table → initial character segmentation. With
    * `eow`, the classic Sennrich formulation: [[EndOfWord]] appended
    * as its own symbol (it merges like any other token). */
  private def charSeg(docs: DataFrame, eow: Boolean): DataFrame = {
    val chars = split(col("word"), "")
    docs
      .select(explode(TextAnalysis.tokens(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .withColumn("seg",
        if (eow) concat(chars, array(lit(EndOfWord))) else chars)
  }

  /** Run `nMerges` greedy rounds. Returns the final segmentation frame
    * (word, cnt, seg) and the learned merge table
    * (rank, tok_a, tok_b, n_pair). Stops early if no adjacent pair
    * remains (vocabulary fully merged). */
  private[graft] def train(docs: DataFrame, nMerges: Int,
      eow: Boolean = false)
      : (DataFrame, Seq[(Int, String, String, Long)]) = {
    // The corpus collapses to the word-frequency table here and is
    // never scanned again. SIZE-ROUTE the vocabulary's partition count
    // before the rounds: every round schedules tasks over these
    // partitions twice (pair argmax + re-segmentation checkpoint), and
    // a few-hundred-word vocabulary spread over 32 partitions pays
    // 32× the task overhead for no parallelism (measured 3× per-round
    // cost at bench vocab). ~50k words per partition keeps a 100 TB
    // corpus's multi-million-word vocabulary wide. (Lazily chaining the
    // folds instead of checkpointing per round was measured 2× WORSE:
    // each round re-analyzes a deeper nested-HOF plan.)
    val base = charSeg(docs, eow).localCheckpoint()
    val parts = math.max(1, math.min(base.rdd.getNumPartitions,
      (base.count() / 50000L).toInt))
    var seg =
      if (parts < base.rdd.getNumPartitions)
        base.repartition(parts).localCheckpoint()
      else base
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var rank = 1
    var done = false
    while (rank <= nMerges && !done) {
      val best = seg.where(size(col("seg")) >= 2)
        .select(col("cnt"),
          explode(transform(sequence(lit(1), size(col("seg")) - 1),
            i => struct(element_at(col("seg"), i).as("a"),
              element_at(col("seg"), i + 1).as("b")))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("cnt")).as("n"))
        .orderBy(col("n").desc, col("a"), col("b"))
        .limit(1).collect() // 1 row: the argmax is the ONLY driver traffic
      if (best.isEmpty) done = true
      else {
        val (a, b, n) =
          (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += ((rank, a, b, n))
        val prev = seg
        seg = seg.withColumn("seg", mergeFold(col("seg"), a, b))
          .localCheckpoint() // eager: truncates lineage, frees prev round
        prev.unpersist()
        rank += 1
      }
    }
    (seg, merges.result())
  }

  /** The learned merge table — rank, the merged pair, and its count at
    * merge time (the BPE "merges.txt" artifact). nMerges rows. */
  def merges(docs: DataFrame, nMerges: Int = 8,
      eow: Boolean = false): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val (_, ms) = train(docs, nMerges, eow)
    ms.toDF("merge_rank", "tok_a", "tok_b", "n_pair")
  }

  /** The subword vocabulary AFTER nMerges rounds: each surviving
    * subword with its corpus occurrence count (word count × uses in
    * that word's segmentation) — what the tokenizer ships with. */
  def vocab(docs: DataFrame, nMerges: Int = 8,
      eow: Boolean = false): DataFrame = {
    val (seg, _) = train(docs, nMerges, eow)
    val out = seg
      .select(col("cnt"), explode(col("seg")).as("tok"))
      .groupBy(col("tok")).agg(sum(col("cnt")).as("n"))
    out
  }

  /** ENCODE with a learned merge list — the apply side of the
    * train/ship/encode round trip: each document's words are split to
    * characters and the merges are folded in, in learned rank order
    * (BPE encode applies merges by priority; for merges learned by
    * [[train]] on any corpus, rank order IS the greedy order). Pure
    * map-only column work — the merge list compiles into the plan as
    * literals, nothing shuffles, nothing is collected. Emits one row
    * per document with the subword array and its length (the token
    * count a packing/budgeting step consumes).
    *
    * Encoding a corpus WITH ITS OWN learned merges reproduces
    * [[train]]'s final segmentation exactly (spec-asserted) — but
    * `encode` also applies to NEW text, which is the production use. */
  def encode(docs: DataFrame, merges: Seq[(String, String)],
      eow: Boolean = false): DataFrame = {
    val words = docs.select(col("doc_id"),
      explode(TextAnalysis.tokens(col("text"))).as("word"))
    val chars = split(col("word"), "")
    val seg0 = if (eow) concat(chars, array(lit(EndOfWord))) else chars
    val seg = merges.foldLeft(seg0) { case (s, (a, b)) => mergeFold(s, a, b) }
    words.select(col("doc_id"), col("word"), seg.as("seg"))
      .withColumn("n_subwords", size(col("seg")))
  }

  /** DuckDB oracle for [[merges]]: the same rounds as chained CTEs —
    * pair counts from the current segmentation, a LIMIT-1 argmax with
    * the identical total-order tie-break, and a `list_reduce` fold
    * (the accumulator is a unit-separator-delimited string; chr(31)
    * never occurs in whitespace-split tokens) replaying the
    * greedy-leftmost merge.
    *
    * Caveat (unreachable on the driver corpus): if a degenerate corpus
    * fully merges before round n, the engine early-stops and keeps the
    * last segmentation, while this CTE chain's empty argmax collapses
    * the remaining rounds to empty — use an nMerges the corpus can
    * sustain (any real corpus sustains thousands). */
  def mergesOracleSql(nMerges: Int, eow: Boolean = false): String = {
    val rounds = (1 to nMerges).map { r =>
      s"""p$r AS (SELECT t.a, t.b, sum(cnt) AS n FROM seg${r - 1},
         unnest(list_transform(generate_series(1, len(seg) - 1),
                               i -> {'a': seg[i], 'b': seg[i + 1]})) AS u(t)
         WHERE len(seg) >= 2 GROUP BY 1, 2),
       b$r AS (SELECT a, b, n FROM p$r ORDER BY n DESC, a, b LIMIT 1),
       seg$r AS (SELECT word, cnt,
         string_split(list_reduce(seg, (acc, x) -> CASE
           WHEN x = b$r.b AND (acc = b$r.a OR right(acc, len(b$r.a) + 1) = chr(31) || b$r.a)
           THEN left(acc, len(acc) - len(b$r.a)) || b$r.a || b$r.b
           ELSE acc || chr(31) || x END), chr(31)) AS seg
         FROM seg${r - 1}, b$r)"""
    }.mkString(",\n       ")
    val union = (1 to nMerges)
      .map(r => s"SELECT $r AS merge_rank, a AS tok_a, b AS tok_b, CAST(n AS BIGINT) AS n_pair FROM b$r")
      .mkString(" UNION ALL ")
    s"""WITH $wordsCte,
       ${seg0Cte(eow)},
       $rounds
       $union"""
  }

  /** DuckDB oracle for [[vocab]]: the same chained rounds, final
    * segmentation exploded and counted. */
  def vocabOracleSql(nMerges: Int): String = {
    val rounds = (1 to nMerges).map { r =>
      s"""p$r AS (SELECT t.a, t.b, sum(cnt) AS n FROM seg${r - 1},
         unnest(list_transform(generate_series(1, len(seg) - 1),
                               i -> {'a': seg[i], 'b': seg[i + 1]})) AS u(t)
         WHERE len(seg) >= 2 GROUP BY 1, 2),
       b$r AS (SELECT a, b, n FROM p$r ORDER BY n DESC, a, b LIMIT 1),
       seg$r AS (SELECT word, cnt,
         string_split(list_reduce(seg, (acc, x) -> CASE
           WHEN x = b$r.b AND (acc = b$r.a OR right(acc, len(b$r.a) + 1) = chr(31) || b$r.a)
           THEN left(acc, len(acc) - len(b$r.a)) || b$r.a || b$r.b
           ELSE acc || chr(31) || x END), chr(31)) AS seg
         FROM seg${r - 1}, b$r)"""
    }.mkString(",\n       ")
    s"""WITH $wordsCte,
       ${seg0Cte(false)},
       $rounds
       SELECT tok, CAST(sum(cnt) AS BIGINT) AS n FROM seg$nMerges, unnest(seg) AS u(tok) GROUP BY 1"""
  }

  private val wordsCte =
    """w AS (SELECT word, count(*) AS cnt FROM (
         SELECT unnest(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS word
         FROM documents) GROUP BY 1)"""

  private def seg0Cte(eow: Boolean) = {
    val tail = if (eow) " || ['</w>']" else ""
    s"""seg0 AS (SELECT word, cnt,
         list_transform(generate_series(1, len(word)), i -> substr(word, i, 1))$tail AS seg
       FROM w)"""
  }
}
