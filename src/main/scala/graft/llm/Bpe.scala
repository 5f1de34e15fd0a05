package graft.llm

import graft.operators.Rounds
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding TRAINING plumbing (Sennrich et al. 2016,
  * "Neural Machine Translation of Rare Words with Subword Units"): the
  * distributed half of a BPE trainer is the weighted adjacent-pair count
  * over the corpus vocabulary plus the merge election; the merge
  * application is a row-local fold over each word's symbol sequence.
  *
  * Scale shape: the vocabulary build is ONE map-side-combined groupBy on
  * the token (the word-count table every tokenizer trainer materializes
  * first — bounded by vocabulary, not corpus size); pair generation is
  * row-local over each vocab entry; the pair count is a second map-side-
  * combined groupBy bounded by the symbol-pair space. Nothing corpus-sized
  * ever shuffles twice, and no window appears anywhere. A full BPE train
  * iterates [[electMerge]] + [[applyMerge]] over the (small) vocab table —
  * driver-paced like any Lloyd loop, with the heavy corpus pass done once.
  */
object Bpe {

  /** Corpus vocabulary: (word, n) — one map-side-combined groupBy over the
    * exploded token stream. */
  def vocab(docs: DataFrame, textCol: String): DataFrame =
    graft.io.Tables.widen(docs)
      .select(explode(TextAnalysis.tokens(col(textCol))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("n"))

  /** A word as its initial symbol sequence (single characters). */
  def charSymbols(word: Column): Column =
    transform(sequence(lit(1), length(word)), i => word.substr(i, lit(1)))

  /** Weighted adjacent-pair counts over a (word, n) vocab whose `symsCol`
    * holds the current symbol sequence: row-local pair generation, one
    * bounded groupBy on the pair. Pairs are space-joined (symbols never
    * contain spaces — they are character concatenations). */
  def pairCounts(vocabSyms: DataFrame, symsCol: String): DataFrame =
    vocabSyms
      .where(size(col(symsCol)) >= 2)
      .select(col("n"), explode(transform(
        sequence(lit(1), size(col(symsCol)) - 1),
        i => concat_ws(" ", element_at(col(symsCol), i),
          element_at(col(symsCol), i + 1)))).as("pair"))
      .groupBy(col("pair")).agg(sum(col("n")).as("cnt"))

  /** The BPE merge election: highest count, ties to the lexicographically
    * SMALLEST pair — two bounded aggregates (max count, then min pair at
    * that count), never a global sort. Returns a 1-row (pair, cnt) frame
    * suitable for `broadcast`. */
  def electMerge(counts: DataFrame): DataFrame = {
    val top = counts.agg(max(col("cnt")).as("__top"))
    counts.join(broadcast(top), col("cnt") === col("__top"))
      .agg(min(col("pair")).as("pair"), max(col("cnt")).as("cnt"))
  }

  /** Apply one elected merge to a symbol sequence: the standard
    * left-to-right NON-OVERLAPPING scan — if the accumulator's last symbol
    * is `a` and the current is `b`, fuse them; a fused symbol never
    * re-merges in the same pass (its text is `a+b`, not `a`). Row-local
    * `aggregate` fold, O(len) per word. */
  def applyMerge(syms: Column, a: String, b: String): Column =
    aggregate(syms, array().cast("array<string>"), (acc, x) => {
      // `get` (0-based) returns NULL on empty — ANSI-safe, no index error
      val last = get(acc, size(acc) - 1)
      when(last === lit(a) && x === lit(b),
        concat(slice(acc, lit(1), size(acc) - 1), array(concat(last, x))))
        .otherwise(concat(acc, array(x)))
    })

  /** The full iterative trainer loop, `rounds` merges deep: elect → apply →
    * re-count, driver-paced over the VOCAB table (the Lloyd-loop license —
    * the corpus was folded into (word, n) once; every later round touches
    * only vocabulary-bounded data). See [[mergeRounds]].
    *
    * Returns (round 1-based, pair, cnt) — one row per elected merge, fewer
    * than `rounds` only if the corpus runs out of mergeable pairs. */
  def trainRounds(docs: DataFrame, textCol: String, rounds: Int): DataFrame = {
    val (merges, syms) = mergeRounds(docs, textCol, rounds, applyLast = false)
    // the result is a local relation: no symbol table stays persisted
    Rounds.release(syms)
    val spark = docs.sparkSession
    import spark.implicits._
    merges.zipWithIndex.map { case ((pair, cnt), i) => (i + 1L, pair, cnt) }
      .toDF("round", "pair", "cnt")
  }

  /** The elect→apply loop [[trainRounds]] and [[encodeStats]] share, up to
    * `rounds` elections over the vocab's symbol table. Each election
    * collects exactly ONE bounded row to the driver and stops the loop when
    * no pair is left; each elected merge is applied as a new round of the
    * table through [[graft.operators.Rounds]] (materialised, so round r+1's
    * plan does not re-derive rounds 1..r, and the superseded round
    * released), except the last one when `applyLast` is false. Returns the
    * elected (pair, cnt) in order and the last symbol table, which the
    * caller owns. */
  private def mergeRounds(docs: DataFrame, textCol: String, rounds: Int,
                          applyLast: Boolean): (Seq[(String, Long)], DataFrame) = {
    require(rounds >= 1, s"rounds must be >= 1 (got $rounds)")
    val merges = collection.mutable.ArrayBuffer.empty[(String, Long)]
    val init = vocab(docs, textCol)
      .withColumn("syms", charSymbols(col("word")))
      .select(col("word"), col("n"), col("syms"))
      .localCheckpoint()
    val syms = Rounds.run(init, rounds) { (syms, r) =>
      val elected = graft.io.Bounded.collect(
        electMerge(pairCounts(syms, "syms")), maxRows = 1,
        why = "the elected merge is a single global argmax row")
      if (elected.isEmpty || elected(0).isNullAt(0)) None
      else {
        val pair = elected(0).getString(0)
        merges += ((pair, elected(0).getLong(1)))
        if (!applyLast && r == rounds - 1) None
        else {
          val Array(a, b) = pair.split(" ", 2)
          Some(Rounds.Step(syms.withColumn("syms", applyMerge(col("syms"), a, b))))
        }
      }
    }
    (merges.toSeq, syms)
  }

  /** ENCODE with a trained merge list: per-document BPE symbol counts —
    * the apply half of the tokenizer, closing the train→encode loop.
    *
    * Key scale property: merges apply to WORDS, so the application runs
    * over the vocabulary table (bounded), never the corpus — the corpus
    * pass is one explode + one BROADCAST join against the (word →
    * symbol-count) table + one map-side-combined per-doc rollup. This is
    * exactly how production tokenizer pipelines amortize encoding: encode
    * the vocab once, join the text against it.
    *
    * Returns (doc_id, n_words, n_chars_tok = Σ word lengths, n_bpe,
    * ratio_fp = n_bpe·10⁶ div n_chars_tok) — token-less docs surface with
    * zeros; unordered. */
  def encodeStats(docs: DataFrame, textCol: String, idCol: String,
                  rounds: Int): DataFrame = {
    val (_, syms) = mergeRounds(docs, textCol, rounds, applyLast = true)
    val wordLens = syms.select(col("word"),
      length(col("word")).cast("long").as("__n_chars"),
      size(col("syms")).cast("long").as("__n_syms"))
    val words = graft.io.Tables.widen(docs)
      .select(col(idCol).as("doc_id"),
        explode_outer(TextAnalysis.tokens(col(textCol))).as("word"))
    words.join(broadcast(wordLens), Seq("word"), "left")
      .groupBy(col("doc_id"))
      .agg(count(col("word")).as("n_words"),
        coalesce(sum(col("__n_chars")), lit(0L)).as("n_chars_tok"),
        coalesce(sum(col("__n_syms")), lit(0L)).as("n_bpe"))
      .withColumn("ratio_fp",
        when(col("n_chars_tok") > 0,
          expr("(n_bpe * 1000000L) div n_chars_tok")).otherwise(0L))
  }
}
