package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Ora.dec

/** Unigram-LM (SentencePiece-style) subword segmentation — the second
  * tokenizer family next to [[Bpe]]: instead of greedy merges, every word
  * is segmented into the maximum-likelihood piece sequence under a unigram
  * piece model (Kudo 2018, arXiv:1804.10959), computed by Viterbi dynamic
  * programming.
  *
  * The whole trainer is RNG-free and relational, so — like bpe_train — it
  * sits under the exact cross-engine hash gate:
  *   - model init: piece candidates are ALL substrings (length ≤ maxPiece)
  *     of the corpus vocabulary, counted weighted by word frequency;
  *     score(p) = round(log10(cnt/total), 6) held as DECIMAL;
  *   - Viterbi: the DP runs RELATIONALLY over the compact word-frequency
  *     relation — `maxLen` unrolled steps, each a bounded join of the
  *     previous best states against the piece table, then an argmax by
  *     (score, last-piece length, segmentation) struct-max. Scores are
  *     exact decimal sums, so the argmax is engine-independent;
  *   - optional hard-EM refinement (Viterbi-EM): re-count pieces from the
  *     chosen segmentations, re-score, re-segment.
  *
  * Scale shape: the corpus is touched ONCE (the word-frequency agg —
  * map-side combinable); everything downstream is vocabulary-bounded
  * (|vocab| · maxLen · maxPiece candidate rows per DP pass), the classic
  * "train on the compact word relation" tokenizer property. Words longer
  * than `maxLen` are dropped from the model build (document-level encode
  * would pass them through unsegmented).
  */
object Unigram {

  /** (word, freq) relation of the corpus, bounded to maxLen. */
  def wordFreq(df: DataFrame, textCol: String, maxLen: Int): DataFrame =
    graft.Core.fanOut(df)
      .select(explode(TextAnalysis.tokens(col(textCol))).as("word"))
      .filter(length(col("word")) <= maxLen)
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))

  /** Frequency-weighted substring piece counts (model init). */
  def pieceCounts(wf: DataFrame, maxPiece: Int): DataFrame =
    wf.select(col("word"), col("freq"),
        posexplode(sequence(lit(1), length(col("word")))))
      .select(col("word"), col("freq"), col("col").as("s"),
        explode(sequence(lit(1), lit(maxPiece))).as("l"))
      .filter(col("s") + col("l") - 1 <= length(col("word")))
      .select(expr("substring(word, s, l)").as("piece"), col("freq"))
      .groupBy(col("piece")).agg(sum(col("freq")).as("cnt"))

  /** log10 piece scores as exact decimals. */
  private def scores(pc: DataFrame): DataFrame = {
    val tot = pc.agg(sum(col("cnt")).as("tot"))
    pc.crossJoin(broadcast(tot))
      .select(col("piece"),
        dec(round(log10(col("cnt").cast("double") / col("tot").cast("double")), 6))
          .as("pscore"))
  }

  /** Per-word Viterbi state: the exact-decimal path score and the chosen
    * segmentation.
    */
  final case class Seg(word: String, freq: Long,
                       sc: java.math.BigDecimal, seg: String)

  /** One Viterbi pass: per word the max-likelihood segmentation under the
    * given piece scores. Returns (word, freq, sc DECIMAL, seg); a word
    * with no full-cover path under the scored pieces emits nothing.
    *
    * Execution: the piece-score table is collected ONCE (vocabulary-
    * bounded, size-guarded) and broadcast; the DP then runs per word
    * inside mapPartitions — one distributed pass over the compact word
    * relation, no shuffle, no per-step anything. (A first cut unrolled
    * the DP as maxLen relational steps: correct, but each step needed an
    * eager localCheckpoint — without one the ≤maxPiece-consumer recursion
    * nests the plan exponentially at ANALYSIS time, and with one the
    * 2 chains × maxLen fixed job latencies dominated the query at 12 s.
    * Per-row dynamic programming belongs in a kernel, not in the plan.)
    *
    * Determinism: path scores accumulate in java BigDecimal at the same
    * scale the mirror's DECIMAL(27,10) sums use (exact, associative);
    * the per-position argmax compares (score, last-piece length,
    * segmentation string) exactly like the mirror's ROW_NUMBER ordering.
    * The string tie-break assumes ASCII-ordered piece text (UTF-16 vs
    * UTF-8 collation diverges beyond the BMP basics) — true of the
    * whitespace-tokenized lowercase corpus.
    */
  def viterbi(wf: DataFrame, pieceScores: DataFrame, maxPiece: Int,
              maxLen: Int): DataFrame = {
    val spark = wf.sparkSession
    import spark.implicits._
    // byte-budget guard BEFORE collecting: the model is vocabulary-bounded,
    // but a runaway piece table must fail loudly, not OOM the driver. The
    // estimate (2 bytes/char + ~150 bytes/entry of String/BigDecimal/Map
    // overhead) is checked against a 256 MB driver-side budget — a
    // row-count cap alone admits multi-hundred-MB tables (ADVICE r7).
    val budgetBytes = 256L << 20
    // materialize the (vocabulary-bounded) score table ONCE before the two
    // driver actions below: without this, the size-guard agg and the
    // collect each re-execute the table's full lineage — which for an
    // EM-refined model contains the entire previous Viterbi DP pass, so
    // every encode ran its training DP twice (the round-9 unigram_encode
    // 2.0× drift)
    val psChk = pieceScores.localCheckpoint()
    val sz = psChk.agg(
      count(lit(1)), coalesce(sum(length(col("piece"))), lit(0L))).head()
    val estBytes = sz.getLong(1) * 2 + sz.getLong(0) * 150
    require(estBytes <= budgetBytes,
      s"viterbi broadcasts the piece-score table — ~${estBytes >> 20} MB " +
        s"estimated (${sz.getLong(0)} pieces) exceeds the ${budgetBytes >> 20} MB budget")
    val scoreRows = psChk.select(col("piece"), dec(col("pscore")))
      .collect()
    val scoreMap: Map[String, java.math.BigDecimal] =
      scoreRows.map(r => r.getString(0) -> r.getDecimal(1)).toMap
    val bc = spark.sparkContext.broadcast(scoreMap)
    wf.select(col("word"), col("freq").cast("long")).as[(String, Long)]
      .mapPartitions { rows =>
        val ps = bc.value
        rows.flatMap { case (word, freq) =>
          val n = word.length
          if (n == 0 || n > maxLen) Iterator.empty
          else {
            // best(i) = (score, lastPieceLen, seg) reachable at position i
            val best = new Array[(java.math.BigDecimal, Int, String)](n + 1)
            best(0) = (java.math.BigDecimal.ZERO, 0, "")
            var i = 1
            while (i <= n) {
              var l = 1
              while (l <= math.min(maxPiece, i)) {
                val prev = best(i - l)
                if (prev != null) {
                  val piece = word.substring(i - l, i)
                  ps.get(piece).foreach { sc =>
                    val cand = (prev._1.add(sc), l,
                      if (prev._3.isEmpty) piece else prev._3 + "|" + piece)
                    val cur = best(i)
                    val wins = cur == null || {
                      val c = cand._1.compareTo(cur._1)
                      c > 0 || (c == 0 && (cand._2 > cur._2 ||
                        (cand._2 == cur._2 && cand._3.compareTo(cur._3) > 0)))
                    }
                    if (wins) best(i) = cand
                  }
                }
                l += 1
              }
              i += 1
            }
            Option(best(n)).map(b => Seg(word, freq, b._1, b._3)).iterator
          }
        }
      }
      .toDF("word", "freq", "sc", "seg")
  }

  /** Piece counts implied by a Viterbi segmentation (the hard-EM count). */
  def emCounts(seg: DataFrame): DataFrame =
    seg.select(col("freq"), explode(split(col("seg"), "\\|")).as("piece"))
      .groupBy(col("piece")).agg(sum(col("freq")).as("cnt"))

  /** The trained piece-score model: frequency init plus `emRounds`
    * hard-EM refinements over the given word relation.
    */
  def trainScores(wf: DataFrame, maxPiece: Int, maxLen: Int,
                  emRounds: Int): DataFrame = {
    require(emRounds >= 0, s"emRounds must be >= 0; got $emRounds")
    var ps = scores(pieceCounts(wf, maxPiece))
    (1 to emRounds).foreach { _ =>
      ps = scores(emCounts(viterbi(wf, ps, maxPiece, maxLen)))
    }
    ps
  }

  private def out(seg: DataFrame): DataFrame =
    seg.select(col("word"), col("freq"),
      size(split(col("seg"), "\\|")).cast("int").as("n_pieces"),
      col("sc").cast("double").as("score"), col("seg"))

  /** Full train+segment: frequency init, `emRounds` hard-EM refinements,
    * final segmentation table (word, freq, n_pieces, score, seg).
    */
  def trainSegment(df: DataFrame, textCol: String, maxPiece: Int = 4,
                   maxLen: Int = 8, emRounds: Int = 1): DataFrame = {
    val wf = wordFreq(df, textCol, maxLen).localCheckpoint()
    out(viterbi(wf, trainScores(wf, maxPiece, maxLen, emRounds),
      maxPiece, maxLen))
  }

  /** Train on the `isTrain` slice, FREEZE the model, segment the held-out
    * slice's words under it (the bpe_encode precedent: fixed-model replay
    * on unseen data). A held-out word whose every full-cover path needs a
    * piece the train slice never produced has no DP solution and drops
    * from the output — the honest OOV behavior of an inner-join DP (a
    * char-fallback vocabulary would be the production mitigation).
    */
  def trainEncode(df: DataFrame, textCol: String, isTrain: Column,
                  maxPiece: Int = 4, maxLen: Int = 8,
                  emRounds: Int = 1): DataFrame = {
    val wfTrain = wordFreq(df.filter(isTrain), textCol, maxLen).localCheckpoint()
    val ps = trainScores(wfTrain, maxPiece, maxLen, emRounds)
    val wfHeld = wordFreq(df.filter(!isTrain), textCol, maxLen)
    out(viterbi(wfHeld, ps, maxPiece, maxLen))
  }
}
