package graft
package suite

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.{Dedup, Queries, TextAnalysis}

import SparkEntry.{dedupWords, documents, idHashSql, shingleCte}

/** The text family — text analysis and training-data assembly: tokenizers,
  * BPE, vocabulary statistics, sampling, packing and SFT. Each record is one
  * registered query, its Spark builder beside the DuckDB dual that defines
  * its correctness.
  */
object TextQueries {

  /** DSIR importance-weight frame (raw = non-English, target = English, 64
    * md5 buckets), computed once per (session, sf dir) and cached — the
    * selection artifact `q_dsir_weights` reports and `q_dsir_resample`
    * draws from.
    */
  private def dsirWeightIndex(s: SparkSession, dir: String): DataFrame =
    SessionCache.getOrCompute(s, s"dsir-weights:$dir") {
      val docs = documents(s, dir)
      val w = TextAnalysis.dsirWeights(docs.filter(col("lang") =!= "en"),
        docs.filter(col("lang") === "en"), "text", "doc_id", dim = 64).cache()
      w.count()
      w
    }

  /** The frozen subword vocabulary (top-100 words + top-100 char 3-/2-grams),
    * learned once per (session, sf dir) — shared by the batch encode report,
    * its streaming twin, and any future consumer, the way a deployed
    * tokenizer's vocab is learned once and shipped read-only.
    */
  private[suite] def sessionVocab(s: SparkSession, dir: String): Seq[String] =
    SessionCache.getOrCompute(s, s"subword-vocab:$dir") {
      TextAnalysis.subwordVocab(documents(s, dir), "text", topWords = 100, topGrams = 100)
    }

  /** (order, sorted item array) basket rollup over lineitem, built once per
    * (session, sf dir) — the shared first stage of the copurchase and
    * item-similarity queries (one row per order; array payloads are
    * basket-sized, so the cached frame is fact-table-row-count bounded).
    */
  /** How many merges [[bpeTrainCached]] learns (and its duals restate). */
  private val bpeTrainRounds = 64

  /** The 64-round BPE training loop, once per (session, dir): returns the
    * merge table and the fully-merged working frame. Same per-round shape
    * as q_bpe_merges (distributed pair count → 1-row argmax → literal
    * replace), plus the two things a 20× longer loop needs: a small fixed
    * partition count (the working frame is corpus-text-sized — 32-task
    * rounds would be pure scheduling overhead) and a localCheckpoint per
    * round so lineage/analysis cost stays O(1) per round. Stops early if a
    * round finds no pair (degenerate single-token corpus) — the duals'
    * chain just re-selects the last state from there on.
    */
  private def bpeTrainCached(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    SessionCache.getOrCompute(s, s"bpetrain:$dir") {
      import s.implicits._
      // lazy checkpoints: the next round's argmax job materializes the
      // frame as a side effect, so each round costs ONE job dispatch, not
      // two — at 64 rounds the dispatch floor is the whole cost
      // the working text is "  " + tokens joined by DOUBLE spaces + "  ":
      // the interior double space means a merge pattern can never match
      // inside a token, and giving the pattern ONE space of each boundary
      // (" a  b ") guards the OUTER edges too — "he is" can no longer match
      // the tail of "the is" (r13 review finding) — while adjacent repeats
      // still all match, because each 2-space boundary donates one space to
      // each neighboring occurrence
      var cur = documents(s, dir).select(
        concat(lit("  "),
          array_join(array_remove(split(lower(col("text")), "\\s+"), ""), "  "),
          lit("  ")).as("t"))
        .repartition(4).localCheckpoint(false)
      val merges = scala.collection.mutable.ArrayBuffer[(Long, String, Long)]()
      var exhausted = false
      for (i <- 1 to bpeTrainRounds if !exhausted) {
        val top = cur.select(explode(graft.expressions.GraftFunctions.ngramStrings(
            split(trim(col("t")), "  "), 2)).as("gram"))
          .groupBy("gram").agg(count(lit(1)).as("c"))
          .orderBy(col("c").desc, col("gram").asc).limit(1).collect()
        if (top.isEmpty) exhausted = true
        else {
          val (gram, c) = (top(0).getString(0), top(0).getLong(1))
          merges += ((i.toLong, gram, c))
          // the merge joiner is U+0001, NOT '_' (r14 advisor): a corpus
          // token containing a literal underscore would corrupt the
          // merged/fallback classification and the n_tokens_before
          // recovery below — U+0001 cannot survive the \s+ split of any
          // real text (and both engines write the same sentinel)
          cur = cur.select(replace(col("t"),
            lit(" " + gram.replace(" ", "  ") + " "),
            lit(" " + gram.replace(" ", "\u0001") + " ")).as("t"))
            .localCheckpoint(false)
        }
      }
      (merges.toSeq.toDF("step", "merged_pair", "n_occurrences"), cur)
    }

  /** Batched BPE training (r14 — the SCALE.md deep-probe design boundary
    * made operational): the sequential loop's cost floor is the driver
    * round-trip (~0.15 s/merge at ANY corpus size — 32k merges ≈ 80 min of
    * pure loop latency), so past O(10³) merges the standard move is to
    * apply SEVERAL merges per scan. This trains `bpeBatchM` merges per
    * pair-count job by greedily selecting, in the deterministic
    * (count DESC, gram ASC) order, pairs that are pairwise SYMBOL-DISJOINT
    * — two merges sharing no token can neither create nor destroy each
    * other's occurrences (a merge only rewrites adjacencies touching its
    * own two tokens), so applying them in one pass is order-independent
    * and each pick's reported count is its true scan-time count. The
    * result can differ from sequential BPE (a round-2 pick there may
    * involve round-1's supertoken) — that is the documented accuracy/cost
    * trade of every batched trainer, and the exact selection rule is
    * hash-gated: the dual restates pair counts, the M-step greedy
    * disjoint selection (NOT EXISTS over prior picks), and the chained
    * guarded replaces verbatim.
    *
    * Driver exactness: selection reads a top-C prefix of the count frame
    * (one job, frame checkpointed); if the greedy exhausts the prefix with
    * fewer than M picks AND the prefix was complete, selection is done —
    * otherwise the prefix widens 4× and re-reads the checkpointed frame
    * (no recount). Picks found strictly inside a prefix equal full-list
    * greedy picks, because greedy only ever inspects candidates in order.
    */
  private val bpeBatchScans = 8

  private val bpeBatchM = 8

  /** The batched-trainer core behind the gated query; a scale run measures
    * it through that query (`ScaleProbe <k> <sfDir> q_bpe_train_batched`).
    * `corpus` needs a `text` column; returns (scan, pick, gram, count) in
    * selection order.
    */
  private def bpeBatchedTrain(corpus: DataFrame, scans: Int, m: Int,
      partitions: Int = 4): Seq[(Long, Long, String, Long)] = {
    var cur = corpus.select(
      concat(lit("  "),
        array_join(array_remove(split(lower(col("text")), "\\s+"), ""), "  "),
        lit("  ")).as("t"))
      .repartition(partitions).localCheckpoint(false)
    val picks = scala.collection.mutable.ArrayBuffer[(Long, Long, String, Long)]()
    var exhausted = false
    for (sc <- 1 to scans if !exhausted) {
      val counted = cur.select(explode(graft.expressions.GraftFunctions.ngramStrings(
          split(trim(col("t")), "  "), 2)).as("gram"))
        .groupBy("gram").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("gram").asc)
        .localCheckpoint(false)
      val chosen = scala.collection.mutable.ArrayBuffer[(String, Long)]()
      val used = scala.collection.mutable.Set[String]()
      var limit = 256
      var complete = false
      while (chosen.size < m && !complete) {
        chosen.clear(); used.clear()
        val rows = counted.limit(limit).collect()
        rows.foreach { r =>
          if (chosen.size < m) {
            val g = r.getString(0)
            val sp = g.split(' ')
            if (!used(sp(0)) && !used(sp(1))) {
              chosen += ((g, r.getLong(1))); used += sp(0); used += sp(1)
            }
          }
        }
        complete = rows.length < limit // the prefix WAS the full list
        limit *= 4
      }
      if (chosen.isEmpty) exhausted = true
      else {
        chosen.zipWithIndex.foreach { case ((g, c), j) =>
          picks += ((sc.toLong, (j + 1).toLong, g, c)) }
        val applied = chosen.foldLeft(col("t")) { case (acc, (g, _)) =>
          replace(acc, lit(" " + g.replace(" ", "  ") + " "),
            lit(" " + g.replace(" ", "\u0001") + " "))
        }
        cur = cur.select(applied.as("t")).localCheckpoint(false)
      }
    }
    picks.toSeq
  }

  private def bpeTrainBatchedCached(s: SparkSession, dir: String): DataFrame =
    SessionCache.getOrCompute(s, s"bpebatch:$dir") {
      import s.implicits._
      bpeBatchedTrain(documents(s, dir), bpeBatchScans, bpeBatchM)
        .toDF("scan", "pick", "merged_pair", "n_occurrences")
    }

  /** DSIR's gram-bucket CTEs in DuckDB: unigrams + bigrams of the raw
    * (non-English) and target (English) token lists, md5-prefix-hashed into
    * 64 buckets, counted, and the add-1 log-ratio weight `lam` of every
    * bucket rounded to 9 dp as DECIMAL(20,9).
    */
  private val dsirLambdaCtes: String = {
    val bucketSql = (g: String) =>
      s"list_reduce(list_transform(range(1, 9), i -> CAST(strpos('0123456789abcdef', substring(md5($g), i, 1)) - 1 AS BIGINT)), (a, b) -> a * 16 + b) % 64"
    val gramsSql = "list_concat(ts, list_transform(range(1, len(ts)), i -> ts[i] || ' ' || ts[i + 1]))"
    s"""tokr AS (SELECT doc_id, $dedupWords AS ts FROM documents WHERE lang <> 'en'),
       | tokt AS (SELECT $dedupWords AS ts FROM documents WHERE lang = 'en'),
       | gr AS (SELECT doc_id, unnest($gramsSql) AS g FROM tokr),
       | gt AS (SELECT unnest($gramsSql) AS g FROM tokt),
       | rb AS (SELECT doc_id, ${bucketSql("g")} AS b FROM gr),
       | tb AS (SELECT ${bucketSql("g")} AS b FROM gt),
       | dc AS (SELECT doc_id, b, COUNT(*) AS c FROM rb GROUP BY 1, 2),
       | rc AS (SELECT b, CAST(SUM(c) AS BIGINT) AS cr FROM dc GROUP BY 1),
       | tc AS (SELECT b, COUNT(*) AS ct FROM tb GROUP BY 1),
       | nt AS (SELECT COUNT(*) AS nt FROM tb),
       | nr AS (SELECT CAST(SUM(c) AS BIGINT) AS nr FROM dc),
       | spine AS (SELECT unnest(range(0, 64)) AS b),
       | lam AS (SELECT spine.b,
       |   CAST(round(ln(CAST(COALESCE(ct, 0) + 1 AS DOUBLE) / CAST(nt + 64 AS DOUBLE)) -
       |     ln(CAST(COALESCE(cr, 0) + 1 AS DOUBLE) / CAST(nr + 64 AS DOUBLE)), 9) AS DECIMAL(20,9)) AS lam
       |   FROM spine LEFT JOIN tc ON tc.b = spine.b LEFT JOIN rc ON rc.b = spine.b
       |   CROSS JOIN nt CROSS JOIN nr)""".stripMargin.replace("\n", "")
  }

  /** The quality gate's verdicts in DuckDB, shared by `q_quality_filter`
    * and its streaming twin `q_stream_quality_gate`.
    */
  private[suite] lazy val qualityFilterSql: String =
    s"""WITH t AS (SELECT doc_id, text, $textWords AS ws FROM documents),
       | f AS (SELECT doc_id, len(ws) AS n_words,
       |   CASE WHEN len(ws) > 0 THEN CAST(list_sum(list_transform(ws, x -> len(x))) AS DOUBLE) / CAST(len(ws) AS DOUBLE) END AS mwl,
       |   CASE WHEN length(text) > 0 THEN CAST(len(regexp_extract_all(text, '[[:punct:]]')) AS DOUBLE) / CAST(length(text) AS DOUBLE) ELSE 0.0 END AS pr,
       |   CASE WHEN length(text) > 0 THEN CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE) / CAST(length(text) AS DOUBLE) ELSE 0.0 END AS dr
       |  FROM t)
       | SELECT doc_id,
       |  (CASE WHEN n_words < 5 THEN 'too_few_words' WHEN n_words > 100000 THEN 'too_many_words'
       |    WHEN mwl < 2.0 OR mwl > 12.0 THEN 'word_len_out_of_range'
       |    WHEN dr > 0.3 THEN 'too_many_digits' WHEN pr > 0.25 THEN 'too_much_punct' END) IS NULL AS keep,
       |  CASE WHEN n_words < 5 THEN 'too_few_words' WHEN n_words > 100000 THEN 'too_many_words'
       |    WHEN mwl < 2.0 OR mwl > 12.0 THEN 'word_len_out_of_range'
       |    WHEN dr > 0.3 THEN 'too_many_digits' WHEN pr > 0.25 THEN 'too_much_punct' END AS drop_reason
       | FROM f ORDER BY doc_id""".stripMargin.replace("\n", "")

  /** The SFT fixture's conversations parsed into (doc_id, turn_idx, role,
    * content) turns.
    */
  private def sftTurns(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sft.parseTurns(graft.operators.Sft.withTranscript(
      documents(s, dir).select("doc_id", "text")), "doc_id", "transcript")

  /** The trainer-ready masks: conversations of turns `t` (token counts in
    * `toks`) pack into budget-2048 sequences by the two-level prefix sum, and
    * each non-empty assistant span re-expresses in packed-sequence
    * coordinates, split at every sequence boundary it crosses.
    */
  private def packedMaskSpans(t: DataFrame): DataFrame = {
    val conv = t.groupBy("doc_id").agg(sum(col("toks")).as("n_tokens"))
    val packed = graft.operators.Packing.packSequences(conv, "n_tokens",
      "doc_id", budget = 2048L)
    graft.operators.Sft.maskSpans(t, "doc_id", col("toks"))
      .join(packed.select("doc_id", "seq_start"), Seq("doc_id"))
      .filter(col("tok_end") > col("tok_start"))
      .withColumn("__a", col("seq_start") + col("tok_start"))
      .withColumn("__b", col("seq_start") + col("tok_end"))
      // FULL boundary range (r15 review: the 2-endpoint explode dropped
      // the middle sequences of any span wider than the budget)
      .withColumn("seq_id", explode(sequence(
        expr("__a div 2048"), expr("(__b - 1) div 2048"))))
      .withColumn("span_start",
        greatest(col("__a"), col("seq_id") * 2048) - col("seq_id") * 2048)
      .withColumn("span_end",
        least(col("__b"), (col("seq_id") + 1) * 2048) - col("seq_id") * 2048)
      .select(col("doc_id"), col("turn_idx"), col("seq_id"),
        col("span_start"), col("span_end"))
      .orderBy("doc_id", "turn_idx", "seq_id")
  }

  /** [[packedMaskSpans]] in DuckDB over the turn CTE `src` with per-turn
    * token counts in column `toks`; a complete query tail.
    */
  private def packedMaskSql(src: String, toks: String): String =
    s""" cvt AS (SELECT doc_id, CAST(sum($toks) AS BIGINT) AS n_tokens FROM $src GROUP BY 1),
       | cps AS (SELECT doc_id, CAST(coalesce(SUM(n_tokens) OVER (ORDER BY doc_id
       |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS seq_start FROM cvt),
       | msp AS (SELECT doc_id, turn_idx, role, $toks,
       |   CAST(coalesce(sum($toks) OVER (PARTITION BY doc_id ORDER BY turn_idx
       |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_start FROM $src),
       | msf AS (SELECT doc_id, turn_idx, tok_start, tok_start + $toks AS tok_end
       |   FROM msp WHERE role = 'assistant' AND $toks > 0),
       | mj AS (SELECT m.doc_id AS doc_id, turn_idx, seq_start + tok_start AS a,
       |   seq_start + tok_end AS b FROM msf m JOIN cps p ON m.doc_id = p.doc_id),
       | mk AS (SELECT doc_id, turn_idx, a, b,
       |   UNNEST(range(a // 2048, (b - 1) // 2048 + 1)) AS k FROM mj)
       | SELECT doc_id, turn_idx, CAST(k AS BIGINT) AS seq_id,
       |   CAST(greatest(a, k * 2048) - k * 2048 AS BIGINT) AS span_start,
       |   CAST(least(b, (k + 1) * 2048) - k * 2048 AS BIGINT) AS span_end
       | FROM mk ORDER BY doc_id, turn_idx, seq_id""".stripMargin.replace("\n", "")

  val queries: Seq[Query] = Seq(
    // BPE vocabulary induction, first 3 merges, DISTRIBUTED: each round is
    // one full adjacent-pair count over the corpus (the codegen'd bigram
    // kernel — overlapping pairs counted, classic BPE), only the argmax
    // lands on the driver (1 row/round — the PCA-w pattern), and the merge
    // applies as a literal greedy left-to-right replace. The working text
    // is "  " + tokens joined by DOUBLE spaces + "  ": the interior double
    // space keeps a pattern from matching inside a token, and the pattern
    // carrying ONE space of each boundary (" a  b ") guards the outer edges
    // too (r13 — "he is" must not match the tail of "the is"), while each
    // 2-space boundary still donates a space to both neighbors so adjacent
    // repeats all match under non-overlapping replace.
    Query("q_bpe_merges", (s, dir) => {
      import s.implicits._
      // same boundary-guarded working-text scheme as bpeTrainCached (r13):
      // 2-space padding + patterns carrying one space of each boundary
      val norm = documents(s, dir).select(
        concat(lit("  "),
          array_join(array_remove(split(lower(col("text")), "\\s+"), ""), "  "),
          lit("  ")).as("t"))
      var cur = norm
      val merges = scala.collection.mutable.ArrayBuffer[(Long, String, Long)]()
      for (i <- 1 to 3) {
        val top = cur.select(explode(graft.expressions.GraftFunctions.ngramStrings(
            split(trim(col("t")), "  "), 2)).as("gram"))
          .groupBy("gram").agg(count(lit(1)).as("c"))
          .orderBy(col("c").desc, col("gram").asc).limit(1).collect()(0)
        val (gram, c) = (top.getString(0), top.getLong(1))
        merges += ((i.toLong, gram, c))
        cur = cur.select(replace(col("t"),
          lit(" " + gram.replace(" ", "  ") + " "),
          lit(" " + gram.replace(" ", "\u0001") + " ")).as("t"))
      }
      merges.toSeq.toDF("step", "merged_pair", "n_occurrences").orderBy("step")
    },
      // 3-round view of the same boundary-guarded chain as q_bpe_train
      (bpeChainSql(3) +
      """ SELECT * FROM (
        |   SELECT CAST(1 AS BIGINT) AS step, gram AS merged_pair, c AS n_occurrences FROM m1
        |   UNION ALL SELECT 2, gram, c FROM m2
        |   UNION ALL SELECT 3, gram, c FROM m3)
        | ORDER BY step""".stripMargin.replace("\n", ""))),
    // FULL BPE TRAINING LOOP (r13): q_bpe_merges's 3-round
    // demonstration driven to 64 merges, the real driver-iteration shape.
    // Each round is ONE distributed adjacent-pair count (the codegen'd
    // bigram kernel) with a 1-row argmax collect; the merge applies as a
    // narrow literal replace and the working frame localCheckpoints so
    // round i+1's plan reads round i's materialized rows instead of
    // replaying i stacked replaces from parquet (O(R) corpus passes, not
    // O(R²)). The (session, dir)-cached result feeds both the merge-table
    // gate and the fallback report below.
    Query("q_bpe_train", (s, dir) => bpeTrainCached(s, dir)._1.orderBy("step"),
      (bpeChainSql(bpeTrainRounds) +
      " SELECT * FROM (" +
      (1 to bpeTrainRounds).map(i =>
        s"SELECT CAST($i AS BIGINT) AS step, gram AS merged_pair, c AS n_occurrences FROM m$i")
        .mkString(" UNION ALL ") +
      ") ORDER BY step")),
    // BATCHED BPE (r14 — the deep-probe design boundary made operational):
    // 8 scans × 8 symbol-disjoint merges = 64 merges at 1/8th the driver
    // round-trips; selection rule and chained guarded replaces hash-gated
    Query("q_bpe_train_batched", (s, dir) =>
      bpeTrainBatchedCached(s, dir).orderBy("scan", "pick"),
      // the 3 BPE rounds unrolled: per round, lateral-unnest adjacent-pair
      // count -> (count desc, gram asc) argmax -> scalar-subquery replace
      // the 3-round dual scaled to 64 MATERIALIZED rounds: every m_i/d_i CTE
      // is referenced more than once down the chain, so without MATERIALIZED
      // DuckDB's per-use inlining would expand the plan ~3^64; materialized,
      // the chain is linear — 64 pair-counts + 64 replaces, exactly the Spark
      // loop's work
      bpeBatchedSql(scans = 8, m = 8)),
    // ...and the encoded-corpus report after all 64 merges: token counts
    // before/after, merged vs FALLBACK tokens (words no merge reached —
    // they fall back to the base vocab), fallback rate and compression.
    // tokens_before is recovered exactly from the final frame (every merge
    // application removes one boundary and writes one U+0001 joiner).
    Query("q_bpe_fallback", (s, dir) => {
      val fin = bpeTrainCached(s, dir)._2
      val tk = fin.select(explode(split(trim(col("t")), "  ")).as("tok"))
      tk.agg(
        (count(lit(1)) + sum(length(col("tok")) -
          length(regexp_replace(col("tok"), "\u0001", "")))).cast(LongType).as("n_tokens_before"),
        count(lit(1)).as("n_tokens_after"),
        sum(when(col("tok").contains("\u0001"), 1L).otherwise(0L)).cast(LongType).as("n_merged_tokens"),
        sum(when(col("tok").contains("\u0001"), 0L).otherwise(1L)).cast(LongType).as("n_fallback_tokens"))
        .select(col("n_tokens_before"), col("n_tokens_after"),
          col("n_merged_tokens"), col("n_fallback_tokens"),
          round(col("n_fallback_tokens").cast(DoubleType) /
            col("n_tokens_after").cast(DoubleType), 6).as("fallback_rate"),
          round(col("n_tokens_before").cast(DoubleType) /
            col("n_tokens_after").cast(DoubleType), 6).as("compression_ratio"))
    },
      // same chain, then the post-merge token stats from the final state;
      // tokens_before recovered as tokens_after + total joiner (U+0001) writes
      (bpeChainSql(bpeTrainRounds) +
      s""", tk AS (SELECT UNNEST(string_split(trim(t), '  ')) AS tok FROM d$bpeTrainRounds)
         | SELECT CAST(COUNT(*) + SUM(len(tok) - len(replace(tok, chr(1), ''))) AS BIGINT) AS n_tokens_before,
         |   CAST(COUNT(*) AS BIGINT) AS n_tokens_after,
         |   CAST(SUM(CASE WHEN contains(tok, chr(1)) THEN 1 ELSE 0 END) AS BIGINT) AS n_merged_tokens,
         |   CAST(SUM(CASE WHEN contains(tok, chr(1)) THEN 0 ELSE 1 END) AS BIGINT) AS n_fallback_tokens,
         |   round(CAST(SUM(CASE WHEN contains(tok, chr(1)) THEN 0 ELSE 1 END) AS DOUBLE) / COUNT(*), 6) AS fallback_rate,
         |   round(CAST(COUNT(*) + SUM(len(tok) - len(replace(tok, chr(1), ''))) AS DOUBLE) / COUNT(*), 6) AS compression_ratio
         | FROM tk""".stripMargin.replace("\n", ""))),
    // --- text analysis (north star) --------------------------------------
    Query("q_text_stats", (s, dir) =>
      TextAnalysis.qualityFeatures(documents(s, dir).select("doc_id", "text"), "text")
        .select("doc_id", "n_chars", "n_words", "mean_word_len", "punct_ratio",
          "digit_ratio", "upper_ratio", "stopword_ratio")
        .orderBy("doc_id"),
      s"""WITH t AS (SELECT doc_id, text, $textWords AS ws FROM documents)
         | SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars, CAST(len(ws) AS BIGINT) AS n_words,
         | CASE WHEN len(ws) > 0 THEN CAST(list_sum(list_transform(ws, x -> len(x))) AS DOUBLE) / CAST(len(ws) AS DOUBLE) END AS mean_word_len,
         | CASE WHEN length(text) > 0 THEN CAST(len(regexp_extract_all(text, '[[:punct:]]')) AS DOUBLE) / CAST(length(text) AS DOUBLE) ELSE 0.0 END AS punct_ratio,
         | CASE WHEN length(text) > 0 THEN CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE) / CAST(length(text) AS DOUBLE) ELSE 0.0 END AS digit_ratio,
         | CASE WHEN length(text) > 0 THEN CAST(len(regexp_extract_all(text, '[A-Z]')) AS DOUBLE) / CAST(length(text) AS DOUBLE) ELSE 0.0 END AS upper_ratio,
         | CASE WHEN len(ws) > 0 THEN CAST(len(list_filter(ws, x -> list_contains(['the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','was','at','by'], x))) AS DOUBLE) / CAST(len(ws) AS DOUBLE) ELSE 0.0 END AS stopword_ratio
         | FROM t ORDER BY doc_id""".stripMargin.replace("\n", "")),
    Query("q_token_counts", (s, dir) =>
      documents(s, dir).select(col("doc_id"),
        TextAnalysis.wsTokens(col("text")).cast(LongType).as("ws_tokens"),
        TextAnalysis.bpeTokens(col("text")).cast(LongType).as("bpe_tokens"))
        .orderBy("doc_id"),
      """SELECT doc_id,
        | CAST(len(list_filter(string_split_regex(text, '\s+'), w -> len(w) > 0)) AS BIGINT) AS ws_tokens,
        | CAST(len(regexp_extract_all(text, '[\p{L}]+|[\p{Nd}]+|[^\s\p{L}\p{Nd}]')) AS BIGINT) AS bpe_tokens
        | FROM documents ORDER BY doc_id""".stripMargin.replace("\n", "")),
    Query("q_lang_id", (s, dir) =>
      documents(s, dir).select(col("doc_id"), col("lang"),
        TextAnalysis.langId(col("text")).as("pred_lang")).orderBy("doc_id"),
      {
      val words = "list_distinct(list_filter(string_split_regex(lower(text), '[^\\p{L}'']+'), w -> len(w) > 0))"
      def score(markers: Seq[String]) =
        s"len(list_filter(ws, w -> list_contains([${markers.map(m => s"'$m'").mkString(",")}], w)))"
      val Seq(en, de, fr, es, it) = TextAnalysis.langMarkers.map { case (_, m) => score(m) }
      s"""WITH w AS (SELECT doc_id, lang, $words AS ws FROM documents),
         | s AS (SELECT doc_id, lang, $en AS s_en, $de AS s_de, $fr AS s_fr, $es AS s_es, $it AS s_it FROM w)
         | SELECT doc_id, lang,
         |   CASE WHEN greatest(s_en, s_de, s_fr, s_es, s_it) = 0 THEN 'und'
         |     WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es AND s_en >= s_it THEN 'en'
         |     WHEN s_de >= s_fr AND s_de >= s_es AND s_de >= s_it THEN 'de'
         |     WHEN s_fr >= s_es AND s_fr >= s_it THEN 'fr'
         |     WHEN s_es >= s_it THEN 'es'
         |     ELSE 'it' END AS pred_lang
         | FROM s ORDER BY doc_id""".stripMargin.replace("\n", "")
    }),
    // --- dataset curation: splits / sampling / quality gate ----------------
    Query("q_top_tokens", (s, dir) =>
      TextAnalysis.topTokens(documents(s, dir), "text", 50),
      s"""SELECT token, COUNT(*) AS n
         | FROM (SELECT UNNEST($dedupWords) AS token FROM documents)
         | GROUP BY token ORDER BY n DESC, token ASC LIMIT 50""".stripMargin.replace("\n", "")),
    // corpus diversity report: distinct-n ratios per source (Li et al. 2016
    // "distinct-1/2" — the template/repetition pressure metric a mixture
    // designer reads next to the vocab-overlap table). Distinct is counted
    // over the 60-bit md5 gram hash on BOTH engines: the distinct shuffle
    // carries 8-byte keys, never gram strings (the 100 TB shape), collision
    // probability ~n²/2⁶¹ and identical cross-engine, so the exact gate
    // still holds.
    Query("q_distinct_ngrams", (s, dir) => {
      val d = documents(s, dir)
      def stats(n: Int) = d
        .select(col("source"), explode(graft.expressions.GraftFunctions
          .ngramStrings(Dedup.tokens(col("text")), n)).as("__g"))
        .select(col("source"),
          graft.operators.Sketches.h60(col("__g")).as("g"))
        .groupBy("source").agg(count(lit(1)).as(s"total_${n}grams"),
          countDistinct(col("g")).as(s"distinct_${n}grams"))
      stats(1).join(stats(2), Seq("source"))
        .select(col("source"),
          col("total_1grams"), col("distinct_1grams"),
          (col("distinct_1grams").cast(DoubleType) /
            col("total_1grams").cast(DoubleType)).as("distinct1_ratio"),
          col("total_2grams"), col("distinct_2grams"),
          (col("distinct_2grams").cast(DoubleType) /
            col("total_2grams").cast(DoubleType)).as("distinct2_ratio"))
        .orderBy("source")
    },
      s"""WITH t AS (SELECT source, $dedupWords AS ws FROM documents),
         | g1 AS (SELECT source, ${idHashSql("tok")} AS g
         |   FROM (SELECT source, UNNEST(ws) AS tok FROM t)),
         | g2 AS (SELECT source, ${idHashSql("gram")} AS g
         |   FROM (SELECT source, ws[i] || ' ' || ws[i + 1] AS gram
         |     FROM t, UNNEST(range(1, len(ws))) AS r(i) WHERE len(ws) >= 2)),
         | s1 AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS total_1grams,
         |   CAST(COUNT(DISTINCT g) AS BIGINT) AS distinct_1grams FROM g1 GROUP BY 1),
         | s2 AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS total_2grams,
         |   CAST(COUNT(DISTINCT g) AS BIGINT) AS distinct_2grams FROM g2 GROUP BY 1)
         | SELECT source, total_1grams, distinct_1grams,
         |   CAST(distinct_1grams AS DOUBLE) / CAST(total_1grams AS DOUBLE) AS distinct1_ratio,
         |   total_2grams, distinct_2grams,
         |   CAST(distinct_2grams AS DOUBLE) / CAST(total_2grams AS DOUBLE) AS distinct2_ratio
         | FROM s1 JOIN s2 USING (source) ORDER BY source""".stripMargin.replace("\n", "")),
    // chi-square feature selection: each source's top label-associated
    // tokens; integer contingency cells + one fixed-shape double formula,
    // so chi2 and the rank window on it are bit-identical cross-engine
    Query("q_chi2_terms", (s, dir) =>
      TextAnalysis.chi2Terms(documents(s, dir), "text", "doc_id", "source",
          minDf = 5, topK = 10)
        .orderBy("label", "rank"),
      s"""WITH dt AS (SELECT DISTINCT doc_id, source AS label, UNNEST($dedupWords) AS token FROM documents),
         | nn AS (SELECT COUNT(DISTINCT doc_id) AS n FROM documents),
         | lt AS (SELECT source AS label, COUNT(DISTINCT doc_id) AS nl FROM documents GROUP BY 1),
         | tt AS (SELECT token, COUNT(DISTINCT doc_id) AS dft FROM dt GROUP BY 1
         |   HAVING COUNT(DISTINCT doc_id) >= 5),
         | cells AS (SELECT a.label, a.token, a.av, tt.dft, lt.nl, nn.n
         |   FROM (SELECT token, label, COUNT(DISTINCT doc_id) AS av FROM dt GROUP BY 1, 2) a
         |   JOIN tt USING (token) JOIN lt ON lt.label = a.label CROSS JOIN nn
         |   WHERE tt.dft < nn.n AND lt.nl < nn.n),
         | sc AS (SELECT label, token, nl, dft, av,
         |   CAST(n AS DOUBLE) * ((CAST(av AS DOUBLE) * CAST(n - dft - nl + av AS DOUBLE)
         |       - CAST(dft - av AS DOUBLE) * CAST(nl - av AS DOUBLE))
         |     * (CAST(av AS DOUBLE) * CAST(n - dft - nl + av AS DOUBLE)
         |       - CAST(dft - av AS DOUBLE) * CAST(nl - av AS DOUBLE)))
         |   / (CAST(dft AS DOUBLE) * CAST(n - dft AS DOUBLE) * CAST(nl AS DOUBLE) * CAST(n - nl AS DOUBLE)) AS chi2
         |   FROM cells),
         | rk AS (SELECT label, token, nl, dft, av, chi2,
         |   row_number() OVER (PARTITION BY label ORDER BY chi2 DESC, token ASC) AS rank FROM sc)
         | SELECT label, token, CAST(nl AS BIGINT) AS n_label, CAST(dft AS BIGINT) AS doc_freq,
         |   CAST(av AS BIGINT) AS n_with, chi2, CAST(rank AS BIGINT) AS rank
         | FROM rk WHERE rank <= 10 ORDER BY label, rank""".stripMargin.replace("\n", "")),
    // hashing-trick vectorizer: vocabulary-free sparse bag-of-words rows
    // (md5-prefix buckets, engine-portable — see TextAnalysis.featureHash)
    Query("q_feature_hash", (s, dir) =>
      TextAnalysis.featureHash(documents(s, dir), "text", "doc_id", dim = 64)
        .orderBy("doc_id", "bucket"),
      // md5-prefix bucket arithmetic mirrors Spark's conv(substring(md5,1,8),16,10):
      // 8 big-endian nibbles folded to a BIGINT, mod 64 (both sides nonnegative)
      s"""WITH w AS (SELECT doc_id, UNNEST($dedupWords) AS tok FROM documents),
         | h AS (SELECT doc_id, list_reduce(list_transform(range(1, 9),
         |   i -> CAST(strpos('0123456789abcdef', substring(md5(tok), i, 1)) - 1 AS BIGINT)),
         |   (a, b) -> a * 16 + b) % 64 AS bucket FROM w)
         | SELECT doc_id, bucket, COUNT(*) AS cnt FROM h
         | GROUP BY doc_id, bucket ORDER BY doc_id, bucket""".stripMargin.replace("\n", "")),
    // mixture-design diagnostic: pairwise token-set jaccard between sources —
    // all-integer arithmetic, bit-deterministic
    Query("q_source_vocab_overlap", (s, dir) =>
      TextAnalysis.groupVocabOverlap(documents(s, dir), "text", "source")
        .orderBy("group_a", "group_b"),
      s"""WITH toks AS (SELECT DISTINCT source, UNNEST($dedupWords) AS tok FROM documents),
         | sizes AS (SELECT source, COUNT(*) AS sz FROM toks GROUP BY 1),
         | inter AS (SELECT a.source AS group_a, b.source AS group_b, COUNT(*) AS it
         |   FROM toks a JOIN toks b ON a.tok = b.tok AND a.source < b.source GROUP BY 1, 2)
         | SELECT group_a, group_b,
         |   CAST(it AS DOUBLE) / CAST(sa.sz + sb.sz - it AS DOUBLE) AS vocab_jaccard
         | FROM inter JOIN sizes sa ON sa.source = group_a JOIN sizes sb ON sb.source = group_b
         | ORDER BY group_a, group_b""".stripMargin.replace("\n", "")),
    // distribution-aware companion: pairwise total-variation distance of
    // token frequencies via TV = 1 − Σ min(p,q) (inner join only, no libm)
    Query("q_source_divergence", (s, dir) =>
      TextAnalysis.groupDivergence(documents(s, dir), "text", "source")
        .orderBy("group_a", "group_b"),
      // same counts→probabilities, same inner-join min-sum identity
      s"""WITH toks AS (SELECT source, UNNEST($dedupWords) AS tok FROM documents),
         | c AS (SELECT source, tok, COUNT(*) AS n FROM toks GROUP BY 1, 2),
         | t AS (SELECT source, SUM(n) AS tot FROM c GROUP BY 1),
         | p AS (SELECT c.source, tok, CAST(n AS DOUBLE) / CAST(tot AS DOUBLE) AS p
         |   FROM c JOIN t USING (source)),
         | m AS (SELECT a.source AS group_a, b.source AS group_b,
         |   SUM(CAST(LEAST(a.p, b.p) AS DECIMAL(30,6))) AS s
         |   FROM p a JOIN p b ON a.tok = b.tok AND a.source < b.source GROUP BY 1, 2)
         | SELECT group_a, group_b, 1.0 - CAST(s AS DOUBLE) AS tv_distance
         | FROM m ORDER BY group_a, group_b""".stripMargin.replace("\n", "")),
    Query("q_top_bigrams", (s, dir) =>
      TextAnalysis.topBigrams(documents(s, dir), "text", "doc_id", 50),
      s"""SELECT bigram, COUNT(*) AS n
         | FROM (SELECT UNNEST(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])) AS bigram
         |   FROM (SELECT $dedupWords AS t FROM documents))
         | GROUP BY bigram ORDER BY n DESC, bigram ASC LIMIT 50""".stripMargin.replace("\n", "")),
    // collocation mining: top bigrams by lift (= exp PMI), support floor 5
    Query("q_bigram_lift", (s, dir) =>
      TextAnalysis.bigramLift(documents(s, dir), "text", minCount = 5, k = 100),
      // integer-count ratio in a mirrored double expression tree (no ln() —
      // libm parity); N/U totals taken BEFORE the support floor on both sides
      s"""WITH t AS (SELECT $dedupWords AS t FROM documents),
         | big AS (SELECT UNNEST(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])) AS bigram FROM t),
         | bc AS (SELECT bigram, COUNT(*) AS n_ab FROM big GROUP BY 1),
         | uni AS (SELECT UNNEST(t) AS token FROM t),
         | uc AS (SELECT token, COUNT(*) AS n FROM uni GROUP BY 1),
         | tot AS (SELECT (SELECT CAST(SUM(n_ab) AS DOUBLE) FROM bc) AS nn,
         |   (SELECT CAST(SUM(n) AS DOUBLE) FROM uc) AS u)
         | SELECT b.bigram, b.n_ab, a.n AS n_a, c.n AS n_b,
         |   ((((CAST(b.n_ab AS DOUBLE) * u) / CAST(a.n AS DOUBLE)) * u) / CAST(c.n AS DOUBLE)) / nn AS lift
         | FROM bc b CROSS JOIN tot
         | JOIN uc a ON split_part(b.bigram, ' ', 1) = a.token
         | JOIN uc c ON split_part(b.bigram, ' ', 2) = c.token
         | WHERE b.n_ab >= 5
         | ORDER BY lift DESC, bigram ASC LIMIT 100""".stripMargin.replace("\n", "")),
    // memorization audit: share of each doc's distinct 5-gram shingles that
    // no other document contains
    Query("q_ngram_novelty", (s, dir) =>
      TextAnalysis.ngramNovelty(documents(s, dir), "text", "doc_id", n = 5)
        .orderBy("doc_id"),
      // docFreq=1 shingles attributed via MIN(doc_id) inside the aggregate —
      // the same no-join shape as the Spark plan
      s"""WITH ${shingleCte(5)},
         | tot AS (SELECT doc_id, COUNT(*) AS n_shingles FROM sh GROUP BY 1),
         | nov AS (SELECT MIN(doc_id) AS doc_id FROM sh GROUP BY s HAVING COUNT(*) = 1),
         | novc AS (SELECT doc_id, COUNT(*) AS n_novel FROM nov GROUP BY 1)
         | SELECT doc_id, n_shingles, COALESCE(n_novel, 0) AS n_novel,
         |   CAST(COALESCE(n_novel, 0) AS DOUBLE) / CAST(n_shingles AS DOUBLE) AS novel_share
         | FROM tot LEFT JOIN novc USING (doc_id) ORDER BY doc_id""".stripMargin.replace("\n", "")),
    Query("q_doc_rarity", (s, dir) =>
      TextAnalysis.docRarity(documents(s, dir), "text", "doc_id").orderBy("doc_id"),
      s"""WITH tok AS (SELECT doc_id, UNNEST($dedupWords) AS token FROM documents),
         | vocab AS (SELECT token, COUNT(*) AS freq FROM tok GROUP BY token),
         | ranked AS (SELECT token, freq,
         |   row_number() OVER (ORDER BY freq DESC, token ASC) AS rnk FROM vocab)
         | SELECT doc_id, COUNT(*) AS n_tokens, COUNT(DISTINCT t.token) AS n_unique,
         |   CAST(SUM(rnk) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_rank,
         |   MIN(freq) AS min_freq
         | FROM tok t JOIN ranked r ON t.token = r.token
         | GROUP BY doc_id ORDER BY doc_id""".stripMargin.replace("\n", "")),
    Query("q_repetition", (s, dir) =>
      TextAnalysis.repetitionStats(documents(s, dir), "text", "doc_id", n = 3)
        .orderBy("doc_id"),
      {
      val sl = s"""CASE WHEN len(ws) - 2 <= 0 THEN [array_to_string(ws, ' ')]
                  | ELSE list_transform(range(0, len(ws) - 2), i -> array_to_string(list_slice(ws, i + 1, i + 3), ' ')) END""".stripMargin.replace("\n", "")
      s"""WITH words AS (SELECT doc_id, $dedupWords AS ws FROM documents),
         | s AS (SELECT doc_id, $sl AS sl FROM words)
         | SELECT doc_id, CAST(len(sl) AS BIGINT) AS n_ngrams,
         |  CAST(len(list_distinct(sl)) AS BIGINT) AS n_distinct_ngrams,
         |  CASE WHEN len(sl) > 0 THEN 1.0 - CAST(len(list_distinct(sl)) AS DOUBLE) / CAST(len(sl) AS DOUBLE)
         |   ELSE 0.0 END AS dup_ngram_ratio
         | FROM s ORDER BY doc_id""".stripMargin.replace("\n", "")
    }),
    // deterministic synthetic PII appended so the scrub has positives to hit
    Query("q_pii_scrub", (s, dir) =>
      TextAnalysis.scrubPii(
        documents(s, dir).select(col("doc_id"),
          concat(col("text"), lit(" contact user"), col("doc_id").cast(StringType),
            lit("@example.com at 10.0.0."), (col("doc_id") % 256).cast(StringType)).as("text")),
        "text")
        .select(col("doc_id"), col("scrubbed"), col("n_email"), col("n_ipv4"))
        .orderBy("doc_id"),
      """WITH t AS (SELECT doc_id,
        |   text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com at 10.0.0.' || CAST(doc_id % 256 AS VARCHAR) AS text
        |  FROM documents)
        | SELECT doc_id,
        |  regexp_replace(regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g') AS scrubbed,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
        |  CAST(len(regexp_extract_all(text, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS BIGINT) AS n_ipv4
        | FROM t ORDER BY doc_id""".stripMargin.replace("\n", "")),
    // benchmark decontamination: every 10th doc plays the benchmark set
    Query("q_decontaminate", (s, dir) => {
      val d = documents(s, dir)
      Dedup.contamination(
        d.filter(col("doc_id") % 10 =!= 0), d.filter(col("doc_id") % 10 === 0),
        "text", "doc_id", n = 8, minContainment = 0.5)
        .orderBy("corpus_id", "bench_id")
    },
      s"""WITH ${shingleCte(8)},
         | c AS (SELECT doc_id AS corpus_id, s FROM sh WHERE doc_id % 10 <> 0),
         | b AS (SELECT doc_id AS bench_id, s FROM sh WHERE doc_id % 10 = 0),
         | bsz AS (SELECT bench_id, COUNT(*) AS bsz FROM b GROUP BY 1),
         | j AS (SELECT corpus_id, bench_id, COUNT(*) AS it FROM c JOIN b USING (s) GROUP BY 1, 2)
         | SELECT corpus_id, bench_id, CAST(it AS DOUBLE) / CAST(bsz AS DOUBLE) AS containment
         | FROM j JOIN bsz USING (bench_id)
         | WHERE CAST(it AS DOUBLE) / CAST(bsz AS DOUBLE) >= 0.5
         | ORDER BY corpus_id, bench_id""".stripMargin.replace("\n", "")),
    Query("q_split_assign", (s, dir) =>
      graft.operators.Sampling.withSplit(documents(s, dir).select("doc_id"), "doc_id")
        .orderBy("doc_id"),
      s"""SELECT doc_id, CASE WHEN h % 1000 < 800 THEN 'train' WHEN h % 1000 < 900 THEN 'val'
         | ELSE 'test' END AS split
         | FROM (SELECT doc_id, ${idHashSql("doc_id")} AS h FROM documents) ORDER BY doc_id""".stripMargin.replace("\n", "")),
    // per-source length profile: exact p50/p90/p99 of n_chars — the
    // distribution check a mixture recipe reads before setting budgets
    Query("q_source_length_profile", (s, dir) =>
      Queries.exactPercentiles(documents(s, dir), "source", "n_chars", "doc_id",
        Seq(0.5, 0.9, 0.99)).orderBy("source"),
      // same per-source rank order, same ceil(p·n) picks
      """WITH r AS (SELECT source, n_chars,
        |   row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rn,
        |   COUNT(*) OVER (PARTITION BY source) AS n FROM documents)
        | SELECT source,
        |   MAX(CASE WHEN rn = CAST(ceil(CAST(0.5 AS DOUBLE) * CAST(n AS DOUBLE)) AS BIGINT) THEN n_chars END) AS p50,
        |   MAX(CASE WHEN rn = CAST(ceil(CAST(0.9 AS DOUBLE) * CAST(n AS DOUBLE)) AS BIGINT) THEN n_chars END) AS p90,
        |   MAX(CASE WHEN rn = CAST(ceil(CAST(0.99 AS DOUBLE) * CAST(n AS DOUBLE)) AS BIGINT) THEN n_chars END) AS p99
        | FROM r GROUP BY source ORDER BY source""".stripMargin.replace("\n", "")),
    // per-source token budget: keep docs in stable hash order while the
    // running ws-token sum stays ≤ 500 (strict; boundary doc dropped)
    Query("q_token_budget_sample", (s, dir) =>
      graft.operators.Sampling.tokenBudgetSample(
        documents(s, dir).select(col("doc_id"), col("source"),
          TextAnalysis.wsTokens(col("text")).cast(LongType).as("n_tokens")),
        "doc_id", "source", "n_tokens", budget = 500L)
        .select("doc_id", "source", "n_tokens", "cum_tokens")
        .orderBy("doc_id"),
      // same hash order, same running sum, same strict-≤ boundary rule
      s"""WITH d AS (SELECT doc_id, source,
         |   CAST(len(list_filter(string_split_regex(text, '\\s+'), w -> len(w) > 0)) AS BIGINT) AS n_tokens,
         |   ${idHashSql("doc_id")} AS h FROM documents),
         | c AS (SELECT doc_id, source, n_tokens,
         |   SUM(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id) AS cum_tokens FROM d)
         | SELECT doc_id, source, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
         | FROM c WHERE cum_tokens <= 500 ORDER BY doc_id""".stripMargin.replace("\n", "")),
    // curriculum data ordering: easy-first (n_chars) within source,
    // round-robin interleave across sources via pure position arithmetic
    Query("q_curriculum_interleave", (s, dir) =>
      graft.operators.Sampling.curriculumInterleave(
        documents(s, dir).select("doc_id", "source", "n_chars"),
        "doc_id", "source", "n_chars")
        .select("doc_id", "source", "src_rank", "position")
        .orderBy("position"),
      // same alphabetical stratum index, same per-source rank, same position
      // arithmetic
      """WITH s AS (SELECT source, row_number() OVER (ORDER BY source) - 1 AS si,
        |   COUNT(*) OVER () AS ns FROM (SELECT DISTINCT source FROM documents)),
        | r AS (SELECT doc_id, source,
        |   row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS src_rank
        |   FROM documents)
        | SELECT r.doc_id, r.source, r.src_rank, (r.src_rank - 1) * s.ns + s.si AS position
        | FROM r JOIN s USING (source) ORDER BY position""".stripMargin.replace("\n", "")),
    Query("q_quality_filter", (s, dir) =>
      TextAnalysis.qualityFilter(documents(s, dir).select("doc_id", "text"), "text")
        .select(col("doc_id"), col("keep"), col("drop_reason")).orderBy("doc_id"),
      qualityFilterSql),
    // per-source absolute cap (domain quotas): at most 10 docs per source
    Query("q_source_caps", (s, dir) =>
      graft.operators.Sampling.perKeyCap(
        documents(s, dir).select("doc_id", "source"), Seq("source"), "doc_id", 10)
        .orderBy("doc_id"),
      s"""WITH r AS (SELECT doc_id, source,
         |   row_number() OVER (PARTITION BY source ORDER BY ${idHashSql("doc_id")}, doc_id) AS rn
         |   FROM documents)
         | SELECT doc_id, source FROM r WHERE rn <= 10 ORDER BY doc_id""".stripMargin.replace("\n", "")),
    // char-level entropy + distinct-char ratio quality signals (rounded —
    // libm log differs across engines in the last ulp)
    Query("q_char_entropy", (s, dir) =>
      documents(s, dir).select(col("doc_id"),
        round(TextAnalysis.charEntropy(col("text")), 6).as("entropy"),
        (size(array_distinct(split(col("text"), ""))).cast(DoubleType) /
          length(col("text")).cast(DoubleType)).as("distinct_char_ratio"))
        .orderBy("doc_id"),
      """WITH c AS (SELECT doc_id, length(text) AS n, string_split(text, '') AS cs FROM documents),
        | k AS (SELECT doc_id, n,
        |   list_sort(list_transform(list_distinct(cs), ch -> len(list_filter(cs, x -> x = ch)))) AS cnts,
        |   len(list_distinct(cs)) AS nd FROM c)
        | SELECT doc_id,
        |   round(ln(CAST(n AS DOUBLE)) / ln(2.0e0) -
        |     list_sum(list_transform(cnts, c2 -> CAST(c2 AS DOUBLE) * (ln(CAST(c2 AS DOUBLE)) / ln(2.0e0)))) / CAST(n AS DOUBLE), 6) AS entropy,
        |   CAST(nd AS DOUBLE) / CAST(n AS DOUBLE) AS distinct_char_ratio
        | FROM k ORDER BY doc_id""".stripMargin.replace("\n", "")),
    // DSIR importance weights (Xie'23): non-English docs scored by how
    // English-like their hashed unigram+bigram bucket distribution is —
    // the data-selection signal you resample against a target domain with.
    // λ decimal-rounded per bucket ⇒ order-free doc sums; target_like
    // tests the exact decimal sign. The weight frame is the shared artifact
    // (computed once per session) both this query and the stage-2 resample
    // consume — the minhashPairIndex pattern.
    Query("q_dsir_weights", (s, dir) =>
      dsirWeightIndex(s, dir).orderBy("doc_id"),
      // same bucket map (md5-prefix), same add-1 λ rounded to 9 dp as decimal,
      // same (10,0)×(20,9) product discipline, same exact-sign flag
      s"""WITH $dsirLambdaCtes,
         | w AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_grams,
         |   SUM(CAST(c AS DECIMAL(10,0)) * lam) AS w
         |   FROM dc JOIN lam ON lam.b = dc.b GROUP BY 1)
         | SELECT doc_id, n_grams, round(CAST(w AS DOUBLE), 6) AS log_weight,
         |   w > 0 AS target_like
         | FROM w ORDER BY doc_id""".stripMargin.replace("\n", "")),
    // DSIR stage 2: Gumbel top-50 resample over those weights — the
    // Gumbel-max trick with content-addressed (md5 idHash) uniforms, so
    // WHICH docs survive is deterministic and oracle-replayed
    Query("q_dsir_resample", (s, dir) =>
      TextAnalysis.gumbelTopK(dsirWeightIndex(s, dir), "doc_id", "log_weight", k = 50)
        .orderBy(col("gumbel_key").desc, col("doc_id")),
      // the dsir CTE pipeline + the Gumbel key: uniform from the 15-nibble
      // md5 idHash, key = round(log_weight + round(−ln(−ln u), 9), 6),
      // (key DESC, doc_id) top-50
      s"""WITH $dsirLambdaCtes,
         | w AS (SELECT doc_id, SUM(CAST(c AS DECIMAL(10,0)) * lam) AS w
         |   FROM dc JOIN lam ON lam.b = dc.b GROUP BY 1),
         | keyd AS (SELECT doc_id, round(CAST(w AS DOUBLE), 6) AS log_weight,
         |   round(round(CAST(w AS DOUBLE), 6) +
         |     round(-ln(-ln((CAST(${idHashSql("doc_id")} AS DOUBLE) + 0.5) / 1152921504606846976)), 9), 6) AS gumbel_key
         |   FROM w)
         | SELECT doc_id, log_weight, gumbel_key FROM keyd
         | ORDER BY gumbel_key DESC, doc_id LIMIT 50""".stripMargin.replace("\n", "")),
    // CCNet-style cross-entropy filter signal: non-English docs scored
    // under the English-trained add-1 bigram LM (unseen pairs back off to
    // the 1/V floor) — mean ln p per doc, decimal-ordered sums
    Query("q_bigram_cross_score", (s, dir) => {
      val docs = documents(s, dir)
      TextAnalysis.bigramCrossScore(docs.filter(col("lang") =!= "en"),
          docs.filter(col("lang") === "en"), "text", "doc_id")
        .orderBy("doc_id")
    },
      // q_bigram_lm's CTE shape with LEFT joins + the add-1 floor for unseen
      // pairs/contexts; target-trained counts, raw-side scoring
      s"""WITH tokt AS (SELECT $dedupWords AS ts FROM documents WHERE lang = 'en'),
         | tokr AS (SELECT doc_id, $dedupWords AS ts FROM documents WHERE lang <> 'en'),
         | bgt AS (SELECT unnest(list_transform(range(1, len(ts)), i -> {'w1': ts[i], 'w2': ts[i + 1]})) AS b FROM tokt),
         | bgte AS (SELECT b.w1 AS w1, b.w2 AS w2 FROM bgt),
         | pc AS (SELECT w1, w2, COUNT(*) AS c2 FROM bgte GROUP BY 1, 2),
         | cc AS (SELECT w1, COUNT(*) AS c1 FROM bgte GROUP BY 1),
         | v AS (SELECT COUNT(DISTINCT t) AS v FROM (SELECT unnest(ts) AS t FROM tokt)),
         | bgr AS (SELECT doc_id, unnest(list_transform(range(1, len(ts)), i -> {'w1': ts[i], 'w2': ts[i + 1]})) AS b FROM tokr),
         | bgre AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM bgr),
         | sc AS (SELECT doc_id,
         |   CAST(round(ln(CAST(COALESCE(c2, 0) + 1 AS DOUBLE) /
         |     (CAST(COALESCE(c1, 0) AS DOUBLE) + CAST(v AS DOUBLE))), 9) AS DECIMAL(20,9)) AS lp
         |   FROM bgre LEFT JOIN pc USING (w1, w2) LEFT JOIN cc USING (w1) CROSS JOIN v)
         | SELECT doc_id, COUNT(*) AS n_bigrams,
         |   round(CAST(SUM(lp) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS cross_lp
         | FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin.replace("\n", "")),
    // self-trained add-one bigram LM fluency score (rounded mean ln p)
    Query("q_bigram_lm", (s, dir) =>
      TextAnalysis.bigramLogProb(documents(s, dir), "text", "doc_id")
        .select(col("doc_id"), col("n_bigrams"), round(col("mean_lp"), 6).as("mean_lp"))
        .orderBy("doc_id"),
      s"""WITH tok AS (SELECT doc_id, $dedupWords AS ts FROM documents),
         | bg AS (SELECT doc_id, unnest(list_transform(range(1, len(ts)), i -> {'w1': ts[i], 'w2': ts[i + 1]})) AS b FROM tok),
         | bge AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM bg),
         | pc AS (SELECT w1, w2, COUNT(*) AS c2 FROM bge GROUP BY 1, 2),
         | pp AS (SELECT w1, w2, c2, SUM(c2) OVER (PARTITION BY w1) AS c1 FROM pc),
         | v AS (SELECT COUNT(DISTINCT t) AS v FROM (SELECT unnest(ts) AS t FROM tok)),
         | sc AS (SELECT doc_id,
         |   ln((CAST(c2 AS DOUBLE) + 1.0e0) / (CAST(c1 AS DOUBLE) + CAST(v AS DOUBLE))) AS lp
         |   FROM bge JOIN pp USING (w1, w2) CROSS JOIN v)
         | SELECT doc_id, COUNT(*) AS n_bigrams,
         |   round(SUM(lp) / CAST(COUNT(*) AS DOUBLE), 6) AS mean_lp
         | FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin.replace("\n", "")),
    // --- training-data assembly: packing / mixture / tf-idf ----------------
    // sliding context-window chunking: 32-token windows every 24 tokens
    Query("q_chunk_docs", (s, dir) =>
      graft.operators.Packing.chunkDocs(documents(s, dir), "text", "doc_id",
        chunkSize = 32, stride = 24)
        .orderBy("doc_id", "chunk_id"),
      s"""WITH t AS (SELECT doc_id, $dedupWords AS ts FROM documents),
         | n AS (SELECT doc_id, ts, len(ts) AS n FROM t WHERE len(ts) > 0),
         | st AS (SELECT doc_id, ts, n,
         |   unnest(range(0, CAST(ceil(CAST(greatest(n - 32, 0) AS DOUBLE) / 24.0e0) AS BIGINT) * 24 + 1, 24)) AS chunk_start
         |   FROM n)
         | SELECT doc_id, chunk_start // 24 AS chunk_id, chunk_start,
         |   least(chunk_start + 32, n) AS chunk_end,
         |   array_to_string(ts[chunk_start + 1 : chunk_start + 32], ' ') AS chunk_text
         | FROM st ORDER BY doc_id, chunk_id""".stripMargin.replace("\n", "")),
    // distributed two-level prefix sum == the oracle's single global window
    Query("q_pack_sequences", (s, dir) =>
      graft.operators.Packing.packSequences(
        documents(s, dir).select(col("doc_id"),
          TextAnalysis.bpeTokens(col("text")).cast(LongType).as("n_tokens")),
        "n_tokens", "doc_id", budget = 2048L, groupSize = 512L)
        .select("doc_id", "n_tokens", "seq_start", "seq_id", "seq_offset")
        .orderBy("doc_id"),
      """WITH t AS (SELECT doc_id,
        |   CAST(len(regexp_extract_all(text, '[\p{L}]+|[\p{Nd}]+|[^\s\p{L}\p{Nd}]')) AS BIGINT) AS n_tokens
        |  FROM documents),
        | s AS (SELECT doc_id, n_tokens,
        |   CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS seq_start
        |  FROM t)
        | SELECT doc_id, n_tokens, seq_start, seq_start // 2048 AS seq_id,
        |  seq_start % 2048 AS seq_offset
        | FROM s ORDER BY doc_id""".stripMargin.replace("\n", "")),
    Query("q_tfidf_top_terms", (s, dir) =>
      TextAnalysis.tfidfTopTerms(documents(s, dir), "text", "doc_id", k = 3)
        .orderBy("doc_id", "rnk"),
      s"""WITH toks AS (SELECT doc_id, UNNEST($dedupWords) AS token FROM documents),
         | tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
         | dfreq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
         | nn AS (SELECT COUNT(*) AS n FROM documents),
         | scored AS (SELECT doc_id, token, tf, df,
         |   CAST(tf * n AS DOUBLE) / CAST(df AS DOUBLE) AS tfidf
         |  FROM tf JOIN dfreq USING (token), nn),
         | ranked AS (SELECT doc_id,
         |   row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, token ASC) AS rnk,
         |   token, tf, df, tfidf FROM scored)
         | SELECT doc_id, rnk, token, tf, df, tfidf FROM ranked
         | WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin.replace("\n", "")),
    // retrieval: docs containing ALL query terms, tf-idf-ranked top-20 —
    // posting-list plan (term filter BEFORE any shuffle), rational idf +
    // decimal score sum for cross-engine bit-reproducibility
    Query("q_text_search", (s, dir) =>
      graft.operators.TextSearch.search(documents(s, dir), "text", "doc_id",
        Seq("spark", "window", "table"), k = 20),
      s"""WITH toks AS (SELECT doc_id, UNNEST($dedupWords) AS token FROM documents),
         | tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks
         |   WHERE token IN ('spark','window','table') GROUP BY 1, 2),
         | dfreq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
         | nn AS (SELECT COUNT(*) AS n FROM documents),
         | scored AS (SELECT doc_id,
         |   CAST(CAST(tf * n AS DOUBLE) / CAST(df AS DOUBLE) AS DECIMAL(30,6)) AS ts
         |  FROM tf JOIN dfreq USING (token), nn),
         | agg AS (SELECT doc_id, COUNT(*) AS m, CAST(SUM(ts) AS DOUBLE) AS score
         |  FROM scored GROUP BY 1)
         | SELECT doc_id, score FROM agg WHERE m = 3
         | ORDER BY score DESC, doc_id LIMIT 20""".stripMargin.replace("\n", "")),
    Query("q_mixture_resample", (s, dir) =>
      graft.operators.Sampling.mixtureResample(
        documents(s, dir).select("doc_id", "source"), "source", "doc_id", mixtureWeights)
        .select("doc_id", "source", "n_copies", "copy_id")
        .orderBy("doc_id", "copy_id"),
      {
      val cases = mixtureWeights.map { case (src, w) =>
        s"WHEN '$src' THEN CAST($w AS DOUBLE)"
      }.mkString(" ")
      s"""WITH t AS (SELECT doc_id, source,
         |   CASE source $cases ELSE CAST(1.0 AS DOUBLE) END AS w,
         |   ${idHashSql("doc_id")} AS h
         |  FROM documents),
         | c AS (SELECT doc_id, source,
         |   CAST(floor(w) AS BIGINT) +
         |     CASE WHEN CAST(h AS DOUBLE) / 1152921504606846976 < w - floor(w) THEN 1 ELSE 0 END AS n_copies
         |  FROM t)
         | SELECT doc_id, source, n_copies, UNNEST(range(1, n_copies + 1)) AS copy_id
         | FROM c WHERE n_copies >= 1 ORDER BY doc_id, copy_id""".stripMargin.replace("\n", "")
    }),
    // temperature-flattened mixture (tau=0.5): weights DERIVED from the
    // corpus's lang shares, upsampling rare languages — the multilingual
    // rebalancing rule, with the weight table emitted per row
    Query("q_temperature_resample", (s, dir) =>
      graft.operators.Sampling.temperatureResample(
        documents(s, dir).select("doc_id", "lang"), "lang", "doc_id", tau = 0.5)
        .select("doc_id", "lang", "weight", "n_copies", "copy_id")
        .orderBy("doc_id", "copy_id"),
      // temperature weights: p^tau flattening of lang shares, round(6) for the
      // cross-engine determinism grid; then the same stochastic copy rule
      s"""WITH cnt AS (SELECT lang, CAST(COUNT(*) AS DOUBLE) AS n FROM documents GROUP BY 1),
         | tot AS (SELECT SUM(n) AS nn FROM cnt),
         | pw AS (SELECT lang, n, nn, pow(n / nn, 0.5) AS pw FROM cnt, tot),
         | z AS (SELECT SUM(pw) AS z FROM pw),
         | w AS (SELECT lang, round(pw / z * nn / n, 6) AS weight FROM pw, z),
         | t AS (SELECT doc_id, d.lang, weight, ${idHashSql("doc_id")} AS h
         |   FROM documents d JOIN w USING (lang)),
         | c AS (SELECT doc_id, lang, weight,
         |   CAST(floor(weight) AS BIGINT) +
         |     CASE WHEN CAST(h AS DOUBLE) / 1152921504606846976 < weight - floor(weight) THEN 1 ELSE 0 END AS n_copies
         |  FROM t)
         | SELECT doc_id, lang, weight, n_copies, UNNEST(range(1, n_copies + 1)) AS copy_id
         | FROM c WHERE n_copies >= 1 ORDER BY doc_id, copy_id""".stripMargin.replace("\n", "")),
    // length-decile bucketing (length-balanced batching): global rank in
    // (n_chars, doc_id) order via the SAME two-level prefix sum as packing —
    // the composite order key's high bits are the group key, so no
    // single-task global sort; decile = rank·10 div N in exact integers
    Query("q_length_deciles", (s, dir) => {
      val d = documents(s, dir).select(col("doc_id"), col("n_chars"))
      // composite order key: (n_chars, doc_id) packed so long ordering equals
      // lexicographic ordering. A 33-bit doc_id field (< 8.6e9 ids, n_chars
      // < 2^30) keeps the packing overflow-free far past any realistic
      // corpus; doc_id bits overflowing into n_chars would silently
      // mis-rank, so the bound is asserted per row (a violation fails the
      // job instead of corrupting deciles)
      val guarded = when(col("doc_id") >= lit(1L << 33) || col("n_chars") >= lit(1L << 30),
        raise_error(lit("q_length_deciles: composite key bounds exceeded")))
        .otherwise(col("n_chars") * lit(1L << 33) + col("doc_id"))
      val keyed = d
        .withColumn("__ord", guarded)
        .withColumn("__one", lit(1L))
      val ranked = graft.operators.Packing.packSequences(
        keyed, "__one", "__ord", budget = 1L, groupSize = 1L << 22)
      ranked.crossJoin(broadcast(d.agg(count(lit(1)).as("__n"))))
        .select(col("doc_id"), col("n_chars"),
          expr("seq_start * 10 div __n").as("decile"))
        .orderBy("doc_id")
    },
      """WITH r AS (SELECT doc_id, n_chars,
        |   row_number() OVER (ORDER BY n_chars, doc_id) - 1 AS rk FROM documents),
        | n AS (SELECT COUNT(*) AS n FROM documents)
        | SELECT doc_id, n_chars, rk * 10 // n AS decile FROM r, n
        | ORDER BY doc_id""".stripMargin.replace("\n", "")),
    // deterministic global shuffle: rank in md5-hash order via the two-level
    // row_number (no single-task global sort)
    Query("q_global_shuffle", (s, dir) =>
      graft.operators.Sampling.deterministicShuffle(
        documents(s, dir).select("doc_id"), "doc_id").orderBy("doc_id"),
      s"""SELECT doc_id, row_number() OVER (ORDER BY h, doc_id) - 1 AS shuffle_pos
         | FROM (SELECT doc_id, ${idHashSql("doc_id")} AS h FROM documents)
         | ORDER BY doc_id""".stripMargin.replace("\n", "")),
    // end-to-end curation pipeline in ONE plan: quality gate → exact dedup →
    // split assignment → sequence packing; the oracle composes the same four
    // stages declaratively
    Query("q_curation_pipeline", (s, dir) => {
      val d = documents(s, dir).select("doc_id", "text")
      val kept = TextAnalysis.qualityFilter(d, "text").filter(col("keep"))
        .select("doc_id", "text")
      // same min-id-per-content semantics as Dedup.exact, but as a WINDOW over
      // the content hash: Dedup.exact's semi-join would evaluate the quality
      // stage twice (once per join side) inside this composed plan; the window
      // keeps it one pass + one hash shuffle. Binary md5 (128-bit, 16-byte
      // partition key via unhex), matching Dedup.exact — a 64-bit key would
      // silently merge colliding non-duplicates at the 10¹⁰-doc design point
      val deduped = kept.withColumn("__keep", col("doc_id") ===
          min(col("doc_id")).over(Window.partitionBy(unhex(md5(col("text").cast(BinaryType))))))
        .filter(col("__keep")).drop("__keep")
      val split = graft.operators.Sampling.withSplit(deduped, "doc_id")
      val withTok = split.select(col("doc_id"), col("split"),
        TextAnalysis.bpeTokens(col("text")).cast(LongType).as("n_tokens"))
      graft.operators.Packing.packSequences(withTok, "n_tokens", "doc_id",
        budget = 2048L, groupSize = 512L)
        .select("doc_id", "split", "n_tokens", "seq_id", "seq_offset")
        .orderBy("doc_id")
    },
      s"""WITH t AS (SELECT doc_id, text, $textWords AS ws FROM documents),
         | f AS (SELECT doc_id, text, len(ws) AS n_words,
         |   CASE WHEN len(ws) > 0 THEN CAST(list_sum(list_transform(ws, x -> len(x))) AS DOUBLE) / CAST(len(ws) AS DOUBLE) END AS mwl,
         |   CASE WHEN length(text) > 0 THEN CAST(len(regexp_extract_all(text, '[[:punct:]]')) AS DOUBLE) / CAST(length(text) AS DOUBLE) ELSE 0.0 END AS pr,
         |   CASE WHEN length(text) > 0 THEN CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE) / CAST(length(text) AS DOUBLE) ELSE 0.0 END AS dr
         |  FROM t),
         | kept AS (SELECT doc_id, text FROM f
         |   WHERE n_words >= 5 AND n_words <= 100000 AND mwl >= 2.0 AND mwl <= 12.0
         |     AND dr <= 0.3 AND pr <= 0.25),
         | ded AS (SELECT k.doc_id, k.text FROM kept k
         |   JOIN (SELECT min(doc_id) AS doc_id FROM kept GROUP BY text) m USING (doc_id)),
         | sp AS (SELECT doc_id, text,
         |   CASE WHEN h % 1000 < 800 THEN 'train' WHEN h % 1000 < 900 THEN 'val' ELSE 'test' END AS split
         |  FROM (SELECT doc_id, text, ${idHashSql("doc_id")} AS h FROM ded)),
         | tok AS (SELECT doc_id, split,
         |   CAST(len(regexp_extract_all(text, '[\\p{L}]+|[\\p{Nd}]+|[^\\s\\p{L}\\p{Nd}]')) AS BIGINT) AS n_tokens
         |  FROM sp),
         | s AS (SELECT doc_id, split, n_tokens,
         |   CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
         |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS seq_start
         |  FROM tok)
         | SELECT doc_id, split, n_tokens, seq_start // 2048 AS seq_id, seq_start % 2048 AS seq_offset
         | FROM s ORDER BY doc_id""".stripMargin.replace("\n", "")),
    Query("q_source_health", (s, dir) =>
      documents(s, dir)
        .withColumn("__h", TextAnalysis.contentHash(col("text")))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("__h")).as("n_unique"),
          countDistinct(col("lang")).as("n_langs"),
          sum("n_chars").as("total_chars"))
        .withColumn("dup_rate",
          (col("n_docs") - col("n_unique")).cast(DoubleType) / col("n_docs").cast(DoubleType))
        .withColumn("mean_chars",
          col("total_chars").cast(DoubleType) / col("n_docs").cast(DoubleType))
        .orderBy("source"),
      """SELECT source, COUNT(*) AS n_docs,
        | COUNT(DISTINCT md5(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS n_unique,
        | COUNT(DISTINCT lang) AS n_langs,
        | CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        | CAST(COUNT(*) - COUNT(DISTINCT md5(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS DOUBLE)
        |   / CAST(COUNT(*) AS DOUBLE) AS dup_rate,
        | CAST(SUM(n_chars) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_chars
        | FROM documents GROUP BY source ORDER BY source""".stripMargin.replace("\n", "")),
    Query("q_corpus_stats", (s, dir) =>
      documents(s, dir).groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          min("n_chars").as("min_chars"),
          max("n_chars").as("max_chars"),
          percentile(col("n_chars"), lit(0.5)).as("median_chars"),
          sum("n_chars").as("total_chars"))
        .orderBy("lang"),
      """SELECT lang, COUNT(*) AS n_docs, MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars,
        | quantile_cont(n_chars, 0.5) AS median_chars, CAST(SUM(n_chars) AS BIGINT) AS total_chars
        | FROM documents GROUP BY lang ORDER BY lang""".stripMargin.replace("\n", "")),
    // corrupt-tolerant JSONL ingestion over a committed fixture (2 of 6 lines
    // malformed); DuckDB's ignore_errors states the same good-row set
    Query("q_jsonl_parse", (s, _) =>
      graft.sources.JsonlLoader.good(
        graft.sources.JsonlLoader.read(s, Fixtures.path("corpus.jsonl")))
        .orderBy("doc_id"),
      // ignore_errors=true turns malformed lines into all-null rows (not
      // skips) — the doc_id filter drops exactly the quarantine set
      s"""SELECT doc_id, text, lang, source
        | FROM read_json('${Fixtures.path("corpus.jsonl")}', format='newline_delimited',
        |   columns={doc_id: 'BIGINT', text: 'VARCHAR', lang: 'VARCHAR', source: 'VARCHAR'},
        |   ignore_errors=true)
        | WHERE doc_id IS NOT NULL
        | ORDER BY doc_id""".stripMargin.replace("\n", "")),
    // ... and the quarantine side: exactly the malformed raw lines
    Query("q_jsonl_quarantine", (s, _) =>
      graft.sources.JsonlLoader.quarantine(
        graft.sources.JsonlLoader.read(s, Fixtures.path("corpus.jsonl")))
        .orderBy("raw_line"),
      s"""SELECT raw_line FROM read_csv('${Fixtures.path("corpus.jsonl")}', header=false,
        | delim='|', quote='', escape='', columns={'raw_line': 'VARCHAR'})
        | WHERE NOT json_valid(raw_line) ORDER BY raw_line""".stripMargin.replace("\n", "")),
    // tokenizer fertility per language: BPE-ish tokens per whitespace word
    // (and chars per BPE token) — the tokenizer-efficiency diagnostic a
    // multilingual data mix ships. Pure narrow kernels + one tiny groupBy.
    Query("q_tokenizer_fertility", (s, dir) =>
      documents(s, dir)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(TextAnalysis.wsTokens(col("text"))).cast(LongType).as("ws_tokens"),
          sum(TextAnalysis.bpeTokens(col("text"))).cast(LongType).as("bpe_tokens"),
          sum(length(col("text"))).cast(LongType).as("n_chars"))
        .withColumn("fertility",
          round(col("bpe_tokens").cast(DoubleType) / col("ws_tokens").cast(DoubleType), 6))
        .withColumn("chars_per_token",
          round(col("n_chars").cast(DoubleType) / col("bpe_tokens").cast(DoubleType), 6))
        .orderBy("lang"),
      // same ws/BPE-ish token expressions as q_token_counts, summed per lang
      """WITH t AS (SELECT lang,
        |   len(list_filter(string_split_regex(text, '\s+'), w -> len(w) > 0)) AS wt,
        |   len(regexp_extract_all(text, '[\p{L}]+|[\p{Nd}]+|[^\s\p{L}\p{Nd}]')) AS bt,
        |   length(text) AS ch FROM documents),
        | a AS (SELECT lang, COUNT(*) AS n_docs, CAST(SUM(wt) AS BIGINT) AS ws_tokens,
        |   CAST(SUM(bt) AS BIGINT) AS bpe_tokens, CAST(SUM(ch) AS BIGINT) AS n_chars
        |   FROM t GROUP BY lang)
        | SELECT lang, n_docs, ws_tokens, bpe_tokens, n_chars,
        |   round(CAST(bpe_tokens AS DOUBLE) / CAST(ws_tokens AS DOUBLE), 6) AS fertility,
        |   round(CAST(n_chars AS DOUBLE) / CAST(bpe_tokens AS DOUBLE), 6) AS chars_per_token
        | FROM a ORDER BY lang""".stripMargin.replace("\n", "")),
    // Tokenizer APPLY (the learn-side duals are q_bpe_merges / q_top_tokens):
    // greedy longest-match segmentation of every word against a corpus-learned
    // vocabulary (top-100 words + top-100 char 3-grams + top-100 2-grams,
    // ties by string — deterministic in both engines), single-char fallback.
    // The encode itself is ONE narrow codegen'd kernel pass (GreedySegment);
    // vocabulary learning is three partial-agg count passes with only ~300
    // strings landing on the driver (the BPE-merge literal-shipping pattern).
    // Per-source fallback-rate / chars-per-token is the report a tokenizer
    // designer reads before freezing a vocab.
    Query("q_subword_encode", (s, dir) =>
      TextAnalysis.subwordEncodeReport(documents(s, dir), "text", "source",
        sessionVocab(s, dir)),
      // Tokenizer-apply dual: identical vocabulary rank (count DESC, string ASC,
      // top-100 words + top-100 char 3-/2-grams), identical greedy matcher — the
      // per-(position, length) candidate substring equi-joins the vocab (hash
      // join), MAX(length) per position is the longest match, and a recursive
      // CTE (MATERIALIZED — the q_kcenters lesson) walks each DISTINCT word.
      // Code-point units agree: DuckDB len/substr and Spark length/substr.
      subwordEncodeDual),
    // Rendezvous (highest-random-weight) shard rebalance plan: every doc is
    // assigned argmax_s h(doc,s) under 16 and under 20 shards; the report per
    // new shard shows HRW's minimal-movement property — docs only ever move
    // INTO the four new shards (n_moved_in = 0 for shards 0-15), expected
    // movement 4/20 of the corpus. Narrow per-row expression (md5 for oracle
    // parity; an engine-internal deployment would swap in xxhash64), one tiny
    // 20-row rollup — scan-speed at 100 TB, the capacity-planning query a
    // serving operator runs before adding nodes.
    Query("q_shard_plan", (s, dir) => {
      def hv(salt: Int) = conv(substring(md5(concat(col("doc_id").cast(StringType),
        lit(":" + salt))), 1, 15), 16, 10).cast(LongType)
      val h16 = array((0 until 16).map(hv): _*)
      val h20 = array((0 until 20).map(hv): _*)
      documents(s, dir).select(col("doc_id"),
          (array_position(h16, array_max(h16)) - 1).cast(LongType).as("shard_before"),
          (array_position(h20, array_max(h20)) - 1).cast(LongType).as("shard_after"))
        .groupBy("shard_after").agg(count(lit(1)).as("n_docs"),
          sum(when(col("shard_before") =!= col("shard_after"), 1L).otherwise(0L))
            .as("n_moved_in"))
        .withColumn("moved_frac",
          round(col("n_moved_in").cast(DoubleType) / col("n_docs").cast(DoubleType), 6))
        .orderBy("shard_after")
    },
      // HRW dual: same 60-bit md5 nibble fold (q_feature_hash precedent), argmax
      // by (hash DESC, salt ASC) = Spark's array_position-first-max tie rule
      """WITH h AS MATERIALIZED (SELECT doc_id, r.s AS s,
        |   list_reduce(list_transform(range(1, 16), i -> CAST(strpos('0123456789abcdef',
        |     substring(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(r.s AS VARCHAR)), i, 1)) - 1 AS BIGINT)),
        |     (a,b) -> a*16 + b) AS hv
        |   FROM documents, UNNEST(range(0, 20)) AS r(s)),
        | b16 AS (SELECT doc_id, s AS shard_before FROM (SELECT doc_id, s,
        |     row_number() OVER (PARTITION BY doc_id ORDER BY hv DESC, s ASC) AS rn
        |   FROM h WHERE s < 16) WHERE rn = 1),
        | b20 AS (SELECT doc_id, s AS shard_after FROM (SELECT doc_id, s,
        |     row_number() OVER (PARTITION BY doc_id ORDER BY hv DESC, s ASC) AS rn
        |   FROM h) WHERE rn = 1)
        | SELECT shard_after, COUNT(*) AS n_docs,
        |   CAST(SUM(CASE WHEN shard_before <> shard_after THEN 1 ELSE 0 END) AS BIGINT) AS n_moved_in,
        |   round(CAST(SUM(CASE WHEN shard_before <> shard_after THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS moved_frac
        | FROM b16 JOIN b20 USING (doc_id) GROUP BY shard_after ORDER BY shard_after""".stripMargin.replace("\n", "")),
    // Token-balanced serpentine shard packing: docs ranked by token count
    // (desc, doc_id tiebreak) snake across 8 shards (rank row r goes to
    // shard r%8 on even passes, 7-r%8 on odd) — the standard near-balanced
    // deterministic assignment a training run uses to build equal-token
    // shards. The global rank is DISTRIBUTED: per-token-count row_number
    // (bounded groups) + a cumulative-offset window over the DISTINCT token
    // counts (a few hundred rows at any corpus size — the pack_sequences
    // carry-table pattern); no single-task corpus sort anywhere.
    Query("q_token_shards", (s, dir) =>
      TextAnalysis.tokenShardReport(documents(s, dir), "text", "doc_id", nShards = 8),
      // same snake formula on the identical (toks DESC, doc_id) global rank;
      // DuckDB `//` = Spark DIV on BIGINTs
      """WITH t AS (SELECT doc_id,
        |   CAST(len(list_filter(string_split_regex(text, '\s+'), w -> len(w) > 0)) AS BIGINT) AS toks
        |   FROM documents),
        | r AS (SELECT toks, row_number() OVER (ORDER BY toks DESC, doc_id) - 1 AS rk FROM t),
        | sh AS (SELECT toks, CASE WHEN (rk // 8) % 2 = 0 THEN rk % 8 ELSE 7 - (rk % 8) END AS shard FROM r),
        | g AS (SELECT shard, COUNT(*) AS n_docs, CAST(SUM(toks) AS BIGINT) AS total_tokens FROM sh GROUP BY shard)
        | SELECT shard, n_docs, total_tokens,
        |   round(CAST(total_tokens AS DOUBLE) * 8 / SUM(total_tokens) OVER (), 6) AS balance_ratio
        | FROM g ORDER BY shard""".stripMargin.replace("\n", "")),
    // Tokenizer OOV drift — the day-2 monitoring query: the vocabulary is
    // frozen on the LANDED cohort only (doc_id even — the already-ingested
    // corpus a deployed tokenizer trained on), then both cohorts encode
    // under it; the arriving cohort's higher fallback rate IS the drift
    // signal an operator alerts on before the tokenizer degrades. Small
    // vocab (25/25 — below the corpus's saturation point, see q_vocab_curve)
    // so the fallback channel carries signal.
    Query("q_vocab_drift", (s, dir) => {
      val d = documents(s, dir).withColumn("cohort",
        when(col("doc_id") % 2 === 0, "landed").otherwise("arriving"))
      val vocab = TextAnalysis.subwordVocab(d.filter(col("cohort") === "landed"),
        "text", topWords = 25, topGrams = 25)
      TextAnalysis.subwordEncodeReport(d, "text", "cohort", vocab)
    },
      // drift dual: the q_subword_encode matcher with the vocab CTEs filtered
      // to the LANDED cohort (doc_id even) at 25/25, report keyed by cohort
      """WITH t AS MATERIALIZED (SELECT doc_id,
        |   CASE WHEN doc_id % 2 = 0 THEN 'landed' ELSE 'arriving' END AS cohort,
        |   regexp_extract_all(lower(text), '[\p{L}\p{Nd}]+') AS ws FROM documents),
        | docw AS MATERIALIZED (SELECT cohort, doc_id, UNNEST(ws) AS w FROM t),
        | docwl AS MATERIALIZED (SELECT w FROM docw WHERE cohort = 'landed'),""".stripMargin
        .replace("\n", "") + " " + subwordMatchCtes("docwl", 25, "docw") + "," +
      """ perdoc AS (SELECT d.cohort, d.doc_id, COUNT(*) AS nw, SUM(s.toks) AS toks,
        |     SUM(s.fb) AS fb, SUM(len(d.w)) AS ch
        |   FROM docw d JOIN seg s USING (w) GROUP BY d.cohort, d.doc_id),
        | alldocs AS (SELECT t.cohort, COALESCE(p.nw, 0) AS nw, COALESCE(p.toks, 0) AS toks,
        |     COALESCE(p.fb, 0) AS fb, COALESCE(p.ch, 0) AS ch
        |   FROM t LEFT JOIN perdoc p ON p.doc_id = t.doc_id)
        | SELECT cohort, COUNT(*) AS n_docs, CAST(SUM(nw) AS BIGINT) AS n_words,
        |   CAST(SUM(toks) AS BIGINT) AS n_tokens, CAST(SUM(fb) AS BIGINT) AS n_fallback,
        |   CAST(SUM(ch) AS BIGINT) AS n_chars,
        |   CASE WHEN SUM(toks) > 0 THEN round(CAST(SUM(fb) AS DOUBLE) / CAST(SUM(toks) AS DOUBLE), 6) END AS fallback_rate,
        |   CASE WHEN SUM(toks) > 0 THEN round(CAST(SUM(ch) AS DOUBLE) / CAST(SUM(toks) AS DOUBLE), 6) END AS chars_per_token
        | FROM alldocs GROUP BY cohort ORDER BY cohort""".stripMargin.replace("\n", "")),
    // Tokenizer vocab-size curve: learn the candidate ranking ONCE (top-200
    // per kind), then encode the corpus under the size-50/100/200 slices in
    // ONE scan (three doc-level SubwordStats kernels in a single projection,
    // one global aggregate, unpivoted to a row per size) — the
    // fallback-vs-size tradeoff a tokenizer designer reads to pick the vocab
    // budget (the q_ivf_recall_curve pattern applied to tokenization).
    Query("q_vocab_curve", (s, dir) => {
      val d = documents(s, dir)
      val ranked = TextAnalysis.subwordVocabRanked(d, "text", 100)
      // 5/25/100: the synthetic corpus's Zipf head is short enough that
      // >=50 entries per kind already encode with zero fallback (measured
      // flat at 50/100/200) — the decision curve lives below that
      val sizes = Seq(5, 25, 100)
      val stats = sizes.map(k => graft.expressions.GraftFunctions
        .subwordStats(Dedup.tokens(col("text")),
          TextAnalysis.vocabAtSize(ranked, k)).as(s"st$k"))
      val aggs = sizes.flatMap(k => Seq(
        sum(element_at(col(s"st$k"), 2)).as(s"toks$k"),
        sum(element_at(col(s"st$k"), 3)).as(s"fb$k"),
        sum(element_at(col(s"st$k"), 4)).as(s"ch$k")))
      val wide = d.select(stats: _*).agg(aggs.head, aggs.tail: _*)
      val rows = sizes.map(k => struct(lit(k.toLong).as("vocab_size"),
        col(s"toks$k").as("n_tokens"), col(s"fb$k").as("n_fallback"),
        col(s"ch$k").as("n_chars")))
      wide.select(explode(array(rows: _*)).as("r")).select(
          col("r.vocab_size").as("vocab_size"), col("r.n_tokens").as("n_tokens"),
          col("r.n_fallback").as("n_fallback"), col("r.n_chars").as("n_chars"))
        .withColumn("fallback_rate", round(
          col("n_fallback").cast(DoubleType) / col("n_tokens").cast(DoubleType), 6))
        .withColumn("chars_per_token", round(
          col("n_chars").cast(DoubleType) / col("n_tokens").cast(DoubleType), 6))
        .orderBy("vocab_size")
    },
      // vocab-size curve dual: rank candidates once per kind (count DESC, value
      // ASC), vocab(k) = values whose best cross-kind rank <= k; the greedy
      // matcher parameterizes the per-position longest match by k (MAX length
      // whose candidate's min-rank <= k) and ONE recursive CTE walks every
      // (distinct word, k) pair — the q_subword_encode matcher lifted to the
      // size axis, all recurrence inputs MATERIALIZED (the q_kcenters lesson)
      """WITH t AS MATERIALIZED (SELECT doc_id,
        |   regexp_extract_all(lower(text), '[\p{L}\p{Nd}]+') AS ws FROM documents),
        | docw AS MATERIALIZED (SELECT doc_id, UNNEST(ws) AS w FROM t),
        | vw AS (SELECT v, row_number() OVER (ORDER BY c DESC, v ASC) AS rn FROM
        |   (SELECT w AS v, COUNT(*) AS c FROM docw GROUP BY w)),
        | g3 AS (SELECT substr(w, i, 3) AS g FROM docw, UNNEST(range(1, len(w) - 1)) AS r(i)),
        | vg3 AS (SELECT v, row_number() OVER (ORDER BY c DESC, v ASC) AS rn FROM
        |   (SELECT g AS v, COUNT(*) AS c FROM g3 GROUP BY g)),
        | g2 AS (SELECT substr(w, i, 2) AS g FROM docw, UNNEST(range(1, len(w))) AS r(i)),
        | vg2 AS (SELECT v, row_number() OVER (ORDER BY c DESC, v ASC) AS rn FROM
        |   (SELECT g AS v, COUNT(*) AS c FROM g2 GROUP BY g)),
        | vocab AS MATERIALIZED (SELECT v, MIN(rn) AS rn FROM
        |   (SELECT v, rn FROM vw WHERE rn <= 100 UNION ALL
        |    SELECT v, rn FROM vg3 WHERE rn <= 100 UNION ALL
        |    SELECT v, rn FROM vg2 WHERE rn <= 100) GROUP BY v),
        | sizes AS (SELECT UNNEST([5, 25, 100]) AS k),
        | dw AS MATERIALIZED (SELECT DISTINCT w FROM docw),
        | pos AS MATERIALIZED (SELECT w, i AS p FROM dw, UNNEST(range(0, len(w))) AS r(i)),
        | vlen AS (SELECT DISTINCT len(v) AS L FROM vocab),
        | cand AS MATERIALIZED (SELECT w, p, L, substr(w, p + 1, L) AS c FROM pos, vlen
        |   WHERE p + L <= len(w)),
        | m AS MATERIALIZED (SELECT cand.w, cand.p, cand.L, MIN(v.rn) AS mr
        |   FROM cand JOIN vocab v ON cand.c = v.v GROUP BY cand.w, cand.p, cand.L),
        | best AS MATERIALIZED (SELECT m.w, m.p, s.k, MAX(m.L) AS blen
        |   FROM m, sizes s WHERE m.mr <= s.k GROUP BY m.w, m.p, s.k),
        | seg AS MATERIALIZED (WITH RECURSIVE st AS (
        |     SELECT w, k, CAST(0 AS BIGINT) AS p, CAST(0 AS BIGINT) AS toks,
        |       CAST(0 AS BIGINT) AS fb FROM dw, sizes
        |   UNION ALL
        |     SELECT st.w, st.k, st.p + COALESCE(b.blen, 1), st.toks + 1,
        |       st.fb + CASE WHEN b.blen IS NULL THEN 1 ELSE 0 END
        |     FROM st LEFT JOIN best b ON b.w = st.w AND b.k = st.k AND b.p = st.p
        |     WHERE st.p < len(st.w))
        |   SELECT w, k, toks, fb FROM st WHERE p >= len(w)),
        | tot AS (SELECT s.k, CAST(SUM(s.toks) AS BIGINT) AS n_tokens,
        |     CAST(SUM(s.fb) AS BIGINT) AS n_fallback, CAST(SUM(len(d.w)) AS BIGINT) AS n_chars
        |   FROM docw d JOIN seg s ON s.w = d.w GROUP BY s.k)
        | SELECT CAST(k AS BIGINT) AS vocab_size, n_tokens, n_fallback, n_chars,
        |   round(CAST(n_fallback AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) AS fallback_rate,
        |   round(CAST(n_chars AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) AS chars_per_token
        | FROM tot ORDER BY vocab_size""".stripMargin.replace("\n", "")),
    // BM25 document scoring for a fixed conjunctive term set (the ranking
    // function production text search uses where q_text_search ships the
    // libm-free tf-idf): tf from one explode + filtered count, df from the
    // tf frame, N/avgdl from one tiny aggregate — broadcast back. Per-term
    // scores pivot into fixed columns and add LEFT-TO-RIGHT so the 3-term
    // double sum is order-pinned cross-engine; ln() is safe under the
    // round(6) gate (the q_zipf_fit precedent).
    Query("q_bm25_scores", (s, dir) => {
      val terms = Seq("spark", "join", "stream")
      val k1 = 1.2; val b = 0.75
      val docs = documents(s, dir)
      val dl = docs.select(col("doc_id"), TextAnalysis.wsTokens(col("text")).as("dl"))
      val g = dl.agg(count(lit(1)).as("__n"),
        (sum(col("dl")).cast(DoubleType) / count(lit(1)).cast(DoubleType)).as("__avgdl"))
      val tf = docs.select(col("doc_id"),
          explode(split(lower(col("text")), "\\s+")).as("tok"))
        .filter(col("tok").isin(terms: _*))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      val dfq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
      val scored = tf.join(broadcast(dfq), Seq("tok"))
        .join(dl, Seq("doc_id")).crossJoin(broadcast(g))
        .withColumn("__s",
          log(lit(1.0) + (col("__n") - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
            col("tf").cast(DoubleType) * lit(k1 + 1.0) /
            (col("tf").cast(DoubleType) +
              lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / col("__avgdl"))))
      val aggs = terms.map(t => max(when(col("tok") === t, col("__s"))).as(s"__$t"))
      val wide = scored.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
      wide.select(col("doc_id"),
          round(terms.map(t => coalesce(col(s"__$t"), lit(0.0))).reduce(_ + _), 6).as("bm25"))
        .orderBy("doc_id")
    },
      // identical BM25 arithmetic with the 3-term sum pinned left-to-right;
      // ln under the round(6) gate (q_zipf_fit precedent)
      """WITH dl AS (SELECT doc_id, len(list_filter(string_split_regex(text, '\s+'), w -> len(w) > 0)) AS dl FROM documents),
        | g AS (SELECT COUNT(*) AS n, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
        | toks AS (SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS tok FROM documents),
        | tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks
        |   WHERE tok IN ('spark','join','stream') GROUP BY 1, 2),
        | df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
        | sc AS (SELECT tf.doc_id, tf.tok,
        |   ln(1.0 + (g.n - df.df + 0.5) / (df.df + 0.5)) * tf.tf * 2.2 /
        |     (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / g.avgdl)) AS s
        |   FROM tf JOIN df USING (tok) JOIN dl USING (doc_id) CROSS JOIN g),
        | w AS (SELECT doc_id,
        |   MAX(CASE WHEN tok = 'spark' THEN s END) AS s_spark,
        |   MAX(CASE WHEN tok = 'join' THEN s END) AS s_join,
        |   MAX(CASE WHEN tok = 'stream' THEN s END) AS s_stream
        |   FROM sc GROUP BY doc_id)
        | SELECT doc_id,
        |   round(COALESCE(s_spark, 0.0) + COALESCE(s_join, 0.0) + COALESCE(s_stream, 0.0), 6) AS bm25
        | FROM w ORDER BY doc_id""".stripMargin.replace("\n", "")),
    // mixture-recipe verification: per source, corpus share BEFORE the
    // deterministic resample, the target weight, the realized share AFTER,
    // and the realized up/down-sampling rate — the report a data-mixture run
    // publishes so recipe drift is visible. Two count aggregates + broadcast
    // totals over the resample operator already under the gate.
    Query("q_mixture_report", (s, dir) => {
      val docs = documents(s, dir).select("doc_id", "source")
      val weightCol = mixtureWeights.foldLeft(lit(1.0)) { case (acc, (src, w)) =>
        when(col("source") === src, lit(w)).otherwise(acc) }
      val before = docs.groupBy("source").agg(count(lit(1)).as("n_before"))
      val after = graft.operators.Sampling.mixtureResample(docs, "source", "doc_id",
          mixtureWeights)
        .groupBy("source").agg(count(lit(1)).as("n_after"))
      val tot = before.agg(sum(col("n_before")).cast(DoubleType).as("__tb"))
        .crossJoin(after.agg(sum(col("n_after")).cast(DoubleType).as("__ta")))
      before.join(after, Seq("source"))
        .crossJoin(broadcast(tot))
        .select(col("source"), col("n_before"),
          round(col("n_before").cast(DoubleType) / col("__tb"), 6).as("share_before"),
          weightCol.as("target_weight"), col("n_after"),
          round(col("n_after").cast(DoubleType) / col("__ta"), 6).as("share_after"),
          round(col("n_after").cast(DoubleType) / col("n_before").cast(DoubleType), 6)
            .as("realized_rate"))
        .orderBy("source")
    },
      // same n_copies construction, rolled up per source instead of unnested
      {
      val cases = mixtureWeights.map { case (src, w) =>
        s"WHEN '$src' THEN CAST($w AS DOUBLE)"
      }.mkString(" ")
      s"""WITH t AS (SELECT doc_id, source,
         |   CASE source $cases ELSE CAST(1.0 AS DOUBLE) END AS w,
         |   ${idHashSql("doc_id")} AS h
         |  FROM documents),
         | c AS (SELECT doc_id, source, w,
         |   CAST(floor(w) AS BIGINT) +
         |     CASE WHEN CAST(h AS DOUBLE) / 1152921504606846976 < w - floor(w) THEN 1 ELSE 0 END AS n_copies
         |  FROM t),
         | b AS (SELECT source, ANY_VALUE(w) AS w, COUNT(*) AS n_before,
         |   CAST(SUM(n_copies) AS BIGINT) AS n_after FROM c GROUP BY source),
         | g AS (SELECT CAST(SUM(n_before) AS DOUBLE) AS tb, CAST(SUM(n_after) AS DOUBLE) AS ta FROM b)
         | SELECT source, n_before,
         |   round(CAST(n_before AS DOUBLE) / tb, 6) AS share_before,
         |   w AS target_weight, n_after,
         |   round(CAST(n_after AS DOUBLE) / ta, 6) AS share_after,
         |   round(CAST(n_after AS DOUBLE) / CAST(n_before AS DOUBLE), 6) AS realized_rate
         | FROM b CROSS JOIN g ORDER BY source""".stripMargin.replace("\n", "")
    }),
    // SFT / conversation prep (r15): transcripts parse into turns with the
    // role-structure validator — one doc per 17 carries a broken
    // alternation (turn 2 role swapped) the ok_role flag must catch
    Query("q_sft_turns", (s, dir) => {
      val t = sftTurns(s, dir)
      t.select(col("doc_id"), col("turn_idx"), col("role"), col("content"),
          TextAnalysis.wsTokens(col("content")).cast(LongType).as("toks"),
          (col("role") === graft.operators.Sft.expectedRole(col("turn_idx")))
            .as("ok_role"))
        .orderBy("doc_id", "turn_idx")
    },
      // SFT turns: construction + the same literal-split parse
      ("WITH " + sftCtes +
      """ SELECT doc_id, turn_idx, role, content, toks,
        |  (role = CASE WHEN turn_idx = 0 THEN 'system'
        |    WHEN turn_idx % 2 = 1 THEN 'user' ELSE 'assistant' END) AS ok_role
        | FROM sfk ORDER BY doc_id, turn_idx""".stripMargin.replace("\n", ""))),
    // ...adjacent (prompt → response) pair mining: pairs exist only where
    // user is IMMEDIATELY followed by assistant (corrupted docs lose that
    // slot), plus the cross-corpus duplicate-response count — templated
    // answers are the classic SFT near-dup, and the signal shuffles only
    // a 16-byte response hash
    Query("q_sft_pairs", (s, dir) => {
      val t = sftTurns(s, dir)
      graft.operators.Sft.minePairs(t, "doc_id")
        .select(col("doc_id"), col("pair_idx"),
          TextAnalysis.wsTokens(col("prompt")).cast(LongType).as("prompt_toks"),
          TextAnalysis.wsTokens(col("response")).cast(LongType).as("response_toks"),
          col("prompt_md5"), col("response_md5"), col("n_same_response"))
        .orderBy("doc_id", "pair_idx")
    },
      // SFT pairs: adjacency join + the response-hash dedup window
      ("WITH " + sftCtes + "," +
      """ pu AS (SELECT doc_id, turn_idx, content AS prompt, toks AS ptoks FROM sfk WHERE role = 'user'),
        | pa AS (SELECT doc_id, turn_idx - 1 AS turn_idx, content AS response, toks AS rtoks FROM sfk WHERE role = 'assistant'),
        | pp AS (SELECT pu.doc_id AS doc_id, pu.turn_idx AS ti, prompt, ptoks, response, rtoks
        |   FROM pu JOIN pa ON pu.doc_id = pa.doc_id AND pu.turn_idx = pa.turn_idx)
        | SELECT doc_id, CAST(ti // 2 AS BIGINT) AS pair_idx,
        |   ptoks AS prompt_toks, rtoks AS response_toks,
        |   md5(prompt) AS prompt_md5, md5(response) AS response_md5,
        |   CAST(count(*) OVER (PARTITION BY md5(response)) AS BIGINT) AS n_same_response
        | FROM pp ORDER BY doc_id, pair_idx""".stripMargin.replace("\n", ""))),
    // ...and the loss-mask spans: exclusive prefix sum of turn token counts
    // per conversation → each assistant turn's [tok_start, tok_end) in the
    // conversation's token stream — the offsets the trainer unmasks
    Query("q_sft_masks", (s, dir) => {
      val t = sftTurns(s, dir)
      graft.operators.Sft.maskSpans(t, "doc_id",
          TextAnalysis.wsTokens(col("content")))
        .orderBy("doc_id", "turn_idx")
    },
      // SFT masks: exclusive prefix sum per conversation, assistant spans
      ("WITH " + sftCtes +
      """ SELECT doc_id, turn_idx, tok_start, tok_start + toks AS tok_end FROM (
        |  SELECT doc_id, turn_idx, role, toks,
        |   CAST(coalesce(sum(toks) OVER (PARTITION BY doc_id ORDER BY turn_idx
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_start
        |  FROM sfk)
        | WHERE role = 'assistant' ORDER BY doc_id, turn_idx""".stripMargin.replace("\n", ""))),
    // ...and the TRAINER-READY closure: conversations pack into
    // budget-2048 sequences (the two-level distributed prefix sum — no
    // global window) and each assistant span's offsets re-express in
    // PACKED-sequence coordinates, splitting at sequence boundaries (a
    // span spanning k sequences explodes into exactly k pieces via the
    // boundary-range sequence). Zero-width spans carry no
    // trainable tokens and drop. This is the exact frame a masked-loss
    // dataloader consumes.
    Query("q_sft_packed_masks", (s, dir) => {
      val t = sftTurns(s, dir)
        .withColumn("toks", TextAnalysis.wsTokens(col("content")).cast(LongType))
      packedMaskSpans(t)
    },
      // SFT packed masks: the global prefix-sum packing + boundary split
      "WITH " + sftCtes + "," + packedMaskSql("sfk", "toks")),
    // SFT masks in the engine's OWN subword-tokenizer coordinates (r16):
    // a trainer unmasks offsets in ITS tokenizer's space,
    // not whitespace-token space — per-turn counts come from the frozen
    // session vocab's greedy segmenter (the q_subword_encode kernel), then
    // the same prefix-sum machinery. One narrow codegen'd kernel call per
    // turn; the only wide stage is the per-conversation window.
    Query("q_sft_masks_subword", (s, dir) => {
      val t = sftTurns(s, dir)
      val sw = element_at(graft.expressions.GraftFunctions.subwordStats(
        graft.operators.Dedup.tokens(col("content")), sessionVocab(s, dir)), 2)
      graft.operators.Sft.maskSpans(t, "doc_id", sw)
        .orderBy("doc_id", "turn_idx")
    },
      // SFT masks in subword coordinates: per-turn counts via the shared
      // vocab+seg chain, then the same prefix-sum spans
      ("WITH " + sftCtes + "," + sftWordsCte + "," +
      subwordSegCtes(sftDwSrc) + "," + sftSubwordCtes +
      """ SELECT doc_id, turn_idx, tok_start, tok_start + stoks AS tok_end FROM (
        |  SELECT doc_id, turn_idx, role, stoks,
        |   CAST(coalesce(sum(stoks) OVER (PARTITION BY doc_id ORDER BY turn_idx
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_start
        |  FROM sfm)
        | WHERE role = 'assistant' ORDER BY doc_id, turn_idx""".stripMargin.replace("\n", ""))),
    // ...the trainer-ready packed twin in subword coordinates
    Query("q_sft_packed_masks_subword", (s, dir) => {
      val t = sftTurns(s, dir)
        .withColumn("toks", element_at(graft.expressions.GraftFunctions
          .subwordStats(graft.operators.Dedup.tokens(col("content")),
            sessionVocab(s, dir)), 2).cast(LongType))
      packedMaskSpans(t)
    },
      // ...the packed twin with subword counts
      "WITH " + sftCtes + "," + sftWordsCte + "," +
        subwordSegCtes(sftDwSrc) + "," + sftSubwordCtes + "," + packedMaskSql("sfm", "stoks")),
    // ...and the coordinate-divergence gate: the bug a trainer silently
    // hits — whitespace-token offsets unmask the WRONG subword positions.
    // One row: how many spans, how many diverge between the two coordinate
    // systems, and the total mask length in each.
    Query("q_sft_mask_coords", (s, dir) => {
      val t = sftTurns(s, dir)
      val ws = graft.operators.Sft.maskSpans(t, "doc_id",
          TextAnalysis.wsTokens(col("content")))
        .withColumnRenamed("tok_start", "ws_start")
        .withColumnRenamed("tok_end", "ws_end")
      val sw = graft.operators.Sft.maskSpans(t, "doc_id",
          element_at(graft.expressions.GraftFunctions.subwordStats(
            graft.operators.Dedup.tokens(col("content")), sessionVocab(s, dir)), 2))
        .withColumnRenamed("tok_start", "sw_start")
        .withColumnRenamed("tok_end", "sw_end")
      ws.join(sw, Seq("doc_id", "turn_idx"))
        .agg(count(lit(1)).as("n_spans"),
          sum((col("ws_start") =!= col("sw_start") ||
            col("ws_end") =!= col("sw_end")).cast(LongType)).as("n_diverging"),
          sum(col("ws_end") - col("ws_start")).as("ws_tokens"),
          sum(col("sw_end") - col("sw_start")).as("subword_tokens"))
    },
      // coordinate divergence: the ws-vs-subword comparison a trainer needs
      // to see before trusting whitespace offsets
      ("WITH " + sftCtes + "," + sftWordsCte + "," +
      subwordSegCtes(sftDwSrc) + "," + sftSubwordCtes + "," +
      """ wsp AS (SELECT doc_id, turn_idx, tok_start AS ws_start,
        |   tok_start + toks AS ws_end FROM (
        |  SELECT doc_id, turn_idx, role, toks,
        |   CAST(coalesce(sum(toks) OVER (PARTITION BY doc_id ORDER BY turn_idx
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_start
        |  FROM sfk) WHERE role = 'assistant'),
        | ssp AS (SELECT doc_id, turn_idx, tok_start AS sw_start,
        |   tok_start + stoks AS sw_end FROM (
        |  SELECT doc_id, turn_idx, role, stoks,
        |   CAST(coalesce(sum(stoks) OVER (PARTITION BY doc_id ORDER BY turn_idx
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_start
        |  FROM sfm) WHERE role = 'assistant')
        | SELECT CAST(count(*) AS BIGINT) AS n_spans,
        |   CAST(sum(CASE WHEN ws_start <> sw_start OR ws_end <> sw_end THEN 1 ELSE 0 END) AS BIGINT) AS n_diverging,
        |   CAST(sum(ws_end - ws_start) AS BIGINT) AS ws_tokens,
        |   CAST(sum(sw_end - sw_start) AS BIGINT) AS subword_tokens
        | FROM wsp JOIN ssp USING (doc_id, turn_idx)""".stripMargin.replace("\n", "")))
  )

  private val textWords =
    "list_filter(string_split_regex(lower(text), '[^\\p{L}\\p{Nd}'']+'), x -> len(x) > 0)"

  /** Source-mixture weights for `q_mixture_resample` — one constant shared by
    * the Spark query and the generated oracle CASE, like [[Dedup.hyperplanes]].
    * Unlisted sources default to weight 1.0.
    */
  private val mixtureWeights: Seq[(String, Double)] = Seq(
    "src0" -> 2.0, "src1" -> 2.0, "src2" -> 1.5,
    "src3" -> 1.25, "src4" -> 1.25,
    "src5" -> 0.5, "src6" -> 0.5, "src7" -> 0.25)

  /** SFT transcript construction + parse dual — yields CTE `sfk`
    * (doc_id, turn_idx, role, content, toks); the turn arms are generated
    * from the same loop shape as [[graft.operators.Sft.withTranscript]].
    */
  private[suite] def sftCtes: String = {
    def turn(i: Int): String = {
      val role =
        if (i == 3) "CASE WHEN doc_id % 17 = 0 THEN 'user' ELSE 'assistant' END"
        else if (i % 2 == 0) "'user'" else "'assistant'"
      // coalesce: DuckDB array_to_string([]) is NULL (Spark array_join = ''),
      // and a NULL would poison the whole transcript concat
      s"(CASE WHEN $i < (doc_id % 3 + 1) * 2 THEN '<|' || $role || '|>' || " +
        s"coalesce(array_to_string(ws[${i * 4 + 1}:${i * 4 + 4}], ' '), '') ELSE '' END)"
    }
    val wsOf = (c: String) =>
      s"CAST(len(list_filter(string_split_regex($c, '\\s+'), w -> len(w) > 0)) AS BIGINT)"
    s""" sfw AS (SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), w -> len(w) > 0) AS ws FROM documents),
       | sfx AS (SELECT doc_id, '<|system|>be concise and helpful' || ${(0 to 5).map(turn).mkString(" || ")} AS tr FROM sfw),
       | sfs AS (SELECT doc_id, string_split(tr, '<|') AS lst FROM sfx),
       | sfe AS (SELECT doc_id, UNNEST(range(1, len(lst) + 1)) AS i, lst FROM sfs),
       | sft AS (SELECT doc_id, CAST(i - 2 AS BIGINT) AS turn_idx,
       |   split_part(lst[i], '|>', 1) AS role,
       |   substr(lst[i], len(split_part(lst[i], '|>', 1)) + 3) AS content
       |  FROM sfe WHERE len(lst[i]) > 0 AND contains(lst[i], '|>')),
       | sfk AS (SELECT *, ${wsOf("content")} AS toks FROM sft)""".stripMargin
      .replace("\n", "")
  }

  /** Full restatement of the PARTIAL-probe IVF pipeline over the same literal
    * ±1 centroids as the Spark side (q_ivf_recall): assignment = argmax
    * cosine (ties → larger cell_id, matching nearestCells' reverse-sorted
    * struct order), probe = each query's top-nprobe cells, in-cell ranking
    * (cos desc, id asc), then recall@k against the exact brute-force top-k.
    */
  /** Winnowing dual: the full MOSS selection restated — same tokenizer
    * ($dedupWords), same md5-prefix gram hash, same packed-long window min
    * with the rightmost-tie rule, same partial-frame rule for short docs.
    * Emits CTE chain ending in `fp(doc_id, pos, h)` (selected fingerprints,
    * deduped); callers append their SELECT.
    */
  /** The 64-round BPE chain shared by the q_bpe_train/q_bpe_fallback duals:
    * d0 (normalized double-space-joined corpus), then per round a pair
    * count (p_i), the argmax merge (m_i) and the applied state (d_i) — all
    * MATERIALIZED so the chain evaluates once per CTE (see the dual's
    * comment on DuckDB's per-use inlining).
    */
  private def bpeChainSql(rounds: Int): String = {
    // boundary-guarded scheme (r13): 2-space padding, patterns carry one
    // space of each boundary; the COUNT guard keeps d_i = t verbatim when a
    // round finds no pair (matching the Spark loop's early stop — without
    // it the NULL scalar subqueries would NULL the whole chain)
    def round(prev: String, i: Int): String =
      s""" p$i AS MATERIALIZED (SELECT l[i] || ' ' || l[i+1] AS gram, COUNT(*) AS c
         |   FROM (SELECT string_split(trim(t), '  ') AS l FROM $prev), unnest(range(1, len(l))) AS u(i)
         |   GROUP BY 1),
         | m$i AS MATERIALIZED (SELECT gram, c FROM p$i ORDER BY c DESC, gram ASC LIMIT 1),
         | d$i AS MATERIALIZED (SELECT CASE WHEN (SELECT COUNT(*) FROM m$i) = 0 THEN t
         |   ELSE replace(t, ' ' || (SELECT replace(gram, ' ', '  ') FROM m$i) || ' ',
         |     ' ' || (SELECT replace(gram, ' ', chr(1)) FROM m$i) || ' ') END AS t FROM $prev)""".stripMargin.replace("\n", "")
    """WITH d0 AS MATERIALIZED (SELECT '  ' || array_to_string(list_filter(string_split_regex(lower(text), '\s+'),
      |   w -> len(w) > 0), '  ') || '  ' AS t FROM documents),""".stripMargin.replace("\n", "") +
      (1 to rounds).map(i => round(s"d${i - 1}", i)).mkString(",")
  }

  /** Dual of [[bpeTrainBatchedCached]]: per scan, one MATERIALIZED pair
    * count, then M selection CTEs — each the (count DESC, gram ASC) argmax
    * among pairs sharing no token with any prior pick (NOT EXISTS, the
    * greedy disjoint rule verbatim) — then one stream rewrite chaining the
    * M guarded replaces innermost-first (the Spark application order;
    * disjointness makes it order-independent, the chain pins it anyway).
    */
  private def bpeBatchedSql(scans: Int, m: Int): String = {
    def sel(sc: Int, j: Int): String = {
      val conflicts = (1 until j).map(q =>
        s" AND NOT EXISTS (SELECT 1 FROM k${sc}_$q kq WHERE" +
          s" string_split(p.gram, ' ')[1] IN (string_split(kq.gram, ' ')[1], string_split(kq.gram, ' ')[2])" +
          s" OR string_split(p.gram, ' ')[2] IN (string_split(kq.gram, ' ')[1], string_split(kq.gram, ' ')[2]))")
        .mkString
      s"k${sc}_$j AS MATERIALIZED (SELECT gram, c FROM p$sc p WHERE TRUE$conflicts" +
        " ORDER BY c DESC, gram ASC LIMIT 1)"
    }
    def applyScan(sc: Int): String = {
      // empty-pick guard via coalesce-to-chr(2) (a byte the \s+-split stream
      // cannot contain, so the replace is a no-op), NOT a CASE: `CASE WHEN
      // empty THEN acc ELSE replace(acc,…)` duplicates acc per level — a
      // 2^m expression blowup that OOM'd DuckDB at m=7 (measured)
      val expr = (1 to m).foldLeft("t") { (acc, j) =>
        s"replace($acc," +
          s" ' ' || coalesce((SELECT replace(gram, ' ', '  ') FROM k${sc}_$j), chr(2)) || ' '," +
          s" ' ' || coalesce((SELECT replace(gram, ' ', chr(1)) FROM k${sc}_$j), '') || ' ')"
      }
      s"d$sc AS MATERIALIZED (SELECT $expr AS t FROM d${sc - 1})"
    }
    val chain = (1 to scans).map { sc =>
      s"p$sc AS MATERIALIZED (SELECT l[i] || ' ' || l[i+1] AS gram, COUNT(*) AS c" +
        s" FROM (SELECT string_split(trim(t), '  ') AS l FROM d${sc - 1})," +
        s" unnest(range(1, len(l))) AS u(i) GROUP BY 1)," +
        (1 to m).map(j => sel(sc, j)).mkString(",") + "," + applyScan(sc)
    }.mkString(",")
    val unions = (for (sc <- 1 to scans; j <- 1 to m) yield
      s"SELECT CAST($sc AS BIGINT) AS scan, CAST($j AS BIGINT) AS pick," +
        s" gram AS merged_pair, CAST(c AS BIGINT) AS n_occurrences FROM k${sc}_$j")
      .mkString(" UNION ALL ")
    """WITH d0 AS MATERIALIZED (SELECT '  ' || array_to_string(list_filter(string_split_regex(lower(text), '\s+'),
      |   w -> len(w) > 0), '  ') || '  ' AS t FROM documents),""".stripMargin.replace("\n", "") +
      chain + s" SELECT * FROM ($unions) ORDER BY scan, pick"
  }

  /** The vocabulary-learning + greedy-segmentation CTE chain (`t` … `seg`),
    * shared by the subword-encode dual and the r16 SFT subword-mask duals:
    * `seg` maps every DISTINCT corpus word to its greedy token count under
    * the frozen session vocab (top-100 words + 3-grams + 2-grams, the
    * [[graft.operators.TextAnalysis.subwordVocab]] law).
    */
  private def subwordSegCtes(dwSrc: String = "docw"): String =
    """t AS MATERIALIZED (SELECT source, doc_id,
        |   regexp_extract_all(lower(text), '[\p{L}\p{Nd}]+') AS ws FROM documents),
        | docw AS MATERIALIZED (SELECT source, doc_id, UNNEST(ws) AS w FROM t),""".stripMargin
      .replace("\n", "") + " " + subwordMatchCtes("docw", 100, dwSrc)

  /** The greedy longest-match segmenter in DuckDB: the frozen vocab (the
    * top-`top` words, 3-grams and 2-grams of the words in `vocabSrc`) and
    * `seg`, each distinct word of `dwSrc` with its token and fallback counts.
    */
  private def subwordMatchCtes(vocabSrc: String, top: Int, dwSrc: String): String =
    s"""vw AS (SELECT w AS v FROM (SELECT w, COUNT(*) AS c FROM $vocabSrc GROUP BY w)
       |   ORDER BY c DESC, w ASC LIMIT $top),
       | g3 AS (SELECT substr(w, i, 3) AS g FROM $vocabSrc, UNNEST(range(1, len(w) - 1)) AS r(i)),
       | vg3 AS (SELECT g AS v FROM (SELECT g, COUNT(*) AS c FROM g3 GROUP BY g)
       |   ORDER BY c DESC, g ASC LIMIT $top),
       | g2 AS (SELECT substr(w, i, 2) AS g FROM $vocabSrc, UNNEST(range(1, len(w))) AS r(i)),
       | vg2 AS (SELECT g AS v FROM (SELECT g, COUNT(*) AS c FROM g2 GROUP BY g)
       |   ORDER BY c DESC, g ASC LIMIT $top),
       | vocab AS MATERIALIZED (SELECT DISTINCT v FROM
       |   (SELECT v FROM vw UNION ALL SELECT v FROM vg3 UNION ALL SELECT v FROM vg2)),
       | dw AS MATERIALIZED (SELECT DISTINCT w FROM $dwSrc),
       | pos AS MATERIALIZED (SELECT w, i AS p FROM dw, UNNEST(range(0, len(w))) AS r(i)),
       | vlen AS (SELECT DISTINCT len(v) AS L FROM vocab),
       | cand AS MATERIALIZED (SELECT w, p, L, substr(w, p + 1, L) AS c FROM pos, vlen
       |   WHERE p + L <= len(w)),
       | best AS MATERIALIZED (SELECT cand.w, cand.p, MAX(cand.L) AS blen
       |   FROM cand JOIN vocab v ON cand.c = v.v GROUP BY cand.w, cand.p),
       | seg AS MATERIALIZED (WITH RECURSIVE st AS (
       |     SELECT w, CAST(0 AS BIGINT) AS p, CAST(0 AS BIGINT) AS toks, CAST(0 AS BIGINT) AS fb FROM dw
       |   UNION ALL
       |     SELECT st.w, st.p + COALESCE(b.blen, 1), st.toks + 1,
       |       st.fb + CASE WHEN b.blen IS NULL THEN 1 ELSE 0 END
       |     FROM st LEFT JOIN best b ON b.w = st.w AND b.p = st.p WHERE st.p < len(st.w))
       |   SELECT w, toks, fb FROM st WHERE p >= len(w))""".stripMargin.replace("\n", "")

  /** The widened distinct-word universe for the SFT masks duals: corpus
    * words PLUS transcript-content words — the fixture's constant system
    * turn ("be concise and helpful") contains words absent from the
    * corpus, and seg must segment them too (Spark's kernel does).
    */
  private val sftDwSrc: String =
    "(SELECT w FROM docw UNION ALL SELECT w FROM swx)"

  /** Per-turn SUBWORD token counts over the SFT turn frame (r16):
    * turn contents tokenize with the corpus tokenizer and join
    * the `seg` per-word token counts (every content word IS a corpus word
    * — contents are whitespace slices of document text, so their alnum
    * runs appear in `docw`). Zero-token turns keep a 0 row via the LEFT
    * join. Yields CTE `sfm` (doc_id, turn_idx, role, stoks).
    */
  private val sftWordsCte: String =
    """ swx AS (SELECT doc_id, turn_idx, UNNEST(regexp_extract_all(lower(content), '[\p{L}\p{Nd}]+')) AS w FROM sfk)"""
      .stripMargin.replace("\n", "")

  private val sftSubwordCtes: String =
    """ swt AS (SELECT x.doc_id AS doc_id, x.turn_idx AS turn_idx,
      |   CAST(SUM(s.toks) AS BIGINT) AS stoks
      |  FROM swx x JOIN seg s USING (w) GROUP BY 1, 2),
      | sfm AS (SELECT k.doc_id AS doc_id, k.turn_idx AS turn_idx, k.role AS role,
      |   coalesce(t2.stoks, 0) AS stoks
      |  FROM sfk k LEFT JOIN swt t2 ON k.doc_id = t2.doc_id AND k.turn_idx = t2.turn_idx)""".stripMargin
      .replace("\n", "")

  /** The tokenizer-apply dual, shared by `q_subword_encode` and its
    * streaming twin `q_stream_subword` (same frozen vocab, same corpus).
    */
  private[suite] val subwordEncodeDual: String =
    "WITH " + subwordSegCtes() + "," +
    """ perdoc AS (SELECT d.source, d.doc_id, COUNT(*) AS nw, SUM(s.toks) AS toks,
        |     SUM(s.fb) AS fb, SUM(len(d.w)) AS ch
        |   FROM docw d JOIN seg s USING (w) GROUP BY d.source, d.doc_id),
        | alldocs AS (SELECT t.source, COALESCE(p.nw, 0) AS nw, COALESCE(p.toks, 0) AS toks,
        |     COALESCE(p.fb, 0) AS fb, COALESCE(p.ch, 0) AS ch
        |   FROM t LEFT JOIN perdoc p ON p.doc_id = t.doc_id)
        | SELECT source, COUNT(*) AS n_docs, CAST(SUM(nw) AS BIGINT) AS n_words,
        |   CAST(SUM(toks) AS BIGINT) AS n_tokens, CAST(SUM(fb) AS BIGINT) AS n_fallback,
        |   CAST(SUM(ch) AS BIGINT) AS n_chars,
        |   CASE WHEN SUM(toks) > 0 THEN round(CAST(SUM(fb) AS DOUBLE) / CAST(SUM(toks) AS DOUBLE), 6) END AS fallback_rate,
        |   CASE WHEN SUM(toks) > 0 THEN round(CAST(SUM(ch) AS DOUBLE) / CAST(SUM(toks) AS DOUBLE), 6) END AS chars_per_token
        | FROM alldocs GROUP BY source ORDER BY source""".stripMargin.replace("\n", "")
}
