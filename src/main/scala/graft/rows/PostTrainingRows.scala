package graft
package rows

import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.pipeline.{Bpe, ChatOps, Packing, Sampling, TextOps}

import Fixtures._
import QueryRow.{face, row}

/** Post-training data prep (SFT turns, preference pairs) and the learned-subword (BPE) tokenizer. */
private[graft] object PostTrainingRows {
  val rows: Seq[QueryRow] = Seq(

    // ---- post-training (SFT / preference) data prep: turn-structure
    // validation, chat-template rendering with loss-span offsets,
    // rendered-identity dedup, and the preference length-bias audit ----
    row("sft_turn_stats", (s, dir) =>
      ChatOps.turnStats(chatSynthTurns(Tables(s, dir).documents)),
      // Mirrors ChatOps.turnStats over the conversation synth: the same
      // lag-based adjacency check (system rows contribute a null comparison
      // value) and the same per-role token sums.
      s"""WITH $ChatTurnsCte,
         |lg AS (SELECT *, lag(CASE WHEN role <> 'system' THEN role END)
         |    OVER (PARTITION BY conv_id ORDER BY turn_no) AS prev
         |  FROM turns),
         |ag AS (SELECT conv_id,
         |  CAST(count(*) AS BIGINT) AS n_turns,
         |  CAST(sum(CASE WHEN role = 'user' THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_user,
         |  CAST(sum(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_assistant,
         |  max(role = 'system') AS has_system,
         |  CAST(sum(CASE WHEN trim(content) = '' THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_empty,
         |  CAST(sum(CASE WHEN role = 'user'
         |    THEN len(${toksOf("content")}) ELSE 0 END) AS BIGINT)
         |    AS user_tokens,
         |  CAST(sum(CASE WHEN role = 'assistant'
         |    THEN len(${toksOf("content")}) ELSE 0 END) AS BIGINT)
         |    AS assistant_tokens,
         |  NOT max(role <> 'system' AND prev IS NOT NULL AND role = prev)
         |    AS alternation_ok,
         |  (arg_min(role, CASE WHEN role <> 'system' THEN turn_no END)
         |    = 'user') AS starts_with_user
         |  FROM lg GROUP BY 1)
         |SELECT *, (alternation_ok AND starts_with_user
         |  AND n_assistant >= 1 AND n_empty = 0) AS valid FROM ag""".stripMargin,
      face("sql_sft_stats") { (s, dir) =>
        viaSql(s, "graft_sql_turns_st" -> chatSynthTurns(Tables(s, dir).documents))(
          "SELECT * FROM graft_sft_stats('graft_sql_turns_st')") }),
    row("sft_render", (s, dir) =>
      ChatOps.renderChat(chatSynthTurns(Tables(s, dir).documents)),
      // Mirrors ChatOps.renderChat: segments string_agg'd in turn order —
      // the ORDER BY pins the same sequence array_sort pins on the Spark
      // side (turn_no is unique per conversation).
      s"""WITH $ChatTurnsCte,
         |r AS (SELECT conv_id,
         |  string_agg('<|' || role || '|>' || content, chr(10)
         |    ORDER BY turn_no) AS text
         |  FROM turns GROUP BY 1)
         |SELECT conv_id, text, CAST(length(text) AS BIGINT) AS n_chars,
         |  CAST(len($Toks) AS BIGINT) AS n_tokens FROM r""".stripMargin),
    row("sft_spans", (s, dir) =>
      ChatOps.lossSpans(chatSynthTurns(Tables(s, dir).documents)),
      // Mirrors ChatOps.lossSpans: rank + running segment-length sum per
      // conversation, one separator char per preceding segment.
      s"""WITH $ChatTurnsCte,
         |sg AS (SELECT conv_id, turn_no, role,
         |  CAST(length('<|' || role || '|>' || content) AS BIGINT)
         |    AS seg_len
         |  FROM turns),
         |o AS (SELECT conv_id, turn_no, role, seg_len,
         |  row_number() OVER (PARTITION BY conv_id ORDER BY turn_no) - 1
         |    AS rnk,
         |  coalesce(sum(seg_len) OVER (PARTITION BY conv_id ORDER BY turn_no
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior
         |  FROM sg)
         |SELECT conv_id, turn_no, role,
         |  CAST(prior + rnk AS BIGINT) AS start_char,
         |  CAST(prior + rnk + seg_len AS BIGINT) AS end_char,
         |  (role <> 'assistant') AS loss_masked FROM o""".stripMargin),
    row("sft_dedup", (s, dir) =>
      ChatOps.conversationDedup(chatVariantTurns(Tables(s, dir).documents)),
      // Mirrors ChatOps.conversationDedup over the duplicate synth: md5 of
      // the rendered identity, lowest conv_id keeper.
      s"""WITH $ChatVariantCte,
         |r AS (SELECT conv_id,
         |  string_agg('<|' || role || '|>' || content, chr(10)
         |    ORDER BY turn_no) AS text
         |  FROM vturns GROUP BY 1)
         |SELECT md5(text) AS conv_hash,
         |  CAST(min(conv_id) AS BIGINT) AS keeper_conv_id,
         |  CAST(count(*) AS BIGINT) AS n_copies FROM r GROUP BY 1""".stripMargin,
      // SFT-ingest dedup: rendered-identity state (keeper + copy count, two
      // longs per distinct conversation) continued across micro-batches
      face("stream_sft_dedup") { (s, dir) =>
        graft.streaming.StreamOps.convDedupStream(
          ChatOps.renderChat(chatVariantTurns(Tables(s, dir).documents))
            .select("conv_id", "text")).toDF() }),
    row("pref_length_bias", (s, dir) =>
      ChatOps.prefLengthBias(prefSynthPairs(Tables(s, dir).documents)),
      // Mirrors ChatOps.prefLengthBias over the pair synth: integer token
      // sums divided once per aggregate (exact operands, IEEE division).
      s"""WITH $PrefPairsCte,
         |t AS (SELECT source,
         |  len(${toksOf("chosen")}) AS c, len(${toksOf("rejected")}) AS r
         |  FROM pp)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_pairs,
         |  CAST(sum(c) AS DOUBLE) / count(*) AS chosen_tokens_mean,
         |  CAST(sum(r) AS DOUBLE) / count(*) AS rejected_tokens_mean,
         |  CAST(sum(CASE WHEN c > r THEN 1 ELSE 0 END) AS DOUBLE) / count(*)
         |    AS longer_chosen_ratio,
         |  CAST(sum(c) - sum(r) AS DOUBLE) / count(*) AS mean_token_delta
         |FROM t GROUP BY 1""".stripMargin,
      face("sql_pref_bias") { (s, dir) =>
        viaSql(s, "graft_sql_pairs_pb" -> prefSynthPairs(Tables(s, dir).documents))(
          "SELECT * FROM graft_pref_bias('graft_sql_pairs_pb')") }),
    // best-of-n: argmax/argmin responses per prompt with deterministic
    // tie-breaks -> the (chosen, rejected) pair + margin DPO trains on
    row("pref_best_of_n", (s, dir) =>
      ChatOps.bestOfN(bonSynthSamples(Tables(s, dir).documents)),
      // Mirrors ChatOps.bestOfN over the scored-sample synth: the same two
      // rank windows (score desc/asc, sample_id tie-break) pivoted by
      // conditional aggregation.
      s"""WITH $BonSamplesCte,
         |rk AS (SELECT *,
         |  row_number() OVER (PARTITION BY prompt_id
         |    ORDER BY score DESC, sample_id ASC) AS rb,
         |  row_number() OVER (PARTITION BY prompt_id
         |    ORDER BY score ASC, sample_id ASC) AS rw
         |  FROM bon),
         |ag AS (SELECT prompt_id,
         |  CAST(count(*) AS BIGINT) AS n_samples,
         |  CAST(max(CASE WHEN rb = 1 THEN sample_id END) AS BIGINT)
         |    AS chosen_sample_id,
         |  max(CASE WHEN rb = 1 THEN response END) AS chosen,
         |  max(CASE WHEN rb = 1 THEN score END) AS chosen_score,
         |  CAST(max(CASE WHEN rw = 1 THEN sample_id END) AS BIGINT)
         |    AS rejected_sample_id,
         |  max(CASE WHEN rw = 1 THEN response END) AS rejected,
         |  max(CASE WHEN rw = 1 THEN score END) AS rejected_score
         |  FROM rk GROUP BY 1)
         |SELECT *, chosen_score - rejected_score AS score_margin,
         |  (chosen_sample_id = rejected_sample_id) AS degenerate
         |FROM ag""".stripMargin),
    // packed loss mask: per (turn, overlapped chunk), the within-chunk
    // token range + loss verdict — the trainer-facing artifact after
    // sft_pack (segment token counts are additive under rendering)
    row("sft_pack_spans", (s, dir) =>
      ChatOps.packedLossSpans(chatSynthTurns(Tables(s, dir).documents),
        capacity = 256, shardWidth = 100),
      // Mirrors ChatOps.packedLossSpans(capacity=256): per-turn segment
      // token counts run forward within the conversation, conversations
      // placed by the global running sum of their totals (== the sft_pack
      // placement — segment counts are additive under rendering), turns
      // exploded over their overlapped chunks with within-chunk ranges.
      s"""WITH $ChatTurnsCte,
         |sg AS (SELECT conv_id, turn_no, role,
         |  CAST(len(${toksOf("'<|' || role || '|>' || content")})
         |    AS BIGINT) AS t
         |  FROM turns),
         |twn AS (SELECT *, sum(t) OVER (PARTITION BY conv_id
         |  ORDER BY turn_no ROWS UNBOUNDED PRECEDING) AS te FROM sg),
         |ct AS (SELECT conv_id, CAST(sum(t) AS BIGINT) AS n_toks
         |  FROM sg GROUP BY 1),
         |nz AS (SELECT * FROM ct WHERE n_toks > 0),
         |c AS (SELECT conv_id, n_toks,
         |  CAST(sum(n_toks) OVER (ORDER BY conv_id) AS BIGINT) AS e
         |  FROM nz),
         |s AS (SELECT conv_id, e - n_toks AS cst FROM c),
         |g AS (SELECT twn.conv_id, turn_no, role,
         |  CAST(cst + te - t AS BIGINT) AS gs, CAST(cst + te AS BIGINT) AS ge
         |  FROM twn JOIN s USING (conv_id) WHERE t > 0),
         |x AS (SELECT *, unnest(range(gs // 256, ((ge - 1) // 256) + 1))
         |  AS chunk_id FROM g)
         |SELECT conv_id, turn_no, role, chunk_id,
         |  greatest(chunk_id * 256, gs) - chunk_id * 256 AS tok_start,
         |  least((chunk_id + 1) * 256, ge) - chunk_id * 256 AS tok_end,
         |  (role <> 'assistant') AS loss_masked
         |FROM x""".stripMargin),
    // context-window truncation: system turn + the longest recent-turn
    // suffix fitting a 20-token budget (reverse running sum per conv)
    row("sft_truncate", (s, dir) =>
      ChatOps.fitContext(chatSynthTurns(Tables(s, dir).documents),
        budgetTokens = 20),
      // Mirrors ChatOps.fitContext(budget=20): per-conv system-token sum +
      // reverse running sum of non-system tokens, suffix-fit verdict.
      s"""WITH $ChatTurnsCte,
         |tk AS (SELECT conv_id, turn_no, role,
         |  CAST(len(${toksOf("content")}) AS BIGINT) AS n_tokens
         |  FROM turns),
         |w AS (SELECT conv_id, turn_no, role, n_tokens,
         |  sum(CASE WHEN role = 'system' THEN n_tokens ELSE 0 END)
         |    OVER (PARTITION BY conv_id) AS systok,
         |  sum(CASE WHEN role <> 'system' THEN n_tokens ELSE 0 END)
         |    OVER (PARTITION BY conv_id ORDER BY turn_no DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sfx
         |  FROM tk)
         |SELECT conv_id, turn_no, role, n_tokens,
         |  (CASE WHEN role = 'system' THEN systok <= 20
         |     ELSE sfx + systok <= 20 END) AS kept
         |FROM w""".stripMargin),
    // SFT decontamination: 5-gram overlap of the concatenated USER
    // prompts against the held-out test split (leaked benchmark
    // questions are the contamination vector)
    row("sft_decontam", (s, dir) => {
      val docs = Tables(s, dir).documents
      val bench = Sampling.assignSplit(docs, "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .where(col("split") === "test")
      TextOps.decontaminate(ChatOps.userPrompts(chatSynthTurns(docs)),
        bench, n = 5, idCol = "conv_id")
    },
      // Mirrors decontaminate(userPrompts(turns), test split, n=5): the
      // decontaminate twin's gram/bench algebra over the per-conversation
      // concatenated user turns.
      s"""WITH $ChatTurnsCte,
         |up AS (SELECT conv_id,
         |  string_agg(content, ' ' ORDER BY turn_no) AS text
         |  FROM turns WHERE role = 'user' GROUP BY 1),
         |ptoks AS (SELECT conv_id, $Toks AS tk FROM up),
         |pg AS (SELECT conv_id, list_distinct(CASE WHEN len(tk) >= 5
         |  THEN list_transform(range(1, len(tk) - 3),
         |    i -> array_to_string(tk[i:i+4], ' '))
         |  ELSE [] END) AS g FROM ptoks),
         |btoks AS (SELECT doc_id, $Toks AS tk FROM documents),
         |bgl AS (SELECT doc_id, list_distinct(CASE WHEN len(tk) >= 5
         |  THEN list_transform(range(1, len(tk) - 3),
         |    i -> array_to_string(tk[i:i+4], ' '))
         |  ELSE [] END) AS g FROM btoks),
         |bench AS (SELECT doc_id FROM documents
         |  WHERE ((${phSql("CAST(doc_id AS VARCHAR)", "0")}) * ${Sampling.saltMult("split")}
         |    + ${Sampling.saltAdd("split")}) % 1000000007 % 10000 >= 9000),
         |bg AS (SELECT DISTINCT unnest(bgl.g) AS gram
         |  FROM bgl JOIN bench USING (doc_id)),
         |dg AS (SELECT conv_id, unnest(g) AS gram FROM pg),
         |sh AS (SELECT dg.conv_id, count(*) AS n_shared_ngrams
         |  FROM dg JOIN bg USING (gram) GROUP BY 1)
         |SELECT up.conv_id,
         |  coalesce(sh.n_shared_ngrams, 0) AS n_shared_ngrams,
         |  coalesce(sh.n_shared_ngrams, 0) > 0 AS contaminated
         |FROM up LEFT JOIN sh USING (conv_id)""".stripMargin),
    // chat-template packing: rendered conversations laid end-to-end into
    // fixed 256-token training windows (render is one bounded-group agg;
    // the global offset is the sharded prefix scan — shardWidth 100
    // forces the multi-shard path at sf0.01)
    row("sft_pack", (s, dir) =>
      Packing.packSequences(
        ChatOps.renderChat(chatSynthTurns(Tables(s, dir).documents)),
        capacity = 256, shardWidth = 100, idCol = "conv_id"),
      // Mirrors Packing.packSequences(renderChat(turns), capacity=256) —
      // the pack_sequences twin over the rendered-conversation lengths.
      s"""WITH $ChatTurnsCte,
         |r AS (SELECT conv_id,
         |  string_agg('<|' || role || '|>' || content, chr(10)
         |    ORDER BY turn_no) AS text
         |  FROM turns GROUP BY 1),
         |lens AS (SELECT conv_id, CAST(len($Toks) AS BIGINT) AS n_toks
         |  FROM r),
         |nz AS (SELECT * FROM lens WHERE n_toks > 0),
         |c AS (SELECT conv_id, n_toks,
         |  CAST(sum(n_toks) OVER (ORDER BY conv_id) AS BIGINT) AS e FROM nz),
         |s AS (SELECT conv_id, n_toks, e - n_toks AS st, e FROM c),
         |x AS (SELECT conv_id, n_toks, st, e,
         |  unnest(range(st // 256, ((e - 1) // 256) + 1)) AS chunk_id FROM s)
         |SELECT conv_id, n_toks, chunk_id,
         |  greatest(chunk_id * 256, st) - st AS tok_start,
         |  least((chunk_id + 1) * 256, e) - st AS tok_end
         |FROM x""".stripMargin),

    // ---- learned-subword tokenizer: exact BPE merge training (8 rounds)
    // over the word-frequency table, plus per-doc segmentation under the
    // learned vocabulary ----
    row("text_bpe_merges", (s, dir) =>
      Bpe.train(Tables(s, dir).documents, nMerges = BpeMerges).merges,
      // Mirrors Bpe.train / Bpe.segmentStats over the shared unrolled rounds
      {
        val union = (0 until BpeMerges).map(i => s"SELECT * FROM b$i")
          .mkString(" UNION ALL ")
        s"""WITH ${bpeCtes(BpeMerges)}
         |SELECT rank, lft, rgt, merged, cnt AS pair_count FROM ($union)""".stripMargin
      }),
    row("text_bpe_segment", (s, dir) =>
      Bpe.segmentStats(Tables(s, dir).documents,
        Bpe.train(Tables(s, dir).documents, nMerges = BpeMerges).vocab),
      s"""WITH ${bpeCtes(BpeMerges)},
         |wd AS (SELECT doc_id, unnest($Toks) AS word FROM documents),
         |ns AS (SELECT word,
         |  CAST(len(string_split(substr(sym, 2, length(sym) - 2), '||')) AS BIGINT) AS n_syms
         |  FROM v$BpeMerges)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
         |  CAST(sum(n_syms) AS BIGINT) AS n_bpe
         |FROM wd JOIN ns USING (word) GROUP BY doc_id""".stripMargin)
  )
}
