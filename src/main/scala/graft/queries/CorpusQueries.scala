package graft
package queries

import graft.functions.{TextFunctions => TF}
import graft.operators.Dedup
import org.apache.spark.sql.functions._
import Fixtures._

/** Training-corpus curation: text statistics, packing and sharding,
  * decontamination, quality and repetition filters, n-gram and BPE
  * tokenizer training/encoding, sampling and mixing.
  */
private[graft] object CorpusQueries {

  val declared: Seq[Query] = Seq(
    Query("q_text_stats", (s, d) =>
      documents(s, d)
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(TF.tokenCount(col("text")).cast("long")).as("n_tokens"),
          round(sum(col("n_chars")).cast("double") / count(lit(1)), 4).as("avg_chars"))
        .orderBy("lang"),
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))) AS BIGINT) AS n_tokens,
        |  round(CAST(sum(n_chars) AS DOUBLE) / count(*), 4) AS avg_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin),

    Query("q_text_lang", (s, d) =>
      documents(s, d)
        .groupBy(TF.langId(col("text")).as("predicted_lang"))
        .agg(count(lit(1)).as("n")).orderBy("predicted_lang"),
      // faithful SQL twin of TextFunctions.langIdScala: distinct marker hits
      // per language, argmax with ties broken by language declaration order
      """WITH t AS (SELECT doc_id, list_distinct(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS toks FROM documents),
        |s AS (SELECT doc_id,
        |  len(list_intersect(toks, ['the','and','of','to','is','that','it','for','with','this'])) AS en,
        |  len(list_intersect(toks, ['el','la','de','que','los','las','una','por','como','para'])) AS es,
        |  len(list_intersect(toks, ['le','les','des','est','une','dans','pour','que','sur','avec'])) AS fr,
        |  len(list_intersect(toks, ['der','die','das','und','ist','nicht','mit','ein','für','auf'])) AS de,
        |  len(list_intersect(toks, ['的','是','了','在','我','有','和','就','不','人'])) AS zh
        | FROM t)
        |SELECT CASE WHEN greatest(en, es, fr, de, zh) = 0 THEN 'und'
        |  WHEN en >= es AND en >= fr AND en >= de AND en >= zh THEN 'en'
        |  WHEN es >= fr AND es >= de AND es >= zh THEN 'es'
        |  WHEN fr >= de AND fr >= zh THEN 'fr'
        |  WHEN de >= zh THEN 'de' ELSE 'zh' END AS predicted_lang, count(*) AS n
        |FROM s GROUP BY 1 ORDER BY 1""".stripMargin),

    // -- [NS] token-budget sequence packing, per-shard (source) so packing
    // state never funnels through one partition --
    Query("q_pack_sequences", (s, d) =>
      graft.operators.Corpus.packSequences(documents(s, d), budget = 512),
      """WITH toks AS (
        |  SELECT source, doc_id,
        |    CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS BIGINT) AS toks
        |  FROM documents),
        |binned AS (
        |  SELECT source, toks,
        |    CAST(floor(coalesce(sum(toks) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 512) AS BIGINT) AS bin
        |  FROM toks)
        |SELECT source, bin, count(*) AS n_docs, CAST(sum(toks) AS BIGINT) AS n_tokens
        |FROM binned GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // -- [NS] data-quality gate: five declarative expectations over
    // lineitem in ONE aggregate pass (sum(when(!p,1)) counters + stack to
    // long form — no shuffle beyond the 1-row combine) plus the
    // referential-integrity orphan check as a broadcast anti join. The
    // publish gate a production pipeline runs; one rule (quantity ≤ 49) is
    // deliberately violated so the gate provably counts, not just passes. --
    Query("q_data_audit", (s, d) => {
      import graft.operators.DataQuality._
      val li = Tables.lineitem(s, d)
      audit(li, Seq(
        Rule("key_not_null", col("l_orderkey").isNotNull),
        Rule("linenumber_positive", col("l_linenumber") >= 1),
        Rule("price_positive", col("l_extendedprice") > 0),
        Rule("discount_in_range", col("l_discount").between(0, 1)),
        Rule("quantity_le_49", col("l_quantity") <= 49)))
        .unionByName(refIntegrity(li, "l_orderkey",
          Tables.orders(s, d), "o_orderkey", "orders_ref_integrity"))
        .orderBy("rule")
    },
      // each expectation recomputed as a direct violation count
      """WITH v AS (
        |  SELECT 'discount_in_range' AS rule,
        |    CAST(sum(CASE WHEN NOT coalesce(l_discount BETWEEN 0 AND 1, false) THEN 1 ELSE 0 END) AS BIGINT) AS violations
        |  FROM lineitem
        |  UNION ALL SELECT 'key_not_null',
        |    CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem
        |  UNION ALL SELECT 'linenumber_positive',
        |    CAST(sum(CASE WHEN NOT coalesce(l_linenumber >= 1, false) THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem
        |  UNION ALL SELECT 'orders_ref_integrity',
        |    (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
        |      (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
        |  UNION ALL SELECT 'price_positive',
        |    CAST(sum(CASE WHEN NOT coalesce(l_extendedprice > 0, false) THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem
        |  UNION ALL SELECT 'quantity_le_49',
        |    CAST(sum(CASE WHEN NOT coalesce(l_quantity <= 49, false) THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem)
        |SELECT rule, violations, violations = 0 AS ok
        |FROM v ORDER BY rule""".stripMargin),

    // -- [NS] the training-data pipeline COMPOSED end-to-end, one exact
    // oracle: normalized exact dedup (keep min doc_id) → quality-score
    // filter (≥ 0.5) → per-source corpus profile. Each stage is an
    // already-oracled operator; this declares that they compose without
    // semantic drift — the shape a real pre-training run executes. --
    Query("q_pipeline_e2e", (s, d) => {
      val docs = documents(s, d)
      val kept = docs.join(
        Dedup.exactNormalized(docs).select("doc_id"), Seq("doc_id"), "left_semi")
      kept
        .withColumn("p", TF.textProfileCol(col("text")))
        .where(col("p.quality") >= 0.5)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("p.n_tokens").cast("long")).as("n_tokens"))
        .orderBy("source")
    },
      // the pipeline twin chains the exact-norm dedup and quality-formula
      // CTEs (both proven standalone above) and profiles the survivors
      """WITH kept AS (
        |  SELECT min(doc_id) AS doc_id FROM documents
        |  GROUP BY md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'))),
        |q AS (
        |  SELECT d.doc_id, d.source,
        |    length(text) AS len,
        |    len(regexp_extract_all(text, '\S+')) AS n_tok,
        |    length(regexp_replace(text, '[^A-Za-z ]', '', 'g')) AS alpha,
        |    len(list_intersect(list_distinct(regexp_extract_all(lower(text), '\S+')),
        |        ['the','a','of','and','to','in','is','it','that','for'])) AS stop_hits
        |  FROM documents d JOIN kept USING (doc_id))
        |SELECT source, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens
        |FROM q
        |WHERE floor((0.3 * least(len / 200.0, 1.0)
        |    + 0.3 * (CASE WHEN len > 0 THEN alpha * 1.0 / len ELSE 0.0 END)
        |    + 0.2 * (1.0 - least(abs((CASE WHEN n_tok > 0 THEN len * 1.0 / n_tok ELSE 0.0 END) - 5.0) / 10.0, 1.0))
        |    + 0.2 * least(stop_hits / 3.0, 1.0)) * 10000 + 0.5) / 10000 >= 0.5
        |GROUP BY source ORDER BY source""".stripMargin),

    // -- [NS] unigram-LM quality scoring: add-1-smoothed LM trained on the
    // doc_id >= 50 split scores the doc_id < 50 "incoming" docs by mean
    // token log-prob — the perplexity-style pre-training filter. Token-
    // keyed co-located join; per-token ln rounded to 6 dp then decimal-
    // summed, so the mean is engine-identical. --
    Query("q_lm_score", (s, d) => {
      val docs = documents(s, d)
      graft.operators.Corpus.lmScore(
        docs.where(col("doc_id") >= 50), docs.where(col("doc_id") < 50))
    },
      // the LM twin recomputes counts, smoothing, and the 6-dp-rounded
      // decimal-summed mean log-prob from first principles
      """WITH train AS (
        |  SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS t
        |  FROM documents WHERE doc_id >= 50),
        |lm AS (SELECT t, count(*) AS c FROM train GROUP BY t),
        |tot AS (SELECT count(*) AS n, (SELECT count(*) FROM lm) AS v FROM train),
        |ev AS (
        |  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS t
        |  FROM documents WHERE doc_id < 50)
        |SELECT doc_id,
        |  round(CAST(sum(CAST(round(ln((coalesce(c, 0) + 1.0) / (n + v)), 6) AS DECIMAL(18,6))) AS DOUBLE) / count(*), 4) AS avg_logp,
        |  count(*) AS n_tok
        |FROM ev LEFT JOIN lm USING (t), tot
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // -- [NS] pack materialization: the packSequences bins rendered as
    // actual training sequences (doc_id-ordered concat per bin);
    // fingerprinted by md5 + length so the declared rows stay bounded --
    Query("q_pack_concat", (s, d) =>
      graft.operators.Corpus.packedTexts(documents(s, d), budget = 512),
      // bin assignment identical to q_pack_sequences; the packed text's
      // fingerprint recomputed via ORDER BY doc_id string_agg
      """WITH toks AS (
        |  SELECT source, doc_id, text,
        |    CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS BIGINT) AS toks
        |  FROM documents),
        |binned AS (
        |  SELECT source, doc_id, text,
        |    CAST(floor(coalesce(sum(toks) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 512) AS BIGINT) AS bin
        |  FROM toks)
        |SELECT source, bin, CAST(count(*) AS INT) AS n_docs,
        |  CAST(length(string_agg(text, ' ' ORDER BY doc_id)) AS INT) AS packed_chars,
        |  md5(string_agg(text, ' ' ORDER BY doc_id)) AS packed_md5
        |FROM binned GROUP BY source, bin ORDER BY source, bin""".stripMargin),

    // -- [NS] balanced token-budget sharding: rank-desc round-robin deal
    // (LPT-style) of documents into 8 shards; per-shard token totals stay
    // within one max-document of each other. The global rank runs over a
    // 2-column projection (the text column never sorts). --
    Query("q_token_shard", (s, d) =>
      graft.operators.Corpus.tokenShard(documents(s, d), nShards = 8),
      """WITH toks AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS BIGINT) AS toks
        |  FROM documents),
        |ranked AS (
        |  SELECT toks, row_number() OVER (ORDER BY toks DESC, doc_id) AS rn
        |  FROM toks)
        |SELECT CAST((rn - 1) % 8 AS INT) AS shard, count(*) AS n_docs,
        |  CAST(sum(toks) AS BIGINT) AS n_tokens
        |FROM ranked GROUP BY 1 ORDER BY 1""".stripMargin),

    // -- [NS] the same sharding via the lake-scale rank (range partition +
    // local counters + offset table — no single-partition window over the
    // data). Total order is identical, so it shares the window form's
    // oracle VERBATIM: the scale path is gated on exact equality. --
    Query("q_token_shard_ranged", (s, d) =>
      graft.operators.Corpus.tokenShardRanged(documents(s, d), nShards = 8),
      // the ranged form must produce the identical sharding — same oracle
      """WITH toks AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS BIGINT) AS toks
        |  FROM documents),
        |ranked AS (
        |  SELECT toks, row_number() OVER (ORDER BY toks DESC, doc_id) AS rn
        |  FROM toks)
        |SELECT CAST((rn - 1) % 8 AS INT) AS shard, count(*) AS n_docs,
        |  CAST(sum(toks) AS BIGINT) AS n_tokens
        |FROM ranked GROUP BY 1 ORDER BY 1""".stripMargin),

    // -- [NS] tokenizer-vocab coverage: top-256 train vocabulary (count
    // desc, term asc — a total-ordered cut), per-source eval OOV rate. The
    // vocab is TakeOrderedAndProject-sized and broadcast; the eval token
    // stream never shuffles for the probe. --
    Query("q_vocab_coverage", (s, d) => {
      val docs = documents(s, d)
      graft.operators.Corpus.vocabCoverage(
        docs.where(col("doc_id") >= 50), docs.where(col("doc_id") < 50), v = 256)
    },
      // vocab cut is total-ordered (count desc, term asc) → engine-portable
      """WITH train_tok AS (
        |  SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS t
        |  FROM documents WHERE doc_id >= 50),
        |vocab AS (
        |  SELECT t FROM (
        |    SELECT t, row_number() OVER (ORDER BY count(*) DESC, t) AS rk
        |    FROM train_tok GROUP BY t) WHERE rk <= 256),
        |eval_tok AS (
        |  SELECT source, unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS t
        |  FROM documents WHERE doc_id < 50)
        |SELECT source, count(*) AS n_tokens,
        |  CAST(sum(CASE WHEN t NOT IN (SELECT t FROM vocab) THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        |  round(100.0 * CAST(sum(CASE WHEN t NOT IN (SELECT t FROM vocab) THEN 1 ELSE 0 END) AS DOUBLE)
        |        / count(*), 4) AS oov_pct
        |FROM eval_tok GROUP BY source ORDER BY source""".stripMargin),

    // -- [NS] length-curriculum tiers: equal-count ntile buckets over the
    // (toks, doc_id) total order; per-tier doc count, length envelope, and
    // token mass — the short-to-long curriculum schedule. --
    Query("q_length_curriculum", (s, d) =>
      graft.operators.Corpus.lengthCurriculum(documents(s, d), n = 4),
      """WITH toks AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS BIGINT) AS toks
        |  FROM documents),
        |tiered AS (
        |  SELECT toks, ntile(4) OVER (ORDER BY toks, doc_id) AS bucket FROM toks)
        |SELECT bucket, count(*) AS n_docs, min(toks) AS min_toks,
        |  max(toks) AS max_toks, CAST(sum(toks) AS BIGINT) AS n_tokens
        |FROM tiered GROUP BY bucket ORDER BY bucket""".stripMargin),

    // -- [NS] the same curriculum tiers via the lake-scale rank (range
    // partition + local counters + offset table, exact ntile tiling
    // arithmetic — no single-partition window over the data). Total order
    // is identical, so it shares the window form's oracle VERBATIM. --
    Query("q_length_curriculum_ranged", (s, d) =>
      graft.operators.Corpus.lengthCurriculumRanged(documents(s, d), n = 4),
      // the ranged form must produce the identical tiers — same oracle
      """WITH toks AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS BIGINT) AS toks
        |  FROM documents),
        |tiered AS (
        |  SELECT toks, ntile(4) OVER (ORDER BY toks, doc_id) AS bucket FROM toks)
        |SELECT bucket, count(*) AS n_docs, min(toks) AS min_toks,
        |  max(toks) AS max_toks, CAST(sum(toks) AS BIGINT) AS n_tokens
        |FROM tiered GROUP BY bucket ORDER BY bucket""".stripMargin),

    // -- [NS] heavy hitters: Misra-Gries sketch (typed Aggregator, ≤ 64
    // counters per partial) finds candidates in one pass, an exact recount
    // of the ≤ 64 candidates makes the output deterministic — no
    // full-vocabulary shuffle at any corpus size. k ≥ frac guarantees no
    // qualifying token is missed, so the exact SQL oracle applies. --
    Query("q_heavy_hitters", (s, d) =>
      graft.operators.HeavyHitters.frequentTokens(documents(s, d), k = 64, frac = 32),
      // integer running-total bin assignment — exact arithmetic in both engines
      // exact recount of MG candidates = the plain frequency filter (k=64 ≥
      // frac=32, so the sketch provably surfaces every qualifying token)
      """WITH tok AS (
        |  SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS token
        |  FROM documents),
        |tot AS (SELECT count(*) AS n_total FROM tok)
        |SELECT token, count(*) AS n FROM tok, tot
        |GROUP BY token, n_total HAVING count(*) * 32 > n_total
        |ORDER BY token""".stripMargin),

    // -- [NS] reproducible shuffled sample: salted-md5 order, distributed
    // top-k (TakeOrderedAndProject), the training-run data-order fixer --
    Query("q_shuffle_sample", (s, d) =>
      graft.operators.Corpus.shuffledSample(documents(s, d), salt = "g1", n = 100),
      // md5 hex strings sort identically in both engines
      """SELECT md5(CAST(doc_id AS VARCHAR) || 'g1') AS shuffle_key, doc_id
        |FROM documents ORDER BY shuffle_key, doc_id LIMIT 100""".stripMargin),

    // -- [NS] train/eval decontamination: distinct-8-gram overlap of each
    // "eval" doc (doc_id < 50) against the "train" remainder — one
    // semi-join on the gram, no pairwise doc comparison --
    Query("q_decontaminate", (s, d) => {
      val docs = documents(s, d)
      graft.operators.Corpus.contamination(
        docs.where(col("doc_id") >= 50), docs.where(col("doc_id") < 50), n = 8)
    },
      // distinct 8-gram overlap recomputed from first principles (same
      // slicing-comprehension shingle construction as the dedup truth twins)
      """WITH tok AS (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t FROM documents),
        |sh AS (SELECT doc_id, list_distinct([array_to_string(t[i:i+7], ' ') for i in range(1, len(t) - 6)]) AS s
        |       FROM tok WHERE len(t) >= 8),
        |tg AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id >= 50),
        |eg AS (SELECT doc_id, unnest(s) AS g FROM sh WHERE doc_id < 50),
        |hits AS (SELECT doc_id, count(*) AS n_hit FROM eg WHERE g IN (SELECT g FROM tg) GROUP BY 1)
        |SELECT e.doc_id, CAST(len(e.s) AS BIGINT) AS n_grams,
        |  CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
        |  coalesce(h.n_hit, 0) > 0 AS contaminated
        |FROM sh e LEFT JOIN hits h USING (doc_id)
        |WHERE e.doc_id < 50 AND len(e.s) > 0
        |ORDER BY doc_id""".stripMargin),

    // -- [NS] bloom-pre-filtered decontamination twin: identical result to
    // q_decontaminate BY CONSTRUCTION (the exact semi-join still removes
    // the bloom's false positives); what changes is the shuffle — eval
    // grams that miss the train set are dropped map-side by the filter.
    // Same oracle SQL as the exact form, so the equality is oracle-gated. --
    Query("q_decontaminate_bloom", (s, d) => {
      val docs = documents(s, d)
      graft.operators.Corpus.contaminationBloom(
        docs.where(col("doc_id") >= 50), docs.where(col("doc_id") < 50), n = 8)
    },
      // the bloom pre-pass must be result-invisible: same twin as the exact
      // form — false positives die in the semi-join, true hits all survive
      // the filter (blooms have no false negatives)
      """WITH tok AS (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t FROM documents),
        |sh AS (SELECT doc_id, list_distinct([array_to_string(t[i:i+7], ' ') for i in range(1, len(t) - 6)]) AS s
        |       FROM tok WHERE len(t) >= 8),
        |tg AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id >= 50),
        |eg AS (SELECT doc_id, unnest(s) AS g FROM sh WHERE doc_id < 50),
        |hits AS (SELECT doc_id, count(*) AS n_hit FROM eg WHERE g IN (SELECT g FROM tg) GROUP BY 1)
        |SELECT e.doc_id, CAST(len(e.s) AS BIGINT) AS n_grams,
        |  CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
        |  coalesce(h.n_hit, 0) > 0 AS contaminated
        |FROM sh e LEFT JOIN hits h USING (doc_id)
        |WHERE e.doc_id < 50 AND len(e.s) > 0
        |ORDER BY doc_id""".stripMargin),

    // -- [NS] decontamination, eval-broadcast form: the distinct eval gram
    // set broadcasts and the TRAIN side is filtered map-side (broadcast
    // semi-join) — the 100 TB train corpus is read once and never shuffled.
    // Result must be bit-identical to the exact form (same DuckDB twin). --
    Query("q_decontaminate_bcast", (s, d) => {
      val docs = documents(s, d)
      graft.operators.Corpus.contaminationBroadcast(
        docs.where(col("doc_id") >= 50), docs.where(col("doc_id") < 50), n = 8)
    },
      // eval-broadcast decontamination: train side never shuffles; same twin
      """WITH tok AS (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t FROM documents),
        |sh AS (SELECT doc_id, list_distinct([array_to_string(t[i:i+7], ' ') for i in range(1, len(t) - 6)]) AS s
        |       FROM tok WHERE len(t) >= 8),
        |tg AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id >= 50),
        |eg AS (SELECT doc_id, unnest(s) AS g FROM sh WHERE doc_id < 50),
        |hits AS (SELECT doc_id, count(*) AS n_hit FROM eg WHERE g IN (SELECT g FROM tg) GROUP BY 1)
        |SELECT e.doc_id, CAST(len(e.s) AS BIGINT) AS n_grams,
        |  CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
        |  coalesce(h.n_hit, 0) > 0 AS contaminated
        |FROM sh e LEFT JOIN hits h USING (doc_id)
        |WHERE e.doc_id < 50 AND len(e.s) > 0
        |ORDER BY doc_id""".stripMargin),

    // -- [NS] per-doc repetition profile: single-pass JVM n-gram multiset
    // (total/distinct/max-frequency), the loops-and-boilerplate signal --
    Query("q_text_repetition", (s, d) =>
      graft.operators.Corpus.repetitionStats(documents(s, d), n = 3),
      // n-gram multiset profile from first principles; ratios are exact
      // small-integer divisions in both engines
      """WITH tok AS (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t FROM documents),
        |g AS (SELECT doc_id, unnest([t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t) - 1)]) AS g
        |      FROM tok WHERE len(t) >= 3),
        |c AS (SELECT doc_id, g, count(*) AS c FROM g GROUP BY 1, 2),
        |p AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams,
        |        count(*) AS n_distinct, max(c) AS max_freq FROM c GROUP BY 1)
        |SELECT doc_id, n_grams,
        |  floor((1.0 - n_distinct * 1.0 / n_grams) * 10000 + 0.5) / 10000 AS rep_ratio,
        |  floor(max_freq * 1.0 / n_grams * 10000 + 0.5) / 10000 AS top_freq_ratio
        |FROM p WHERE n_grams > 0 ORDER BY doc_id""".stripMargin),

    // quality / token counts are deterministic formulas with a DuckDB twin
    // (oracled); the rolling-hash fingerprint is split into its own
    // rows-only query below so it doesn't drag this one off the oracle
    Query("q_text_quality", (s, d) =>
      documents(s, d)
        .withColumn("p", TF.textProfileCol(col("text")))
        .select(col("doc_id"), col("p.quality").as("quality"),
          col("p.n_tokens").as("n_tokens"),
          col("p.n_bpeish").as("n_bpeish"))
        .orderBy("doc_id"),
      // faithful SQL twin of TextFunctions.textProfile (minus the fingerprint,
      // which lives in the invariant-oracled q_text_fingerprint).
      // BMP-only assumption: DuckDB length() counts codepoints, textProfile
      // counts UTF-16 units — they agree exactly on this corpus (no non-BMP
      // chars); a supplementary-plane emoji would diverge len/alpha/meanWord.
      """WITH p AS (
        |  SELECT doc_id,
        |    length(text) AS len,
        |    len(regexp_extract_all(text, '\S+')) AS n_tok,
        |    len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]')) AS n_bpe,
        |    length(regexp_replace(text, '[^A-Za-z ]', '', 'g')) AS alpha,
        |    len(list_intersect(list_distinct(regexp_extract_all(lower(text), '\S+')),
        |        ['the','a','of','and','to','in','is','it','that','for'])) AS stop_hits
        |  FROM documents)
        |SELECT doc_id,
        |  floor((0.3 * least(len / 200.0, 1.0)
        |      + 0.3 * (CASE WHEN len > 0 THEN alpha * 1.0 / len ELSE 0.0 END)
        |      + 0.2 * (1.0 - least(abs((CASE WHEN n_tok > 0 THEN len * 1.0 / n_tok ELSE 0.0 END) - 5.0) / 10.0, 1.0))
        |      + 0.2 * least(stop_hits / 3.0, 1.0)) * 10000 + 0.5) / 10000 AS quality,
        |  CAST(n_tok AS INT) AS n_tokens,
        |  CAST(n_bpe AS INT) AS n_bpeish
        |FROM p ORDER BY doc_id""".stripMargin),

    // -- [NS] PII redaction: the synthetic corpus has no PII, so each doc
    // gets a deterministic email+phone derived from doc_id (the oracle
    // builds the identical string), then the regex scrub replaces them with
    // typed markers. Patterns live in TF (Java∩RE2 dialect); pure codegen'd
    // regexp_replace/regexp_count — no UDF in the scan path. --
    Query("q_text_redact", (s, d) =>
      documents(s, d)
        .withColumn("t2", concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com or call +1-555-"),
          lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")))
        .select(col("doc_id"),
          TF.redactPii(col("t2")).as("redacted"),
          regexp_count(col("t2"), lit(TF.EmailRe)).cast("long").as("n_emails"),
          regexp_count(col("t2"), lit(TF.PhoneRe)).cast("long").as("n_phones"))
        .orderBy("doc_id"),
      // synthetic-PII construction identical on both engines; 'g' flag makes
      // DuckDB regexp_replace global like Spark's
      """WITH t AS (SELECT doc_id,
        |  text || ' contact user' || CAST(doc_id AS VARCHAR)
        |       || '@example.com or call +1-555-'
        |       || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t2
        |  FROM documents)
        |SELECT doc_id,
        |  regexp_replace(regexp_replace(t2,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |    '\+1-555-[0-9]{4}', '[PHONE]', 'g') AS redacted,
        |  CAST(len(regexp_extract_all(t2, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(t2, '\+1-555-[0-9]{4}')) AS BIGINT) AS n_phones
        |FROM t ORDER BY doc_id""".stripMargin),

    // -- [NS] URL/domain profile: deterministic synthetic URL per doc, then
    // domain extraction + frequency — the source-mix census a crawl corpus
    // runs before sampling. Same Java∩RE2 dialect constraint. --
    Query("q_url_domains", (s, d) =>
      documents(s, d)
        .withColumn("t2", concat(col("text"),
          lit(" see https://site"), pmod(col("doc_id"), lit(7)).cast("string"),
          lit(".example.org/p/"), col("doc_id").cast("string")))
        .select(regexp_extract(col("t2"), "https://([A-Za-z0-9.-]+)/", 1).as("domain"))
        .groupBy(col("domain")).agg(count(lit(1)).as("n_docs"))
        .orderBy("domain"),
      """WITH t AS (SELECT doc_id,
        |  text || ' see https://site' || CAST(doc_id % 7 AS VARCHAR)
        |       || '.example.org/p/' || CAST(doc_id AS VARCHAR) AS t2
        |  FROM documents)
        |SELECT regexp_extract(t2, 'https://([A-Za-z0-9.-]+)/', 1) AS domain,
        |  count(*) AS n_docs
        |FROM t GROUP BY 1 ORDER BY 1""".stripMargin),

    // fingerprint invariant oracle: the 64-bit rolling hash has no SQL twin,
    // but its defining properties do — equal texts ⇒ equal fingerprints
    // (deterministic) and distinct texts ⇒ distinct fingerprints (64-bit
    // collision odds ~1e-14 at corpus size), so distinct-fingerprint count
    // == distinct-text count, which DuckDB computes exactly
    Query("q_text_fingerprint", (s, d) =>
      documents(s, d)
        .select(col("doc_id"), col("text"),
          TF.textProfileCol(col("text")).getField("fingerprint").as("fp"))
        .agg(
          count(lit(1)).as("n_docs"),
          countDistinct(col("text")).as("n_texts"),
          countDistinct(col("fp")).as("n_fps")),
      // fingerprint respects text equality and is collision-free at corpus
      // size, so distinct-fingerprint count == distinct-text count
      "SELECT count(*) AS n_docs, count(DISTINCT text) AS n_texts, count(DISTINCT text) AS n_fps FROM documents"),

    // -- [NS] C4-style boilerplate strip: segments repeated across >= 3
    // documents removed corpus-wide, survivors reassembled in order
    // (Corpus.boilerplateStrip). Exact value oracle via the DuckDB twin. --
    Query("q_boilerplate_strip", (s, d) =>
      graft.operators.Corpus.boilerplateStrip(documents(s, d), width = 4, minDf = 3),
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS tk
        |  FROM documents),
        |seg AS (
        |  SELECT doc_id, i AS seg_idx, array_to_string(tk[(i*4+1):(i*4+4)], ' ') AS seg
        |  FROM toks, unnest(range(0, CAST(ceil(len(tk) / 4.0) AS BIGINT))) AS u(i)),
        |df AS (SELECT seg, count(DISTINCT doc_id) AS dfreq FROM seg GROUP BY 1)
        |SELECT s.doc_id,
        |  CAST(sum(CASE WHEN dfreq < 3 THEN 1 ELSE 0 END) AS INT) AS n_kept,
        |  CAST(sum(CASE WHEN dfreq >= 3 THEN 1 ELSE 0 END) AS INT) AS n_dropped,
        |  md5(coalesce(string_agg(CASE WHEN dfreq < 3 THEN seg END, ' ' ORDER BY seg_idx), '')) AS cleaned_md5
        |FROM seg s JOIN df USING (seg)
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // -- [NS] Count-Min-Sketch frequency audit: the sketch is built
    // DISTRIBUTED with a fixed seed (only the kilobyte-sized sketch
    // reaches the driver — bounded regardless of row count), then each
    // type's estimate is checked against the CMS guarantee: exact <= est
    // <= exact + ceil(eps·N). Like the HLL query, the sketch itself has
    // no DuckDB twin but the error-bound invariant does. --
    Query("q_cms_freq", (s, d) => {
      val ev = events(s, d)
      val cms = ev.stat.countMinSketch(col("event_type"),
        eps = 0.001, confidence = 0.99, seed = 42)
      val est = udf((t: String) => cms.estimateCount(t))
      val total = ev.agg(count(lit(1)).as("n_total"))
      ev.groupBy(col("event_type")).agg(count(lit(1)).as("n_events"))
        .crossJoin(broadcast(total))
        .select(col("event_type"), col("n_events"),
          (est(col("event_type")) >= col("n_events") &&
            est(col("event_type")) <= col("n_events") +
              ceil(lit(0.001) * col("n_total")).cast("long")).as("within_eps"))
        .orderBy("event_type")
    },
      """SELECT event_type, count(*) AS n_events, true AS within_eps
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),

    // -- [NS] temperature-scaled domain mixing (the n^alpha sampling rule
    // a multi-source pre-training run uses to up-weight small domains):
    // per-source doc counts -> weight ∝ n^0.7 -> normalized quota. Each
    // pow() is rounded to 6 dp before the decimal-exact normalization sum
    // (the engine's ln()-rounding convention), so both engines' libm
    // disagreement in the last ulp can't leak into the output. The count
    // table is domain-cardinality-sized; everything after the one
    // aggregate is broadcast arithmetic. --
    Query("q_mix_temperature", (s, d) => {
      val counts = documents(s, d).groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"))
        .withColumn("w_raw", round(pow(col("n_docs").cast("double"), 0.7), 6))
      val total = counts.agg(
        sum(col("w_raw").cast("decimal(18,6)")).cast("double").as("w_total"))
      counts.crossJoin(broadcast(total))
        .select(col("source"), col("n_docs"),
          round(col("w_raw") / col("w_total"), 6).as("weight"),
          floor(lit(10000) * (col("w_raw") / col("w_total"))).cast("long")
            .as("quota_docs"))
        .orderBy("source")
    },
      """WITH c AS (
        |  SELECT source, count(*) AS n_docs,
        |    round(pow(CAST(count(*) AS DOUBLE), 0.7), 6) AS w_raw
        |  FROM documents GROUP BY 1),
        |t AS (SELECT CAST(sum(CAST(w_raw AS DECIMAL(18,6))) AS DOUBLE) AS w_total FROM c)
        |SELECT source, n_docs, round(w_raw / w_total, 6) AS weight,
        |  CAST(floor(10000 * (w_raw / w_total)) AS BIGINT) AS quota_docs
        |FROM c, t ORDER BY 1""".stripMargin),

    // -- [NS] fuzzy-match surface: consecutive-doc Levenshtein distance on
    // a bounded 60-char prefix (edit distance is O(len²) per pair — the
    // prefix cap keeps per-row cost constant at any corpus size). The
    // pairing is an equi-join on doc_id+1, not a cross join. --
    Query("q_fuzzy_pairs", (s, d) => {
      val a = documents(s, d).select(col("doc_id"),
        substring(col("text"), 1, 60).as("ta"), length(col("text")).as("la"))
      val b = documents(s, d).select((col("doc_id") - 1).as("join_id"),
        substring(col("text"), 1, 60).as("tb"), length(col("text")).as("lb"))
      a.join(b, col("doc_id") === col("join_id"))
        .select(col("doc_id"),
          levenshtein(col("ta"), col("tb")).as("lev"),
          (col("lb") - col("la")).as("len_delta"))
        .orderBy("doc_id")
    },
      """SELECT a.doc_id,
        |  CAST(levenshtein(substr(a.text, 1, 60), substr(b.text, 1, 60)) AS INT) AS lev,
        |  CAST(length(b.text) - length(a.text) AS INT) AS len_delta
        |FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
        |ORDER BY a.doc_id""".stripMargin),

    // -- [NS] global top-20 trigrams by document frequency (shingles are
    // distinct per doc, so counts = doc frequency; ties broken by shingle) --
    Query("q_ngram_topk", (s, d) =>
      documents(s, d)
        .select(explode(TF.shingles(col("text"), 3)).as("shingle"))
        .groupBy(col("shingle"))
        .agg(count(lit(1)).as("df"))
        .orderBy(col("df").desc, col("shingle"))
        .limit(20),
      """WITH tok AS (SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t) - 1)])) AS shingle
        |       FROM tok WHERE len(t) >= 3)
        |SELECT shingle, count(*) AS df FROM sh GROUP BY 1 ORDER BY df DESC, shingle LIMIT 20""".stripMargin),

    // -- [NS] RAG overlap chunking: 128-char windows every 96 chars (32
    // shared context chars per boundary); exact integer chunk-count
    // arithmetic, per-chunk md5+length fingerprint --
    Query("q_chunk_overlap", (s, d) =>
      graft.operators.Corpus.overlapChunks(documents(s, d), width = 128, stride = 96),
      // identical integer chunk-count arithmetic and 1-based substr windows
      """WITH n AS (
        |  SELECT doc_id, text,
        |    CASE WHEN length(text) <= 128 THEN 1
        |         ELSE 1 + (length(text) - 128 + 95) // 96 END AS n_chunks
        |  FROM documents)
        |SELECT doc_id, i AS chunk_idx,
        |  length(substr(text, CAST(i * 96 + 1 AS BIGINT), 128)) AS chunk_chars,
        |  md5(substr(text, CAST(i * 96 + 1 AS BIGINT), 128)) AS chunk_md5
        |FROM n, unnest(generate_series(0, n_chunks - 1)) AS t(i)
        |ORDER BY doc_id, chunk_idx""".stripMargin),

    // -- [NS] BPE tokenizer-training first iteration: top-20 adjacent
    // character pairs weighted by word frequency, computed over the
    // distinct-word dictionary (the real trainer's corpus collapse) --
    Query("q_bpe_pairs", (s, d) =>
      graft.operators.Corpus.bpePairs(documents(s, d), k = 20),
      // pair counts recomputed over the same word-frequency dictionary
      """WITH words AS (
        |  SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS word
        |  FROM documents),
        |wf AS (SELECT word, count(*) AS freq FROM words
        |       WHERE length(word) >= 2 GROUP BY 1),
        |pairs AS (
        |  SELECT substr(word, i, 2) AS pair, freq
        |  FROM wf, unnest(generate_series(1, length(word) - 1)) AS t(i))
        |SELECT pair, CAST(sum(freq) AS BIGINT) AS n FROM pairs GROUP BY 1
        |ORDER BY n DESC, pair LIMIT 20""".stripMargin),

    // -- [NS] BPE tokenizer TRAINING — the full greedy merge loop (20
    // rounds) over the vocabulary-collapsed dictionary, returning the
    // merge TRAJECTORY (the artifact a tokenizer ships). Each round is
    // one map-side-combined aggregate of which a single row (the merge
    // rule) reaches the driver; the merge is a boundary-safe literal
    // replace over the marked symbol encoding. Value-oracled over the
    // WHOLE trajectory by a 20-stage unrolled DuckDB twin (the
    // q_pagerank_sim discipline: identical tie-breaks, identical
    // left-to-right replace semantics). --
    Query("q_bpe_train", (s, d) =>
      graft.operators.Corpus.bpeTrain(documents(s, d), merges = 20),
      // the full 20-round merge loop, value-oracled over the whole
      // trajectory: the same dictionary collapse, pair count, (n desc,
      // pair) tie-break and boundary-safe literal replace, unrolled as 20
      // CTE stages (the q_pagerank_sim pattern)
      bpeTrainOracle(20)),

    // -- [NS] BPE ENCODE — the serve side of the trained artifact,
    // completing the tokenizer loop: train the 20-merge trajectory
    // (deterministic, the q_bpe_train subject), apply it to the corpus
    // dictionary in training order (the shipped-tokenizer path), and
    // report the encoded-vocabulary top-30 by token mass. The merge list
    // is the ONE driver-side read (≤ 20 rows — the artifact itself);
    // everything else is vocabulary-sized. Value-oracled end to end by
    // the same unrolled 20-stage DuckDB twin's final dictionary. --
    Query("q_bpe_encode", (s, d) => {
      val traj = graft.operators.Corpus.bpeTrain(documents(s, d), merges = 20)
        .select("left_sym", "right_sym").collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq
      graft.operators.Corpus.bpeEncode(documents(s, d), traj, k = 30)
    },
      // encoding the training corpus with the trained merges = the unrolled
      // chain's final dictionary, exploded and histogrammed — exact value
      // oracle for the whole train→encode loop
      bpeEncodeOracle(20, 30)),

    // -- [NS] BPE encoding of HELD-OUT text — the actual serve shape
    // (q_bpe_encode replays the training corpus; production encodes text
    // the trainer never saw): merges train on the doc_id >= 50 split
    // (q_vocab_coverage's split convention), then encode the doc_id < 50
    // EVAL split with the trained rules, reporting the eval symbol
    // histogram with in_vocab membership against the REAL trained
    // vocabulary — the OOV/coverage report a tokenizer pipeline alarms
    // on, wired end-to-end from a real bpeTrain artifact. Value-oracled
    // by the same unrolled 20-stage chain trained on the train split and
    // replayed over the eval dictionary. Bounded collect: the ≤20-row
    // trajectory (the trained artifact itself). --
    Query("q_bpe_encode_heldout", (s, d) => {
      val docs = documents(s, d)
      val train = docs.where(col("doc_id") >= 50)
      val eval = docs.where(col("doc_id") < 50)
      val traj = graft.operators.Corpus.bpeTrain(train, merges = 20)
        .select("left_sym", "right_sym").collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq
      graft.operators.Corpus.bpeEncodeHeldout(train, eval, traj, k = 30)
    },
      // held-out encode: merges trained on doc_id >= 50, replayed over the
      // eval (doc_id < 50) dictionary, OOV flagged vs the trained vocab
      bpeEncodeHeldoutOracle(20, 30)),

    // -- [NS] PMI collocations: top-20 adjacent word bigrams by pointwise
    // mutual information at support >= 20 — phrase mining over the corpus;
    // float discipline documented on Corpus.pmiBigrams --
    Query("q_pmi_bigrams", (s, d) =>
      graft.operators.Corpus.pmiBigrams(documents(s, d), k = 20, minCount = 20),
      // identical count assembly and single-ln rounding discipline
      """WITH tk AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS tk
        |  FROM documents),
        |tk2 AS (SELECT * FROM tk WHERE len(tk) >= 2),
        |uni AS (SELECT unnest(tk) AS w FROM tk),
        |unic AS (SELECT w, count(*) AS n_w FROM uni GROUP BY 1),
        |bic AS (
        |  SELECT tk[i] AS a, tk[i+1] AS b, count(*) AS n_ab
        |  FROM tk2, unnest(generate_series(1, len(tk) - 1)) AS t(i)
        |  GROUP BY 1, 2 HAVING count(*) >= 20),
        |tot AS (SELECT CAST(count(*) AS DOUBLE) AS n_uni FROM uni),
        |nbi AS (SELECT CAST(sum(len(tk) - 1) AS DOUBLE) AS n_bi FROM tk2)
        |SELECT bic.a, bic.b, CAST(bic.n_ab AS BIGINT) AS n_ab,
        |  round(ln((bic.n_ab * n_uni * n_uni) / (n_bi * ua.n_w * ub.n_w)), 4) AS pmi
        |FROM bic JOIN unic ua ON bic.a = ua.w JOIN unic ub ON bic.b = ub.w, tot, nbi
        |ORDER BY pmi DESC, a, b
        |LIMIT 20""".stripMargin),

    // -- [NS] reproducible stratified sampling: per-language rates, content-
    // keyed hash decisions. The sample itself is hash-seeded (rows-only
    // twin below would be weak), so the DECLARED result is the invariant:
    // per-lang achieved rate within tolerance of the target
    Query("q_sample_stratified", (s, d) => {
      val rates = Map("en" -> 0.5, "es" -> 0.2, "fr" -> 0.2, "de" -> 0.2, "zh" -> 0.2)
      val sampled = graft.operators.Sampling.stratified(
        documents(s, d), "lang", "doc_id", rates)
        .groupBy(col("lang")).agg(count(lit(1)).as("n_sampled"))
      val rateLit = rates.foldLeft(lit(0.0)) { case (acc, (k, v)) =>
        when(col("lang") === k, lit(v)).otherwise(acc)
      }
      documents(s, d).groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
        .join(sampled, Seq("lang"), "left")
        .select(col("lang"), col("n_docs"),
          (abs(coalesce(col("n_sampled"), lit(0L)) / col("n_docs") - rateLit) <= 0.15)
            .as("rate_ok"))
        .orderBy("lang")
    },
      "SELECT lang, count(*) AS n_docs, true AS rate_ok FROM documents GROUP BY 1 ORDER BY 1"),

    // -- [NS] corpus mixing (the "recipe" op): two sources at different
    // rates, declared via per-bucket achieved-rate invariants
    Query("q_sample_mix", (s, d) => {
      val docs = documents(s, d)
      val mixed = graft.operators.Sampling.mix(Seq(
        (docs.where(col("lang") === "en"), 0.6),
        (docs.where(col("lang") =!= "en"), 0.3)), "doc_id")
      val bucket = when(col("lang") === "en", "en").otherwise("other")
      val totals = docs.groupBy(bucket.as("bucket")).agg(count(lit(1)).as("n_docs"))
      val kept = mixed.groupBy(bucket.as("bucket")).agg(count(lit(1)).as("n_kept"))
      val rate = when(col("bucket") === "en", 0.6).otherwise(0.3)
      totals.join(kept, Seq("bucket"), "left")
        .select(col("bucket"), col("n_docs"),
          (abs(coalesce(col("n_kept"), lit(0L)) / col("n_docs") - rate) <= 0.15)
            .as("rate_ok"))
        .orderBy("bucket")
    },
      """SELECT CASE WHEN lang = 'en' THEN 'en' ELSE 'other' END AS bucket,
        |  count(*) AS n_docs, true AS rate_ok
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin),
  )
}
