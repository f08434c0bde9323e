"""Flagship corpus-curation composite: the end-to-end query a
training-data pipeline actually runs — exact dedup, fuzzy (MinHash)
dedup resolution, language gate, quality gates, token accounting — as ONE
declarative chain, oracle-checked end to end.

Pipeline (each stage reuses the already-verified operator):
1. exact dedup   — keep min(doc_id) per normalized-text fingerprint
2. fuzzy dedup   — drop non-keepers from dedup_minhash_resolve
3. language gate — labeled lang in (en, fr)
4. quality gates — text_len >= 200, space_ratio in [0.08, 0.35]
5. accounting    — BPE-ish token count per surviving doc

Everything JVM-side except what dedup_minhash_resolve already runs; the
only shuffles are the dedup keys and two broadcastable anti-joins (the
drop lists are tiny relative to the corpus — near-dup fractions are
single-digit percent in real crawls)."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from crawspark.operators.dedup import _DDB_TOK_CTES, dedup_minhash_resolve
from crawspark.operators.partitioning import ensure_parallelism
from crawspark.registry import register
from crawspark.sources import read_testdata

_TOKEN_RE = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"

MIN_LEN = 200
SPACE_LO, SPACE_HI = 0.08, 0.35
# v2 gates (r5): Gopher-style repetition ceiling — 0.15 sits just above
# the corpus p90 (~0.14), so the gate visibly fires on the repetitive
# tail (1-3 surviving docs per SF) and its firing side is on the driver
# hash path, not just its non-firing side. Duplicated-sentence ceiling:
# 0 on this corpus — live but unbinding, the honest state of a clean
# feed.
TOP_WORD_MAX = 0.15
DUP_SENT_MAX = 0.3


@register("curate_corpus", sql=f"""
    WITH RECURSIVE {_DDB_TOK_CTES}, sizes AS (
      SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
    ), overlap AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM sh a JOIN sh b USING (shingle)
      WHERE a.doc_id < b.doc_id GROUP BY doc_a, doc_b
    ), verified AS (
      SELECT doc_a, doc_b FROM overlap
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.8
    ), edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM verified
      UNION ALL SELECT doc_b, doc_a FROM verified
    ), reach(node, label) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node
    ), fuzzy_drop AS (
      SELECT node AS doc_id FROM reach GROUP BY node
      HAVING node <> min(label)
    ), exact_keep AS (
      SELECT doc_id FROM (
        SELECT doc_id, row_number() OVER (
          PARTITION BY md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))
          ORDER BY doc_id) AS rn
        FROM documents
      ) WHERE rn = 1
    )
    SELECT d.doc_id, d.lang,
           CAST(len(regexp_extract_all(d.text, '{_TOKEN_RE}')) AS BIGINT)
             AS n_tokens
    FROM documents d
    JOIN exact_keep USING (doc_id)
    ANTI JOIN fuzzy_drop USING (doc_id)
    WHERE d.lang IN ('en', 'fr')
      AND length(d.text) >= {MIN_LEN}
      AND CAST(length(d.text) - length(replace(d.text, ' ', '')) AS DOUBLE)
          / greatest(length(d.text), 1) BETWEEN {SPACE_LO} AND {SPACE_HI}
""")
def curate_corpus(spark, sf_dir):
    docs = ensure_parallelism(read_testdata(spark, sf_dir, "documents"))
    # 1. exact dedup on the normalized-text fingerprint (window keeper —
    #    same shape as window_dedup_first; shuffle key is a 32-byte md5).
    norm = F.lower(F.trim(F.regexp_replace("text", r"\s+", " ")))
    w = Window.partitionBy(F.md5(norm)).orderBy("doc_id")
    exact_kept = (docs.withColumn("rn", F.row_number().over(w))
                  .filter(F.col("rn") == 1).drop("rn"))
    # 2. fuzzy dedup: anti-join the resolve output's non-keepers (tiny —
    #    broadcast side is |dup clusters|, not the corpus).
    resolved = dedup_minhash_resolve(spark, sf_dir)
    fuzzy_drop = (resolved.filter(F.col("doc_id") != F.col("keep_id"))
                  .select("doc_id"))
    survivors = exact_kept.join(F.broadcast(fuzzy_drop), "doc_id",
                                "left_anti")
    # 3-5. gates + token accounting, all pushed-down JVM expressions.
    t = F.col("text")
    tl = F.greatest(F.length(t), F.lit(1))
    space_ratio = ((F.length(t)
                    - F.length(F.replace(t, F.lit(" "), F.lit(""))))
                   .cast("double") / tl)
    return (survivors
            .filter(F.col("lang").isin("en", "fr"))
            .filter(F.length(t) >= MIN_LEN)
            .filter(space_ratio.between(SPACE_LO, SPACE_HI))
            .select("doc_id", "lang",
                    F.size(F.regexp_extract_all("text", F.lit(_TOKEN_RE), 0))
                    .cast("long").alias("n_tokens")))


@register("curate_corpus_v2", sql=f"""
    WITH RECURSIVE {_DDB_TOK_CTES}, sizes AS (
      SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
    ), overlap AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM sh a JOIN sh b USING (shingle)
      WHERE a.doc_id < b.doc_id GROUP BY doc_a, doc_b
    ), verified AS (
      SELECT doc_a, doc_b FROM overlap
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.8
    ), edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM verified
      UNION ALL SELECT doc_b, doc_a FROM verified
    ), reach(node, label) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node
    ), fuzzy_drop AS (
      SELECT node AS doc_id FROM reach GROUP BY node
      HAVING node <> min(label)
    ), exact_keep AS (
      SELECT doc_id FROM (
        SELECT doc_id, row_number() OVER (
          PARTITION BY md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))
          ORDER BY doc_id) AS rn
        FROM documents
      ) WHERE rn = 1
    ), win AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               range(1, len(toks) - 10),
               i -> md5(array_to_string(list_slice(toks, i, i + 11), ' ')))))
               AS w
      FROM tok WHERE len(toks) >= 12
    ), substr_drop AS (
      -- exact-substring dedup: of every pair sharing a 12-token run,
      -- the higher doc_id drops
      SELECT DISTINCT b.doc_id
      FROM win a JOIN win b ON a.w = b.w AND a.doc_id < b.doc_id
    ), wstats AS (
      SELECT doc_id, max(c) / CAST(sum(c) AS DOUBLE) AS top_word_frac
      FROM (
        SELECT doc_id, word, count(*) AS c FROM (
          SELECT doc_id,
                 unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word
          FROM documents) GROUP BY doc_id, word
      ) GROUP BY doc_id
    ), sstats AS (
      SELECT doc_id,
             1 - count(DISTINCT s) / CAST(count(*) AS DOUBLE)
               AS dup_sentence_ratio
      FROM (
        SELECT doc_id, trim(s) AS s FROM (
          SELECT doc_id, unnest(string_split(text, '.')) AS s
          FROM documents) WHERE trim(s) <> ''
      ) GROUP BY doc_id
    )
    SELECT d.doc_id, d.lang,
           CAST(len(regexp_extract_all(d.text, '{_TOKEN_RE}')) AS BIGINT)
             AS n_tokens
    FROM documents d
    JOIN exact_keep USING (doc_id)
    ANTI JOIN fuzzy_drop USING (doc_id)
    ANTI JOIN substr_drop USING (doc_id)
    JOIN wstats USING (doc_id)
    LEFT JOIN sstats USING (doc_id)
    WHERE d.lang IN ('en', 'fr')
      AND length(d.text) >= {MIN_LEN}
      AND CAST(length(d.text) - length(replace(d.text, ' ', '')) AS DOUBLE)
          / greatest(length(d.text), 1) BETWEEN {SPACE_LO} AND {SPACE_HI}
      AND wstats.top_word_frac <= {TOP_WORD_MAX}
      AND coalesce(sstats.dup_sentence_ratio, 0) <= {DUP_SENT_MAX}
""")
def curate_corpus_v2(spark, sf_dir):
    # The r5 curation composite: v1's chain (exact dedup → fuzzy resolve
    # → lang gate → length/space gates → token accounting) extended with
    # the round's new signals — exact-substring dedup (drop the higher
    # doc_id of any pair sharing a 12-token run) and the Gopher-style
    # repetition gates. v1 stays registered unchanged so its
    # round-over-round numbers remain comparable. All drop lists stay
    # broadcast-small; the repetition stats are doc_id-keyed aggregates.
    from crawspark.operators.dedup import substr_windows
    from crawspark.operators.textops import quality_repetition_stats

    base = curate_corpus(spark, sf_dir).select("doc_id", "lang", "n_tokens")
    # Drop-list derivation WITHOUT the pair join (r6, guide §1.2 "don't
    # compute things you throw away"): v2 only needs "doc_b of SOME pair
    # sharing a window" == "doc having a window whose corpus-min doc_id
    # is smaller" — one window-min pass over the (shared) window table
    # instead of the full inverted-index self-join + pair aggregation
    # (measured: the pair join was 22.5s of v2's 39s at sf1.0).
    wins = substr_windows(read_testdata(spark, sf_dir, "documents"))
    mn = F.min("doc_id").over(Window.partitionBy("w"))
    substr_drop = (wins.withColumn("mn", mn)
                   .filter(F.col("doc_id") > F.col("mn"))
                   .select("doc_id").distinct())
    rep = quality_repetition_stats(spark, sf_dir).select(
        "doc_id", "top_word_frac", "dup_sentence_ratio")
    return (base.join(F.broadcast(substr_drop), "doc_id", "left_anti")
            .join(rep, "doc_id")
            .filter((F.col("top_word_frac") <= TOP_WORD_MAX)
                    & (F.col("dup_sentence_ratio") <= DUP_SENT_MAX))
            .select("doc_id", "lang", "n_tokens"))


# v3 gates: CCNet keeps head+middle perplexity buckets and drops pages
# dominated by cross-corpus boilerplate
BOILER_KEEP_MIN = 0.7


def _curate_v3_sql(sf_dir: str) -> str:
    # Composed lazily from the REGISTERED oracles of the component
    # queries (one definition per signal — the span-canon lesson), so
    # the flagship's oracle can never drift from its parts'.
    from crawspark.operators.lmquality import _PPL_BUCKETS_SQL
    from crawspark.registry import REGISTRY

    v2 = REGISTRY["curate_corpus_v2"].render_sql(sf_dir)
    boiler = REGISTRY["boilerplate_corpus_lines"].render_sql(sf_dir)
    dsir = REGISTRY["dsir_importance_weights"].render_sql(sf_dir)
    return f"""
    SELECT v2.doc_id, v2.lang, v2.n_tokens,
           p.avg_neg_logp, p.bucket,
           w.log_weight
    FROM ({v2}) v2
    JOIN ({_PPL_BUCKETS_SQL}) p USING (doc_id)
    JOIN ({boiler}) b USING (doc_id)
    JOIN ({dsir}) w USING (doc_id)
    WHERE p.bucket <> 'tail' AND b.kept_ratio >= {BOILER_KEEP_MIN}
    """


@register("curate_corpus_v3", sql=_curate_v3_sql)
def curate_corpus_v3(spark, sf_dir):
    # The full training-data pipeline composed end to end: v2's chain
    # (exact + fuzzy + substring dedup, lang/length/space gates, Gopher
    # repetition gates) then this round's model-based stage — CCNet's
    # keep-head-and-middle perplexity rule, the cross-corpus
    # boilerplate gate, and the DSIR weight carried through as the
    # downstream sampling signal. Perplexity terciles are computed over
    # the FULL corpus (CCNet buckets before any filtering), then joined
    # to the survivors. Every model table is broadcast-small; the
    # per-doc signal joins are doc_id-keyed.
    from crawspark.operators.lmquality import (
        boilerplate_corpus_lines,
        dsir_importance_weights,
        ppl_buckets,
    )

    base = curate_corpus_v2(spark, sf_dir)
    buckets = ppl_buckets(spark, sf_dir).select(
        "doc_id", "avg_neg_logp", "bucket")
    boiler = boilerplate_corpus_lines(spark, sf_dir).select(
        "doc_id", "kept_ratio")
    dsir = dsir_importance_weights(spark, sf_dir).select(
        "doc_id", "log_weight")
    return (base
            .join(buckets, "doc_id")
            .join(boiler, "doc_id")
            .join(dsir, "doc_id")
            .filter((F.col("bucket") != "tail")
                    & (F.col("kept_ratio") >= BOILER_KEEP_MIN))
            .select("doc_id", "lang", "n_tokens", "avg_neg_logp",
                    "bucket", "log_weight"))


def _curate_v4_sql(sf_dir: str) -> str:
    # v3 + the trained-classifier gate, composed from the REGISTERED
    # oracles (the same no-drift rule as v3): per language, rank
    # survivors by the logistic-regression trust score and drop the
    # bottom tercile. ntile over the (rounded) score then doc_id is
    # exactly deterministic in both engines.
    from crawspark.registry import REGISTRY

    v3 = REGISTRY["curate_corpus_v3"].render_sql(sf_dir)
    clf = REGISTRY["quality_classifier_score"].render_sql(sf_dir)
    return f"""
    SELECT doc_id, lang, n_tokens, log_weight, clf_score
    FROM (
      SELECT v3.doc_id, v3.lang, v3.n_tokens, v3.log_weight,
             c.score AS clf_score,
             ntile(3) OVER (PARTITION BY v3.lang
                            ORDER BY c.score DESC, v3.doc_id) AS ct
      FROM ({v3}) v3
      JOIN ({clf}) c USING (doc_id))
    WHERE ct <= 2
    """


@register("curate_corpus_v4", sql=_curate_v4_sql)
def curate_corpus_v4(spark, sf_dir):
    # The trained model actually gating the corpus: v3's survivors
    # (dedup chain + Gopher gates + CCNet perplexity + boilerplate +
    # DSIR weights) ranked per language by the logistic-regression
    # trust score; the least-trusted third is dropped — the GPT-3
    # Appendix A shape with the classifier trained IN the pipeline.
    # The ntile window partitions by lang (never global); the score
    # join is doc_id-keyed.
    from crawspark.operators.lmquality import quality_classifier_score
    from pyspark.sql.window import Window

    base = curate_corpus_v3(spark, sf_dir).select(
        "doc_id", "lang", "n_tokens", "log_weight")
    clf = quality_classifier_score(spark, sf_dir).select(
        "doc_id", F.col("score").alias("clf_score"))
    w = Window.partitionBy("lang").orderBy(F.desc("clf_score"), "doc_id")
    return (base.join(clf, "doc_id")
            .withColumn("ct", F.ntile(3).over(w))
            .filter(F.col("ct") <= 2)
            .select("doc_id", "lang", "n_tokens", "log_weight",
                    "clf_score"))


def _funnel_sql(sf_dir: str) -> str:
    # Composed from the REGISTERED gate oracles (the curate_v3/v4
    # no-drift rule): each gate's SQL is inlined verbatim, so this
    # report can never disagree with the gates it summarizes.
    from crawspark.registry import REGISTRY

    c4 = REGISTRY["quality_c4_gates"].render_sql(sf_dir)
    gopher = REGISTRY["quality_gopher_gates"].render_sql(sf_dir)
    block = REGISTRY["quality_blocklist_gate"].render_sql(sf_dir)
    return f"""
    -- keep columns are INT (c4/gopher) or BOOLEAN (blocklist): cast
    -- everything to INT so both engines aggregate identically
    SELECT d.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CAST(c.keep AS INT)) AS BIGINT) AS n_pass_c4,
           CAST(sum(CAST(g.keep AS INT)) AS BIGINT) AS n_pass_gopher,
           CAST(sum(CAST(b.keep AS INT)) AS BIGINT) AS n_pass_blocklist,
           CAST(sum(CAST(c.keep AS INT) * CAST(g.keep AS INT)
                    * CAST(b.keep AS INT)) AS BIGINT) AS n_pass_all
    FROM documents d
    JOIN ({c4}) c ON c.doc_id = d.doc_id
    JOIN ({gopher}) g ON g.doc_id = d.doc_id
    JOIN ({block}) b ON b.doc_id = d.doc_id
    GROUP BY d.source
    """


@register("quality_gate_funnel", sql=_funnel_sql)
def quality_gate_funnel(spark, sf_dir):
    """Pipeline-observability funnel: per source, how many docs survive
    each heuristic gate (C4 line rules, Gopher document stats, the
    blocklist-fraction gate) and their intersection — the dashboard row
    a curation operator watches per crawl. Composed from the SAME
    registered gate queries (no reimplementation, no drift). 100 TB:
    three doc_id-keyed joins of map-side gate outputs, one small
    per-source agg."""
    from crawspark.operators.textops import (
        quality_blocklist_gate,
        quality_c4_gates,
        quality_gopher_gates,
    )

    docs = read_testdata(spark, sf_dir, "documents").select(
        "doc_id", "source")
    c4 = quality_c4_gates(spark, sf_dir).select(
        "doc_id", F.col("keep").alias("k_c4"))
    gopher = quality_gopher_gates(spark, sf_dir).select(
        "doc_id", F.col("keep").alias("k_go"))
    block = quality_blocklist_gate(spark, sf_dir).select(
        "doc_id", F.col("keep").alias("k_bl"))
    joined = (docs.join(c4, "doc_id").join(gopher, "doc_id")
              .join(block, "doc_id"))
    return (joined.groupBy("source")
            .agg(F.count("*").alias("n_docs"),
                 F.sum(F.col("k_c4").cast("int")).alias("n_pass_c4"),
                 F.sum(F.col("k_go").cast("int")).alias("n_pass_gopher"),
                 F.sum(F.col("k_bl").cast("int"))
                 .alias("n_pass_blocklist"),
                 F.sum(F.col("k_c4").cast("int")
                       * F.col("k_go").cast("int")
                       * F.col("k_bl").cast("int")).alias("n_pass_all")))
