"""Oracle-checked text-analysis queries over ``documents``
(primitives in functions/text.py)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from c_tran_data_pipeline_spark.functions.text import (
    LANG_PROFILES,
    bpe_ish_token_count,
    lang_id,
    mean_word_len,
    punct_ratio,
    quality_score,
    rolling_hash,
    stopword_ratio,
    token_count,
    words,
)
from c_tran_data_pipeline_spark.plans.registry import query
from c_tran_data_pipeline_spark.session import build_artifact, cached_artifact, read_json
from c_tran_data_pipeline_spark.sources.readers import load_table, spread


@query(
    "q_text_tokens",
    r"""
    SELECT doc_id,
           len(string_split_regex(trim(text), '\s+')) AS n_tokens,
           len(regexp_extract_all(text, '\w+|[^\w\s]')) AS n_bpe_ish,
           length(text) AS n_chars
    FROM documents
    """,
    doc="Token counting: whitespace tokens + BPE-ish word/punct chunks. "
    "Per-row, shuffle-free, codegen'd regexp.",
    tags=("text",),
)
def q_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        token_count("text").alias("n_tokens"),
        bpe_ish_token_count("text").alias("n_bpe_ish"),
        F.length("text").alias("n_chars"),
    )


@query(
    "q_length_histogram",
    r"""
    WITH n AS (
        SELECT len(string_split_regex(trim(text), '\s+')) AS n_tokens
        FROM documents
    )
    SELECT CAST(least(floor(n_tokens / 32), 15) AS BIGINT) AS bucket,
           CAST(least(floor(n_tokens / 32), 15) AS BIGINT) * 32 AS bucket_lo,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
    FROM n
    GROUP BY 1, 2
    """,
    doc="Token-length histogram (32-token buckets, top bucket open-ended "
    "at 480+): the corpus diagnostic behind chunk/pack sizing — bucket "
    "width vs chunk budget decides padding waste. Engine-portable "
    "explicit bucket arithmetic (no width_bucket dialect drift); "
    "partial-agg to 16 rows before one exchange.",
    tags=("text", "histogram"),
)
def q_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    bucket = F.least(F.floor(token_count("text") / 32), F.lit(15)).cast("long")
    return (
        d.select(bucket.alias("bucket"), token_count("text").alias("__n"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__n").cast("long").alias("total_tokens"),
        )
        .select(
            "bucket",
            (F.col("bucket") * 32).alias("bucket_lo"),
            "n_docs",
            "total_tokens",
        )
    )


def _score_sql(lang: str) -> str:
    pattern = r"\b(" + "|".join(LANG_PROFILES[lang]) + r")\b"
    return f"len(regexp_extract_all(lower(text), '{pattern}'))"


# CASE tests langs in sorted order against greatest(...) — the first lang
# at the max score wins, matching lang_id's (score desc, lang asc) fold.
_LANGS = sorted(LANG_PROFILES)


def langid_case_sql() -> str:
    """Self-contained DuckDB expression for lang_id(text) — shared with
    the curation oracles (plans/curation_queries.py)."""
    g = ", ".join(_score_sql(lang) for lang in _LANGS)
    return (
        f"CASE WHEN greatest({g}) = 0 THEN 'und' "
        + " ".join(f"WHEN {_score_sql(lang)} = greatest({g}) THEN '{lang}'" for lang in _LANGS)
        + " END"
    )


_PUNCT_SQL = "ROUND(len(regexp_extract_all(text, '[.,!?;:]')) * 1.0 / greatest(length(text), 1), 6)"
_STOP_SQL = (
    r"ROUND(len(regexp_extract_all(lower(text), '\b(the|a|and|of|to|in|is|that|for|with)\b')) * 1.0"
    r" / greatest(len(string_split_regex(trim(text), '\s+')), 1), 6)"
)
_MWL_SQL = (
    r"ROUND(length(regexp_replace(text, '\s+', '', 'g')) * 1.0"
    r" / greatest(len(string_split_regex(trim(text), '\s+')), 1), 6)"
)


def quality_sql() -> str:
    """DuckDB twin of functions.text.quality_score — shared with the
    curation oracles."""
    return (
        f"ROUND(least(1.0, {_STOP_SQL} * 2) - {_PUNCT_SQL}"
        f" + CASE WHEN {_MWL_SQL} BETWEEN 3 AND 10 THEN 0.5 ELSE 0.0 END, 6)"
    )


@query(
    "q_text_langid",
    f"""
    WITH scored AS (
        SELECT doc_id, lang AS true_lang,
               {", ".join(f"{_score_sql(lang)} AS s_{lang}" for lang in _LANGS)}
        FROM documents
    )
    SELECT doc_id, true_lang,
           CASE WHEN greatest({", ".join("s_" + lang for lang in _LANGS)}) = 0 THEN 'und'
                {" ".join(f"WHEN s_{lang} = greatest({', '.join('s_' + l for l in _LANGS)}) THEN '{lang}'" for lang in _LANGS)}
           END AS pred_lang
    FROM scored
    """,
    doc="Language ID via stopword-profile argmax (score desc, lang asc "
    "tie-break); 'und' when no profile hits.",
    tags=("text",),
)
def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id", F.col("lang").alias("true_lang"), lang_id("text").alias("pred_lang")
    )


@query(
    "q_text_quality",
    f"""
    SELECT doc_id,
           {_PUNCT_SQL} AS punct_ratio,
           {_STOP_SQL} AS stopword_ratio,
           {_MWL_SQL} AS mean_word_len,
           {quality_sql()} AS quality
    FROM documents
    """,
    doc="Quality scoring: punctuation/stopword/word-length signals + "
    "composite score (C4/Gopher-style cheap filters).",
    tags=("text",),
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        punct_ratio("text").alias("punct_ratio"),
        stopword_ratio("text").alias("stopword_ratio"),
        mean_word_len("text").alias("mean_word_len"),
        quality_score("text").alias("quality"),
    )


@query(
    "q_text_fingerprint",
    """
    SELECT doc_id,
           list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                            list_transform(string_split(text, ''),
                                           c -> CAST(ord(c) AS BIGINT))),
               (acc, x) -> (acc * 31 + x) % 1000000007) AS fingerprint
    FROM documents
    """,
    doc="Polynomial rolling-hash document fingerprint (order-sensitive, "
    "mod 1e9+7) — exact integer math, bit-equal across engines.",
    tags=("text",),
)
def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", rolling_hash("text").alias("fingerprint"))


@query(
    "q_text_repetition",
    r"""
    WITH w AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS words FROM documents),
    base AS (
        SELECT doc_id, len(words) AS n_tokens,
               ROUND((len(words) - len(list_distinct(words))) * 1.0
                     / greatest(len(words), 1), 6) AS dup_token_frac
        FROM w
    ),
    bg AS (
        SELECT doc_id, unnest(list_transform(generate_series(1, len(words)-1),
                                             i -> array_to_string(words[i:i+1], ' '))) AS b
        FROM w
    ),
    c AS (SELECT doc_id, b, COUNT(*) AS c FROM bg GROUP BY 1, 2),
    top AS (
        SELECT doc_id, MAX(c) AS top_bigram_count, CAST(SUM(c) AS BIGINT) AS n_bigrams
        FROM c GROUP BY 1
    )
    SELECT base.doc_id, n_tokens, dup_token_frac, top_bigram_count,
           ROUND(top_bigram_count * 1.0 / n_bigrams, 6) AS top_bigram_frac
    FROM base LEFT JOIN top USING (doc_id)
    """,
    doc="Gopher-style repetition signals: duplicate-token fraction "
    "(shuffle-free array expr) + most-frequent-bigram fraction (explode "
    "→ partial-agg count → per-doc max; two keyed shuffles, text never "
    "moves — only (doc_id, bigram) pairs).",
    tags=("text", "quality"),
)
def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from c_tran_data_pipeline_spark.functions.text import bigrams, dup_token_fraction

    d = load_table(spark, sf_dir, "documents")
    base = d.select(
        "doc_id",
        token_count("text").alias("n_tokens"),
        dup_token_fraction("text").alias("dup_token_frac"),
    )
    counts = (
        d.select("doc_id", F.explode(bigrams("text")).alias("b"))
        .groupBy("doc_id", "b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    top = counts.groupBy("doc_id").agg(
        F.max("c").alias("top_bigram_count"), F.sum("c").alias("n_bigrams")
    )
    return base.join(top, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        "dup_token_frac",
        "top_bigram_count",
        F.round(F.col("top_bigram_count") / F.col("n_bigrams"), 6).alias("top_bigram_frac"),
    )


_PII_EMAIL_SQL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PII_PHONE_SQL = "\\b\\d{3}-\\d{3}-\\d{4}\\b"


@query(
    "q_pii_scrub",
    f"""
    WITH synth AS (
        SELECT doc_id,
               CASE WHEN doc_id % 7 = 0
                    THEN text || ' contact user' || doc_id ||
                         '@example.com or call ' ||
                         lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') ||
                         '-555-0199 now'
                    ELSE text END AS text2
        FROM documents
    )
    SELECT doc_id,
           len(regexp_extract_all(text2, '{_PII_EMAIL_SQL}')) AS n_emails,
           len(regexp_extract_all(text2, '{_PII_PHONE_SQL}')) AS n_phones,
           md5(regexp_replace(regexp_replace(text2, '{_PII_EMAIL_SQL}', '[EMAIL]', 'g'),
                              '{_PII_PHONE_SQL}', '[PHONE]', 'g')) AS scrubbed_hash
    FROM synth
    """,
    doc="PII scrub round-trip: deterministic synthetic emails/phones are "
    "planted on every 7th doc (the fixture has none), then redacted with "
    "chained JVM regexp_replace and counted. Patterns live in the "
    "Java-regex ∩ RE2 subset so the oracle redacts bit-identically; "
    "output carries md5(scrubbed) so the compared rows stay narrow.",
    tags=("text", "quality"),
)
def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    from c_tran_data_pipeline_spark.functions.text import PII_EMAIL, PII_PHONE, pii_scrub

    d = load_table(spark, sf_dir, "documents")
    synth = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com or call "),
                F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
                F.lit("-555-0199 now"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text2"),
    )
    return synth.select(
        "doc_id",
        F.regexp_count("text2", F.lit(PII_EMAIL)).alias("n_emails"),
        F.regexp_count("text2", F.lit(PII_PHONE)).alias("n_phones"),
        F.md5(pii_scrub("text2")).alias("scrubbed_hash"),
    )


@query(
    "q_decontaminate",
    r"""
    WITH w AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS words FROM documents),
    sh AS (
        SELECT doc_id, unnest(list_distinct(
            list_transform(generate_series(1, len(words)-4),
                           i -> array_to_string(words[i:i+4], ' ')))) AS shingle
        FROM w
    ),
    ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < 20),
    tr AS (SELECT doc_id, shingle FROM sh WHERE doc_id >= 20)
    SELECT tr.doc_id, COUNT(*) AS n_shared
    FROM tr JOIN ev USING (shingle)
    GROUP BY 1
    """,
    doc="Benchmark decontamination (operators/curation.py:decontaminate): "
    "train docs (id ≥ 20) sharing any word-5-gram with the eval set "
    "(id < 20), with the shared-shingle count. Eval shingles broadcast "
    "(benchmarks are small); one corpus scan, no corpus self-join.",
    tags=("curation", "text"),
)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from c_tran_data_pipeline_spark.operators.curation import decontaminate

    d = load_table(spark, sf_dir, "documents")
    return decontaminate(
        d.filter(F.col("doc_id") >= 20), d.filter(F.col("doc_id") < 20), n=5
    )


@query(
    "q_lm_score",
    r"""
    WITH toks AS (
        SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents
    ),
    bg AS (
        SELECT doc_id, u.b AS b, u.w1 AS w1
        FROM (SELECT doc_id, unnest(list_transform(generate_series(1, len(w)-1),
                     i -> {'b': w[i] || ' ' || w[i+1], 'w1': w[i]})) AS u
              FROM toks)
    ),
    c2 AS (SELECT b, COUNT(*) AS n2 FROM bg GROUP BY 1),
    c1 AS (SELECT w1, COUNT(*) AS n1 FROM bg GROUP BY 1),
    v AS (SELECT COUNT(DISTINCT tok) AS vocab
          FROM (SELECT unnest(w) AS tok FROM toks)),
    scored AS (
        SELECT doc_id,
               CAST(round(ln((n2 + 1.0) / (n1 + vocab)), 9) AS DECIMAL(18, 9)) AS lp
        FROM bg JOIN c2 USING (b) JOIN c1 USING (w1), v
    )
    SELECT doc_id, COUNT(*) AS n_bigrams,
           ROUND(CAST(SUM(lp) AS DOUBLE) / COUNT(*), 6) AS avg_logp
    FROM scored GROUP BY 1
    """,
    doc="Bigram-LM fluency scoring (the KenLM-style perplexity filter "
    "every web-corpus pipeline runs, self-trained here): corpus bigram/"
    "prefix counts with add-one smoothing give P(w2|w1) = (c2+1)/(c1+V); "
    "each doc scores mean ln P over its bigram occurrences — low scores "
    "flag disfluent/boilerplate text. Counts aggregate on bigram/prefix "
    "keys (partial-agg shuffles, text never moves); V re-enters as a "
    "broadcast scalar; the count tables join back by key (planner "
    "broadcasts them when small). Per-bigram log-probs round to 9 dp and "
    "sum as exact DECIMAL, so the doc mean is associativity-proof and "
    "bit-stable across engines and partitionings.",
    tags=("text", "quality", "lm"),
)
def q_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from c_tran_data_pipeline_spark.functions.text import words

    d = spread(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    w = words("text")
    base = d.select("doc_id", w.alias("w"))
    wc = F.col("w")
    bg = base.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.greatest(F.array_size(wc) - 2, F.lit(-1))),
                lambda i: F.struct(
                    F.concat_ws(" ", F.slice(wc, i + 1, 2)).alias("b"),
                    F.element_at(wc, i + 1).alias("w1"),
                ),
            )
        ).alias("u"),
    ).select("doc_id", "u.b", "u.w1")
    c2 = bg.groupBy("b").agg(F.count(F.lit(1)).alias("n2"))
    c1 = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("n1"))
    vocab = base.select(F.explode("w").alias("tok")).agg(
        F.countDistinct("tok").alias("vocab")
    )
    lp = F.round(
        F.log((F.col("n2") + F.lit(1.0)) / (F.col("n1") + F.col("vocab"))), 9
    ).cast("decimal(18,9)")
    scored = (
        bg.join(c2, on="b")
        .join(c1, on="w1")
        .crossJoin(F.broadcast(vocab))
        .select("doc_id", lp.alias("lp"))
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.sum("lp").cast("double") / F.count(F.lit(1)), 6).alias("avg_logp"),
    )


@query(
    "q_quality_deciles",
    f"""
    WITH q AS (
        SELECT doc_id, lang, {quality_sql()} AS quality FROM documents
    ),
    d AS (
        SELECT doc_id, lang, quality,
               NTILE(10) OVER (ORDER BY quality DESC, doc_id ASC) AS decile
        FROM q
    )
    SELECT decile, COUNT(*) AS n_docs,
           ROUND(MIN(quality), 6) AS min_q,
           ROUND(MAX(quality), 6) AS max_q,
           COUNT(DISTINCT lang) AS n_langs
    FROM d GROUP BY 1
    """,
    doc="Quality-decile profile: NTILE(10) over the composite quality "
    "score (total order via doc_id tie-break, so bucket boundaries are "
    "deterministic cross-engine) + per-decile stats — the 'how much of "
    "the corpus survives a decile cut' planning query behind every "
    "quality-threshold decision. The NTILE is exact at scale: "
    "operators/rank.py's global_ntile derives ANSI buckets "
    "arithmetically from a range-partitioned global row number whose "
    "per-bucket offsets come from one collected counts pass as an "
    "array literal — no single-partition sort, no offset join. "
    "q_approx_percentiles remains the "
    "one-pass-cheaper approximate twin for threshold planning.",
    tags=("text", "quality", "window"),
)
def q_quality_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from c_tran_data_pipeline_spark.operators.rank import global_ntile

    d = load_table(spark, sf_dir, "documents")
    q = d.select("doc_id", "lang", quality_score("text").alias("quality"))
    # Exact ANSI NTILE via the range-partitioned global rank
    # (operators/rank.py) — identical buckets, no single-partition sort.
    deciles = global_ntile(
        q, 10, [F.col("quality").desc(), F.col("doc_id").asc()], bucket_col="decile"
    )
    return deciles.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.min("quality"), 6).alias("min_q"),
        F.round(F.max("quality"), 6).alias("max_q"),
        F.countDistinct("lang").alias("n_langs"),
    )


@query(
    "q_source_mix_report",
    r"""
    WITH per AS (
        SELECT source, lang, COUNT(*) AS n_docs,
               CAST(SUM(len(string_split_regex(trim(text), '\s+'))) AS BIGINT)
                   AS total_tokens
        FROM documents GROUP BY source, lang
    ), tot AS (SELECT CAST(SUM(total_tokens) AS DOUBLE) AS t FROM per)
    SELECT source, lang, n_docs, total_tokens,
           ROUND(total_tokens / t, 6) AS token_share
    FROM per, tot
    """,
    doc="Training-mix report: docs + tokens per (source, lang) cell with "
    "each cell's share of the total token budget — the table a data-"
    "recipe decision starts from. Spark plan: one partial-first agg "
    "over the corpus; the grand total is a 1-row agg of the (tiny) "
    "cell table cross-joined back as a broadcast scalar — no second "
    "pass over the corpus and no single-partition window.",
    tags=("text", "curation", "report"),
)
def q_source_mix_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    per = d.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count("text")).alias("total_tokens"),
    )
    tot = per.agg(F.sum("total_tokens").cast("double").alias("__t"))
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "lang",
            "n_docs",
            "total_tokens",
            F.round(F.col("total_tokens") / F.col("__t"), 6).alias("token_share"),
        )
    )


@query(
    "q_prefix_dedup",
    """
    SELECT md5(substr(text, 1, 256)) AS prefix_key,
           MIN(doc_id) AS keep_doc_id,
           COUNT(*) AS n_docs
    FROM documents
    GROUP BY 1
    """,
    doc="Prefix-hash dedup: documents keyed by the md5 of their first 256 "
    "chars, min-doc_id representative per group — catches the 'same "
    "article, different appended boilerplate' family that full-text "
    "exact dedup (q_dedup_exact) misses. Same scale shape as exact "
    "dedup: the shuffle carries 16-byte digests + ids, never text; "
    "the substr is evaluated in the scan projection so only the "
    "prefix bytes reach the hash.",
    tags=("text", "dedup"),
)
def q_prefix_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.md5(F.substring("text", 1, 256)).alias("prefix_key"), "doc_id")
        .groupBy("prefix_key")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_docs"))
    )


@query(
    "q_token_budget_cap",
    r"""
    WITH t AS (
        SELECT doc_id, source,
               len(string_split_regex(trim(text), '\s+')) AS n_tokens
        FROM documents
    ), c AS (
        SELECT doc_id, source, n_tokens,
               CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id)
                    AS BIGINT) AS cum_tokens
        FROM t
    )
    SELECT doc_id, source, n_tokens, cum_tokens
    FROM c WHERE cum_tokens <= 700
    """,
    doc="Per-source TOKEN budget cap (the token-denominated sibling of "
    "q_domain_cap's row cap): docs admitted in ingest order until the "
    "source's cumulative token count crosses the budget. One hash "
    "exchange on source + an in-partition running sum; doc_id is "
    "unique so RANGE/ROWS frame semantics coincide across engines. "
    "At scale the window partitions are per-source — skewed mega-"
    "sources are exactly the ones the cap truncates, so the skew is "
    "bounded by the budget itself.",
    tags=("text", "curation", "window"),
)
def q_token_budget_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", "source", token_count("text").alias("n_tokens"))
    w = Window.partitionBy("source").orderBy("doc_id")
    return (
        t.withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .filter(F.col("cum_tokens") <= 700)
        .select("doc_id", "source", "n_tokens", "cum_tokens")
    )


@query(
    "q_quality_topp",
    rf"""
    WITH t AS (
        SELECT doc_id, source, {{Q}} AS quality,
               len(string_split_regex(trim(text), '\s+')) AS n_tokens
        FROM documents
    ), c AS (
        SELECT doc_id, source, quality, n_tokens,
               CAST(SUM(n_tokens) OVER (PARTITION BY source
                    ORDER BY quality DESC, doc_id) AS BIGINT) AS cum,
               CAST(SUM(n_tokens) OVER (PARTITION BY source) AS BIGINT) AS tot
        FROM t
    )
    SELECT doc_id, source, quality, n_tokens
    FROM c WHERE cum - n_tokens < 0.5 * tot
    """.replace("{Q}", quality_sql()),
    doc="Top-p quality curation: per source, keep the highest-quality "
    "docs forming the smallest prefix that covers p=0.5 of the "
    "source's token mass — the fraction-denominated, quality-ranked "
    "sibling of q_token_budget_cap's absolute budget (how C4-style "
    "recipes say 'keep the best half of every domain'). One hash "
    "exchange on source feeds both windows (ordered prefix sum + "
    "partition total — same partitioning, Catalyst reuses the "
    "exchange); (quality DESC, doc_id) is a total order so the "
    "prefix is deterministic cross-engine.",
    tags=("text", "curation", "window"),
)
def q_quality_topp(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        "source",
        quality_score("text").alias("quality"),
        token_count("text").alias("n_tokens"),
    )
    w_ord = (
        Window.partitionBy("source")
        .orderBy(F.col("quality").desc(), F.col("doc_id"))
    )
    w_all = Window.partitionBy("source")
    return (
        t.withColumn("cum", F.sum("n_tokens").over(w_ord))
        .withColumn("tot", F.sum("n_tokens").over(w_all))
        .filter((F.col("cum") - F.col("n_tokens")) < 0.5 * F.col("tot"))
        .select("doc_id", "source", "quality", "n_tokens")
    )


@query(
    "q_text_normalize",
    """
    WITH n AS (
        SELECT doc_id,
               trim(regexp_replace(regexp_replace(lower(text),
                    '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS norm
        FROM documents
    )
    SELECT doc_id, md5(norm) AS norm_hash, length(norm) AS norm_chars
    FROM n
    """,
    doc="Canonical text normalization (the pre-dedup step every corpus "
    "pipeline runs before hashing): lowercase, strip everything outside "
    "[a-z0-9 ], collapse whitespace runs, trim — so trivially-variant "
    "mirrors ('Foo,  bar!' vs 'foo bar') collapse to one fingerprint. "
    "Pure per-row regexp projection: shuffle-free, codegen'd JVM "
    "regexp, O(bytes scanned) at any scale; rows leave as md5 + length "
    "so normalized text never moves. The exact-SQL oracle pins the "
    "regex dialect agreement (Spark regexp_replace is global by "
    "default; DuckDB needs the 'g' flag).",
    tags=("text", "curation"),
)
def q_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""), " +", " "
        )
    )
    return d.select(
        "doc_id",
        F.md5(F.encode(norm, "utf-8")).alias("norm_hash"),
        F.length(norm).alias("norm_chars"),
    )


@query(
    "q_char_entropy",
    """
    WITH chars AS (
        SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents
    ),
    freq AS (SELECT doc_id, ch, COUNT(*) AS c FROM chars GROUP BY 1, 2),
    tot AS (SELECT doc_id, CAST(SUM(c) AS DOUBLE) AS n FROM freq GROUP BY 1)
    SELECT f.doc_id,
           CAST(SUM(CAST(ROUND(-(c/n) * ln(c/n), 9) AS DECIMAL(18, 9))) AS DOUBLE)
               AS char_entropy,
           COUNT(*) AS n_distinct_chars
    FROM freq f JOIN tot t ON f.doc_id = t.doc_id
    GROUP BY f.doc_id
    """,
    doc="Character-entropy quality signal (the Gopher-rules companion to "
    "q_text_quality): Shannon entropy of each doc's character "
    "distribution — near-zero entropy flags repeated-character / "
    "template junk that length- and punctuation-ratio filters miss. "
    "explode to (doc, char) pairs, two partial-first aggs sharing the "
    "doc_id partitioning, then a per-char -p·ln(p) fold: each term is a "
    "deterministic per-row IEEE op ROUNDed to 9 dp and summed as exact "
    "DECIMAL, so the entropy is associativity-proof (the repo's float "
    "policy). The (doc, char) fan-out is bounded by alphabet size per "
    "doc, not text length, after the first partial agg. Spark drops "
    "Java's trailing-empty split artifact to match DuckDB's split.",
    tags=("text", "quality"),
)
def q_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    chars = d.select(
        "doc_id", F.explode(F.split(F.col("text"), "")).alias("ch")
    ).filter(F.col("ch") != "")
    freq = chars.groupBy("doc_id", "ch").agg(F.count(F.lit(1)).alias("c"))
    tot = freq.groupBy("doc_id").agg(F.sum("c").cast("double").alias("n"))
    p = F.col("c") / F.col("n")
    term = F.round(-p * F.log(p), 9).cast("decimal(18,9)")
    return (
        freq.join(tot, "doc_id")
        .groupBy("doc_id")
        .agg(
            F.sum(term).cast("double").alias("char_entropy"),
            F.count(F.lit(1)).alias("n_distinct_chars"),
        )
    )


@query(
    "q_stop_tokens",
    r"""
    WITH tok AS (
        SELECT doc_id, unnest(list_distinct(
                   string_split_regex(trim(lower(text)), '\s+'))) AS token
        FROM documents
    ),
    df AS (SELECT token, COUNT(*) AS doc_freq FROM tok GROUP BY 1),
    n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT token, doc_freq,
           ROUND(doc_freq * 1.0 / n_docs, 6) AS df_frac
    FROM df, n
    WHERE doc_freq * 1.0 / n_docs > 0.25
    """,
    doc="Data-driven stop-token discovery: tokens whose DOCUMENT "
    "frequency exceeds 25% of the corpus — the empirical version of "
    "the fixed df cap guarding the hybrid-search / n-gram inverted-"
    "index joins (at corpus scale you derive the skew guard from the "
    "data, not a constant; this output IS that guard's input). "
    "Distinct-token explode → partial-first df agg on the token key — "
    "the shuffle carries (token, count), never text; the corpus size "
    "re-enters as a 1-row broadcast scalar. The relative threshold "
    "survives 100x growth where an absolute count cutoff silently "
    "stops firing.",
    tags=("text", "curation", "skew"),
)
def q_stop_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.explode(
            F.array_distinct(F.split(F.trim(F.lower(F.col("text"))), r"\s+"))
        ).alias("token"),
    )
    df_ = tok.groupBy("token").agg(F.count(F.lit(1)).alias("doc_freq"))
    n = d.agg(F.count(F.lit(1)).alias("__n"))
    return (
        df_.crossJoin(F.broadcast(n))
        .filter(F.col("doc_freq") * 1.0 / F.col("__n") > 0.25)
        .select(
            "token",
            "doc_freq",
            F.round(F.col("doc_freq") * 1.0 / F.col("__n"), 6).alias("df_frac"),
        )
    )


@query(
    "q_langid_confusion",
    f"""
    SELECT lang AS true_lang, {langid_case_sql()} AS pred_lang,
           COUNT(*) AS n_docs
    FROM documents
    GROUP BY 1, 2
    """,
    doc="Language-ID confusion matrix: declared metadata lang × "
    "predicted lang_id with counts — the audit that decides whether "
    "to trust crawl metadata or the classifier before a lang filter "
    "drops terabytes. Pure scan + one partial-first agg on a "
    "|langs|² key space; the heavy lang_id expression evaluates once "
    "per row inside the same codegen stage as the grouping.",
    tags=("text", "quality", "report"),
)
def q_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.col("lang").alias("true_lang"), lang_id("text").alias("pred_lang"))
        .groupBy("true_lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@query(
    "q_bigram_pmi",
    r"""
    WITH w AS (
        SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS words
        FROM documents
    ),
    bi AS (
        SELECT u.a AS w1, u.b AS w2
        FROM (SELECT unnest(list_transform(generate_series(1, len(words) - 1),
                     i -> {'a': words[i], 'b': words[i+1]})) AS u FROM w)
    ),
    uni AS (SELECT unnest(words) AS w FROM w),
    ub AS (SELECT w, COUNT(*) AS n FROM uni GROUP BY 1),
    bb AS (SELECT w1, w2, COUNT(*) AS n_ab FROM bi GROUP BY 1, 2),
    tot AS (SELECT (SELECT COUNT(*) FROM uni) AS nu,
                   (SELECT COUNT(*) FROM bi) AS nb)
    SELECT w1, w2, n_ab,
           ROUND(ln((n_ab * 1.0 / nb) / ((a.n * 1.0 / nu) * (b.n * 1.0 / nu))), 6)
               AS pmi
    FROM bb JOIN ub a ON a.w = w1 JOIN ub b ON b.w = w2, tot
    WHERE n_ab >= 5
    """,
    doc="Collocation mining by pointwise mutual information: adjacent "
    "word pairs whose co-occurrence beats the independence baseline "
    "(ln of observed/expected) — the phrase-detection pass (word2vec-"
    "phrases / gensim Phrases shape) a tokenization pipeline runs to "
    "promote 'new york'-style units. Spark plan: bigrams explode as a "
    "pure projection (no shuffle until the count aggs), unigram and "
    "bigram counts are partial-first aggs on word keys, the two corpus "
    "totals re-enter as a broadcast 1-row scalar, and the PMI join "
    "ships (word, count) pairs only. The n_ab >= 5 support floor is "
    "what keeps the output (and the ub join's broadcast candidacy) "
    "bounded at corpus scale. PMI itself is per-row IEEE math over "
    "exact counts with identical operation order in both engines, "
    "rounded to 6 dp.",
    tags=("text", "agg", "report"),
)
def q_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    words = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    idx = F.when(
        F.size(words) >= 2, F.sequence(F.lit(1), F.size(words) - 1)
    ).otherwise(F.array().cast("array<int>"))
    w = d.select(words.alias("__ws"), idx.alias("__is"))
    bi = w.select(
        F.explode(
            F.transform(
                "__is",
                lambda i: F.struct(
                    F.element_at("__ws", i).alias("w1"),
                    F.element_at("__ws", i + 1).alias("w2"),
                ),
            )
        ).alias("u")
    ).select("u.*")
    uni = w.select(F.explode("__ws").alias("w"))
    ub = uni.groupBy("w").agg(F.count(F.lit(1)).alias("n"))
    bb = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_ab"))
    tot = uni.agg(F.count(F.lit(1)).alias("__nu")).crossJoin(
        bi.agg(F.count(F.lit(1)).alias("__nb"))
    )
    a = ub.select(F.col("w").alias("w1"), F.col("n").alias("__na"))
    b = ub.select(F.col("w").alias("w2"), F.col("n").alias("__nb2"))
    joined = (
        bb.filter(F.col("n_ab") >= 5)
        .join(a, "w1")
        .join(b, "w2")
        .crossJoin(F.broadcast(tot))
    )
    pmi = F.round(
        F.log(
            (F.col("n_ab") * F.lit(1.0) / F.col("__nb"))
            / (
                (F.col("__na") * F.lit(1.0) / F.col("__nu"))
                * (F.col("__nb2") * F.lit(1.0) / F.col("__nu"))
            )
        ),
        6,
    )
    return joined.select("w1", "w2", "n_ab", pmi.alias("pmi"))


_BM25_ORACLE = r"""
    WITH toks AS (
        SELECT doc_id, tok, COUNT(*) AS tf
        FROM (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
              FROM documents)
        GROUP BY 1, 2
    ),
    dlen AS (SELECT doc_id, SUM(tf) AS dl FROM toks GROUP BY 1),
    stats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS total FROM dlen),
    dfreq AS (SELECT tok, COUNT(*) AS df FROM toks GROUP BY 1),
    qt AS (SELECT doc_id AS query_id, tok FROM toks WHERE doc_id < 5),
    terms AS (
        SELECT qt.query_id, t.doc_id AS cand,
               ROUND(
                 ln((s.n_docs - f.df + 0.5) / (f.df + 0.5) + 1)
                 * (t.tf * 2.2)
                 / (t.tf + 1.2 * (0.25 + 0.75 * (t_dl.dl
                        / (CAST(s.total AS DOUBLE) / s.n_docs)))),
               7) AS term
        FROM qt
        JOIN toks t ON t.tok = qt.tok AND t.doc_id != qt.query_id
        JOIN dlen t_dl ON t_dl.doc_id = t.doc_id
        JOIN dfreq f ON f.tok = qt.tok
        CROSS JOIN stats s
    ),
    scored AS (
        SELECT query_id, cand,
               CAST(SUM(CAST(term AS DECIMAL(38,12))) AS DOUBLE) AS raw
        FROM terms GROUP BY 1, 2
    ),
    ranked AS (
        SELECT query_id, cand, raw,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY raw DESC, cand ASC) AS rank
        FROM scored
    )
    SELECT query_id, cand AS neighbor_id, rank, ROUND(raw, 6) AS score
    FROM ranked WHERE rank <= 5
    """


@query(
    "q_bm25_rank",
    _BM25_ORACLE,
    doc="Full BM25 lexical ranking (k1=1.2, b=0.75 — the Okapi/Lucene "
    "default): idf·tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)) summed over "
    "query∩doc terms, top-5 per query doc — the real scoring function "
    "behind q_hybrid_search's simplified overlap leg. Spark plan: doc "
    "length and the 1-row avgdl scalar are PROJECTIONS "
    "(array_size(words) ≡ Σtf — no explode+shuffle pass); the tf "
    "table is sliced to the query vocabulary ONCE (left-semi against "
    "the ≤|query terms| token set) and both the candidate postings and "
    "the document frequencies derive from that slice, so the df "
    "broadcast is bounded by the query vocabulary, never the O(corpus) "
    "full vocabulary; the candidate join is the inverted-index "
    "equi-join on the token, and per-(query,cand) scores aggregate "
    "partial-first. Cost is |queries|·Σdf(query "
    "terms) — linear in corpus per query, the q_ann_topk shape on the "
    "lexical axis; at web scale you'd add WAND/max-score df pruning "
    "on top (noted, not needed for exactness). Float policy: each "
    "per-term score is deterministic IEEE (ln + arithmetic in "
    "identical op order), rounded at 7 dp, summed in exact DECIMAL — "
    "associativity-proof, so rank and score carry a full exact "
    "oracle.",
    tags=("text", "topk", "retrieval"),
)
def q_bm25_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _bm25_rank(spark, sf_dir, prune=False)


@query(
    "q_bm25_rank_pruned",
    _BM25_ORACLE,  # IDENTICAL oracle: max-score pruning is lossless by
    # construction, and the driver's hash-match proves it every round
    doc="BM25 with max-score/WAND-style candidate pruning — the exact "
    "same ranking as q_bm25_rank (same oracle SQL, hash-identical "
    "results) computed over a PRUNED candidate set. Per query: (1) a "
    "seed pass scores only the postings of the single highest-"
    "upper-bound term and takes its k-th best exact score as the "
    "threshold θ (a sound lower bound on the final k-th score, since "
    "seeds are a candidate subset); (2) each query term gets the "
    "static Okapi upper bound ub = idf·(k1+1)+ε (per-term score is "
    "strictly below idf·(k1+1) for any tf, dl), and a term is "
    "NON-ESSENTIAL when the ub-descending suffix sum from it is < θ — "
    "a doc matching only non-essential terms is bounded below θ and "
    "can never enter the top k, so its postings are never joined; (3) "
    "survivors are scored exactly. This is the document-pruning half "
    "of WAND brought to a declarative plan: at web scale the win is "
    "skipping the long postings lists of common (low-idf) terms "
    "entirely once rare terms have established θ. "
    "tests/test_bm25.py pins result equality with the "
    "unpruned form AND that the pruned candidate volume is strictly "
    "smaller on the fixture. All four branches recompute the "
    "query-vocab posting slice rather than persist it (measured "
    "3.9 s vs 6.1 s persisted at sf0.1 — this fixture's uniform "
    "vocabulary makes the slice ≈ the full index; see the in-plan "
    "comment), and persisting the FULL tf table is worse still "
    "(8.6 s — it blocks the doc_id<5 pushdown on every query-side "
    "branch).",
    tags=("text", "topk", "retrieval"),
)
def q_bm25_rank_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _bm25_rank(spark, sf_dir, prune=True)


def _bm25_rank(
    spark: SparkSession,
    sf_dir: str,
    prune: bool,
    return_candidates: bool = False,
    docs: DataFrame | None = None,
) -> DataFrame:
    from pyspark.sql.window import Window

    if docs is None:
        docs = load_table(spark, sf_dir, "documents")
    # The tf table IS the inverted index. The FULL table is deliberately
    # never .persist()ed: that was MEASURED SLOWER (2.2 s vs 1.8 s warm,
    # unpruned; 8.6 s vs 3.5 s pruned, at sf0.1) because the
    # InMemoryRelation blocks the doc_id < 5 pushdown on the query-terms
    # branch. Only the query-vocabulary SLICE (cand, below) is cached,
    # and only in prune mode where four branches re-consume it.
    toks = (
        docs.select("doc_id", F.explode(words("text")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    # Document length = Σtf = the token-array size: a PROJECTION over the
    # base scan, not a re-aggregation of the tf table — this removes two
    # full explode+shuffle corpus passes (dlen itself and the 1-row
    # stats scalar derived from it) from every consumer below. Σtf and
    # array_size(words) are equal by construction (explode emits exactly
    # the array's elements); docs whose words() is NULL never reach toks,
    # matched here by the dl >= 1 filter (split never yields an empty
    # array, so only NULL is excluded).
    dlen = docs.select(
        "doc_id", F.array_size(words("text")).alias("dl")
    ).filter(F.col("dl") >= 1)
    stats = dlen.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("total")
    )
    qt = toks.filter(F.col("doc_id") < 5).select(
        F.col("doc_id").alias("query_id"), "tok"
    )
    # Only the QUERY terms' postings are ever joined (every consumer of
    # the inverted index below is downstream of a join with query
    # tokens), so slice the tf table to the query vocabulary ONCE and
    # derive everything term-level — candidates AND document frequencies
    # — from that slice. df over the slice is identical to df over the
    # full table for query-vocab tokens (the semi-join only drops other
    # tokens' rows), and the broadcast side stays bounded by the query
    # vocabulary, never the O(corpus) full vocabulary.
    q_vocab = qt.select("tok").distinct()
    cand = toks.join(F.broadcast(q_vocab), "tok", "left_semi").select(
        F.col("doc_id").alias("cand"), "tok", "tf"
    )
    # The slice is deliberately NOT .persist()ed even though prune mode
    # consumes it from four branches: measured 6.1 s persisted vs 3.9 s
    # recomputed at sf0.1 — this fixture's UNIFORM vocabulary (every
    # token df≈75%) makes the query-vocab slice ≈ the whole tf table, so
    # cache materialization + memory scans cost more than the codegen'd
    # recompute. On a Zipfian real corpus the slice is O(Σdf(query
    # terms)) ≪ corpus and materializing it per request (storage-side,
    # partitioned by tok so the query-side filter prunes) is the 100 TB
    # play — the plan shape here already isolates exactly that relation.
    dfreq_q = cand.groupBy("tok").agg(
        F.count(F.lit(1)).alias("df")
    )
    avgdl = F.col("total").cast("double") / F.col("n_docs")
    idf = F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1)
    term = F.round(
        idf
        * (F.col("tf") * 2.2)
        / (F.col("tf") + 1.2 * (0.25 + 0.75 * (F.col("dl") / avgdl))),
        7,
    )
    def term_rows(qtx: DataFrame, pairs: DataFrame | None = None) -> DataFrame:
        """Per-(query, cand, term) BM25 contributions for the query-term
        set ``qtx``; ``pairs`` (query_id, cand) semi-joins the inverted-
        index join output immediately, before the dl/df attachment."""
        out = qtx.join(cand, "tok").filter(F.col("cand") != F.col("query_id"))
        if pairs is not None:
            out = out.join(pairs, ["query_id", "cand"], "left_semi")
        return (
            out.join(dlen.select(F.col("doc_id").alias("cand"), "dl"), "cand")
            .join(F.broadcast(dfreq_q), "tok")
            .crossJoin(F.broadcast(stats))
            .select("query_id", "cand", term.alias("__term"))
        )

    def topk_scores(terms: DataFrame) -> DataFrame:
        scored = terms.groupBy("query_id", "cand").agg(
            F.sum(F.col("__term").cast("decimal(38,12)")).cast("double").alias("__raw")
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("__raw").desc(), F.col("cand").asc()
        )
        return scored.withColumn("rank", F.row_number().over(w))

    qt_scoring = qt
    pairs = None
    if prune:
        # Max-score/WAND-style pruning, exactness-preserving (see the
        # q_bm25_rank_pruned doc). ub = idf·(k1+1)+ε is a strict static
        # upper bound on any single term's contribution (tf→∞, dl→0
        # limit of the Okapi term), with ε covering the 7-dp rounding.
        ub = (idf * 2.2 + F.lit(1e-6)).alias("__ub")
        qts = (
            qt.join(F.broadcast(dfreq_q), "tok")
            .crossJoin(F.broadcast(stats))
            .select("query_id", "tok", ub)
        )
        wseed = Window.partitionBy("query_id").orderBy(
            F.col("__ub").desc(), F.col("tok").asc()
        )
        seed_terms = (
            qts.withColumn("__rn", F.row_number().over(wseed))
            .filter(F.col("__rn") == 1)
            .select("query_id", "tok")
        )
        seed_pairs = (
            seed_terms.join(cand, "tok")
            .filter(F.col("cand") != F.col("query_id"))
            .select("query_id", "cand")
            .distinct()
        )
        # θ_q = k-th best EXACT score among the seed candidates — a
        # sound lower bound on the final k-th score (seeds ⊆ final
        # candidate set: the seed term has the maximal suffix sum, so it
        # is always essential). Fewer than k seeds → no θ row → the
        # left join below keeps every term (no pruning).
        theta = (
            topk_scores(term_rows(qt, seed_pairs))
            .filter(F.col("rank") == 5)
            .select("query_id", F.col("__raw").alias("__theta"))
        )
        # A term is non-essential when the ub-descending suffix sum from
        # it is < θ: any doc matching ONLY such terms is bounded < θ.
        wss = (
            Window.partitionBy("query_id")
            .orderBy(F.col("__ub").desc(), F.col("tok").asc())
            .rowsBetween(Window.currentRow, Window.unboundedFollowing)
        )
        qt_scoring = (
            qts.withColumn("__ss", F.sum("__ub").over(wss))
            .join(F.broadcast(theta), "query_id", "left")
            .filter(F.col("__theta").isNull() | (F.col("__ss") >= F.col("__theta")))
            .select("query_id", "tok")
        )
        pairs = (
            qt_scoring.join(cand, "tok")
            .filter(F.col("cand") != F.col("query_id"))
            .select("query_id", "cand")
            .distinct()
        )
        # Survivors are scored over their FULL matched-term sets (qt,
        # not just essential terms) — pruning selects documents, never
        # drops score mass from a surviving document.
        qt_scoring = qt

    if return_candidates:  # measurement hook for the pruning-volume test
        if pairs is not None:
            return pairs
        return (
            qt.join(cand, "tok")
            .filter(F.col("cand") != F.col("query_id"))
            .select("query_id", "cand")
            .distinct()
        )

    return (
        topk_scores(term_rows(qt_scoring, pairs))
        .filter(F.col("rank") <= 5)
        .select(
            "query_id",
            F.col("cand").alias("neighbor_id"),
            "rank",
            F.round("__raw", 6).alias("score"),
        )
    )


@query(
    "q_bpe_merge_candidates",
    r"""
    WITH w AS (
        SELECT unnest(string_split_regex(trim(text), '\s+')) AS word
        FROM documents
    ),
    pairs AS (
        SELECT substr(word, CAST(i AS INT), 2) AS pair
        FROM (SELECT word, unnest(generate_series(1, length(word) - 1)) AS i
              FROM w WHERE length(word) >= 2)
    ),
    counted AS (SELECT pair, COUNT(*) AS n_occurrences FROM pairs GROUP BY 1)
    SELECT pair, n_occurrences, rank FROM (
        SELECT pair, n_occurrences,
               ROW_NUMBER() OVER (ORDER BY n_occurrences DESC, pair ASC) AS rank
        FROM counted
    ) WHERE rank <= 20
    """,
    doc="BPE merge-candidate mining — the inner statistic of byte-pair-"
    "encoding vocabulary induction: count adjacent CHARACTER pairs "
    "across all corpus word occurrences and rank the top merges (the "
    "pair a BPE trainer would fuse first; iterate after applying the "
    "merge to grow a vocabulary). Spark plan: words explode → each "
    "word projects its length-1 adjacent pairs via transform(sequence) "
    "— pure codegen projections, no shuffle until the pair count agg, "
    "which is partial-first on a key space bounded by alphabet² "
    "regardless of corpus size; the top-20 global window sorts that "
    "tiny aggregate, not the corpus. Words of length 1 are filtered "
    "on BOTH engines (Spark's sequence(1,0) would descend, DuckDB's "
    "generate_series(1,0) is empty — the one semantic trap).",
    tags=("text", "tokenize", "agg"),
)
def q_bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    w = docs.select(F.explode(words("text")).alias("word")).filter(
        F.length("word") >= 2
    )
    pairs = w.select(
        F.explode(
            F.expr("transform(sequence(1, length(word) - 1), i -> substr(word, i, 2))")
        ).alias("pair")
    )
    counted = pairs.groupBy("pair").agg(F.count(F.lit(1)).alias("n_occurrences"))
    win = Window.orderBy(F.col("n_occurrences").desc(), F.col("pair").asc())
    return (
        counted.withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= 20)
        .select("pair", "n_occurrences", "rank")
    )


@query(
    "q_phrase_search",
    r"""
    WITH toks AS (
        SELECT doc_id,
               unnest(string_split_regex(trim(text), '\s+')) AS tok,
               unnest(generate_series(1, len(string_split_regex(trim(text), '\s+'))))
                   AS pos
        FROM documents
    ),
    ph AS (
        SELECT tok, pos - 1 AS off FROM toks WHERE doc_id = 0 AND pos <= 3
    ),
    hits AS (
        SELECT t.doc_id, t.pos - ph.off AS start_pos, ph.off
        FROM toks t JOIN ph ON t.tok = ph.tok
    ),
    m AS (
        SELECT doc_id, start_pos
        FROM hits GROUP BY doc_id, start_pos
        HAVING COUNT(DISTINCT off) = 3
    )
    SELECT doc_id, COUNT(*) AS n_matches, CAST(MIN(start_pos) AS BIGINT) AS first_pos
    FROM m GROUP BY doc_id
    """,
    doc="Exact phrase search over a positional posting list — the "
    "inverted-index shape (doc_id, token, position) every search stack "
    "builds, here fully relational: posting rows equi-join the 3-row "
    "phrase table on token (broadcast; the phrase side is a "
    "literal-pruned doc_id=0 scan), each hit votes for an alignment "
    "start = pos - phrase_offset, and a start with all 3 distinct "
    "offsets matched IS a phrase occurrence (handles repeated phrase "
    "tokens and overlapping matches). Per doc: occurrence count + first "
    "position. Scale: cost is sum of the phrase terms' posting-list "
    "lengths — the token equi-join prunes the corpus to candidate "
    "docs; no regex scan of full text at query time, no Python.",
    tags=("text", "search", "join"),
)
def q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.posexplode(words("text")).alias("pos0", "tok")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")
    phrase = (
        toks.filter(F.col("doc_id") == 0)
        .filter(F.col("pos") <= 3)
        .select("tok", (F.col("pos") - 1).alias("off"))
    )
    hits = toks.join(F.broadcast(phrase), "tok").select(
        "doc_id", (F.col("pos") - F.col("off")).alias("start_pos"), "off"
    )
    matches = (
        hits.groupBy("doc_id", "start_pos")
        .agg(F.count_distinct("off").alias("n_off"))
        .filter(F.col("n_off") == 3)
    )
    return matches.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_matches"),
        F.min("start_pos").cast("bigint").alias("first_pos"),
    )


@query(
    "q_zipf_fit",
    r"""
    WITH tok AS (
        SELECT unnest(string_split_regex(trim(text), '\s+')) AS tok FROM documents
    ),
    cnt AS (SELECT tok, COUNT(*) AS c FROM tok GROUP BY tok),
    ranked AS (
        SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, tok ASC) AS r FROM cnt
    ),
    pts AS (
        SELECT CAST(round(ln(CAST(r AS DOUBLE)) * 1000000) AS BIGINT) AS x,
               CAST(round(ln(CAST(c AS DOUBLE)) * 1000000) AS BIGINT) AS y
        FROM ranked WHERE r <= 100
    ),
    s AS (
        SELECT COUNT(*) AS n,
               CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(x * x AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
               CAST(SUM(CAST(y * y AS DECIMAL(38,0))) AS DOUBLE) AS syy,
               CAST(SUM(CAST(x * y AS DECIMAL(38,0))) AS DOUBLE) AS sxy
        FROM pts
    )
    SELECT n AS n_ranks,
           ROUND(-((CAST(n AS DOUBLE) * sxy - sx * sy)
                   / (CAST(n AS DOUBLE) * sxx - sx * sx)), 12) AS s_hat,
           ROUND(((CAST(n AS DOUBLE) * sxy - sx * sy)
                  * (CAST(n AS DOUBLE) * sxy - sx * sy))
                 / ((CAST(n AS DOUBLE) * sxx - sx * sx)
                    * (CAST(n AS DOUBLE) * syy - sy * sy)), 12) AS r2
    FROM s
    """,
    doc="Zipf-law exponent fit over the corpus vocabulary: log-log OLS "
    "of the top-100 token frequencies vs rank — ŝ (the negated slope) "
    "is the one-number heavy-tail fingerprint that separates natural "
    "text (ŝ≈1) from templated/synthetic corpora, and r² says whether "
    "a power law fits at all (the fixture's UNIFORM vocabulary scores "
    "a near-zero ŝ — exactly the anomaly this probe exists to flag). "
    "Exactness: ln(rank)/ln(count) are integerized to micro-units "
    "(round(ln·1e6) → BIGINT — the q_corr_matrix integerization, "
    "which keeps every cross-product inside int64 and every sum in "
    "exact DECIMAL(38,0)); the slope/r² are fixed-shape IEEE "
    "expressions rounded to 12. One token-count shuffle + a 100-row "
    "tail; the global rank window runs on the |vocab| count table, "
    "and at web scale the same fit reads the top-K of the existing "
    "q_vocab_topk output instead of re-ranking.",
    tags=("text", "stats"),
)
def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("tok")
    )
    cnt = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    ranked = cnt.select(
        "c", F.row_number().over(Window.orderBy(F.desc("c"), F.asc("tok"))).alias("r")
    ).filter(F.col("r") <= 100)
    pts = ranked.select(
        F.round(F.log(F.col("r").cast("double")) * 1000000).cast("bigint").alias("x"),
        F.round(F.log(F.col("c").cast("double")) * 1000000).cast("bigint").alias("y"),
    )
    s = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast("decimal(38,0)")).cast("double").alias("sx"),
        F.sum(F.col("y").cast("decimal(38,0)")).cast("double").alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,0)")).cast("double").alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast("decimal(38,0)")).cast("double").alias("syy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(38,0)")).cast("double").alias("sxy"),
    )
    nd = F.col("n").cast("double")
    num = nd * F.col("sxy") - F.col("sx") * F.col("sy")
    denx = nd * F.col("sxx") - F.col("sx") * F.col("sx")
    deny = nd * F.col("syy") - F.col("sy") * F.col("sy")
    return s.select(
        F.col("n").alias("n_ranks"),
        F.round(-(num / denx), 12).alias("s_hat"),
        F.round(num * num / (denx * deny), 12).alias("r2"),
    )


@query(
    "q_repeated_ngrams",
    r"""
    WITH t AS (
        SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk FROM documents
    ),
    ix AS (
        SELECT doc_id, tk, unnest(range(1, greatest(len(tk) - 6, 1))) AS i FROM t
    ),
    g AS (SELECT doc_id, array_to_string(tk[i:i+7], ' ') AS gram FROM ix),
    cnt AS (
        SELECT gram, COUNT(*) AS n, COUNT(DISTINCT doc_id) AS n_docs
        FROM g GROUP BY gram HAVING COUNT(*) >= 2
    )
    SELECT gram, n, n_docs, rank FROM (
        SELECT gram, n, n_docs,
               ROW_NUMBER() OVER (ORDER BY n DESC, gram) AS rank
        FROM cnt
    ) WHERE rank <= 20
    """,
    doc="Most-duplicated 8-gram spans across the corpus (count + distinct "
    "docs, top-20): the repeated-substring census behind exact-substring "
    "training-data dedup (Lee et al.'s 'Deduplicating Training Data "
    "Makes Language Models Better' — their suffix-array pass finds "
    "verbatim repeats ≥ k tokens; fixed-k sliding shingles are the "
    "relational formulation: any repeat ≥ 8 tokens contains a repeated "
    "8-gram, so this surfaces the same spans, boilerplate headers and "
    "license blocks first). Spark plan: the shingle set is a pure "
    "PROJECTION (transform over sequence + slice + concat_ws — array "
    "expressions, whole-stage codegen, no UDF, no join), then ONE "
    "partial-first count agg keyed by the gram — text never shuffles, "
    "only (gram-hash-sized key, doc_id) pairs move, and the n ≥ 2 "
    "HAVING prunes the unique-gram long tail before the top-k window "
    "(which runs on the surviving duplicates only). The same dataflow "
    "with doc_id+position kept is the removal pass's span index.",
    tags=("text", "dedup", "topk"),
)
def q_repeated_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    toks = spread(load_table(spark, sf_dir, "documents").select("doc_id", "text")).select(
        "doc_id", F.split(F.trim("text"), r"\s+").alias("tk")
    )
    g = toks.select(
        "doc_id",
        # size < 8 must yield array() explicitly: sequence(1, 0) is
        # DESCENDING [1, 0] in Spark, and slice(_, 0, _) then errors —
        # short documents would crash the whole scan without the guard.
        F.explode(
            F.expr(
                "CASE WHEN size(tk) >= 8 THEN"
                " transform(sequence(1, size(tk) - 7),"
                " i -> concat_ws(' ', slice(tk, i, 8)))"
                " ELSE array() END"
            )
        ).alias("gram"),
    )
    cnt = (
        g.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n"), F.countDistinct("doc_id").alias("n_docs"))
        .filter(F.col("n") >= 2)
    )
    ranked = cnt.select(
        "gram",
        "n",
        "n_docs",
        F.row_number().over(Window.orderBy(F.desc("n"), F.asc("gram"))).alias("rank"),
    )
    return ranked.filter(F.col("rank") <= 20)


@query(
    "q_dup_span_fraction",
    r"""
    WITH t AS (
        SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk FROM documents
    ),
    base AS (
        SELECT doc_id, tk, greatest(len(tk) - 7, 0) AS n_shingles FROM t
    ),
    ix AS (
        SELECT doc_id, tk, unnest(range(1, greatest(len(tk) - 6, 1))) AS i FROM base
    ),
    g AS (SELECT doc_id, array_to_string(tk[i:i+7], ' ') AS gram FROM ix),
    dup AS (
        SELECT gram FROM g GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    dc AS (
        SELECT doc_id, COUNT(*) AS n_dup
        FROM g WHERE gram IN (SELECT gram FROM dup) GROUP BY doc_id
    )
    SELECT base.doc_id AS doc_id, n_shingles,
           CAST(COALESCE(dc.n_dup, 0) AS BIGINT) AS n_dup_shingles,
           ROUND(CAST(COALESCE(dc.n_dup, 0) AS DOUBLE) / CAST(n_shingles AS DOUBLE), 12)
               AS dup_fraction,
           COALESCE(dc.n_dup, 0) * 2 > n_shingles AS drop_doc
    FROM base LEFT JOIN dc ON dc.doc_id = base.doc_id
    WHERE n_shingles > 0
    """,
    doc="Per-document duplicated-span fraction: the share of a doc's "
    "8-gram shingles that also appear in ANOTHER document, plus the "
    "majority-duplicated drop flag — the REMOVAL half of the "
    "q_repeated_ngrams census and the doc-level score the Lee-et-al "
    "exact-substring dedup thresholds on (a doc that is mostly "
    "boilerplate/mirror content gets dropped; a doc quoting one "
    "license line survives — contrast q_dedup_* which kill whole "
    "near-duplicate DOCS, this kills span-level duplication). Plan: "
    "TWO text scans total (the minimum — global gram counts must "
    "exist before membership); grams travel as a 128-bit xxhash64 "
    "fingerprint pair, never as strings (16-byte shuffle rows, "
    "collision odds ~1e-15 at 1e12 grams): the duplicated-gram set is "
    "a count-distinct agg on the fingerprint, then ONE pass over the "
    "exploded grams LEFT-joins that set on the SAME fingerprint (co-"
    "shuffled — the exchange is shared; never a broadcast of the "
    "corpus-sized dup set) and a doc-keyed agg produces numerator AND "
    "denominator together (count(*) over a doc's gram rows IS its "
    "shingle count, so no third scan for totals; zero-shingle docs "
    "drop naturally — they have no gram rows). The drop flag is exact "
    "integer arithmetic (n_dup·2 > n_shingles); the reported fraction "
    "is the single IEEE division, rounded 12.",
    tags=("text", "dedup", "quality"),
)
def q_dup_span_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The gram STRING never leaves the projection: both the count agg and
    # the membership join key on a 128-bit fingerprint — two xxhash64
    # values over DIFFERENTLY-SALTED inputs, so shuffle rows are 16 bytes
    # instead of the ~60-byte 8-gram text. The salt matters: Spark's
    # multi-arg xxhash64(gram, 7) CHAINS arguments (the second hash would
    # be a deterministic function of the first, so every h1 collision is
    # an (h1,h2) collision and the pair is effectively 64-bit,
    # ~n²/2^65 expected collisions). Hashing a salted copy of the input
    # string keeps the two 64-bit values independent: pair collision odds
    # ~n²/2^129 ≈ 1e-15 at 1e12 grams — the standard
    # exact-substring-dedup fingerprint trade (Lee et al.).
    # Tokenize ONCE into an array column; spread() fans the single-row-group
    # fixture scan across cores before the explode (measured 5× at sf0.1).
    toks = spread(load_table(spark, sf_dir, "documents").select("doc_id", "text")).select(
        "doc_id", F.split(F.trim("text"), r"\s+").alias("tk")
    )
    g = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "CASE WHEN size(tk) >= 8 THEN"
                " transform(sequence(1, size(tk) - 7),"
                " i -> struct(xxhash64(concat_ws(' ', slice(tk, i, 8))) AS h1,"
                "             xxhash64(concat('7:', concat_ws(' ', slice(tk, i, 8)))) AS h2))"
                " ELSE array() END"
            )
        ).alias("gh"),
    )
    dup = (
        g.groupBy("gh")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("gh", F.lit(1).alias("isdup"))
    )
    per_doc = (
        g.join(dup, "gh", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count("isdup").cast("bigint").alias("n_dup_shingles"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_shingles",
        "n_dup_shingles",
        F.round(
            F.col("n_dup_shingles").cast("double") / F.col("n_shingles").cast("double"), 12
        ).alias("dup_fraction"),
        (F.col("n_dup_shingles") * 2 > F.col("n_shingles")).alias("drop_doc"),
    )


@query(
    "q_lm_score_kn",
    r"""
    WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
    bg AS (
        SELECT doc_id, u.w1 AS w1, u.w2 AS w2
        FROM (SELECT doc_id, unnest(list_transform(generate_series(1, greatest(len(w)-1, 0)),
                     i -> {'w1': w[i], 'w2': w[i+1]})) AS u FROM toks)
    ),
    c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY 1, 2),
    c1 AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1, COUNT(*) AS n1plus_fwd
           FROM c12 GROUP BY 1),
    cont AS (SELECT w2, COUNT(*) AS n1plus_bwd FROM c12 GROUP BY 1),
    nt AS (SELECT COUNT(*) AS n_bigram_types FROM c12),
    scored AS (
        SELECT doc_id,
               CAST(round(ln(
                   greatest(c12 - 0.75, 0.0) / c1
                   + (0.75 * n1plus_fwd / c1)
                     * (CAST(n1plus_bwd AS DOUBLE) / n_bigram_types)
               ), 9) AS DECIMAL(18,9)) AS lp
        FROM bg JOIN c12 USING (w1, w2) JOIN c1 USING (w1) JOIN cont USING (w2), nt
    )
    SELECT doc_id, COUNT(*) AS n_bigrams,
           ROUND(CAST(SUM(lp) AS DOUBLE) / COUNT(*), 6) AS avg_logp_kn
    FROM scored GROUP BY 1
    """,
    doc="Interpolated Kneser-Ney bigram LM scoring — the smoothing that "
    "made n-gram LMs work (Kneser & Ney 1995 / Chen & Goodman 1998) and "
    "what KenLM-class perplexity filters actually run, upgrading "
    "q_lm_score's add-one strawman: P(w2|w1) = max(c12−D,0)/c1 + "
    "(D·N1+(w1·)/c1)·Pcont(w2), where the CONTINUATION probability "
    "Pcont(w2) = N1+(·w2)/|bigram types| counts how many contexts a "
    "word follows rather than how often it occurs — the fix for "
    "high-frequency-but-context-bound words ('Francisco' is frequent "
    "but only ever follows 'San', so KN backs off to it reluctantly; "
    "raw-frequency backoff overweights it). All sufficient statistics "
    "are exact integer aggs on word/bigram keys (forward and backward "
    "continuation counts are two group-bys over the SAME c12 relation — "
    "AQE reuses the exchange); the bigram-type total re-enters as a "
    "broadcast scalar; D=0.75 is exact in binary. Per-bigram log-probs "
    "round to 9 dp, sum as exact DECIMAL (q_lm_score policy) so the "
    "doc mean is bit-stable across engines and partitionings.",
    tags=("text", "quality", "lm"),
)
def q_lm_score_kn(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    base = d.select("doc_id", F.split(F.trim("text"), r"\s+").alias("w"))
    bg = base.select(
        "doc_id",
        # Guard the single-word doc: sequence(1, 0) in Spark is the
        # DESCENDING array [1, 0], so the unguarded transform would index
        # w[1]/w[-1] — ANSI INVALID_ARRAY_INDEX. DuckDB's
        # generate_series(1, 0) is empty, so the guarded shapes agree.
        F.explode(
            F.expr(
                "CASE WHEN size(w) >= 2 THEN"
                " transform(sequence(1, size(w)-1),"
                " i -> struct(w[i-1] AS w1, w[i] AS w2))"
                " ELSE CAST(array() AS array<struct<w1:string,w2:string>>) END"
            )
        ).alias("u"),
    ).select("doc_id", "u.w1", "u.w2")
    c12 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    c1 = c12.groupBy("w1").agg(
        F.sum("c12").cast("bigint").alias("c1"), F.count(F.lit(1)).alias("n1plus_fwd")
    )
    cont = c12.groupBy("w2").agg(F.count(F.lit(1)).alias("n1plus_bwd"))
    ntypes = c12.agg(F.count(F.lit(1)).alias("n_bigram_types"))
    D = F.lit(0.75)
    p = F.greatest(F.col("c12") - D, F.lit(0.0)) / F.col("c1") + (
        D * F.col("n1plus_fwd") / F.col("c1")
    ) * (F.col("n1plus_bwd").cast("double") / F.col("n_bigram_types"))
    lp = F.round(F.log(p), 9).cast("decimal(18,9)")
    scored = (
        bg.join(c12, ["w1", "w2"])
        .join(c1, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(ntypes))
        .select("doc_id", lp.alias("lp"))
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.sum("lp").cast("double") / F.count(F.lit(1)), 6).alias("avg_logp_kn"),
    )


@query(
    "q_dedup_span_cut",
    r"""
    WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk FROM documents),
    u AS (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 7)) AS pos
          FROM t WHERE len(tk) >= 8),
    g AS (SELECT doc_id, pos, md5(array_to_string(tk[pos:pos+7], ' ')) AS h FROM u),
    s AS (SELECT h, COUNT(DISTINCT doc_id) AS nd, MIN(doc_id) AS keeper FROM g GROUP BY 1),
    cp AS (SELECT doc_id, list_sort(list(pos)) AS cps
           FROM g JOIN s USING (h) WHERE nd >= 2 AND keeper <> doc_id GROUP BY 1),
    o AS (SELECT t.doc_id, tk, COALESCE(cps, []) AS cps FROM t LEFT JOIN cp USING (doc_id)),
    k AS (SELECT doc_id, len(tk) AS n_tokens,
                 list_filter(tk, (x, i) ->
                     len(list_filter(cps, p -> p >= i - 7 AND p <= i)) = 0) AS kept
          FROM o)
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(len(kept) AS BIGINT) AS n_kept_tokens,
           CAST(n_tokens - len(kept) AS BIGINT) AS n_cut_tokens,
           -- DuckDB's array_to_string([]) is NULL; Spark's concat_ws is ''
           COALESCE(array_to_string(kept, ' '), '') AS kept_text
    FROM k
    """,
    doc="Exact-substring span DEDUP CUT — the REMOVAL half of "
    "q_dup_span_fraction (which only measures): every duplicated 8-gram "
    "is kept in exactly one place under a deterministic KEEP-FIRST "
    "policy (the min-doc_id holder of the gram keeps it; every other "
    "doc masks the gram's 8 token positions), and each doc emits its "
    "kept_text with counts — the Lee et al. 2022 exact-substring "
    "dedup an LLM corpus pipeline applies BEFORE tokenization, as a "
    "row transform rather than a row filter. Plan: ONE tokenize pass "
    "(spread against the single-row-group fixture), gram stats "
    "(distinct-doc count + min doc) as one partial-first agg on the "
    "64-bit gram fingerprint, ONE co-shuffled join back (same "
    "exchange), then per-doc mask assembly as pure array expressions — "
    "cut positions collect to a per-DOC array (bounded by doc length, "
    "the document-grain class), and the token filter tests membership "
    "of a covering window, O(len·|cut starts|) per doc worst case — "
    "the degenerate doc is exactly the one being mostly cut, and the "
    "production prefilter (q_dup_span_fraction's drop_doc) removes it "
    "first. Conservation (kept + cut == input, exact re-tokenize "
    "round-trip) is pinned in tests/test_dedup.py.",
    tags=("text", "dedup", "curation"),
)
def q_dedup_span_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = spread(load_table(spark, sf_dir, "documents").select("doc_id", "text")).select(
        "doc_id", F.split(F.trim("text"), r"\s+").alias("tk")
    )
    g = toks.filter(F.size("tk") >= 8).select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(tk) - 7),"
                " i -> struct(i AS pos, xxhash64(concat_ws(' ', slice(tk, i, 8))) AS h))"
            )
        ).alias("u"),
    ).select("doc_id", "u.pos", "u.h")
    s = g.groupBy("h").agg(
        F.countDistinct("doc_id").alias("nd"), F.min("doc_id").alias("keeper")
    )
    cp = (
        g.join(s, "h")
        .filter((F.col("nd") >= 2) & (F.col("keeper") != F.col("doc_id")))
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("pos")).alias("cps"))
    )
    o = toks.join(cp, "doc_id", "left").select(
        "doc_id", "tk", F.coalesce("cps", F.expr("array()")).alias("cps")
    )
    k = o.select(
        "doc_id",
        F.size("tk").alias("n_tokens"),
        F.expr(
            "filter(tk, (x, i0) ->"
            " size(filter(cps, p -> p >= i0 + 1 - 7 AND p <= i0 + 1)) = 0)"
        ).alias("kept"),
    )
    return k.select(
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.size("kept").cast("bigint").alias("n_kept_tokens"),
        (F.col("n_tokens") - F.size("kept")).cast("bigint").alias("n_cut_tokens"),
        F.concat_ws(" ", "kept").alias("kept_text"),
    )


_BPE_PARAMS = {"num_merges": 16, "min_pair_count": 2}


def _bpe_recipe(spark: SparkSession, sf_dir: str) -> tuple:
    """Arguments of session.cached_artifact / build_artifact for the
    learned merge table: params-hash path, fixture fingerprint in the
    payload, so a regenerated fixture forces retrain."""
    import json as _json

    from c_tran_data_pipeline_spark.operators.bpe import bpe_train

    def build(tmp: str, meta: dict) -> str:
        docs = load_table(spark, sf_dir, "documents").select("text")
        return _json.dumps({"merges": bpe_train(spread(docs), **_BPE_PARAMS), "meta": meta})

    def load(path: str, meta: dict) -> list[tuple[str, str, int]]:
        return [(a, b, int(n)) for a, b, n in read_json(path, meta)["merges"]]

    return "bpe", sf_dir, "documents", _BPE_PARAMS, build, load


# --- DuckDB replay of BPE training/encoding (round 7): the merge
# cascade is expressible in SQL after all. A word's tokenization under
# k merges is a fold over the merge list with a STRING accumulator —
# tokens joined by DOUBLED chr(3) separators, one merge application =
# one replace() whose pattern spends one separator from each side's
# pair, so back-to-back merge sites keep their boundary (plain
# single-separator replace() mis-handles '[a,b,a,b]'; the doubled form
# is pinned equal to operators/bpe._merge_once by the shared oracle
# rows AND tests/test_bpe.py's python replay). Training is then a
# recursive CTE whose state is the merge list itself: each level
# re-tokenizes the distinct-word table under merges-so-far, counts
# adjacent pairs weighted by word frequency, and appends the arg-max
# (min over struct(-n, p1, p2) = count DESC, pair lexicographic — the
# operator's exact tie-break), stopping at 16 merges or when no pair
# reaches min_pair_count=2. chr(3)/chr(4) are the oracle's separators
# (absent from the corpus; chr(1) is the END sentinel itself).
_BPE_S = "chr(3)"  # token separator (doubled at boundaries)
_BPE_U = "chr(4)"  # merge-pair delimiter inside the state list
_BPE_E = "chr(1)"  # operators/bpe.py END sentinel


def _bpe_tokenize_sql() -> str:
    """Delimiter-string tokenization of column ``word`` under column
    ``merges`` (VARCHAR[] of 'a<U>b' entries)."""
    s, u, e = _BPE_S, _BPE_U, _BPE_E
    return (
        "list_reduce(list_prepend("
        f"  repeat({s}, 2) || array_to_string(string_split(word, ''), repeat({s}, 2))"
        f"    || repeat({s}, 2) || {e} || repeat({s}, 2),"
        "  merges),"
        f" (acc, m) -> replace(acc,"
        f"   {s} || string_split(m, {u})[1] || {s} || {s} || string_split(m, {u})[2] || {s},"
        f"   {s} || replace(m, {u}, '') || {s}))"
    )


def _bpe_rec_ctes() -> str:
    """words + rec: the recursive training replay (num_merges=16,
    min_pair_count=2 — _BPE_PARAMS)."""
    s, u = _BPE_S, _BPE_U
    return rf"""
    words AS (
        SELECT word, COUNT(*) AS cnt FROM (
            SELECT unnest(string_split_regex(trim(text), '\s+')) AS word FROM documents
        ) WHERE word != '' GROUP BY word
    ),
    rec AS (
        SELECT 0 AS it, []::VARCHAR[] AS merges, CAST(NULL AS VARCHAR) AS new_left,
               CAST(NULL AS VARCHAR) AS new_right, CAST(NULL AS BIGINT) AS new_n
        UNION ALL
        SELECT it + 1,
               list_append(merges, best.p1 || {u} || best.p2),
               best.p1, best.p2, -best.nn
        FROM (
            SELECT g.it, g.merges,
                (SELECT min(struct_pack(nn := -n, p1 := p1, p2 := p2)) FROM (
                    SELECT p1, p2, CAST(SUM(cnt) AS BIGINT) AS n FROM (
                        SELECT tw.cnt, tw.toks[i] AS p1, tw.toks[i + 1] AS p2
                        FROM (
                            SELECT w.cnt, ts[2 : len(ts) - 1] AS toks FROM (
                                SELECT cnt, string_split({_bpe_tokenize_sql()}, repeat({s}, 2)) AS ts
                                FROM (SELECT word, cnt, g.merges AS merges FROM words) w2
                            ) w
                        ) tw, LATERAL unnest(generate_series(1, len(tw.toks) - 1)) t(i)
                    ) GROUP BY p1, p2 HAVING SUM(cnt) >= {_BPE_PARAMS["min_pair_count"]}
                )) AS best
            FROM rec g WHERE g.it < {_BPE_PARAMS["num_merges"]}
        ) WHERE best IS NOT NULL
    )"""


def _bpe_encoded_vocab_ctes() -> str:
    """... + encoded: every distinct corpus word tokenized under the
    FINAL learned merge table (n_sub per word)."""
    s = _BPE_S
    return rf"""{_bpe_rec_ctes()},
    final AS (SELECT merges FROM rec ORDER BY it DESC LIMIT 1),
    encoded AS (
        SELECT word, len(ts) - 2 AS n_sub FROM (
            SELECT word, string_split({_bpe_tokenize_sql()}, repeat({s}, 2)) AS ts
            FROM (SELECT word, merges FROM words, final) w2
        )
    )"""


@query(
    "q_bpe_merges",
    f"""
    WITH RECURSIVE {_bpe_rec_ctes()}
    SELECT CAST(it AS INT) AS merge_rank, new_left AS "left",
           new_right AS "right", new_n AS pair_count
    FROM rec WHERE it >= 1
    """,
    doc="BPE tokenizer TRAINING (operators/bpe.py, Sennrich et al. "
    "2016): learn 16 merges over the corpus — the subword-vocabulary "
    "step every LLM data pipeline runs before token budgeting. The "
    "corpus collapses to its distinct-word frequency table ONCE (the "
    "only corpus-grain shuffle); each merge iteration is one "
    "vocab-grain pair-count aggregate + a 1-row driver arg-max "
    "(bounded state, the centroid-literal class) + a native array-fold "
    "rewrite — no Python in any data path, iterations as an explicit "
    "cost knob. Ties break (count DESC, pair lexicographic) so the "
    "merge table is bit-reproducible across engines and "
    "partitionings (partition-invariance pinned). Emits the learned "
    "table: (merge_rank, left, right, pair_count). EXACT oracle since "
    "r7: DuckDB REPLAYS THE TRAINING as a recursive CTE whose state is "
    "the merge list (see _bpe_rec_ctes) — verified merge-for-merge "
    "equal at sf0.01 AND sf0.1.",
    tags=("text", "tokenizer", "training"),
)
def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    merges = build_artifact(*_bpe_recipe(spark, sf_dir))
    return spark.createDataFrame(
        [(i + 1, a, b, n) for i, (a, b, n) in enumerate(merges)],
        "merge_rank int, left string, right string, pair_count bigint",
    )


@query(
    "q_bpe_token_counts",
    f"""
    WITH RECURSIVE {_bpe_encoded_vocab_ctes()},
    dw AS (
        SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS word
        FROM documents
    )
    SELECT doc_id, COUNT(*) AS n_words,
           CAST(SUM(n_sub) AS BIGINT) AS n_bpe_tokens
    FROM (SELECT * FROM dw WHERE word != '') dwf JOIN encoded USING (word)
    GROUP BY doc_id
    """,
    doc="BPE ENCODING at document grain (operators/bpe.py): apply the "
    "learned merge cascade (read from the committed params-hash cache "
    "the build query maintains — zero training jobs on this path, the "
    "q_ann_ivfpq_search amortization split) and report (doc_id, n_words, "
    "n_bpe_tokens) — the real token-budget signal (q_text_tokens' "
    "whitespace count is the pre-tokenizer approximation). The cascade "
    "applies over the DISTINCT-word table (each word encodes once — "
    "the vocab-grain reduction training already uses) as chained "
    "native array folds, then docs join the encoded vocab and sum "
    "subword counts — one co-shuffled join + doc-keyed agg, no Python "
    "anywhere. Conservation (subwords concatenate back to word+</w>) "
    "and python-replay equality pinned in tests/test_bpe.py. EXACT "
    "oracle since r7: the recursive-CTE training replay chains into a "
    "full vocab re-encode under the final merge table — training AND "
    "encoding verified cross-engine at both SFs.",
    tags=("text", "tokenizer"),
)
def q_bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from c_tran_data_pipeline_spark.operators.bpe import bpe_token_counts

    docs = spread(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    merges = cached_artifact(*_bpe_recipe(spark, sf_dir))
    return bpe_token_counts(docs, merges)


@query(
    "q_lm_mix_weights",
    r"""
    WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
    bg AS (
        SELECT doc_id, u.w1 AS w1, u.w2 AS w2
        FROM (SELECT doc_id, unnest(list_transform(generate_series(1, greatest(len(w)-1, 0)),
                     i -> {'w1': w[i], 'w2': w[i+1]})) AS u FROM toks)
    ),
    c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY 1, 2),
    c1 AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1, COUNT(*) AS n1plus_fwd
           FROM c12 GROUP BY 1),
    cont AS (SELECT w2, COUNT(*) AS n1plus_bwd FROM c12 GROUP BY 1),
    nt AS (SELECT COUNT(*) AS n_bigram_types FROM c12),
    scored AS (
        SELECT doc_id,
               CAST(round(ln(
                   greatest(c12 - 0.75, 0.0) / c1
                   + (0.75 * n1plus_fwd / c1)
                     * (CAST(n1plus_bwd AS DOUBLE) / n_bigram_types)
               ), 9) AS DECIMAL(18,9)) AS lp
        FROM bg JOIN c12 USING (w1, w2) JOIN c1 USING (w1) JOIN cont USING (w2), nt
    ),
    per_doc AS (
        SELECT doc_id,
               CAST(ROUND(CAST(SUM(lp) AS DOUBLE) / COUNT(*), 6) AS DECIMAL(18,6)) AS avg_lp
        FROM scored GROUP BY 1
    ),
    per_src AS (
        SELECT source, COUNT(*) AS n_docs,
               ROUND(CAST(SUM(avg_lp) AS DOUBLE) / COUNT(*), 9) AS mean_logp
        FROM per_doc JOIN documents USING (doc_id) GROUP BY 1
    ),
    z AS (SELECT SUM(exp(mean_logp)) AS z FROM per_src)
    SELECT source, n_docs, mean_logp,
           ROUND(exp(mean_logp) / z, 9) AS mix_weight
    FROM per_src, z
    """,
    doc="LM-likelihood-driven mixture weights — the DoReMi-flavored "
    "composition built ON q_lm_score_kn's scoring: per-source mean "
    "Kneser-Ney document log-likelihood (a fluency/cleanliness signal) "
    "softmaxed into sampling weights, so cleaner sources upweight in "
    "the next training mix (pairs with q_temperature_sample, which "
    "weights by SIZE; this weights by QUALITY). Exactness: per-doc "
    "scores re-use the full KN integerized-log pipeline; the source "
    "mean sums the rounded per-doc DECIMALs exactly (never a "
    "float-order-dependent AVG) before ONE IEEE division; the softmax "
    "is exp of identical rounded inputs — libm agreement well inside "
    "the round-9 canon. Composition note: the Spark side literally "
    "CALLS the registered q_lm_score_kn builder — operator reuse, not "
    "copy — then one |sources|-grain agg + a 1-row normalizer "
    "broadcast.",
    tags=("text", "lm", "curation"),
)
def q_lm_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    lm = q_lm_score_kn(spark, sf_dir).select("doc_id", "avg_logp_kn")
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    per_src = (
        lm.join(src, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(
                F.sum(F.col("avg_logp_kn").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1)),
                9,
            ).alias("mean_logp"),
        )
    )
    z = per_src.agg(F.sum(F.exp("mean_logp")).alias("z"))
    return per_src.crossJoin(F.broadcast(z)).select(
        "source",
        "n_docs",
        "mean_logp",
        F.round(F.exp("mean_logp") / F.col("z"), 9).alias("mix_weight"),
    )


@query(
    "q_feature_hashing",
    r"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
        FROM documents
    ),
    hashed AS (
        SELECT doc_id,
               CAST('0x' || substr(md5('fh:' || tok), 1, 15) AS BIGINT) % 64 AS bucket,
               CASE WHEN CAST('0x' || substr(md5('fhs:' || tok), 1, 15) AS BIGINT) % 2 = 0
                    THEN 1 ELSE -1 END AS sign
        FROM toks
    )
    SELECT doc_id, CAST(bucket AS INT) AS bucket,
           CAST(SUM(sign) AS BIGINT) AS weight
    FROM hashed GROUP BY 1, 2
    HAVING SUM(sign) <> 0
    """,
    doc="Feature hashing (the hashing trick, Weinberger et al. 2009): "
    "each token hashes to one of 64 buckets with an independent ±1 "
    "sign hash, per-doc bucket weights sum signed occurrences, zero "
    "weights drop — the constant-memory text vectorizer that needs NO "
    "vocabulary pass (the sign hash makes collisions cancel in "
    "expectation, which is why production hashed vectorizers are "
    "unbiased). Long-form (doc_id, bucket, weight) output: sparse by "
    "construction AND list-free for the typed comparator. Plan: one "
    "tokenize-explode projection (md5 bucket + salted md5 sign, the "
    "cross-engine determinism trick every sampler here uses), one "
    "partial-first agg on (doc_id, bucket) — the feature space is a "
    "CONSTANT 64 whatever the corpus, which is the operator's entire "
    "point at 100 TB: no vocab table, no second scan, no join.",
    tags=("text", "features", "agg"),
)
def q_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    toks = d.select("doc_id", F.explode(F.split(F.trim("text"), r"\s+")).alias("tok"))
    h = toks.select(
        "doc_id",
        F.pmod(
            F.conv(F.substring(F.md5(F.concat(F.lit("fh:"), F.col("tok"))), 1, 15), 16, 10)
            .cast("bigint"),
            F.lit(64),
        ).cast("int").alias("bucket"),
        F.when(
            F.pmod(
                F.conv(
                    F.substring(F.md5(F.concat(F.lit("fhs:"), F.col("tok"))), 1, 15), 16, 10
                ).cast("bigint"),
                F.lit(2),
            )
            == 0,
            F.lit(1),
        ).otherwise(F.lit(-1)).alias("sign"),
    )
    return (
        h.groupBy("doc_id", "bucket")
        .agg(F.sum("sign").cast("bigint").alias("weight"))
        .filter(F.col("weight") != 0)
    )


@query(
    "q_lm_heldout",
    r"""
    WITH split AS (
        SELECT doc_id, source, text,
               CASE WHEN CAST('0x' || substr(md5('split' || ':' || CAST(doc_id AS VARCHAR)), 1, 15)
                         AS BIGINT) % 10000 < 9000
                    THEN 'train' ELSE 'heldout' END AS part
        FROM documents
    ),
    toks AS (SELECT doc_id, source, part,
                    string_split_regex(trim(text), '\s+') AS w FROM split),
    bg AS (
        SELECT doc_id, source, part, u.w1 AS w1, u.w2 AS w2
        FROM (SELECT doc_id, source, part,
                     unnest(list_transform(generate_series(1, greatest(len(w)-1, 0)),
                     i -> {'w1': w[i], 'w2': w[i+1]})) AS u FROM toks)
    ),
    c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg WHERE part = 'train' GROUP BY 1, 2),
    c1 AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1, COUNT(*) AS n1plus_fwd
           FROM c12 GROUP BY 1),
    cont AS (SELECT w2, COUNT(*) AS n1plus_bwd FROM c12 GROUP BY 1),
    nt AS (SELECT COUNT(*) AS n_bigram_types FROM c12),
    held AS (SELECT source, w1, w2 FROM bg WHERE part = 'heldout'),
    scored AS (
        SELECT h.source,
               CAST(round(ln(
                   greatest(c12 - 0.75, 0.0) / c1
                   + (0.75 * n1plus_fwd / c1)
                     * (CAST(n1plus_bwd AS DOUBLE) / n_bigram_types)
               ), 9) AS DECIMAL(18,9)) AS lp
        FROM held h JOIN c12 USING (w1, w2) JOIN c1 USING (w1) JOIN cont USING (w2), nt
    ),
    totals AS (SELECT source, COUNT(*) AS n_bigrams FROM held GROUP BY 1),
    cov AS (SELECT source, COUNT(*) AS n_covered,
                   ROUND(CAST(SUM(lp) AS DOUBLE) / COUNT(*), 6) AS mean_logp_covered
            FROM scored GROUP BY 1)
    SELECT t.source AS source, t.n_bigrams,
           COALESCE(c.n_covered, 0) AS n_covered,
           ROUND(1.0 - COALESCE(c.n_covered, 0) * 1.0 / t.n_bigrams, 9) AS oov_bigram_rate,
           c.mean_logp_covered
    FROM totals t LEFT JOIN cov c USING (source)
    """,
    doc="Leakage-free LM evaluation — the protocol q_lm_score_kn "
    "deliberately does NOT follow (it scores in-sample, as a quality "
    "FILTER): Kneser-Ney counts train on the hash_split 90%% train "
    "side ONLY (the same salted-md5 split q_train_split pins, so no "
    "document straddles the boundary across engines or reruns), the "
    "10%% heldout side is scored against those counts, and the "
    "UNAVOIDABLE out-of-vocabulary mass is REPORTED (per-source OOV "
    "bigram rate) rather than smoothed over — covered-bigram mean "
    "log-likelihood + coverage is the honest pair of numbers for "
    "comparing sources. Plan: the train/heldout split is one "
    "projection (no second scan: both sides come from the same bigram "
    "explode, filtered); count tables partial-agg first; heldout "
    "scoring is the same co-shuffled join cascade as q_lm_score_kn "
    "with exact DECIMAL means.",
    tags=("text", "lm", "eval"),
)
def q_lm_heldout(spark: SparkSession, sf_dir: str) -> DataFrame:
    from c_tran_data_pipeline_spark.operators.curation import hash_split

    d = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    split = hash_split(d, key="doc_id")
    base = spread(split).select(
        "doc_id", "source",
        F.when(F.col("split") == "train", F.lit("train")).otherwise(F.lit("heldout")).alias("part"),
        F.split(F.trim("text"), r"\s+").alias("w"),
    )
    bg = base.select(
        "source", "part",
        F.explode(
            F.expr(
                "CASE WHEN size(w) >= 2 THEN"
                " transform(sequence(1, size(w)-1),"
                " i -> struct(w[i-1] AS w1, w[i] AS w2))"
                " ELSE CAST(array() AS array<struct<w1:string,w2:string>>) END"
            )
        ).alias("u"),
    ).select("source", "part", "u.w1", "u.w2")
    train = bg.filter(F.col("part") == "train")
    held = bg.filter(F.col("part") == "heldout").select("source", "w1", "w2")
    c12 = train.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    c1 = c12.groupBy("w1").agg(
        F.sum("c12").cast("bigint").alias("c1"), F.count(F.lit(1)).alias("n1plus_fwd")
    )
    cont = c12.groupBy("w2").agg(F.count(F.lit(1)).alias("n1plus_bwd"))
    ntypes = c12.agg(F.count(F.lit(1)).alias("n_bigram_types"))
    D = F.lit(0.75)
    p = F.greatest(F.col("c12") - D, F.lit(0.0)) / F.col("c1") + (
        D * F.col("n1plus_fwd") / F.col("c1")
    ) * (F.col("n1plus_bwd").cast("double") / F.col("n_bigram_types"))
    scored = (
        held.join(c12, ["w1", "w2"])
        .join(c1, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(ntypes))
        .select("source", F.round(F.log(p), 9).cast("decimal(18,9)").alias("lp"))
    )
    totals = held.groupBy("source").agg(F.count(F.lit(1)).alias("n_bigrams"))
    cov = scored.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_covered"),
        F.round(F.sum("lp").cast("double") / F.count(F.lit(1)), 6).alias("mean_logp_covered"),
    )
    return totals.join(cov, "source", "left").select(
        "source",
        "n_bigrams",
        F.coalesce("n_covered", F.lit(0)).alias("n_covered"),
        F.round(
            1.0 - F.coalesce("n_covered", F.lit(0)).cast("double") / F.col("n_bigrams"), 9
        ).alias("oov_bigram_rate"),
        "mean_logp_covered",
    )


@query(
    "q_ccnet_buckets",
    r"""
    WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
    bg AS (
        SELECT doc_id, u.w1 AS w1, u.w2 AS w2
        FROM (SELECT doc_id, unnest(list_transform(generate_series(1, greatest(len(w)-1, 0)),
                     i -> {'w1': w[i], 'w2': w[i+1]})) AS u FROM toks)
    ),
    c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY 1, 2),
    c1 AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1, COUNT(*) AS n1plus_fwd
           FROM c12 GROUP BY 1),
    cont AS (SELECT w2, COUNT(*) AS n1plus_bwd FROM c12 GROUP BY 1),
    nt AS (SELECT COUNT(*) AS n_bigram_types FROM c12),
    scored AS (
        SELECT doc_id,
               CAST(round(ln(
                   greatest(c12 - 0.75, 0.0) / c1
                   + (0.75 * n1plus_fwd / c1)
                     * (CAST(n1plus_bwd AS DOUBLE) / n_bigram_types)
               ), 9) AS DECIMAL(18,9)) AS lp
        FROM bg JOIN c12 USING (w1, w2) JOIN c1 USING (w1) JOIN cont USING (w2), nt
    ),
    per_doc AS (
        SELECT doc_id,
               ROUND(CAST(SUM(lp) AS DOUBLE) / COUNT(*), 6) AS avg_logp_kn
        FROM scored GROUP BY 1
    ),
    tiled AS (
        SELECT doc_id, avg_logp_kn,
               NTILE(3) OVER (ORDER BY avg_logp_kn DESC, doc_id) AS tile
        FROM per_doc
    )
    SELECT source,
           CASE tile WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket,
           COUNT(*) AS n_docs,
           ROUND(CAST(SUM(CAST(avg_logp_kn AS DECIMAL(18,6))) AS DOUBLE)
                 / COUNT(*), 9) AS mean_logp
    FROM tiled JOIN documents USING (doc_id)
    GROUP BY 1, 2
    """,
    doc="CCNet-style perplexity bucketing (Wenzek et al. 2020: web-crawl "
    "docs split into head/middle/tail by LM perplexity terciles, with "
    "'head' = most-fluent third kept for LM pretraining): per-doc "
    "Kneser-Ney log-likelihood (the registered q_lm_score_kn builder is "
    "CALLED, not copied — same composition contract as "
    "q_lm_mix_weights), global terciles via operators/rank.py's exact "
    "scale-safe global_ntile (deterministic total order: score DESC "
    "then doc_id — no single-partition window, no engine-NTILE "
    "dependence), then a |sources|x3-grain composition report. The "
    "per-(source,bucket) mean sums rounded per-doc DECIMALs exactly "
    "before ONE IEEE division (float-order independent). At 100 TB: "
    "the KN scoring is the dominant cost (count-table shuffles at "
    "bigram grain); the tercile assignment adds one boundary-sampling "
    "pass plus a bucket-grain counts exchange — never a global sort.",
    tags=("text", "lm", "curation"),
)
def q_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from c_tran_data_pipeline_spark.operators.rank import global_ntile

    lm = q_lm_score_kn(spark, sf_dir).select("doc_id", "avg_logp_kn")
    tiled = global_ntile(
        lm, 3, [F.col("avg_logp_kn").desc(), F.col("doc_id").asc()], bucket_col="tile"
    )
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    bucket = (
        F.when(F.col("tile") == 1, "head")
        .when(F.col("tile") == 2, "middle")
        .otherwise("tail")
    )
    return (
        tiled.join(src, "doc_id")
        .groupBy("source", bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(
                F.sum(F.col("avg_logp_kn").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1)),
                9,
            ).alias("mean_logp"),
        )
    )


@query(
    "q_dedup_lines",
    r"""
    WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk FROM documents),
    s AS (SELECT doc_id, tk,
                 unnest(generate_series(0, CAST(ceil(len(tk)/10.0) AS BIGINT) - 1)) AS seg_idx
          FROM t WHERE len(tk) >= 1),
    g AS (SELECT doc_id, seg_idx,
                 array_to_string(tk[seg_idx*10+1 : seg_idx*10+10], ' ') AS seg
          FROM s),
    k AS (SELECT doc_id, seg_idx, seg FROM (
            SELECT doc_id, seg_idx, seg,
                   ROW_NUMBER() OVER (PARTITION BY seg
                                      ORDER BY doc_id, seg_idx) AS occ
            FROM g) WHERE occ = 1),
    r AS (SELECT doc_id, COUNT(*) AS n_kept,
                 string_agg(seg, ' ' ORDER BY seg_idx) AS kept_text
          FROM k GROUP BY 1)
    SELECT t.doc_id,
           CAST(ceil(len(tk)/10.0) AS BIGINT) AS n_segments,
           CAST(COALESCE(n_kept, 0) AS BIGINT) AS n_kept_segments,
           COALESCE(kept_text, '') AS kept_text
    FROM t LEFT JOIN r USING (doc_id)
    """,
    doc="Line-grain dedup with document REASSEMBLY (the RefinedWeb/CCNet "
    "line-dedup shape, on a fixture whose text has no newlines: 'lines' "
    "are consecutive 10-word segments). Every distinct segment survives "
    "at exactly ONE position corpus-wide — first occurrence wins as the "
    "lexicographic MIN of (doc_id, seg_idx), elected as a struct-min "
    "aggregate (exact at any key/index magnitude — no encoded-key "
    "overflow) — and "
    "each doc re-concatenates its kept segments in position order. "
    "Differs from q_dedup_span_cut in GRAIN and ALIGNMENT: span-cut "
    "masks any duplicated sliding 8-gram (position-free), line-dedup "
    "removes whole aligned segments — the cheaper pass real pipelines "
    "run first (CCNet dedups paragraphs before anything sees a shingle "
    "index). Plan: ONE tokenize+explode pass at segment grain, winner "
    "election as a partial-first agg grouped by (xxhash64(seg), seg) — "
    "digest-led shuffle keys, but grouping on the segment STRING like "
    "the oracle so a 64-bit collision cannot merge two distinct "
    "segments — ONE join back on "
    "the same (hash, seg) pair (AQE reuses the exchange), then doc-grain "
    "reassembly via sort_array(collect_list(struct)) — bounded by doc "
    "length, the document-grain class. Docs losing every segment still "
    "emit a row (left join back to the doc grain, kept_text='').",
    tags=("text", "dedup", "curation"),
)
def q_dedup_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    from c_tran_data_pipeline_spark.operators.dedup import dedup_lines

    docs = spread(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    return dedup_lines(docs, seg_words=10)


@query(
    "q_tokenizer_fertility",
    f"""
    WITH RECURSIVE {_bpe_encoded_vocab_ctes()},
    dw AS (
        SELECT source, unnest(string_split_regex(trim(text), '\\s+')) AS word
        FROM documents
    ),
    j AS (
        SELECT source, n_sub, octet_length(encode(word)) AS n_bytes
        FROM (SELECT * FROM dw WHERE word != '') dwf JOIN encoded USING (word)
    )
    SELECT source, COUNT(*) AS n_words,
           CAST(SUM(n_sub) AS BIGINT) AS n_tokens,
           ROUND(SUM(n_sub) * 1.0 / COUNT(*), 6) AS fertility,
           ROUND((SUM(n_bytes) + COUNT(*)) * 1.0 / SUM(n_sub), 6) AS bytes_per_token,
           ROUND(SUM(CASE WHEN n_sub = 1 THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6)
               AS unsplit_frac
    FROM j GROUP BY source
    """,
    doc="Tokenizer FERTILITY report by source — the metric a tokenizer "
    "eval actually publishes (HF tokenizers docs, XLM-R paper): "
    "subwords-per-word (fertility), bytes-per-token (compression), and "
    "the unsplit-word fraction, per source, under the committed cached "
    "BPE merge table (zero training jobs on this path — the "
    "q_bpe_token_counts amortization split). High fertility on one "
    "source = the vocabulary underfits it; the number that decides "
    "whether a 100 TB mixture needs a bigger vocab or per-source "
    "sampling. Plan: the doc-grain encode (distinct-word cascade + one "
    "co-shuffled join) feeds ONE source-grain partial-first aggregate; "
    "byte lengths ride the same scan. Fertility ≥ 1 by construction "
    "(every word emits ≥ 1 subword).",
    tags=("text", "tokenizer", "curation"),
)
def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    from c_tran_data_pipeline_spark.operators.bpe import bpe_encode_words

    docs = spread(load_table(spark, sf_dir, "documents").select("doc_id", "text", "source"))
    merges = cached_artifact(*_bpe_recipe(spark, sf_dir))
    doc_words = docs.select(
        "source", F.explode(F.split(F.trim("text"), r"\s+")).alias("word")
    ).filter(F.col("word") != "")
    vocab = doc_words.select("word").distinct()
    encoded = bpe_encode_words(vocab, merges).select(
        "word",
        F.size("tokens").alias("n_sub"),
        F.length(F.encode("word", "utf-8")).alias("n_bytes"),
    )
    return (
        doc_words.join(encoded, "word")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_sub").cast("bigint").alias("n_tokens"),
            F.round(F.sum("n_sub") / F.count(F.lit(1)), 6).alias("fertility"),
            # +1 byte/word: the </w> marker is part of the token stream
            F.round(
                (F.sum("n_bytes") + F.count(F.lit(1))) / F.sum("n_sub"), 6
            ).alias("bytes_per_token"),
            F.round(
                F.sum((F.col("n_sub") == 1).cast("int")) / F.count(F.lit(1)), 6
            ).alias("unsplit_frac"),
        )
    )
