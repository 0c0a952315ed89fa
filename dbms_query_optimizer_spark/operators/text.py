"""Text-analysis operators over the ``documents`` table.

The large-scale training-data-pipeline surface: token counting, language
identification, quality scoring, document fingerprinting. Every operator is
pure ``pyspark.sql.functions`` (codegen'd, no Python in the executor path)
and ships a DuckDB oracle whose SQL mirrors the Column expression tree
term-for-term — integer arithmetic and single IEEE divisions only, so
values are bit-identical across engines.

At 100 TB these are embarrassingly parallel map-only operators: no
shuffle at all until an aggregation; Parquet scans prune to (doc_id, text).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..cache import track_persist
from ..engine import fan_out, load_tables
from ..functions import text as T
from ..functions.text import word_ngrams

# ---------------------------------------------------------------------------
# shared DuckDB SQL fragments, mirrors of functions/text.py helpers
# ---------------------------------------------------------------------------

SQL_NORM = "lower(regexp_replace(text, '\\s+', ' ', 'g'))"
SQL_PAD = f"(' ' || {SQL_NORM} || ' ')"
SQL_TOKENS_WS = "len(string_split_regex(trim(text), '\\s+'))"
SQL_TOKENS_BPE = "len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\\s]'))"


def _sql_occ(marker: str, padded: str = SQL_PAD) -> str:
    """Occurrences via replace-length arithmetic (integer division)."""
    esc = marker.replace("'", "''")
    return f"((length({padded}) - length(replace({padded}, '{esc}', ''))) // {len(marker)})"


def _sql_lang_score(lang: str) -> str:
    return " + ".join(_sql_occ(m) for m in T.LANG_MARKERS[lang])


def _sql_predicted_lang() -> str:
    """Strictly-greater argmax chain in LANG_MARKERS order — the same
    tie-break as functions.text.predicted_lang."""
    langs = list(T.LANG_MARKERS)
    scores = {lg: f"s_{lg}" for lg in langs}
    expr = f"'{langs[0]}'"
    best = scores[langs[0]]
    for lg in langs[1:]:
        expr = f"CASE WHEN {scores[lg]} > {best} THEN '{lg}' ELSE {expr} END"
        best = f"greatest({scores[lg]}, {best})"
    inner = ", ".join(f"{_sql_lang_score(lg)} AS s_{lg}" for lg in langs)
    return expr, inner


SQL_STOPWORDS = " + ".join(_sql_occ(f" {w} ") for w in T.STOPWORDS)
SQL_MEAN_TOKEN_LEN = f"(length(replace({SQL_NORM}, ' ', '')) / {SQL_TOKENS_WS})"
SQL_STOP_RATIO = f"(({SQL_STOPWORDS}) / {SQL_TOKENS_WS})"
SQL_QUALITY = (
    f"least(1.0, {SQL_TOKENS_WS} / 50.0) * 0.4"
    f" + least(1.0, {SQL_STOP_RATIO} * 5.0) * 0.3"
    f" + (CASE WHEN {SQL_MEAN_TOKEN_LEN} >= 3.0 AND {SQL_MEAN_TOKEN_LEN} <= 8.0"
    f"    THEN 1.0 ELSE 0.0 END) * 0.3"
)


# ---------------------------------------------------------------------------
# operators
# ---------------------------------------------------------------------------


def q_text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token statistics (whitespace + BPE-ish counts,
    char counts, mean token length)."""
    t = load_tables(spark, sf_dir)
    return t["documents"].select(
        "doc_id",
        F.length("text").alias("n_chars_actual"),
        T.token_count_ws("text").alias("n_tokens_ws"),
        T.token_count_bpe_ish("text").alias("n_tokens_bpe"),
        T.mean_token_len("text").alias("mean_token_len"),
    )


ORACLE_TEXT_TOKEN_STATS = f"""
    SELECT doc_id,
           length(text) AS n_chars_actual,
           {SQL_TOKENS_WS} AS n_tokens_ws,
           {SQL_TOKENS_BPE} AS n_tokens_bpe,
           {SQL_MEAN_TOKEN_LEN} AS mean_token_len
    FROM documents
"""


def q_text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword/n-gram-marker language identification with per-language
    scores and deterministic argmax; compared against the labeled lang."""
    t = load_tables(spark, sf_dir)
    scores = T.lang_scores("text")
    return t["documents"].select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        *[scores[lg].alias(f"s_{lg}") for lg in T.LANG_MARKERS],
        T.predicted_lang("text").alias("predicted_lang"),
    )


def _oracle_lang_id() -> str:
    case_expr, inner = _sql_predicted_lang()
    return f"""
    SELECT doc_id, labeled_lang, {', '.join('s_' + lg for lg in T.LANG_MARKERS)},
           {case_expr} AS predicted_lang
    FROM (
        SELECT doc_id, lang AS labeled_lang, {inner}
        FROM documents
    )
    """


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality score + its components, per document."""
    t = load_tables(spark, sf_dir)
    return t["documents"].select(
        "doc_id",
        T.stopword_ratio("text").alias("stop_ratio"),
        T.mean_token_len("text").alias("mean_token_len"),
        T.quality_score("text").alias("quality"),
    )


ORACLE_TEXT_QUALITY = f"""
    SELECT doc_id,
           {SQL_STOP_RATIO} AS stop_ratio,
           {SQL_MEAN_TOKEN_LEN} AS mean_token_len,
           {SQL_QUALITY} AS quality
    FROM documents
"""


def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content fingerprint (md5 of normalized text) + dup-group size."""
    t = load_tables(spark, sf_dir)
    docs = t["documents"].select("doc_id", T.fingerprint_md5("text").alias("fp"))
    sizes = docs.groupBy("fp").agg(F.count(F.lit(1)).alias("n_same"))
    return docs.join(sizes, "fp").select("doc_id", "fp", "n_same")


ORACLE_TEXT_FINGERPRINT = f"""
    WITH fps AS (SELECT doc_id, md5({SQL_NORM}) AS fp FROM documents)
    SELECT doc_id, fp, n_same
    FROM fps JOIN (SELECT fp, COUNT(*) AS n_same FROM fps GROUP BY fp) USING (fp)
"""


def rolling_fingerprint_expr(docs: DataFrame) -> DataFrame:
    """Pure-Column rolling-hash sketch (JVM higher-order functions).

    Reference implementation for cross-checking; the catalog query uses
    the Arrow/numpy form below, which computes identical integers ~2.5x
    faster (Spark's higher-order lambdas are interpreted, not codegen'd,
    so this is the documented case where a vectorized Pandas UDF wins).
    """
    staged = (
        docs.select("doc_id", T.norm_text("text").alias("nrm"))
        .select("doc_id", T.codepoints("nrm").alias("cp"))
        .select("doc_id", T.rolling_hashes("cp").alias("hs"))
    )
    return staged.select(
        "doc_id",
        F.size("hs").alias("n_windows"),
        F.array_min("hs").alias("fp_min"),
        F.size(F.array_distinct("hs")).alias("n_distinct"),
    )


def rolling_fingerprint_arrow(docs: DataFrame) -> DataFrame:
    """Arrow-batched numpy rolling hash: utf-32 decode gives the codepoint
    vector in one shot; Horner's rule is ROLL_K vectorized int64 ops per
    document. Exact same arithmetic as the Column form (mod after every
    step keeps values < 2^63)."""
    import numpy as np
    import pandas as pd

    B, P, K = T.ROLL_BASE, T.ROLL_PRIME, T.ROLL_K

    def roll(batches):
        for pdf in batches:
            out = []
            for did, nrm in zip(pdf["doc_id"], pdf["nrm"]):
                cp = np.frombuffer(nrm.encode("utf-32-le"), dtype=np.uint32).astype(np.int64)
                n = len(cp) - K + 1
                if n <= 0:
                    out.append((did, 0, None, 0))
                    continue
                h = np.zeros(n, dtype=np.int64)
                for j in range(K):
                    h = (h * B + cp[j : j + n]) % P
                out.append((did, n, int(h.min()), len(np.unique(h))))
            yield pd.DataFrame(
                out, columns=["doc_id", "n_windows", "fp_min", "n_distinct"]
            )

    return docs.select("doc_id", T.norm_text("text").alias("nrm")).mapInPandas(
        roll, schema="doc_id long, n_windows int, fp_min long, n_distinct int"
    )


def q_text_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rabin-Karp rolling-hash document sketch: polynomial hashes of every
    8-char window of the normalized text; emits the window count, the
    minimum hash (the winnowing-style sketch value) and the distinct-hash
    count."""
    t = load_tables(spark, sf_dir)
    return rolling_fingerprint_arrow(
        fan_out(t["documents"])
    ).orderBy("doc_id")


def sql_rolling_hash_ctes() -> str:
    """CTE block (normd/cps/hs) deriving each document's Rabin-Karp
    window-hash array ``h`` in DuckDB — the single definition shared by
    the rolling-fingerprint oracle here and the winnowing-dedup oracle
    in dedup.py (one definition per expression, the round-9 review
    discipline). Mirrors functions/text.py::rolling_hashes exactly."""
    horner = "CAST(0 AS BIGINT)"
    for j in range(T.ROLL_K):
        ix = "i" if j == 0 else f"i+{j}"
        horner = f"(({horner} * {T.ROLL_BASE} + cp[{ix}]) % {T.ROLL_PRIME})"
    return f"""normd AS (SELECT doc_id, {SQL_NORM} AS nrm FROM documents),
    cps AS (
        SELECT doc_id,
               list_transform(generate_series(1, length(nrm)),
                              i -> ord(substr(nrm, i, 1))) AS cp
        FROM normd
    ),
    hs AS (
        SELECT doc_id,
               list_transform(generate_series(1, greatest(len(cp) - {T.ROLL_K - 1}, 0)),
                              i -> {horner}) AS h
        FROM cps
    )"""


def _sql_rolling_fingerprint() -> str:
    return f"""
    WITH {sql_rolling_hash_ctes()}
    SELECT doc_id,
           len(h) AS n_windows,
           list_min(h) AS fp_min,
           len(list_distinct(h)) AS n_distinct
    FROM hs
    ORDER BY doc_id
    """


def q_text_lang_quality_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus roll-up: per labeled language, docs / mean quality / token mass.

    The reduction layer over the map-only scores: the shuffle carries one
    row per language, so this aggregates arbitrarily large corpora.
    """
    t = load_tables(spark, sf_dir)
    scored = t["documents"].select(
        "lang",
        T.token_count_ws("text").alias("n_tokens"),
        T.quality_score("text").alias("quality"),
    )
    return (
        scored.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.round(F.sum("quality"), 6).alias("sum_quality"),
        )
        .orderBy("lang")
    )


ORACLE_TEXT_LANG_QUALITY_SUMMARY = f"""
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM({SQL_TOKENS_WS}) AS BIGINT) AS total_tokens,
           ROUND(SUM({SQL_QUALITY}), 6) AS sum_quality
    FROM documents
    GROUP BY lang
    ORDER BY lang
"""


def q_text_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID evaluation: confusion matrix of predicted vs labeled
    language, with per-cell counts and per-labeled-language recall.

    The eval loop every classifier-driven cleaning stage needs — the
    lang-id gate (``text_lang_id``) drops documents, so its error
    structure must be measurable on the same engine that applies it. Two
    map-only score columns feed a |langs|² aggregation; recall divides by
    the label's row count via a window over the tiny matrix.
    """
    t = load_tables(spark, sf_dir)
    pairs = t["documents"].select(
        F.col("lang").alias("labeled_lang"),
        T.predicted_lang("text").alias("predicted_lang"),
    )
    cells = pairs.groupBy("labeled_lang", "predicted_lang").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    w_label = W.partitionBy("labeled_lang")
    return (
        cells.withColumn(
            "recall",
            F.round(F.col("n_docs") / F.sum("n_docs").over(w_label), 6),
        )
        .orderBy("labeled_lang", "predicted_lang")
    )


def _oracle_lang_confusion() -> str:
    case_expr, inner = _sql_predicted_lang()
    return f"""
    WITH pred AS (
        SELECT labeled_lang, {case_expr} AS predicted_lang
        FROM (SELECT lang AS labeled_lang, {inner} FROM documents)
    ),
    cells AS (
        SELECT labeled_lang, predicted_lang, COUNT(*) AS n_docs
        FROM pred GROUP BY labeled_lang, predicted_lang
    )
    SELECT labeled_lang, predicted_lang, n_docs,
           ROUND(CAST(n_docs AS DOUBLE)
                 / SUM(n_docs) OVER (PARTITION BY labeled_lang), 6) AS recall
    FROM cells
    ORDER BY labeled_lang, predicted_lang
    """


TFIDF_MIN_TOKEN_LEN = 3
TFIDF_TOP_K = 5


def q_text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF: top-K most characteristic tokens per language.

    Three aggregations over one tokenization: term frequency per (lang,
    token), document frequency per token, and the corpus size — joined,
    scored tf·ln(N/df), ranked per language. All shuffles move aggregated
    (token-level) rows, never the exploded token stream: map-side combine
    collapses each partition to its distinct tokens first, and the
    df⋈tf join is on already-aggregated data. The corpus size joins in as
    a broadcast scalar, not a driver-side collected constant.
    """
    docs = load_tables(spark, sf_dir)["documents"]
    tokens = (
        fan_out(docs.select("doc_id", "lang", "text"))
        .select(
            "doc_id",
            "lang",
            F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("token"),
        )
        .filter(F.length("token") >= TFIDF_MIN_TOKEN_LEN)
    )
    tf = tokens.groupBy("lang", "token").agg(F.count(F.lit(1)).alias("n_tf"))
    dfreq = (
        tokens.select("token", "doc_id")
        .distinct()
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_df"))
    )
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "token")
        .join(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(
                F.col("n_tf")
                * F.log(F.col("n_docs").cast("double") / F.col("n_df")),
                6,
            ),
        )
    )
    w = W.partitionBy("lang").orderBy(F.col("tfidf").desc(), F.col("token"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TFIDF_TOP_K)
        .select("lang", "token", "n_tf", "n_df", "tfidf", "rank")
        .orderBy("lang", "rank")
    )


ORACLE_TEXT_TFIDF_TOP_TERMS = f"""
    WITH tok AS (
        SELECT doc_id, lang,
               unnest(string_split_regex(lower(text), '[^a-z]+')) AS token
        FROM documents
    ),
    tok2 AS (SELECT * FROM tok WHERE length(token) >= {TFIDF_MIN_TOKEN_LEN}),
    tf AS (SELECT lang, token, COUNT(*) AS n_tf FROM tok2 GROUP BY 1, 2),
    dfq AS (SELECT token, COUNT(DISTINCT doc_id) AS n_df FROM tok2 GROUP BY 1),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
        SELECT lang, token, n_tf, n_df,
               ROUND(n_tf * ln(CAST(n_docs AS DOUBLE) / n_df), 6) AS tfidf,
               ROW_NUMBER() OVER (
                   PARTITION BY lang
                   ORDER BY n_tf * ln(CAST(n_docs AS DOUBLE) / n_df) DESC, token
               ) AS rank
        FROM tf JOIN dfq USING (token) CROSS JOIN n
    )
    SELECT lang, token, n_tf, n_df, tfidf, rank
    FROM scored
    WHERE rank <= {TFIDF_TOP_K}
    ORDER BY lang, rank
"""


def q_text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-trained unigram LM score: mean negative log-likelihood of each
    document under the corpus's own unigram distribution (the cheap
    perplexity proxy used to rank training data; Wenzek et al. 2020's
    CCNet does this with a 5-gram KenLM — the Spark plumbing is the same).

    Two aggregations over one tokenization: corpus token frequencies
    (map-side-combined, shuffle carries distinct tokens only) and the
    per-document mean of -ln(freq/total) after a token-level join. Every
    token appears in its own training corpus, so there is no OOV mass to
    smooth. Low mean NLL = repetitive/common-word docs; high = rare-token
    soup — both tails are what the gate drops.
    """
    docs = load_tables(spark, sf_dir)["documents"]
    tokens = fan_out(docs.select("doc_id", "text")).select(
        "doc_id", F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("token")
    ).filter(F.length("token") >= 1)
    freq = tokens.groupBy("token").agg(F.count(F.lit(1)).alias("n_tok"))
    total = freq.agg(F.sum("n_tok").alias("n_total"))
    return (
        tokens.join(freq, "token")
        .join(F.broadcast(total))
        .withColumn(
            "nll", -F.log(F.col("n_tok").cast("double") / F.col("n_total"))
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.avg("nll"), 6).alias("mean_nll"),
        )
        .orderBy("doc_id")
    )


ORACLE_TEXT_UNIGRAM_LOGPROB = """
    WITH tok AS (
        SELECT doc_id, t.token
        FROM documents, UNNEST(string_split_regex(lower(text), '[^a-z]+')) AS t(token)
        WHERE length(t.token) >= 1
    ), freq AS (
        SELECT token, COUNT(*) AS n_tok FROM tok GROUP BY token
    ), total AS (
        SELECT SUM(n_tok) AS n_total FROM freq
    )
    SELECT doc_id, COUNT(*) AS n_tokens,
           ROUND(AVG(-ln(CAST(n_tok AS DOUBLE) / n_total)), 6) AS mean_nll
    FROM tok JOIN freq USING (token) CROSS JOIN total
    GROUP BY doc_id
    ORDER BY doc_id
"""


def q_text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram conditional LM score: per-document mean of
    -ln(c(w1,w2) / c(w1)) under corpus-wide counts — one rung up the
    n-gram ladder from text_unigram_logprob (context-sensitive, so
    common-words-in-odd-order now scores as surprising).

    Same two-aggregate shape as the unigram scorer plus one more join:
    bigram frequencies and unigram (context) frequencies are both
    map-side-combined before their shuffles; the per-doc join streams the
    bigram list against the two aggregated sides. Token arrays are staged
    as attribute references before the n-gram zip (functions/text.py
    tokens() docstring: inlined expression trees re-evaluate per element).
    """
    docs = load_tables(spark, sf_dir)["documents"]
    arr = F.filter(
        F.split(F.lower("text"), "[^a-z]+"), lambda x: F.length(x) >= 1
    )
    staged = docs.select("doc_id", arr.alias("tk"))
    bg = staged.select(
        "doc_id", F.explode(word_ngrams("tk", 2)).alias("big")
    ).withColumn("w1", F.substring_index("big", " ", 1))
    uni = (
        staged.select(F.explode("tk").alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_uni"))
    )
    bf = bg.groupBy("big").agg(F.count(F.lit(1)).alias("n_bg"))
    return (
        bg.join(bf, "big")
        .join(uni, bg["w1"] == uni["token"])
        .withColumn("nll", -F.log(F.col("n_bg").cast("double") / F.col("n_uni")))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg("nll"), 6).alias("mean_nll"),
        )
        .orderBy("doc_id")
    )


ORACLE_TEXT_BIGRAM_LOGPROB = """
    WITH arr AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '[^a-z]+'),
                           x -> length(x) >= 1) AS tk
        FROM documents
    ), bg AS (
        SELECT doc_id, tk[i] AS w1, tk[i] || ' ' || tk[i+1] AS big
        FROM arr, UNNEST(generate_series(1, len(tk) - 1)) AS t(i)
    ), uni AS (
        SELECT u.token, COUNT(*) AS n_uni
        FROM arr, UNNEST(tk) AS u(token)
        GROUP BY u.token
    ), bf AS (
        SELECT big, COUNT(*) AS n_bg FROM bg GROUP BY big
    )
    SELECT doc_id, COUNT(*) AS n_bigrams,
           ROUND(AVG(-ln(CAST(n_bg AS DOUBLE) / n_uni)), 6) AS mean_nll
    FROM bg
    JOIN bf USING (big)
    JOIN uni ON bg.w1 = uni.token
    GROUP BY doc_id
    ORDER BY doc_id
"""


def q_quality_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style document quality gate (Rae et al. 2021, §A1.1 "quality
    filtering", adapted to the rules this corpus can discriminate): word
    count, mean word length, stopword evidence, and token-repetition
    fraction, each as an explicit boolean rule column plus the final keep.

    Line-based Gopher rules (bullet ratio, ellipsis lines) are degenerate
    on this corpus (no newlines), so the repetition axis uses the
    distinct-token ratio instead of the paper's 2-gram fraction.

    At 100 TB this is the map-only pre-filter in front of every expensive
    dedup/embedding stage: no shuffle, all rules in one codegen'd
    projection over a (doc_id, text) pruned scan.
    """
    t = load_tables(spark, sf_dir)
    n_tok = T.token_count_ws("text")
    mtl = T.mean_token_len("text")
    padded = F.concat(F.lit(" "), T.norm_text("text"), F.lit(" "))
    n_stop = sum((T.occurrence_count(padded, f" {w} ") for w in T.STOPWORDS), F.lit(0))
    dtr = T.distinct_token_ratio("text")
    r_wordcount = (n_tok >= 30) & (n_tok <= 100000)
    r_mean_len = (mtl >= 3.0) & (mtl <= 10.0)
    r_stopwords = n_stop >= 2
    r_repetition = dtr >= 0.45
    return t["documents"].select(
        "doc_id",
        n_tok.alias("n_tokens"),
        dtr.alias("distinct_ratio"),
        r_wordcount.alias("r_wordcount"),
        r_mean_len.alias("r_mean_len"),
        r_stopwords.alias("r_stopwords"),
        r_repetition.alias("r_repetition"),
        (r_wordcount & r_mean_len & r_stopwords & r_repetition).alias("keep"),
    )


SQL_DTR = (
    r"(len(list_distinct(string_split_regex(trim(text), '\s+')))"
    r" / len(string_split_regex(trim(text), '\s+')))"
)

ORACLE_QUALITY_GOPHER_RULES = f"""
    SELECT doc_id, n_tokens, distinct_ratio,
           r_wordcount, r_mean_len, r_stopwords, r_repetition,
           (r_wordcount AND r_mean_len AND r_stopwords AND r_repetition) AS keep
    FROM (
        SELECT doc_id,
               {SQL_TOKENS_WS} AS n_tokens,
               {SQL_DTR} AS distinct_ratio,
               ({SQL_TOKENS_WS} >= 30 AND {SQL_TOKENS_WS} <= 100000) AS r_wordcount,
               ({SQL_MEAN_TOKEN_LEN} >= 3.0 AND {SQL_MEAN_TOKEN_LEN} <= 10.0) AS r_mean_len,
               (({SQL_STOPWORDS}) >= 2) AS r_stopwords,
               ({SQL_DTR} >= 0.45) AS r_repetition
        FROM documents
    )
"""


BM25_K1 = 1.2
BM25_B = 0.75
BM25_TERMS = ("join", "table", "query")


def q_bm25_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 relevance of every document against a fixed 3-term
    query (k1=1.2, b=0.75, Lucene's non-negative idf), one row per
    document containing at least one query term.

    Scale shape: the term filter runs BEFORE the tf shuffle, so the
    per-(doc, term) aggregate carries only query-term hits — a few rows
    per matching doc, not the corpus token explosion. Document length is
    the one corpus-wide aggregate (map-side combined); N/avgdl collapse
    to a 1-row broadcast and the per-term df table broadcasts (|terms|
    rows). Nothing quadratic, no Python in the hot path. (An r11
    single-pass rewrite — per-doc tf as filtered array sizes, zero
    explode — was measured and REJECTED: without explode the tokenizer
    regex re-ran once per term column after project collapse, 0.90 s →
    1.88 s A/B on the same box; the explode form tokenizes each row
    exactly once.)"""
    docs = load_tables(spark, sf_dir)["documents"]
    toks = docs.select(
        "doc_id", F.split(F.lower("text"), "[^a-z]+").alias("_tk")
    ).select(
        "doc_id",
        F.explode(
            F.filter(F.col("_tk"), lambda x: F.length(x) >= 1)
        ).alias("token"),
    )
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_dl"))
    stats = docs.agg(F.count(F.lit(1)).alias("n_docs")).crossJoin(
        dl.agg(F.avg("n_dl").alias("avgdl"))
    )
    tf = (
        toks.filter(F.col("token").isin(*BM25_TERMS))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df_t"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df_t") + 0.5) / (F.col("df_t") + 0.5)
    )
    term_score = idf * (
        F.col("tf")
        * (BM25_K1 + 1)
        / (
            F.col("tf")
            + BM25_K1
            * (1 - BM25_B + BM25_B * F.col("n_dl") / F.col("avgdl"))
        )
    )
    return (
        tf.join(dl, "doc_id")
        .join(F.broadcast(dfreq), "token")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.round(F.sum(term_score), 6).alias("bm25"))
        .orderBy("doc_id")
    )


ORACLE_BM25_SCORE = f"""
    WITH toks AS (
        SELECT doc_id, t.token
        FROM documents,
             UNNEST(list_filter(string_split_regex(lower(text), '[^a-z]+'),
                                x -> len(x) >= 1)) AS t(token)
    ), dl AS (
        SELECT doc_id, COUNT(*) AS n_dl FROM toks GROUP BY doc_id
    ), stats AS (
        SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
               (SELECT AVG(n_dl) FROM dl) AS avgdl
    ), tf AS (
        SELECT doc_id, token, COUNT(*) AS tf
        FROM toks
        WHERE token IN ({", ".join(f"'{t}'" for t in BM25_TERMS)})
        GROUP BY doc_id, token
    ), dfreq AS (
        SELECT token, COUNT(*) AS df_t FROM tf GROUP BY token
    )
    SELECT doc_id,
           ROUND(SUM(ln(1.0 + (n_docs - df_t + 0.5) / (df_t + 0.5))
                     * tf * ({BM25_K1} + 1)
                     / (tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * n_dl / avgdl))), 6) AS bm25
    FROM tf
    JOIN dl USING (doc_id)
    JOIN dfreq USING (token)
    CROSS JOIN stats
    GROUP BY doc_id
    ORDER BY doc_id
    """


def q_doc_repeat_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition cleanup (the C4/Gopher line-dedup rule at
    token granularity): collapse CONSECUTIVE repeated tokens, report
    before/after counts and the cleaned text. One indexed higher-order
    filter — token i survives iff i = 0 or it differs from token i-1 —
    entirely JVM-side, zero shuffle, fused with the scan: the map-only
    rewrite shape an ingest cleaning pass must have at 100 TB. The
    DuckDB oracle runs the same indexed lambda (1-based there)."""
    docs = load_tables(spark, sf_dir)["documents"]
    # materialize the token array ONCE per row: the naive single-expression
    # form re-evaluated split(trim(text)) inside the lambda for every
    # token index — quadratic in document length
    tokd = fan_out(docs.select("doc_id", "text")).select(
        "doc_id", F.split(F.trim(F.col("text")), " ").alias("toks")
    )
    cleaned = F.expr("filter(toks, (x, i) -> i = 0 OR x <> toks[i-1])")
    return (
        tokd.select(
            "doc_id",
            F.size("toks").alias("n_tokens_before"),
            F.size(cleaned).alias("n_tokens_after"),
            (F.size("toks") - F.size(cleaned)).alias("n_removed"),
            F.array_join(cleaned, " ").alias("cleaned_text"),
        )
        .orderBy("doc_id")
    )


ORACLE_DOC_REPEAT_REMOVAL = """
    WITH t AS (
        SELECT doc_id,
               string_split(trim(text), ' ') AS toks,
               list_filter(string_split(trim(text), ' '),
                           (x, i) -> i = 1 OR x <> (string_split(trim(text), ' '))[i-1])
                   AS cleaned
        FROM documents
    )
    SELECT doc_id,
           CAST(len(toks) AS INT) AS n_tokens_before,
           CAST(len(cleaned) AS INT) AS n_tokens_after,
           CAST(len(toks) - len(cleaned) AS INT) AS n_removed,
           array_to_string(cleaned, ' ') AS cleaned_text
    FROM t
    ORDER BY doc_id
"""


# fixed logistic weights — a distilled "quality classifier" of the
# fasttext-gate kind every corpus pipeline runs at ingest; interpretable
# features, weights frozen at export time
QC_BIAS = -2.0
QC_W_STOP = 6.0
QC_W_MLEN = 0.4
QC_W_LTOK = 0.3
QC_THRESHOLD = 0.5


def q_quality_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model INFERENCE in the pipeline: a frozen logistic quality
    classifier scored per document entirely as codegen'd expressions —
    z = b + w·(stop_ratio, mean_token_len, ln(1+tokens)), p = σ(z),
    keep = p ≥ τ. No UDF, no model server: at 100 TB a distilled linear
    head over cheap features is the standard first gate (the expensive
    neural scorer then sees only the survivors), and expressing it as
    columns keeps it inside whole-stage codegen, fused with the scan.
    The DuckDB oracle runs the identical arithmetic; σ is computed via
    exp() on both engines and rounded at 6 dp.
    """
    t = load_tables(spark, sf_dir)
    z = (
        F.lit(QC_BIAS)
        + F.lit(QC_W_STOP) * T.stopword_ratio("text")
        + F.lit(QC_W_MLEN) * T.mean_token_len("text")
        + F.lit(QC_W_LTOK) * F.log(F.lit(1.0) + T.token_count_ws("text"))
    )
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    return (
        t["documents"]
        .select(
            "doc_id",
            "lang",
            F.round(p, 6).alias("quality_p"),
            (F.round(p, 6) >= QC_THRESHOLD).alias("keep"),
        )
        .orderBy("doc_id")
    )


ORACLE_QUALITY_CLASSIFIER_SCORE = f"""
    SELECT doc_id, lang,
           ROUND(1.0 / (1.0 + exp(-({QC_BIAS}
                 + {QC_W_STOP} * {SQL_STOP_RATIO}
                 + {QC_W_MLEN} * {SQL_MEAN_TOKEN_LEN}
                 + {QC_W_LTOK} * ln(1.0 + {SQL_TOKENS_WS})))), 6) AS quality_p,
           ROUND(1.0 / (1.0 + exp(-({QC_BIAS}
                 + {QC_W_STOP} * {SQL_STOP_RATIO}
                 + {QC_W_MLEN} * {SQL_MEAN_TOKEN_LEN}
                 + {QC_W_LTOK} * ln(1.0 + {SQL_TOKENS_WS})))), 6) >= {QC_THRESHOLD}
               AS keep
    FROM documents
    ORDER BY doc_id
"""


APPROX_TOPK_TERMS_K = 20


def q_approx_topk_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based heavy hitters: Spark 4's ``approx_top_k`` aggregate
    over the corpus token stream. The sketch is bounded-memory and
    MERGEABLE — each partition builds its own frequency sketch and only
    sketches cross the shuffle, so at 100 TB the shuffle volume is
    (sketch size × partitions), independent of vocabulary, where the
    exact path (``zipf_token_rank``) shuffles one row per distinct
    token.

    Hash-checkable since round 6 (the boolean-contract trick): the
    sketch's item ordering under count ties is implementation-defined,
    so raw (rank, token) rows can't be oracled — instead the output is
    a single-row audit whose exact values (``k``, ``n_tokens`` — the
    corpus token total) DuckDB recomputes, plus two contract booleans
    over the REAL sketch result: ``counts_exact_ok`` (every reported
    token's estimated count equals its exact corpus count — true here
    because the test vocabularies fit the sketch's maxItemsTracked, so
    the Space-Saving summary is exact) and ``topset_sound`` (no
    unreported token outcounts a reported one — the top-k set is a
    valid top-k under ties). tests/test_text_sketch.py keeps the
    per-row variant under independent pytest checks."""
    sk = _approx_topk_sketch(spark, sf_dir)
    docs = load_tables(spark, sf_dir)["documents"]
    tokens = (
        docs.select(F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
    )
    exact_counts = tokens.groupBy("token").agg(
        F.count(F.lit(1)).alias("exact_n")
    )
    joined = sk.join(exact_counts, "token", "left")
    rep_stats = joined.agg(
        F.count(F.lit(1)).alias("_n_rep"),
        F.sum(
            (F.col("est_count") == F.col("exact_n")).cast("long")
        ).alias("_n_match"),
        F.min("est_count").alias("_min_rep"),
    )
    unrep_max = (
        exact_counts.join(sk.select("token"), "token", "left_anti")
        .agg(F.coalesce(F.max("exact_n"), F.lit(0)).alias("_max_unrep"))
    )
    totals = tokens.agg(F.count(F.lit(1)).alias("n_tokens"))
    return (
        totals.crossJoin(rep_stats)
        .crossJoin(unrep_max)
        .select(
            F.lit(APPROX_TOPK_TERMS_K).alias("k"),
            "n_tokens",
            (
                (F.col("_n_rep") == F.lit(APPROX_TOPK_TERMS_K))
                & (F.col("_n_match") == F.col("_n_rep"))
            ).alias("counts_exact_ok"),
            (F.col("_max_unrep") <= F.col("_min_rep")).alias("topset_sound"),
        )
    )


def _approx_topk_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The raw sketch heavy-hitter rows (rnk, token, est_count) —
    Spark 4 ``approx_top_k`` over the corpus token stream. Used by the
    audit above and by tests/test_text_sketch.py directly."""
    docs = load_tables(spark, sf_dir)["documents"]
    tokens = (
        docs.select(F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
    )
    sk = tokens.selectExpr(f"approx_top_k(token, {APPROX_TOPK_TERMS_K}) AS tk")
    return sk.select(F.posexplode("tk").alias("pos", "s")).select(
        (F.col("pos") + 1).alias("rnk"),
        F.col("s.item").alias("token"),
        F.col("s.count").alias("est_count"),
    )


ORACLE_APPROX_TOPK_TERMS = f"""
    WITH toks AS (
        SELECT unnest(string_split(text, ' ')) AS token FROM documents
    )
    SELECT {APPROX_TOPK_TERMS_K} AS k,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           TRUE AS counts_exact_ok,
           TRUE AS topset_sound
    FROM toks WHERE token <> ''
"""


# mixed-language salting: the corpus is cleanly single-language, so to
# EXERCISE the mixed flag (not just compute it vacuously-false) every
# 7th doc gets a German-marker tail appended identically on both engines
# — the detector must then flag exactly those docs whose own language
# isn't German.
MIXED_SALT = " der die und der die und der die und der die und"
SQL_MIXED_SRC = (
    f"(text || CASE WHEN doc_id % 7 = 0 THEN '{MIXED_SALT}' ELSE '' END)"
)
SQL_HALF_CUT = f"CAST(floor(length({SQL_MIXED_SRC}) / 2) AS INT)"


def _sql_predicted_lang_over(expr: str, suffix: str) -> tuple[str, str]:
    """(case_expr, inner_select_fragment) for the predicted-language
    argmax computed over an arbitrary text expression; score columns are
    suffixed so two instances can coexist in one subquery."""
    langs = list(T.LANG_MARKERS)
    norm = f"lower(regexp_replace({expr}, '\\s+', ' ', 'g'))"
    padded = f"(' ' || {norm} || ' ')"
    inner = ", ".join(
        " + ".join(_sql_occ(m, padded) for m in T.LANG_MARKERS[lg])
        + f" AS s_{lg}_{suffix}"
        for lg in langs
    )
    case_expr = f"'{langs[0]}'"
    best = f"s_{langs[0]}_{suffix}"
    for lg in langs[1:]:
        case_expr = (
            f"CASE WHEN s_{lg}_{suffix} > {best} THEN '{lg}' ELSE {case_expr} END"
        )
        best = f"greatest(s_{lg}_{suffix}, {best})"
    return case_expr, inner


def q_text_mixed_language(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed-language detection — the cleaning gate for documents whose
    halves identify as DIFFERENT languages (concatenation artifacts,
    boilerplate in a second language, template wrappers): run the same
    marker-count language ID the corpus gate uses (text_lang_id) on each
    half of the document independently and flag disagreement.

    Every 7th doc is salted with a German tail (identical concat on both
    engines) so the flag genuinely fires — the detector must flag exactly
    the salted non-German docs. Split point is floor(len/2) computed
    identically on both engines (explicit floor: DuckDB's CAST(double AS
    INT) rounds, Spark's truncates — floor removes the divergence).

    Plan shape: three stages separated by EXPLICIT exchange barriers.
    Catalyst's projection collapse would otherwise inline the normalize/
    pad expression into every one of the 30 marker counts and each count
    into the argmax when-chains (~90 copies of a regexp_replace per row
    — measured 5.6 s at sf0.1); materializing (padded halves) → (score
    columns) → (argmax) behind two linear shuffles of tiny rows runs the
    normalization exactly once per half — 0.9 s, 6×. The same
    materialize-don't-reinline rule any wide expression DAG needs at
    100 TB."""
    docs = load_tables(spark, sf_dir)["documents"]

    def padded(expr: str):
        return F.concat(
            F.lit(" "),
            F.lower(F.regexp_replace(F.expr(expr), r"\s+", " ")),
            F.lit(" "),
        )

    halves = fan_out(
        docs.select(
            "doc_id",
            F.col("lang").alias("labeled_lang"),
            padded(f"substring({SQL_MIXED_SRC}, 1, {SQL_HALF_CUT})").alias("p1"),
            padded(f"substring({SQL_MIXED_SRC}, {SQL_HALF_CUT} + 1)").alias("p2"),
        )
    )

    def score_cols(pcol: str, suffix: str):
        return [
            sum(
                (T.occurrence_count(F.col(pcol), m) for m in markers), F.lit(0)
            ).alias(f"s_{lg}_{suffix}")
            for lg, markers in T.LANG_MARKERS.items()
        ]

    scored = fan_out(
        halves.select(
            "doc_id", "labeled_lang", *score_cols("p1", "h1"), *score_cols("p2", "h2")
        )
    )

    def argmax(suffix: str):
        langs = list(T.LANG_MARKERS)
        best_l, best_s = F.lit(langs[0]), F.col(f"s_{langs[0]}_{suffix}")
        for lg in langs[1:]:
            better = F.col(f"s_{lg}_{suffix}") > best_s
            best_l = F.when(better, F.lit(lg)).otherwise(best_l)
            best_s = F.when(better, F.col(f"s_{lg}_{suffix}")).otherwise(best_s)
        return best_l

    l1, l2 = argmax("h1"), argmax("h2")
    return scored.select(
        "doc_id",
        "labeled_lang",
        l1.alias("lang_h1"),
        l2.alias("lang_h2"),
        (l1 != l2).alias("is_mixed"),
    ).orderBy("doc_id")


def _oracle_text_mixed_language() -> str:
    case1, inner1 = _sql_predicted_lang_over(
        f"substring({SQL_MIXED_SRC}, 1, {SQL_HALF_CUT})", "h1"
    )
    case2, inner2 = _sql_predicted_lang_over(
        f"substring({SQL_MIXED_SRC}, {SQL_HALF_CUT} + 1)", "h2"
    )
    return f"""
    SELECT doc_id, labeled_lang,
           {case1} AS lang_h1, {case2} AS lang_h2,
           ({case1}) <> ({case2}) AS is_mixed
    FROM (
        SELECT doc_id, lang AS labeled_lang, {inner1}, {inner2}
        FROM documents
    )
    ORDER BY doc_id
    """


# PII redaction patterns — restricted to syntax Java regex (Spark) and
# RE2 (DuckDB) interpret identically: literal classes, +/{m,}, \\b, \\d.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"\b\d{3}-\d{4}\b"


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing — the redaction pass every LLM training pipeline
    runs before tokenization: count and mask email addresses and
    phone-shaped numbers per document.

    The corpus is synthetic word-salad with no PII, so each document is
    first salted DETERMINISTICALLY (doc_id % 3 repeated emails, a phone
    number on even doc_ids) with the identical concat on both engines —
    the redaction itself is then genuinely exercised and value-checked:
    per-doc match counts, the redacted length, and the md5 of the full
    redacted text (any masking difference anywhere in the string flips
    the hash).

    Scale: pure codegen Column expressions (concat/regexp_count/
    regexp_replace/md5) — zero Python, zero shuffles before the final
    presentation sort; at 100 TB this is a map-only pass at scan
    bandwidth."""
    docs = load_tables(spark, sf_dir)["documents"]
    salted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.expr(
                "repeat(concat(' u', cast(doc_id as string), '@example.com'),"
                " cast(doc_id % 3 as int))"
            ),
            F.when(
                F.col("doc_id") % 2 == 0,
                F.concat(
                    F.lit(" call 555-"),
                    F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                ),
            ).otherwise(F.lit("")),
        ).alias("t"),
    )
    red = salted.select(
        "doc_id",
        F.regexp_count("t", F.lit(PII_EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count("t", F.lit(PII_PHONE_RE)).cast("long").alias("n_phones"),
        F.regexp_replace(
            F.regexp_replace("t", PII_EMAIL_RE, "[EMAIL]"),
            PII_PHONE_RE,
            "[PHONE]",
        ).alias("redacted"),
    )
    return red.select(
        "doc_id",
        "n_emails",
        "n_phones",
        F.length("redacted").cast("long").alias("redacted_len"),
        F.md5("redacted").alias("redacted_md5"),
    ).orderBy("doc_id")


ORACLE_PII_REDACT = f"""
    WITH salted AS (
        SELECT doc_id,
               text
               || repeat(' u' || CAST(doc_id AS VARCHAR) || '@example.com',
                         CAST(doc_id % 3 AS INT))
               || CASE WHEN doc_id % 2 = 0
                       THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                       ELSE '' END AS t
        FROM documents
    ), red AS (
        SELECT doc_id,
               len(regexp_extract_all(t, '{PII_EMAIL_RE}')) AS n_emails,
               len(regexp_extract_all(t, '{PII_PHONE_RE}')) AS n_phones,
               regexp_replace(
                   regexp_replace(t, '{PII_EMAIL_RE}', '[EMAIL]', 'g'),
                   '{PII_PHONE_RE}', '[PHONE]', 'g') AS redacted
        FROM salted
    )
    SELECT doc_id, n_emails, n_phones,
           length(redacted) AS redacted_len,
           md5(redacted) AS redacted_md5
    FROM red
    ORDER BY doc_id
"""


def q_ccnet_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's signature move (Wenzek et al. 2020): rank each language's
    documents by LM score and cut into head / middle / tail terciles —
    head (most fluent under the LM) feeds training, tail gets dropped,
    middle is judgement-call. Here the LM is the corpus's own unigram
    model (q_text_unigram_logprob's score; CCNet uses 5-gram KenLM — the
    distributed plumbing is identical).

    Per-language NTILE(3) over (rounded mean NLL, doc_id) — the rounding
    happens BEFORE ranking on both engines so tercile boundaries can't
    be flipped by last-ulp NLL noise. One token-level join against the
    broadcast-size frequency table, then a per-language windowed rank
    over the doc-level aggregate.
    """
    docs = load_tables(spark, sf_dir)["documents"]
    tokens = (
        docs.select("doc_id", F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("token"))
        .filter(F.length("token") >= 1)
    )
    freq = tokens.groupBy("token").agg(F.count(F.lit(1)).alias("n_tok"))
    total = freq.agg(F.sum("n_tok").alias("n_total"))
    scored = (
        tokens.join(freq, "token")
        .join(F.broadcast(total))
        .withColumn(
            "nll", -F.log(F.col("n_tok").cast("double") / F.col("n_total"))
        )
        .groupBy("doc_id")
        .agg(F.round(F.avg("nll"), 6).alias("mean_nll"))
        .join(docs.select("doc_id", "lang"), "doc_id")
    )
    tercile = F.ntile(3).over(
        W.partitionBy("lang").orderBy("mean_nll", "doc_id")
    )
    return (
        scored.withColumn("tercile", tercile)
        .select(
            "doc_id",
            "lang",
            "mean_nll",
            F.when(F.col("tercile") == 1, "head")
            .when(F.col("tercile") == 2, "middle")
            .otherwise("tail")
            .alias("bucket"),
        )
        .orderBy("doc_id")
    )


ORACLE_CCNET_PPL_BUCKETS = """
WITH tok AS (
    SELECT doc_id, t.token
    FROM documents, UNNEST(string_split_regex(lower(text), '[^a-z]+')) AS t(token)
    WHERE length(t.token) >= 1
), freq AS (
    SELECT token, COUNT(*) AS n_tok FROM tok GROUP BY token
), total AS (
    SELECT SUM(n_tok) AS n_total FROM freq
), scored AS (
    SELECT tok.doc_id, ROUND(AVG(-ln(CAST(n_tok AS DOUBLE) / n_total)), 6)
               AS mean_nll
    FROM tok JOIN freq USING (token) CROSS JOIN total
    GROUP BY tok.doc_id
), ranked AS (
    SELECT s.doc_id, d.lang, s.mean_nll,
           NTILE(3) OVER (
               PARTITION BY d.lang ORDER BY s.mean_nll, s.doc_id
           ) AS tercile
    FROM scored s JOIN documents d USING (doc_id)
)
SELECT doc_id, lang, mean_nll,
       CASE tercile WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM ranked
ORDER BY doc_id
"""


SEG_WORDS = 10  # words per pseudo-line segment
BOILER_MIN_DOCS = 3  # a segment in >= this many docs is boilerplate


def q_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level boilerplate removal — the CCNet / RefinedWeb
    line-level dedup pass: segments that recur across many documents
    (headers, footers, nav chrome, license blurbs) are stripped from
    EVERY document, and the cleaned text is rebuilt in order. The
    testdata has no newlines, so "lines" are deterministic
    SEG_WORDS-word windows; on real web text the same plan runs on
    newline splits.

    Plan: ONE explode to (doc, seg_idx, segment) — persist()ed, since
    both the per-segment doc count and the join-back read it (the first
    shipped form recomputed the split+slice string work three times; the
    round-6 profile caught it) — one map-side-combined count of distinct
    docs per segment (shuffle = distinct segments, not corpus), a
    broadcast ANTI-join against the small boilerplate list (never a
    corpus re-shuffle by segment), and per-doc ordered reassembly via
    array_sort(collect_list(struct)) — the same struct-pinned ordering
    as session_paths, so the rebuilt text is byte-deterministic (the
    output hashes its md5). Per-doc segment totals come straight from
    the word count on the base table (ceil arithmetic, no third pass
    over the exploded frame). Removal is corpus-frequency-driven: a
    segment is judged by how many DISTINCT docs carry it, so a doc
    repeating its own phrase is untouched.
    """
    docs = load_tables(spark, sf_dir)["documents"]
    words = F.split("text", " ")
    n_segs = F.ceil(F.size(words) / F.lit(SEG_WORDS)).cast("int")
    segs = track_persist(
        docs.select(
            "doc_id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), n_segs - F.lit(1)),
                    lambda i: F.array_join(
                        F.slice(words, i * SEG_WORDS + 1, SEG_WORDS), " "
                    ),
                )
            ).alias("seg_idx", "seg"),
        )
    )  # read twice (per-seg doc counts + join-back); lineage kept; the
    # harness unpersists after the consuming action (cache.release_tracked)
    seg_docs = segs.groupBy("seg").agg(
        F.count_distinct("doc_id").alias("n_docs")
    )
    # Only the BOILERPLATE list (segments in >= BOILER_MIN_DOCS distinct
    # docs — the heavy-hitter tail, tiny relative to the corpus, same
    # class as corpus_prep's drop-list) crosses back: a broadcast
    # anti-join replaces the previous inner join + filter, whose build
    # side was the FULL distinct-segment count table — broadcastable at
    # sf0.1, but it grows as the corpus vocabulary and degrades to a
    # corpus-wide re-shuffle by segment string the moment it exceeds the
    # broadcast threshold, just to attach a count the filter immediately
    # discarded (r11, guide §3.2). The boiler list is frequency-bounded
    # (|seg,doc pairs| / BOILER_MIN_DOCS at worst) — far smaller than the
    # full vocabulary, but NOT provably broadcast-safe on an arbitrary
    # corpus, so no forced hint: AQE converts the anti-join to broadcast
    # at runtime when the measured build side fits the threshold, and
    # degrades to a shuffle (instead of a driver OOM) when it does not
    # (ADVICE r11). kept-set identity: every seg of ``segs`` appears in
    # ``seg_docs``, so inner-join-then-keep(n_docs < MIN) ==
    # anti-join(n_docs >= MIN).
    boiler = seg_docs.filter(F.col("n_docs") >= BOILER_MIN_DOCS).select("seg")
    kept = segs.join(boiler, "seg", "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("seg_idx", "seg"))),
                lambda s: s["seg"],
            ),
            " ",
        ).alias("clean_text"),
    )
    # per-doc totals are pure arithmetic on the base table — no need to
    # touch the exploded frame a third time
    totals = docs.select("doc_id", n_segs.cast("long").alias("n_segs"))
    return (
        totals.join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            "n_segs",
            (F.col("n_segs") - F.coalesce("n_kept", F.lit(0))).alias(
                "n_removed"
            ),
            F.md5(F.coalesce("clean_text", F.lit(""))).alias("clean_md5"),
        )
        .orderBy("doc_id")
    )


ORACLE_BOILERPLATE_STRIP = f"""
WITH segs AS (
    SELECT doc_id, i - 1 AS seg_idx,
           array_to_string(
               list_slice(string_split(text, ' '),
                          (i - 1) * {SEG_WORDS} + 1, i * {SEG_WORDS}), ' '
           ) AS seg
    FROM documents,
         UNNEST(range(1, CAST(CEIL(len(string_split(text, ' '))
                                   / {SEG_WORDS}.0) AS BIGINT) + 1)) t(i)
), seg_docs AS (
    SELECT seg, COUNT(DISTINCT doc_id) AS n_docs FROM segs GROUP BY seg
), kept AS (
    SELECT s.* FROM segs s JOIN seg_docs d USING (seg)
    WHERE d.n_docs < {BOILER_MIN_DOCS}
), rebuilt AS (
    SELECT doc_id, COUNT(*) AS n_kept,
           string_agg(seg, ' ' ORDER BY seg_idx) AS clean_text
    FROM kept GROUP BY doc_id
), totals AS (
    SELECT doc_id, COUNT(*) AS n_segs FROM segs GROUP BY doc_id
)
SELECT t.doc_id, t.n_segs,
       t.n_segs - COALESCE(r.n_kept, 0) AS n_removed,
       md5(COALESCE(r.clean_text, '')) AS clean_md5
FROM totals t LEFT JOIN rebuilt r USING (doc_id)
ORDER BY t.doc_id
"""


RAKE_TOP_K = 25
RAKE_SCALE = 1000  # word scores quantized to deg*SCALE DIV freq (exact ints)


def q_text_keyphrase_rake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrase extraction (Rose et al.) over the corpus: candidate
    phrases are maximal stopword-free token runs, each word is scored
    deg(w)/freq(w) (degree = summed length of phrases it appears in —
    rewarding words that travel in long collocations), and a phrase
    scores the sum of its words. Top RAKE_TOP_K distinct phrases.

    Cross-engine determinism: word scores are QUANTIZED to integers
    (deg·RAKE_SCALE DIV freq), so phrase scores are integer sums —
    order-free, no float accumulation anywhere. Phrase assembly sorts
    collected (pos, token) structs before joining, so the string is
    deterministic under any shuffle.

    Scale shape: one explode, phrase islands via the per-doc
    gaps-and-islands window (bounded by document length), then three
    hash aggregates (phrases, word stats, phrase scores) and a
    distributed TakeOrdered top-k — no corpus-global window, no Python.
    """
    t = load_tables(spark, sf_dir)
    toks = (
        t["documents"]
        .select(
            "doc_id",
            F.posexplode(F.split(F.lower("text"), "[^a-z]+")).alias(
                "pos", "token"
            ),
        )
        .filter(F.length("token") > 0)
        .withColumn("is_stop", F.col("token").isin(*T.STOPWORDS))
    )
    w = W.partitionBy("doc_id").orderBy("pos")
    cand = (
        toks.filter(~F.col("is_stop"))
        .withColumn("isl", F.col("pos") - F.row_number().over(w))
    )
    phrases = cand.groupBy("doc_id", "isl").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "token"))),
                lambda x: x.token,
            ),
        ).alias("phrase"),
        F.count(F.lit(1)).alias("phrase_len"),
    )
    occur = cand.join(phrases, ["doc_id", "isl"]).select(
        "doc_id", "isl", "token", "phrase", "phrase_len"
    )
    word_stats = occur.groupBy("token").agg(
        F.count(F.lit(1)).alias("freq"),
        F.sum("phrase_len").alias("deg"),
    )
    word_score = word_stats.withColumn(
        "w_score", F.expr(f"(deg * {RAKE_SCALE}) DIV freq")
    ).select("token", "w_score")
    occ_scores = (
        occur.join(word_score, "token")
        .groupBy("doc_id", "isl", "phrase")
        .agg(
            F.sum("w_score").alias("score"),
            F.count(F.lit(1)).alias("n_words"),
        )
    )
    return (
        occ_scores.groupBy("phrase")
        .agg(
            F.max("score").alias("score"),  # identical per occurrence
            F.max("n_words").alias("n_words"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .orderBy(F.col("score").desc(), "phrase")
        .limit(RAKE_TOP_K)
    )


ORACLE_TEXT_KEYPHRASE_RAKE = f"""
WITH base AS (
    SELECT doc_id, string_split_regex(lower(text), '[^a-z]+') AS arr
    FROM documents
), idx AS (
    SELECT doc_id, arr, UNNEST(range(len(arr))) AS pos FROM base
), toks AS (
    SELECT doc_id, CAST(pos AS INT) AS pos, arr[CAST(pos AS INT) + 1] AS token
    FROM idx WHERE length(arr[CAST(pos AS INT) + 1]) > 0
), cand AS (
    SELECT doc_id, pos, token,
           pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS isl
    FROM toks
    WHERE token NOT IN ({", ".join(repr(s) for s in T.STOPWORDS)})
), phrases AS (
    SELECT doc_id, isl,
           string_agg(token, ' ' ORDER BY pos) AS phrase,
           CAST(COUNT(*) AS BIGINT) AS phrase_len
    FROM cand GROUP BY doc_id, isl
), occur AS (
    SELECT c.doc_id, c.isl, c.token, p.phrase, p.phrase_len
    FROM cand c JOIN phrases p
      ON p.doc_id = c.doc_id AND p.isl = c.isl
), word_score AS (
    SELECT token,
           CAST((SUM(phrase_len) * {RAKE_SCALE}) // COUNT(*) AS BIGINT)
               AS w_score
    FROM occur GROUP BY token
), occ_scores AS (
    SELECT o.doc_id, o.isl, o.phrase,
           CAST(SUM(w.w_score) AS BIGINT) AS score,
           CAST(COUNT(*) AS BIGINT) AS n_words
    FROM occur o JOIN word_score w ON w.token = o.token
    GROUP BY o.doc_id, o.isl, o.phrase
)
SELECT phrase,
       CAST(MAX(score) AS BIGINT) AS score,
       CAST(MAX(n_words) AS BIGINT) AS n_words,
       CAST(COUNT(*) AS BIGINT) AS n_occurrences
FROM occ_scores
GROUP BY phrase
ORDER BY score DESC, phrase
LIMIT {RAKE_TOP_K}
"""


CALIBRATION_BINS = 10


def q_model_calibration_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram for the frozen quality classifier — the
    model-EVALUATION step a scoring gate needs before its threshold is
    trusted: bin predictions into fixed-width score bins and compare
    each bin's mean predicted probability against the observed positive
    rate (label: is-English). A well-calibrated gate has gap ≈ 0 in
    every populated bin; a miscalibrated one silently over- or
    under-filters.

    Determinism contract: the 6-dp-rounded score is recovered as an
    EXACT integer in micro-units (ROUND(p,6)·1e6 — the rounding already
    absorbed any last-ulp exp() variance, so both engines hold the same
    double and recover the same integer). Bin id, counts, and the
    summed micro-score are all exact integers; the calibration gap is a
    difference of two single IEEE divisions of those integers —
    bit-identical, emitted unrounded. One scan, one
    map-side-combining aggregate; scale shape is a histogram, not a
    model job.
    """
    t = load_tables(spark, sf_dir)
    z = (
        F.lit(QC_BIAS)
        + F.lit(QC_W_STOP) * T.stopword_ratio("text")
        + F.lit(QC_W_MLEN) * T.mean_token_len("text")
        + F.lit(QC_W_LTOK) * F.log(F.lit(1.0) + T.token_count_ws("text"))
    )
    p6 = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)
    p_micro = F.round(p6 * F.lit(1000000.0)).cast("long")
    bin_id = F.least(
        (p_micro * CALIBRATION_BINS / F.lit(1000000)).cast("long"),
        F.lit(CALIBRATION_BINS - 1),
    ).cast("int")
    scored = t["documents"].select(
        bin_id.alias("bin"),
        p_micro.alias("p_micro"),
        (F.col("lang") == "en").cast("long").alias("y"),
    )
    n = F.count(F.lit(1))
    n_pos = F.sum("y")
    sum_p = F.sum("p_micro")
    mean_pred = sum_p.cast("double") / (n * F.lit(1000000)).cast("double")
    actual = n_pos.cast("double") / n.cast("double")
    return (
        scored.groupBy("bin")
        .agg(
            n.alias("n_docs"),
            n_pos.alias("n_pos"),
            sum_p.cast("long").alias("sum_p_micro"),
            F.abs(mean_pred - actual).alias("calib_gap"),
        )
        .orderBy("bin")
    )


def _oracle_model_calibration_report() -> str:
    p6 = (
        f"ROUND(1.0 / (1.0 + exp(-({QC_BIAS} + {QC_W_STOP} * {SQL_STOP_RATIO}"
        f" + {QC_W_MLEN} * {SQL_MEAN_TOKEN_LEN}"
        f" + {QC_W_LTOK} * ln(1.0 + {SQL_TOKENS_WS})))), 6)"
    )
    return f"""
WITH scored AS (
    SELECT LEAST(CAST(CAST(ROUND({p6} * 1000000.0) AS BIGINT)
                      * {CALIBRATION_BINS} // 1000000 AS BIGINT),
                 {CALIBRATION_BINS - 1}) AS bin,
           CAST(ROUND({p6} * 1000000.0) AS BIGINT) AS p_micro,
           CAST(lang = 'en' AS BIGINT) AS y
    FROM documents
)
SELECT CAST(bin AS INT) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(y) AS BIGINT) AS n_pos,
       CAST(SUM(p_micro) AS BIGINT) AS sum_p_micro,
       ABS(CAST(SUM(p_micro) AS DOUBLE)
               / CAST(COUNT(*) * 1000000 AS DOUBLE)
           - CAST(SUM(y) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)) AS calib_gap
FROM scored
GROUP BY bin
ORDER BY bin
"""


BPE_TOP_K = 40  # merge candidates surfaced per training round


def q_bpe_pair_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One round of byte-pair-encoding tokenizer training (Sennrich et
    al.): count adjacent character pairs across the corpus, weighted by
    word frequency — the top pair is the next BPE merge. The reference
    engine has no tokenizer surface; this is the training-data-pipeline
    step that turns the corpus into a vocabulary.

    Scale shape — the reason BPE training is feasible at 100 TB: the
    raw corpus collapses to the (word, freq) VOCABULARY in one hash
    aggregate (bounded by distinct-word count, not corpus size); the
    character-pair explode then runs over the vocab only, so the
    expensive per-character work is O(vocab·word_len) regardless of
    corpus volume. Exact integer counts end to end; top-k via a
    distributed TakeOrdered with a lexicographic tiebreak.
    """
    t = load_tables(spark, sf_dir)
    words = (
        t["documents"]
        .select(F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("w"))
        .filter(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    pairs = words.select(
        "w",
        "freq",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.col("w").substr(i, F.lit(2)),
            )
        ).alias("pair"),
    )
    return (
        pairs.groupBy("pair")
        .agg(
            F.sum("freq").alias("total_count"),
            F.countDistinct("w").alias("n_words"),
        )
        .orderBy(F.col("total_count").desc(), "pair")
        .limit(BPE_TOP_K)
    )


ORACLE_BPE_PAIR_MERGE = f"""
WITH words AS (
    SELECT w, CAST(COUNT(*) AS BIGINT) AS freq
    FROM (SELECT UNNEST(string_split_regex(lower(text), '[^a-z]+')) AS w
          FROM documents)
    WHERE length(w) >= 2
    GROUP BY w
), pairs AS (
    SELECT w, freq,
           UNNEST(list_transform(generate_series(1, length(w) - 1),
                                 i -> substr(w, CAST(i AS INT), 2))) AS pair
    FROM words
)
SELECT pair,
       CAST(SUM(freq) AS BIGINT) AS total_count,
       CAST(COUNT(DISTINCT w) AS BIGINT) AS n_words
FROM pairs
GROUP BY pair
ORDER BY total_count DESC, pair
LIMIT {BPE_TOP_K}
"""


BPE_ROUNDS = 4  # unrolled training rounds for the multi-step trainer


def _bpe_fold_sql(a: str, b: str) -> str:
    """Left-to-right NON-OVERLAPPING merge of adjacent (a, b) symbol
    pairs, as a string-encoded fold `done|pend` over the symbol array —
    the same CASE expression interpreted by Spark's ``aggregate`` and
    DuckDB's ``list_reduce`` (split_part/replace/trim agree on both).
    ``a``/``b`` are SQL expressions (quoted literals on the Spark side,
    correlated best-pair columns in the oracle)."""
    return f"""CASE WHEN split_part(acc, '|', 2) = {a} AND x = {b}
         THEN split_part(acc, '|', 1) || ' ' || {a} || {b} || '|'
         ELSE split_part(acc, '|', 1) ||
              CASE WHEN split_part(acc, '|', 2) = '' THEN ''
                   ELSE ' ' || split_part(acc, '|', 2) END
              || '|' || x END"""


def q_bpe_train_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer TRAINING LOOP (Sennrich et al. 2016) — BPE_ROUNDS
    actual merge rounds, not just the first pair count: start from the
    character segmentation of the corpus vocabulary, and per round (1)
    count adjacent SYMBOL pairs weighted by word frequency, (2) take
    the argmax pair (count desc, lexicographic tie-break), (3) merge
    its left-to-right non-overlapping occurrences into a new symbol.
    Returns the merge table — the artifact a tokenizer ships.

    Exactness: counts are exact integers; the merge fold is the same
    string-encoded ``done|pend`` CASE expression under Spark
    ``aggregate`` and DuckDB ``list_reduce`` (non-overlap semantics
    pinned by tests/test_round10_ops.py: 'aaaa' + (a,a) -> [aa, aa]);
    the oracle unrolls the identical rounds as CTE chains (the
    k-center/MMR unroll discipline).

    Scale shape: the corpus collapses to the (word, freq) vocabulary in
    one hash aggregate — every round's explode/count runs over the
    VOCABULARY (O(vocab · word_len)), never the corpus; each round is
    one shuffle + a 1-row argmax collect (k-center discipline), and the
    re-segmented vocab is localCheckpoint'd so round plans don't nest.
    This is why BPE training is feasible at 100 TB: corpus volume only
    affects the first aggregate.
    """
    t = load_tables(spark, sf_dir)
    words = (
        t["documents"]
        .select(F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("w"))
        .filter(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(
            "w",
            "freq",
            F.expr(
                "transform(sequence(1, length(w)), i -> substring(w, i, 1))"
            ).alias("syms"),
        )
        .localCheckpoint()
    )
    merges: list[tuple[int, str, str, int]] = []
    for rnd in range(1, BPE_ROUNDS + 1):
        counted = (
            # a word whose segmentation collapsed to ONE symbol has no
            # pairs — and Spark's sequence(1, 0) is [1, 0] (DESCENDING,
            # not empty like DuckDB's generate_series), so element_at
            # would throw on it: filter the pairless words out first,
            # mirroring the oracle's empty series
            words.filter(F.size("syms") >= 2)
            .select(
                "freq",
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(syms) - 1), i -> "
                        "struct(element_at(syms, i) AS a, "
                        "element_at(syms, i + 1) AS b))"
                    )
                ).alias("p"),
            )
            .groupBy("p.a", "p.b")
            .agg(F.sum("freq").alias("total_count"))
        )
        best = counted.orderBy(
            F.col("total_count").desc(), "a", "b"
        ).limit(1).collect()[0]
        merges.append((rnd, best["a"], best["b"], int(best["total_count"])))
        if rnd == BPE_ROUNDS:
            break  # the last merge is never applied — nothing reads it
        fold = _bpe_fold_sql(f"'{best['a']}'", f"'{best['b']}'")
        words = words.select(
            "w",
            "freq",
            F.expr(
                "split(trim(replace(aggregate(syms, '|', (acc, x) -> "
                f"{fold}), '|', ' ')), ' ')"
            ).alias("syms"),
        ).localCheckpoint()
    return spark.createDataFrame(
        merges, "round int, sym_a string, sym_b string, total_count bigint"
    ).orderBy("round")


def _oracle_bpe_train_steps() -> str:
    fold = _bpe_fold_sql("a", "b")
    ctes = ["""words0 AS (
    SELECT w, CAST(COUNT(*) AS BIGINT) AS freq,
           list_transform(generate_series(1, length(w)),
                          i -> substr(w, CAST(i AS INT), 1)) AS syms
    FROM (SELECT UNNEST(string_split_regex(lower(text), '[^a-z]+')) AS w
          FROM documents)
    WHERE length(w) >= 2
    GROUP BY w
)"""]
    for r in range(1, BPE_ROUNDS + 1):
        ctes.append(f"""g{r} AS (
    SELECT syms[i] AS a, syms[i + 1] AS b,
           CAST(SUM(freq) AS BIGINT) AS total_count
    FROM words{r - 1}, UNNEST(generate_series(1, len(syms) - 1)) AS t(i)
    GROUP BY 1, 2
), b{r} AS (
    SELECT a, b, total_count FROM g{r}
    ORDER BY total_count DESC, a, b LIMIT 1
), words{r} AS (
    SELECT w, freq,
           string_split(trim(replace(list_reduce(
               list_prepend('|', syms), (acc, x) -> {fold}),
               '|', ' ')), ' ') AS syms
    FROM words{r - 1} CROSS JOIN b{r}
)""")
    unions = "\nUNION ALL\n".join(
        f"SELECT {r} AS round, a AS sym_a, b AS sym_b, total_count FROM b{r}"
        for r in range(1, BPE_ROUNDS + 1)
    )
    return (
        "WITH " + ",\n".join(ctes) + f"\nSELECT CAST(round AS INT) AS round,"
        f" sym_a, sym_b, total_count FROM ({unions}) ORDER BY round"
    )


COLLOC_MIN_COUNT = 5  # bigram support floor
COLLOC_TOP_K = 50


def q_text_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: adjacent word bigrams ranked by LIFT,
    N·c(x,y) / (c(x)·c(y)) — the exact-ratio monotone twin of PMI
    (PMI = ln lift), chosen because it needs no transcendental: every
    term is an exact integer count, so the emitted score is one IEEE
    division — bit-identical across engines with no rounding.

    Scale shape: one corpus scan explodes bigrams and unigrams into two
    hash aggregates (vocab- and bigram-bounded, map-side combined); the
    unigram table joins the bigram table twice by word (shuffle bounded
    by distinct bigrams, broadcast-eligible when the vocab is small);
    the corpus token total is a 1-row broadcast. Top-k is a distributed
    TakeOrdered on (lift DESC, bigram).
    """
    t = load_tables(spark, sf_dir)
    base = t["documents"].select(
        F.filter(
            F.split(F.lower("text"), "[^a-z]+"), lambda x: F.length(x) > 0
        ).alias("toks")
    )
    uni = (
        base.select(F.explode("toks").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    big = (
        base.select(F.explode(T.word_ngrams("toks", 2)).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("c_xy"))
        .filter(F.col("c_xy") >= COLLOC_MIN_COUNT)
        .withColumn("w1", F.split("bigram", " ")[0])
        .withColumn("w2", F.split("bigram", " ")[1])
    )
    total = uni.agg(F.sum("c").alias("n_tokens"))
    scored = (
        big.join(uni.withColumnRenamed("c", "c_x"), big.w1 == uni.w)
        .drop("w")
        .join(
            uni.withColumnRenamed("c", "c_y").withColumnRenamed("w", "w_"),
            big.w2 == F.col("w_"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "bigram",
            "c_xy",
            "c_x",
            "c_y",
            (
                F.col("n_tokens").cast("double")
                * F.col("c_xy").cast("double")
                / (F.col("c_x").cast("double") * F.col("c_y").cast("double"))
            ).alias("lift"),
        )
    )
    return scored.orderBy(F.col("lift").desc(), "bigram").limit(COLLOC_TOP_K)


ORACLE_TEXT_COLLOCATIONS = f"""
WITH base AS (
    SELECT list_filter(string_split_regex(lower(text), '[^a-z]+'),
                       x -> length(x) > 0) AS toks
    FROM documents
), uni AS (
    SELECT w, CAST(COUNT(*) AS BIGINT) AS c
    FROM (SELECT UNNEST(toks) AS w FROM base) GROUP BY w
), big AS (
    SELECT bigram, CAST(COUNT(*) AS BIGINT) AS c_xy,
           string_split(bigram, ' ')[1] AS w1,
           string_split(bigram, ' ')[2] AS w2
    FROM (SELECT UNNEST(list_transform(
              generate_series(1, len(toks) - 1),
              i -> toks[CAST(i AS INT)] || ' ' || toks[CAST(i AS INT) + 1]))
              AS bigram
          FROM base)
    GROUP BY bigram
    HAVING COUNT(*) >= {COLLOC_MIN_COUNT}
)
SELECT b.bigram, b.c_xy, ux.c AS c_x, uy.c AS c_y,
       CAST((SELECT SUM(c) FROM uni) AS DOUBLE) * CAST(b.c_xy AS DOUBLE)
           / (CAST(ux.c AS DOUBLE) * CAST(uy.c AS DOUBLE)) AS lift
FROM big b
JOIN uni ux ON b.w1 = ux.w
JOIN uni uy ON b.w2 = uy.w
ORDER BY lift DESC, b.bigram
LIMIT {COLLOC_TOP_K}
"""


GAINS_K = 10  # deciles


def q_model_gains_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gains/lift table for the frozen quality classifier: documents
    ranked by predicted score, cut into exact deciles, each reporting
    positive counts, cumulative capture rate, and lift — the
    model-evaluation companion of ``q_model_calibration_report``
    (calibration says "are the probabilities honest"; gains says "does
    the ranking concentrate positives").

    The global rank is the DISTRIBUTED range-partitioned row_number
    (``relational.distributed_row_number`` + ``exact_ntile``'s
    closed-form integer NTILE) — no single-partition window anywhere on
    the per-document frame; the only ordered window runs over the
    10-row decile aggregate, bounded by the constant k, independent of
    corpus size.

    Determinism: scores are 6-dp-rounded then held as exact micro-unit
    integers (the calibration query's trick); ranks, decile ids, and
    counts are exact; capture and lift are single IEEE divisions of
    exact integers, emitted unrounded.
    """
    from .relational import distributed_row_number, exact_ntile, range_bucket

    t = load_tables(spark, sf_dir)
    z = (
        F.lit(QC_BIAS)
        + F.lit(QC_W_STOP) * T.stopword_ratio("text")
        + F.lit(QC_W_MLEN) * T.mean_token_len("text")
        + F.lit(QC_W_LTOK) * F.log(F.lit(1.0) + T.token_count_ws("text"))
    )
    p6 = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)
    p_micro = F.round(p6 * F.lit(1000000.0)).cast("long")
    scored = (
        t["documents"]
        .select(
            "doc_id",
            p_micro.alias("p_micro"),
            (F.col("lang") == "en").cast("long").alias("y"),
        )
        .localCheckpoint()  # rank needs two passes (quantile cuts + number)
    )
    ranked, n = distributed_row_number(
        scored,
        [F.col("p_micro").desc(), F.col("doc_id")],
        range_bucket(scored, "p_micro", 8, descending=True),
        8,
        rn_col="_rn",
        return_total=True,
    )
    dec = (
        ranked.select(exact_ntile("_rn", n, GAINS_K).alias("decile"), "y")
        .groupBy("decile")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("y").alias("n_pos"))
    )
    totals = dec.agg(
        F.sum("n_docs").alias("n_tot"), F.sum("n_pos").alias("p_tot")
    )
    # the ordered window below runs over the GAINS_K-row decile frame —
    # bounded by the constant k, never by the corpus
    w_cum = W.orderBy("decile").rowsBetween(W.unboundedPreceding, 0)
    return (
        dec.withColumn("cum_pos", F.sum("n_pos").over(w_cum))
        .crossJoin(F.broadcast(totals))
        .select(
            "decile",
            "n_docs",
            "n_pos",
            "cum_pos",
            (F.col("cum_pos").cast("double") / F.col("p_tot").cast("double")).alias(
                "capture"
            ),
            (
                F.col("n_pos").cast("double")
                * F.col("n_tot").cast("double")
                / (F.col("n_docs").cast("double") * F.col("p_tot").cast("double"))
            ).alias("lift"),
        )
        .orderBy("decile")
    )


def _oracle_model_gains_table() -> str:
    p6 = (
        f"ROUND(1.0 / (1.0 + exp(-({QC_BIAS} + {QC_W_STOP} * {SQL_STOP_RATIO}"
        f" + {QC_W_MLEN} * {SQL_MEAN_TOKEN_LEN}"
        f" + {QC_W_LTOK} * ln(1.0 + {SQL_TOKENS_WS})))), 6)"
    )
    return f"""
WITH scored AS (
    SELECT doc_id,
           CAST(ROUND({p6} * 1000000.0) AS BIGINT) AS p_micro,
           CAST(lang = 'en' AS BIGINT) AS y
    FROM documents
), ranked AS (
    SELECT y, NTILE({GAINS_K}) OVER (ORDER BY p_micro DESC, doc_id) AS decile
    FROM scored
), dec AS (
    SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(y) AS BIGINT) AS n_pos
    FROM ranked GROUP BY decile
), tot AS (
    SELECT CAST(SUM(n_docs) AS BIGINT) AS n_tot,
           CAST(SUM(n_pos) AS BIGINT) AS p_tot
    FROM dec
)
SELECT CAST(decile AS INT) AS decile, n_docs, n_pos,
       CAST(SUM(n_pos) OVER (ORDER BY decile
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_pos,
       CAST(SUM(n_pos) OVER (ORDER BY decile
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
           / CAST(p_tot AS DOUBLE) AS capture,
       CAST(n_pos AS DOUBLE) * CAST(n_tot AS DOUBLE)
           / (CAST(n_docs AS DOUBLE) * CAST(p_tot AS DOUBLE)) AS lift
FROM dec, tot
ORDER BY decile
"""


def q_model_auc_roc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC for the frozen quality classifier, computed as the
    tie-corrected Mann–Whitney rank-sum — the threshold-free companion of
    ``q_model_calibration_report`` (honest probabilities) and
    ``q_model_gains_table`` (ranking concentration): AUC is the
    probability a random positive outscores a random negative, the one
    number most model-eval dashboards lead with.

    Never ranks rows. The corpus collapses to one row per DISTINCT score
    (micro-unit integers, the calibration trick), so AUC =
    [Σ_s n_pos(s)·(neg_below(s) + n_neg(s)/2)] / (P·N) needs only a
    prefix sum of negatives over the score domain — run on the
    DISTRIBUTED prefix scan (``relational.distributed_prefix_agg``), no
    single-partition window. Doubling clears the half: ``auc_num2 =
    Σ n_pos·(2·neg_below + n_neg)`` is an exact BIGINT (≤ 2·P·N < n²),
    and AUC / Gini are single IEEE expressions over exact integers.

    Scale shape: one grouped count per distinct score (≤ 1e6 + 1 rows at
    ANY corpus size — micro-unit scores bound the domain), the prefix
    scan over that domain-sized frame, one 1-row aggregate.
    """
    from .relational import distributed_prefix_agg, range_bucket

    t = load_tables(spark, sf_dir)
    z = (
        F.lit(QC_BIAS)
        + F.lit(QC_W_STOP) * T.stopword_ratio("text")
        + F.lit(QC_W_MLEN) * T.mean_token_len("text")
        + F.lit(QC_W_LTOK) * F.log(F.lit(1.0) + T.token_count_ws("text"))
    )
    p6 = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)
    per_score = (
        t["documents"]
        .select(
            F.round(p6 * F.lit(1000000.0)).cast("long").alias("p_micro"),
            (F.col("lang") == "en").cast("long").alias("y"),
        )
        .groupBy("p_micro")
        .agg(
            F.sum("y").alias("np"),
            F.sum(F.lit(1) - F.col("y")).alias("nn"),
        )
        .localCheckpoint()  # reused: bucket cuts + prefix scan + totals
    )
    pid = range_bucket(per_score, "p_micro", 8)
    cum = distributed_prefix_agg(
        per_score, "p_micro", "nn", pid, 8, kind="sum", out_col="neg_below"
    )
    out = cum.agg(
        F.sum("np").alias("n_pos"),
        F.sum("nn").alias("n_neg"),
        F.sum(
            F.col("np") * (F.lit(2) * F.col("neg_below") + F.col("nn"))
        ).alias("auc_num2"),
    )
    auc = F.col("auc_num2").cast("double") / (
        F.lit(2.0) * F.col("n_pos").cast("double") * F.col("n_neg").cast("double")
    )
    return out.select(
        "n_pos",
        "n_neg",
        "auc_num2",
        auc.alias("auc"),
        (F.lit(2.0) * auc - F.lit(1.0)).alias("gini"),
    )


def _oracle_model_auc_roc() -> str:
    p6 = (
        f"ROUND(1.0 / (1.0 + exp(-({QC_BIAS} + {QC_W_STOP} * {SQL_STOP_RATIO}"
        f" + {QC_W_MLEN} * {SQL_MEAN_TOKEN_LEN}"
        f" + {QC_W_LTOK} * ln(1.0 + {SQL_TOKENS_WS})))), 6)"
    )
    return f"""
WITH scored AS (
    SELECT CAST(ROUND({p6} * 1000000.0) AS BIGINT) AS p_micro,
           CAST(lang = 'en' AS BIGINT) AS y
    FROM documents
), per_score AS (
    SELECT p_micro,
           CAST(SUM(y) AS BIGINT) AS np,
           CAST(SUM(1 - y) AS BIGINT) AS nn
    FROM scored GROUP BY p_micro
), cum AS (
    SELECT np, nn,
           CAST(COALESCE(SUM(nn) OVER (ORDER BY p_micro
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS neg_below
    FROM per_score
)
SELECT CAST(SUM(np) AS BIGINT) AS n_pos,
       CAST(SUM(nn) AS BIGINT) AS n_neg,
       CAST(SUM(np * (2 * neg_below + nn)) AS BIGINT) AS auc_num2,
       CAST(SUM(np * (2 * neg_below + nn)) AS DOUBLE)
           / (2.0 * CAST(SUM(np) AS DOUBLE) * CAST(SUM(nn) AS DOUBLE)) AS auc,
       2.0 * (CAST(SUM(np * (2 * neg_below + nn)) AS DOUBLE)
           / (2.0 * CAST(SUM(np) AS DOUBLE) * CAST(SUM(nn) AS DOUBLE))) - 1.0
           AS gini
FROM cum
"""


def q_model_pr_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact average precision (area under the precision-recall curve,
    step-wise over score thresholds) for the frozen quality classifier —
    the class-imbalance-honest companion of ``q_model_auc_roc``: ROC-AUC
    stays optimistic when negatives dominate, PR-AUC does not, which is
    why retrieval and rare-event gates report AP.

    Same domain-collapse machinery as the AUC query: one row per
    distinct micro-unit score, DESCENDING cumulative positives/negatives
    via the distributed prefix scan, then AP = Σ_k (np_k/P)·precision_k
    where precision_k = cum_pos_k/(cum_pos_k+cum_neg_k) at each distinct
    score k. Cross-engine determinism: each term is quantized to
    nano-units BEFORE summation (ROUND(term·1e9) → BIGINT), so the
    cross-threshold sum is an order-free exact integer — the
    ``mutual_information_features`` contract; AP is ONE final division.

    Scale shape: grouped count over the bounded score domain, two
    domain-sized prefix scans, one 1-row aggregate.
    """
    from .relational import distributed_prefix_agg, range_bucket

    t = load_tables(spark, sf_dir)
    z = (
        F.lit(QC_BIAS)
        + F.lit(QC_W_STOP) * T.stopword_ratio("text")
        + F.lit(QC_W_MLEN) * T.mean_token_len("text")
        + F.lit(QC_W_LTOK) * F.log(F.lit(1.0) + T.token_count_ws("text"))
    )
    p6 = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)
    per_score = (
        t["documents"]
        .select(
            F.round(p6 * F.lit(1000000.0)).cast("long").alias("p_micro"),
            (F.col("lang") == "en").cast("long").alias("y"),
        )
        .groupBy("p_micro")
        .agg(
            F.sum("y").alias("np"),
            F.sum(F.lit(1) - F.col("y")).alias("nn"),
        )
        .localCheckpoint()  # reused: bucket cuts + two prefix scans + totals
    )
    pid = range_bucket(per_score, "p_micro", 8, descending=True)
    above_p = distributed_prefix_agg(
        per_score, "p_micro", "np", pid, 8, kind="sum",
        out_col="_ap", descending=True,
    ).select("p_micro", (F.col("_ap") + F.col("np")).alias("cum_pos"))
    above_n = distributed_prefix_agg(
        per_score, "p_micro", "nn", pid, 8, kind="sum",
        out_col="_an", descending=True,
    ).select(
        F.col("p_micro").alias("pm2"),
        (F.col("_an") + F.col("nn")).alias("cum_neg"),
    )
    totals = per_score.agg(F.sum("np").alias("p_total"))
    terms = (
        per_score.join(above_p, "p_micro")
        .join(above_n, F.col("p_micro") == F.col("pm2"))
        .crossJoin(F.broadcast(totals))
        .select(
            "p_total",
            F.round(
                F.col("np").cast("double")
                * F.col("cum_pos").cast("double")
                / (
                    F.col("p_total").cast("double")
                    * (F.col("cum_pos") + F.col("cum_neg")).cast("double")
                )
                * F.lit(1000000000.0)
            ).cast("long").alias("term_nano"),
        )
    )
    return terms.groupBy("p_total").agg(
        F.count(F.lit(1)).alias("n_thresholds"),
        F.sum("term_nano").alias("ap_nano"),
        (F.sum("term_nano").cast("double") / F.lit(1000000000.0)).alias("ap"),
    ).select("p_total", "n_thresholds", "ap_nano", "ap")


def _oracle_model_pr_auc() -> str:
    p6 = (
        f"ROUND(1.0 / (1.0 + exp(-({QC_BIAS} + {QC_W_STOP} * {SQL_STOP_RATIO}"
        f" + {QC_W_MLEN} * {SQL_MEAN_TOKEN_LEN}"
        f" + {QC_W_LTOK} * ln(1.0 + {SQL_TOKENS_WS})))), 6)"
    )
    return f"""
WITH scored AS (
    SELECT CAST(ROUND({p6} * 1000000.0) AS BIGINT) AS p_micro,
           CAST(lang = 'en' AS BIGINT) AS y
    FROM documents
), per_score AS (
    SELECT p_micro,
           CAST(SUM(y) AS BIGINT) AS np,
           CAST(SUM(1 - y) AS BIGINT) AS nn
    FROM scored GROUP BY p_micro
), cum AS (
    SELECT np,
           CAST(SUM(np) OVER w AS BIGINT) AS cum_pos,
           CAST(SUM(nn) OVER w AS BIGINT) AS cum_neg
    FROM per_score
    WINDOW w AS (ORDER BY p_micro DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), tot AS (
    SELECT CAST(SUM(np) AS BIGINT) AS p_total FROM per_score
), terms AS (
    SELECT p_total,
           CAST(ROUND(CAST(np AS DOUBLE) * CAST(cum_pos AS DOUBLE)
                / (CAST(p_total AS DOUBLE)
                   * CAST(cum_pos + cum_neg AS DOUBLE))
                * 1000000000.0) AS BIGINT) AS term_nano
    FROM cum, tot
)
SELECT p_total,
       CAST(COUNT(*) AS BIGINT) AS n_thresholds,
       CAST(SUM(term_nano) AS BIGINT) AS ap_nano,
       CAST(SUM(term_nano) AS DOUBLE) / 1000000000.0 AS ap
FROM terms
GROUP BY p_total
"""


def q_model_confusion_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Thresholded confusion matrix + derived metrics for the frozen
    quality classifier at its shipping threshold τ — the operating-point
    report that completes the model-eval family (AUC/AP are
    threshold-free; calibration/gains are per-bin; this is the single
    row a deployment dashboard shows for the gate as configured).

    One conditional-aggregation pass over one scan: tp/fp/fn/tn are
    exact counts; accuracy/precision/recall are single IEEE divisions
    of exact integers and F1 is computed from the SAME exact counts as
    2·tp / (2·tp + fp + fn) — one division, no chained
    precision/recall floats.
    """
    t = load_tables(spark, sf_dir)
    z = (
        F.lit(QC_BIAS)
        + F.lit(QC_W_STOP) * T.stopword_ratio("text")
        + F.lit(QC_W_MLEN) * T.mean_token_len("text")
        + F.lit(QC_W_LTOK) * F.log(F.lit(1.0) + T.token_count_ws("text"))
    )
    pred = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6) >= F.lit(
        QC_THRESHOLD
    )
    y = F.col("lang") == "en"
    out = t["documents"].agg(
        F.sum((pred & y).cast("long")).alias("tp"),
        F.sum((pred & ~y).cast("long")).alias("fp"),
        F.sum((~pred & y).cast("long")).alias("fn"),
        F.sum((~pred & ~y).cast("long")).alias("tn"),
    )
    tp = F.col("tp").cast("double")
    return out.select(
        "tp",
        "fp",
        "fn",
        "tn",
        ((F.col("tp") + F.col("tn")).cast("double")
         / (F.col("tp") + F.col("fp") + F.col("fn") + F.col("tn")).cast("double")
         ).alias("accuracy"),
        (tp / (F.col("tp") + F.col("fp")).cast("double")).alias("precision"),
        (tp / (F.col("tp") + F.col("fn")).cast("double")).alias("recall"),
        ((F.lit(2) * F.col("tp")).cast("double")
         / (F.lit(2) * F.col("tp") + F.col("fp") + F.col("fn")).cast("double")
         ).alias("f1"),
    )


def _oracle_model_confusion_report() -> str:
    p6 = (
        f"ROUND(1.0 / (1.0 + exp(-({QC_BIAS} + {QC_W_STOP} * {SQL_STOP_RATIO}"
        f" + {QC_W_MLEN} * {SQL_MEAN_TOKEN_LEN}"
        f" + {QC_W_LTOK} * ln(1.0 + {SQL_TOKENS_WS})))), 6)"
    )
    return f"""
WITH labeled AS (
    SELECT ({p6} >= {QC_THRESHOLD}) AS pred, (lang = 'en') AS y
    FROM documents
), counts AS (
    SELECT CAST(SUM(CASE WHEN pred AND y THEN 1 ELSE 0 END) AS BIGINT) AS tp,
           CAST(SUM(CASE WHEN pred AND NOT y THEN 1 ELSE 0 END) AS BIGINT) AS fp,
           CAST(SUM(CASE WHEN NOT pred AND y THEN 1 ELSE 0 END) AS BIGINT) AS fn,
           CAST(SUM(CASE WHEN NOT pred AND NOT y THEN 1 ELSE 0 END) AS BIGINT) AS tn
    FROM labeled
)
SELECT tp, fp, fn, tn,
       CAST(tp + tn AS DOUBLE) / CAST(tp + fp + fn + tn AS DOUBLE) AS accuracy,
       CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) AS precision,
       CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) AS recall,
       CAST(2 * tp AS DOUBLE) / CAST(2 * tp + fp + fn AS DOUBLE) AS f1
FROM counts
"""


def q_gbt_inference_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tree-ensemble INFERENCE compiled to pure relational expressions —
    the "model as SQL" deployment pattern (operator-fusion inference à la
    ICDE'25 'ML Inference Pipeline Execution Using Pure SQL'): a frozen
    3-tree gradient-boosted classifier over the classifier gate's cheap
    features, each tree a nested CASE, the ensemble margin a sum of
    INTEGER micro-logit leaves. At 100 TB this scores fused with the
    scan inside whole-stage codegen — no model server, no Python plane,
    no UDF; the complement of ``q_quality_classifier_score``'s logistic
    form (trees capture the non-monotone feature interactions a linear
    head can't).

    Determinism: leaf values are exact integers; every split compares a
    feature computed by the identical expression tree in the oracle, so
    the margin is an exact BIGINT and the keep flag an integer compare.
    """
    t = load_tables(spark, sf_dir)
    n_tok = T.token_count_ws("text")
    stop = T.stopword_ratio("text")
    mlen = T.mean_token_len("text")
    tree1 = (
        F.when(n_tok < 30, F.lit(-800000))
        .when(stop < 0.10, F.lit(-200000))
        .otherwise(F.lit(500000))
    )
    tree2 = (
        F.when(mlen < 3.0, F.lit(-400000))
        .when(mlen > 8.0, F.lit(-300000))
        .otherwise(F.lit(300000))
    )
    tree3 = (
        F.when(stop >= 0.30, F.lit(400000))
        .when(n_tok >= 100, F.lit(100000))
        .otherwise(F.lit(-100000))
    )
    margin = (tree1 + tree2 + tree3).cast("long")
    return (
        t["documents"]
        .select(
            "doc_id",
            margin.alias("margin_micro"),
            (margin >= 0).alias("keep"),
        )
        .orderBy("doc_id")
    )


def _oracle_gbt_inference_sql() -> str:
    return f"""
WITH feats AS (
    SELECT doc_id,
           {SQL_TOKENS_WS} AS n_tok,
           {SQL_STOP_RATIO} AS stop_r,
           {SQL_MEAN_TOKEN_LEN} AS mlen
    FROM documents
)
SELECT doc_id,
       CAST(
         (CASE WHEN n_tok < 30 THEN -800000
               WHEN stop_r < 0.10 THEN -200000
               ELSE 500000 END)
         + (CASE WHEN mlen < 3.0 THEN -400000
                 WHEN mlen > 8.0 THEN -300000
                 ELSE 300000 END)
         + (CASE WHEN stop_r >= 0.30 THEN 400000
                 WHEN n_tok >= 100 THEN 100000
                 ELSE -100000 END)
       AS BIGINT) AS margin_micro,
       (CASE WHEN n_tok < 30 THEN -800000
             WHEN stop_r < 0.10 THEN -200000
             ELSE 500000 END)
       + (CASE WHEN mlen < 3.0 THEN -400000
               WHEN mlen > 8.0 THEN -300000
               ELSE 300000 END)
       + (CASE WHEN stop_r >= 0.30 THEN 400000
               WHEN n_tok >= 100 THEN 100000
               ELSE -100000 END) >= 0 AS keep
FROM feats
ORDER BY doc_id
"""


# ------------------------------------------------- Flesch readability

SENT_WINDOW_WORDS = 20  # pseudo-sentence width when no [.!?] exists


def q_text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document — the readability axis of the
    quality family (``q_text_quality`` scores surface statistics,
    ``q_quality_gopher_rules`` gates structure, ``q_ccnet_ppl_buckets``
    scores LM fit; edu-value filters à la FineWeb-Edu add READABILITY):
    206.835 − 1.015·(words/sentences) − 84.6·(syllables/words), banded
    into the standard interpretation classes.

    Syllables are the classic vowel-group heuristic (runs of
    [aeiouy]+ — whitespace breaks groups, so the whole-text regexp
    count equals the per-word sum). Sentences split on [.!?]+ runs;
    ONLY when a document has zero sentence punctuation (the fixture's
    case) does the count fall back to 20-word pseudo-sentence windows
    (the ``boilerplate_strip`` no-newlines precedent) — a CASE, not a
    GREATEST, so a real punctuation count is authoritative even for
    long-sentence prose whose average sentence exceeds the window
    (the r8 ADVICE finding: a GREATEST floor would silently inflate
    Flesch there). All inputs are exact integers; the score is one
    identical double pipeline rounded 4 dp, and the band compares the
    already-rounded value.

    Scale: map-only — three regexp counts fused into the scan
    projection inside WholeStageCodegen, no shuffle before the
    presentation sort. The 100 TB form of a per-document scorer.
    """
    docs = load_tables(spark, sf_dir)["documents"]
    w = F.col("n_words").cast("double")
    n = F.col("n_sentences").cast("double")
    s = F.col("n_syllables").cast("double")
    flesch = F.round(
        F.lit(206.835) - F.lit(1.015) * w / n - F.lit(84.6) * s / w, 4
    )
    feats = docs.select(
        "doc_id",
        F.regexp_count(F.concat(F.lit(" "), F.trim("text")), F.lit("\\s+")).alias(
            "n_words"
        ),
        F.when(
            F.regexp_count("text", F.lit("[.!?]+")) > 0,
            F.regexp_count("text", F.lit("[.!?]+")).cast("long"),
        )
        .otherwise(
            F.greatest(
                F.expr(
                    "(regexp_count(' ' || trim(text), '\\\\s+')"
                    f" + {SENT_WINDOW_WORDS - 1}) DIV {SENT_WINDOW_WORDS}"
                ),
                F.lit(1).cast("long"),
            )
        )
        .alias("n_sentences"),
        F.regexp_count(F.lower("text"), F.lit("[aeiouy]+")).alias(
            "n_syllables"
        ),
    )
    return (
        feats.select(
            "doc_id",
            "n_words",
            "n_sentences",
            "n_syllables",
            flesch.alias("flesch"),
            F.when(flesch >= 90, "very_easy")
            .when(flesch >= 60, "standard")
            .when(flesch >= 30, "difficult")
            .otherwise("very_confusing")
            .alias("band"),
        )
        .orderBy("doc_id")
    )


ORACLE_TEXT_READABILITY = f"""
WITH feats AS (
    SELECT doc_id,
           CAST(len(regexp_extract_all(' ' || trim(text), '\\s+'))
                AS BIGINT) AS n_words,
           CASE WHEN len(regexp_extract_all(text, '[.!?]+')) > 0
                THEN CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT)
                ELSE GREATEST(
                    (CAST(len(regexp_extract_all(' ' || trim(text), '\\s+'))
                          AS BIGINT) + {SENT_WINDOW_WORDS - 1})
                        // {SENT_WINDOW_WORDS},
                    CAST(1 AS BIGINT))
                END AS n_sentences,
           CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
                AS BIGINT) AS n_syllables
    FROM documents
)
SELECT doc_id, n_words, n_sentences, n_syllables,
       ROUND(206.835 - 1.015 * CAST(n_words AS DOUBLE)
                              / CAST(n_sentences AS DOUBLE)
                     - 84.6 * CAST(n_syllables AS DOUBLE)
                             / CAST(n_words AS DOUBLE), 4) AS flesch,
       CASE WHEN ROUND(206.835 - 1.015 * CAST(n_words AS DOUBLE)
                                        / CAST(n_sentences AS DOUBLE)
                               - 84.6 * CAST(n_syllables AS DOUBLE)
                                       / CAST(n_words AS DOUBLE), 4) >= 90
                THEN 'very_easy'
            WHEN ROUND(206.835 - 1.015 * CAST(n_words AS DOUBLE)
                                        / CAST(n_sentences AS DOUBLE)
                               - 84.6 * CAST(n_syllables AS DOUBLE)
                                       / CAST(n_words AS DOUBLE), 4) >= 60
                THEN 'standard'
            WHEN ROUND(206.835 - 1.015 * CAST(n_words AS DOUBLE)
                                        / CAST(n_sentences AS DOUBLE)
                               - 84.6 * CAST(n_syllables AS DOUBLE)
                                       / CAST(n_words AS DOUBLE), 4) >= 30
                THEN 'difficult'
            ELSE 'very_confusing' END AS band
FROM feats
ORDER BY doc_id
"""


# --------------------------- Luhn-validated PAN audit (checksum PII)

PAN_MIN_LEN, PAN_MAX_LEN = 13, 19


def q_pii_luhn_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checksum-validated payment-card detection — the layer above
    regex PII (``q_pii_redact``) that a production scrubber needs to
    keep false positives out: a 13–19-digit run is only a PAN if it
    passes the Luhn check, so order ids / timestamps / hashes that
    merely look card-shaped don't get redacted (and don't get a doc
    quarantined).

    Salting (the ``pii_redact`` discipline — the corpus has no card
    numbers, so plant deterministic ones with the identical expression
    on both engines): doc_id % 3 == 0 docs get a VALID 16-digit PAN
    (15 payload digits derived from md5(doc_id), check digit computed
    by the same Luhn arithmetic the detector runs), % 3 == 1 docs get
    the INVALID twin (check digit shifted +5 mod 10 — guaranteed to
    fail), % 3 == 2 docs get nothing. The audit then reports, per doc,
    candidate runs / Luhn-valid count / the first valid PAN's last4 —
    every number cross-checked by DuckDB running the same digit
    arithmetic.

    Implementation is pure integer lambda algebra over split tokens
    (no lookbehind, deliberately: candidate boundaries come from a
    non-digit split, which RE2-based engines can also express —
    regex lookaround is the portability trap here). Map-only, zero
    shuffles before the presentation sort: scan-bandwidth at 100 TB.
    """
    docs = load_tables(spark, sf_dir)["documents"]
    # 15 deterministic payload digits from the md5 hex (letters dropped,
    # zero-padded), then the Luhn check digit: payload digit k-th FROM
    # RIGHT is doubled iff k is odd (it lands at even position once the
    # check digit is appended)
    payload = "substring(rpad(translate(md5(cast(doc_id as string)), 'abcdef', ''), 15, '0'), 1, 15)"
    paysum = (
        "aggregate(transform(sequence(1, 15), k -> CASE WHEN k % 2 = 1 "
        f"THEN IF(CAST(substring({payload}, 16 - k, 1) AS INT) * 2 > 9, "
        f"CAST(substring({payload}, 16 - k, 1) AS INT) * 2 - 9, "
        f"CAST(substring({payload}, 16 - k, 1) AS INT) * 2) "
        f"ELSE CAST(substring({payload}, 16 - k, 1) AS INT) END), "
        "0, (a, x) -> a + x)"
    )
    check = f"(10 - {paysum} % 10) % 10"
    salted = docs.select(
        "doc_id",
        F.expr(
            f"""concat(text, CASE
                WHEN doc_id % 3 = 0 THEN concat(' card ', {payload},
                                                cast({check} as string))
                WHEN doc_id % 3 = 1 THEN concat(' card ', {payload},
                                                cast(({check} + 5) % 10 as string))
                ELSE '' END)"""
        ).alias("t"),
    )
    # candidate PANs: digit runs bounded by ANY non-digit (split-based
    # boundaries, RE2-portable), length-filtered
    cands = (
        f"filter(split(t, '[^0-9]+'), x -> length(x) >= {PAN_MIN_LEN} "
        f"AND length(x) <= {PAN_MAX_LEN})"
    )
    # full-string Luhn: digit j-th FROM RIGHT doubled iff j is even
    luhn = (
        "aggregate(transform(sequence(1, length(x)), j -> CASE WHEN j % 2 = 0 "
        "THEN IF(CAST(substring(x, length(x) - j + 1, 1) AS INT) * 2 > 9, "
        "CAST(substring(x, length(x) - j + 1, 1) AS INT) * 2 - 9, "
        "CAST(substring(x, length(x) - j + 1, 1) AS INT) * 2) "
        "ELSE CAST(substring(x, length(x) - j + 1, 1) AS INT) END), "
        "0, (a, y) -> a + y) % 10 = 0"
    )
    valids = f"filter({cands}, x -> {luhn})"
    return (
        salted.select(
            "doc_id",
            F.expr(f"cast(size({cands}) as bigint)").alias("n_pan_candidates"),
            F.expr(f"cast(size({valids}) as bigint)").alias("n_luhn_valid"),
            F.expr(f"size({valids}) > 0").alias("has_valid_pan"),
            F.expr(
                f"substring(try_element_at({valids}, 1), "
                f"length(try_element_at({valids}, 1)) - 3, 4)"
            ).alias("first_valid_last4"),
        )
        .orderBy("doc_id")
    )


def _luhn_oracle() -> str:
    payload = (
        "substring(rpad(translate(md5(CAST(doc_id AS VARCHAR)), "
        "'abcdef', ''), 15, '0'), 1, 15)"
    )
    def dbl(d: str) -> str:
        return f"CASE WHEN {d} * 2 > 9 THEN {d} * 2 - 9 ELSE {d} * 2 END"

    pd_ = f"CAST(substring({payload}, 16 - k, 1) AS INT)"
    paysum = (
        f"list_sum(list_transform(range(1, 16), k -> CASE WHEN k % 2 = 1 "
        f"THEN {dbl(pd_)} ELSE {pd_} END))"
    )
    check = f"(10 - {paysum} % 10) % 10"
    xd = "CAST(substring(x, len(x) - j + 1, 1) AS INT)"
    luhn = (
        f"list_sum(list_transform(range(1, len(x) + 1), j -> "
        f"CASE WHEN j % 2 = 0 THEN {dbl(xd)} ELSE {xd} END)) % 10 = 0"
    )
    cands = (
        "list_filter(string_split_regex(t, '[^0-9]+'), "
        f"x -> len(x) >= {PAN_MIN_LEN} AND len(x) <= {PAN_MAX_LEN})"
    )
    valids = f"list_filter({cands}, x -> {luhn})"
    return f"""
WITH salted AS (
    SELECT doc_id,
           concat(text, CASE
               WHEN doc_id % 3 = 0 THEN concat(' card ', {payload},
                                               CAST({check} AS VARCHAR))
               WHEN doc_id % 3 = 1 THEN concat(' card ', {payload},
                                               CAST(({check} + 5) % 10 AS VARCHAR))
               ELSE '' END) AS t
    FROM documents
)
SELECT doc_id,
       CAST(len({cands}) AS BIGINT) AS n_pan_candidates,
       CAST(len({valids}) AS BIGINT) AS n_luhn_valid,
       len({valids}) > 0 AS has_valid_pan,
       substring({valids}[1], len({valids}[1]) - 3, 4) AS first_valid_last4
FROM salted
ORDER BY doc_id
"""


ORACLE_PII_LUHN_AUDIT = _luhn_oracle()


def oracles() -> dict[str, tuple]:
    return {
        "text_readability": (q_text_readability, ORACLE_TEXT_READABILITY),
        "pii_luhn_audit": (q_pii_luhn_audit, ORACLE_PII_LUHN_AUDIT),
        "model_auc_roc": (q_model_auc_roc, _oracle_model_auc_roc()),
        "model_pr_auc": (q_model_pr_auc, _oracle_model_pr_auc()),
        "model_confusion_report": (
            q_model_confusion_report,
            _oracle_model_confusion_report(),
        ),
        "gbt_inference_sql": (q_gbt_inference_sql, _oracle_gbt_inference_sql()),
        "model_gains_table": (q_model_gains_table, _oracle_model_gains_table()),
        "bpe_pair_merge": (q_bpe_pair_merge, ORACLE_BPE_PAIR_MERGE),
        "bpe_train_steps": (q_bpe_train_steps, _oracle_bpe_train_steps()),
        "text_collocations": (q_text_collocations, ORACLE_TEXT_COLLOCATIONS),
        "text_keyphrase_rake": (
            q_text_keyphrase_rake,
            ORACLE_TEXT_KEYPHRASE_RAKE,
        ),
        "model_calibration_report": (
            q_model_calibration_report,
            _oracle_model_calibration_report(),
        ),
        "pii_redact": (q_pii_redact, ORACLE_PII_REDACT),
        "text_mixed_language": (q_text_mixed_language, _oracle_text_mixed_language()),
        "text_token_stats": (q_text_token_stats, ORACLE_TEXT_TOKEN_STATS),
        "approx_topk_terms": (q_approx_topk_terms, ORACLE_APPROX_TOPK_TERMS),
        "quality_classifier_score": (
            q_quality_classifier_score,
            ORACLE_QUALITY_CLASSIFIER_SCORE,
        ),
        "doc_repeat_removal": (q_doc_repeat_removal, ORACLE_DOC_REPEAT_REMOVAL),
        "bm25_score": (q_bm25_score, ORACLE_BM25_SCORE),
        "quality_gopher_rules": (q_quality_gopher_rules, ORACLE_QUALITY_GOPHER_RULES),
        "text_unigram_logprob": (q_text_unigram_logprob, ORACLE_TEXT_UNIGRAM_LOGPROB),
        "text_bigram_logprob": (q_text_bigram_logprob, ORACLE_TEXT_BIGRAM_LOGPROB),
        "text_tfidf_top_terms": (q_text_tfidf_top_terms, ORACLE_TEXT_TFIDF_TOP_TERMS),
        "text_lang_id": (q_text_lang_id, _oracle_lang_id()),
        "text_lang_confusion": (q_text_lang_confusion, _oracle_lang_confusion()),
        "text_quality": (q_text_quality, ORACLE_TEXT_QUALITY),
        "text_fingerprint": (q_text_fingerprint, ORACLE_TEXT_FINGERPRINT),
        "boilerplate_strip": (q_boilerplate_strip, ORACLE_BOILERPLATE_STRIP),
        "ccnet_ppl_buckets": (q_ccnet_ppl_buckets, ORACLE_CCNET_PPL_BUCKETS),
        "text_rolling_fingerprint": (q_text_rolling_fingerprint, _sql_rolling_fingerprint()),
        "text_lang_quality_summary": (
            q_text_lang_quality_summary,
            ORACLE_TEXT_LANG_QUALITY_SUMMARY,
        ),
    }
