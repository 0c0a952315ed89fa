"""Deduplication operators over the ``documents`` / ``embeddings`` tables.

Five dedup strategies, each the Spark-native re-expression of a standard
training-data-pipeline technique:

- exact           : hash-groupBy on a normalized-content fingerprint.
- minhash + LSH   : shingle -> minhash signature -> banded bucket join ->
                    exact-Jaccard verification of candidates.
- simhash         : per-token bit votes -> 32-bit signature -> banded
                    self-join -> Hamming-distance pairs.
- n-gram Jaccard  : shingle-blocked pairwise Jaccard (no signatures).
- embedding cosine: near-dup pairs above a cosine threshold.

Incremental dedup probes an LSH signature store built by ``cache.build_once``.

Scale design (100 TB corpora):
- every strategy is shuffle-bounded by (doc, shingle) or (band, key)
  pairs, never by doc x doc; candidate generation is always blocked
  (LSH bands / shared shingles / signature bytes), so the quadratic
  verification only runs inside blocks;
- all hashing is JVM-side md5 on codegen'd expressions — no Python UDFs;
- signatures are tiny (16 minhashes / one 32-bit simhash per doc) and
  map-side partial aggregation collapses the shingle explosion before the
  shuffle.

Every operator ships a DuckDB oracle generated from the same constants so
both engines compute identical integers and bit-identical doubles
(Jaccard = one int/int division; cosine rounded at 6 dp).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..cache import build_once, track_persist
from ..engine import load_tables
from ..functions.text import fingerprint_md5, norm_text, tokens, word_ngrams
from .graph import weakly_connected_components

NUM_PERM = 16  # minhash permutations
LSH_BANDS = 4  # bands of NUM_PERM // LSH_BANDS rows each
MINHASH_JACCARD_T = 0.5
NGRAM_JACCARD_T = 0.3
SIMHASH_BANDS = 4  # 8-bit bands
SIMHASH_MAX_HAMMING = 1
COSINE_T = 0.4

SQL_NORM = "lower(regexp_replace(text, '\\s+', ' ', 'g'))"


# ---------------------------------------------------------------------------
# shared Spark-side building blocks
# ---------------------------------------------------------------------------


from ..engine import fan_out as _fan_out  # shared CPU-bound-stage fan-out


def _doc_shingles(docs: DataFrame) -> DataFrame:
    """Distinct (doc_id, shingle) pairs, shingle = word 3-gram of the
    normalized text. The explode is map-only; distinct shuffles on
    (doc_id, shingle) — linear in corpus token count."""
    return (
        _fan_out(docs.select("doc_id", "text"))
        .select("doc_id", tokens("text").alias("toks"))
        .select("doc_id", F.explode(word_ngrams("toks", 3)).alias("shingle"))
        .distinct()
    )


def _sql_shingles() -> str:
    """DuckDB mirror of _doc_shingles: UNNEST over 3-gram start positions."""
    return f"""
        SELECT DISTINCT doc_id,
               tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS shingle
        FROM (SELECT doc_id, string_split(trim({SQL_NORM}), ' ') AS tk FROM documents),
             UNNEST(generate_series(1, len(tk) - 2)) AS t(i)
    """


_PAIR_CHUNK = 256  # hot-bucket split width: ≤ C² pair builds per task row


def _bucket_pairs(
    bands: DataFrame, member_cols: list[str], skew_split: bool = False
) -> DataFrame:
    """Ordered within-bucket pairs WITHOUT a self-join.

    A bucket self-join executes the (expensive) signature-producing plan
    once per join side; collecting each bucket's members and exploding the
    member x later-members grid evaluates it once.

    ``skew_split=False`` (default): the grid explodes per bucket row —
    right when |bucket| is BOUNDED BY CONSTRUCTION (minhash bands hash
    full sub-signatures; the prefix index walks rare shingles under a
    stop cap), where a skewed bucket is impossible and the extra split
    machinery measured as a consistent ~10% tax on bucket-heavy callers.

    ``skew_split=True`` (guide §2, hot keys): for banding schemes with
    NO bucket-size bound (simhash's 8-bit pigeonhole bands: one band
    byte shared by most of the corpus is one bucket holding most of the
    corpus — measured 3058 of 5000 docs in one band bucket = 4.7M pair
    builds on ONE core). The grid is split on its LEFT side: each bucket
    row explodes into ⌈m/C⌉ chunk rows carrying (≤C members, offset,
    ms); chunk rows round-robin across the cluster and each builds at
    most C·m pairs through the same Generate chain. Pair SET identical:
    union over chunks of (a at global position p, all b after p) is
    exactly the suffix grid.

    Returns columns ``a`` and ``b``: member structs with ``a < b`` (struct
    ordering = lexicographic on member_cols, so lead with the id column).
    """
    C = _PAIR_CHUNK
    members = F.sort_array(F.collect_set(F.struct(*member_cols)))
    # _fan_out (one per path): the pair-grid explode does up to
    # |bucket|²/2 (or C·m when split) row builds from a few thousand
    # tiny bucket/chunk rows — AQE's size-based coalescing would run it
    # single-task.
    buckets = (
        bands.groupBy("band", "key")
        .agg(members.alias("ms"))
        .filter(F.size("ms") > 1)
    )
    if not skew_split:
        return _fan_out(buckets).select(
            F.posexplode("ms").alias("i", "a"), F.col("ms")
        ).select(
            "a",
            F.explode(
                F.slice("ms", F.col("i") + F.lit(2), F.size("ms"))
            ).alias("b"),
        )
    chunks = F.expr(
        f"""transform(sequence(0, (size(ms)-1) DIV {C}), i ->
              struct(slice(ms, i*{C}+1, {C}) AS ca, i*{C} AS off))"""
    )
    rows = _fan_out(buckets.select(F.explode(chunks).alias("ch"), "ms"))
    return rows.select(
        F.posexplode("ch.ca").alias("k", "a"),
        F.col("ch.off").alias("off"),
        "ms",
    ).select(
        "a",
        F.explode(
            F.slice(
                "ms", F.col("off") + F.col("k") + F.lit(2), F.size("ms")
            )
        ).alias("b"),
    )


import random as _random

# universal-hash family over one base md5: h_i = (a_i·h + b_i) mod P with
# h = first 60 bits of md5(shingle). One digest per shingle instead of
# NUM_PERM digests, and the signature shuffle carries ints, not hex
# strings. P = 2^31 - 1 keeps a·h + b < 2^62 (no 64-bit overflow on
# either engine; DuckDB raises on BIGINT overflow rather than wrapping).
MINHASH_P = 2147483647
_rnd = _random.Random(7)
MINHASH_AB = [
    (_rnd.randrange(1, MINHASH_P), _rnd.randrange(0, MINHASH_P))
    for _ in range(NUM_PERM)
]
del _rnd


def _minhash_sig(shingles: DataFrame) -> DataFrame:
    """NUM_PERM min-hashes per doc from one md5 per shingle (see
    MINHASH_AB). min over a universal family is a valid uniform minhash
    and is engine-portable: integer arithmetic only past the digest."""
    h = (
        F.conv(F.substring(F.md5(F.col("shingle").cast("binary")), 1, 15), 16, 10)
        .cast("long")
        % MINHASH_P
    )
    aggs = [
        F.min((F.lit(a) * h + F.lit(b)) % MINHASH_P).alias(f"h{i}")
        for i, (a, b) in enumerate(MINHASH_AB)
    ]
    return shingles.groupBy("doc_id").agg(*aggs)


def _sql_minhash_sig() -> str:
    cols = ",\n               ".join(
        f"MIN(({a} * h + {b}) % {MINHASH_P}) AS h{i}"
        for i, (a, b) in enumerate(MINHASH_AB)
    )
    return f"""
        SELECT doc_id,
               {cols}
        FROM (
            SELECT doc_id,
                   CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT)
                       % {MINHASH_P} AS h
            FROM sh
        )
        GROUP BY doc_id
    """


# ---------------------------------------------------------------------------
# 1. exact dedup
# ---------------------------------------------------------------------------


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: md5(normalized text) groups; the minimum doc_id in each
    group is canonical, the rest are duplicates. One hash-shuffle on the
    fingerprint — the linear-scale baseline every corpus dedup starts with."""
    t = load_tables(spark, sf_dir)
    docs = t["documents"].select("doc_id", fingerprint_md5("text").alias("fp"))
    canon = docs.groupBy("fp").agg(
        F.min("doc_id").alias("canonical_id"), F.count(F.lit(1)).alias("group_size")
    )
    return (
        docs.join(canon, "fp")
        .select(
            "doc_id",
            "canonical_id",
            "group_size",
            (F.col("doc_id") != F.col("canonical_id")).alias("is_duplicate"),
        )
        .orderBy("doc_id")
    )


ORACLE_DEDUP_EXACT = f"""
    WITH fps AS (SELECT doc_id, md5({SQL_NORM}) AS fp FROM documents),
    canon AS (
        SELECT fp, MIN(doc_id) AS canonical_id, COUNT(*) AS group_size
        FROM fps GROUP BY fp
    )
    SELECT doc_id, canonical_id, group_size,
           doc_id <> canonical_id AS is_duplicate
    FROM fps JOIN canon USING (fp)
    ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# 2. minhash + LSH
# ---------------------------------------------------------------------------


def _sig_bands(sig: DataFrame) -> DataFrame:
    """(doc_id, band, key) from a minhash signature frame: each band's key
    is the md5 of its NUM_PERM/LSH_BANDS signature rows."""
    rows_per_band = NUM_PERM // LSH_BANDS
    band_keys = [
        F.md5(
            F.concat_ws("|", *[F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)])
            .cast("binary")
        )
        for b in range(LSH_BANDS)
    ]
    return sig.select("doc_id", F.posexplode(F.array(*band_keys)).alias("band", "key"))


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs, exact-Jaccard-verified.

    shingle -> 16 minhashes -> 4 bands -> bucket self-join -> candidates
    -> exact Jaccard over shingle sets -> pairs >= 0.5.

    The band join is the scale trick: docs only compare within identical
    band buckets, so work is sum over buckets of |bucket|^2, not n^2.
    """
    t = load_tables(spark, sf_dir)
    sh = track_persist(_doc_shingles(t["documents"]))
    sig = _minhash_sig(sh)
    bands = _sig_bands(sig)

    cand = (
        _bucket_pairs(bands, ["doc_id"])
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
    )

    # r11 (guide §2.3): exact verification over COMPACT per-doc arrays —
    # one reduction of the cached shingle frame yields each doc's
    # distinct-shingle array and its size, and candidates verify by JVM
    # array_intersect. The previous form joined the candidate pairs
    # against the corpus-wide shingle frame TWICE on (doc, shingle)
    # equality — two extra shuffles of the posting lists per run — to
    # count the same intersection (n_inter = |set ∩ set| either way:
    # the pairs are distinct and so are each doc's shingles).
    docs_arr = sh.groupBy("doc_id").agg(
        F.collect_list("shingle").alias("arr"),
        F.count(F.lit(1)).alias("n_sh"),
    )
    inter = (
        cand.join(
            docs_arr.select(
                F.col("doc_id").alias("id_a"),
                F.col("arr").alias("fa"),
                F.col("n_sh").alias("na"),
            ),
            "id_a",
        )
        .join(
            docs_arr.select(
                F.col("doc_id").alias("id_b"),
                F.col("arr").alias("fb"),
                F.col("n_sh").alias("nb"),
            ),
            "id_b",
        )
        .withColumn(
            "n_inter", F.size(F.array_intersect("fa", "fb")).cast("long")
        )
    )
    return (
        inter.select(
            "id_a",
            "id_b",
            "n_inter",
            (
                F.col("n_inter")
                / (F.col("na") + F.col("nb") - F.col("n_inter"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= MINHASH_JACCARD_T)
        .orderBy("id_a", "id_b")
    )


def q_lsh_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH quality audit as a first-class QUERY: the exact ≥-threshold
    pair set (complete by construction — any pair with Jaccard > 0
    shares a shingle, so the inverted index enumerates every true pair),
    the LSH band-bucket candidate set, and their overlap, reduced to the
    two numbers an operator tunes bands/rows against: RECALL (what
    fraction of true near-dup pairs did the bands surface?) and
    CANDIDATE PRECISION (what fraction of surfaced candidates survive
    exact verification — the wasted-verification budget).

    This promotes the pytest-only recall gate to an oracle-checked
    catalog surface: the DuckDB side recomputes signatures, bands,
    candidates, AND the exact pair set independently, so the report's
    every cell is value-verified. Verified pairs are a subset of exact
    pairs by construction (same threshold, same exact re-check), so
    recall = n_verified / n_exact.
    """
    t = load_tables(spark, sf_dir)
    sh = track_persist(_doc_shingles(t["documents"]))
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))

    def jaccard_pairs(cand: DataFrame) -> DataFrame:
        inter = (
            cand.join(sh.alias("sa"), F.col("sa.doc_id") == F.col("id_a"))
            .join(
                sh.alias("sb"),
                (F.col("sb.doc_id") == F.col("id_b"))
                & (F.col("sb.shingle") == F.col("sa.shingle")),
            )
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("n_inter"))
        )
        return (
            inter.join(sizes.alias("za"), F.col("za.doc_id") == F.col("id_a"))
            .join(sizes.alias("zb"), F.col("zb.doc_id") == F.col("id_b"))
            .filter(
                F.col("n_inter")
                / (F.col("za.n_sh") + F.col("zb.n_sh") - F.col("n_inter"))
                >= MINHASH_JACCARD_T
            )
            .select("id_a", "id_b")
        )

    all_cand = (
        sh.alias("a")
        .join(
            sh.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
    )
    exact = jaccard_pairs(all_cand)
    lsh_cand = (
        _bucket_pairs(_sig_bands(_minhash_sig(sh)), ["doc_id"])
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
    )
    verified = jaccard_pairs(lsh_cand)
    n_exact = exact.count()
    n_cand = lsh_cand.count()
    n_verified = verified.count()
    return spark.createDataFrame(
        [(n_exact, n_cand, n_verified)],
        "n_exact_pairs long, n_candidates long, n_verified long",
    ).select(
        "n_exact_pairs",
        "n_candidates",
        "n_verified",
        F.round(
            F.col("n_verified").cast("double")
            / F.col("n_exact_pairs").cast("double"),
            6,
        ).alias("recall"),
        F.round(
            F.col("n_verified").cast("double")
            / F.col("n_candidates").cast("double"),
            6,
        ).alias("candidate_precision"),
    )


def _oracle_lsh_recall_report() -> str:
    return f"""
    WITH {_sql_minhash_pair_ctes()},
    all_cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM sh a JOIN sh b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    ),
    exact_inter AS (
        SELECT id_a, id_b, COUNT(*) AS n_inter
        FROM all_cand
        JOIN sh sa ON sa.doc_id = id_a
        JOIN sh sb ON sb.doc_id = id_b AND sb.shingle = sa.shingle
        GROUP BY id_a, id_b
    ),
    exact_pairs AS (
        SELECT id_a, id_b
        FROM exact_inter
        JOIN sizes za ON za.doc_id = id_a
        JOIN sizes zb ON zb.doc_id = id_b
        WHERE n_inter / (za.n_sh + zb.n_sh - n_inter) >= {MINHASH_JACCARD_T}
    ),
    counts AS (
        SELECT (SELECT COUNT(*) FROM exact_pairs) AS n_exact_pairs,
               (SELECT COUNT(*) FROM cand) AS n_candidates,
               (SELECT COUNT(*) FROM pairs) AS n_verified
    )
    SELECT n_exact_pairs, n_candidates, n_verified,
           ROUND(CAST(n_verified AS DOUBLE) / CAST(n_exact_pairs AS DOUBLE), 6)
               AS recall,
           ROUND(CAST(n_verified AS DOUBLE) / CAST(n_candidates AS DOUBLE), 6)
               AS candidate_precision
    FROM counts
    """


def _sql_band_rows() -> str:
    """LATERAL VALUES rows mapping a signature row to its LSH band keys —
    shared by every oracle that mirrors _sig_bands."""
    rows_per_band = NUM_PERM // LSH_BANDS
    return ",\n            ".join(
        "({b}, md5({concat}))".format(
            b=b,
            concat=" || '|' || ".join(f"h{b * rows_per_band + r}" for r in range(rows_per_band)),
        )
        for b in range(LSH_BANDS)
    )


def _sql_minhash_pair_ctes() -> str:
    """The WITH-clause body computing verified near-dup pairs — shared by
    the minhash oracle and the corpus-prep pipeline oracle."""
    band_rows = _sql_band_rows()
    return f"""sh AS ({_sql_shingles()}),
    sig AS ({_sql_minhash_sig()}),
    bands AS (
        SELECT doc_id, band, key
        FROM sig, LATERAL (VALUES {band_rows}) AS v(band, key)
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
        SELECT id_a, id_b, COUNT(*) AS n_inter
        FROM cand
        JOIN sh sa ON sa.doc_id = id_a
        JOIN sh sb ON sb.doc_id = id_b AND sb.shingle = sa.shingle
        GROUP BY id_a, id_b
    ),
    pairs AS (
        SELECT id_a, id_b, n_inter,
               n_inter / (za.n_sh + zb.n_sh - n_inter) AS jaccard
        FROM inter
        JOIN sizes za ON za.doc_id = id_a
        JOIN sizes zb ON zb.doc_id = id_b
        WHERE n_inter / (za.n_sh + zb.n_sh - n_inter) >= {MINHASH_JACCARD_T}
    )"""


def _oracle_minhash_lsh() -> str:
    return f"""
    WITH {_sql_minhash_pair_ctes()}
    SELECT id_a, id_b, n_inter, jaccard
    FROM pairs
    ORDER BY id_a, id_b
    """


# ---------------------------------------------------------------------------
# 2b. incremental dedup against a persisted signature store
# ---------------------------------------------------------------------------
#
# The continual-ingest shape of near-dup dedup: a production corpus is
# deduped ONCE, its LSH band keys persisted; each day's incoming batch is
# hashed and joined against the store — the corpus is never re-shingled.
# The only existing docs that get re-read are the candidate matches.

INCR_MOD = 5  # doc_id % 5 == 0 plays the "incoming batch" role


def build_lsh_store(spark: SparkSession, sf_dir: str) -> str:
    """Shingle + minhash the EXISTING corpus once and persist its LSH
    band keys as the signature store: one parquet table (band, key,
    doc_id), repartitioned on key so probe joins co-locate. Built once
    through ``cache.build_once`` (keyed on the documents file and the
    engine source) — the one-off O(corpus) build is separated from
    the per-batch probe cost, exactly the split a 100 TB deployment
    makes (there the store is bucketed on key so the daily probe join
    is shuffle-free on the corpus side, and each day's accepted batch
    is appended to the store instead of rebuilding it).
    """
    import os

    from ..session import state_width

    def build(out: str) -> dict:
        docs = load_tables(spark, sf_dir)["documents"].filter(
            F.col("doc_id") % INCR_MOD != 0
        )
        # key-partitioned store layout: width tracks the session's shuffle
        # parallelism (the state_width discipline), not a constant — at
        # cluster scale the band store is the probe join's build side and a
        # fixed 8 files would pin its read parallelism
        bands = _sig_bands(_minhash_sig(_doc_shingles(docs)))
        bands.repartition(state_width(bands), "key").write.mode("overwrite").parquet(
            os.path.join(out, "bands")
        )
        return {}

    return build_once("lsh_store", sf_dir, ("documents",), build)


def q_dedup_incremental_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup dedup of an incoming batch against the
    persisted corpus signature store (see build_lsh_store).

    The incoming batch (doc_id % 5 == 0 here) is shingled and minhashed
    fresh; its band keys BROADCAST-join the store (batch << corpus is
    the defining asymmetry of continual ingest), giving candidate
    (incoming, existing) pairs at band-collision granularity. Exact
    Jaccard verification then re-shingles ONLY the matched existing
    docs — a semi-join-pruned read, not a corpus pass.

    Scale: per batch the work is O(batch tokens) hashing + a broadcast
    probe of the store + O(candidates) verification. The corpus-sized
    costs (shingle, sign, store write) happened once at build. The same
    store serves every subsequent batch.
    """
    import os

    store = spark.read.parquet(os.path.join(build_lsh_store(spark, sf_dir), "bands"))

    docs = load_tables(spark, sf_dir)["documents"]
    incoming = docs.filter(F.col("doc_id") % INCR_MOD == 0)
    in_sh = track_persist(_doc_shingles(incoming))
    in_bands = _sig_bands(_minhash_sig(in_sh))

    cand = (
        F.broadcast(
            in_bands.select(
                F.col("doc_id").alias("in_id"), "band", "key"
            )
        )
        .join(store, ["band", "key"])
        .select("in_id", F.col("doc_id").alias("ex_id"))
        .distinct()
    )

    # verify: re-shingle only the matched existing docs
    ex_matched = docs.join(
        cand.select(F.col("ex_id").alias("doc_id")).distinct(), "doc_id", "semi"
    )
    ex_sh = track_persist(_doc_shingles(ex_matched))

    # r11 (guide §2.3): verify over compact per-doc arrays (the
    # q_dedup_minhash_lsh rewrite) — one reduction per side yields the
    # distinct-shingle array + size, candidates verify by JVM
    # array_intersect instead of two (doc, shingle)-equality joins over
    # the posting lists. n_inter identical (distinct pairs ∩ distinct
    # shingles).
    in_arr = in_sh.groupBy("doc_id").agg(
        F.collect_list("shingle").alias("arr"),
        F.count(F.lit(1)).alias("n_in"),
    )
    ex_arr = ex_sh.groupBy("doc_id").agg(
        F.collect_list("shingle").alias("arr"),
        F.count(F.lit(1)).alias("n_ex"),
    )
    inter = (
        cand.join(
            in_arr.select(
                F.col("doc_id").alias("in_id"),
                F.col("arr").alias("fa"),
                "n_in",
            ),
            "in_id",
        )
        .join(
            ex_arr.select(
                F.col("doc_id").alias("ex_id"),
                F.col("arr").alias("fb"),
                "n_ex",
            ),
            "ex_id",
        )
        .withColumn(
            "n_inter", F.size(F.array_intersect("fa", "fb")).cast("long")
        )
    )
    return (
        inter.select(
            "in_id",
            "ex_id",
            "n_inter",
            (
                F.col("n_inter")
                / (F.col("n_in") + F.col("n_ex") - F.col("n_inter"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= MINHASH_JACCARD_T)
        .orderBy("in_id", "ex_id")
    )


def _oracle_incremental_lsh() -> str:
    return f"""
    WITH sh AS ({_sql_shingles()}),
    sig AS ({_sql_minhash_sig()}),
    bands AS (
        SELECT doc_id, band, key
        FROM sig, LATERAL (VALUES {_sql_band_rows()}) AS v(band, key)
    ),
    cand AS (
        SELECT DISTINCT i.doc_id AS in_id, e.doc_id AS ex_id
        FROM bands i JOIN bands e
          ON i.band = e.band AND i.key = e.key
        WHERE i.doc_id % {INCR_MOD} = 0 AND e.doc_id % {INCR_MOD} <> 0
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
        SELECT in_id, ex_id, COUNT(*) AS n_inter
        FROM cand
        JOIN sh si ON si.doc_id = in_id
        JOIN sh se ON se.doc_id = ex_id AND se.shingle = si.shingle
        GROUP BY in_id, ex_id
    )
    SELECT in_id, ex_id, n_inter,
           n_inter / (za.n_sh + zb.n_sh - n_inter) AS jaccard
    FROM inter
    JOIN sizes za ON za.doc_id = in_id
    JOIN sizes zb ON zb.doc_id = ex_id
    WHERE n_inter / (za.n_sh + zb.n_sh - n_inter) >= {MINHASH_JACCARD_T}
    ORDER BY in_id, ex_id
    """


# ---------------------------------------------------------------------------
# 3. simhash
# ---------------------------------------------------------------------------


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash signatures, sorted for presentation."""
    return _simhash_sigs(spark, sf_dir).orderBy("doc_id")


def _simhash_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc SimHash over distinct tokens: md5's first 8 hex digits give
    a 32-bit token hash; each bit votes +1/-1; the sign of the per-bit sum
    is the signature bit. All integer arithmetic — engine-portable to the
    bit (votes > 0  <=>  2·popcount-contribution > token count).

    Whole-stage-codegen formulation: the token hash is computed on the
    EXPLODED stream (codegen md5 per row), the distinct collapses
    (doc, token) with map-side partial aggregation, and the 32 bit votes
    are plain SUM aggregates (32 columns in one hash aggregate — also
    codegen, also map-side combined). An earlier collect_set +
    higher-order-fold variant kept one shuffle but paid ~80M interpreted
    lambda evaluations for the votes; measured slower than this shape,
    whose second shuffle moves only n_docs × 33 partial sums. Mirrors the
    oracle's explode → DISTINCT → GROUP BY structure exactly.
    """
    docs = load_tables(spark, sf_dir)["documents"]
    toks = (
        _fan_out(docs.select("doc_id", "text"))
        .select(
            "doc_id", F.explode(F.split(F.trim(norm_text("text")), " ")).alias("tok")
        )
        .distinct()
    )
    h = F.conv(F.substring(F.md5(F.col("tok").cast("binary")), 1, 8), 16, 10).cast(
        "long"
    )
    votes = toks.select("doc_id", h.alias("h")).groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)).cast("int")).alias(
                f"s{j}"
            )
            for j in range(32)
        ],
    )
    sim = sum(
        (
            F.when(F.col(f"s{j}") * 2 > F.col("n"), F.lit(2**j)).otherwise(F.lit(0))
            for j in range(32)
        ),
        F.lit(0),
    ).cast("long")
    return votes.select("doc_id", sim.alias("simhash"))


def _sql_simhash_core() -> str:
    digit_cols = ",\n               ".join(
        f"strpos('0123456789abcdef', substr(md5(tok), {p + 1}, 1)) - 1 AS d{p}"
        for p in range(8)
    )
    vote_cols = ",\n               ".join(
        f"SUM(((d{p} // {2**k}) % 2) * 2 - 1) AS s_{p}_{k}" for p in range(8) for k in range(4)
    )
    sim_expr = " + ".join(
        f"(CASE WHEN s_{p}_{k} > 0 THEN {2 ** (4 * (7 - p) + k)} ELSE 0 END)"
        for p in range(8)
        for k in range(4)
    )
    return f"""
    WITH toks AS (
        SELECT DISTINCT doc_id, UNNEST(string_split(trim({SQL_NORM}), ' ')) AS tok
        FROM documents
    ),
    digits AS (
        SELECT doc_id,
               {digit_cols}
        FROM toks
    ),
    votes AS (
        SELECT doc_id,
               {vote_cols}
        FROM digits
        GROUP BY doc_id
    ),
    sims AS (SELECT doc_id, CAST({sim_expr} AS BIGINT) AS simhash FROM votes)
    """


def _oracle_simhash() -> str:
    return _sql_simhash_core() + "\n    SELECT doc_id, simhash FROM sims ORDER BY doc_id"


def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by SimHash: block on any equal 8-bit signature band,
    keep pairs with Hamming distance <= SIMHASH_MAX_HAMMING. Banding bounds
    the self-join — a pair within Hamming 3 of a 32-bit signature must agree
    on at least one of the 4 bytes (pigeonhole), so the threshold can rise
    to 3 without changing the blocking."""
    sims = _simhash_sigs(spark, sf_dir)
    bands = sims.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("simhash"), 8 * b).bitwiseAND(F.lit(255))
                    for b in range(SIMHASH_BANDS)
                ]
            )
        ).alias("band", "key"),
    )
    # Hamming is a pure function of the pair (one simhash per doc), so the
    # threshold filter runs BEFORE the dedup: the distinct's shuffle then
    # carries only matching pairs instead of every band-collision candidate.
    hamming = F.bit_count(
        F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    )
    return (
        # skew_split: pigeonhole byte-bands have no bucket-size bound —
        # one popular band byte = one corpus-sized bucket (measured:
        # 3058/5000 docs in band 1 key 78 at sf0.1)
        _bucket_pairs(bands, ["doc_id", "simhash"], skew_split=True)
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= SIMHASH_MAX_HAMMING)
        .distinct()
        .orderBy("id_a", "id_b")
    )


def _sql_simhash_pair_ctes() -> str:
    """WITH-clause body ending in ``spairs`` (verified SimHash near-dup
    pairs) — shared by the pairs oracle and the components oracle."""
    bands = ", ".join(f"({b}, (simhash >> {8 * b}) & 255)" for b in range(SIMHASH_BANDS))
    return (
        _sql_simhash_core()
        + f""",
    bands AS (
        SELECT doc_id, simhash, band, key
        FROM sims, LATERAL (VALUES {bands}) AS v(band, key)
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
               a.simhash AS sim_a, b.simhash AS sim_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    ),
    spairs AS (
        SELECT id_a, id_b, bit_count(xor(sim_a, sim_b)) AS hamming
        FROM cand
        WHERE bit_count(xor(sim_a, sim_b)) <= {SIMHASH_MAX_HAMMING}
    )"""
    )


def _oracle_simhash_pairs() -> str:
    return (
        _sql_simhash_pair_ctes()
        + """
    SELECT id_a, id_b, hamming
    FROM spairs
    ORDER BY id_a, id_b
    """
    )


# ---------------------------------------------------------------------------
# 3b. duplicate clusters: connected components over near-dup pairs
# ---------------------------------------------------------------------------

def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clusters: connected components of the SimHash near-dup
    graph.

    Pairwise dedup output is not directly actionable — keeping "one of
    each pair" over-deletes when pairs chain (a~b, b~c). The fix is
    grouping pairs into components and keeping one representative per
    component, labeled by its minimum doc_id. The components come from
    the shared ``graph.weakly_connected_components`` loop (min-label
    propagation with frontier messaging and pointer jumping).

    The DuckDB oracle computes the same components with a recursive CTE
    (transitive closure then per-node min) — full value parity for an
    operator SQL alone cannot express without recursion.
    """
    edges = q_dedup_simhash_pairs(spark, sf_dir).select("id_a", "id_b")
    w = W.partitionBy("component_id")
    return (
        weakly_connected_components(edges.toDF("src", "dst"))
        .select(
            F.col("node").alias("doc_id"), F.col("component").alias("component_id")
        )
        .withColumn("component_size", F.count(F.lit(1)).over(w))
        .orderBy("doc_id")
    )


def _oracle_dedup_components() -> str:
    return (
        _sql_simhash_pair_ctes().replace("WITH ", "WITH RECURSIVE ", 1)
        + """,
    nodes AS (SELECT id_a AS node FROM spairs UNION SELECT id_b FROM spairs),
    und AS (
        SELECT id_a AS src, id_b AS dst FROM spairs
        UNION ALL
        SELECT id_b, id_a FROM spairs
    ),
    reach(node, r) AS (
        SELECT node, node FROM nodes
        UNION
        SELECT u.dst, reach.r FROM reach JOIN und u ON u.src = reach.node
    ),
    comp AS (SELECT node AS doc_id, MIN(r) AS component_id FROM reach GROUP BY node)
    SELECT doc_id, component_id,
           COUNT(*) OVER (PARTITION BY component_id) AS component_size
    FROM comp
    ORDER BY doc_id
    """
    )


CONTAINMENT_T = 0.5  # report pairs where either doc is half-contained


def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric CONTAINMENT similarity — |A∩B| / |A| — the
    excerpt/quote/subset detector Jaccard misses: a short doc fully
    lifted from a long one has tiny Jaccard (the union is huge) but
    containment ≈ 1. This is the dedup signal for "doc A is a fragment
    of doc B", which a training pipeline treats differently from true
    near-duplicates (drop the fragment, keep the superset).

    Same inverted-index candidate generation as the Jaccard baseline
    (pairs sharing ≥ 1 shingle; Σ posting-list² bounded, never doc×doc);
    each surviving pair reports BOTH directions plus which one crossed
    the threshold. Integer shingle counts → exact ratios, no rounding
    contract.
    """
    t = load_tables(spark, sf_dir)
    sh = track_persist(_doc_shingles(t["documents"]))
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    cab = F.col("n_inter") / F.col("za.n_sh")
    cba = F.col("n_inter") / F.col("zb.n_sh")
    return (
        inter.join(sizes.alias("za"), F.col("za.doc_id") == F.col("id_a"))
        .join(sizes.alias("zb"), F.col("zb.doc_id") == F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            "n_inter",
            cab.alias("cont_a_in_b"),
            cba.alias("cont_b_in_a"),
            (cab >= CONTAINMENT_T).alias("a_is_fragment"),
            (cba >= CONTAINMENT_T).alias("b_is_fragment"),
        )
        .filter(F.col("a_is_fragment") | F.col("b_is_fragment"))
        .orderBy("id_a", "id_b")
    )


def _oracle_containment() -> str:
    return f"""
    WITH sh AS ({_sql_shingles()}),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT id_a, id_b, n_inter,
           n_inter / za.n_sh AS cont_a_in_b,
           n_inter / zb.n_sh AS cont_b_in_a,
           (n_inter / za.n_sh >= {CONTAINMENT_T}) AS a_is_fragment,
           (n_inter / zb.n_sh >= {CONTAINMENT_T}) AS b_is_fragment
    FROM inter
    JOIN sizes za ON za.doc_id = id_a
    JOIN sizes zb ON zb.doc_id = id_b
    WHERE n_inter / za.n_sh >= {CONTAINMENT_T}
       OR n_inter / zb.n_sh >= {CONTAINMENT_T}
    ORDER BY id_a, id_b
    """


def q_dedup_keep_superset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment survivorship: every document that is ≥ CONTAINMENT_T
    contained in a LARGER document (more shingles; ties break to the
    smaller doc_id) is dropped in favor of that superset — the policy
    layer over ``q_dedup_containment``: fragments/excerpts add no
    information a training run doesn't already get from the superset.

    Each dropped doc names its best witness (argmax containment, then
    largest, then smallest-id superset — a deterministic lexicographic
    struct-max, no rank window needed). Size-ordering makes the drop
    relation acyclic by construction: a doc can only be dropped by a
    strictly "larger" one under the (n_sh, -doc_id) order, so no
    drop-each-other pair and no chase-the-chain pass is needed —
    contrast with ``dup_of`` chains in q_dedup_semantic.
    """
    t = load_tables(spark, sf_dir)
    sh = track_persist(_doc_shingles(t["documents"]))
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("frag_id"), F.col("b.doc_id").alias("sup_id")
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    cand = (
        inter.join(
            sizes.select(F.col("doc_id").alias("frag_id"), F.col("n_sh").alias("n_frag")),
            "frag_id",
        )
        .join(
            sizes.select(F.col("doc_id").alias("sup_id"), F.col("n_sh").alias("n_sup")),
            "sup_id",
        )
        .filter(
            (F.col("n_inter") / F.col("n_frag") >= CONTAINMENT_T)
            & (
                (F.col("n_sup") > F.col("n_frag"))
                | (
                    (F.col("n_sup") == F.col("n_frag"))
                    & (F.col("sup_id") < F.col("frag_id"))
                )
            )
        )
    )
    best = F.max(
        F.struct(
            (F.col("n_inter") / F.col("n_frag")).alias("c"),
            F.col("n_sup").alias("ns"),
            (-F.col("sup_id")).alias("neg_id"),
        )
    )
    return (
        cand.groupBy("frag_id", "n_frag")
        .agg(best.alias("w"))
        .select(
            "frag_id",
            "n_frag",
            (-F.col("w.neg_id")).alias("kept_superset"),
            F.col("w.c").alias("containment"),
            F.col("w.ns").alias("n_sup"),
        )
        .orderBy("frag_id")
    )


def _oracle_keep_superset() -> str:
    return f"""
    WITH sh AS ({_sql_shingles()}),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS frag_id, b.doc_id AS sup_id, COUNT(*) AS n_inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
        GROUP BY 1, 2
    ),
    cand AS (
        SELECT i.frag_id, i.sup_id, i.n_inter,
               zf.n_sh AS n_frag, zs.n_sh AS n_sup,
               i.n_inter / zf.n_sh AS containment
        FROM inter i
        JOIN sizes zf ON zf.doc_id = i.frag_id
        JOIN sizes zs ON zs.doc_id = i.sup_id
        WHERE i.n_inter / zf.n_sh >= {CONTAINMENT_T}
          AND (zs.n_sh > zf.n_sh
               OR (zs.n_sh = zf.n_sh AND i.sup_id < i.frag_id))
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY frag_id
            ORDER BY containment DESC, n_sup DESC, sup_id ASC
        ) AS rk
        FROM cand
    )
    SELECT frag_id, n_frag, sup_id AS kept_superset, containment, n_sup
    FROM ranked WHERE rk = 1
    ORDER BY frag_id
    """


# ---------------------------------------------------------------------------
# 4. n-gram Jaccard (shingle-blocked, no signatures)
# ---------------------------------------------------------------------------


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise word-3-gram Jaccard for every pair sharing >= 1 shingle.

    No signatures: candidates come straight from the shingle inverted
    index (self-join on shingle). Exact but quadratic within a shingle's
    posting list — the honest baseline minhash-LSH approximates.
    """
    t = load_tables(spark, sf_dir)
    sh = track_persist(_doc_shingles(t["documents"]))
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        inter.join(sizes.alias("za"), F.col("za.doc_id") == F.col("id_a"))
        .join(sizes.alias("zb"), F.col("zb.doc_id") == F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            (
                F.col("n_inter")
                / (F.col("za.n_sh") + F.col("zb.n_sh") - F.col("n_inter"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= NGRAM_JACCARD_T)
        .orderBy("id_a", "id_b")
    )


def _oracle_ngram_jaccard() -> str:
    return f"""
    WITH sh AS ({_sql_shingles()}),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           n_inter / (za.n_sh + zb.n_sh - n_inter) AS jaccard
    FROM inter
    JOIN sizes za ON za.doc_id = id_a
    JOIN sizes zb ON zb.doc_id = id_b
    WHERE n_inter / (za.n_sh + zb.n_sh - n_inter) >= {NGRAM_JACCARD_T}
    ORDER BY id_a, id_b
    """


# ---------------------------------------------------------------------------
# 5. embedding cosine near-dup
# ---------------------------------------------------------------------------


def cosine_expr(a: str, b: str):
    """Cosine similarity of two array<float> columns, JVM-side:
    zip_with product + aggregate sum, all in double."""
    dot = F.aggregate(
        F.zip_with(F.col(a), F.col(b), lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    na = F.sqrt(
        F.aggregate(
            F.transform(F.col(a), lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    nb = F.sqrt(
        F.aggregate(
            F.transform(F.col(b), lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    return dot / (na * nb)


EMB_DIM = 64  # testdata embedding width (TESTDATA.md)


EMB_GEMM_BLOCKS = 8  # block-grid width B -> B(B+1)/2 GEMM tiles


def q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs: cosine >= COSINE_T over the full pairwise
    set (threshold picked at the ~99.99th percentile of this corpus's
    pair-cosine distribution; its max pair cosine is ~0.51).

    Executed as a DISTRIBUTED BLOCK-GRID GEMM — the exact all-pairs scale
    pattern. Rows hash into B blocks; each row is replicated B times so
    every unordered block pair (i <= j) becomes one grid tile holding
    block i's rows and block j's rows. Tiles shuffle independently and
    each computes its own dense cosine tile with Arrow-batched
    applyInPandas + numpy GEMM — vectorized C loops, never a per-pair
    expression interpreter. Every unordered row pair lands in exactly one
    tile (diagonal tiles mask the upper triangle), so the result is exact,
    not approximate.

    Scale: no driver materialization and no corpus broadcast — shuffle
    volume is B·n rows and peak per-task memory is two blocks of n/B
    vectors, so B is tuned so a tile fits an executor: 100 TB runs the
    identical plan with a larger grid. (For a *thresholded* near-dup at
    even larger n, swap candidate generation to the sign-LSH bucket join
    of knn_lsh_bucketed and keep the per-bucket GEMM — sub-quadratic, at
    the cost of LSH recall; this entry keeps the exact contract because
    its DuckDB oracle is exact.)
    """
    import numpy as np
    import pandas as pd

    t = load_tables(spark, sf_dir)
    e = t["embeddings"].select("vec_id", "embedding")

    B = EMB_GEMM_BLOCKS
    # replicate each row to every tile its block participates in: row with
    # block b meets block o in tile (min(b,o), max(b,o)); o == b is the
    # diagonal tile. Exactly B copies per row.
    tiled = (
        e.withColumn("_blk", F.pmod(F.col("vec_id"), F.lit(B)).cast("int"))
        .withColumn("_other", F.explode(F.sequence(F.lit(0), F.lit(B - 1))))
        .select(
            "vec_id",
            "embedding",
            "_blk",
            F.least("_blk", "_other").alias("bi"),
            F.greatest("_blk", "_other").alias("bj"),
        )
    )

    def gemm_tile(key, pdf):
        bi, bj = int(key[0]), int(key[1])
        ids = pdf["vec_id"].to_numpy()
        if len(ids) == 0:
            return pd.DataFrame(
                {
                    "id_a": pd.Series([], dtype="int64"),
                    "id_b": pd.Series([], dtype="int64"),
                    "cosine": pd.Series([], dtype="float64"),
                }
            )
        mat = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
        norms = np.sqrt((mat * mat).sum(axis=1))
        if bi == bj:
            cos = np.round((mat @ mat.T) / np.outer(norms, norms), 6)
            ii, jj = np.nonzero((cos >= COSINE_T) & (ids[:, None] < ids[None, :]))
            return pd.DataFrame(
                {"id_a": ids[ii], "id_b": ids[jj], "cosine": cos[ii, jj]}
            )
        a = (pdf["_blk"].to_numpy() == bi)
        ids_a, ids_b = ids[a], ids[~a]
        if len(ids_a) == 0 or len(ids_b) == 0:
            return pd.DataFrame(
                {
                    "id_a": pd.Series([], dtype="int64"),
                    "id_b": pd.Series([], dtype="int64"),
                    "cosine": pd.Series([], dtype="float64"),
                }
            )
        cos = np.round(
            (mat[a] @ mat[~a].T) / np.outer(norms[a], norms[~a]), 6
        )
        ii, jj = np.nonzero(cos >= COSINE_T)
        # normalize pair order: the pair appears only in this tile
        return pd.DataFrame(
            {
                "id_a": np.minimum(ids_a[ii], ids_b[jj]),
                "id_b": np.maximum(ids_a[ii], ids_b[jj]),
                "cosine": cos[ii, jj],
            }
        )

    return (
        tiled.groupBy("bi", "bj")
        .applyInPandas(gemm_tile, schema="id_a long, id_b long, cosine double")
        .orderBy("id_a", "id_b")
    )


# CAST to DOUBLE[] matters: DuckDB's list_cosine_similarity on FLOAT[]
# returns float32, which can't hash-match Spark's double arithmetic.
ORACLE_EMBEDDING_COSINE = f"""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[])), 6) AS cosine
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                       CAST(b.embedding AS DOUBLE[])), 6) >= {COSINE_T}
    ORDER BY id_a, id_b
"""


EMB_LSH_BANDS = 4  # sign-LSH bands for the sub-quadratic variant
EMB_LSH_DIMS = 4  # dims per band -> 16 buckets per band


def _emb_band_key(col: str, band: int):
    base = band * EMB_LSH_DIMS
    return sum(
        (
            F.when(F.col(col).getItem(base + i) > 0, F.lit(2**i)).otherwise(F.lit(0))
            for i in range(EMB_LSH_DIMS)
        ),
        F.lit(0),
    )


def _emb_band_key_sql(band: int) -> str:
    base = band * EMB_LSH_DIMS
    return " + ".join(
        f"(CASE WHEN embedding[{base + i + 1}] > 0 THEN {2**i} ELSE 0 END)"
        for i in range(EMB_LSH_DIMS)
    )


def q_dedup_embedding_cosine_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-quadratic embedding near-dup: banded sign-LSH candidate
    generation, exact cosine verify inside buckets only.

    The scale path past even the block-grid GEMM of
    ``q_dedup_embedding_cosine``: each vector lands in EMB_LSH_BANDS
    buckets (sign pattern of that band's dims — OR-amplification across
    bands), candidates are same-(band, bucket) pairs found by an
    EQUI-join, and only candidates pay the exact-cosine verify. Work is
    Σ|bucket|² per band instead of n² — fully shuffle-bounded, no
    replication of the corpus beyond the band count. The trade is
    recall: sign agreement is probabilistic, so this catches a subset of
    the exact operator's pairs (measured against it in
    tests/test_similarity.py); raise bands/probe for more recall.

    Deterministic coordinate-hyperplane LSH keeps it SQL-expressible, so
    unlike most ANN paths this one has a full value-level DuckDB oracle.

    Verify plane: candidate hydration is two JVM equi-joins (linear in
    |candidates|); the cosine itself is an ARROW-BATCHED numpy kernel
    (mapInPandas), the same vectorized-C route as the exact GEMM twin —
    measured 2.5× faster end-to-end than the interpreted per-pair
    ``F.aggregate`` fold this replaced (SCALING.md also records the
    statically-unrolled codegen chain losing 5× to BOTH; a 64-float dot
    per row is exactly the shape expression interpreters and codegen are
    bad at and BLAS is built for). The round-robin ``_fan_out`` to P
    partitions on the tiny pair frame pins the verify stage's
    task count BEFORE the Python plane: the pair frame is a few MB (AQE
    would coalesce it to ~3 tasks) but each row costs a 64-dim dot, so
    partition count must follow CPU, not bytes.
    """
    import numpy as np
    import pandas as pd

    t = load_tables(spark, sf_dir)
    e = t["embeddings"].select("vec_id", "embedding")
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"), _emb_band_key("embedding", b).alias("key")
            )
            for b in range(EMB_LSH_BANDS)
        ]
    )
    # r11: the banded signature plan (embedding scan + EMB_LSH_BANDS×DIMS
    # case-folds) runs ONCE — the band×band equi-join used to derive `bk`
    # independently on both sides (no ReusedExchange across the rename).
    # The 3-int-per-row bk frame is persisted and both join sides read
    # the cache; a `_bucket_pairs` collect-explode variant was measured
    # SLOWER here (the signature is cheap case-whens, so the grid
    # machinery cost more than the duplicate derivation it removed).
    bk = track_persist(
        _fan_out(e)
        .select("vec_id", F.explode(bands).alias("bk"))
        .select("vec_id", "bk.band", "bk.key")
    )
    cand = (
        bk.toDF("id_a", "band", "key")
        .join(bk.toDF("id_b", "band", "key"), ["band", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()  # a pair agreeing in several bands is one candidate
    )
    hydrated = (
        _fan_out(cand)
        .join(e.toDF("id_a", "va"), "id_a")
        .join(e.toDF("id_b", "vb"), "id_b")
    )

    def verify(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            a = np.vstack(pdf["va"].to_numpy()).astype(np.float64)
            b = np.vstack(pdf["vb"].to_numpy()).astype(np.float64)
            cos = np.round(
                (a * b).sum(axis=1)
                / (np.sqrt((a * a).sum(axis=1)) * np.sqrt((b * b).sum(axis=1))),
                6,
            )
            m = cos >= COSINE_T
            yield pd.DataFrame(
                {
                    "id_a": pdf["id_a"].to_numpy()[m],
                    "id_b": pdf["id_b"].to_numpy()[m],
                    "cosine": cos[m],
                }
            )

    return hydrated.mapInPandas(
        verify, schema="id_a long, id_b long, cosine double"
    ).orderBy("id_a", "id_b")


def _oracle_embedding_cosine_lsh() -> str:
    band_selects = "\n        UNION ALL ".join(
        f"SELECT vec_id, {b} AS band, ({_emb_band_key_sql(b)}) AS key FROM embeddings"
        for b in range(EMB_LSH_BANDS)
    )
    cos = (
        "ROUND(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]), "
        "CAST(eb.embedding AS DOUBLE[])), 6)"
    )
    return f"""
    WITH bk AS (
        {band_selects}
    ),
    cand AS (
        SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        FROM bk a JOIN bk b ON a.band = b.band AND a.key = b.key
        WHERE a.vec_id < b.vec_id
    )
    SELECT id_a, id_b, {cos} AS cosine
    FROM cand
    JOIN embeddings ea ON ea.vec_id = id_a
    JOIN embeddings eb ON eb.vec_id = id_b
    WHERE {cos} >= {COSINE_T}
    ORDER BY id_a, id_b
    """


SPAN_N = 8  # span length (tokens) for cross-document span duplication


def q_dedup_span_duplication(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document span duplication (RefinedWeb/Dolma-style substring
    dedup signal): per document, the fraction of its distinct 8-token
    spans that occur in at least one other document's span set.

    Two shuffles total: the per-doc DISTINCT of (doc_id, span) and the
    span-frequency aggregate — both linear in corpus token count; the
    span⋈frequency join carries already-distinct rows. Internal
    repetition is excluded by the per-doc DISTINCT, so the signal is
    purely cross-document (the quality gate's repetition rule covers
    within-doc repeats).
    """
    docs = load_tables(spark, sf_dir)["documents"]
    spans = (
        _fan_out(docs.select("doc_id", "text"))
        .select("doc_id", tokens("text").alias("toks"))
        .select("doc_id", F.explode(word_ngrams("toks", SPAN_N)).alias("span"))
        .distinct()
    )
    freq = spans.groupBy("span").agg(F.count(F.lit(1)).alias("n_docs"))
    dup = F.sum(F.when(F.col("n_docs") >= 2, 1).otherwise(0))
    return (
        spans.join(freq, "span")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            dup.alias("n_dup_spans"),
            F.round(dup.cast("double") / F.count(F.lit(1)), 6).alias("dup_frac"),
        )
        .orderBy("doc_id")
    )


def _sql_span_duplication() -> str:
    concat = " || ' ' || ".join(f"tk[i+{k}]" for k in range(SPAN_N))
    return f"""
    WITH sp AS (
        SELECT DISTINCT doc_id, {concat} AS span
        FROM (SELECT doc_id, string_split(trim({SQL_NORM}), ' ') AS tk FROM documents),
             UNNEST(generate_series(1, len(tk) - {SPAN_N - 1})) AS t(i)
    ), freq AS (
        SELECT span, COUNT(*) AS n_docs FROM sp GROUP BY span
    )
    SELECT doc_id, COUNT(*) AS n_spans,
           CAST(SUM(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
           ROUND(CAST(SUM(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS dup_frac
    FROM sp JOIN freq USING (span)
    GROUP BY doc_id
    ORDER BY doc_id
    """


FUZZY_MAX_DIST = 2


def q_fuzzy_join_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution via a blocked fuzzy self-join: name variants of
    the same entity found by Levenshtein distance inside blocking buckets.

    part names collapse to DISTINCT values first (dedup-before-join — the
    quadratic step runs over unique names, never over rows), block on the
    head noun (last token) so edit-distance only compares names that could
    plausibly co-refer, and each surviving pair carries both variants' row
    counts — the merge-candidate report a catalog-cleaning pipeline emits.

    Scale: distinct-name extraction is a map-side-combined groupBy; the
    name table after distinct is tiny relative to the fact, so the
    self-join broadcasts, and the per-block pair count — not
    names x names — bounds the Levenshtein work. Distance is exact integer
    edit distance on both engines (Spark ``levenshtein`` / DuckDB
    ``levenshtein``), so parity is exact with no float rounding.
    """
    part = load_tables(spark, sf_dir)["part"]
    names = (
        part.groupBy("p_name")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("blk", F.split_part(F.col("p_name"), F.lit(" "), F.lit(2)))
    )
    a = names.select(
        F.col("p_name").alias("name_a"), F.col("n").alias("n_a"), "blk"
    )
    b = names.select(
        F.col("p_name").alias("name_b"), F.col("n").alias("n_b"), "blk"
    )
    return (
        a.join(F.broadcast(b), "blk")
        .filter(F.col("name_a") < F.col("name_b"))
        .withColumn("dist", F.levenshtein("name_a", "name_b"))
        .filter(F.col("dist") <= FUZZY_MAX_DIST)
        .select("name_a", "name_b", "dist", "n_a", "n_b")
        .orderBy("name_a", "name_b")
    )


ORACLE_FUZZY_JOIN_BLOCKED = f"""
WITH counts AS (SELECT p_name, COUNT(*) AS n FROM part GROUP BY p_name),
names AS (SELECT p_name, n, split_part(p_name, ' ', 2) AS blk FROM counts)
SELECT a.p_name AS name_a, b.p_name AS name_b,
       levenshtein(a.p_name, b.p_name) AS dist,
       a.n AS n_a, b.n AS n_b
FROM names a JOIN names b ON a.blk = b.blk AND a.p_name < b.p_name
WHERE levenshtein(a.p_name, b.p_name) <= {FUZZY_MAX_DIST}
ORDER BY name_a, name_b
"""


ER_MAX_ITERS = 50  # safety bound only; the loop exits at the fixed point


def q_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end entity resolution — the classic data-integration
    pipeline as ONE dag: block → match → cluster → canonicalize.

    1. BLOCK/MATCH: distinct part names, head-noun blocking, exact
       Levenshtein ≤ FUZZY_MAX_DIST inside each block (the
       q_fuzzy_join_blocked stage — dedup-before-join, broadcast name
       table, per-block pair bound).
    2. CLUSTER: pairwise matches chain (a~b, b~c), so merge decisions
       need CONNECTED COMPONENTS, not pairs — the shared
       ``graph.weakly_connected_components`` loop over the match graph,
       bounded at ER_MAX_ITERS rounds (the name graph after DISTINCT is
       tiny relative to the fact table, and variant clusters have
       single-digit diameter, so the loop runs on a names-sized frame
       for a handful of rounds).
    3. CANONICALIZE: each cluster's lexicographic-min name is the
       surviving record; every variant maps to it with its row count, so
       the output IS the merge plan a catalog-cleaning job applies.

    The oracle recomputes all three stages independently — the match SQL
    plus a RECURSIVE-CTE transitive closure — so blocking, matching,
    chaining, and survivorship are all value-checked. Exact integer edit
    distance and string mins: no float contract anywhere.
    """
    part = load_tables(spark, sf_dir)["part"]
    counts = part.groupBy("p_name").agg(F.count(F.lit(1)).alias("n_rows"))
    names = counts.withColumn(
        "blk", F.split_part(F.col("p_name"), F.lit(" "), F.lit(2))
    )
    a = names.select(F.col("p_name").alias("name_a"), "blk")
    b = names.select(F.col("p_name").alias("name_b"), "blk")
    pairs = (
        a.join(F.broadcast(b), "blk")
        .filter(F.col("name_a") < F.col("name_b"))
        .filter(F.levenshtein("name_a", "name_b") <= FUZZY_MAX_DIST)
        .select("name_a", "name_b")
    )
    comp = weakly_connected_components(
        pairs.toDF("src", "dst"), max_iters=ER_MAX_ITERS
    )
    w = W.partitionBy("canonical_name")
    return (
        comp.join(counts, comp.node == counts.p_name)
        .select(
            F.col("node").alias("name"),
            F.col("component").alias("canonical_name"),
            "n_rows",
        )
        .withColumn("cluster_size", F.count(F.lit(1)).over(w))
        .withColumn("is_canonical", F.col("name") == F.col("canonical_name"))
        .orderBy("canonical_name", "name")
    )


ORACLE_ENTITY_RESOLUTION = f"""
WITH RECURSIVE counts AS (
    SELECT p_name, COUNT(*) AS n_rows FROM part GROUP BY p_name
), names AS (
    SELECT p_name, n_rows, split_part(p_name, ' ', 2) AS blk FROM counts
), pairs AS (
    SELECT a.p_name AS name_a, b.p_name AS name_b
    FROM names a JOIN names b ON a.blk = b.blk AND a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) <= {FUZZY_MAX_DIST}
), nodes AS (
    SELECT name_a AS node FROM pairs UNION SELECT name_b FROM pairs
), und AS (
    SELECT name_a AS src, name_b AS dst FROM pairs
    UNION ALL
    SELECT name_b, name_a FROM pairs
), reach(node, r) AS (
    SELECT node, node FROM nodes
    UNION
    SELECT u.dst, reach.r FROM reach JOIN und u ON u.src = reach.node
), comp AS (
    SELECT node AS name, MIN(r) AS canonical_name FROM reach GROUP BY node
)
SELECT c.name, c.canonical_name, n.n_rows,
       COUNT(*) OVER (PARTITION BY c.canonical_name) AS cluster_size,
       (c.name = c.canonical_name) AS is_canonical
FROM comp c JOIN counts n ON n.p_name = c.name
ORDER BY canonical_name, name
"""


SEMDEDUP_K = 8  # semantic clusters (scales with corpus size in production)
SEMDEDUP_ITERS = 5  # Lloyd's iterations
SEMDEDUP_TAU = COSINE_T  # same near-dup threshold as the exact pair listing


def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication: k-means clusters as the
    blocking structure, near-dup survivorship decided within each cluster
    (after "SemDeDup: Data-efficient learning at web-scale through
    semantic deduplication", Abbas et al., 2023 — public paper).

    Build: distributed Lloyd's over the full embedding on the PQ
    trainer, ``similarity._lloyd`` with no group key (hash-partition
    init, broadcast-centroid argmin assign, grouped-mean update, the
    centroid frame checkpointed per iteration). Dedup: per-cluster Arrow
    applyInPandas computes the dense cosine tile with one numpy GEMM and
    drops every vector that has a smaller-id in-cluster witness with
    cosine >= SEMDEDUP_TAU; ``dup_of`` on a dropped row names its
    smallest-id witness — which in a similarity chain (a~b, b~c, a≁c)
    can itself be a dropped row, so ``dup_of`` is the dedup *cause*, not
    necessarily a kept survivor.

    Scale: the cluster count grows with the corpus so each tile fits one
    executor (SemDeDup's own regime — 50k clusters for web scale); a
    pathological giant cluster falls back to the block-grid GEMM of
    q_dedup_embedding_cosine inside the cluster. Cross-cluster near-dup
    pairs are missed BY DESIGN — that approximation is the method; the
    property test checks every drop against the exact pair listing and
    every keep against a numpy recomputation of its cluster. k-means is
    not SQL-expressible => rows-only for the driver.
    """
    import numpy as np
    import pandas as pd

    from .similarity import _lloyd, _lloyd_assign

    t = load_tables(spark, sf_dir)
    # cached: every Lloyd's iteration re-reads this frame (assign joins it
    # against the new centroids); without the cache the corpus would be
    # re-scanned SEMDEDUP_ITERS+2 times
    e = track_persist(t["embeddings"].select("vec_id", "embedding"))

    cent = _lloyd(e, SEMDEDUP_K, SEMDEDUP_ITERS, [], "embedding")
    assigned = _lloyd_assign(e, cent, [], "embedding").withColumnRenamed(
        "code", "cluster"
    )

    def cluster_dedup(key, pdf):
        ids = pdf["vec_id"].to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        mat = np.vstack(pdf["embedding"].to_numpy()[order]).astype(np.float64)
        norms = np.sqrt((mat * mat).sum(axis=1))
        norms[norms == 0] = 1.0
        cos = np.round((mat @ mat.T) / np.outer(norms, norms), 6)
        witness = np.tril(cos >= SEMDEDUP_TAU, -1)  # j < i with cos >= tau
        has = witness.any(axis=1)
        first = witness.argmax(axis=1)  # smallest-id witness (ids ascending)
        dup_of = [int(ids[j]) if h else None for h, j in zip(has, first)]
        return pd.DataFrame(
            {
                "vec_id": ids,
                "cluster": int(key[0]),
                "keep": ~has,
                "dup_of": pd.array(dup_of, dtype="Int64"),
            }
        )

    return (
        assigned.groupBy("cluster")
        .applyInPandas(cluster_dedup, schema="vec_id long, cluster int, keep boolean, dup_of long")
        .orderBy("vec_id")
    )


def q_dedup_semantic_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup made hash-checkable (the ``lsh_recall_report`` trick,
    applied to the k-means path): single-row audit over the REAL
    ``q_dedup_semantic`` survivorship frame. ``n_vectors`` and
    ``n_exact_pairs`` are exact values DuckDB recomputes independently
    (corpus count; the all-pairs cosine >= tau listing — the same SQL
    as the ``dedup_embedding_cosine`` oracle); ``drops_sound`` asserts
    every (dup_of, vec_id) drop pair IS an exact near-dup pair (the
    soundness half of SemDeDup's contract — clustering may MISS pairs
    by design, but must never invent one), and ``drops_nonzero``
    asserts the clustering co-located at least one true pair
    (non-triviality). A broken centroid build, a wrong witness tile, or
    a threshold drift flips a boolean and fails the driver hash;
    previously this entry was rows-only and only pytest saw it."""
    sem = q_dedup_semantic(spark, sf_dir)
    exact = q_dedup_embedding_cosine(spark, sf_dir).select("id_a", "id_b")
    drops = sem.filter(~F.col("keep")).select(
        F.col("dup_of").alias("id_a"), F.col("vec_id").alias("id_b")
    )
    drop_stats = drops.join(
        exact.withColumn("_t", F.lit(1)), ["id_a", "id_b"], "left"
    ).agg(
        F.count(F.lit(1)).alias("_nd"),
        F.sum(F.coalesce("_t", F.lit(0))).alias("_nm"),
    )
    return (
        sem.agg(F.count(F.lit(1)).alias("n_vectors"))
        .crossJoin(exact.agg(F.count(F.lit(1)).alias("n_exact_pairs")))
        .crossJoin(drop_stats)
        .select(
            "n_vectors",
            "n_exact_pairs",
            (F.col("_nd") == F.col("_nm")).alias("drops_sound"),
            (F.col("_nd") >= F.lit(1)).alias("drops_nonzero"),
        )
    )


ORACLE_DEDUP_SEMANTIC_AUDIT = f"""
    WITH pairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                           CAST(b.embedding AS DOUBLE[])), 6)
              >= {COSINE_T}
    )
    SELECT (SELECT COUNT(*) FROM embeddings) AS n_vectors,
           (SELECT COUNT(*) FROM pairs) AS n_exact_pairs,
           TRUE AS drops_sound,
           TRUE AS drops_nonzero
"""


CDC_MASK = 64  # boundary when window-hash % CDC_MASK == 0 → ~64-char chunks
CDC_BOILERPLATE = (
    " subscribe to our newsletter for updates all rights reserved"
    " terms of service and privacy policy apply to this content"
    " copyright notice this material may not be reproduced without"
    " permission contact the webmaster for licensing information"
    " follow us on social media for the latest news and announcements"
    " this page was generated automatically please do not reply"
)


def q_dedup_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined-chunking storage dedup (the FastCDC/rsync family):
    documents are split at CONTENT-DEFINED boundaries — positions whose
    Rabin-Karp window hash ≡ 0 (mod CDC_MASK) — so identical passages
    chunk identically REGARDLESS of what precedes them, and shared
    content dedups across documents even under insertions that would
    shift every fixed-size block. This is the storage-layer dedup a
    training-data lake runs underneath the semantic dedup family.

    The corpus is synthetic with no shared passages, so every document
    is salted with the same boilerplate tail (the real-web reason CDC
    dedup pays: shared headers/footers) — identical concat on both
    engines; the chunks inside the boilerplate align content-defined and
    dedup corpus-wide. Report: chunk count, distinct chunks, logical vs
    stored bytes, dedup ratio — all exact-oracled (the rolling hash is
    exact BIGINT arithmetic in both engines).

    Scale: per-doc chunking is the map-only rolling-hash pass; the dedup
    is one groupBy on chunk hash (map-side combined). Same two-stage
    shape at 100 TB."""
    from ..functions.text import codepoints, rolling_hashes

    docs = _fan_out(load_tables(spark, sf_dir)["documents"])
    staged = (
        docs.select(
            "doc_id",
            norm_text(
                F.concat(F.col("text"), F.lit(CDC_BOILERPLATE))
            ).alias("nrm"),
        )
        .select("doc_id", "nrm", codepoints("nrm").alias("cp"))
        .select("doc_id", "nrm", rolling_hashes("cp").alias("hs"))
    )
    cuts = F.filter(
        F.when(
            F.size("hs") >= 1, F.sequence(F.lit(1), F.size("hs"))
        ).otherwise(F.array().cast("array<int>")),
        lambda i: F.element_at(F.col("hs"), i) % CDC_MASK == 0,
    )
    # r11: starts/ends MUST be materialized columns before the chunk
    # transform references them — inlined, each per-chunk element_at
    # re-evaluated the whole O(|hs|) cut-filter expression, turning
    # chunk extraction O(len·chunks) into O(len²·chunks)-ish interpreted
    # lambda work (the `codepoints` docstring discipline; measured 3.71
    # → 1.95 s on the same box).
    bounded = staged.select(
        "doc_id",
        "nrm",
        F.concat(F.array(F.lit(1)), cuts).alias("starts"),
        F.concat(cuts, F.array(F.length("nrm") + 1)).alias("ends"),
    )
    chunks = F.transform(
        F.when(
            F.size("starts") >= 1, F.sequence(F.lit(1), F.size("starts"))
        ).otherwise(F.array().cast("array<int>")),
        lambda j: F.substring(
            F.col("nrm"),
            F.element_at(F.col("starts"), j),
            F.element_at(F.col("ends"), j) - F.element_at(F.col("starts"), j),
        ),
    )
    per_chunk = (
        bounded.select(F.explode(chunks).alias("chunk"))
        .filter(F.length("chunk") > 0)
        .groupBy(F.md5(F.col("chunk").cast("binary")).alias("h"))
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.first(F.length("chunk")).alias("n_bytes"),
        )
    )
    return per_chunk.agg(
        F.sum("n_copies").alias("n_chunks"),
        F.count(F.lit(1)).alias("n_distinct_chunks"),
        F.sum(F.col("n_copies") * F.col("n_bytes")).alias("logical_bytes"),
        F.sum("n_bytes").alias("stored_bytes"),
        F.round(
            F.sum("n_bytes") / F.sum(F.col("n_copies") * F.col("n_bytes")), 6
        ).alias("dedup_ratio"),
    )


def _oracle_dedup_cdc_chunks() -> str:
    from ..functions.text import ROLL_BASE, ROLL_K, ROLL_PRIME

    horner = "CAST(0 AS BIGINT)"
    for j in range(ROLL_K):
        ix = "i" if j == 0 else f"i+{j}"
        horner = f"(({horner} * {ROLL_BASE} + cp[{ix}]) % {ROLL_PRIME})"
    boiler = CDC_BOILERPLATE.replace("'", "''")
    return f"""
    WITH normd AS (
        SELECT doc_id,
               lower(regexp_replace(text || '{boiler}', '\\s+', ' ', 'g')) AS nrm
        FROM documents
    ),
    cps AS (
        SELECT doc_id, nrm,
               list_transform(generate_series(1, length(nrm)),
                              i -> ord(substr(nrm, i, 1))) AS cp
        FROM normd
    ),
    hs AS (
        SELECT doc_id, nrm,
               list_transform(generate_series(1, greatest(len(cp) - {ROLL_K - 1}, 0)),
                              i -> {horner}) AS h
        FROM cps
    ),
    cut AS (
        SELECT doc_id, nrm,
               list_filter(generate_series(1, len(h)),
                           i -> h[i] % {CDC_MASK} = 0) AS cuts
        FROM hs
    ),
    bounds AS (
        SELECT doc_id, nrm,
               list_prepend(1, cuts) AS starts,
               list_append(cuts, length(nrm) + 1) AS ends
        FROM cut
    ),
    chunks AS (
        SELECT UNNEST(list_transform(generate_series(1, len(starts)),
                      j -> substr(nrm, starts[j], ends[j] - starts[j]))) AS chunk
        FROM bounds
    ),
    per_chunk AS (
        SELECT md5(chunk) AS h, COUNT(*) AS n_copies,
               MIN(length(chunk)) AS n_bytes
        FROM chunks WHERE length(chunk) > 0
        GROUP BY md5(chunk)
    )
    SELECT CAST(SUM(n_copies) AS BIGINT) AS n_chunks,
           COUNT(*) AS n_distinct_chunks,
           CAST(SUM(n_copies * n_bytes) AS BIGINT) AS logical_bytes,
           CAST(SUM(n_bytes) AS BIGINT) AS stored_bytes,
           ROUND(CAST(SUM(n_bytes) AS DOUBLE) / SUM(n_copies * n_bytes), 6)
               AS dedup_ratio
    FROM per_chunk
    """


def q_dedup_token_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-sort dedup (the rapidfuzz ``token_sort_ratio`` idea at exact
    threshold): fingerprint = md5 of the document's SORTED token
    multiset, so word-reordered copies ("red big ball" vs "big red
    ball") collapse into one group — the duplicate class exact dedup
    misses and MinHash only catches probabilistically. The aggregated
    report (group count, duplicate count, largest group) rides along
    with the reordered-duplicate delta vs plain exact dedup, so the
    operator certifies how many duplicates ONLY the order-invariant
    fingerprint finds.

    Same linear scale shape as ``q_dedup_exact``: map-side fingerprint
    (split → array_sort → join → md5, all codegen), ONE hash shuffle on
    the fingerprint. Both engines sort the same token lists with plain
    byte-wise string order, so the fingerprints are bit-identical.
    """
    t = load_tables(spark, sf_dir)
    docs = t["documents"].select(
        "doc_id",
        F.md5(
            F.array_join(
                F.array_sort(F.split(F.lower("text"), "[^a-z]+")), " "
            ).cast("binary")
        ).alias("fp_sorted"),
        fingerprint_md5("text").alias("fp_exact"),
    )
    groups = docs.groupBy("fp_sorted").agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("fp_exact").alias("n_exact_forms"),
    )
    return groups.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum(F.col("n") - 1).alias("n_duplicates"),
        F.max("n").alias("largest_group"),
        # duplicates ONLY the order-invariant fingerprint finds: each
        # group's (n-1) total dups minus the (n - n_exact_forms) dups
        # exact dedup already catches = n_exact_forms - 1
        F.sum(F.col("n_exact_forms") - 1).alias("n_reorder_only_dups"),
    ).select(
        "n_groups",
        F.col("n_duplicates").cast("long").alias("n_duplicates"),
        "largest_group",
        F.col("n_reorder_only_dups").cast("long").alias("n_reorder_only_dups"),
    )


ORACLE_DEDUP_TOKEN_SORT = """
WITH fp AS (
    SELECT doc_id,
           md5(array_to_string(list_sort(
               string_split_regex(lower(text), '[^a-z]+')), ' ')) AS fp_sorted,
           md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fp_exact
    FROM documents
), groups AS (
    SELECT fp_sorted, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT fp_exact) AS BIGINT) AS n_exact_forms
    FROM fp GROUP BY fp_sorted
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(SUM(n - 1) AS BIGINT) AS n_duplicates,
       CAST(MAX(n) AS BIGINT) AS largest_group,
       CAST(SUM(n_exact_forms - 1) AS BIGINT) AS n_reorder_only_dups
FROM groups
"""


PREFIX_TAU_NUM = 1  # Jaccard threshold τ = 1/2 as an exact rational so the
PREFIX_TAU_DEN = 2  # prefix length L = n − ⌈τn⌉ + 1 stays integer math


def q_dedup_set_similarity_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact set-similarity join with PREFIX FILTERING (Chaudhuri et al.
    ICDE'06 / Xiao et al. PPJoin): all document pairs with shingle-set
    Jaccard ≥ τ, found WITHOUT scanning full posting lists. Each doc
    orders its shingles by ascending global document frequency (rarest
    first) and indexes only its first L = n − ⌈τn⌉ + 1 shingles: two
    sets with Jaccard ≥ τ provably share a prefix shingle, so recall is
    100% while the inverted index shrinks to the rare end of the
    vocabulary — the stop-shingle posting lists that dominate
    ``q_dedup_ngram_jaccard``'s candidate count never enter the join.
    A symmetric length filter (τ·max(n) ≤ min(n)) prunes further before
    the exact intersection count verifies survivors.

    The ORACLE is the plain exact all-pairs SQL at the same τ — prefix
    filtering is a pure candidate-pruning rewrite, so equality against
    the unpruned form IS the losslessness proof, hash-checked.

    Scale: exactly TWO corpus-wide shuffles (the df count and one
    per-doc reduction that emits the full set and the prefix as compact
    arrays); candidates come from the prefix inverted index via the
    no-self-join bucket-pair explode, bounded by Σ|prefix posting
    list|² over RARE shingles (df-ascending prefixes make heavy lists
    unreachable); verification is JVM ``array_intersect`` on the two
    per-doc arrays for candidate pairs only — no row explosion. The
    per-doc prefix sort is array_sort over one doc's shingles — bounded
    by doc length, no global rank.
    """
    t = load_tables(spark, sf_dir)
    # cached: the tokenizing explode feeds both the df count and the
    # per-doc reduction; without the cache it runs twice.
    sh = track_persist(_doc_shingles(t["documents"]))
    df = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    # ONE per-doc reduction yields both the df-ascending prefix and the
    # full set as a compact array — the only corpus-wide shuffles are the
    # df count and this groupBy; everything after runs on the 1-row-per-doc
    # frame (cached: it is touched by the index build and both verify sides).
    docs = track_persist(
        sh.join(df, "shingle")
        .groupBy("doc_id")
        .agg(
            F.array_sort(F.collect_list(F.struct("df", "shingle"))).alias(
                "arr"
            )
        )
        .withColumn("n", F.size("arr"))
        # L = n - ceil(τn) + 1, all integer: ceil(τn) = (n·NUM + DEN-1) DIV DEN
        .withColumn(
            "L",
            F.col("n")
            - F.expr(
                f"(n * {PREFIX_TAU_NUM} + {PREFIX_TAU_DEN - 1})"
                f" DIV {PREFIX_TAU_DEN}"
            ).cast("int")
            + F.lit(1),
        )
        .select(
            "doc_id",
            "n",
            F.transform("arr", lambda s: s.shingle).alias("full"),
            F.transform(
                F.slice("arr", F.lit(1), F.col("L")), lambda s: s.shingle
            ).alias("pre"),
        )
    )
    # candidate pairs straight from the prefix inverted index, generated
    # with the no-self-join bucket-pair explode (signature plan runs once)
    bands = docs.select(
        F.lit(0).alias("band"),
        F.explode("pre").alias("key"),
        "doc_id",
        "n",
    )
    # length filter (τ·max ≤ min, exact integer cross-multiplication)
    # BEFORE the distinct: the filter is deterministic per pair, so
    # applying it on the exploded pair stream prunes the candidate
    # shuffle instead of shuffling every duplicate-keyed pair first —
    # at a dup-heavy 50k-doc fixture (r11 decade sweep) the unfiltered
    # pair stream is the dominant shuffle
    cand = (
        _bucket_pairs(bands, ["doc_id", "n"])
        .filter(
            F.greatest(F.col("a.n"), F.col("b.n")) * PREFIX_TAU_NUM
            <= F.least(F.col("a.n"), F.col("b.n")) * PREFIX_TAU_DEN
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("a.n").alias("na"),
            F.col("b.doc_id").alias("id_b"),
            F.col("b.n").alias("nb"),
        )
        .distinct()
    )
    # exact verification: candidates only, JVM array_intersect of the two
    # compact per-doc arrays — no row explosion, no third corpus shuffle
    inter = (
        cand.join(
            docs.select(F.col("doc_id").alias("id_a"), F.col("full").alias("fa")),
            "id_a",
        )
        .join(
            docs.select(F.col("doc_id").alias("id_b"), F.col("full").alias("fb")),
            "id_b",
        )
        .withColumn("n_inter", F.size(F.array_intersect("fa", "fb")))
    )
    return (
        inter.filter(
            F.col("n_inter") * PREFIX_TAU_DEN
            >= (F.col("na") + F.col("nb") - F.col("n_inter")) * PREFIX_TAU_NUM
        )
        .select(
            "id_a",
            "id_b",
            "n_inter",
            (
                F.col("n_inter").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_inter")).cast("double")
            ).alias("jaccard"),
        )
        .orderBy("id_a", "id_b")
    )


def _oracle_set_similarity_prefix() -> str:
    # The UNPRUNED exact join: matching it hash-for-hash proves the prefix
    # filter lost nothing.
    return f"""
    WITH sh AS ({_sql_shingles()}),
    sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(COUNT(*) AS BIGINT) AS n_inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT id_a, id_b, n_inter,
           CAST(n_inter AS DOUBLE) / CAST(za.n + zb.n - n_inter AS DOUBLE)
               AS jaccard
    FROM inter
    JOIN sizes za ON za.doc_id = id_a
    JOIN sizes zb ON zb.doc_id = id_b
    WHERE n_inter * {PREFIX_TAU_DEN} >= (za.n + zb.n - n_inter) * {PREFIX_TAU_NUM}
    ORDER BY id_a, id_b
    """


# ----------------------------------------------------- winnowing dedup

WINNOW_W = 16  # winnowing window: hashes per selection window
WINNOW_T = 2  # shared selected fingerprints to call a candidate pair
WINNOW_STOP_DF = 20  # fingerprints in more docs than this are boilerplate


def winnow_fingerprints_arrow(docs: DataFrame) -> DataFrame:
    """(doc_id, fp): each document's DISTINCT winnowing-selected
    fingerprint values — min of every WINNOW_W consecutive Rabin-Karp
    ROLL_K-char window hashes (Schleimer/Wilkerson/Aiken, SIGMOD 2003:
    any shared substring of length >= WINNOW_W + ROLL_K - 1 guarantees a
    shared selected fingerprint). Arrow/numpy like
    text.rolling_fingerprint_arrow — identical Horner arithmetic, plus
    one vectorized sliding-window min; documents with fewer than
    WINNOW_W window hashes emit nothing (the oracle's empty
    generate_series mirrors this)."""
    import numpy as np
    import pandas as pd

    from ..functions import text as T

    B, P, K, Wn = T.ROLL_BASE, T.ROLL_PRIME, T.ROLL_K, WINNOW_W

    def roll(batches):
        for pdf in batches:
            ids: list[int] = []
            fps: list[int] = []
            for did, nrm in zip(pdf["doc_id"], pdf["nrm"]):
                cp = np.frombuffer(
                    nrm.encode("utf-32-le"), dtype=np.uint32
                ).astype(np.int64)
                n = len(cp) - K + 1
                if n < Wn:
                    continue
                h = np.zeros(n, dtype=np.int64)
                for j in range(K):
                    h = (h * B + cp[j : j + n]) % P
                mins = np.lib.stride_tricks.sliding_window_view(h, Wn).min(
                    axis=1
                )
                for v in np.unique(mins):
                    ids.append(int(did))
                    fps.append(int(v))
            yield pd.DataFrame({"doc_id": ids, "fp": fps})

    return docs.select("doc_id", norm_text("text").alias("nrm")).mapInPandas(
        roll, schema="doc_id long, fp long"
    )


def q_dedup_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing near-dup candidate pairs — the MOSS algorithm as a
    corpus-dedup stage: select each document's winnowed fingerprint set
    (guaranteed to catch any shared run of >= WINNOW_W + ROLL_K - 1
    chars), drop boilerplate fingerprints shared by more than
    WINNOW_STOP_DF documents (the LSH stop-band discipline — a
    super-common fingerprint is template text, and pairing inside its
    bucket is quadratic noise), and report pairs sharing >= WINNOW_T
    selected fingerprints with the shared count as evidence strength.

    Complements the existing near-dup family: minhash/LSH estimates
    SET-level Jaccard, span-duplication counts exact 8-token spans,
    winnowing detects LOCAL verbatim runs with a positional guarantee —
    the contract plagiarism/clone detection needs and sampling sketches
    can't give.

    Exactness: fingerprints are exact BIGINTs (Horner mod-prime rolling
    hash + window min — same arithmetic both engines); the pair report
    is integer counts. Scale shape: fingerprints per doc ~ 2n/WINNOW_W
    (winnowing density), the pair join is blocked per fingerprint with
    the stop cap bounding any bucket at WINNOW_STOP_DF docs, so the
    shuffle carries (doc, fp) rows and never doc x doc.
    """
    docs = load_tables(spark, sf_dir)["documents"]
    # cache: three readers (frequency agg + both pair-join sides) would
    # otherwise re-run the corpus-wide Python fingerprint stage — the
    # dominant cost — three times (the _doc_shingles cache pattern)
    wf = track_persist(
        winnow_fingerprints_arrow(_fan_out(docs.select("doc_id", "text")))
    )
    shared = (
        wf.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs").between(2, WINNOW_STOP_DF))
        .select("fp")
    )
    keyed = wf.join(shared, "fp")
    a = keyed.select(F.col("doc_id").alias("id_a"), "fp")
    b = keyed.select(F.col("doc_id").alias("id_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= WINNOW_T)
        .orderBy("id_a", "id_b")
    )


def _oracle_dedup_winnowing() -> str:
    from .text import sql_rolling_hash_ctes

    return f"""
    WITH {sql_rolling_hash_ctes()},
    mins AS (
        SELECT doc_id,
               list_transform(
                   generate_series(1, greatest(len(h) - {WINNOW_W - 1}, 0)),
                   i -> list_min(h[i:i+{WINNOW_W - 1}])) AS fps
        FROM hs
    ),
    wf AS (
        SELECT DISTINCT doc_id, t.fp
        FROM mins, UNNEST(fps) AS t(fp)
    ),
    shared AS (
        SELECT fp FROM wf GROUP BY fp
        HAVING COUNT(*) BETWEEN 2 AND {WINNOW_STOP_DF}
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM wf a
    JOIN shared USING (fp)
    JOIN wf b USING (fp)
    WHERE a.doc_id < b.doc_id
    GROUP BY 1, 2
    HAVING COUNT(*) >= {WINNOW_T}
    ORDER BY 1, 2
    """


def oracles() -> dict[str, tuple]:
    return {
        "dedup_winnowing": (q_dedup_winnowing, _oracle_dedup_winnowing()),
        "dedup_set_similarity_prefix": (
            q_dedup_set_similarity_prefix,
            _oracle_set_similarity_prefix(),
        ),
        "dedup_token_sort": (q_dedup_token_sort, ORACLE_DEDUP_TOKEN_SORT),
        "dedup_cdc_chunks": (q_dedup_cdc_chunks, _oracle_dedup_cdc_chunks()),
        "dedup_semantic": (q_dedup_semantic_audit, ORACLE_DEDUP_SEMANTIC_AUDIT),
        "fuzzy_join_blocked": (q_fuzzy_join_blocked, ORACLE_FUZZY_JOIN_BLOCKED),
        "entity_resolution": (q_entity_resolution, ORACLE_ENTITY_RESOLUTION),
        "dedup_containment": (q_dedup_containment, _oracle_containment()),
        "dedup_keep_superset": (q_dedup_keep_superset, _oracle_keep_superset()),
        "lsh_recall_report": (q_lsh_recall_report, _oracle_lsh_recall_report()),
        "dedup_span_duplication": (q_dedup_span_duplication, _sql_span_duplication()),
        "dedup_exact": (q_dedup_exact, ORACLE_DEDUP_EXACT),
        "dedup_minhash_lsh": (q_dedup_minhash_lsh, _oracle_minhash_lsh()),
        "dedup_incremental_lsh": (q_dedup_incremental_lsh, _oracle_incremental_lsh()),
        "dedup_simhash": (q_dedup_simhash, _oracle_simhash()),
        "dedup_simhash_pairs": (q_dedup_simhash_pairs, _oracle_simhash_pairs()),
        "dedup_components": (q_dedup_components, _oracle_dedup_components()),
        "dedup_ngram_jaccard": (q_dedup_ngram_jaccard, _oracle_ngram_jaccard()),
        "dedup_embedding_cosine": (q_dedup_embedding_cosine, ORACLE_EMBEDDING_COSINE),
        "dedup_embedding_cosine_lsh": (
            q_dedup_embedding_cosine_lsh,
            _oracle_embedding_cosine_lsh(),
        ),
    }
