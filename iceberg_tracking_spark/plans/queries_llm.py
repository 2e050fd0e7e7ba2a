"""LLM-data-pipeline queries: dedup, similarity search, text analysis
(BASELINE.json north-star surface; generalizes the reference's
embedding-similarity machinery, feature_extraction.py:255-297).

Portability rules for the oracles: tokenization is `lower → split \\s+ →
drop empties` on both engines; all hashing goes through md5 hex strings
(identical in Spark and DuckDB); regex replace uses DuckDB's 'g' flag to
match Spark's global-by-default semantics.
"""

from __future__ import annotations

from pyspark.sql import SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import LANG_MARKERS, STOPWORDS, shingles_from_tokens, tokens
from ..operators.similarity import (
    DEFAULT_BITS,
    duck_cosine_sql,
    duck_sig_sql,
    hyperplane_sql_literals,
    signature_lsh,
)
from ..operators.windows import distributed_cumulative
from ..schemas import EMB_DIM as _EMB_DIM
from ..sources.tables import load_table, scatter
from .registry import query

# DuckDB-side shared fragments (tokenization identical to functions/text.py).
_DUCK_TOKS = "list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')"
_DUCK_SHINGLES = (
    "CASE WHEN len({toks}) >= 3 THEN "
    "list_transform(range(1, len({toks}) - 1), "
    "i -> {toks}[i] || ' ' || {toks}[i+1] || ' ' || {toks}[i+2]) "
    "ELSE [] END"
).format(toks=_DUCK_TOKS)


def _t(spark: SparkSession, sf_dir: str, name: str):
    # documents/embeddings carry heavy per-row expression work (token
    # hashing, shingle explode, array math); the local single-row-group
    # files would otherwise pin that work to one input task.
    return scatter(load_table(spark, sf_dir, name))


def _spark_tokens(col):
    """Tokenization = functions.text.tokens over lowercased text — ONE
    implementation shared with the library so the oracle-mirrored
    contract (_DUCK_TOKS) cannot silently diverge."""
    return tokens(F.lower(col))


# Canonical shingles live in functions.text (CSE warning included there).
_spark_shingles = shingles_from_tokens


# ------------------------------------------------------------ text analysis

_sw_list = ", ".join(f"'{w}'" for w in STOPWORDS)

@query(
    "q_text_stats",
    oracle=f"""
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           round(CASE WHEN length(text) > 0
                 THEN CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE)
                      / length(text) ELSE 0.0 END, 4) AS punct_ratio,
           round(CASE WHEN len(toks) > 0
                 THEN CAST(len(list_filter(toks, x -> x IN ({_sw_list}))) AS DOUBLE)
                      / len(toks) ELSE 0.0 END, 4) AS stopword_ratio
    FROM (SELECT doc_id, text, {_DUCK_TOKS} AS toks FROM documents)
    """,
)
def q_text_stats(spark, sf_dir):
    """Text quality metrics per document: token count, punctuation
    ratio, stopword ratio — the deterministic core of quality scoring
    for training-data curation."""
    d = _t(spark, sf_dir, "documents")
    toks = _spark_tokens(F.col("text"))
    d = d.withColumn("toks", toks)
    n_toks = F.size("toks")
    stripped = F.regexp_replace("text", r"[A-Za-z0-9\s]", "")
    punct = F.when(
        F.length("text") > 0,
        F.length(stripped).cast("double") / F.length("text"),
    ).otherwise(F.lit(0.0))
    sw_hits = F.size(F.filter(F.col("toks"), lambda t: t.isin(STOPWORDS)))
    sw = F.when(n_toks > 0, sw_hits.cast("double") / n_toks).otherwise(F.lit(0.0))
    return d.select(
        "doc_id",
        n_toks.cast("long").alias("n_tokens"),
        F.round(punct, 4).alias("punct_ratio"),
        F.round(sw, 4).alias("stopword_ratio"),
    )


def _lang_oracle() -> str:
    toks = _DUCK_TOKS
    score_cols = ",\n".join(
        f"len(list_filter(toks, x -> x IN ({', '.join(repr(w) for w in ws)}))) AS s_{lang}"
        for lang, ws in sorted(LANG_MARKERS.items())
    )
    langs = sorted(LANG_MARKERS)
    m = "greatest(" + ", ".join(f"s_{l}" for l in langs) + ")"
    case = "CASE " + " ".join(f"WHEN s_{l} = m THEN '{l}'" for l in langs) + " END"
    return f"""
    SELECT doc_id, {case} AS pred_lang, CAST(m AS BIGINT) AS score FROM (
        SELECT doc_id, {m} AS m, * FROM (
            SELECT doc_id, {score_cols}
            FROM (SELECT doc_id, {toks} AS toks FROM documents)
        )
    )
    """


@query("q_lang_id", oracle=_lang_oracle())
def q_lang_id(spark, sf_dir):
    """Language identification via stopword-marker scoring — argmax over
    per-language hit counts, alphabetical tie-break (deterministic)."""
    d = _t(spark, sf_dir, "documents").withColumn(
        "toks", _spark_tokens(F.col("text"))
    )
    langs = sorted(LANG_MARKERS)
    for lang in langs:
        d = d.withColumn(
            f"s_{lang}",
            F.size(F.filter(F.col("toks"), lambda t: t.isin(LANG_MARKERS[lang]))),
        )
    m = F.greatest(*[F.col(f"s_{l}") for l in langs])
    expr = None
    for lang in langs:
        cond = F.col(f"s_{lang}") == F.col("m")
        expr = F.when(cond, lang) if expr is None else expr.when(cond, lang)
    return (
        d.withColumn("m", m)
        .select(
            "doc_id",
            expr.alias("pred_lang"),
            F.col("m").cast("long").alias("score"),
        )
    )


@query(
    "q_doc_fingerprint",
    oracle=f"""
    SELECT doc_id,
           md5(array_to_string({_DUCK_TOKS}, ' ')) AS fingerprint,
           CAST(len({_DUCK_TOKS}) AS BIGINT) AS n_tokens
    FROM documents
    """,
)
def q_doc_fingerprint(spark, sf_dir):
    """Document fingerprinting: md5 over the normalized token stream —
    the whitespace-robust exact-dedup key."""
    d = _t(spark, sf_dir, "documents").withColumn(
        "toks", _spark_tokens(F.col("text"))
    )
    return d.select(
        "doc_id",
        F.md5(F.array_join("toks", " ")).alias("fingerprint"),
        F.size("toks").cast("long").alias("n_tokens"),
    )


# ------------------------------------------------------------------- dedup

@query(
    "q_dedup_exact",
    oracle="""
    SELECT md5(text) AS text_hash, min(doc_id) AS keeper_doc_id,
           count(*) AS n_copies
    FROM documents GROUP BY md5(text)
    """,
)
def q_dedup_exact(spark, sf_dir):
    """Exact dedup: hash-groupBy on content, keep min doc_id as the
    canonical representative. Map-side partial agg; at 100 TB this is a
    single shuffle on the 128-bit hash."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.groupBy(F.md5("text").alias("text_hash"))
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


# NOTE on a rejected optimization (measured, round 4): unrolling the
# dot/norm lambda folds into explicit 64-term add chains looked like a
# codegen win but was 3-10x SLOWER end-to-end (q_ann_lsh 1.9s -> 19s at
# sf0.1) — the giant expression trees blow past codegen method limits
# and fall back to per-node interpretation, while the HOF fold is a
# single tight interpreted loop. Keep the aggregate/zip_with forms.


# THE canonical Jaccard candidate-pair contract, defined once for both
# oracle consumers (q_ngram_jaccard and q_dedup_clusters): tokenize →
# distinct 3-shingles → lang-bounded self-join → jaccard ≥ 0.2.
_JACCARD_PAIR_CTES = f"""
    sh AS (
        SELECT doc_id, lang, u.s AS shingle
        FROM (SELECT doc_id, lang, {_DUCK_SHINGLES} AS shingles FROM documents),
             unnest(shingles) AS u(s)
        GROUP BY doc_id, lang, u.s
    ),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.lang = b.lang
                           AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    pairs AS (
        SELECT doc_a, doc_b,
               round(CAST(n_common AS DOUBLE)
                     / (sa.n_sh + sb.n_sh - n_common), 4) AS jaccard
        FROM common
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.2
    )
"""


def _jaccard_pairs(spark, sf_dir):
    """Canonical Spark side of _JACCARD_PAIR_CTES: one pair builder
    shared by q_ngram_jaccard (scored) and q_dedup_clusters (edges) so
    the threshold/shingle contract cannot desynchronize."""
    d = _t(spark, sf_dir, "documents")
    # array_distinct BEFORE the explode: per-doc dedup is map-side
    # array work, so the old post-explode `.distinct()` — a full
    # (doc_id, lang, shingle) shuffle — disappears from the plan.
    sh = d.withColumn("toks", _spark_tokens(F.col("text"))).select(
        "doc_id",
        "lang",
        F.explode(F.array_distinct(_spark_shingles(F.col("toks")))).alias(
            "shingle"
        ),
    )
    # Three consumers (sizes + both self-join sides) would each compile
    # the tokenize/shingle/explode pipeline from scratch (zero
    # ReusedExchange); materialize the exploded relation once.
    sh = sh.localCheckpoint()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    jac = F.col("n_common").cast("double") / (
        F.col("sa.n_sh") + F.col("sb.n_sh") - F.col("n_common")
    )
    return (
        common.join(F.broadcast(sa), F.col("doc_a") == F.col("sa.doc_id"))
        .join(F.broadcast(sb), F.col("doc_b") == F.col("sb.doc_id"))
        .filter(jac >= 0.2)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
    )


@query(
    "q_ngram_jaccard",
    oracle=f"""
    WITH {_JACCARD_PAIR_CTES}
    SELECT doc_a, doc_b, jaccard FROM pairs
    """,
)
def q_ngram_jaccard(spark, sf_dir):
    """Near-dedup via 3-word-shingle Jaccard: explode distinct shingles,
    self-join on shingle (within the same lang partition to bound the
    blow-up), count common / union ≥ 0.2. The shared-shingle join IS
    the candidate pruning — disjoint docs never pair."""
    return _jaccard_pairs(spark, sf_dir)


# THE lane/band geometry — imported from the library so the DuckDB
# oracle f-strings in this module are parameterized on the SAME
# constants the Spark signature pipeline uses (a drifted copy here
# would make every minhash oracle spuriously red on a retune)
from ..operators.textdedup import BAND_SIZE as _BAND_SIZE  # noqa: E402
from ..operators.textdedup import N_PERM as _N_PERM  # noqa: E402


def _minhash_chunk_sql(s: int) -> str:
    """One 32-bit minhash lane as a DuckDB expr: 8 hex chars carved out
    of md5(shingle) (lanes 0-3) / md5('x' || shingle) (lanes 4-7)."""
    src = "x" if s < 4 else "'x' || x"
    return (
        f"list_aggregate(list_transform(shingles, "
        f"x -> substring(md5({src}), {(s % 4) * 8 + 1}, 8)), 'min') AS m{s}"
    )


_HOT_BAND_CAP = 64  # max docs per LSH bucket before it is dropped


def _minhash_oracle() -> str:
    mh = ",\n".join(_minhash_chunk_sql(s) for s in range(_N_PERM))
    n_bands = _N_PERM // _BAND_SIZE
    band_rows = "\nUNION ALL\n".join(
        "SELECT doc_id, {b} AS band, md5({key}) AS band_key FROM mh".format(
            b=b,
            key=" || ".join(f"m{b * _BAND_SIZE + j}" for j in range(_BAND_SIZE)),
        )
        for b in range(n_bands)
    )
    return f"""
    WITH docs AS (
        SELECT doc_id, {_DUCK_SHINGLES} AS shingles FROM documents
    ),
    mh AS (
        SELECT doc_id, {mh} FROM docs WHERE len(shingles) > 0
    ),
    bands_all AS ({band_rows}),
    bands AS (
        SELECT doc_id, band, band_key FROM (
            SELECT *, count(*) OVER (PARTITION BY band, band_key) AS bn
            FROM bands_all
        ) WHERE bn <= {_HOT_BAND_CAP}
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           count(DISTINCT a.band) AS n_shared_bands
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    """


@query("q_minhash_lsh", oracle=_minhash_oracle())
def q_minhash_lsh(spark, sf_dir):
    """MinHash+LSH near-dedup: 8 md5-salted min-hashes over 3-word
    shingles, banded 2-per-band into 4 LSH buckets; candidate pairs =
    docs sharing a band bucket. Hashes are md5 hex strings with
    lexicographic min — portable across engines. At scale the band-key
    groupBy is the only shuffle; no all-pairs comparison ever happens,
    and buckets over _HOT_BAND_CAP docs are dropped (hot-band guard:
    k² pairs in one reducer; see test_minhash_hot_band_guard)."""
    # Signature pipeline shared with the dedup gate — see
    # operators/textdedup.py:minhash_bands for the lane/band design
    # notes (two md5 calls per shingle carve 8 lanes; array_distinct
    # cuts md5 work ~20-30%; the hot-band cap runs as a count window
    # over the SAME (band, band_key) partitioning the self-join
    # shuffles on — a separate agg + anti-join cost +50% wall-clock).
    from ..operators.textdedup import minhash_bands

    bands = minhash_bands(
        _t(spark, sf_dir, "documents"), hot_band_cap=_HOT_BAND_CAP
    )
    # The self-join consumes `bands` on both sides; without
    # materialization Catalyst compiles the whole shingle-explode +
    # 2x-md5 + minhash-agg pipeline TWICE (verified: zero
    # ReusedExchange in the physical plan). The banded relation is tiny
    # (4 rows per doc), so localCheckpoint halves the dominant md5 work
    # — at scale this is the signature table you would write out anyway.
    bands = bands.localCheckpoint()
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.countDistinct(F.col("a.band")).alias("n_shared_bands"))
    )


def _neardup_gate_oracle() -> str:
    """Mirror of first_wins_keepers: the same band relation (no hot cap
    — the gate probes buckets, it never enumerates pairs), rejection =
    sharing any bucket with a smaller doc_id, keepers = everything
    else (shingle-less docs included: no bands, no collisions)."""
    mh = ",\n".join(_minhash_chunk_sql(s) for s in range(_N_PERM))
    n_bands = _N_PERM // _BAND_SIZE
    band_rows = "\nUNION ALL\n".join(
        "SELECT doc_id, {b} AS band, md5({key}) AS band_key FROM mh".format(
            b=b,
            key=" || ".join(f"m{b * _BAND_SIZE + j}" for j in range(_BAND_SIZE)),
        )
        for b in range(n_bands)
    )
    return f"""
    WITH docs AS (
        SELECT doc_id, {_DUCK_SHINGLES} AS shingles FROM documents
    ),
    mh AS (
        SELECT doc_id, {mh} FROM docs WHERE len(shingles) > 0
    ),
    bands AS ({band_rows}),
    rejected AS (
        SELECT doc_id FROM (
            SELECT doc_id,
                   min(doc_id) OVER (PARTITION BY band, band_key) AS mn
            FROM bands
        ) WHERE mn < doc_id
    )
    SELECT d.doc_id
    FROM documents d
    LEFT JOIN (SELECT DISTINCT doc_id FROM rejected) r
      ON r.doc_id = d.doc_id
    WHERE r.doc_id IS NULL
    """


@query("q_neardup_gate", oracle=_neardup_gate_oracle())
def q_neardup_gate(spark, sf_dir):
    """First-arrival-wins near-dup GATE (the ingestion-time form of
    near-dedup): a document is dropped iff it shares an LSH band bucket
    with ANY smaller doc_id — the earlier doc wins even if it was
    itself dropped ("seen-similar-before" semantics, the index of ALL
    seen signatures). Where q_minhash_lsh ENUMERATES candidate pairs
    (the audit/analysis shape, hot-bucket-capped because a k-doc bucket
    is k² pairs), the gate only asks EXISTS per bucket — one window min
    over the same (band, band_key) partitioning — so per-doc work is
    bounded by its own band count and no cap is needed.

    This batch form is the exact contract for the INCREMENTAL streamed
    gate (streaming/dedup_gate.py): batches arriving in doc_id order
    produce the identical keeper set (parity-tested), because
    seen-similar-before makes rejection depend only on earlier docs,
    never on whether those docs themselves survived.

    Scale shape: signature build is one shuffle (shingle-explode →
    minhash agg); the gate adds one shuffle on (band, band_key) + one
    anti-join keyed by doc_id. At 100 TB the signature index is the
    relation you persist; each new batch probes it with a semi-join."""
    from ..operators.textdedup import first_wins_keepers

    return first_wins_keepers(_t(spark, sf_dir, "documents"))


# -------------------------------------------------------- similarity search

@query(
    "q_cosine_topk",
    oracle="""
    WITH v AS (
        SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
    ),
    q AS (SELECT vec_id AS qid, e AS qe FROM v WHERE vec_id % 25 = 0),
    sims AS (
        SELECT q.qid, v.vec_id AS nid,
               round(list_dot_product(q.qe, v.e)
                     / (sqrt(list_dot_product(q.qe, q.qe))
                        * sqrt(list_dot_product(v.e, v.e))), 6) AS sim
        FROM q JOIN v ON v.vec_id <> q.qid
    )
    SELECT qid, nid, sim FROM (
        SELECT qid, nid, sim,
               row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn
        FROM sims
    ) WHERE rn <= 5
    """,
)
def q_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-k similarity search: for each query vector
    (vec_id % 25 = 0) the 5 nearest neighbors by cosine. Native
    aggregate/zip_with array math (JVM-side); similarity rounded to 6dp
    before ranking so cross-engine float summation order can't flip
    ranks (tie-break: neighbor id)."""
    from ..operators.similarity import brute_force_topk

    v = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    q = v.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("qid"), F.col("e").alias("qe")
    )
    return brute_force_topk(v, q, k=5)


def _neardup_oracle() -> str:
    """DuckDB mirror of the banded sign-LSH candidate generation: the
    same deterministic hyperplanes and fold order as the Spark side
    (shared fragments in operators/similarity.py:duck_*_sql), so the
    candidate set is bit-identical."""
    planes = hyperplane_sql_literals(DEFAULT_BITS, _EMB_DIM)
    plane_cols = ", ".join(f"{p} AS h{b}" for b, p in enumerate(planes))
    cos = duck_cosine_sql("a.e", "b.e", _EMB_DIM)
    return f"""
    WITH p AS (SELECT {plane_cols}),
    v AS (
        SELECT vec_id, label, embedding::DOUBLE[] AS e,
               CAST({duck_sig_sql(_EMB_DIM)} AS BIGINT) AS sig
        FROM embeddings, p
    ),
    bnd AS (SELECT *, sig % 16 AS b0, sig // 16 AS b1 FROM v)
    SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b,
           a.label AS label_a, b.label AS label_b,
           round({cos}, 6) AS sim
    FROM bnd a JOIN bnd b
      ON a.vec_id < b.vec_id AND (a.b0 = b.b0 OR a.b1 = b.b1)
    WHERE round({cos}, 6) >= 0.45
    """


@query("q_embedding_neardup", oracle=_neardup_oracle())
def q_embedding_neardup(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs (sim ≥ 0.45) — the
    vector-space dedup path, in its 100 TB shape: candidates come from
    banded sign-LSH buckets (8-bit signature split into 2×4-bit bands;
    a pair is a candidate iff it shares either band), then an exact
    cosine re-rank keeps pairs ≥ 0.45. The all-pairs comparison never
    happens — the only pair-producing operator is the equi-join on
    (band, key), and a pair sharing both bands is deduped by DISTINCT
    after scoring. Recall < 1 by design (the standard LSH trade); the
    oracle re-derives the identical buckets so the contract is exact."""
    v = _t(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("e")
    )
    signed = signature_lsh(v, "e", _EMB_DIM)
    banded = signed.select(
        "vec_id",
        "label",
        "e",
        F.explode(
            F.array(
                F.struct(
                    F.lit(0).alias("band"), (F.col("sig") % 16).alias("key")
                ),
                F.struct(
                    F.lit(1).alias("band"),
                    F.shiftright(F.col("sig"), 4).alias("key"),
                ),
            )
        ).alias("bk"),
    ).select(
        "vec_id", "label", "e",
        F.col("bk.band").alias("band"), F.col("bk.key").alias("key"),
    )
    # Per-vector norm projected below the self-join: the rerank then
    # folds only the dot per pair (same doubles — oracle unaffected).
    from ..operators.similarity import cosine_prenormed, norm, seq_dot  # noqa: F401

    banded = banded.withColumn("_nrm", norm(F.col("e")))
    a = banded.alias("a")
    b = banded.alias("b")
    sim = F.round(
        cosine_prenormed(
            F.col("a.e"), F.col("b.e"), F.col("a._nrm"), F.col("b._nrm")
        ),
        6,
    )
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.col("a.label").alias("label_a"),
            F.col("b.label").alias("label_b"),
            sim.alias("sim"),
        )
        .filter(F.col("sim") >= 0.45)
        .distinct()
    )


# ------------------------------------------------- corpus curation ops

@query(
    "q_stratified_sample",
    oracle="""
    SELECT lang, count(*) AS n_sampled, min(doc_id) AS min_doc
    FROM (
        SELECT lang, doc_id,
               ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
               % 100 AS h
        FROM documents
    )
    WHERE h < CASE lang WHEN 'en' THEN 80 WHEN 'de' THEN 50 ELSE 20 END
    GROUP BY lang
    """,
)
def q_stratified_sample(spark, sf_dir):
    """Stratified (per-language) sampling for training-mix curation:
    keep-rate differs per stratum, membership decided by a hash of the
    key — deterministic, partition-layout-independent, and exactly
    reproducible across engines (TABLESAMPLE/rand() are neither).
    The per-stratum rates are the language-balancing knob of a corpus
    mix; at 100 TB this is a single scan with no shuffle before the
    audit aggregate."""
    d = _t(spark, sf_dir, "documents")
    h = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 100
    )
    rate = (
        F.when(F.col("lang") == "en", 80)
        .when(F.col("lang") == "de", 50)
        .otherwise(20)
    )
    return (
        d.select("lang", "doc_id", h.alias("h"), rate.alias("rate"))
        .filter(F.col("h") < F.col("rate"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.min("doc_id").alias("min_doc"),
        )
    )


@query(
    "q_vocab_topk",
    oracle=f"""
    SELECT token, n FROM (
        SELECT token, count(*) AS n,
               row_number() OVER (ORDER BY count(*) DESC, token) AS rn
        FROM (
            SELECT unnest({_DUCK_TOKS}) AS token FROM documents
        )
        GROUP BY token
    ) WHERE rn <= 20
    """,
)
def q_vocab_topk(spark, sf_dir):
    """Vocabulary building: global top-k tokens by frequency. The plan
    is explode → map-side partial count → one shuffle on token → final
    count → TakeOrdered(k) — the scalable shape (never a global sort of
    the full vocabulary). Ties broken by token text for determinism."""
    d = _t(spark, sf_dir, "documents")  # _t already scatters
    toks = d.withColumn("toks", _spark_tokens(F.col("text"))).select(
        F.explode("toks").alias("token")
    )
    counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    w = Window.orderBy(F.col("n").desc(), F.col("token").asc())
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .select("token", "n")
    )


@query(
    "q_tfidf",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest({_DUCK_TOKS}) AS token FROM documents
    ),
    tf AS (
        SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY doc_id, token
    ),
    df_t AS (
        SELECT token, count(DISTINCT doc_id) AS df FROM tok GROUP BY token
    ),
    n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tok),
    scored AS (
        SELECT tf.doc_id, tf.token,
               round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df_t.df), 6)
                 AS tfidf
        FROM tf JOIN df_t USING (token) CROSS JOIN n
    )
    SELECT doc_id, token, tfidf FROM (
        SELECT doc_id, token, tfidf,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY tfidf DESC, token) AS rn
        FROM scored
    ) WHERE rn = 1
    """,
)
def q_tfidf(spark, sf_dir):
    """TF-IDF keyword extraction: term frequency × inverse document
    frequency, top term per document. Two shuffles (tf on (doc, token),
    df on token) + a broadcast of the tiny per-token df table back onto
    tf — the standard scalable shape; the corpus size joins in as a
    1-row broadcast."""
    d = _t(spark, sf_dir, "documents")  # _t already scatters
    tok = d.withColumn("toks", _spark_tokens(F.col("text"))).select(
        "doc_id", F.explode("toks").alias("token")
    )
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df_t = tok.groupBy("token").agg(
        F.countDistinct("doc_id").alias("df")
    )
    n_docs = tok.agg(F.countDistinct("doc_id").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df_t), "token")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "token",
            F.round(
                F.col("tf")
                * F.log(F.col("n_docs").cast("double") / F.col("df")),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("token").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "token", "tfidf")
    )


@query(
    "q_histogram",
    oracle="""
    SELECT bucket, count(*) AS n,
           CAST(min(n_chars) AS BIGINT) AS lo, CAST(max(n_chars) AS BIGINT) AS hi
    FROM (
        SELECT CAST(least(floor(n_chars / 200.0), 9) AS BIGINT) AS bucket,
               n_chars
        FROM documents
    )
    GROUP BY bucket
    """,
)
def q_histogram(spark, sf_dir):
    """Fixed-width histogram of document lengths (10 buckets of 200
    chars, top bucket open-ended) — the distribution scan every corpus
    audit starts with; one pass, map-side combinable."""
    d = _t(spark, sf_dir, "documents")
    bucket = F.least(F.floor(F.col("n_chars") / 200.0), F.lit(9)).cast("long")
    return (
        d.select(bucket.alias("bucket"), "n_chars")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("n_chars").cast("long").alias("lo"),
            F.max("n_chars").cast("long").alias("hi"),
        )
    )


# --------------------------------------------- dedup cluster formation



def _jaccard_edges(spark, sf_dir):
    """Near-dup candidate edges: the shared pair builder minus the
    score column."""
    return _jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b")


@query(
    "q_dedup_clusters",
    oracle=f"""
    WITH RECURSIVE {_JACCARD_PAIR_CTES},
    sym AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION SELECT doc_b, doc_a FROM pairs
    ),
    nodes AS (SELECT DISTINCT a AS node FROM sym),
    reach(node, label) AS (
        SELECT node, node FROM nodes
        UNION
        SELECT s.a, r.label FROM sym s JOIN reach r ON s.b = r.node
    )
    SELECT node AS doc_id, min(label) AS component FROM reach GROUP BY node
    """,
)
def q_dedup_clusters(spark, sf_dir):
    """Dedup cluster formation: connected components over the near-dup
    candidate graph (shingle-Jaccard ≥ 0.2 edges) via distributed
    min-label propagation — keep-one-per-component is then a trivial
    `component = doc_id` filter. Component id = min doc_id in the
    component (deterministic under any partitioning); the oracle states
    the same closure as a recursive CTE. Iterations are join+agg rounds
    with lineage checkpointing (operators/graph.py) — O(diameter)
    shuffles, never a driver-side graph."""
    from ..operators.graph import connected_components

    edges = _jaccard_edges(spark, sf_dir)
    return connected_components(edges, src="doc_a", dst="doc_b").select(
        F.col("node").alias("doc_id"), "component"
    )


@query(
    "q_contamination",
    oracle=f"""
    WITH sh AS (
        SELECT doc_id, source, u.s AS shingle
        FROM (SELECT doc_id, source, {_DUCK_SHINGLES} AS shingles FROM documents),
             unnest(shingles) AS u(s)
        GROUP BY doc_id, source, u.s
    ),
    bench AS (SELECT DISTINCT shingle FROM sh WHERE source = 'src0'),
    corpus AS (SELECT doc_id, shingle FROM sh WHERE source <> 'src0'),
    hits AS (
        SELECT c.doc_id, count(*) AS n_shared
        FROM corpus c JOIN bench b ON c.shingle = b.shingle
        GROUP BY c.doc_id
    ),
    sizes AS (
        SELECT doc_id, count(*) AS n_sh FROM corpus GROUP BY doc_id
    )
    SELECT h.doc_id, h.n_shared,
           round(CAST(h.n_shared AS DOUBLE) / s.n_sh, 4) AS overlap
    FROM hits h JOIN sizes s ON h.doc_id = s.doc_id
    WHERE CAST(h.n_shared AS DOUBLE) / s.n_sh >= 0.1
    """,
)
def q_contamination(spark, sf_dir):
    """Benchmark-contamination detection: flag corpus documents whose
    3-word shingles overlap a held-out set ('src0' as the benchmark) by
    ≥ 10%. The benchmark shingle set is deduped and broadcast (at 100 TB
    the eval sets are MBs while the corpus is the big side — classic
    broadcast-semi-join shape); corpus docs never compare to each other.
    The decontamination step every training mix runs before a model
    sees the data."""
    d = _t(spark, sf_dir, "documents")
    # Same map-side dedup trick as _jaccard_pairs: array_distinct
    # replaces the post-explode distinct() shuffle.
    sh = d.withColumn("toks", _spark_tokens(F.col("text"))).select(
        "doc_id",
        "source",
        F.explode(F.array_distinct(_spark_shingles(F.col("toks")))).alias(
            "shingle"
        ),
    )
    bench = sh.filter(F.col("source") == "src0").select("shingle").distinct()
    corpus = sh.filter(F.col("source") != "src0").select("doc_id", "shingle")
    hits = (
        corpus.join(F.broadcast(bench), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sizes = corpus.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    overlap = F.col("n_shared").cast("double") / F.col("n_sh")
    return (
        hits.join(sizes, "doc_id")
        .filter(overlap >= 0.1)
        .select("doc_id", "n_shared", F.round(overlap, 4).alias("overlap"))
    )


@query(
    "q_unigram_logprob",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest({_DUCK_TOKS}) AS token FROM documents
    ),
    freq AS (SELECT token, count(*) AS c FROM tok GROUP BY token),
    total AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM freq)
    SELECT doc_id,
           round(-avg(ln(freq.c / total.n)), 4) AS avg_nll,
           count(*) AS n_tokens
    FROM tok JOIN freq USING (token) CROSS JOIN total
    GROUP BY doc_id
    """,
)
def q_unigram_logprob(spark, sf_dir):
    """Corpus-LM quality proxy (CCNet-style): score each document by the
    mean negative log-probability of its tokens under the corpus's own
    unigram distribution — fluent/common text scores low, gibberish and
    boilerplate outliers score high, and the score needs no external
    model. Two shuffles (token frequency, per-doc mean); the frequency
    table broadcasts back onto the token stream; corpus total is a
    1-row broadcast."""
    d = _t(spark, sf_dir, "documents")
    tok = d.withColumn("toks", _spark_tokens(F.col("text"))).select(
        "doc_id", F.explode("toks").alias("token")
    )
    freq = tok.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    total = freq.agg(F.sum("c").cast("double").alias("n"))
    return (
        tok.join(F.broadcast(freq), "token")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.round(-F.avg(F.log(F.col("c") / F.col("n"))), 4).alias("avg_nll"),
            F.count(F.lit(1)).alias("n_tokens"),
        )
    )


@query(
    "q_dedup_keep_one",
    oracle=f"""
    WITH RECURSIVE {_JACCARD_PAIR_CTES},
    sym AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION SELECT doc_b, doc_a FROM pairs
    ),
    nodes AS (SELECT DISTINCT a AS node FROM sym),
    reach(node, label) AS (
        SELECT node, node FROM nodes
        UNION
        SELECT s.a, r.label FROM sym s JOIN reach r ON s.b = r.node
    ),
    comp AS (SELECT node, min(label) AS component FROM reach GROUP BY node),
    losers AS (SELECT node FROM comp WHERE component <> node)
    SELECT d.doc_id, d.lang FROM documents d
    WHERE d.doc_id NOT IN (SELECT node FROM losers)
    """,
)
def q_dedup_keep_one(spark, sf_dir):
    """The end product of the near-dup pipeline: the deduplicated
    corpus. Connected components over the Jaccard candidate graph pick
    one representative per cluster (min doc_id); every non-clustered
    document passes through untouched. Composition: shared pair builder
    → label propagation → anti-join of the losers against the corpus —
    at 100 TB the loser set is small (duplicates are the minority), so
    the final anti-join broadcasts."""
    from ..operators.graph import connected_components

    d = _t(spark, sf_dir, "documents")
    comp = connected_components(_jaccard_edges(spark, sf_dir), "doc_a", "doc_b")
    losers = comp.filter(F.col("component") != F.col("node")).select(
        F.col("node").alias("doc_id")
    )
    return d.join(F.broadcast(losers), "doc_id", "left_anti").select(
        "doc_id", "lang"
    )


@query(
    "q_corpus_curate",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, lang, n_chars,
               {_DUCK_TOKS} AS toks
        FROM documents
    ),
    fp AS (
        SELECT doc_id, lang, n_chars,
               CAST(len(toks) AS BIGINT) AS n_tokens,
               md5(array_to_string(toks, ' ')) AS fingerprint
        FROM toks
        WHERE len(toks) >= 5 AND n_chars >= 30
    ),
    kept AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (PARTITION BY fingerprint
                                         ORDER BY doc_id) AS rn
            FROM fp
        ) WHERE rn = 1
    ),
    sampled AS (
        SELECT * FROM kept
        WHERE ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
              % 100
              < CASE lang WHEN 'en' THEN 80 WHEN 'de' THEN 50 ELSE 30 END
    )
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           min(doc_id) AS min_doc
    FROM sampled GROUP BY lang
    """,
)
def q_corpus_curate(spark, sf_dir):
    """The composed training-mix builder — the end-to-end corpus
    curation pipeline as ONE declarative plan: quality gate (token and
    char floors) → exact-dedup keep-first (row_number over the
    normalized-token fingerprint) → deterministic per-language
    stratified sampling (hash-of-key rates, reproducible on any
    engine/partitioning) → per-language document and token accounting.
    Each stage is the already-verified operator (q_doc_fingerprint,
    q_dedup_rank, q_stratified_sample, q_token_count shapes) — this
    query proves they COMPOSE without materialization barriers: one
    scan, one dedup shuffle, one final aggregate."""
    d = _t(spark, sf_dir, "documents").withColumn(
        "toks", _spark_tokens(F.col("text"))
    )
    fp = d.filter(
        (F.size("toks") >= 5) & (F.col("n_chars") >= 30)
    ).select(
        "doc_id",
        "lang",
        F.size("toks").cast("long").alias("n_tokens"),
        F.md5(F.array_join("toks", " ")).alias("fingerprint"),
    )
    w = Window.partitionBy("fingerprint").orderBy("doc_id")
    kept = (
        fp.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    h = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 100
    )
    rate = (
        F.when(F.col("lang") == "en", 80)
        .when(F.col("lang") == "de", 50)
        .otherwise(30)
    )
    return (
        kept.filter(h < rate)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.min("doc_id").alias("min_doc"),
        )
    )


@query(
    "q_repetition",
    oracle=f"""
    SELECT doc_id,
           CAST(len(shingles) AS BIGINT) AS n_shingles,
           CAST(len(list_distinct(shingles)) AS BIGINT) AS n_distinct,
           round(CASE WHEN len(shingles) > 0
                 THEN 1.0 - CAST(len(list_distinct(shingles)) AS DOUBLE)
                      / len(shingles)
                 ELSE 0.0 END, 4) AS rep_ratio,
           CASE WHEN len(shingles) > 0
                THEN (1.0 - CAST(len(list_distinct(shingles)) AS DOUBLE)
                      / len(shingles)) > 0.2
                ELSE FALSE END AS is_repetitive
    FROM (SELECT doc_id, {_DUCK_SHINGLES} AS shingles FROM documents)
    """,
)
def q_repetition(spark, sf_dir):
    """Repetition-based quality signal (the duplicate-n-gram fraction
    used by Gopher-style corpus filters): share of 3-word shingles that
    are repeats within the document. Boilerplate, keyword stuffing, and
    degenerate generations score high and get flagged. Pure per-row
    array expressions — no shuffle at all until a consumer aggregates,
    so at 100 TB this is a map-only pass. The shingle array is
    materialized via withColumn BEFORE the size/distinct expressions
    (HOF-lambda CSE gotcha)."""
    d = _t(spark, sf_dir, "documents").withColumn(
        "toks", _spark_tokens(F.col("text"))
    ).withColumn("shingles", _spark_shingles(F.col("toks")))
    n = F.size("shingles")
    nd = F.size(F.array_distinct("shingles"))
    ratio = F.when(
        n > 0, F.lit(1.0) - nd.cast("double") / n
    ).otherwise(F.lit(0.0))
    return d.select(
        "doc_id",
        n.cast("long").alias("n_shingles"),
        nd.cast("long").alias("n_distinct"),
        F.round(ratio, 4).alias("rep_ratio"),
        (ratio > 0.2).alias("is_repetitive"),
    )


from .queries_scale import _TOKEN_RE  # shared BPE-ish pre-tokenizer contract


@query(
    "q_weighted_sample",
    oracle="""
    SELECT doc_id, n_chars,
           round(key, 6) AS key
    FROM (
        SELECT doc_id, n_chars,
               -ln(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                   / 4294967296.0) / n_chars AS key
        FROM documents WHERE n_chars > 0
    )
    QUALIFY row_number() OVER (ORDER BY key, doc_id) <= 50
    """,
)
def q_weighted_sample(spark, sf_dir):
    """Weighted sampling without replacement (Efraimidis–Spirakis):
    each doc draws key = -ln(u)/w with w = its length and u a
    DETERMINISTIC md5-derived uniform (no rand() — replays, retried
    tasks, and the oracle all see identical draws); the k smallest
    keys are the sample, giving inclusion probability proportional to
    weight. This is the data-mixing primitive (sample a corpus
    proportionally to quality/length) as one map pass + a top-k —
    at 100 TB the top-k is a TakeOrdered, no global sort."""
    d = _t(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    u = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("double") / F.lit(4294967296.0)
    d = d.withColumn("key", -F.log(u) / F.col("n_chars"))
    w = Window.orderBy("key", "doc_id")
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 50)
        .select("doc_id", "n_chars", F.round("key", 6).alias("key"))
    )


@query(
    "q_pack_sequences",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, '{_TOKEN_RE}')) AS BIGINT)
                 AS n_toks
        FROM documents
    ),
    packed AS (
        SELECT doc_id, n_toks,
               sum(n_toks) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 - n_toks AS cum_before
        FROM toks
    )
    SELECT doc_id, n_toks,
           CAST(floor(cum_before / 512.0) AS BIGINT) AS bin_id,
           CAST(cum_before - floor(cum_before / 512.0) * 512
                AS BIGINT) AS offset_in_bin
    FROM packed
    """,
)
def q_pack_sequences(spark, sf_dir):
    """Sequence packing for pre-training (concat-and-chunk): documents
    in deterministic order are laid head-to-tail on a token tape and
    cut into 512-token bins; each doc learns its bin and offset from a
    running cumulative sum — the same assignment the data loader will
    use, computed ahead of time so shards can be written bin-aligned.

    Scale shape (r4 verdict fix): the cumsum no longer runs as one
    unpartitioned `ROWS UNBOUNDED PRECEDING` window (which funneled
    every document through Exchange SinglePartition). It now uses
    `distributed_cumulative`: range-partition by doc_id, per-partition
    running sums in parallel, broadcast prefix offsets. Bit-identical
    tape positions, no serial stage. For fully independent shards see
    q_pack_sequences_sharded."""
    d = _t(spark, sf_dir, "documents").withColumn(
        "n_toks",
        F.size(F.regexp_extract_all("text", F.lit(_TOKEN_RE), 0)).cast(
            "long"
        ),
    )
    d = distributed_cumulative(
        d, ["doc_id"], agg_col="n_toks", out_col="cum_before", exclusive=True
    )
    bin_id = F.floor(F.col("cum_before") / 512.0)
    return d.select(
        "doc_id",
        "n_toks",
        bin_id.cast("long").alias("bin_id"),
        (F.col("cum_before") - bin_id * 512).cast("long").alias(
            "offset_in_bin"
        ),
    )


_PACK_SHARDS = 8


@query(
    "q_pack_sequences_sharded",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                 % {_PACK_SHARDS} AS shard_id,
               CAST(len(regexp_extract_all(text, '{_TOKEN_RE}')) AS BIGINT)
                 AS n_toks
        FROM documents
    ),
    packed AS (
        SELECT doc_id, shard_id, n_toks,
               sum(n_toks) OVER (PARTITION BY shard_id ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) - n_toks
                 AS cum_before
        FROM toks
    )
    SELECT doc_id, shard_id, n_toks,
           CAST(floor(cum_before / 512.0) AS BIGINT) AS bin_id,
           CAST(cum_before - floor(cum_before / 512.0) * 512
                AS BIGINT) AS offset_in_bin
    FROM packed
    """,
)
def q_pack_sequences_sharded(spark, sf_dir):
    """Production-scale sequence packing: documents are first assigned
    to one of 8 shards by a stable md5 hash of doc_id (the same
    seeded-hash discipline as q_kfold — layout-independent), then the
    concat-and-chunk cumsum runs PER SHARD as an ordinary partitioned
    window. Each shard owns its own token tape and bin numbering
    (shard_id, bin_id), so the whole job is one hash shuffle with no
    global order anywhere — the shape that packs 100 TB on 1000
    executors. Writers emit shard-local bins; readers interleave
    shards. With n_shards=1 this degenerates to exactly
    q_pack_sequences' global tape (parity-tested)."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        (
            F.conv(
                F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
            ).cast("long")
            % _PACK_SHARDS
        ).alias("shard_id"),
        F.size(F.regexp_extract_all("text", F.lit(_TOKEN_RE), 0))
        .cast("long")
        .alias("n_toks"),
    )
    w = Window.partitionBy("shard_id").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    d = d.withColumn("cum_before", F.sum("n_toks").over(w) - F.col("n_toks"))
    bin_id = F.floor(F.col("cum_before") / 512.0)
    return d.select(
        "doc_id",
        "shard_id",
        "n_toks",
        bin_id.cast("long").alias("bin_id"),
        (F.col("cum_before") - bin_id * 512).cast("long").alias(
            "offset_in_bin"
        ),
    )


# --------------------------------------------- retrieval / curation extras

_BM25_TERMS = ("join", "filter", "spark")
_BM25_K1 = 1.2
_BM25_B = 0.75


def _bm25_oracle() -> str:
    # Per-term score columns added in a FIXED order (not a SQL sum())
    # so the float addition order is identical to the Spark plan; ln()
    # may differ by 1 ulp across libm implementations, absorbed by the
    # 4dp round (same budget as every other float aggregate here).
    per_term = ",\n".join(
        f"""max(CASE WHEN term = '{t}' THEN
            ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
            * (tf * {_BM25_K1 + 1.0})
            / (tf + {_BM25_K1} * (1.0 - {_BM25_B} + {_BM25_B} * (dl / avgdl)))
            ELSE NULL END) AS s_{t}"""
        for t in _BM25_TERMS
    )
    total = " + ".join(f"coalesce(s_{t}, 0.0)" for t in _BM25_TERMS)
    terms_in = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    return f"""
    WITH toks AS (
        SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents
    ),
    dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM toks),
    stats AS (
        SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl
    ),
    tf AS (
        SELECT doc_id, u.t AS term, count(*) AS tf
        FROM toks, unnest(toks) AS u(t)
        WHERE u.t IN ({terms_in})
        GROUP BY doc_id, u.t
    ),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    scored AS (
        SELECT tf.doc_id, tf.term, tf.tf, df.df, dl.dl, s.n_docs, s.avgdl
        FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats s
    ),
    per_doc AS (
        SELECT doc_id, {per_term}
        FROM scored GROUP BY doc_id
    )
    SELECT doc_id, score FROM (
        SELECT doc_id, round({total}, 4) AS score,
               row_number() OVER (ORDER BY round({total}, 4) DESC, doc_id) AS rn
        FROM per_doc
    ) WHERE rn <= 10
    """


@query("q_bm25", oracle=_bm25_oracle())
def q_bm25(spark, sf_dir):
    """BM25 retrieval scoring (k1=1.2, b=0.75) for a fixed query over
    the corpus — the lexical-retrieval side of training-data curation
    (quality filtering by relevance to a seed query; complements the
    embedding-side q_cosine_topk). One explode+filter pass computes
    term frequencies; document frequencies and corpus stats are
    broadcast 1-row/3-row scalars; top-10 by rounded score. At 100 TB
    the only shuffle is the (doc, term) partial-agg; the term list is a
    literal so the scan's explode filters to ~|terms| rows per doc
    before any exchange. Per-term scores are combined in a fixed
    expression order so float addition matches the oracle bit-for-bit
    (ln() ulp differences absorbed by the 4dp round)."""
    # ONE corpus scan (r13, guide §2.4/§8 — decide with small rows):
    # the former shape re-derived the scan+tokenize subtree in FOUR
    # consumers (dl, stats-via-dl, tf, df-via-tf) with zero runtime
    # ReusedExchange (verified in the executed q_rrf_fusion plan: 18
    # parquet scans, ReusedExchange=0 — scans are not exchanges, so
    # nothing dedups them). Per-doc term counts need no explode and no
    # shuffle at all: tf_t = size(filter(toks, = t)) per fixed query
    # term, dl = size(toks), computed in one narrow projection that is
    # checkpointed (docs × ~5 ints) so the two scalar aggregates and
    # the scoring pass re-read the tiny relation, not the corpus.
    def _eq(term):
        return lambda x: x == F.lit(term)

    d = _t(spark, sf_dir, "documents").withColumn(
        "toks", _spark_tokens(F.col("text"))
    )
    per_doc = d.select(
        "doc_id",
        F.size("toks").cast("long").alias("dl"),
        *[
            F.size(F.filter("toks", _eq(t))).cast("long").alias(f"tf_{t}")
            for t in _BM25_TERMS
        ],
    ).localCheckpoint()
    # corpus stats + per-term document frequencies: two 1-row aggs
    # over the checkpointed per-doc relation. Values are identical to
    # the former explode pipeline's: tf_t is the same multiplicity
    # count, df_t = #docs with tf_t > 0 = the old tf-row count per
    # term, and dl/n_docs/avgdl aggregate the same long column over
    # the same rows (integer sums — no float-order freedom).
    stats = per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum((F.col(f"tf_{t}") > 0).cast("long")).alias(f"df_{t}")
            for t in _BM25_TERMS
        ],
    )
    hit = per_doc.filter(
        F.greatest(*[F.col(f"tf_{t}") for t in _BM25_TERMS]) > 0
    ).crossJoin(F.broadcast(stats))
    # identical per-term score expression; a term absent from a doc
    # (tf_t = 0) contributes NULL exactly like the old pivot's
    # max(when(term == t, s)) over no rows, then the same fixed-order
    # coalesce sum.
    def _s(t):
        return F.when(
            F.col(f"tf_{t}") > 0,
            F.log(
                (F.col("n_docs") - F.col(f"df_{t}") + 0.5)
                / (F.col(f"df_{t}") + 0.5)
                + 1.0
            )
            * (F.col(f"tf_{t}") * (_BM25_K1 + 1.0))
            / (
                F.col(f"tf_{t}")
                + _BM25_K1
                * (1.0 - _BM25_B + _BM25_B * (F.col("dl") / F.col("avgdl")))
            ),
        )

    total = None
    for t in _BM25_TERMS:
        c = F.coalesce(_s(t), F.lit(0.0))
        total = c if total is None else total + c
    ranked = hit.select(
        "doc_id", F.round(total, 4).alias("score")
    ).withColumn(
        "rn",
        F.row_number().over(
            Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
        ),
    )
    return ranked.filter(F.col("rn") <= 10).select("doc_id", "score")


def _bm25_ranked(spark, sf_dir, limit: int):
    """(doc_id, lex_rank) for the fixed query terms — the q_bm25
    pipeline with the rank kept (shared by q_rrf_fusion)."""
    ranked = q_bm25(spark, sf_dir)
    w = Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
    return (
        ranked.withColumn("lex_rank", F.row_number().over(w))
        .filter(F.col("lex_rank") <= limit)
        .select("doc_id", "lex_rank")
    )


_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PHONE_RE = r"\d{3}-\d{4}"


@query(
    "q_pii_scrub",
    oracle=f"""
    WITH msgs AS (
        SELECT event_id,
               'user ' || CAST(user_id AS VARCHAR) || ' call 555-'
               || printf('%04d', event_id % 10000) || ' or mail u'
               || CAST(user_id AS VARCHAR) || '@example.com' AS msg
        FROM events
    )
    SELECT event_id,
           regexp_replace(regexp_replace(msg, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                          '{_PHONE_RE}', '<PHONE>', 'g') AS redacted,
           CAST(len(regexp_extract_all(msg, '{_EMAIL_RE}')) AS INTEGER)
             AS n_emails,
           CAST(len(regexp_extract_all(msg, '{_PHONE_RE}')) AS INTEGER)
             AS n_phones
    FROM msgs
    """,
)
def q_pii_scrub(spark, sf_dir):
    """PII redaction for training-data curation: regex-scrub emails and
    phone numbers from free text, emitting the redacted string plus
    per-pattern match counts for the scrub audit. The contact-bearing
    text is synthesized deterministically from events (the corpus
    itself contains no PII-shaped strings) with the identical
    derivation in the oracle — the same contract-input pattern as
    _boxes. Pure regexp_replace/regexp_count Catalyst expressions (no
    UDF): a single narrow projection pass, trivially partition-parallel
    at any scale."""
    ev = load_table(spark, sf_dir, "events")
    msg = F.concat(
        F.lit("user "),
        F.col("user_id").cast("string"),
        F.lit(" call 555-"),
        F.format_string("%04d", F.col("event_id") % 10000),
        F.lit(" or mail u"),
        F.col("user_id").cast("string"),
        F.lit("@example.com"),
    )
    m = ev.select("event_id", msg.alias("msg"))
    return m.select(
        "event_id",
        F.regexp_replace(
            F.regexp_replace("msg", _EMAIL_RE, "<EMAIL>"),
            _PHONE_RE,
            "<PHONE>",
        ).alias("redacted"),
        F.regexp_count("msg", F.lit(_EMAIL_RE)).cast("int").alias("n_emails"),
        F.regexp_count("msg", F.lit(_PHONE_RE)).cast("int").alias("n_phones"),
    )


_RRF_K = 60
_RRF_TOPK = 10


def _rrf_oracle() -> str:
    """Both retrieval pipelines re-derived in SQL (the BM25 oracle
    embedded verbatim as a CTE; cosine as in q_cosine_topk), fused with
    1/(k + rank) in a FIXED branch order (lex + sem) so float addition
    matches the Spark expression bit-for-bit."""
    return f"""
    WITH lex AS (
        SELECT doc_id,
               row_number() OVER (ORDER BY score DESC, doc_id) AS lex_rank
        FROM ({_bm25_oracle()})
    ),
    v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    qv AS (SELECT e AS qe FROM v WHERE vec_id = 0),
    sims AS (
        SELECT v.vec_id AS doc_id,
               round(list_dot_product(q.qe, v.e)
                     / (sqrt(list_dot_product(q.qe, q.qe))
                        * sqrt(list_dot_product(v.e, v.e))), 6) AS sim
        FROM v CROSS JOIN qv q WHERE v.vec_id <> 0
    ),
    sem AS (
        SELECT doc_id, sem_rank FROM (
            SELECT doc_id,
                   row_number() OVER (ORDER BY sim DESC, doc_id) AS sem_rank
            FROM sims
        ) WHERE sem_rank <= {_RRF_TOPK}
    ),
    fused AS (
        SELECT coalesce(l.doc_id, s.doc_id) AS doc_id,
               round(coalesce(1.0 / ({_RRF_K} + l.lex_rank), 0.0)
                     + coalesce(1.0 / ({_RRF_K} + s.sem_rank), 0.0), 6) AS rrf
        FROM lex l FULL OUTER JOIN sem s ON l.doc_id = s.doc_id
    )
    SELECT doc_id, rrf FROM (
        SELECT doc_id, rrf,
               row_number() OVER (ORDER BY rrf DESC, doc_id) AS rn
        FROM fused
    ) WHERE rn <= {_RRF_TOPK}
    """


@query("q_rrf_fusion", oracle=_rrf_oracle())
def q_rrf_fusion(spark, sf_dir):
    """Hybrid retrieval via reciprocal-rank fusion (Cormack et al.
    2009): the lexical top-10 (BM25, q_bm25's exact pipeline) and the
    semantic top-10 (cosine against the vec_id=0 anchor, q_cosine_topk's
    exact pipeline) merge with score = Σ 1/(60 + rank) — the standard
    hybrid-search combiner, rank-based so the two incomparable score
    scales never touch.

    Scale shape: each side is its own already-scale-safe pipeline ending
    in a tiny top-k relation; the fusion is a full outer join of two
    ≤10-row lists + one ranking — free. At 100 TB you swap the
    brute-force semantic side for q_ann_lsh candidates; the fusion
    stage is unchanged.
    """
    from ..operators.similarity import brute_force_topk

    lex = _bm25_ranked(spark, sf_dir, _RRF_TOPK)

    v = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    qv = v.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("qid"), F.col("e").alias("qe")
    )
    sem = (
        brute_force_topk(v, qv, k=_RRF_TOPK)
        .withColumn(
            "sem_rank",
            F.row_number().over(
                Window.orderBy(F.col("sim").desc(), F.col("nid").asc())
            ),
        )
        .select(F.col("nid").alias("doc_id"), "sem_rank")
    )
    fused = lex.join(sem, "doc_id", "full_outer").select(
        "doc_id",
        F.round(
            F.coalesce(1.0 / (_RRF_K + F.col("lex_rank")), F.lit(0.0))
            + F.coalesce(1.0 / (_RRF_K + F.col("sem_rank")), F.lit(0.0)),
            6,
        ).alias("rrf"),
    )
    w = Window.orderBy(F.col("rrf").desc(), F.col("doc_id").asc())
    return (
        fused.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _RRF_TOPK)
        .select("doc_id", "rrf")
    )


@query(
    "q_bigram_surprisal",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents
    ),
    uni AS (
        SELECT u.t AS w, count(*) AS c1
        FROM toks, unnest(toks) AS u(t) GROUP BY u.t
    ),
    big AS (
        SELECT doc_id, u.bg AS bigram
        FROM (
            SELECT doc_id,
                   CASE WHEN len(toks) >= 2 THEN
                       list_transform(range(1, len(toks)),
                                      i -> toks[i] || ' ' || toks[i + 1])
                   ELSE [] END AS bgs
            FROM toks
        ), unnest(bgs) AS u(bg)
    ),
    bfreq AS (SELECT bigram, count(*) AS c2 FROM big GROUP BY bigram)
    SELECT b.doc_id,
           round(-avg(ln(f.c2 * 1.0 / u.c1)), 4) AS avg_surprisal,
           count(*) AS n_bigrams
    FROM big b
    JOIN bfreq f USING (bigram)
    JOIN uni u ON u.w = string_split(b.bigram, ' ')[1]
    GROUP BY b.doc_id
    """,
)
def q_bigram_surprisal(spark, sf_dir):
    """Bigram-LM quality proxy: mean −ln P(w₂|w₁) under the corpus's own
    bigram MLE (P = c(w₁w₂)/c(w₁)) — one conditioning order deeper than
    q_unigram_logprob, so templated/repetitive text (predictable
    continuations) separates from merely common-word text. No external
    model; every observed bigram has c₂ ≥ 1 so the MLE needs no
    smoothing.

    Shape: bigram explode (shingles_from_tokens k=2, the shared
    tokenization contract) → two frequency hash-aggs → broadcast both
    back onto the bigram stream → per-doc mean. Three shuffles total,
    all map-side-combining; the frequency tables are vocabulary-sized,
    not corpus-sized. avg() float-order differences absorbed by the
    4dp round (the q_unigram_logprob budget).
    """
    from ..functions.text import shingles_from_tokens

    d = _t(spark, sf_dir, "documents").withColumn(
        "toks", _spark_tokens(F.col("text"))
    )
    uni = d.select(F.explode("toks").alias("w")).groupBy("w").agg(
        F.count(F.lit(1)).alias("c1")
    )
    big = d.select(
        "doc_id", F.explode(shingles_from_tokens(F.col("toks"), 2)).alias("bigram")
    )
    bfreq = big.groupBy("bigram").agg(F.count(F.lit(1)).alias("c2"))
    return (
        big.join(F.broadcast(bfreq), "bigram")
        .withColumn("w", F.element_at(F.split("bigram", " "), 1))
        .join(F.broadcast(uni), "w")
        .groupBy("doc_id")
        .agg(
            F.round(-F.avg(F.log(F.col("c2") / F.col("c1"))), 4).alias(
                "avg_surprisal"
            ),
            F.count(F.lit(1)).alias("n_bigrams"),
        )
    )


def _minhash_fidelity_oracle() -> str:
    """Estimator-quality audit: candidate pairs (>=1 shared band, hot
    cap) scored BOTH ways — matched lanes / 8 (the MinHash estimate)
    and exact shingle Jaccard — mirroring the Spark plan CTE-for-CTE.
    LEFT JOIN on common: an md5 band collision without any shared
    shingle still yields a candidate (coalesce 0).

    The exact side is BOUNDED by the candidate set (r7 verdict task
    #1): the shingle relation is semi-joined to candidate doc_ids and
    n_common is aggregated by routing cand THROUGH the shingle sides
    (equi-joins on doc_id then (doc_id, shingle)) — never a shingle
    self-join, so a stop-word shingle shared corpus-wide costs rows
    linear in the candidate fan, not quadratic in the corpus. Output
    is provably identical: only candidate pairs ever reach the SELECT
    (est LEFT JOINs common)."""
    mh = ",\n".join(_minhash_chunk_sql(s) for s in range(_N_PERM))
    n_bands = _N_PERM // _BAND_SIZE
    band_rows = "\nUNION ALL\n".join(
        "SELECT doc_id, {b} AS band, md5({key}) AS band_key FROM mh".format(
            b=b,
            key=" || ".join(f"m{b * _BAND_SIZE + j}" for j in range(_BAND_SIZE)),
        )
        for b in range(n_bands)
    )
    lane_match = " + ".join(
        f"(CASE WHEN ma.m{s} = mb.m{s} THEN 1 ELSE 0 END)"
        for s in range(_N_PERM)
    )
    return f"""
    WITH docs AS (
        SELECT doc_id, {_DUCK_SHINGLES} AS shingles FROM documents
    ),
    mh AS (
        SELECT doc_id, {mh} FROM docs WHERE len(shingles) > 0
    ),
    bands_all AS ({band_rows}),
    bands AS (
        SELECT doc_id, band, band_key FROM (
            SELECT *, count(*) OVER (PARTITION BY band, band_key) AS bn
            FROM bands_all
        ) WHERE bn <= {_HOT_BAND_CAP}
    ),
    cand AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               count(DISTINCT a.band) AS n_shared_bands
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    sh AS (
        SELECT doc_id, u.s AS shingle
        FROM docs, unnest(shingles) AS u(s)
        GROUP BY doc_id, u.s
    ),
    cand_ids AS (
        SELECT doc_a AS doc_id FROM cand
        UNION
        SELECT doc_b FROM cand
    ),
    sh_c AS (
        SELECT s.doc_id, s.shingle FROM sh s JOIN cand_ids USING (doc_id)
    ),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh_c GROUP BY doc_id),
    common AS (
        SELECT c.doc_a, c.doc_b, count(*) AS n_common
        FROM cand c
        JOIN sh_c a ON a.doc_id = c.doc_a
        JOIN sh_c b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
        GROUP BY c.doc_a, c.doc_b
    ),
    est AS (
        SELECT c.doc_a, c.doc_b, c.n_shared_bands,
               CAST({lane_match} AS BIGINT) AS matched_lanes
        FROM cand c
        JOIN mh ma ON ma.doc_id = c.doc_a
        JOIN mh mb ON mb.doc_id = c.doc_b
    )
    SELECT e.doc_a, e.doc_b, e.n_shared_bands, e.matched_lanes,
           CAST(e.matched_lanes AS DOUBLE) / {float(_N_PERM)} AS est_jaccard,
           round(CAST(coalesce(cm.n_common, 0) AS DOUBLE)
                 / (sa.n_sh + sb.n_sh - coalesce(cm.n_common, 0)), 6)
             AS exact_jaccard,
           round(abs(CAST(e.matched_lanes AS DOUBLE) / {float(_N_PERM)}
                     - CAST(coalesce(cm.n_common, 0) AS DOUBLE)
                       / (sa.n_sh + sb.n_sh - coalesce(cm.n_common, 0))), 6)
             AS abs_err
    FROM est e
    LEFT JOIN common cm ON cm.doc_a = e.doc_a AND cm.doc_b = e.doc_b
    JOIN sizes sa ON sa.doc_id = e.doc_a
    JOIN sizes sb ON sb.doc_id = e.doc_b
    """


@query("q_minhash_fidelity", oracle=_minhash_fidelity_oracle())
def q_minhash_fidelity(spark, sf_dir):
    """MinHash estimator-quality audit — the signature-fidelity
    monitor the near-dup path was missing (the ANN families have
    recall monitors; this is their minhash sibling): for every LSH
    candidate pair, the unbiased MinHash estimate matched_lanes/8 is
    compared against the EXACT shingle Jaccard, giving the per-pair
    estimator error that tells you whether N_PERM/BAND_SIZE fit the
    corpus before you trust the dedup gate at 100 TB.

    Shares the lane/band definitions with the canonical
    minhash_bands relation via operators/textdedup.py:minhash_lanes +
    bands_from_lanes (drift-pinned by the lanes≡bands consistency
    test), so this audits the EXACT signatures production uses.

    Determinism: lanes/bands are md5-derived; matched_lanes is an
    integer; est = matched/8 is an exact binary fraction; exact
    Jaccard is ONE IEEE division of exact integers; abs_err is the
    same two exact terms subtracted then rounded at 6dp on both
    engines. An md5 band collision without shared shingles is still a
    candidate (LEFT JOIN + coalesce 0 on both sides).

    Scale: candidates come from the banded equi-join with the hot-cap
    guard (never all-pairs); the exact side is BOUNDED by the
    candidate set — the shingle relation is left-semi-joined to the
    distinct candidate doc_ids, and n_common is aggregated by routing
    cand THROUGH the two shingle sides (equi-joins on doc_id, then
    (doc_id, shingle)), never a shingle self-join. A stop-word
    shingle shared by millions of documents therefore costs one row
    per (candidate pair, shingle-of-doc_a) — linear in the candidate
    fan, not k² in the shingle's corpus frequency
    (tests/test_scale_patterns.py::test_minhash_fidelity_hot_shingle_bounded
    plants one such shingle across ~100k docs and measures the join
    cardinality). Lanes join back on doc_id.
    """
    from ..operators.textdedup import (
        N_PERM,
        bands_from_lanes,
        minhash_lanes,
    )

    docs = _t(spark, sf_dir, "documents")
    # lanes feed three consumers (bands + both sides of the est join)
    lanes = minhash_lanes(docs).localCheckpoint()
    bands = bands_from_lanes(
        lanes, hot_band_cap=_HOT_BAND_CAP
    ).localCheckpoint()  # self-joined below (the q_minhash_lsh note)
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.countDistinct(F.col("a.band")).alias("n_shared_bands"))
        .localCheckpoint()  # feeds est AND the bounded exact side
    )
    # exact side, bounded by the candidate set: distinct shingles of
    # CANDIDATE docs only (left-semi), and n_common via cand routed
    # through the two shingle sides — no shingle self-join anywhere
    sh = docs.withColumn("toks", _spark_tokens(F.col("text"))).select(
        "doc_id",
        F.explode(F.array_distinct(_spark_shingles(F.col("toks")))).alias(
            "shingle"
        ),
    )
    cand_ids = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .unionByName(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sh_c = sh.join(cand_ids, "doc_id", "left_semi").localCheckpoint()
    sizes = sh_c.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    sa_, sb_ = sh_c.alias("sa_"), sh_c.alias("sb_")
    common = (
        cand.select("doc_a", "doc_b")
        .join(sa_, F.col("doc_a") == F.col("sa_.doc_id"))
        .join(
            sb_,
            (F.col("doc_b") == F.col("sb_.doc_id"))
            & (F.col("sa_.shingle") == F.col("sb_.shingle")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    ma, mb = lanes.alias("ma"), lanes.alias("mb")
    matched = sum(
        F.when(F.col(f"ma.m{s}") == F.col(f"mb.m{s}"), 1).otherwise(0)
        for s in range(N_PERM)
    )
    est = (
        cand.join(ma, F.col("doc_a") == F.col("ma.doc_id"))
        .join(mb, F.col("doc_b") == F.col("mb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            "n_shared_bands",
            matched.cast("long").alias("matched_lanes"),
        )
    )
    sza = sizes.select(
        F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_sh_a")
    )
    szb = sizes.select(
        F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_sh_b")
    )
    nc = F.coalesce(F.col("n_common"), F.lit(0))
    exact_raw = nc.cast("double") / (
        F.col("n_sh_a") + F.col("n_sh_b") - nc
    )
    est_j = F.col("matched_lanes").cast("double") / F.lit(float(N_PERM))
    return (
        est.join(common, ["doc_a", "doc_b"], "left")
        .join(F.broadcast(sza), "doc_a")
        .join(F.broadcast(szb), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_shared_bands",
            "matched_lanes",
            est_j.alias("est_jaccard"),
            F.round(exact_raw, 6).alias("exact_jaccard"),
            F.round(F.abs(est_j - exact_raw), 6).alias("abs_err"),
        )
    )


@query(
    "q_knn_accuracy",
    oracle="""
    WITH v AS (
        SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings
    ),
    q AS (
        SELECT vec_id AS qid, label AS true_label, e AS qe
        FROM v WHERE vec_id % 25 = 0
    ),
    sims AS (
        SELECT q.qid, q.true_label, v.vec_id AS nid, v.label AS nlabel,
               round(list_dot_product(q.qe, v.e)
                     / (sqrt(list_dot_product(q.qe, q.qe))
                        * sqrt(list_dot_product(v.e, v.e))), 6) AS sim
        FROM q JOIN v ON v.vec_id <> q.qid
    ),
    knn AS (
        SELECT qid, true_label, nid, nlabel FROM (
            SELECT *, row_number() OVER (
                       PARTITION BY qid ORDER BY sim DESC, nid) AS rn
            FROM sims
        ) WHERE rn <= 5
    ),
    votes AS (
        SELECT qid, true_label, nlabel, count(*) AS n_votes
        FROM knn GROUP BY 1, 2, 3
    )
    SELECT qid, CAST(true_label AS BIGINT) AS true_label,
           CAST(nlabel AS BIGINT) AS pred_label,
           CAST(n_votes AS BIGINT) AS n_votes,
           nlabel = true_label AS correct
    FROM (
        SELECT *, row_number() OVER (
                   PARTITION BY qid ORDER BY n_votes DESC, nlabel) AS vr
        FROM votes
    ) WHERE vr = 1
    """,
)
def q_knn_accuracy(spark, sf_dir):
    """k-NN label-agreement eval over the embedding space — the
    end-to-end number an embedding pipeline is judged by (do nearest
    neighbors share labels?), completing the similarity family: the
    recall monitors (q_ann_recall*) certify the INDEX against exact
    search; this certifies the SPACE against labels. Every 25th vector
    is a held-out query; its 5 exact-cosine neighbors (self excluded)
    vote; majority label (ties broken by smaller label — the
    deterministic total order) is compared to the query's own label.

    Determinism: cosine rounded 6dp before ranking with nid tiebreak
    (the q_cosine_topk contract); votes are exact integer counts; the
    vote argmax is a (n_votes DESC, label) total order. Exactly one
    row per query on both engines.

    Scale: brute-force per-query cost is |corpus| — the eval runs on a
    SAMPLED query set by construction (the production pattern: the
    quality monitor is O(sample·corpus), the serving path uses the
    ANN index); the vote is a tiny hash agg + per-query argmax window.
    """
    from ..operators.similarity import brute_force_topk

    v = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.col("embedding").cast("array<double>").alias("e"),
    ).localCheckpoint()  # consumers: corpus side, query side, label joins
    q = v.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("qid"), F.col("e").alias("qe")
    )
    knn = brute_force_topk(v, q, k=5)
    labels = v.select("vec_id", "label")
    voted = (
        knn.join(
            labels.select(
                F.col("vec_id").alias("nid"), F.col("label").alias("nlabel")
            ),
            "nid",
        )
        .groupBy("qid", "nlabel")
        .agg(F.count(F.lit(1)).alias("n_votes"))
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("n_votes").desc(), F.col("nlabel").asc()
    )
    top = voted.withColumn("vr", F.row_number().over(w)).filter(
        F.col("vr") == 1
    )
    return top.join(
        labels.select(
            F.col("vec_id").alias("qid"), F.col("label").alias("true_label")
        ),
        "qid",
    ).select(
        "qid",
        F.col("true_label").cast("long").alias("true_label"),
        F.col("nlabel").cast("long").alias("pred_label"),
        F.col("n_votes").cast("long").alias("n_votes"),
        (F.col("nlabel") == F.col("true_label")).alias("correct"),
    )


_ZIPF_TOPK = 200  # fit over each language's K most frequent words


@query(
    "q_zipf_fit",
    oracle=f"""
    WITH toks AS (
        SELECT lang, u.t AS w
        FROM (SELECT lang, {_DUCK_TOKS} AS ts FROM documents),
             unnest(ts) AS u(t)
    ),
    vocab AS (
        SELECT lang, w, count(*) AS c FROM toks GROUP BY 1, 2
    ),
    ranked AS (
        SELECT lang, c,
               row_number() OVER (
                   PARTITION BY lang ORDER BY c DESC, w) AS rk
        FROM vocab
    ),
    pts AS (
        SELECT lang,
               CAST(round(ln(rk) * 1000000, 0) AS HUGEINT) AS x,
               CAST(round(ln(c) * 1000000, 0) AS HUGEINT) AS y
        FROM ranked WHERE rk <= {_ZIPF_TOPK}
    ),
    m AS (
        SELECT lang, count(*) AS n,
               CAST(sum(x) AS HUGEINT) AS sx,
               CAST(sum(y) AS HUGEINT) AS sy,
               CAST(sum(x * y) AS HUGEINT) AS sxy,
               CAST(sum(x * x) AS HUGEINT) AS sxx,
               CAST(sum(y * y) AS HUGEINT) AS syy
        FROM pts GROUP BY 1
    )
    SELECT lang, CAST(n AS BIGINT) AS n_points,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS slope,
           round((CAST(sy AS DOUBLE)
                  - (CAST(n * sxy - sx * sy AS DOUBLE)
                     / CAST(n * sxx - sx * sx AS DOUBLE))
                    * CAST(sx AS DOUBLE))
                 / CAST(n AS DOUBLE) / 1000000.0, 6) AS intercept,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 * CAST(n * sxy - sx * sy AS DOUBLE)
                 / (CAST(n * sxx - sx * sx AS DOUBLE)
                    * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS r2
    FROM m
    """,
)
def q_zipf_fit(spark, sf_dir):
    """Zipf power-law fit of each language's token-frequency curve —
    the corpus-health audit beside q_lang_id / q_vocab_topk: natural
    text follows freq ∝ rank^s with s ≈ −1, so a log-log OLS slope far
    from −1 (or a low r²) flags boilerplate, template spam, or a
    broken tokenizer BEFORE the corpus reaches training. Fit over each
    language's 200 most frequent words (the head is where Zipf holds
    and where the mass is).

    Determinism, house style: ln(rank) and ln(count) are
    transcendentals of the SAME exact integers on both engines,
    rounded to 6dp and LIFTED to the integer micro-grid (×10⁶, the
    q_kaplan_meier move) so every OLS moment (Σx, Σy, Σxy, Σx², Σy²)
    is an exact HUGEINT/DECIMAL sum — no float is ever summed across
    rows; slope / intercept / r² are fixed float op sequences over
    those exact moments (micro-grid scale cancels in slope and r²;
    the intercept divides it back out once), rounded 6dp. Rank is a
    (count DESC, word) total order.

    Scale: the vocabulary aggregate is the only corpus-sized shuffle
    (hash agg, map-side combined); ranking is a window PARTITIONED by
    lang over the vocabulary relation; the fit reduces to ≤200 points
    × |langs| and one row per language.
    """
    toks = _t(spark, sf_dir, "documents").select(
        "lang", F.explode(_spark_tokens(F.col("text"))).alias("w")
    )
    vocab = toks.groupBy("lang", "w").agg(F.count(F.lit(1)).alias("c"))
    w_rank = Window.partitionBy("lang").orderBy(
        F.col("c").desc(), F.col("w").asc()
    )
    dec = "decimal(38,0)"
    pts = (
        vocab.withColumn("rk", F.row_number().over(w_rank))
        .filter(F.col("rk") <= _ZIPF_TOPK)
        .select(
            "lang",
            F.round(F.log(F.col("rk").cast("double")) * 1e6, 0)
            .cast(dec)
            .alias("x"),
            F.round(F.log(F.col("c").cast("double")) * 1e6, 0)
            .cast(dec)
            .alias("y"),
        )
    )
    m = pts.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    nd = F.col("n").cast(dec)
    cov = (nd * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    varx = (nd * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    vary = (nd * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    slope = cov / varx
    return m.select(
        "lang",
        F.col("n").cast("long").alias("n_points"),
        F.round(slope, 6).alias("slope"),
        F.round(
            (F.col("sy").cast("double") - slope * F.col("sx").cast("double"))
            / F.col("n").cast("double")
            / F.lit(1e6),
            6,
        ).alias("intercept"),
        F.round(cov * cov / (varx * vary), 6).alias("r2"),
    )
