"""Generative WHOLE-QUERY cross-engine fuzzing (the r12 lesson
generalized): fixed fixtures can't cover the input space, and a bug
shared by both the Spark query and its DuckDB oracle is invisible to
the driver harness. These tests draw random `documents` tables from a
constrained grammar — duplicated texts, empty strings, whitespace-only,
NULL text/lang, short docs — and require Spark == oracle on every draw
for the r13 queries whose aggregate rewrites are the subtlest
(llm_quality_cascade's CASE-key single-pass form, llm_line_dedup's
min-struct survivor, dedup_longest_common_run's diagonal chaining)."""

from __future__ import annotations

import os

import duckdb
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from accident_prediction_montreal_spark.plans import REGISTRY

# r14 hardening (the r13 verdict's ask #2): max_examples=6 let a real
# NULL-lang bug ship inside a green run. 25 draws per query is the new
# floor, and four explicit edge-case seeds run FIRST on every query so
# the known-dangerous corners (all-NULL lang, all-NULL text, all-empty
# text, all-duplicates) are covered deterministically, not by luck.
_SETTINGS = dict(
    max_examples=25,
    deadline=None,
    suppress_health_check=[
        HealthCheck.function_scoped_fixture,
        HealthCheck.too_slow,
    ],
)

# Explicit regression seeds (post-map shape: (doc_id, text, lang, source)).
# Seed 1 is the exact r13 verdict repro: every row NULL-lang made
# llm_quality_cascade's SUM(c1::long) return NULL vs the oracle's 0.
_SEED_ALL_NULL_LANG = [(0, None, None, "s1")]
_SEED_ALL_NULL_TEXT = [(0, None, "en", "s1"), (1, None, "fr", "s2")]
_SEED_ALL_EMPTY_TEXT = [(0, "", "en", "s1"), (1, "   ", "en", "s2")]
_SEED_ALL_DUPLICATES = [
    (0, "alpha beta gamma", "en", "s1"),
    (1, "alpha beta gamma", "en", "s1"),
    (2, "alpha beta gamma", "fr", "s2"),
]

_WORD = st.sampled_from(
    ["alpha", "beta", "gamma", "delta", "x", "Y", "zz", "one", "two",
     # adversarial tokens: CSV/quoting/escaping hazards and non-ASCII —
     # the x27 roundtrip must survive these INSIDE the text too
     'a"b', "c,d", "e\\f", "héllo", "'q'"]
)
_TEXT = st.one_of(
    st.none(),
    st.just(""),
    st.just("   "),
    st.just('line1\nline2, "x" \\'),  # embedded LF + CSV hazards
    st.lists(_WORD, min_size=1, max_size=30).map(" ".join),
)
_LANG = st.sampled_from(["en", "fr", None])

_DOCS = st.lists(
    st.tuples(_TEXT, _LANG, st.sampled_from(["s1", "s2"])),
    min_size=1,
    max_size=24,
).map(
    # duplicate every third text on purpose so dedup stages have work;
    # doc_ids are positions (unique, deterministic)
    lambda rows: [
        (i, (rows[i // 3 * 3][0] if i % 3 == 2 else t), lang, src)
        for i, (t, lang, src) in enumerate(rows)
    ]
)


def _materialize(spark, tmpdir: str, rows) -> str:
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
        ]
    )
    df = spark.createDataFrame(rows, schema).withColumn(
        "n_chars", F.coalesce(F.length("text"), F.lit(0)).cast("long")
    )
    path = os.path.join(tmpdir, "documents.parquet")
    df.coalesce(1).write.mode("overwrite").parquet(path)
    return path


def _row_key(row: tuple):
    # total order over heterogeneous, NULL-able rows: plain sorted()
    # raises TypeError on None-vs-str (NULL grouping keys, NULL window
    # starts). Partition by (is-null, type family), compare numbers as
    # floats so an int from one engine and a float from the other sort
    # identically (tuple EQUALITY still uses ==, where 1 == 1.0).
    def k(v):
        if v is None:
            return (0, "", "")
        if isinstance(v, bool):
            return (1, "bool", str(v))
        if isinstance(v, (int, float)):
            return (1, "num", float(v))
        return (1, type(v).__name__, str(v))

    return tuple(k(v) for v in row)


def _both(spark, name: str, tmpdir: str):
    sdf = REGISTRY[name].fn(spark, tmpdir)
    srows = sorted((tuple(r) for r in sdf.collect()), key=_row_key)
    con = duckdb.connect()
    # Spark writes each table as a DIRECTORY of part files — DuckDB
    # needs the glob (the testdata fixtures are single files, which is
    # why check_oracle.py can point at the bare path)
    for table in ("documents", "events", "embeddings"):
        path = os.path.join(tmpdir, f"{table}.parquet")
        if os.path.isdir(path):
            con.sql(
                f"CREATE VIEW {table} AS SELECT * FROM "
                f"'{os.path.join(path, '*.parquet')}'"
            )
    orows = sorted(
        (tuple(r) for r in con.sql(REGISTRY[name].oracle).fetchall()),
        key=_row_key,
    )
    return srows, orows


# The standing fuzz set: the r13 aggregate rewrites plus the cheap
# dedup/text/reweight queries, PLUS a rotating 2-of-6 slot from the
# triage families (r13 verdict stretch #8) so every oracle-mirrored
# document-table family gets periodic cross-engine fuzz coverage
# without paying the full wall-time every round.
#
# Rotation protocol: _FUZZ_ROUND is bumped each build round; the slot
# takes _TRIAGE_PAIRS[_FUZZ_ROUND % 3]. History: the one-off r13 triage
# ran all six once (green); r14 = pair 0 (ngram_jaccard,
# repeated_spans); r15 -> pair 1 (text_repetition, text_token_hash);
# r16 -> pair 2 (llm_source_quota, llm_cluster_safe_split); repeat.
_FUZZ_ROUND = 14
_TRIAGE_PAIRS = [
    ("dedup_ngram_jaccard", "dedup_repeated_spans"),
    ("text_repetition", "text_token_hash"),
    ("llm_source_quota", "llm_cluster_safe_split"),
]
_STANDING = [
    "llm_quality_cascade",
    "llm_line_dedup",
    "dedup_longest_common_run",
    "llm_line_dedup_best",
    "dedup_exact",
    "dedup_containment",
    "llm_domain_reweight",
    "x27_csv_roundtrip",
]


@pytest.mark.parametrize(
    "name", _STANDING + list(_TRIAGE_PAIRS[_FUZZ_ROUND % 3])
)
@settings(**_SETTINGS)
@example(rows=_SEED_ALL_NULL_LANG)
@example(rows=_SEED_ALL_NULL_TEXT)
@example(rows=_SEED_ALL_EMPTY_TEXT)
@example(rows=_SEED_ALL_DUPLICATES)
@given(rows=_DOCS)
def test_query_matches_oracle_on_random_docs(spark, tmp_path_factory, name, rows):
    tmpdir = str(tmp_path_factory.mktemp("gen"))
    _materialize(spark, tmpdir, rows)
    srows, orows = _both(spark, name, tmpdir)
    assert srows == orows, (
        f"{name}: Spark {srows[:5]}... != oracle {orows[:5]}... "
        f"on generated input {rows[:6]}..."
    )


# ---------------------------------------------------------------------
# Events-table grammar (new r14): the documents fuzz above can't reach
# the time-series family, whose danger zone is different — DUPLICATE
# TIMESTAMPS (every survivor/open/close/lead-lag pick must fall back to
# the (ts, event_id) total order), zero-variance series (corr/stddev
# NULL vs NaN semantics), single-row users, and NULL values. The
# fixtures' generator never produces tied timestamps, so tie-break
# correctness in both mirrors was previously luck-of-the-layout (the
# determinism audit covers Spark-side partitioning, not the oracle).

_EVENT_TYPE = st.sampled_from(["click", "view", "purchase", "signup", "error"])
# second-offsets on a coarse grid spanning ~4 hour buckets, with heavy
# collision probability (ties are the point)
_TS_OFFSET = st.sampled_from(
    [0, 1, 2, 59, 60, 3599, 3600, 3601, 7200, 7201, 10800, 10801, 14399]
)
_VALUE = st.one_of(
    st.none(),  # NULL value: the cascade-class NULL-semantics probe
    st.sampled_from([0.0, 1.0, -1.0, 2.5, 100.0]),
)

_EVENTS = st.lists(
    st.tuples(_TS_OFFSET, st.integers(1, 2), _EVENT_TYPE, _VALUE),
    min_size=1,
    max_size=24,
).map(
    # duplicate every third row's timestamp AND user on purpose so
    # window tie-breaks have work; event_ids are positions (unique)
    lambda rows: [
        (
            i,
            (rows[i // 3 * 3][0] if i % 3 == 2 else off),
            (rows[i // 3 * 3][1] if i % 3 == 2 else uid),
            et,
            v,
        )
        for i, (off, uid, et, v) in enumerate(rows)
    ]
)

# Explicit edge seeds (post-map shape: (event_id, ts_offset_s, user_id,
# event_type, value)).
_SEED_ALL_SAME_TS = [
    (0, 0, 1, "click", 1.0),
    (1, 0, 1, "click", 1.0),
    (2, 0, 1, "error", 2.0),
]
_SEED_SINGLE_EVENT = [(0, 0, 1, "view", 0.0)]
# one event per hour, identical hourly counts -> zero-variance series
# for the autocorr/cusum family
_SEED_ZERO_VARIANCE = [
    (0, 0, 1, "click", 1.0),
    (1, 3600, 1, "click", 1.0),
    (2, 7200, 1, "click", 1.0),
    (3, 10800, 1, "click", 1.0),
]
_SEED_NULL_VALUES = [
    (0, 0, 1, "click", None),
    (1, 1, 1, "purchase", None),
    (2, 3600, 2, "error", None),
]


def _materialize_events(spark, tmpdir: str, rows) -> str:
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("off_s", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    df = (
        spark.createDataFrame(
            [(i, o, u, et, v) for i, o, u, et, v in rows], schema
        )
        .withColumn(
            "ts",
            # timestamp_ntz, NOT ltz: the sf fixtures store ts as
            # TIMESTAMP_NTZ (parquet isAdjustedToUTC=false), and
            # schema-pinned readers (the streaming twins) hard-fail on
            # an LTZ parquet column with PARQUET_COLUMN_DATA_TYPE_
            # MISMATCH — the grammar must match the fixture schema.
            F.timestamp_seconds(
                F.unix_timestamp(F.lit("2024-01-01 00:00:00")) + F.col("off_s")
            ).cast("timestamp_ntz"),
        )
        .withColumn(
            "props", F.concat(F.lit('{"k": '), F.col("event_id"), F.lit("}"))
        )
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
    )
    path = os.path.join(tmpdir, "events.parquet")
    df.coalesce(1).write.mode("overwrite").parquet(path)
    return path


# Tie-break-sensitive time-series queries: every one uses a
# (ts, event_id) total order in BOTH mirrors — these draws verify that
# claim holds on inputs where it actually matters.
#
# w10_rolling_median earned its standing slot on the grammar's FIRST
# outing: an all-NULL-value frame makes collect_list return an empty
# array, and the even-length median branch then evaluated
# element_at(arr, 0) — an ANSI runtime error (INVALID_INDEX_OF_ZERO)
# where DuckDB's median returns NULL (fixed in plans/timeseries.py the same
# round). A one-off triage additionally held a34_funnel_timing and
# a16_running_distinct green over the same seeds + 10 deterministic
# draws (kept out of the per-run set for suite wall time).
_EVENTS_SET = [
    "a24_ohlc_bars",
    "a23_time_weighted_avg",
    "a25_session_dynamic_gap",
    "a19_event_transitions",
    "a30_autocorr",
    "a36_cusum_changepoint",
    "w10_rolling_median",
]

_EVENTS_SETTINGS = dict(_SETTINGS, max_examples=15)


@pytest.mark.parametrize("name", _EVENTS_SET)
@settings(**_EVENTS_SETTINGS)
@example(rows=_SEED_ALL_SAME_TS)
@example(rows=_SEED_SINGLE_EVENT)
@example(rows=_SEED_ZERO_VARIANCE)
@example(rows=_SEED_NULL_VALUES)
@given(rows=_EVENTS)
def test_query_matches_oracle_on_random_events(
    spark, tmp_path_factory, name, rows
):
    tmpdir = str(tmp_path_factory.mktemp("genev"))
    _materialize_events(spark, tmpdir, rows)
    srows, orows = _both(spark, name, tmpdir)
    assert srows == orows, (
        f"{name}: Spark {srows[:5]}... != oracle {orows[:5]}... "
        f"on generated input {rows[:6]}..."
    )


# --- Embeddings-table grammar (new r14, third table) -------------------
#
# The events grammar found an ANSI crash on its first outing; the same
# question for the similarity/ANN family: what happens on inputs the
# fixture never contains — a ZERO vector (norm 0 → cosine is 0/0), a
# NULL embedding, a single-row corpus, all-duplicate vectors (ties
# everywhere in top-k)? Components are drawn from EXACT binary
# fractions so dot products and norms are bit-identical double math in
# both engines and the only tolerated divergence is the mirrored
# ROUND(x, 5/6). Dim is 64, the fixture contract — the lloyd oracle's
# centroid-update CTE literally enumerates range(1, 65).
_DIM = 64


def _emb_vec(*head: float) -> list[float]:
    """A 64-dim vector with the given leading components, zero-padded."""
    return list(head) + [0.0] * (_DIM - len(head))


_SEED_EMB_SINGLE = [(0, _emb_vec(1.0), 0)]
_SEED_EMB_ZERO = [
    (0, [0.0] * _DIM, 0),
    (1, _emb_vec(1.0, 0.5, 0.0, 0.0, 0.0, 0.0, 0.0, -1.0), 1),
]
_SEED_EMB_NULL = [
    (0, None, None),
    (1, _emb_vec(0.5, 0.5, 0.5, 0.5, -0.5, -0.5, -0.5, -0.5), 2),
]
_SEED_EMB_DUPS = [
    (0, _emb_vec(1.0, 2.0, -1.0, 0.5), 0),
    (1, _emb_vec(1.0, 2.0, -1.0, 0.5), 1),
    (2, _emb_vec(1.0, 2.0, -1.0, 0.5), None),
]

_COMP = st.sampled_from([-2.0, -1.0, -0.5, 0.0, 0.25, 0.5, 1.0, 2.0])
_VEC = st.one_of(
    st.none(),
    st.just([0.0] * _DIM),  # zero-norm: cosine denominator is 0
    # random exact-fraction head, zero tail: keeps draw size small
    # while still exercising all-64-dim folds
    st.lists(_COMP, min_size=4, max_size=12).map(lambda h: _emb_vec(*h)),
)
_EMBS = st.lists(
    st.tuples(_VEC, st.sampled_from([None, 0, 1, 2])),
    min_size=1,
    max_size=16,
).map(
    # duplicate every third vector so near-dup/top-k stages see ties;
    # vec_ids are positions (unique, dense, deterministic)
    lambda rows: [
        (i, (rows[i // 3 * 3][0] if i % 3 == 2 else v), lab)
        for i, (v, lab) in enumerate(rows)
    ]
)


def _materialize_embeddings(spark, tmpdir: str, rows) -> str:
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    )
    df = spark.createDataFrame(rows, schema)
    path = os.path.join(tmpdir, "embeddings.parquet")
    df.coalesce(1).write.mode("overwrite").parquet(path)
    return path


# Standing set: the three cheapest value-oracle similarity queries.
# (The ANN contract queries — sim_ann_ivf/lsh/recall — run k-means /
# MLlib fits per draw and live in scripts/fuzz_triage.py's embeddings
# mode instead, where wall time is a one-off, not a per-round tax.)
_EMB_SET = [
    "sim_cosine_topk",
    "dedup_embedding_cosine",
    "sim_embedding_stats",
]

_EMB_SETTINGS = dict(_SETTINGS, max_examples=15)


@pytest.mark.parametrize("name", _EMB_SET)
@settings(**_EMB_SETTINGS)
@example(rows=_SEED_EMB_SINGLE)
@example(rows=_SEED_EMB_ZERO)
@example(rows=_SEED_EMB_NULL)
@example(rows=_SEED_EMB_DUPS)
@given(rows=_EMBS)
def test_query_matches_oracle_on_random_embeddings(
    spark, tmp_path_factory, name, rows
):
    tmpdir = str(tmp_path_factory.mktemp("genem"))
    _materialize_embeddings(spark, tmpdir, rows)
    srows, orows = _both(spark, name, tmpdir)
    assert srows == orows, (
        f"{name}: Spark {srows[:5]}... != oracle {orows[:5]}... "
        f"on generated input {rows[:6]}..."
    )
