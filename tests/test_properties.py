"""Property-based tests (hypothesis): operators vs naive Python models.

Each property generates small inputs, computes the expected answer with
a direct per-row Python model, and checks the distributed operator
produces exactly that. Examples are capped (Spark round-trips are
~0.5 s each); the generators still explore edge shapes a hand-written
fixture would miss — empty groups, all-ties, single-row groups,
boundary thresholds.
"""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from accident_prediction_montreal_spark.operators.asof import asof_join
from accident_prediction_montreal_spark.operators.metrics import threshold_sweep
from accident_prediction_montreal_spark.operators.sessionize import sessionize

SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

BASE = datetime(2024, 1, 1)


# --- as-of join ---------------------------------------------------------------

left_rows = st.lists(
    st.tuples(st.integers(0, 2), st.integers(0, 500)), min_size=1, max_size=25
)
right_rows = st.lists(
    st.tuples(st.integers(0, 2), st.integers(0, 500), st.integers(-99, 99)),
    min_size=0,
    max_size=25,
)


@settings(**SETTINGS)
@given(left=left_rows, right=right_rows)
def test_asof_join_matches_naive_scan(spark, left, right):
    # Dedup right per (key, ts): the operator's determinism contract.
    right_map = {}
    for key, ts, val in right:
        right_map[(key, ts)] = val
    right_list = [(k, t, v) for (k, t), v in right_map.items()]

    ldf = spark.createDataFrame(
        [(i, k, BASE + timedelta(seconds=t)) for i, (k, t) in enumerate(left)],
        ["row_id", "user_id", "ts"],
    )
    rdf = spark.createDataFrame(
        [(k, BASE + timedelta(seconds=t), float(v)) for k, t, v in right_list]
        or [(0, BASE, 0.0)],
        ["user_id", "ts", "value"],
    )
    if not right_list:
        rdf = rdf.filter(F.lit(False))

    out = {
        r["row_id"]: r["value_right"]
        for r in asof_join(ldf, rdf, by=["user_id"], value_cols=["value"]).collect()
    }

    for i, (k, t) in enumerate(left):
        candidates = [(ts, v) for (key, ts), v in right_map.items() if key == k and ts <= t]
        expected = max(candidates)[1] if candidates else None
        got = out[i]
        assert (got is None and expected is None) or got == float(expected), (
            f"row {i}: expected {expected}, got {got}"
        )


# --- sessionize ---------------------------------------------------------------

event_times = st.lists(
    st.tuples(st.integers(0, 1), st.integers(0, 10_000)), min_size=1, max_size=30
)


@settings(**SETTINGS)
@given(events=event_times)
def test_sessionize_matches_naive_gap_scan(spark, events):
    gap = 600
    rows = [
        (i, k, BASE + timedelta(seconds=t), 1.0) for i, (k, t) in enumerate(events)
    ]
    df = spark.createDataFrame(rows, ["event_id", "user_id", "ts", "value"])
    got = {
        (r["user_id"], r["session_id"]): r["n_events"]
        for r in sessionize(df, gap_seconds=gap).collect()
    }

    expected: dict[tuple[int, int], int] = {}
    for key in {k for k, _ in events}:
        times = sorted(
            (t, i) for i, (k, t) in enumerate(events) if k == key
        )
        session = 0
        prev = None
        for t, _ in times:
            if prev is None or t - prev > gap:
                session += 1
                expected[(key, session)] = 0
            expected[(key, session)] += 1
            prev = t
    assert got == expected


# --- threshold sweep ----------------------------------------------------------

scored_rows = st.lists(
    st.tuples(st.integers(0, 20), st.integers(0, 1)), min_size=1, max_size=40
)


@settings(**SETTINGS)
@given(scored=scored_rows)
def test_threshold_sweep_matches_naive_confusion(spark, scored):
    n = 10
    # probs on the bucket grid INCLUDING exactly 1.0 (the outer-join path).
    rows = [(b / 20.0, lab) for b, lab in scored]
    df = spark.createDataFrame(rows, ["prob_positive", "label"])
    out = threshold_sweep(spark, df, n_points=n).collect()

    for r in out:
        # operator contract: bucket b holds probs in [b/n, (b+1)/n), so at
        # threshold (b+1)/n "positive" means prob >= threshold.
        thr = r["threshold"]
        tp = sum(1 for p, lab in rows if lab == 1 and p >= thr)
        fn = sum(1 for p, lab in rows if lab == 1 and p < thr)
        fp = sum(1 for p, lab in rows if lab == 0 and p >= thr)
        tn = sum(1 for p, lab in rows if lab == 0 and p < thr)
        assert (r["true_positive"], r["false_negative"], r["false_positive"],
                r["true_negative"]) == (tp, fn, fp, tn), f"threshold {thr}"


# --- connected components -----------------------------------------------------

edge_lists = st.lists(
    st.tuples(st.integers(0, 15), st.integers(0, 15)), min_size=1, max_size=30
)


@settings(**SETTINGS)
@given(edges=edge_lists)
def test_connected_components_matches_union_find(spark, edges):
    from accident_prediction_montreal_spark.operators.components import (
        connected_components,
    )

    parent: dict[int, int] = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    nodes = {n for e in edges for n in e if e[0] != e[1]}
    for n in nodes:
        parent[n] = n
    for a, b in edges:
        if a != b:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[ra] = rb
    expected = {}
    for n in nodes:
        root = find(n)
        expected.setdefault(root, []).append(n)
    want = sorted(
        (n, min(group)) for group in expected.values() for n in group
    )

    df = spark.createDataFrame(edges, ["src", "dst"])
    got = sorted(
        (r["node"], r["component"]) for r in connected_components(df).collect()
    )
    assert got == want


# --- sequence packing ---------------------------------------------------------

doc_sizes = st.lists(st.integers(0, 12), min_size=1, max_size=20)


@settings(**SETTINGS)
@given(sizes=doc_sizes)
def test_pack_sequences_matches_naive_cumsum(spark, sizes):
    from accident_prediction_montreal_spark.operators.packing import pack_sequences

    cap = 8
    rows = [(i, "s", " ".join("w" for _ in range(k)) if k else "") for i, k in enumerate(sizes)]
    df = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    got = {r["doc_id"]: (r["n_tokens"], r["seq_bin"]) for r in pack_sequences(df, capacity=cap).collect()}

    cum = 0
    for i, k in enumerate(sizes):
        assert got[i] == (k, cum // cap), f"doc {i}"
        cum += k


# --- chunking -----------------------------------------------------------------

texts = st.lists(st.integers(0, 30), min_size=1, max_size=10)


@settings(**SETTINGS)
@given(sizes=texts)
def test_chunk_documents_matches_naive(spark, sizes):
    from accident_prediction_montreal_spark.operators.text import chunk_documents

    size, stride = 8, 5
    rows = [(i, " ".join(f"w{j}" for j in range(k))) for i, k in enumerate(sizes)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r["doc_id"], r["chunk_id"]): (r["chunk_text"], r["n_tokens"])
        for r in chunk_documents(df, chunk_size=size, stride=stride).collect()
    }

    expected = {}
    for i, k in enumerate(sizes):
        toks = [f"w{j}" for j in range(k)]
        if not toks:
            continue
        n_extra = max(0, -(-(max(k - size, 0)) // stride))
        for c in range(n_extra + 1):
            window = toks[c * stride : c * stride + size]
            expected[(i, c)] = (" ".join(window), len(window))
    assert got == expected


# --- repetition signals -------------------------------------------------------

token_lists = st.lists(st.integers(0, 3), min_size=0, max_size=25)


@settings(**SETTINGS)
@given(toks=token_lists)
def test_repetition_signals_matches_counter(spark, toks):
    from collections import Counter

    from accident_prediction_montreal_spark.operators.text import repetition_signals

    df = spark.createDataFrame([(1, " ".join(f"t{x}" for x in toks))], ["doc_id", "text"])
    out = repetition_signals(df).collect()

    grams = [(toks[i], toks[i + 1]) for i in range(len(toks) - 1)]
    if not grams:
        assert out == []
        return
    c = Counter(grams)
    r = out[0]
    assert r["n_grams"] == len(grams)
    assert r["n_distinct"] == len(c)
    assert abs(r["dup_frac"] - round(1 - len(c) / len(grams), 6)) < 1e-9
    assert abs(r["top_frac"] - round(max(c.values()) / len(grams), 6)) < 1e-9


# --- decontamination (r5) ------------------------------------------------------

_WORDS = ["aa", "bb", "cc", "dd", "ee"]

corpus_texts = st.lists(
    st.lists(st.integers(0, 4), min_size=0, max_size=8).map(
        lambda ids: " ".join(_WORDS[i] for i in ids)
    ),
    min_size=1,
    max_size=8,
)


def _naive_trigrams(text: str) -> set[tuple[str, str, str]]:
    w = text.strip().lower().split()
    return {tuple(w[i : i + 3]) for i in range(len(w) - 2)}


@settings(**SETTINGS)
@given(train_texts=corpus_texts, eval_texts=corpus_texts)
def test_contamination_pairs_match_naive_intersection(spark, train_texts, eval_texts):
    from accident_prediction_montreal_spark.operators.decontam import (
        contamination_pairs,
    )

    train = spark.createDataFrame(
        [(i, t) for i, t in enumerate(train_texts)], ["doc_id", "text"]
    )
    eval_df = spark.createDataFrame(
        [(1000 + i, t) for i, t in enumerate(eval_texts)], ["doc_id", "text"]
    )
    got = {
        (r["train_id"], r["eval_id"]): r["n_shared"]
        for r in contamination_pairs(train, eval_df, min_shared=1).collect()
    }
    want = {}
    for i, t in enumerate(train_texts):
        for j, e in enumerate(eval_texts):
            n = len(_naive_trigrams(t) & _naive_trigrams(e))
            if n >= 1:
                want[(i, 1000 + j)] = n
    assert got == want


# --- temperature mixing (r5) ---------------------------------------------------

domain_sizes = st.lists(st.integers(1, 40), min_size=1, max_size=5)


@settings(**SETTINGS)
@given(sizes=domain_sizes)
def test_temperature_mix_rates_match_naive(spark, sizes):
    import math

    from accident_prediction_montreal_spark.operators.mixing import (
        temperature_mix_rates,
    )

    rows, doc_id = [], 0
    for d, n in enumerate(sizes):
        for _ in range(n):
            rows.append((doc_id, f"dom{d}"))
            doc_id += 1
    docs = spark.createDataFrame(rows, ["doc_id", "source"])
    got = {r["domain"]: r for r in temperature_mix_rates(docs, "source").collect()}

    total = float(sum(sizes))
    pw = [round(math.sqrt(n / total), 12) for n in sizes]
    denom = sum(pw)  # exact: each term has 12 decimals, sum of <=5 terms
    for d, n in enumerate(sizes):
        r = got[f"dom{d}"]
        assert r["n_docs"] == n
        assert r["p_share"] == pytest.approx(n / total, rel=1e-12)
        assert r["p_tau"] == pytest.approx(pw[d] / denom, rel=1e-9)
        expect_rate = min(1.0, 0.5 * total * (pw[d] / denom) / n)
        assert r["sample_rate"] == pytest.approx(expect_rate, rel=1e-9)


# --- bucketed range join ------------------------------------------------------

range_points = st.lists(st.integers(0, 7200), min_size=1, max_size=20)
range_intervals = st.lists(
    # (start offset sec, duration sec) — durations from instant to 3x
    # the 1800 s bucket, so the cell fan-out path with >2 cells runs.
    st.tuples(st.integers(0, 7200), st.integers(0, 5400)),
    min_size=0,
    max_size=15,
)


@settings(**SETTINGS)
@given(points=range_points, intervals=range_intervals)
def test_range_join_matches_naive(spark, points, intervals):
    """Bucketed point-in-interval join == naive BETWEEN theta join for
    any point/interval placement, including boundary landings and
    intervals longer than the bucket."""
    from accident_prediction_montreal_spark.operators.rangejoin import (
        point_in_interval_join,
        point_in_interval_join_naive,
    )

    pts = spark.createDataFrame(
        [(i, BASE + timedelta(seconds=s)) for i, s in enumerate(points)],
        "pid long, ts timestamp_ntz",
    )
    ivs = spark.createDataFrame(
        [
            (k, BASE + timedelta(seconds=s), BASE + timedelta(seconds=s + d))
            for k, (s, d) in enumerate(intervals)
        ],
        "wid long, start_ts timestamp_ntz, end_ts timestamp_ntz",
    )
    got = sorted(
        point_in_interval_join(pts, ivs, bucket_seconds=1800)
        .select("pid", "wid")
        .collect()
    )
    want = sorted(
        point_in_interval_join_naive(pts, ivs).select("pid", "wid").collect()
    )
    assert got == want


# --- repeated-span dedup stats ------------------------------------------------

span_corpora = st.lists(
    # tiny alphabet so 2-token spans repeat naturally across docs
    st.lists(st.sampled_from("abcd"), min_size=0, max_size=10),
    min_size=1,
    max_size=8,
)


@settings(**SETTINGS)
@given(corpus=span_corpora)
def test_repeated_span_stats_matches_bruteforce(spark, corpus):
    """repeated_span_stats == a pure-Python reimplementation for any
    small corpus: same span counting (global, including within-doc
    repeats), same position-cover union, same zero-token handling."""
    from accident_prediction_montreal_spark.operators.dedup import (
        repeated_span_stats,
    )

    K = 2
    docs = [(i, " ".join(toks)) for i, toks in enumerate(corpus)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_masked"])
        for r in repeated_span_stats(df, k=K, min_count=2).collect()
    }

    from collections import Counter

    spans = Counter()
    for _, toks in enumerate(corpus):
        for i in range(max(len(toks) - K + 1, 0)):
            spans[tuple(toks[i : i + K])] += 1
    want = {}
    for d, toks in enumerate(corpus):
        covered = set()
        for i in range(max(len(toks) - K + 1, 0)):
            if spans[tuple(toks[i : i + K])] >= 2:
                covered.update(range(i, i + K))
        want[d] = (len(toks), len(covered))
    assert got == want


# --- edit-distance-1 similarity join (r7) --------------------------------------

def _lev(a: str, b: str) -> int:
    dp = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        prev, dp[0] = dp[0], i
        for j, cb in enumerate(b, 1):
            prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb))
    return dp[-1]


titles = st.lists(st.text(alphabet="abc-", min_size=0, max_size=6), min_size=2, max_size=14)


@settings(**SETTINGS)
@given(ts=titles)
def test_editdist1_pairs_matches_bruteforce(spark, ts):
    from itertools import combinations

    from accident_prediction_montreal_spark.operators.dedup import editdist1_pairs

    rows = list(enumerate(ts))
    df = spark.createDataFrame(rows, "doc_id LONG, title STRING")
    got = sorted(tuple(r) for r in editdist1_pairs(df, "doc_id", "title").collect())
    want = sorted(
        (i, j, _lev(a, b))
        for (i, a), (j, b) in combinations(rows, 2)
        if _lev(a, b) <= 1
    )
    assert got == want


# --- interval coverage (r7) ------------------------------------------------------

intervals_strategy = st.lists(
    st.tuples(st.integers(0, 1), st.integers(0, 50), st.integers(1, 20)),
    min_size=1,
    max_size=20,
)


@settings(**SETTINGS)
@given(iv=intervals_strategy)
def test_interval_coverage_matches_sweep(spark, iv):
    from accident_prediction_montreal_spark.operators.timeseries import (
        interval_coverage,
    )

    rows = [
        (k, BASE + timedelta(minutes=s), BASE + timedelta(minutes=s + d))
        for k, s, d in iv
    ]
    df = spark.createDataFrame(rows, "user_id LONG, start_ts TIMESTAMP, end_ts TIMESTAMP")
    got = {r["user_id"]: (r["n_islands"], r["covered_us"]) for r in
           interval_coverage(df).collect()}
    # naive sweep per key over minute marks
    for k in {k for k, _, _ in iv}:
        marks = set()
        for kk, s, d in iv:
            if kk == k:
                marks.update(range(s, s + d))
        covered = len(marks) * 60 * 1_000_000
        # islands = maximal runs of consecutive covered minutes
        runs = 0
        prev = None
        for m in sorted(marks):
            if prev is None or m > prev + 1:
                runs += 1
            prev = m
        assert got[k] == (runs, covered), (k, got[k], runs, covered)


# --- PNG codec (r7) ---------------------------------------------------------------

pixels_strategy = st.tuples(
    st.integers(1, 9),
    st.integers(1, 9),
    st.randoms(use_true_random=False),
)


@settings(**SETTINGS)
@given(p=pixels_strategy)
def test_png_roundtrip_property(p):
    import numpy as np

    from accident_prediction_montreal_spark.operators.multimodal import (
        decode_png,
        encode_png_rgb8,
    )

    w, h, rnd = p
    px = np.array([rnd.randrange(256) for _ in range(w * h * 3)])
    feats = decode_png(encode_png_rgb8(px, w, h))
    arr = px.reshape(h, w, 3).astype(float)
    assert feats["width"] == w and feats["height"] == h
    assert feats["mean_g"] == pytest.approx(arr[:, :, 1].mean(), abs=1e-9)
    assert feats["top_row_mean"] == pytest.approx(arr[0].mean(), abs=1e-9)


# --- 2-D skyline (r7) -----------------------------------------------------------

points_strategy = st.lists(
    st.tuples(st.integers(0, 20), st.integers(0, 20)), min_size=1, max_size=40
)


@settings(**SETTINGS)
@given(pts=points_strategy)
def test_skyline_matches_bruteforce(spark, pts):
    from accident_prediction_montreal_spark.operators.skyline import skyline_2d

    rows = [(i, float(p), s) for i, (p, s) in enumerate(pts)]
    df = spark.createDataFrame(rows, "pid LONG, price DOUBLE, size INT").repartition(3)
    got = sorted(r["pid"] for r in skyline_2d(df, "price", "size").collect())
    want = sorted(
        i
        for i, p, s in rows
        if not any(
            (q <= p and t >= s and (q < p or t > s)) for _, q, t in rows
        )
    )
    assert got == want


# --- CDC: log compaction == sequential MERGE, order-independent (r7) ------------

cdc_events = st.lists(
    st.tuples(
        st.integers(0, 5),        # key
        st.integers(0, 30),       # version (minutes offset; may collide)
        st.integers(0, 999),      # change id (tie-break)
        st.booleans(),            # is delete
    ),
    min_size=1,
    max_size=30,
    unique_by=lambda t: (t[1], t[2]),  # (ts, cid) is a total order
)


@settings(**SETTINGS)
@given(evs=cdc_events, split=st.integers(1, 29), swap=st.booleans())
def test_cdc_log_merge_equals_sequential_apply(spark, evs, split, swap):
    from pyspark.sql import functions as F

    from accident_prediction_montreal_spark.operators.cdc import (
        cdc_apply,
        latest_change_per_key,
    )

    rows = [
        (k, float(k * 100 + v), BASE + timedelta(minutes=v), c, "D" if d else "U")
        for k, v, c, d in evs
    ]
    schema = "k LONG, val DOUBLE, ts TIMESTAMP, cid LONG, op STRING"
    batches = [
        [r for r in rows if r[2] < BASE + timedelta(minutes=split)],
        [r for r in rows if r[2] >= BASE + timedelta(minutes=split)],
    ]
    if swap:  # merge-on-read must not care which micro-batch landed first
        batches.reverse()

    # merge-on-read: compact the unordered union of the version log
    log = spark.createDataFrame(rows, schema)
    mor = latest_change_per_key(log, ["k"], ["ts", "cid"], ["val", "ts"])
    got = {
        r["k"]: r["val"] for r in mor.filter(F.col("op") != "D").collect()
    }

    # copy-on-write: apply batches sequentially in TIME order
    state = spark.createDataFrame([], "k LONG, val DOUBLE, ts TIMESTAMP")
    for b in sorted(batches, key=lambda b: min((r[2] for r in b), default=BASE)):
        if not b:
            continue
        state = cdc_apply(
            state,
            spark.createDataFrame(b, schema),
            ["k"], ["ts", "cid"], ["val", "ts"],
        ).select("k", "val", "ts")
    want = {r["k"]: r["val"] for r in state.collect()}
    assert got == want


# --- interval overlap join (r7) --------------------------------------------------

iv_pairs = st.tuples(
    st.lists(st.tuples(st.integers(0, 1), st.integers(0, 400), st.integers(1, 500)),
             min_size=0, max_size=12),
    st.lists(st.tuples(st.integers(0, 1), st.integers(0, 400), st.integers(1, 500)),
             min_size=0, max_size=12),
)


@settings(**SETTINGS)
@given(ab=iv_pairs)
def test_interval_overlap_join_matches_bruteforce(spark, ab):
    from accident_prediction_montreal_spark.operators.rangejoin import (
        interval_overlap_join,
    )

    am, bm = ab
    a_rows = [(k, BASE + timedelta(minutes=s), BASE + timedelta(minutes=s + d))
              for k, s, d in am]
    b_rows = [(k, BASE + timedelta(minutes=s), BASE + timedelta(minutes=s + d))
              for k, s, d in bm]
    a = spark.createDataFrame(a_rows or [], "k LONG, a_start TIMESTAMP, a_end TIMESTAMP")
    b = spark.createDataFrame(b_rows or [], "k LONG, b_start TIMESTAMP, b_end TIMESTAMP")
    got = sorted(
        (r["k"], r["a_start"], r["b_start"])
        for r in interval_overlap_join(a, b, keys=["k"], bucket_seconds=3600).collect()
    )
    want = sorted(
        (ka, sa, sb)
        for ka, sa, ea in a_rows
        for kb, sb, eb in b_rows
        if ka == kb and sa < eb and sb < ea
    )
    assert got == want


# --- PPJoin exact Jaccard threshold join (r7 wave 5) ---------------------------

pp_corpus = st.lists(
    st.lists(st.sampled_from(["a", "b", "c", "d", "e"]), min_size=0, max_size=12),
    min_size=2,
    max_size=10,
)


@settings(**SETTINGS)
@given(corpus=pp_corpus, t=st.sampled_from([0.3, 0.5, 0.8]))
def test_ppjoin_matches_bruteforce(spark, corpus, t):
    """ppjoin_pairs == brute-force pairwise Jaccard over word-3-gram
    shingle SETS, for every threshold: the prefix filter must not drop
    a single qualifying pair (that is its theorem), the length filter
    must not over-prune, and the verification must be exact."""
    from accident_prediction_montreal_spark.operators.dedup import ppjoin_pairs

    N = 3
    docs = [(i, " ".join(toks)) for i, toks in enumerate(corpus)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
        for r in ppjoin_pairs(df, n=N, min_jaccard=t).collect()
    }

    def shingles(toks):
        return {tuple(toks[i : i + N]) for i in range(len(toks) - N + 1)}

    want = {}
    for i in range(len(corpus)):
        for j in range(i + 1, len(corpus)):
            sa, sb = shingles(corpus[i]), shingles(corpus[j])
            if not sa or not sb:
                continue
            inter = len(sa & sb)
            jac = inter / (len(sa) + len(sb) - inter)
            if jac >= t:
                want[(i, j)] = round(jac, 9)
    assert got == want


# --- bounded-frame rolling median (r7 wave 6) ----------------------------------

rm_rows = st.lists(
    st.tuples(st.integers(0, 2), st.integers(0, 50)), min_size=1, max_size=30
)


@settings(**SETTINGS)
@given(rows=rm_rows)
def test_rolling_median_matches_naive(spark, rows):
    """The collect_list+array_sort interpolated median == a per-row
    Python median over the same 5-row trailing frame, including the
    even-count interpolation and the short head frames."""
    data = [
        (i, k, float(v), BASE + timedelta(minutes=i)) for i, (k, v) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        data, "event_id long, user_id long, value double, ts timestamp"
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-4, 0)
    arr = F.array_sort(F.collect_list("value").over(w))
    n = F.size(arr)
    med = F.when(n % 2 == 1, F.element_at(arr, ((n + 1) / 2).cast("int"))).otherwise(
        (F.element_at(arr, (n / 2).cast("int")) + F.element_at(arr, (n / 2 + 1).cast("int")))
        / 2
    )
    got = {
        r["event_id"]: r["m"]
        for r in df.select("event_id", med.alias("m")).collect()
    }

    bykey: dict[int, list[tuple[int, float]]] = {}
    for i, (k, v) in enumerate(rows):
        bykey.setdefault(k, []).append((i, float(v)))
    want = {}
    for seq in bykey.values():
        for j in range(len(seq)):
            frame = sorted(v for _, v in seq[max(0, j - 4) : j + 1])
            n_ = len(frame)
            want[seq[j][0]] = (
                frame[n_ // 2]
                if n_ % 2 == 1
                else (frame[n_ // 2 - 1] + frame[n_ // 2]) / 2
            )
    assert got == pytest.approx(want)


# --- semantic decontamination: bucketed == broadcast (exact mode) -----------

# With n_probe = n_cells every cell is probed, so the IVF path must
# EQUAL the broadcast-matmul path for ANY input — no fixture assumption
# (at n_probe < n_cells only the self-hit guarantee is contractual).
emb_train = st.lists(
    st.lists(
        st.integers(-5, 5).map(float), min_size=3, max_size=3
    ),
    min_size=1,
    max_size=20,
)
emb_eval = st.lists(
    st.lists(
        st.integers(-5, 5).map(float), min_size=3, max_size=3
    ),
    min_size=1,
    max_size=12,
)


@settings(**SETTINGS)
@given(train_vecs=emb_train, eval_vecs=emb_eval)
def test_semantic_bucketed_exact_mode_equals_broadcast(
    spark, train_vecs, eval_vecs
):
    from accident_prediction_montreal_spark.operators.decontam import (
        semantic_contamination,
    )

    train = spark.createDataFrame(
        [(i, v) for i, v in enumerate(train_vecs)], ["train_id", "embedding"]
    )
    eval_df = spark.createDataFrame(
        [(100 + i, v) for i, v in enumerate(eval_vecs)],
        ["eval_id", "embedding"],
    )
    # Low threshold so random integer vectors actually produce matches.
    thr = 0.5

    def canon(df):
        return {
            (r.train_id, r.eval_id, round(r.cosine, 9)) for r in df.collect()
        }

    ref = canon(
        semantic_contamination(train, eval_df, threshold=thr, strategy="broadcast")
    )
    n_cells = min(4, len(eval_vecs))
    got = canon(
        semantic_contamination(
            train,
            eval_df,
            threshold=thr,
            strategy="bucketed",
            n_cells=n_cells,
            n_probe=n_cells,  # exact mode: every cell probed
            max_iter=3,
        )
    )
    assert got == ref


# --- corpus diff: matches a naive dict diff ----------------------------------

# Values include None: a doc whose text flips NULL<->non-NULL must be
# 'changed' (null-safe digest compare), and NULL->NULL 'unchanged' —
# Python's `!=` in the naive model has exactly those semantics.
_corpus_text = st.one_of(
    st.none(), st.integers(0, 3).map(lambda i: f"text variant {i}")
)
corpus_a = st.dictionaries(st.integers(0, 15), _corpus_text, max_size=12)
corpus_b = st.dictionaries(st.integers(0, 15), _corpus_text, max_size=12)


@settings(**SETTINGS)
@given(a=corpus_a, b=corpus_b)
def test_corpus_diff_matches_naive(spark, a, b):
    from accident_prediction_montreal_spark.operators.text import corpus_diff

    schema = "doc_id LONG, text STRING"
    da = spark.createDataFrame(list(a.items()), schema)
    db = spark.createDataFrame(list(b.items()), schema)
    got = {(r.doc_id, r.status) for r in corpus_diff(da, db).collect()}
    want = set()
    for k in set(a) | set(b):
        if k not in a:
            want.add((k, "added"))
        elif k not in b:
            want.add((k, "removed"))
        elif a[k] != b[k]:
            want.add((k, "changed"))
        else:
            want.add((k, "unchanged"))
    assert got == want


# --- quota skew lever: pre-truncated window == plain window ------------------

# Arbitrary (doc_id, source) corpora over few sources (so groups exceed
# K) and several partition layouts: the map-side local-top-K combiner
# must leave the final kept set IDENTICAL to the plain full-corpus
# window — the lever is a pure superset reduction, never a semantics
# change.
quota_corpus = st.lists(
    st.tuples(st.integers(0, 500), st.integers(0, 3)),
    min_size=0,
    max_size=60,
    unique_by=lambda t: t[0],
)


@settings(**SETTINGS)
@given(corpus=quota_corpus, k=st.integers(1, 5), nparts=st.integers(1, 7))
def test_local_topk_pretruncate_preserves_window_topk(spark, corpus, k, nparts):
    from pyspark.sql import Window

    from accident_prediction_montreal_spark.operators.mixing import (
        lcg_uniform,
        local_topk_pretruncate,
    )

    if not corpus:
        return
    rows = [(doc_id, f"s{s}") for doc_id, s in corpus]
    df = (
        spark.createDataFrame(rows, "doc_id LONG, source STRING")
        .repartition(nparts)
        .withColumn("__ord", lcg_uniform(F.col("doc_id"), salt=7))
    )
    w = Window.partitionBy("source").orderBy("__ord", "doc_id")

    def kept(frame):
        return {
            (r.source, r.doc_id, r.rnk)
            for r in frame.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= k)
            .collect()
        }

    plain = kept(df)
    pruned = local_topk_pretruncate(df, "source", ["__ord", "doc_id"], k)
    assert kept(pruned) == plain
    # ... and the pre-truncation is a genuine reduction bound:
    # <= nparts * n_sources * k rows survive the combiner.
    n_sources = len({s for _, s in corpus})
    assert pruned.count() <= nparts * n_sources * k


def test_local_topk_pretruncate_keeps_null_key_group(spark):
    # pandas groupby drops null keys by default (dropna=True); the
    # combiner must keep the null-key group — it's a group like any
    # other under the superset contract, and Spark's window ranks it.
    from pyspark.sql import Window

    from accident_prediction_montreal_spark.operators.mixing import (
        lcg_uniform,
        local_topk_pretruncate,
    )

    rows = [(i, None if i % 2 == 0 else "s") for i in range(40)]
    df = (
        spark.createDataFrame(rows, "doc_id LONG, source STRING")
        .repartition(3)
        .withColumn("__ord", lcg_uniform(F.col("doc_id"), salt=7))
    )
    w = Window.partitionBy("source").orderBy("__ord", "doc_id")

    def kept(frame, k):
        return {
            (r.source, r.doc_id)
            for r in frame.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= k)
            .collect()
        }

    k = 4
    pruned = local_topk_pretruncate(df, "source", ["__ord", "doc_id"], k)
    got = kept(pruned, k)
    assert got == kept(df, k)
    assert sum(1 for s, _ in got if s is None) == k  # null group survives


def test_should_pretruncate_gate():
    from accident_prediction_montreal_spark.operators.mixing import (
        should_pretruncate,
    )

    # bench-scale corpora skip (below the absolute floor) ...
    assert not should_pretruncate(5_000, 4, 64, 40)  # sf0.1 documents
    assert not should_pretruncate(50_000, 8, 64, 40)  # sf1 documents
    # ... the skew-stress shape engages (4M rows, 32 parts, ~64 keys) ...
    assert should_pretruncate(4_000_000, 32, 10, 40)
    assert should_pretruncate(100_000_000, 200, 64, 40)
    # ... and a huge key space or partition count de-engages even past
    # the floor: the local-top-k union would approach the input.
    assert not should_pretruncate(2_000_000, 2000, 64, 40)
    assert not should_pretruncate(2_000_000, 32, 100_000, 40)


# --- streaming digest fold: split- and order-invariance -----------------------

# Events: (doc_id in small range, rev 1-4, text variant or None).
digest_events = st.lists(
    st.tuples(
        st.integers(0, 6),
        st.integers(1, 4),
        st.one_of(st.none(), st.integers(0, 2).map(lambda i: f"v{i}")),
    ),
    min_size=0,
    max_size=24,
)


def _run_fold(batches):
    from accident_prediction_montreal_spark.plans.curation import (
        _fold_digest_revisions,
    )

    st_rev, st_dig = {}, {}
    emitted = []
    for batch in batches:
        ids = [e[0] for e in batch]
        revs = [e[1] for e in batch]
        texts = [e[2] for e in batch]
        out = _fold_digest_revisions(st_rev, st_dig, ids, revs, texts)
        emitted.extend(zip(*out))
    return emitted, dict(st_rev), dict(st_dig)


@settings(**SETTINGS)
@given(events=digest_events, cut=st.integers(0, 24), seed=st.integers(0, 9))
def test_digest_fold_split_and_order_invariance(events, cut, seed):
    # Dedup (doc, rev) pairs: a rev is a snapshot, one row per doc.
    seen = {}
    for d, r, t in events:
        seen[(d, r)] = t
    rows = sorted((r, d, t) for (d, r), t in seen.items())
    ordered = [(d, r, t) for r, d, t in rows]

    # (a) ANY rev-ordered split into two batches emits exactly what the
    # single-batch delivery emits.
    one, state_rev_1, state_dig_1 = _run_fold([ordered])
    k = min(cut, len(ordered))
    two, state_rev_2, _ = _run_fold([ordered[:k], ordered[k:]])
    assert one == two
    assert state_rev_1 == state_rev_2

    # (b) ANY arrival order converges to the same FINAL STATE (stale
    # revisions drop; emissions may differ and that is the documented
    # graceful degradation).
    import random

    shuffled = ordered[:]
    random.Random(seed).shuffle(shuffled)
    # one event per batch: the most adversarial batching
    _, state_rev_3, state_dig_3 = _run_fold([[e] for e in shuffled])
    assert state_rev_3 == state_rev_1
    assert state_dig_3 == state_dig_1
