"""Property-based tests (hypothesis): operator compositions must equal
their naive reference implementations on arbitrary small inputs — the
cases hand-written fixtures miss (ties, empty groups, single rows,
boundary timestamps).

Strategy sizes are kept small (Spark job per example); deadline=None
because JVM scheduling jitter breaks hypothesis' default timing.
"""

from __future__ import annotations

import datetime as dt

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from stock_price_prediction_using_stream_and_batch_processing_spark.operators import dedup, joins, skew, windows

BASE_TS = dt.datetime(2024, 1, 1)

# (key, ts_offset_seconds, value) rows; ts offsets may collide across keys
ROWS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),
        st.integers(min_value=0, max_value=5000),
        st.floats(min_value=-100, max_value=100, allow_nan=False, width=32),
    ),
    min_size=0,
    max_size=25,
)

PROP = settings(
    max_examples=12, deadline=None, suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture]
)


def _df(spark, rows, dedup_ts=True):
    # unique (key, ts) per key keeps window order deterministic
    seen, out = set(), []
    for k, off, v in rows:
        if dedup_ts and (k, off) in seen:
            continue
        seen.add((k, off))
        out.append((k, BASE_TS + dt.timedelta(seconds=off), float(v)))
    return out, spark.createDataFrame(out or [(0, BASE_TS, 0.0)][:0], "k long, ts timestamp, v double")


@PROP
@given(rows=ROWS)
def test_trailing_mean_equals_python(spark, rows):
    data, df = _df(spark, rows)
    got = {
        (r.k, r.ts): r.m
        for r in windows.trailing_mean(df, "k", "ts", "v", 3, out="m").collect()
    }
    by_key: dict = {}
    for k, ts, v in sorted(data):
        by_key.setdefault(k, []).append((ts, v))
    for k, series in by_key.items():
        for i, (ts, _) in enumerate(series):
            window = [v for _, v in series[max(0, i - 2) : i + 1]]
            assert got[(k, ts)] == pytest.approx(sum(window) / len(window), rel=1e-9)


@PROP
@given(rows=ROWS)
def test_sessionize_equals_python(spark, rows):
    data, df = _df(spark, rows)
    got = {(r.k, r.ts): r.session_id for r in windows.sessionize(df, "k", "ts", gap_minutes=10.0).collect()}
    by_key: dict = {}
    for k, ts, v in sorted(data):
        by_key.setdefault(k, []).append(ts)
    for k, series in by_key.items():
        sid = 0
        prev = None
        for ts in series:
            if prev is None or (ts - prev).total_seconds() > 600:
                sid += 1
            assert got[(k, ts)] == sid
            prev = ts


@PROP
@given(rows=ROWS)
def test_interval_join_equals_theta_join(spark, rows):
    data, df = _df(spark, rows)
    iv = df.select(
        F.col("k").alias("iv_k"),
        F.col("ts").alias("start"),
        (F.col("ts") + F.expr("INTERVAL 20 MINUTES")).alias("end"),
    )
    got = {
        (r.k, r.ts, r.iv_k, r.start)
        for r in joins.interval_join(df, iv, "ts", "start", "end", bucket_seconds=1200).collect()
    }
    want = set()
    for k, ts, _ in data:
        for ik, its, _ in data:
            if its <= ts < its + dt.timedelta(minutes=20):
                want.add((k, ts, ik, its))
    assert got == want


@PROP
@given(rows=ROWS, n_salts=st.integers(min_value=1, max_value=5))
def test_salted_agg_equals_direct_property(spark, rows, n_salts):
    data, df = _df(spark, rows, dedup_ts=False)
    df = df.withColumn("uid", F.monotonically_increasing_id())
    got = {
        r.k: (r.sum_value, r.n_rows)
        for r in skew.salted_sum_count(df, ["k"], "v", "uid", n_salts=n_salts).collect()
    }
    want: dict = {}
    for k, _, v in data:
        s, c = want.get(k, (0.0, 0))
        want[k] = (s + v, c + 1)
    assert set(got) == set(want)
    for k, (s, c) in want.items():
        assert got[k][1] == c and got[k][0] == pytest.approx(s, rel=1e-9, abs=1e-9)


@PROP
@given(
    pairs=st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)).filter(lambda p: p[0] != p[1]),
        min_size=0,
        max_size=15,
    )
)
def test_dedup_clusters_equals_union_find(spark, pairs):
    norm = sorted({(min(a, b), max(a, b)) for a, b in pairs})
    if not norm:
        return
    df = spark.createDataFrame(norm, "id_a long, id_b long")
    got = {r.doc_id: r.cluster_id for r in dedup.dedup_clusters(df).collect()}
    # union-find reference
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in norm:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {n: find(n) for n in parent}
    assert got == want


TEXT_ROWS = st.lists(
    st.lists(st.sampled_from(["aa", "bb", "cc", "dd", "ee"]), min_size=0, max_size=30),
    min_size=0,
    max_size=8,
)


@PROP
@given(docs=TEXT_ROWS, chunk=st.integers(min_value=2, max_value=6), overlap=st.integers(min_value=0, max_value=4))
def test_chunk_documents_equals_python(spark, docs, chunk, overlap):
    from stock_price_prediction_using_stream_and_batch_processing_spark.operators import textops

    if overlap >= chunk:
        overlap = chunk - 1
    stride = chunk - overlap
    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows or [(0, "")][:0], "doc_id long, text string")
    got = {
        (r.doc_id, r.chunk_id): (r.chunk_text, r.n_chunk_tokens)
        for r in textops.chunk_documents(df, chunk_tokens=chunk, overlap=overlap).collect()
    }
    want = {}
    for i, toks in enumerate(docs):
        for ci, s in enumerate(range(0, len(toks), stride)):
            piece = toks[s : s + chunk]
            want[(i, ci)] = (" ".join(piece), len(piece))
    assert got == want


@PROP
@given(docs=TEXT_ROWS)
def test_repetition_features_equals_python(spark, docs):
    from collections import Counter

    from stock_price_prediction_using_stream_and_batch_processing_spark.operators import textops

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows or [(0, "")][:0], "doc_id long, text string")
    got = {
        r.doc_id: (r.dup_token_frac, r.top_token_frac, r.dup_bigram_frac)
        for r in textops.repetition_features(df).collect()
    }
    for i, toks in enumerate(docs):
        n = len(toks)
        c = Counter(toks)
        dup = round(1.0 - len(c) / n, 6) if n else 0.0
        top = round(max(c.values()) / n, 6) if n else 0.0
        if n >= 2:
            bigrams = [f"{toks[j]} {toks[j+1]}" for j in range(n - 1)]
            dbg = round(1.0 - len(set(bigrams)) / (n - 1), 6)
        else:
            dbg = 0.0
        assert got[i] == (dup, top, dbg), f"doc {i}: {got[i]} != {(dup, top, dbg)}"


# --- round-4 additions: sequences, ordering, mixing, binning, layout ---

EVENT_ROWS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),    # user
        st.integers(min_value=0, max_value=50),   # ts offset (collisions allowed)
        st.integers(min_value=0, max_value=2),    # step index
    ),
    min_size=0,
    max_size=30,
)


@PROP
@given(rows=EVENT_ROWS)
def test_ordered_funnel_equals_python(spark, rows):
    from stock_price_prediction_using_stream_and_batch_processing_spark.operators import sequences

    steps = ["s0", "s1", "s2"]
    data = [
        (u, BASE_TS + dt.timedelta(seconds=off), i, steps[sidx])
        for i, (u, off, sidx) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        data or [(0, BASE_TS, 0, "s0")][:0],
        "user_id long, ts timestamp, event_id long, event_type string",
    )
    got = sequences.ordered_funnel(df, "user_id", "ts", "event_type", steps, tiebreak="event_id").collect()[0]

    # reference: scan each user's (ts, event_id)-ordered stream with
    # stage flags; step k counts if it occurs strictly after a row that
    # completed steps 0..k-1.
    by_user: dict = {}
    for u, ts, eid, typ in data:
        by_user.setdefault(u, []).append((ts, eid, typ))
    done = [set(), set(), set()]
    for u, evs in by_user.items():
        seen = [False, False, False]
        for _, _, typ in sorted(evs):
            k = steps.index(typ)
            prev_ok = True if k == 0 else seen[k - 1]
            if prev_ok:
                done[k].add(u)
                # flag becomes visible only to LATER rows (strictness)
                seen[k] = True if k == 0 or seen[k - 1] else seen[k]
    # NOTE on strictness: a row at the same sort position can't qualify
    # itself; sorted() order above matches the (ts, event_id) tiebreak,
    # and flags are set as rows pass, so "strictly earlier" holds.
    assert (got["n_step_1"], got["n_step_2"], got["n_step_3"]) == (
        len(done[0]), len(done[1]), len(done[2])
    )


@PROP
@given(rows=EVENT_ROWS)
def test_transition_matrix_equals_python(spark, rows):
    from stock_price_prediction_using_stream_and_batch_processing_spark.operators import sequences

    types = ["a", "b", "c"]
    data = [
        (u, BASE_TS + dt.timedelta(seconds=off), i, types[sidx])
        for i, (u, off, sidx) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        data or [(0, BASE_TS, 0, "a")][:0],
        "user_id long, ts timestamp, event_id long, event_type string",
    )
    got = {
        (r["src"], r["dst"]): r["n"]
        for r in sequences.transition_matrix(df, "user_id", "ts", "event_type", tiebreak="event_id").collect()
    }
    by_user: dict = {}
    for u, ts, eid, typ in data:
        by_user.setdefault(u, []).append((ts, eid, typ))
    want: dict = {}
    for evs in by_user.values():
        s = sorted(evs)
        for (_, _, t1), (_, _, t2) in zip(s, s[1:]):
            want[(t1, t2)] = want.get((t1, t2), 0) + 1
    assert got == want


@PROP
@given(
    rows=st.lists(st.tuples(st.integers(0, 2), st.integers(0, 10_000)), min_size=1, max_size=40, unique_by=lambda r: r[1]),
    targets=st.lists(st.floats(0.1, 5.0, allow_nan=False), min_size=3, max_size=3),
)
def test_mixture_resample_equals_python(spark, rows, targets):
    import hashlib

    from stock_price_prediction_using_stream_and_batch_processing_spark.operators import sampling

    groups = ["g0", "g1", "g2"]
    data = [(groups[g], i) for g, i in rows]
    df = spark.createDataFrame(data, "g string, id long")
    tmap = dict(zip(groups, targets))
    got = {r["id"] for r in sampling.mixture_resample(df, "g", "id", tmap, resolution=1000).collect()}

    import math
    counts: dict = {}
    for g, _ in data:
        counts[g] = counts.get(g, 0) + 1
    ratios = {g: tmap[g] / n for g, n in counts.items()}
    mx = max(ratios.values())
    thr = {g: math.floor(1000.0 * r / mx) for g, r in ratios.items()}

    def bucket(i):
        h = hashlib.md5(str(i).encode()).hexdigest()
        return int(h[:8], 16) % 1000

    want = {i for g, i in data if bucket(i) < thr[g]}
    assert got == want


@PROP
@given(scores=st.lists(st.integers(0, 1000), min_size=1, max_size=40))
def test_percentile_bins_order_consistent(spark, scores):
    from stock_price_prediction_using_stream_and_batch_processing_spark.operators import quality

    df = spark.createDataFrame([(i, float(s)) for i, s in enumerate(scores)], "id long, s double")
    rows = quality.percentile_bins(df, "s", out="b").collect()
    assert all(1 <= r["b"] <= 10 for r in rows)
    # binning must be monotone in the score
    by_score = sorted((r["s"], r["b"]) for r in rows)
    for (s1, b1), (s2, b2) in zip(by_score, by_score[1:]):
        assert b1 <= b2
        if s1 == s2:
            assert b1 == b2


@PROP
@given(pts=st.lists(st.tuples(st.integers(0, 65535), st.integers(0, 65535)), min_size=1, max_size=30))
def test_interleave_bits_roundtrip(spark, pts):
    from stock_price_prediction_using_stream_and_batch_processing_spark.operators import layout

    df = spark.createDataFrame(pts, "a long, b long")
    out = df.withColumn("z", layout.interleave_bits([F.col("a"), F.col("b")], 16)).collect()
    for r in out:
        a = sum(((r["z"] >> (2 * i)) & 1) << i for i in range(16))
        b = sum(((r["z"] >> (2 * i + 1)) & 1) << i for i in range(16))
        assert (a, b) == (r["a"], r["b"])


@PROP
@given(rows=ROWS)
def test_interval_history_reconstructs_observations(spark, rows):
    """Collapsing runs then expanding intervals must reproduce every
    observation's attribute: for each (k, ts) observation, exactly one
    interval [valid_from, valid_to) contains it and carries its value."""
    from stock_price_prediction_using_stream_and_batch_processing_spark.operators import sequences

    data, df = _df(spark, rows)
    if not data:
        return
    # derive a small categorical attribute from the value
    obs = [(k, ts, "s%d" % (int(v) % 3)) for k, ts, v in data]
    sdf = spark.createDataFrame(obs, "k long, ts timestamp, status string")
    hist = sequences.interval_history(sdf, "k", "ts", "status").collect()
    by_key = {}
    for r in hist:
        by_key.setdefault(r["k"], []).append(r)
    for k, ts, status in obs:
        matches = [
            r
            for r in by_key[k]
            if r["valid_from"] <= ts and (r["valid_to"] is None or ts < r["valid_to"])
        ]
        assert len(matches) == 1, (k, ts, matches)
        assert matches[0]["status"] == status
    # runs alternate: consecutive intervals never share a status
    for k, rs in by_key.items():
        rs = sorted(rs, key=lambda r: r["valid_from"])
        for a, b in zip(rs, rs[1:]):
            assert a["status"] != b["status"]
            assert a["valid_to"] == b["valid_from"]
        assert rs[-1]["is_current"] and rs[-1]["valid_to"] is None


@PROP
@given(rows=ROWS)
def test_gapfill_locf_matches_python_reference(spark, rows):
    from stock_price_prediction_using_stream_and_batch_processing_spark.operators import windows as W

    data, df = _df(spark, rows)
    if not data:
        return
    out = W.gapfill_locf(df, "k", "ts", "v", bucket_seconds=600)
    got = {
        (r["k"], r["bucket"]): (r["value_filled"], r["gap_filled"])
        for r in out.collect()
    }
    # python reference: bucket means, dense range, carry forward
    import collections
    agg = collections.defaultdict(list)
    for k, ts, v in data:
        agg[(k, int(ts.timestamp() // 600))].append(v)
    means = {kb: sum(vs) / len(vs) for kb, vs in agg.items()}
    exp = {}
    for k in {kb[0] for kb in means}:
        bks = sorted(b for kk, b in means if kk == k)
        last = None
        for b in range(bks[0], bks[-1] + 1):
            if (k, b) in means:
                last = means[(k, b)]
                exp[(k, b)] = (last, False)
            else:
                exp[(k, b)] = (last, True)
    assert set(got) == set(exp)
    for kb in exp:
        ev, eg = exp[kb]
        gv, gg = got[kb]
        assert gg == eg, kb
        assert gv == pytest.approx(ev, abs=1e-9), kb


TOKS4 = st.lists(st.sampled_from(["aa", "bb", "cc", "dd"]), min_size=0, max_size=8)
DOC_TEXTS = st.lists(TOKS4, min_size=1, max_size=10)


def _py_shingles(text):
    # Mirrors functions/text.word_shingles(n=3) exactly: non-empty docs
    # yield max(L-2, 1) shingles (short docs -> ONE short shingle, no
    # trailing partial); empty docs yield the empty set.
    toks = [t for t in text.split() if t]
    return {" ".join(toks[i : i + 3]) for i in range(max(len(toks) - 2, 1) if toks else 0)}


@PROP
@given(texts=DOC_TEXTS)
def test_leakage_safe_split_invariants(spark, texts):
    """(1) row-preserving; (2) cluster_id = component min id (always
    <= doc_id, equal for singletons); (3) NO cluster straddles the
    split; (4) any 2-member cluster is a directly-verified pair, so its
    true 3-gram Jaccard really is >= 0.8 (verification is exact even
    though candidate generation is probabilistic)."""
    rows = [(i, " ".join(ts)) for i, ts in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = dedup.leakage_safe_split(df, "text", "doc_id", eval_pct=30).collect()
    assert len(out) == len(rows)
    by_cluster: dict = {}
    for r in out:
        assert r.cluster_id <= r.doc_id
        by_cluster.setdefault(r.cluster_id, []).append(r)
    for cid, members in by_cluster.items():
        assert len({m.split for m in members}) == 1, f"cluster {cid} straddles"
        if len(members) == 2:
            a, b = (texts[m.doc_id] for m in members)
            sa, sb = _py_shingles(" ".join(a)), _py_shingles(" ".join(b))
            union = sa | sb
            j = (len(sa & sb) / len(union)) if union else 1.0
            assert j >= 0.8 - 1e-9, f"2-cluster with true jaccard {j}"


def test_gapfill_chunked_grid_wide_span(spark):
    """A sparse key spanning several grid chunks must produce the full
    dense grid (no single giant sequence array; chunk boundaries must
    not drop or duplicate buckets)."""
    span = windows._GRID_CHUNK * 3 + 17
    df = spark.createDataFrame(
        [("k", 30.0, 1.0), ("k", float(span * 60 + 30), 9.0)], ["k", "sec", "v"]
    ).select("k", F.timestamp_seconds("sec").alias("ts"), "v")
    out = windows.gapfill_locf(df, "k", "ts", "v", bucket_seconds=60)
    n = out.count()
    assert n == span + 1
    agg = out.agg(
        F.sum(F.col("gap_filled").cast("int")).alias("gaps"),
        F.countDistinct("bucket").alias("nb"),
        F.min("bucket").alias("b0"),
        F.max("bucket").alias("b1"),
    ).collect()[0]
    assert agg["gaps"] == span - 1 and agg["nb"] == n
    assert agg["b1"] - agg["b0"] == span


# --- gapfill_locf and rolling_corr on hand-computed inputs ---


def test_gapfill_locf_fills_and_flags(spark):
    from stock_price_prediction_using_stream_and_batch_processing_spark.operators import windows as W

    # key "a": observations in buckets 0 and 3 (60s buckets); buckets
    # 1-2 must be synthesized, carrying bucket 0's mean.
    df = spark.createDataFrame(
        [("a", 10.0, 2.0), ("a", 20.0, 4.0), ("a", 190.0, 9.0), ("b", 70.0, 1.0)],
        ["k", "sec", "v"],
    ).select("k", F.timestamp_seconds("sec").alias("ts"), "v")
    out = W.gapfill_locf(df, "k", "ts", "v", bucket_seconds=60)
    rows = {(r["k"], r["bucket"]): (r["value_filled"], r["gap_filled"]) for r in out.collect()}
    assert rows == {
        ("a", 0): (3.0, False),
        ("a", 1): (3.0, True),
        ("a", 2): (3.0, True),
        ("a", 3): (9.0, False),
        ("b", 1): (1.0, False),
    }


def test_rolling_corr_matches_statistics(spark):
    import statistics

    from stock_price_prediction_using_stream_and_batch_processing_spark.operators import windows as W

    xs = [1.0, 3.0, 2.0, 7.0, 5.0, 4.0]
    ys = [2.0, 5.0, 4.0, 9.0, 9.0, 7.0]
    df = spark.createDataFrame(
        [("k", i, xs[i], ys[i]) for i in range(6)], ["k", "t", "x", "y"]
    )
    out = W.rolling_corr(df, "k", "t", "x", "y", n=3)
    got = {r["t"]: r["rolling_corr"] for r in out.collect()}
    assert got[0] is None  # single-row frame
    for t in range(2, 6):
        exp = statistics.correlation(xs[t - 2 : t + 1], ys[t - 2 : t + 1])
        assert got[t] == pytest.approx(exp, abs=1e-12), t


def test_rolling_corr_degenerate_null_not_error(spark):
    from stock_price_prediction_using_stream_and_batch_processing_spark.operators import windows as W

    # constant x: zero variance in every frame -> NULL everywhere, and
    # under ANSI mode the job must not raise DIVIDE_BY_ZERO.
    df = spark.createDataFrame([("k", i, 5.0, float(i)) for i in range(4)], ["k", "t", "x", "y"])
    out = W.rolling_corr(df, "k", "t", "x", "y", n=3).collect()
    assert all(r["rolling_corr"] is None for r in out)
