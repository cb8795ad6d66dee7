"""Deterministic sampling / split / packing operators: the properties
that make them trustworthy in a training pipeline — reproducibility
across partitionings, split stability under corpus growth, and exact
packing semantics."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from stock_price_prediction_using_stream_and_batch_processing_spark.operators import sampling

from .conftest import SF_MED


def _docs(spark, n=400):
    return spark.range(n).select(F.col("id").alias("doc_id"), (F.col("id") % 7 + 1).alias("w"))


def test_hash_sample_deterministic_across_partitionings(spark):
    d = _docs(spark)
    a = sorted(r.doc_id for r in sampling.hash_sample(d, "doc_id", 10).collect())
    b = sorted(
        r.doc_id for r in sampling.hash_sample(d.repartition(13), "doc_id", 10).collect()
    )
    assert a == b and 0 < len(a) < 400


def test_hash_sample_rate_and_salt_independence(spark):
    d = _docs(spark, 2000)
    base = {r.doc_id for r in sampling.hash_sample(d, "doc_id", 20).collect()}
    assert abs(len(base) / 2000 - 0.20) < 0.05  # ~20%, hash-uniform
    other = {r.doc_id for r in sampling.hash_sample(d, "doc_id", 20, salt="v2").collect()}
    assert other != base  # a new salt is a fresh draw
    overlap = len(base & other) / len(base)
    assert 0.05 < overlap < 0.5  # independent 20% draws overlap ~20%


def test_split_stable_under_corpus_growth(spark):
    """THE eval-hygiene property: rows keep their split when the corpus
    doubles — a subset's assignment equals the full corpus's."""
    small = sampling.train_val_test_split(_docs(spark, 200), "doc_id")
    big = sampling.train_val_test_split(_docs(spark, 400), "doc_id")
    a = {r.doc_id: r.split for r in small.collect()}
    b = {r.doc_id: r.split for r in big.collect()}
    assert all(b[k] == v for k, v in a.items())
    counts = {s: 0 for s in ("train", "val", "test")}
    for s in b.values():
        counts[s] += 1
    assert counts["train"] > counts["val"] and counts["train"] > counts["test"]


def test_pack_greedy_exact_semantics(spark):
    """Within every shard (docs in id order) each doc's bin is
    floor(prev_cumulative_tokens / capacity) — recomputed independently
    in plain Python."""
    cap = 50
    packed = sampling.pack_greedy(_docs(spark, 300), "doc_id", "w", capacity=cap, n_shards=4)
    rows = packed.select("doc_id", "shard", "bin_in_shard", "w").collect()
    by_shard: dict[int, list] = {}
    for r in rows:
        by_shard.setdefault(r.shard, []).append(r)
    assert len(by_shard) == 4
    for shard_rows in by_shard.values():
        cum = 0
        for r in sorted(shard_rows, key=lambda r: r.doc_id):
            assert r.bin_in_shard == math.floor(cum / cap), r
            cum += r.w
    assert len(rows) == 300  # every doc packed exactly once


def test_pack_greedy_plan_has_no_global_sort(spark):
    """The scale property: running sums are per-shard windows — the
    plan must hash-partition by shard, never range-partition globally."""
    packed = sampling.pack_greedy(_docs(spark, 300), "doc_id", "w", capacity=50, n_shards=4)
    plan = packed._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" not in plan.lower()
    assert "hashpartitioning" in plan.lower()


def test_sample_filter_reaches_scan(spark):
    """hash_sample is a pure filter: no shuffle in the plan."""
    from stock_price_prediction_using_stream_and_batch_processing_spark.sources.tables import (
        load_table,
    )

    d = load_table(spark, SF_MED, "documents")
    plan = (
        sampling.hash_sample(d, "doc_id", 5)
        .select("doc_id")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan


def test_stratified_rates_and_determinism(spark):
    d = spark.range(3000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 3 == 0, "en").when(F.col("id") % 3 == 1, "zh").otherwise("xx").alias("lang"),
    )
    out = sampling.stratified_hash_sample(d, "doc_id", "lang", {"en": 20, "zh": 80})
    rows = out.collect()
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r.lang, set()).add(r.doc_id)
    assert abs(len(by_lang["en"]) / 1000 - 0.20) < 0.06
    assert abs(len(by_lang["zh"]) / 1000 - 0.80) < 0.06
    assert "xx" not in by_lang  # default_pct=0 drops unlisted strata
    again = {r.doc_id for r in sampling.stratified_hash_sample(
        d.repartition(7), "doc_id", "lang", {"en": 20, "zh": 80}).collect()}
    assert again == {r.doc_id for r in rows}


def test_redact_pii_planted(spark):
    from stock_price_prediction_using_stream_and_batch_processing_spark.operators import textops

    d = spark.createDataFrame(
        [
            (1, "contact bob.smith+x@corp.example.com or 555-123-4567 now"),
            (2, "server at 10.0.255.3 responded; also 192.168.1.1 backup"),
            (3, "no pii here at all"),
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in textops.redact_pii(d).collect()}
    assert out[1].text_redacted == "contact [EMAIL] or [PHONE] now"
    assert out[1].n_email == 1 and out[1].n_phone == 1 and out[1].n_ipv4 == 0
    assert out[2].text_redacted == "server at [IPV4] responded; also [IPV4] backup"
    assert out[2].n_ipv4 == 2
    assert out[3].text_redacted == "no pii here at all"
    assert out[3].n_email == out[3].n_phone == out[3].n_ipv4 == 0


def test_repetition_features_planted(spark):
    from stock_price_prediction_using_stream_and_batch_processing_spark.operators import textops

    d = spark.createDataFrame(
        [
            (1, "spam spam spam spam"),          # fully degenerate
            (2, "all words here are unique"),    # zero repetition
            (3, "ab ab cd ab ab cd"),            # mixed: 2 distinct of 6; bigrams 5, distinct 3
            (4, ""),                             # empty -> all zeros
            (5, "one"),                          # single token -> bigram frac 0
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in textops.repetition_features(d).collect()}
    assert out[1].dup_token_frac == 0.75 and out[1].top_token_frac == 1.0
    assert out[1].dup_bigram_frac == round(1 - 1 / 3, 6)
    assert out[2].dup_token_frac == 0.0 and out[2].top_token_frac == 0.2
    assert out[2].dup_bigram_frac == 0.0
    assert out[3].dup_token_frac == round(1 - 2 / 6, 6)
    assert out[3].top_token_frac == round(4 / 6, 6)
    assert out[3].dup_bigram_frac == round(1 - 3 / 5, 6)
    assert out[4].dup_token_frac == out[4].top_token_frac == out[4].dup_bigram_frac == 0.0
    assert out[5].dup_bigram_frac == 0.0 and out[5].top_token_frac == 1.0


def test_chunk_documents_overlap_and_coverage(spark):
    from stock_price_prediction_using_stream_and_batch_processing_spark.operators import textops

    words = [f"w{i}" for i in range(150)]
    d = spark.createDataFrame(
        [(1, " ".join(words)), (2, " ".join(words[:10])), (3, "")],
        ["doc_id", "text"],
    )
    out = textops.chunk_documents(d, chunk_tokens=64, overlap=16)
    rows = sorted(out.collect(), key=lambda r: (r.doc_id, r.chunk_id))
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    # doc 1: 150 tokens, stride 48 -> starts 0,48,96,144 -> 4 chunks
    c1 = by_doc[1]
    assert [r.chunk_id for r in c1] == [0, 1, 2, 3]
    assert [r.n_chunk_tokens for r in c1] == [64, 64, 54, 6]
    # consecutive chunks share exactly the 16-token overlap
    t0, t1 = c1[0].chunk_text.split(" "), c1[1].chunk_text.split(" ")
    assert t0[-16:] == t1[:16]
    # concatenating stride-sized prefixes reconstructs the doc exactly
    recon = []
    for r in c1:
        recon.extend(r.chunk_text.split(" ")[:48])
    assert recon[:150] == words and len(recon) <= 150 + 16
    # short doc: one chunk holding everything; empty doc: no chunks
    assert len(by_doc[2]) == 1 and by_doc[2][0].n_chunk_tokens == 10
    assert 3 not in by_doc
    # shuffle-free: no Exchange anywhere in the plan
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    with __import__("pytest").raises(ValueError):
        textops.chunk_documents(d, chunk_tokens=16, overlap=16)


# --- weighted_hash_sample ---


def test_weighted_sample_deterministic_and_capped(spark):
    df = spark.createDataFrame(
        [(i, "s" if i % 2 else "t", float(1 + i % 7)) for i in range(400)],
        ["id", "stratum", "w"],
    )
    a = sampling.weighted_hash_sample(df, "id", "w", m=20, strata_col="stratum")
    b = sampling.weighted_hash_sample(df.repartition(7), "id", "w", m=20, strata_col="stratum")
    ra = sorted((r["stratum"], r["id"], r["sample_rank"]) for r in a.collect())
    rb = sorted((r["stratum"], r["id"], r["sample_rank"]) for r in b.collect())
    assert ra == rb  # partitioning-independent
    per = {}
    for s, _, rk in ra:
        per.setdefault(s, []).append(rk)
    assert set(per) == {"s", "t"}
    for ranks in per.values():
        assert sorted(ranks) == list(range(1, 21))


def test_weighted_sample_excludes_nonpositive_weights(spark):
    df = spark.createDataFrame(
        [(1, 0.0), (2, -3.0), (3, None), (4, 2.0), (5, 1.0)],
        ["id", "w"],
    )
    out = sampling.weighted_hash_sample(df, "id", "w", m=10)
    assert sorted(r["id"] for r in out.collect()) == [4, 5]


def test_weighted_sample_weight_bias(spark):
    # A-ES property check: one row with overwhelming weight is all but
    # guaranteed a top rank; with 1000 draws of weight 1 vs one row of
    # weight 1e6, the heavy row must be sampled into the top 10.
    rows = [(i, 1.0) for i in range(1000)] + [(9999, 1e6)]
    df = spark.createDataFrame(rows, ["id", "w"])
    out = sampling.weighted_hash_sample(df, "id", "w", m=10)
    assert 9999 in {r["id"] for r in out.collect()}


def test_weighted_sample_salt_redraws(spark):
    df = spark.createDataFrame([(i, 1.0) for i in range(500)], ["id", "w"])
    a = {r["id"] for r in sampling.weighted_hash_sample(df, "id", "w", m=50, salt="a").collect()}
    b = {r["id"] for r in sampling.weighted_hash_sample(df, "id", "w", m=50, salt="b").collect()}
    assert a != b  # independent draw
    assert len(a) == len(b) == 50
