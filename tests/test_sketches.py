"""Misra-Gries heavy-hitter sketch: classic error bounds, asserted
against exact counts, including under partition-merge."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from etl_challenge_localiza_spark.operators.sketches import misra_gries_topk


def _skewed(spark, n=20000, seed=3, parts=8):
    rng = random.Random(seed)
    # zipf-ish: a few hot items + long tail
    rows = []
    for _ in range(n):
        r = rng.random()
        if r < 0.30:
            rows.append("hot0")
        elif r < 0.45:
            rows.append("hot1")
        elif r < 0.55:
            rows.append("hot2")
        else:
            rows.append(f"tail{rng.randrange(5000)}")
    return spark.createDataFrame([(v,) for v in rows], "item string").repartition(parts)


def test_mg_bounds_vs_exact(spark):
    k = 16
    df = _skewed(spark)
    n = df.count()
    exact = {r["item"]: r["c"] for r in df.groupBy("item").agg(F.count("*").alias("c")).collect()}
    sketch = {r["item"]: r["est_count"] for r in misra_gries_topk(df, "item", k).collect()}
    assert 0 < len(sketch) <= k
    slack = n / (k + 1)
    for item, est in sketch.items():
        true = exact[item]
        assert est <= true, (item, est, true)  # never overcounts
        assert est >= true - slack, (item, est, true, slack)  # bounded undercount
    # completeness: every item above the guarantee threshold is present
    for item, true in exact.items():
        if true > slack:
            assert item in sketch, (item, true, slack)


def test_mg_merge_consistency_across_partitionings(spark):
    """The same data sketched at 1 partition and at 16 partitions must
    both satisfy the bound — the merge step neither double-counts nor
    loses guaranteed hitters."""
    k = 8
    base = _skewed(spark, n=8000, parts=1)
    n = base.count()
    slack = n / (k + 1)
    exact = {r["item"]: r["c"] for r in base.groupBy("item").agg(F.count("*").alias("c")).collect()}
    for parts in (1, 16):
        sk = {
            r["item"]: r["est_count"]
            for r in misra_gries_topk(base.repartition(parts), "item", k).collect()
        }
        assert 0 < len(sk) <= k
        for item, est in sk.items():
            assert est <= exact[item]
            assert est >= exact[item] - slack
        for item, true in exact.items():
            if true > slack:
                assert item in sk, (parts, item, true, slack)


def test_mg_few_distinct_items_exact(spark):
    """Fewer distinct items than k → the sketch IS the exact counts."""
    df = spark.createDataFrame(
        [("a",)] * 5 + [("b",)] * 3 + [("c",)] * 1, "item string"
    ).repartition(4)
    sk = {r["item"]: r["est_count"] for r in misra_gries_topk(df, "item", 16).collect()}
    assert sk == {"a": 5, "b": 3, "c": 1}


def test_count_min_report_matches_pure_python_reference(spark):
    """The Spark CMS must equal a from-scratch Python CMS built with
    the same md5 buckets — estimate floor (>= exact), merge law
    (merged == whole), and every estimate value."""
    import hashlib
    from collections import Counter

    from etl_challenge_localiza_spark.operators.sketches import count_min_report

    rows = [(i, w) for i, w in enumerate(
        ["a", "b", "a", "c", "a", "b", "d", "e", "f", "a", "g", "h"] * 5
    )]
    df = spark.createDataFrame(rows, "doc_id int, item string")
    depth, width = 4, 8  # narrow → collisions guaranteed
    got = {
        r["item"]: (r["exact_n"], r["cms_est"], r["cms_est_merged"])
        for r in count_min_report(df, "item", "doc_id", depth=depth, width=width).collect()
    }

    exact = Counter(w for _, w in rows)
    cells = [[0] * width for _ in range(depth)]
    for w, n in exact.items():
        for i in range(depth):
            b = int(hashlib.md5(f"{i}:{w}".encode()).hexdigest()[:15], 16) % width
            cells[i][b] += n
    for w, n in exact.items():
        est = min(
            cells[i][int(hashlib.md5(f"{i}:{w}".encode()).hexdigest()[:15], 16) % width]
            for i in range(depth)
        )
        assert got[w] == (n, est, est), w
        assert est >= n
    # with 8 items in 8 buckets × md5 spreading, at least one collision
    # must over-count somewhere (otherwise the test is vacuous)
    assert any(got[w][1] > got[w][0] for w in exact)


def test_bloom_membership_no_false_negatives(spark):
    """Every present item must be in the filter (THE Bloom guarantee),
    and a pure-Python replica of the bit positions must agree on
    every probe — including any false positives."""
    import hashlib

    from etl_challenge_localiza_spark.operators.sketches import bloom_membership_report

    vocab = [f"w{i}" for i in range(40)]
    rows = [(w,) for w in vocab for _ in range(2)]
    df = spark.createDataFrame(rows, "item string")
    probes = vocab[:5] + ["absent_one", "absent_two", "absent_three"]
    got = {
        r["item"]: (r["in_filter"], r["actually_present"])
        for r in bloom_membership_report(df, "item", probes, n_bits=64, k=4).collect()
    }

    def bits(w):
        return {
            int(hashlib.md5(f"{i}:{w}".encode()).hexdigest()[:15], 16) % 64
            for i in range(4)
        }

    set_bits = set().union(*[bits(w) for w in vocab])
    for p in probes:
        expect_in = bits(p) <= set_bits
        assert got[p] == (expect_in, p in vocab), p
    # no false negatives, ever
    assert all(got[p][0] for p in vocab[:5])


def test_cms_merge_check_is_not_vacuous(spark, monkeypatch):
    """ADVICE r9: the old cms_est_merged derived both columns from ONE
    shared cell pass, so the merge-law equality was an arithmetic
    identity that could never fail. The rebuilt check goes through the
    public cms_cells + merge_cms_cells path on independent halves —
    prove it by breaking the merge (dropping one half) and watching
    the equality fail, then confirming the real merge passes."""
    from pyspark.sql import functions as F

    from etl_challenge_localiza_spark.operators import sketches

    df = spark.createDataFrame(
        [(f"tok{i % 7}", i) for i in range(40)], ["item", "half"]
    )

    ok = sketches.count_min_report(df, "item", "half", depth=2, width=8).collect()
    assert all(r["cms_est_merged"] == r["cms_est"] for r in ok)
    assert all(r["cms_est"] >= r["exact_n"] for r in ok)

    real_merge = sketches.merge_cms_cells

    def broken_merge(a, b):  # lose half 1 entirely
        return real_merge(a, b.filter(F.lit(False)))

    monkeypatch.setattr(sketches, "merge_cms_cells", broken_merge)
    bad = sketches.count_min_report(df, "item", "half", depth=2, width=8).collect()
    assert any(r["cms_est_merged"] != r["cms_est"] for r in bad), (
        "a broken merge passed the merge-law check — the check is vacuous"
    )


def test_cms_join_size_never_underestimates_and_exact_when_wide(spark):
    """CMS inner-product join-size estimate: >= exact always (every
    collision adds non-negative cross terms); == exact when the hash
    space is wide enough that no bucket collides."""
    from etl_challenge_localiza_spark.operators.sketches import (
        cms_join_size_estimate,
    )

    a = spark.createDataFrame([(i % 7,) for i in range(100)], ["k"])
    b = spark.createDataFrame([(i % 5,) for i in range(60)], ["k"])
    # exact: keys 0..4 shared; fa = ceil-ish counts
    fa = {k: sum(1 for i in range(100) if i % 7 == k) for k in range(7)}
    fb = {k: sum(1 for i in range(60) if i % 5 == k) for k in range(5)}
    exact = sum(fa[k] * fb[k] for k in range(5))
    narrow = cms_join_size_estimate(a, b, "k", depth=4, width=2).first()
    assert narrow["exact_size"] == exact
    assert narrow["cms_estimate"] >= exact
    wide = cms_join_size_estimate(a, b, "k", depth=4, width=4096).first()
    assert wide["cms_estimate"] == exact and wide["rel_err"] == 0.0


def test_mg_rescored_topk_exact_and_guarded(spark):
    """mg_rescored_topk == the plain exact top-k when the MG guarantee
    covers the requested ranks, and REFUSES (ValueError) when it
    cannot (k too small for a flat distribution)."""
    import pytest as _pytest

    from etl_challenge_localiza_spark.operators.sketches import (
        mg_rescored_topk,
    )

    rows = [(f"tok{i % 10}",) for i in range(1000)] + [("rare",)]
    df = spark.createDataFrame(rows, ["w"])
    got = [(r["token"], r["n"]) for r in mg_rescored_topk(df, "w", topk=5, k=64).collect()]
    assert got == [("tok0", 100), ("tok1", 100), ("tok2", 100), ("tok3", 100), ("tok4", 100)]

    flat = spark.createDataFrame([(f"t{i}",) for i in range(500)], ["w"])
    with _pytest.raises(ValueError, match="raise k"):
        mg_rescored_topk(flat, "w", topk=5, k=8)


def test_mg_rescored_topk_auto_escalates(spark, caplog):
    """VERDICT r11 #6: when the certificate fails at the initial k the
    operator retries with doubled k (bounded) instead of refusing —
    here k=8 cannot certify (kth=100, 100*9 <= 1000) but the first
    doubling k=16 can (100*17 > 1000), and the escalated answer equals
    the exact top-k. The certificate itself is unchanged: a corpus no
    doubling can certify still raises (test above). The escalation is
    reported once through the module's logger."""
    import logging

    from etl_challenge_localiza_spark.operators.sketches import (
        mg_rescored_topk,
    )

    caplog.set_level(logging.WARNING, logger="etl_challenge_localiza_spark")
    rows = [(f"tok{i % 10}",) for i in range(1000)]
    df = spark.createDataFrame(rows, ["w"])
    got = [
        (r["token"], r["n"])
        for r in mg_rescored_topk(df, "w", topk=5, k=8).collect()
    ]
    assert got == [(f"tok{i}", 100) for i in range(5)]
    msgs = [
        r.getMessage()
        for r in caplog.records
        if r.name == "etl_challenge_localiza_spark.operators.sketches"
    ]
    assert len(msgs) == 1
    assert msgs[0].startswith("mg_rescored_topk: certificate failed (k=8, N=1000")
    assert msgs[0].endswith("escalating to k=16")


# --- round 14: quantile sketch family ---


def test_hdr_hand_buckets(spark):
    """Bucket map pinned by hand at b=2 (top 3 significant bits):
    237 = 0b11101101 -> e=7, s=5, blo=224; 6 -> itself (e<b);
    1000 = 0b1111101000 -> e=9, s=7, blo=896."""
    from etl_challenge_localiza_spark.operators.sketches import hdr_cells

    df = spark.createDataFrame([(237,), (238,), (6,), (1000,)], "v long")
    cells = {r["blo"]: r["cell_n"] for r in hdr_cells(df, "v", 2).collect()}
    assert cells == {224: 2, 6: 1, 896: 1}


def test_hdr_merge_law_exact_under_any_slicing(spark):
    """merge(hdr(A), hdr(B), hdr(C)) == hdr(A+B+C) cell-for-cell, in
    either merge order — the CMS-cells property for the quantile
    member (value-binned, so the law is exact not approximate)."""
    import random

    from etl_challenge_localiza_spark.operators.sketches import (
        hdr_cells,
        merge_hdr_cells,
    )

    rng = random.Random(14)
    vals = [rng.randrange(1, 10_000_000) for _ in range(3000)]
    df = spark.createDataFrame([(v, i) for i, v in enumerate(vals)], "v long, i long")
    whole = sorted(map(tuple, hdr_cells(df, "v", 7).collect()))
    slices = [df.filter(F.col("i") % 3 == j) for j in range(3)]
    cs = [hdr_cells(s, "v", 7) for s in slices]
    m1 = merge_hdr_cells(merge_hdr_cells(cs[0], cs[1]), cs[2])
    m2 = merge_hdr_cells(cs[2], merge_hdr_cells(cs[1], cs[0]))
    assert sorted(map(tuple, m1.collect())) == whole
    assert sorted(map(tuple, m2.collect())) == whole


def test_hdr_report_guarantee_on_testdata(spark, sf0001):
    """The registry lane's defining bound: 0 <= rel_err < 2^-7 on the
    real table, est <= exact (lower-bound estimator), and the merged
    half-sketch answer equals the whole-corpus answer exactly."""
    from etl_challenge_localiza_spark.registry import QUERIES

    rows = QUERIES["hdr_quantile_sketch"].fn(spark, sf0001).collect()
    assert len(rows) == 6
    for r in rows:
        assert r["est_cents"] <= r["exact_cents"]
        assert r["est_merged_cents"] == r["est_cents"]
        assert 0.0 <= r["rel_err"] < 1.0 / 128


def test_kll_certificate_on_testdata(spark, sf0001):
    """|true_rank - target_rank| <= bound on the real table, weights
    conserved (n column == row count)."""
    from etl_challenge_localiza_spark.registry import QUERIES

    rows = QUERIES["kll_quantile_ranks"].fn(spark, sf0001).collect()
    assert len(rows) == 6
    for r in rows:
        assert r["abs_rank_err"] <= r["bound"], dict(r.asDict())
        assert r["n"] == 1500


def test_kll_certificate_adversarial_orders(spark):
    """The compaction-counter certificate holds regardless of input
    order or partitioning: sorted, reverse-sorted, constant, and a
    tiny k forcing many compactions."""
    from etl_challenge_localiza_spark.operators.sketches import kll_quantile_sketch

    probes = [(1, 100), (1, 2), (99, 100)]
    n = 8000
    cases = [
        list(range(1, n + 1)),           # sorted
        list(range(n, 0, -1)),           # reverse
        [42] * n,                         # constant
    ]
    for vals in cases:
        df = spark.createDataFrame([(v,) for v in vals], "v long").repartition(4)
        for k in (8, 64):
            rows = kll_quantile_sketch(df, "v", probes, k=k).collect()
            assert len(rows) == 3
            for r in rows:
                assert r["n"] == n
                assert r["abs_rank_err"] <= r["bound"], (k, dict(r.asDict()))


def test_kll_exact_when_uncompacted(spark):
    """A corpus smaller than one buffer is never compacted: bound ==
    W_est - 1 == 0 (distinct values), and every estimate is the exact
    order statistic."""
    from etl_challenge_localiza_spark.operators.sketches import kll_quantile_sketch

    vals = sorted([7, 1, 9, 3, 5, 11, 2, 8, 6, 4])
    df = spark.createDataFrame([(v,) for v in [7, 1, 9, 3, 5, 11, 2, 8, 6, 4]], "v long").coalesce(1)
    rows = kll_quantile_sketch(df, "v", [(1, 2), (9, 10)], k=256).collect()
    for r in rows:
        assert r["bound"] == 0
        assert r["abs_rank_err"] == 0
        assert r["est"] == vals[r["target_rank"] - 1]


def test_streaming_hdr_matches_batch_sketch_and_slicing(spark, sf0001):
    """The streamed sketch's probe answers equal the batch
    hdr_quantile_sketch estimates (same cells — exact merge law), and
    are identical under different micro-batch slicings."""
    from etl_challenge_localiza_spark.registry import QUERIES
    from etl_challenge_localiza_spark.streaming.upsert import run_streaming_hdr_refresh

    batch = {
        r["q"]: r["est_cents"]
        for r in QUERIES["hdr_quantile_sketch"].fn(spark, sf0001).collect()
    }
    got2 = sorted(map(tuple, run_streaming_hdr_refresh(spark, sf0001, n_input_files=2).collect()))
    got5 = sorted(map(tuple, run_streaming_hdr_refresh(spark, sf0001, n_input_files=5).collect()))
    assert got2 == got5
    stream = {q: est for q, _, est in got2}
    assert stream == batch


def test_kmv_exact_branch_when_ndv_below_k(spark):
    """NDV < k → the sketch holds every key: estimates equal the exact
    distinct counts bit-for-bit and every rel_err is 0.0."""
    from etl_challenge_localiza_spark.operators.sketches import kmv_setops_report

    rows = [(i % 50, i % 2 == 0) for i in range(400)]
    df = spark.createDataFrame(rows, "key long, a boolean")
    r = kmv_setops_report(df, "key", F.col("a"), k=64).collect()[0]
    assert r["exact_union"] == 50 and r["sketch_union_size"] == 50
    assert r["est_a"] == float(r["exact_a"])
    assert r["est_b"] == float(r["exact_b"])
    assert r["est_union"] == 50.0
    assert r["est_intersect"] == float(r["exact_intersect"])
    assert r["rel_err_a"] == r["rel_err_b"] == r["rel_err_union"] == 0.0


def test_kmv_merge_law_merged_equals_direct_bottomk(spark):
    """The report's union sketch is built by MERGING the two k-row
    side sketches; it must equal the direct bottom-k over all keys
    (kth hash, size, and in-sketch intersection count) — the exact
    merge law the oracle proves cross-engine, checked here in-engine
    on a domain where NDV >> k."""
    from etl_challenge_localiza_spark.operators.sketches import (
        kmv_bottomk,
        kmv_setops_report,
    )

    rows = [(i, i % 3 != 0) for i in range(5000)]
    df = spark.createDataFrame(rows, "key long, a boolean")
    r = kmv_setops_report(df, "key", F.col("a"), k=128).collect()[0]
    direct = kmv_bottomk(df, "key", k=128).collect()
    assert r["sketch_union_size"] == 128 == len(direct)
    assert r["kth_hash_union"] == max(d["h"] for d in direct)
    # exact set-op fields: sides are i%3!=0 (A) vs i%3==0 (B), disjoint
    assert r["exact_a"] == sum(1 for i in range(5000) if i % 3 != 0)
    assert r["exact_b"] == sum(1 for i in range(5000) if i % 3 == 0)
    assert r["exact_union"] == 5000 and r["exact_intersect"] == 0
    assert r["inter_in_sketch"] == 0 and r["est_intersect"] == 0.0


def test_kmv_estimator_and_jaccard_within_bounds(spark):
    """KMV DV̂ stderr ≈ DV/√(k−2) (~8.9% at k=128); assert the realized
    errors on an overlapping two-side domain stay within ~4.5σ, and
    the union-sample Jaccard estimate lands near the exact Jaccard."""
    from etl_challenge_localiza_spark.operators.sketches import kmv_setops_report

    # A = [0, 4000), B = [2000, 6000): exact jaccard = 2000/6000
    rows = [(i, i < 4000) for i in range(6000) if i < 4000 or i >= 2000]
    rows += [(i, False) for i in range(2000, 4000)]  # B-membership rows
    df = spark.createDataFrame(rows, "key long, a boolean")
    r = kmv_setops_report(df, "key", F.col("a"), k=128).collect()[0]
    assert r["exact_a"] == 4000 and r["exact_b"] == 4000
    assert r["exact_union"] == 6000 and r["exact_intersect"] == 2000
    for e in ("rel_err_a", "rel_err_b", "rel_err_union"):
        assert r[e] < 0.4, (e, r[e])
    assert abs(r["jaccard_est"] - r["jaccard_exact"]) < 0.25
    assert r["est_intersect"] > 0


def test_streaming_kmv_matches_batch_and_slicing(spark, sf0001):
    """The streamed KMV state equals the direct whole-table bottom-k
    (exact merge law under foreachBatch folding), and the report is
    identical under different micro-batch slicings."""
    from etl_challenge_localiza_spark.operators.sketches import kmv_bottomk
    from etl_challenge_localiza_spark.sources.readers import load_table
    from etl_challenge_localiza_spark.streaming.upsert import (
        run_streaming_kmv_refresh,
    )

    got2 = run_streaming_kmv_refresh(spark, sf0001, n_input_files=2).collect()
    got5 = run_streaming_kmv_refresh(spark, sf0001, n_input_files=5).collect()
    assert sorted(map(tuple, got2)) == sorted(map(tuple, got5))
    r = got2[0]
    direct = kmv_bottomk(
        load_table(spark, sf0001, "orders"), "o_orderkey", 256
    ).collect()
    assert r["sketch_size"] == len(direct)
    assert r["kth_hash"] == max(d["h"] for d in direct)
    assert r["exact_dv"] >= r["sketch_size"]
