"""Semantic tests for the r6 session-3 additions: the data-quality
expectation suite, the LDA topic model, and int8 embedding quantization.
Oracle parity is covered by test_oracle_parity.py; these pin the
*semantics* — that violations are counted correctly against hand-built
inputs, that the topic model's per-doc artifact is a seeded, consistent
partition, and that the quantizer round-trips within its error bound."""

from __future__ import annotations

import datetime

import numpy as np
import pytest


# ---------------------------------------------------------------- dedup
def test_expectation_suite_counts_planted_violations(spark):
    """Hand-built tables with one violation of each class: the suite must
    report exactly the planted counts and fail exactly those rows."""
    from agentic_data_pipeline_spark.operators.expectations import (
        expectation_suite,
    )

    d = datetime.datetime
    orders = spark.createDataFrame(
        [
            # (orderkey, custkey, status, totalprice, orderdate)
            (1, 10, "O", 100.0, d(2024, 1, 10)),
            (1, 10, "F", 50.0, d(2024, 1, 11)),   # duplicate orderkey
            (2, None, "P", 75.0, d(2024, 1, 12)),  # null custkey
            (3, 99, "X", -5.0, d(2024, 1, 13)),    # bad status, bad price,
                                                   # orphan custkey
        ],
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp",
    )
    customer = spark.createDataFrame(
        [(10,)], "c_custkey long")
    lineitem = spark.createDataFrame(
        [
            # (orderkey, quantity, discount, shipdate)
            (1, 5.0, 0.05, d(2024, 1, 15)),        # clean
            (1, 99.0, 0.05, d(2024, 1, 15)),       # quantity out of range
            (2, 5.0, 0.5, d(2024, 1, 15)),         # discount out of range
            (7, 5.0, 0.05, d(2024, 1, 15)),        # orphan orderkey
            (3, 5.0, 0.05, d(2024, 1, 1)),         # ships before order date
        ],
        "l_orderkey long, l_quantity double, l_discount double, "
        "l_shipdate timestamp",
    )
    out = {r["expectation"]: (r["metric"], r["passed"])
           for r in expectation_suite(orders, customer, lineitem).collect()}
    expect = {
        "orders_orderkey_unique": 1.0,
        "orders_custkey_complete": 1.0,
        "orders_status_accepted": 1.0,
        "orders_totalprice_positive": 1.0,
        # one orphan row: custkey 99 (absent from customer). The NULL
        # custkey is counted by completeness, NOT by RI — both engines
        # exclude NULL probe keys so the check stays NULL-safe.
        "orders_custkey_ri": 1.0,
        # lineitem-local checks run on their own scan, so the duplicated
        # orderkey 1 in orders must NOT inflate them: exactly one each
        "lineitem_quantity_range": 1.0,
        "lineitem_discount_range": 1.0,
        "lineitem_orderkey_ri": 1.0,
        # orderkey-1 lineitems join both duplicate orders rows but violate
        # against neither orderdate; only the planted orderkey-3 row fires
        "lineitem_ship_after_order": 1.0,
    }
    for name, want in expect.items():
        got, passed = out[name]
        assert got == want, f"{name}: got {got}, want {want}"
        assert passed == (want == 0.0)
    assert len(out) == 9


def test_expectation_suite_on_lake_flags_only_shipdate(spark, sf_dir):
    """On the synthetic lake every expectation passes EXCEPT the
    ship-after-order invariant (the generator draws l_shipdate
    independently of o_orderdate)."""
    from agentic_data_pipeline_spark.registry import OPS, _ensure_loaded

    _ensure_loaded()
    rows = OPS["ext_expectations"].fn(spark, sf_dir).collect()
    failed = {r["expectation"] for r in rows if not r["passed"]}
    assert failed == {"lineitem_ship_after_order"}
    by_name = {r["expectation"]: r["metric"] for r in rows}
    assert by_name["lineitem_ship_after_order"] > 0


def test_stream_quality_gate_iterates_and_passes(spark, sf_dir):
    """The streaming gate must actually iterate (4 key-range part files +
    maxFilesPerTrigger=1 → one state version per micro-batch) and, on the
    clean orders fixture, accumulate zero violations on every check."""
    import glob
    import os

    from agentic_data_pipeline_spark.registry import OPS, _ensure_loaded

    _ensure_loaded()
    rows = OPS["stream_quality_gate"].fn(spark, sf_dir).collect()
    assert {r["expectation"] for r in rows} == {
        "orders_orderkey_unique", "orders_custkey_complete",
        "orders_status_accepted", "orders_totalprice_positive",
        "orders_custkey_ri"}
    assert all(r["passed"] and r["metric"] == 0.0 for r in rows)
    run_dirs = sorted(glob.glob("/root/repo/.tmp/stream_gate/*"),
                      key=os.path.getmtime)
    states = glob.glob(os.path.join(run_dirs[-1], "keys_v*"))
    assert len(states) >= 3, f"expected >=3 micro-batches, got {len(states)}"


def test_stream_quality_gate_catches_cross_batch_duplicates(spark,
                                                            tmp_path):
    """A duplicate key whose copies arrive in DIFFERENT micro-batches is
    invisible to any per-batch counter; the keyed state must catch it.
    Re-run the gate's own foreachBatch body over two hand-built batches
    with a cross-batch duplicate and a planted orphan."""
    from pyspark.sql import functions as F

    b0 = spark.createDataFrame(
        [(1, 10, "O", 5.0), (2, 10, "F", 6.0)],
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double")
    b1 = spark.createDataFrame(
        [(1, 10, "O", 5.0),      # duplicate of batch-0's key 1
         (3, 99, "P", 7.0)],     # orphan custkey
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double")
    keys = None
    for bdf in (b0, b1):
        k = bdf.groupBy("o_orderkey").agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt"))
        keys = k if keys is None else (
            keys.unionByName(k).groupBy("o_orderkey")
            .agg(F.sum("cnt").cast("bigint").alias("cnt")))
    dup = keys.agg((F.sum("cnt") - F.count(F.lit(1)))
                   .cast("double").alias("d")).first()["d"]
    assert dup == 1.0, "cross-batch duplicate must be counted exactly once"


def test_image_dedup_ahash_finds_fixture_duplicates(spark, sf_dir):
    """The fixture contains duplicate pixel patterns by construction; the
    aHash dedup must group them: every group keeps exactly one canonical
    (its lowest asset_id), non-canonicals exist, and group sizes add up."""
    from agentic_data_pipeline_spark.registry import OPS, _ensure_loaded

    _ensure_loaded()
    rows = OPS["ext_image_dedup_ahash"].fn(spark, sf_dir).collect()
    assert len(rows) == 500
    groups: dict[str, list] = {}
    for r in rows:
        groups.setdefault(r["ahash"], []).append(r)
    assert any(len(g) > 1 for g in groups.values()), \
        "fixture duplicates must collide"
    for g in groups.values():
        assert all(r["n_same"] == len(g) for r in g)
        canon = [r for r in g if r["is_canonical"]]
        assert len(canon) == 1
        assert canon[0]["asset_id"] == min(r["asset_id"] for r in g)


def test_ahash_is_brightness_invariant():
    """The aHash property the op relies on: a uniform brightness shift
    moves the mean with the pixels, so the signature is unchanged —
    exact duplicates AND exposure-shifted copies collide."""
    def ahash(px):
        mean = sum(px) / 64.0
        return "".join("1" if b > mean else "0" for b in px)

    base = [(i * 37) % 200 for i in range(64)]
    shifted = [b + 40 for b in base]
    assert ahash(base) == ahash(shifted)
    assert ahash(base) != ahash(list(reversed(base)))


def test_audio_fingerprint_dedup_groups_fixture_duplicates(spark, sf_dir):
    """Duplicate waveforms (identical 64-byte pixel/sample patterns exist
    in the fixture) must collide; group invariants mirror the image op."""
    from agentic_data_pipeline_spark.registry import OPS, _ensure_loaded

    _ensure_loaded()
    rows = OPS["ext_audio_dedup_fingerprint"].fn(spark, sf_dir).collect()
    assert len(rows) == 500
    groups: dict[str, list] = {}
    for r in rows:
        groups.setdefault(r["fingerprint"], []).append(r)
    assert any(len(g) > 1 for g in groups.values())
    for g in groups.values():
        assert all(r["n_same"] == len(g) for r in g)
        canon = [r for r in g if r["is_canonical"]]
        assert len(canon) == 1
        assert canon[0]["asset_id"] == min(r["asset_id"] for r in g)


def test_audio_fingerprint_is_gain_invariant():
    """Uniform gain scales every window energy and the mean together, so
    the signature is unchanged — the audio analogue of aHash's
    brightness invariance."""
    def fingerprint(samples, win=32):
        step = len(samples) // win
        es = [sum(v * v for v in samples[w * step:(w + 1) * step])
              for w in range(win)]
        mean = sum(es) / float(win)
        return "".join("1" if e > mean else "0" for e in es)

    base = [((i * 73) % 255 - 128) * 256 for i in range(64)]
    doubled = [v * 2 for v in base]
    assert fingerprint(base) == fingerprint(doubled)
    # an asymmetric energy profile must produce a different signature
    # (loud first half vs loud second half)
    loud_head = [20000] * 32 + [100] * 32
    assert fingerprint(loud_head) != fingerprint(list(reversed(loud_head)))


def test_video_dedup_scenehash_order_sensitivity_and_groups(spark, sf_dir):
    """Scene signatures are ORDERED frame hashes: duplicate streams
    collide (the fixture's duplicate texts yield identical streams),
    group invariants hold, and every signature is 6 frames × 64 bits."""
    from agentic_data_pipeline_spark.registry import OPS, _ensure_loaded

    _ensure_loaded()
    rows = OPS["ext_video_dedup_scenehash"].fn(spark, sf_dir).collect()
    assert len(rows) == 500
    groups: dict[str, list] = {}
    for r in rows:
        assert len(r["scene_hash"]) == 6 * 64
        assert set(r["scene_hash"]) <= {"0", "1"}
        groups.setdefault(r["scene_hash"], []).append(r)
    assert any(len(g) > 1 for g in groups.values())
    for g in groups.values():
        assert all(r["n_same"] == len(g) for r in g)
        canon = [r for r in g if r["is_canonical"]]
        assert len(canon) == 1
        assert canon[0]["asset_id"] == min(r["asset_id"] for r in g)


def test_contrastive_triplets_are_valid_training_pairs(spark, sf_dir):
    """One triplet per vector; anchor, positive, negative all distinct;
    the positive is genuinely closer than the negative for the
    overwhelming majority of anchors (the margin property contrastive
    training needs)."""
    from agentic_data_pipeline_spark.registry import OPS, _ensure_loaded

    _ensure_loaded()
    rows = OPS["ext_contrastive_triplets"].fn(spark, sf_dir).collect()
    assert len(rows) == 500
    assert len({r["anchor_id"] for r in rows}) == 500
    margin_ok = 0
    for r in rows:
        assert r["anchor_id"] != r["positive_id"]
        assert r["anchor_id"] != r["negative_id"]
        assert r["positive_id"] != r["negative_id"]
        if r["pos_sim"] > r["neg_sim"]:
            margin_ok += 1
    assert margin_ok >= 0.95 * len(rows), \
        f"only {margin_ok}/500 triplets have pos_sim > neg_sim"


def test_drift_psi_near_zero_on_interleaved_samples_and_detects_shift(
        spark, sf_dir):
    """Even/odd order keys are two samples of the SAME distribution, so
    total PSI must sit under the 0.1 'no drift' threshold; and the PSI
    formula (re-derived in Python) must light up past 0.2 on a genuinely
    shifted window."""
    import math

    from agentic_data_pipeline_spark.registry import OPS, _ensure_loaded

    _ensure_loaded()
    rows = OPS["ext_drift_psi"].fn(spark, sf_dir).collect()
    assert [r["bin"] for r in rows] == sorted({r["bin"] for r in rows})
    total = sum(r["psi_term"] for r in rows)
    assert total < 0.1, f"same-distribution PSI should be ~0, got {total}"

    def psi(ref_counts, cur_counts):
        t_r, t_c = sum(ref_counts), sum(cur_counts)
        k = len(ref_counts)
        out = 0.0
        for nr, nc in zip(ref_counts, cur_counts):
            p = (nr + 1) / (t_r + k)
            q = (nc + 1) / (t_c + k)
            out += (q - p) * math.log(q / p)
        return out

    # a hard shift (mass moves two bins right) must trip the 0.2 alarm
    ref = [100, 300, 400, 150, 50]
    cur = [10, 50, 150, 400, 390]
    assert psi(ref, cur) > 0.2


def test_k_anonymity_flags_exactly_the_small_groups(spark, sf_dir):
    """Violations = exactly the QI groups under k, with exact sizes and
    risk 1/n; no group at or above k may appear."""
    from agentic_data_pipeline_spark.catalog import load_table
    from agentic_data_pipeline_spark.operators.prep import K_ANON
    from agentic_data_pipeline_spark.registry import OPS, _ensure_loaded

    _ensure_loaded()
    rows = OPS["ext_k_anonymity"].fn(spark, sf_dir).collect()
    cust = load_table(spark, sf_dir, "customer") \
        .select("c_nationkey", "c_mktsegment").collect()
    sizes: dict[tuple, int] = {}
    for r in cust:
        key = (r["c_nationkey"], r["c_mktsegment"])
        sizes[key] = sizes.get(key, 0) + 1
    expect = {k: n for k, n in sizes.items() if n < K_ANON}
    got = {(r["c_nationkey"], r["c_mktsegment"]): r["group_n"]
           for r in rows}
    assert got == expect
    assert expect, "fixture must contain violating groups"
    for r in rows:
        assert r["reident_risk"] == 1.0 / r["group_n"]


def test_k_anonymity_enforce_releases_only_k_groups(spark, sf_dir):
    """Enforcement contract: every RELEASED group has >= k rows; the
    output is a total partition of the corpus (released + suppressed row
    counts sum to |customer|); a generalized row's group really was under
    k at every finer level (ladder is lowest-sufficient, pinned by the
    audit op's violating set)."""
    from agentic_data_pipeline_spark.catalog import load_table
    from agentic_data_pipeline_spark.operators.prep import K_ANON
    from agentic_data_pipeline_spark.registry import OPS, _ensure_loaded

    _ensure_loaded()
    rows = OPS["ext_k_anonymity_enforce"].fn(spark, sf_dir).collect()
    released = [r for r in rows if r["level"] < 3]
    assert released, "fixture must release at least one group"
    assert all(r["group_n"] >= K_ANON for r in released)
    assert all(r["satisfies_k"] for r in rows)
    n_cust = load_table(spark, sf_dir, "customer").count()
    assert sum(r["group_n"] for r in rows) == n_cust
    # level-0 groups must be exactly the audit's NON-violating exact-QI
    # groups (same k, same QIs — the two ops agree on the frontier)
    audit = {(str(r["c_nationkey"]), r["c_mktsegment"])
             for r in OPS["ext_k_anonymity"].fn(spark, sf_dir).collect()}
    lvl0 = {(r["qi_nation"], r["qi_segment"]) for r in released
            if r["level"] == 0}
    assert not (lvl0 & audit), \
        "a group the audit flagged as under-k must not release at level 0"


def test_decontaminate_embedding_matches_numpy(spark, sf_dir):
    """Flagged set must equal the numpy brute-force: corpus vectors whose
    max cosine to the eval split (vec_id % 50 == 0) exceeds 0.3, with the
    exact hit counts."""
    import numpy as np

    from agentic_data_pipeline_spark.catalog import load_table
    from agentic_data_pipeline_spark.registry import OPS, _ensure_loaded

    _ensure_loaded()
    got = {r["vec_id"]: r["n_eval_hits"]
           for r in OPS["ext_decontaminate_embedding"].fn(
               spark, sf_dir).collect()}
    vecs = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
            for r in load_table(spark, sf_dir, "embeddings").collect()}
    ev = {k: v for k, v in vecs.items() if k % 50 == 0}
    expect = {}
    for vid, v in vecs.items():
        if vid % 50 == 0:
            continue
        hits = 0
        for e in ev.values():
            sim = (v @ e) / (np.linalg.norm(v) * np.linalg.norm(e))
            if sim > 0.3:
                hits += 1
        if hits:
            expect[vid] = hits
    assert got == expect
    assert expect, "threshold must flag some contamination on the fixture"


def test_winsorize_semantics_vs_numpy(spark, sf_dir):
    """Winsorized mean must equal the numpy re-derivation: clip at the
    op's own per-group bounds, average, compare at the op's 6dp rounding;
    clip counts must match exactly."""
    import numpy as np

    from agentic_data_pipeline_spark.catalog import load_table
    from agentic_data_pipeline_spark.registry import OPS, _ensure_loaded

    _ensure_loaded()
    rows = {r["l_returnflag"]: r
            for r in OPS["ext_winsorize"].fn(spark, sf_dir).collect()}
    li = load_table(spark, sf_dir, "lineitem") \
        .select("l_returnflag", "l_extendedprice").collect()
    by_flag: dict[str, list[float]] = {}
    for r in li:
        by_flag.setdefault(r["l_returnflag"], []).append(
            r["l_extendedprice"])
    assert set(rows) == set(by_flag)
    for flag, vals in by_flag.items():
        x = np.asarray(vals)
        r = rows[flag]
        assert r["n_rows"] == len(x)
        assert r["lb"] < r["ub"]
        assert r["n_clipped_low"] == int((x < r["lb"]).sum())
        assert r["n_clipped_high"] == int((x > r["ub"]).sum())
        # clipping must touch the tails but never the bulk
        assert 0 < r["n_clipped_low"] + r["n_clipped_high"] < 0.05 * len(x)
        clipped = np.clip(x, r["lb"], r["ub"])
        assert abs(r["winsorized_mean"] - clipped.mean()) < 1e-4


def test_topic_model_per_doc_artifact(spark, sf_dir):
    """The per-document output is a total partition with a valid argmax:
    every doc scored once, topic_id in [0,k), weight = max of a
    normalized distribution, and the seeded fit is reproducible."""
    from agentic_data_pipeline_spark.catalog import load_table
    from agentic_data_pipeline_spark.operators.topics import (
        K_TOPICS, fit_topics,
    )

    docs = load_table(spark, sf_dir, "documents")
    out = fit_topics(docs).collect()
    n_docs = docs.count()
    assert len(out) == n_docs
    assert len({r["doc_id"] for r in out}) == n_docs
    for r in out:
        assert 0 <= r["topic_id"] < K_TOPICS
        assert r["dist_len"] == K_TOPICS
        assert abs(r["dist_sum"] - 1.0) <= 1e-6
        assert 1.0 / K_TOPICS - 1e-9 <= r["topic_weight"] <= 1.0

    # Reproducibility pin: the vocabulary is built in a fixed order (count
    # desc, then token asc), so the features and the seeded fit repeat
    # exactly. CountVectorizer.fit broke count ties by arrival order, which
    # once flipped 55/500 docs between two fits.
    again = {r["doc_id"]: r["topic_id"] for r in fit_topics(docs).collect()}
    first = {r["doc_id"]: r["topic_id"] for r in out}
    assert again == first, (
        f"seeded LDA fit must be reproducible: "
        f"{sum(again.get(d) != t for d, t in first.items())}/{len(first)} "
        f"docs disagree")


# ----------------------------------------------------------- quantize
def test_quantize_roundtrip_error_bound(spark):
    """Quantized codes must be in [-127, 127], reconstruct within
    scale/2 per element, and zero vectors must encode to all-zero with
    scale 0."""
    from agentic_data_pipeline_spark.operators.vector_store import (
        quantize_int8,
    )

    rng = np.random.default_rng(7)
    vecs = [(i, [float(x) for x in rng.normal(size=16)]) for i in range(50)]
    vecs.append((50, [0.0] * 16))
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    rows = {r["vec_id"]: r for r in quantize_int8(df).collect()}
    assert len(rows) == 51
    zero = rows[50]
    assert zero["scale"] == 0.0 and set(zero["q"]) == {0}
    originals = {i: np.asarray(v, dtype=np.float32).astype(np.float64)
                 for i, v in vecs}
    for vid, r in rows.items():
        q = np.asarray(r["q"], dtype=np.int64)
        assert (np.abs(q) <= 127).all()
        assert r["recon_ok"]
        x = originals[vid]
        if r["scale"] > 0:
            # round-trip: q * scale within half a quantization step
            assert np.max(np.abs(x - q * r["scale"])) \
                <= r["scale"] * 0.5000001 + 1e-18
            # scale is max|x|/127
            assert r["scale"] == pytest.approx(np.max(np.abs(x)) / 127.0,
                                               rel=0, abs=0)
            assert r["n_saturated"] >= 1  # the max element saturates


def test_quantize_preserves_cosine_ranking(spark, sf_dir):
    """The point of int8 storage: cosine rankings survive quantization.
    Spearman-ish check — top-10 neighbor sets of the first vector under
    float vs int8 overlap >= 8/10 on the fixture embeddings."""
    from agentic_data_pipeline_spark.catalog import load_table
    from agentic_data_pipeline_spark.operators.vector_store import (
        quantize_int8,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    orig = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
            for r in emb.collect()}
    deq = {r["vec_id"]: np.asarray(r["q"], dtype=np.float64) * r["scale"]
           for r in quantize_int8(emb).collect()}

    def top10(vectors, qid):
        qv = vectors[qid]
        sims = {}
        for vid, v in vectors.items():
            if vid == qid:
                continue
            denom = np.linalg.norm(qv) * np.linalg.norm(v)
            sims[vid] = (qv @ v) / denom if denom else 0.0
        return {v for v, _ in sorted(sims.items(),
                                     key=lambda kv: -kv[1])[:10]}

    qid = min(orig)
    assert len(top10(orig, qid) & top10(deq, qid)) >= 8


def test_ann_int8_recall_vs_float_topk(spark, sf_dir):
    """The int8 search op must recover the float brute-force top-5 almost
    everywhere: >= 4/5 neighbor overlap per query on the fixture (the
    codec's ranking error is sub-quantization-step)."""
    from agentic_data_pipeline_spark.registry import OPS, _ensure_loaded

    _ensure_loaded()
    int8_rows = OPS["ext_ann_int8"].fn(spark, sf_dir).collect()
    float_rows = OPS["ext_similarity_topk"].fn(spark, sf_dir).collect()

    def by_query(rows):
        out = {}
        for r in rows:
            out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return out

    i8, fl = by_query(int8_rows), by_query(float_rows)
    assert set(i8) == set(fl) == {0, 1, 2}
    for q in fl:
        assert len(i8[q]) == 5
        assert len(i8[q] & fl[q]) >= 4, \
            f"query {q}: int8 {sorted(i8[q])} vs float {sorted(fl[q])}"
