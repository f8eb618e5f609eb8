"""Property-based tests (hypothesis) for the trickiest kernels: the
as-of join, the bucketing fold, and the shingle fast path. Each property
compares the Spark operator against a direct Python model on randomized
inputs — examples are kept few because every example is a Spark job."""

import datetime as dt

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from lfb_data_warehouse_spark.functions.bucketing import NullPolicy, bucketize
from lfb_data_warehouse_spark.functions.text import shingles
from lfb_data_warehouse_spark.operators.temporal import nearest_within

EPOCH = dt.datetime(2024, 1, 1)


def ts(sec: int) -> dt.datetime:
    return EPOCH + dt.timedelta(seconds=sec)


SETTINGS = settings(
    max_examples=8, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture]
)


@SETTINGS
@given(
    left=st.lists(st.integers(0, 500), min_size=1, max_size=8, unique=True),
    right=st.lists(st.integers(0, 500), min_size=1, max_size=8, unique=True),
    tol=st.integers(1, 120),
)
def test_nearest_within_matches_bruteforce(spark, left, right, tol):
    ldf = spark.createDataFrame([(i, ts(s)) for i, s in enumerate(left)], "lid long, lts timestamp")
    rdf = spark.createDataFrame([(i, ts(s)) for i, s in enumerate(right)], "rid long, rts timestamp")
    got = {
        r["lid"]: (r["rid"], r["nearest_dt_us"])
        for r in nearest_within(
            ldf, rdf, "lts", "rts", tol, left_key="lid", right_tiebreak="rid"
        ).collect()
    }
    want = {}
    for i, ls in enumerate(left):
        cands = [
            (abs(ls - rs) * 1_000_000, j) for j, rs in enumerate(right) if abs(ls - rs) <= tol
        ]
        if cands:
            dt_us, j = min(cands)
            want[i] = (j, dt_us)
    assert got == want


BUCKETS = [(None, -10.0, "low"), (-10.0, 0.0, "neg"), (0.0, 10.0, "pos"), (10.0, None, "high")]


def model_bucketize(v, policy):
    if v is None:
        return "Unknown" if policy is NullPolicy.UNKNOWN else None
    for lo, hi, label in BUCKETS:
        if (lo is None or v >= lo) and (hi is None or v < hi):
            return label
    return None


@SETTINGS
@given(
    vals=st.lists(
        st.one_of(st.none(), st.floats(-100, 100, allow_nan=False)), min_size=1, max_size=20
    ),
    policy=st.sampled_from([NullPolicy.UNKNOWN, NullPolicy.NULL]),
)
def test_bucketize_matches_model(spark, vals, policy):
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)], "i long, v double")
    got = {
        r["i"]: r["b"]
        for r in df.select("i", bucketize("v", BUCKETS, null_policy=policy).alias("b")).collect()
    }
    assert got == {i: model_bucketize(v, policy) for i, v in enumerate(vals)}


@SETTINGS
@given(
    words=st.lists(st.text(alphabet="abc", min_size=1, max_size=3), min_size=0, max_size=10),
    n=st.integers(1, 4),
)
def test_shingles_match_python_ngrams(spark, words, n):
    # exercises the n==2 zip_with fast path against the general path's
    # semantics: space-joined word n-grams, empty when len(words) < n
    df = spark.createDataFrame([(words,)], "w array<string>")
    got = df.select(shingles(F.col("w"), n).alias("s")).collect()[0]["s"]
    want = [" ".join(words[i : i + n]) for i in range(len(words) - n + 1)] if len(words) >= n else []
    assert list(got) == want


@SETTINGS
@given(
    points=st.lists(st.integers(0, 400), min_size=1, max_size=10, unique=True),
    ivls=st.lists(
        st.tuples(st.integers(0, 400), st.integers(0, 200)), min_size=1, max_size=6
    ),
    gran=st.integers(10, 120),
)
def test_interval_join_matches_bruteforce(spark, points, ivls, gran):
    from lfb_data_warehouse_spark.operators.temporal import interval_join

    pdf = spark.createDataFrame(
        [(i, ts(s)) for i, s in enumerate(points)], "pid long, pts timestamp"
    )
    idf = spark.createDataFrame(
        [(j, ts(s), ts(s + d)) for j, (s, d) in enumerate(ivls)],
        "iid long, start_t timestamp, end_t timestamp",
    )
    got = {
        (r["pid"], r["iid"])
        for r in interval_join(pdf, idf, "pts", "start_t", "end_t", granularity_sec=gran).collect()
    }
    want = {
        (i, j)
        for i, p in enumerate(points)
        for j, (s, d) in enumerate(ivls)
        if s <= p <= s + d
    }
    assert got == want


@SETTINGS
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 25), st.integers(0, 25)), min_size=1, max_size=30
    )
)
def test_connected_components_matches_union_find(spark, edges):
    from lfb_data_warehouse_spark.operators.graph import connected_components

    edges = [(a, b) for a, b in edges if a != b]
    if not edges:
        return
    edf = spark.createDataFrame(edges, "src int, dst int")
    got = {r["node"]: r["component"] for r in connected_components(edf).collect()}
    assert got == union_find_labels(edges)


@settings(max_examples=4, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 25), st.integers(0, 25)), min_size=1, max_size=20
    )
)
def test_connected_components_star_matches_union_find(spark, monkeypatch, edges):
    # each example runs several star rounds (multiple Spark jobs), so
    # examples are fewer than the label-propagation property's; the
    # driver cap is forced to 0 so these graphs take the star rounds
    from lfb_data_warehouse_spark.operators import graph

    monkeypatch.setattr(graph, "_DRIVER_EDGES", 0)
    check_star_against_union_find(spark, edges)


@SETTINGS
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 25), st.integers(0, 25)), min_size=1, max_size=20
    )
)
def test_connected_components_star_driver_path_matches_union_find(spark, edges):
    """The same property at the default driver cap: graphs this small
    are labeled by the driver-side union-find."""
    check_star_against_union_find(spark, edges)


def check_star_against_union_find(spark, edges):
    from lfb_data_warehouse_spark.operators.graph import connected_components_star

    edges = [(a, b) for a, b in edges if a != b]
    if not edges:
        return
    edf = spark.createDataFrame(edges, "src int, dst int")
    got = {
        r["node"]: r["component"] for r in connected_components_star(edf).collect()
    }
    assert got == union_find_labels(edges)


def test_connected_components_star_falls_back_above_driver_cap(spark, monkeypatch):
    """Above the driver cap the edges are never collected: the star
    rounds label the graph, and the labels still equal the reference.
    At or below the cap the driver path runs, with the star path's
    output schema."""
    from lfb_data_warehouse_spark.operators import graph

    calls = []
    driver = graph._driver_components

    def spy(e):
        calls.append(e)
        return driver(e)

    monkeypatch.setattr(graph, "_driver_components", spy)
    edges = [(i, i + 1) for i in range(10)] + [(20, 21), (21, 22), (40, 41)]
    edf = spark.createDataFrame(edges, "src long, dst long")
    want = union_find_labels(edges)

    monkeypatch.setattr(graph, "_DRIVER_EDGES", len(edges) - 1)
    star = graph.connected_components_star(edf)
    assert calls == []
    assert {r["node"]: r["component"] for r in star.collect()} == want

    monkeypatch.setattr(graph, "_DRIVER_EDGES", len(edges))
    driven = graph.connected_components_star(edf)
    assert len(calls) == 1
    assert {r["node"]: r["component"] for r in driven.collect()} == want
    assert driven.schema == star.schema


def union_find_labels(edges):
    """Reference labeling: node -> min node id of its component."""
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


@settings(max_examples=4, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    data=st.lists(
        st.lists(st.integers(-50, 50), min_size=8, max_size=8),
        min_size=8,
        max_size=16,
    )
)
def test_pq_encode_matches_python_model(spark, data):
    # PQ encode vs a direct python argmin over the same integer space
    from lfb_data_warehouse_spark.operators.similarity import (
        QUANT_SCALE,
        pq_codebook,
        pq_encode,
    )

    m, cb_k, sub = 4, 4, 2
    rows = [(i, [v / 10.0 for v in vec]) for i, vec in enumerate(data)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cw = pq_codebook(emb, "vec_id", "embedding", m=m, cb_k=cb_k)
    got = {r["vec_id"]: list(r["codes"]) for r in pq_encode(emb, "vec_id", "embedding", cw).collect()}

    def quant(vec):
        import struct as _s

        # float32 round-trip then the engine's round(x * 1e4)
        return [round(_s.unpack("f", _s.pack("f", x))[0] * QUANT_SCALE) for x in vec]

    want = {}
    for i, vec in rows:
        q = quant(vec)
        codes = []
        for s in range(m):
            sv = q[s * sub : (s + 1) * sub]
            dists = [sum((a - b) ** 2 for a, b in zip(sv, w)) for w in cw[s]]
            codes.append(dists.index(min(dists)))  # first occurrence = smallest code
        want[i] = codes
    assert got == want


# --- pure-Python properties (no Spark job per example: full example counts) ---


@settings(max_examples=200, deadline=None)
@given(
    w=st.integers(1, 65535),
    h=st.integers(1, 65535),
    kind=st.sampled_from(["png", "jpeg", "wav"]),
    ch=st.integers(1, 3),
)
def test_media_codec_roundtrip_property(w, h, kind, ch):
    from lfb_data_warehouse_spark.operators.multimodal import (
        jpeg_bytes,
        parse_media,
        png_bytes,
        wav_bytes,
    )

    if kind == "png":
        got = parse_media(png_bytes(w, h, color_type=2))
        assert (got["media_type"], got["width"], got["height"]) == ("image/png", w, h)
    elif kind == "jpeg":
        got = parse_media(jpeg_bytes(w, h, n_components=ch))
        assert (got["media_type"], got["width"], got["height"], got["channels"]) == (
            "image/jpeg", w, h, ch,
        )
    else:
        n_samples = (w * h) % 4096 + 1
        got = parse_media(wav_bytes(ch, 8000 * ch, n_samples))
        assert (got["media_type"], got["channels"], got["n_samples"]) == (
            "audio/wav", ch, n_samples,
        )


@settings(max_examples=80, deadline=None)
@given(
    w=st.integers(1, 24),
    h=st.integers(1, 16),
    ct=st.sampled_from([0, 2, 4, 6]),
    data=st.data(),
)
def test_png_pixel_roundtrip_property(w, h, ct, data):
    """decode(encode(raster)) == raster for RANDOM rasters — random
    bytes stress every Paeth/Average branch far harder than the
    structured oracle fixture (filter types cycle y % 5, so any image
    ≥5 rows tall hits all five)."""
    from lfb_data_warehouse_spark.operators.multimodal import (
        _PNG_CHANNELS,
        png_decode_pixels,
        png_pixel_bytes,
    )

    ch = _PNG_CHANNELS[ct]
    raster = bytes(
        data.draw(st.lists(st.integers(0, 255), min_size=w * h * ch, max_size=w * h * ch))
    )
    out = png_decode_pixels(png_pixel_bytes(w, h, raster, ct))
    assert out["raster"] == raster
    assert (out["width"], out["height"], out["channels"]) == (w, h, ch)


@settings(max_examples=300, deadline=None)
@given(frac=st.floats(0.0, 1.0, allow_nan=False))
def test_threshold_hex_bounds(frac):
    from lfb_data_warehouse_spark.operators.sampling import _threshold_hex

    t = _threshold_hex(frac)
    if t == "g":
        # keep-all sentinel appears ONLY when the rounded threshold
        # saturates 16^8 (fraction within 2^-33 of 1.0, or exactly 1.0)
        assert frac >= 1.0 - 2.0 ** -32
    else:
        # otherwise always an 8-char lexicographically comparable hex
        # string (never the 9-char overflow that breaks the compare)
        assert len(t) == 8
        assert all(c in "0123456789abcdef" for c in t)


@settings(max_examples=100, deadline=None)
@given(f1=st.floats(0.0, 1.0), f2=st.floats(0.0, 1.0))
def test_threshold_hex_monotone(f1, f2):
    from lfb_data_warehouse_spark.operators.sampling import _threshold_hex

    lo, hi = sorted((f1, f2))
    # a larger fraction never keeps fewer rows: thresholds are ordered
    assert _threshold_hex(lo) <= _threshold_hex(hi)


def test_components_star_equals_propagation_1k_nodes(spark):
    """Lock the two PRODUCTION component implementations together on a
    single adversarial 1k-node fixture (VERDICT r4 item 8): a seeded
    random graph (sparse — many non-trivial clusters) plus a planted
    80-node chain, the diameter shape star rounds exist for. Both
    variants must emit identical labelings; the chain alone is also
    checked against a union-find model so the fixture can't rot."""
    import random

    from lfb_data_warehouse_spark.operators.graph import (
        connected_components,
        connected_components_star,
    )

    rng = random.Random(0xC0FFEE)
    n = 1000
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(700)]
    chain = [(2000 + i, 2000 + i + 1) for i in range(80)]  # disjoint id space
    edges = [(a, b) for a, b in edges if a != b] + chain
    edf = spark.createDataFrame(edges, "src long, dst long")
    prop = {
        r["node"]: r["component"] for r in connected_components(edf, max_iter=200).collect()
    }
    star = {
        r["node"]: r["component"] for r in connected_components_star(edf).collect()
    }
    assert star == prop
    # chain sanity vs a direct model: every chain node labels to 2000
    assert all(star[2000 + i] == 2000 for i in range(81))


@SETTINGS
@given(
    stream=st.lists(st.integers(0, 25), min_size=1, max_size=120),
    capacity=st.integers(2, 8),
)
def test_misra_gries_invariants_random_streams(spark, stream, capacity):
    """On arbitrary streams (including flat, no-heavy-hitter ones) the
    MG summaries must satisfy: positive counters, per-item lb ≤ true
    count, and global undercount ≤ N/(capacity+1). Exactness of
    mg_exact_topk is additionally required whenever the k-th item
    clears the MG threshold — checked conditionally, since random
    streams may legitimately have no heavy hitters."""
    from collections import Counter

    from lfb_data_warehouse_spark.operators.sketches import mg_exact_topk, mg_summaries

    rows = [("k", f"i{v:02d}") for v in stream]
    df = spark.createDataFrame(rows, "k string, item string").repartition(3)
    true = Counter(f"i{v:02d}" for v in stream)
    n = len(stream)
    merged: dict = {}
    for r in mg_summaries(df, "k", "item", capacity).collect():
        assert r["lb"] > 0
        merged[r["item"]] = merged.get(r["item"], 0) + r["lb"]
    for item, true_n in true.items():
        lb = merged.get(item, 0)
        assert lb <= true_n
        assert true_n - lb <= n / (capacity + 1)
    k = 3
    ranked = sorted(true.items(), key=lambda kv: (-kv[1], kv[0]))
    if len(ranked) >= k and ranked[k - 1][1] > n / (capacity + 1):
        got = {
            (r["rank"]): (r["item"], r["n"])
            for r in mg_exact_topk(df, "k", "item", k=k, capacity=capacity).collect()
        }
        want = {i + 1: (it, c) for i, (it, c) in enumerate(ranked[:k])}
        assert got == want


@SETTINGS
@given(
    data=st.lists(
        st.lists(st.integers(-50, 50), min_size=3, max_size=3),
        min_size=4,
        max_size=12,
    ),
)
def test_pca_trace_and_subspace_random(spark, data):
    """pca_fit on random integer clouds: the integer trace numerator
    equals the direct model exactly, eigenvalues match numpy's
    covariance eigh, and total eigenvalue mass equals the trace
    (both computed independently)."""
    import numpy as np

    from lfb_data_warehouse_spark.operators.pca import pca_fit
    from lfb_data_warehouse_spark.operators.similarity import QUANT_SCALE

    emb = spark.createDataFrame(
        [(i, [v / QUANT_SCALE for v in row]) for i, row in enumerate(data)],
        "vec_id long, embedding array<float>",
    )
    model = pca_fit(emb, "vec_id", "embedding", dim=3, k=3)
    x = np.array(data, dtype=np.int64)
    n = len(data)
    trace_ref = n * int((x * x).sum()) - int(sum(int(c) ** 2 for c in x.sum(axis=0)))
    assert model.trace_num == trace_ref
    cov = np.cov(x, rowvar=False, bias=True)
    w_ref = np.sort(np.linalg.eigvalsh(cov))[::-1]
    assert np.allclose(model.eigenvalues, w_ref, rtol=1e-9, atol=1e-6)
    assert abs(sum(model.eigenvalues) - trace_ref / (n * n)) < 1e-6 * max(1.0, abs(trace_ref) / (n * n))


@SETTINGS
@given(
    seeds=st.lists(st.integers(0, 3), min_size=6, max_size=16),
    split=st.integers(2, 5),
)
def test_ivf_append_equals_frozen_rebuild_random(spark, seeds, split):
    """Property form of the incremental-append invariant: for ANY
    vector cloud and ANY old/new split, appending the new batch
    against centroids frozen on the old slice must reproduce the exact
    index a from-scratch assignment over old∪new (same centroids)
    builds — including empty-ish new batches and clusters that exist
    only in one slice."""
    from pyspark.sql import functions as F

    from lfb_data_warehouse_spark.operators.similarity import (
        ivf_build,
        ivf_index_append,
        ivf_index_from_cents,
        quantize,
    )

    rows = []
    for i, s in enumerate(seeds):
        base = [0.0] * 4
        base[s] = 1.0
        base[(s + 1) % 4] = 0.05 * (i % 5)
        rows.append((i, s % 2, base))
    emb = spark.createDataFrame(rows, "vec_id long, label long, embedding array<float>")
    old = emb.filter(F.col("vec_id") % split != 0)
    new = emb.filter(F.col("vec_id") % split == 0)
    if old.filter(F.col("label") == 0).count() == 0 or old.filter(F.col("label") == 1).count() == 0:
        return  # a label absent from the old slice has no frozen centroid — out of contract
    inv, cents = ivf_build(old, "vec_id", "embedding", "label", dim=4)
    appended = ivf_index_append(inv, cents, new, "vec_id", "embedding")
    rebuilt = ivf_index_from_cents(quantize(emb, "vec_id", "embedding"), cents, "vec_id")

    def canon(df):
        return sorted(
            (r["neighbor_id"], r["assigned_label"], tuple(r["nq"]), r["nn"])
            for r in df.collect()
        )

    assert canon(appended) == canon(rebuilt)


@SETTINGS
@given(
    stream=st.lists(st.integers(0, 25), min_size=1, max_size=120),
    capacity=st.integers(2, 8),
    k=st.integers(1, 6),
)
def test_mg_check_exact_guard_sound_on_random_streams(spark, stream, capacity, k):
    """The check_exact guard's soundness contract on arbitrary streams:
    it either raises (threshold not provable) or returns a result that
    EQUALS the brute-force top-k — never a silent wrong answer. The
    guard may be conservative (raise despite a correct answer), but
    the converse — returning without raising yet differing from brute
    force — is the bug class it exists to preclude. k is drawn too
    (round-7 ADVICE): k > capacity reaches the short-key eviction case
    (distinct > capacity while distinct < k) that a fixed k=3 with
    capacity >= 2 never could."""
    from collections import Counter

    import pytest as _pytest

    from lfb_data_warehouse_spark.operators.sketches import mg_exact_topk

    rows = [("k", f"i{v:02d}") for v in stream]
    df = spark.createDataFrame(rows, "k string, item string").repartition(3)
    true = Counter(f"i{v:02d}" for v in stream)
    ranked = sorted(true.items(), key=lambda kv: (-kv[1], kv[0]))
    want = {i + 1: (it, c) for i, (it, c) in enumerate(ranked[:k])}
    try:
        got = {
            r["rank"]: (r["item"], r["n"])
            for r in mg_exact_topk(
                df, "k", "item", k=k, capacity=capacity, check_exact=True
            ).collect()
        }
    except ValueError:
        return  # conservative refusal is allowed
    assert got == want


@settings(max_examples=60, deadline=None)
@given(data=st.data())
def test_flac_roundtrip_property(data):
    """decode(encode(samples)) == samples for RANDOM sample sequences
    under RANDOM subframe specs — random residual magnitudes stress
    every Rice parameter choice, unary length, and wasted-bits branch
    far harder than the closed-form oracle fixture; FLAC is lossless,
    so equality is exact by definition."""
    from lfb_data_warehouse_spark.operators.flaccodec import (
        flac_bytes,
        flac_decode_samples,
    )

    frames = []
    for _ in range(data.draw(st.integers(1, 3))):
        kind = data.draw(st.sampled_from(["constant", "verbatim", "fixed", "lpc"]))
        if kind == "constant":
            n = data.draw(st.integers(1, 40))
            v = data.draw(st.integers(-32768, 32767))
            frames.append(([v] * n, ("constant",)))
            continue
        if kind == "fixed":
            order = data.draw(st.integers(0, 4))
            p = data.draw(st.integers(0, 2))
            # blocksize divisible by 2^p with a non-empty first partition
            base = data.draw(st.integers(max(order + 1, 2), 12))
            n = base * (1 << p)
            spec = ("fixed", order, p)
        elif kind == "lpc":
            order = data.draw(st.integers(1, 3))
            coefs = [data.draw(st.integers(-7, 7)) for _ in range(order)]
            shift = data.draw(st.integers(0, 3))
            n = data.draw(st.integers(order + 1, 40))
            spec = ("lpc", coefs, shift, 4, 0)
        else:
            n = data.draw(st.integers(1, 40))
            spec = ("verbatim",)
        shiftable = data.draw(st.integers(0, 2))  # exercise wasted bits
        lim = 32767 >> shiftable
        samples = [
            data.draw(st.integers(-lim - 1, lim)) << shiftable for _ in range(n)
        ]
        frames.append((samples, spec))
    d = flac_decode_samples(flac_bytes(44100, 16, frames))
    assert d["samples"] == [s for fr, _ in frames for s in fr]
    assert d["n_frames"] == len(frames)
    # the same content decorrelated (random assignment per run) must
    # reconstruct the identical interleaved stream — left/right pairs
    # built from consecutive mono frames' kinds of content
    asg = data.draw(st.sampled_from(["left_side", "right_side", "mid_side"]))
    n = data.draw(st.integers(2, 24))
    lch = [data.draw(st.integers(-32768, 32767)) for _ in range(n)]
    rch = [data.draw(st.integers(-32768, 32767)) for _ in range(n)]
    ds = flac_decode_samples(flac_bytes(
        44100, 16, [([lch, rch], [("verbatim",), ("fixed", 1, 0)])],
        channels=2, assignment=asg,
    ))
    assert ds["samples"] == [v for i in range(n) for v in (lch[i], rch[i])]


@settings(max_examples=60, deadline=None)
@given(data=st.data())
def test_adpcm_roundtrip_property(data):
    """IMA ADPCM container round-trip on RANDOM block seeds and nibble
    streams at RANDOM channel counts (1..5 — mono, the stereo layout,
    and the round-13 N-channel generalization): the decoder's state
    walk must agree with an independent in-test model per channel for
    any predictor/index seed and any nibble sequence (the gate fixture
    covers one closed-form family; this covers the space)."""
    from lfb_data_warehouse_spark.operators.multimodal import (
        _IMA_INDEX,
        _IMA_STEP,
        wav_adpcm_bytes,
        wav_decode_samples,
    )

    channels = data.draw(st.integers(1, 5))
    if channels == 1:
        spb = data.draw(st.integers(2, 40))
    else:
        spb = 8 * data.draw(st.integers(1, 4)) + 1  # word layout

    def draw_chan():
        pred = data.draw(st.integers(-32768, 32767))
        idx = data.draw(st.integers(0, 88))
        nibs = [data.draw(st.integers(0, 15)) for _ in range(spb - 1)]
        return (pred, idx, nibs)

    n_blocks = data.draw(st.integers(1, 3))
    if channels == 1:
        blocks = [draw_chan() for _ in range(n_blocks)]
    else:
        blocks = [[draw_chan() for _ in range(channels)] for _ in range(n_blocks)]
    out = wav_decode_samples(
        wav_adpcm_bytes(8000, blocks, spb, channels=channels)
    )["samples"]

    def model(pred, idx, nibs):
        exp = [pred]
        for nib in nibs:
            step = _IMA_STEP[idx]
            diff = (step >> 3) + (step if nib & 4 else 0) \
                + (step >> 1 if nib & 2 else 0) + (step >> 2 if nib & 1 else 0)
            pred = max(-32768, min(32767, pred - diff if nib & 8 else pred + diff))
            idx = max(0, min(88, idx + _IMA_INDEX[nib & 7]))
            exp.append(pred)
        return exp

    exp = []
    for blk in blocks:
        if channels == 1:
            exp.extend(model(*blk))
        else:
            per = [model(*t) for t in blk]
            exp.extend(per[c][i] for i in range(spb) for c in range(channels))
    assert out == exp


@settings(max_examples=60, deadline=None)
@given(data=st.data())
def test_msadpcm_roundtrip_property(data):
    """MS ADPCM (fmt 2, round 14) container round-trip on RANDOM
    coefficient indexes, deltas, seed samples and nibble streams at
    RANDOM channel counts (1..4) and block counts: the decoder's
    two-tap predictor walk must agree with an independent in-test
    model per channel — any sign of predictor sum (the truncating
    division's hard case), any delta including degenerate <= 0 header
    deltas (re-floored to 16 by the adaptation step), any
    coefficient pair of the standard table."""
    from lfb_data_warehouse_spark.operators.multimodal import (
        _MS_ADAPT,
        _MS_COEF,
        wav_decode_samples,
        wav_msadpcm_bytes,
    )

    channels = data.draw(st.integers(1, 4))
    # nibbles must fill whole bytes: even per-block nibble total
    n_nib = 2 * data.draw(st.integers(1, 20)) if channels % 2 else \
        data.draw(st.integers(1, 40))
    spb = n_nib + 2

    def draw_chan():
        return (
            data.draw(st.integers(0, 6)),
            data.draw(st.integers(-32768, 32767)),
            data.draw(st.integers(-32768, 32767)),
            data.draw(st.integers(-32768, 32767)),
            [data.draw(st.integers(0, 15)) for _ in range(n_nib)],
        )

    n_blocks = data.draw(st.integers(1, 3))
    blocks = [
        draw_chan() if channels == 1
        else [draw_chan() for _ in range(channels)]
        for _ in range(n_blocks)
    ]
    out = wav_decode_samples(
        wav_msadpcm_bytes(8000, blocks, spb, channels=channels)
    )["samples"]

    def tdiv256(v):
        # exact C-style truncation (float int(v/256) loses exactness
        # once runaway deltas pass 2**53)
        return -((-v) // 256) if v < 0 else v // 256

    def model(ci, delta, s1, s2, nibs):
        c1, c2 = _MS_COEF[ci]
        exp = [s2, s1]
        for nib in nibs:
            sgn = nib - 16 if nib >= 8 else nib
            p = tdiv256(s1 * c1 + s2 * c2) + sgn * delta
            p = max(-32768, min(32767, p))
            s2, s1 = s1, p
            exp.append(p)
            delta = max(16, tdiv256(_MS_ADAPT[nib] * delta))
        return exp

    exp = []
    for blk in blocks:
        if channels == 1:
            exp.extend(model(*blk))
        else:
            per = [model(*t) for t in blk]
            exp.extend(per[c][i] for i in range(spb) for c in range(channels))
    assert out == exp


@settings(max_examples=40, deadline=None)
@given(data=st.data())
def test_tiff16_roundtrip_property(data):
    """decode(encode(samples)) == samples for RANDOM 16-bit TIFFs
    across dims, channels, strip heights, compressions, predictor and
    endianness — random 16-bit values stress the sample-level mod-65536
    differencing and the byte-order plumbing harder than the
    closed-form gate fixtures."""
    from lfb_data_warehouse_spark.operators.tiffcodec import (
        tiff_bytes,
        tiff_decode_pixels,
    )

    w = data.draw(st.integers(1, 10))
    h = data.draw(st.integers(1, 8))
    ch = data.draw(st.sampled_from([1, 3]))
    vals = [data.draw(st.integers(0, 65535)) for _ in range(w * h * ch)]
    comp = data.draw(st.sampled_from(
        [{}, {"packbits": True}, {"lzw": True}, {"deflate": True},
         {"lzw": True, "predictor": 2}, {"deflate": True, "predictor": 2}]))
    d = tiff_decode_pixels(tiff_bytes(
        w, h, vals, channels=ch,
        rows_per_strip=data.draw(st.integers(1, 5)),
        big_endian=data.draw(st.booleans()), bits=16, **comp))
    assert d["samples16"] == vals and d["bit_depth"] == 16


@settings(max_examples=40, deadline=None)
@given(data=st.data())
def test_wav_deep_pcm_roundtrip_property(data):
    """decode(encode(samples)) == samples for RANDOM 16/24/32-bit PCM
    WAVs, mono and stereo — full-range values stress sign extension at
    every width (the 3-byte case has no struct code and is hand
    assembled)."""
    from lfb_data_warehouse_spark.operators.multimodal import (
        wav_decode_samples,
        wav_pcm_bytes,
    )

    bits = data.draw(st.sampled_from([16, 24, 32]))
    ch = data.draw(st.sampled_from([1, 2]))
    lo, hi = -(1 << (bits - 1)), (1 << (bits - 1)) - 1
    n = data.draw(st.integers(1, 30)) * ch
    vals = [data.draw(st.integers(lo, hi)) for _ in range(n)]
    d = wav_decode_samples(wav_pcm_bytes(ch, 8000, vals, bits=bits))
    assert d["samples"] == vals and d["bits"] == bits
    assert d["n_samples"] == n // ch


@settings(max_examples=50, deadline=None)
@given(data=st.data())
def test_jpeg_lossless_roundtrip_property(data):
    """decode(encode(planes)) == planes for RANDOM lossless JPEGs
    across the full round-13 feature space at once: random dims
    (including non-multiples of the MCU size — partial MCUs), random
    per-component sampling, every predictor, random point transforms,
    random precisions 2..16, and random restart intervals — the
    composition no deterministic battery enumerates exhaustively."""
    from lfb_data_warehouse_spark.operators.jpegcodec import (
        jpeg_decode_pixels,
        jpeg_lossless_bytes,
    )

    ncomp = data.draw(st.sampled_from([1, 3]))
    if ncomp == 1:
        sampling = [(1, 1)]
    else:
        # T.81 B.2.3: an interleaved MCU may carry at most 10 data
        # units, so Σ Hi·Vi ≤ 10 — three unconstrained (1..2, 1..2)
        # draws can reach 12 (e.g. 2,2 / 2,2 / 2,2), which the encoder
        # correctly REFUSES; draw the valid combination directly
        sampling = data.draw(
            st.tuples(
                *(
                    st.tuples(st.integers(1, 2), st.integers(1, 2))
                    for _ in range(3)
                )
            ).filter(lambda s: sum(hs * vs for hs, vs in s) <= 10)
        )
        sampling = list(sampling)
    hmax = max(h for h, _ in sampling)
    vmax = max(v for _, v in sampling)
    w = data.draw(st.integers(1, 9))
    h = data.draw(st.integers(1, 7))
    dims = [(-(-w * hs // hmax), -(-h * vs // vmax)) for hs, vs in sampling]
    prec = data.draw(st.integers(2, 16))
    pt = data.draw(st.integers(0, min(3, prec - 1)))
    pred = data.draw(st.integers(1, 7))
    ri = data.draw(st.sampled_from([0, 1, 2, 5]))
    smax = (1 << prec) - 1
    planes = [
        [data.draw(st.integers(0, smax)) for _ in range(cw * ch)]
        for cw, ch in dims
    ]
    d = jpeg_decode_pixels(jpeg_lossless_bytes(
        w, h, planes, predictor=pred, precision=prec, point_transform=pt,
        sampling=sampling, restart_interval=ri))
    lost = ~((1 << pt) - 1) & 0xFFFF
    exp = [[v & lost for v in p] for p in planes]
    if prec <= 8:
        got = [list(p) for p in d["planes"]]
    else:
        import struct as _struct

        got = [list(_struct.unpack(f">{len(pl)}H", p))
               for pl, p in zip(planes, d["planes"])]
    assert got == exp
    assert d["plane_dims"] == dims


@settings(max_examples=30, deadline=None)
@given(data=st.data())
def test_wav_float_roundtrip_property(data):
    """decode(encode(samples)) is exact for RANDOM IEEE-float WAVs
    (fmt 3, round 13): float64 round-trips identically; float32
    round-trips through one float32 quantization (the pack) — values
    beyond ±1.0 survive untouched, the headroom float WAV exists
    for."""
    import math
    import struct as _struct

    from lfb_data_warehouse_spark.operators.multimodal import (
        wav_decode_samples,
        wav_float_bytes,
    )

    bits = data.draw(st.sampled_from([32, 64]))
    ch = data.draw(st.sampled_from([1, 2, 4]))
    n = data.draw(st.integers(1, 20)) * ch
    vals = [
        data.draw(st.floats(-8.0, 8.0, allow_nan=False)) for _ in range(n)
    ]
    d = wav_decode_samples(wav_float_bytes(ch, 48000, vals, bits=bits))
    if bits == 64:
        want = vals
    else:
        want = [_struct.unpack("<f", _struct.pack("<f", v))[0] for v in vals]
    assert d["samples"] == want
    assert d["encoding"] == "float" and d["bits"] == bits
    assert d["n_samples"] == n // ch and d["channels"] == ch


@settings(max_examples=30, deadline=None)
@given(data=st.data())
def test_avi_av_roundtrip_property(data):
    """decode(encode(frames, audio)) is exact for RANDOM interleaved
    A/V AVIs (round 14b): random dims (including padding-free
    stride-multiple widths), frame counts, orientations (bottom-up /
    top-down DIB), audio channel counts, sample values and '01wb'
    chunk splits — including splits landing mid-sample — all recover
    the rasters and int16 samples bit-for-bit."""
    import struct as _struct

    from lfb_data_warehouse_spark.operators.avicodec import (
        avi_av_bytes,
        avi_decode_frames,
    )

    w = data.draw(st.integers(1, 9))
    h = data.draw(st.integers(1, 7))
    nf = data.draw(st.integers(1, 4))
    bottom_up = data.draw(st.booleans())
    frames = [
        bytes(data.draw(st.integers(0, 255)) for _ in range(w * h * 3))
        for _ in range(nf)
    ]
    ch = data.draw(st.sampled_from([1, 2, 3]))
    n = data.draw(st.integers(0, 12)) * ch
    samples = [data.draw(st.integers(-32768, 32767)) for _ in range(n)]
    audio = _struct.pack(f"<{n}h", *samples)
    # random chunking of the audio bytes, mid-sample splits included
    splits = []
    left = len(audio)
    while left > 0:
        s = data.draw(st.integers(1, left))
        splits.append(s)
        left -= s
    blob = avi_av_bytes(
        w, h, frames, codec="DIB", audio=audio,
        audio_rate=data.draw(st.sampled_from([8000, 44100])),
        audio_channels=ch, bottom_up=bottom_up,
        audio_splits=splits or None,
        with_index=data.draw(st.booleans()),
    )
    d = avi_decode_frames(blob)
    assert d["codec"] == "dib"
    assert (d["width"], d["height"], d["n_frames"]) == (w, h, nf)
    assert [bytes(fr["raster"]) for fr in d["frames"]] == frames
    assert d["audio"]["samples"] == samples
    assert d["audio"]["n_samples"] == n // ch
    assert d["audio"]["channels"] == ch


@settings(max_examples=200, deadline=None)
@given(data=st.data())
def test_vad_segment_counts_property(data):
    """vad_segment_counts vs an independently-written model (windows
    via explicit slicing, runs via itertools.groupby) over random
    signals, channel counts, window sizes and thresholds — including
    the adversarial all-at-gate signal where every window sits exactly
    on the strict >= boundary."""
    import itertools

    from lfb_data_warehouse_spark.operators.multimodal import (
        vad_segment_counts,
    )

    ch = data.draw(st.integers(1, 3))
    window = data.draw(st.integers(1, 6))
    threshold = data.draw(st.integers(0, 600))
    n_frames = data.draw(st.integers(0, 40))
    at_gate = data.draw(st.booleans())
    if at_gate and window * ch > 0:
        # every sample exactly threshold: each window sum == gate
        samples = [threshold] * (n_frames * ch)
    else:
        samples = [
            data.draw(st.integers(-1500, 1500)) for _ in range(n_frames * ch)
        ]

    # independent model
    nw = n_frames // window
    gate = threshold * window * ch
    voiced = [
        sum(abs(x) for x in samples[w * window * ch : (w + 1) * window * ch])
        >= gate
        for w in range(nw)
    ]
    runs = [len(list(g)) for v, g in itertools.groupby(voiced) if v]
    expect = (nw, voiced.count(False), len(runs), max(runs, default=0))
    assert vad_segment_counts(samples, ch, window, threshold) == expect
