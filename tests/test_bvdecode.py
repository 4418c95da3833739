"""Vectorized-decoder parity: bvdecode must equal the scalar decoder
bit-for-bit on every code path.

The scalar :func:`~webgraph_rs_spark.bvgraph.decode_range` is itself
pinned against the reference's shipped cnr-2000 streams (the goldens in
test_bvgraph_golden.py mirror ``sequential.rs:300-385`` /
``masked_iter.rs:34-63``), so scalar-equality here transitively pins the
vector path to the reference too.
"""

import os

import numpy as np
import pytest

from webgraph_rs_spark.bvgraph import (
    BvProperties,
    decode_offsets,
    decode_range,
    encode_range_bv,
    read_properties,
)
from webgraph_rs_spark.bvdecode import decode_range_arrays

DATA = "/root/reference/data/cnr-2000"


def _offsets_from_sizes(sizes):
    out = np.zeros(len(sizes) + 1, dtype=np.int64)
    np.cumsum(np.asarray(sizes, dtype=np.int64), out=out[1:])
    return out


def _scalar_arrays(data, offsets, lo, hi, props, bit_base=0):
    src, dst = [], []
    for x, succs in decode_range(data, offsets, lo, hi, props,
                                 bit_base=bit_base):
        src.extend([x] * len(succs))
        dst.extend(succs)
    return np.asarray(src, dtype=np.int64), np.asarray(dst, dtype=np.int64)


def _roundtrip(groups, n, props, lo=0):
    payload, bits, sizes, _ = encode_range_bv(0, n, groups, props)
    offsets = _offsets_from_sizes(sizes)
    seed = max(0, lo - props.window_size * props.max_ref_count)
    s_s, d_s = _scalar_arrays(payload, offsets, lo, n, props)
    s_v, d_v = decode_range_arrays(
        payload, offsets[seed : n + 1], seed, lo, n, props
    )
    assert np.array_equal(s_v, s_s)
    assert np.array_equal(d_v, d_s)


CASES = [
    # (window, maxref, minint, codes overrides, endianness)
    (7, 3, 4, {}, "big"),
    (7, 3, 4, {}, "little"),
    (0, 0, 4, {}, "big"),
    (7, 3, 0, {}, "big"),
    (4, 1, 2, {"RESIDUALS": "DELTA", "BLOCKS": "UNARY"}, "big"),
    (7, 3, 4, {"RESIDUALS": "PI2", "OUTDEGREES": "DELTA"}, "little"),
    (7, 3, 4, {"RESIDUALS": "OMEGA", "INTERVALS": "DELTA"}, "big"),
    (7, 3, 4, {"RESIDUALS": "ZETA5"}, "little"),
]


def _props(window, maxref, minint, overrides, endianness, n):
    codes = {
        "OUTDEGREES": "GAMMA",
        "REFERENCES": "UNARY",
        "BLOCKS": "GAMMA",
        "INTERVALS": "GAMMA",
        "RESIDUALS": "ZETA3",
    }
    codes.update(overrides)
    return BvProperties(
        nodes=n, arcs=0, window_size=window, max_ref_count=maxref,
        min_interval_length=minint, zeta_k=3, codes=codes,
        endianness=endianness,
    )


@pytest.mark.parametrize("window,maxref,minint,overrides,endianness", CASES)
def test_structured_graph_parity(window, maxref, minint, overrides,
                                 endianness):
    """Deterministic graph exercising copy blocks (shared runs across
    consecutive nodes), intervals (consecutive spans), residuals, empty
    nodes, and a full-copy (blockless reference)."""
    n = 64
    rng = np.random.default_rng(7)
    groups = {}
    base = list(range(10, 18)) + [30, 41, 52]
    for x in range(n):
        if x % 7 == 3:
            continue  # empty node
        succs = set(base)  # shared run -> references + copy blocks
        succs.update(range(x, x + 5))  # interval at minint >= 4
        succs.update(int(v) for v in rng.integers(0, 2 * n, size=4))
        if x == 20:
            succs = set(base)  # identical to window parent: full copy
        groups[x] = sorted(succs)
    props = _props(window, maxref, minint, overrides, endianness, n)
    _roundtrip(groups, n, props)
    # also a mid-range decode (seeded lookback, _SliceOffsets shape)
    _roundtrip(groups, n, props, lo=n // 2)


def test_hub_node_scalar_tail():
    """A hub whose residual list far outlives the wavefront width must
    route through the scalar-tail fallback and still match."""
    n = 40
    rng = np.random.default_rng(3)
    groups = {
        x: sorted(set(int(v) for v in rng.integers(0, 10 * n, size=6)))
        for x in range(n)
    }
    groups[17] = sorted(
        set(int(v) for v in rng.integers(0, 100_000, size=3000))
    )
    props = _props(7, 3, 4, {}, "big", n)
    _roundtrip(groups, n, props)


def test_bit_base_byte_slice():
    """Decoding from a byte-range slice (nonzero bit_base) matches the
    whole-buffer decode — the per-task range-read path."""
    n = 120
    rng = np.random.default_rng(11)
    groups = {
        x: sorted(set(int(v) for v in rng.integers(0, 2 * n, size=5)))
        for x in range(n)
    }
    props = _props(7, 3, 4, {}, "big", n)
    payload, bits, sizes, _ = encode_range_bv(0, n, groups, props)
    offsets = _offsets_from_sizes(sizes)
    lo, hi = 60, n
    seed = lo - props.window_size * props.max_ref_count
    byte_start = int(offsets[seed]) >> 3
    sliced = payload[byte_start:]
    s_s, d_s = _scalar_arrays(payload, offsets, lo, hi, props)
    s_v, d_v = decode_range_arrays(
        sliced, offsets[seed : hi + 1], seed, lo, hi, props,
        bit_base=byte_start << 3,
    )
    assert np.array_equal(s_v, s_s)
    assert np.array_equal(d_v, d_s)


def test_property_random_graphs_all_codes():
    """Hypothesis sweep: arbitrary small graphs x code assignments x
    endianness roundtrip scalar==vector (mirrors the reference's
    proptest-style codec fuzzing)."""
    from hypothesis import given, settings, strategies as st

    succ_lists = st.lists(
        st.lists(st.integers(min_value=0, max_value=200), max_size=12),
        min_size=1,
        max_size=40,
    )

    @settings(max_examples=60, deadline=None)
    @given(
        lists=succ_lists,
        window=st.sampled_from([0, 1, 3, 7]),
        maxref=st.sampled_from([0, 1, 3]),
        minint=st.sampled_from([0, 2, 4]),
        res_code=st.sampled_from(
            ["ZETA3", "ZETA1", "GAMMA", "DELTA", "PI1", "PI3", "OMEGA"]
        ),
        out_code=st.sampled_from(["GAMMA", "DELTA"]),
        little=st.booleans(),
    )
    def check(lists, window, maxref, minint, res_code, out_code, little):
        n = len(lists)
        groups = {
            x: sorted(set(v)) for x, v in enumerate(lists) if v
        }
        props = _props(
            window,
            maxref if window else 0,
            minint,
            {"RESIDUALS": res_code, "OUTDEGREES": out_code},
            "little" if little else "big",
            n,
        )
        _roundtrip(groups, n, props)

    check()


@pytest.mark.skipif(
    not os.path.exists(DATA + ".graph"),
    reason="reference cnr-2000 data not present",
)
def test_cnr2000_prefix_and_midrange_parity():
    """Real-crawl structure (the shipped Java bitstream): vector decode
    equals scalar decode on a 60k-node prefix and on a mid-stream range
    with full lookback seeding."""
    props = read_properties(DATA + ".properties")
    with open(DATA + ".graph", "rb") as f:
        data = f.read()
    with open(DATA + ".offsets", "rb") as f:
        offsets = decode_offsets(f.read(), props.nodes, props.endianness)
    hi = 60_000
    s_s, d_s = _scalar_arrays(data, offsets, 0, hi, props)
    s_v, d_v = decode_range_arrays(data, offsets[: hi + 1], 0, 0, hi, props)
    assert np.array_equal(s_v, s_s) and np.array_equal(d_v, d_s)
    lo, hi = 200_000, 205_000
    seed = lo - props.window_size * props.max_ref_count
    s_s, d_s = _scalar_arrays(data, offsets, lo, hi, props)
    s_v, d_v = decode_range_arrays(
        data, offsets[seed : hi + 1], seed, lo, hi, props
    )
    assert np.array_equal(s_v, s_s) and np.array_equal(d_v, d_s)


def test_spark_full_cycle_sharded_le_custom_codes(spark, tmp_path):
    """Whole-stack crossing in one pass: Spark-parallel compress with
    non-default codes (PI2 residuals, DELTA outdegrees) into a
    little-endian SHARDED layout, then direct sharded ingest through
    the vectorized decoder — arcs must roundtrip exactly."""
    import warnings

    from webgraph_rs_spark.graph import from_edges
    from webgraph_rs_spark.bvgraph import read_bvgraph, write_bvgraph

    rng = np.random.default_rng(23)
    edges = sorted(
        {(int(s), int(d)) for s, d in rng.integers(0, 300, size=(2500, 2))}
    )
    g = from_edges(
        spark,
        spark.createDataFrame(edges, "src long, dst long"),
        num_nodes=300,
    )
    base = str(tmp_path / "cycle")
    write_bvgraph(
        spark, g, base, num_partitions=4, shards=4, endianness="little",
        codes={"RESIDUALS": "PI2", "OUTDEGREES": "DELTA"},
    )
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", RuntimeWarning)  # LE best-effort note
        g2 = read_bvgraph(spark, base, canonical=False)
    got = sorted((r["src"], r["dst"]) for r in g2.edges.collect())
    assert got == edges
