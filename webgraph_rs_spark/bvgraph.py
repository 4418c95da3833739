"""Sequential BVGraph (.graph bitstream) decoder -> edge DataFrame.

Reads the compressed graph format of the WebGraph framework (Boldi &
Vigna, "The WebGraph Framework I: Compression Techniques", WWW 2004) so
the engine can ingest the reference's real test data (cnr-2000) and be
validated against reference-pinned goldens instead of synthetic fixtures.

Format (reference: ``webgraph/src/graphs/bvgraph/mod.rs:35-137``): the
``.graph`` file is a big-endian bitstream of per-node successor lists —
outdegree, then an optional reference part (copy blocks over a previous
node's list, ``random_access.rs:243-290`` / ``sequential.rs:300-385``),
then intervals, then zeta-coded residual gaps. The ``.properties`` file
carries n, m and the compression parameters; the ``.offsets`` file is a
gamma-coded stream of per-node bit-offset gaps. Default codes
(``comp/flags.rs:45-49``): outdegrees/blocks/intervals GAMMA, references
UNARY, residuals ZETA(k); Java-produced files are big-endian.

The encoder side (:func:`write_bvgraph`) implements the full greedy
Boldi-Vigna compressor — windowed reference selection, copy blocks,
intervalization — and reproduces the shipped cnr-2000 bitstream
bit-for-bit at the reference's default parameters (see
tests/test_bvgraph_golden.py::test_windowed_compressor_bit_identical_cnr2000).

Spark mapping — this is a custom *source*, the one place per-partition
imperative logic is warranted: the driver decodes the (tiny) offsets
stream, splits the node domain into ranges balanced by compressed BITS
(not node count — hubs compress unevenly), and each task decodes its
range independently, seeding backward references (bounded by
``windowsize * maxrefcount`` nodes, cnr-2000: 7*3=21) via random access
into the bitstream. Tasks emit Arrow batches through ``mapInPandas``.
At 100 TB the same plan holds: the offsets stream stays a per-file
driver-side index (gamma gaps decode at ~10^7/s), the ``.graph`` bytes
are fetched per-task as byte ranges instead of a broadcast, and the
output lands in the canonical hash-partitioned parquet edge layout —
decode happens exactly once, every downstream query reads parquet.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .graph import LinkGraph


# ------------------------------------------------------------ bit reader


class BitReader:
    """MSB-first bit reader over ``bytes`` (big-endian bitstream, as
    produced by Java's OutputBitStream / dsi-bitstream's BE impls)."""

    __slots__ = ("data", "pos")

    def __init__(self, data: bytes, pos: int = 0):
        self.data = data
        self.pos = pos

    def read_bits(self, k: int) -> int:
        if k == 0:
            return 0
        p = self.pos
        self.pos = p + k
        start = p >> 3
        end = (p + k + 7) >> 3
        chunk = int.from_bytes(self.data[start:end], "big")
        excess = (end << 3) - (p + k)
        return (chunk >> excess) & ((1 << k) - 1)

    def read_unary(self) -> int:
        """Count of 0-bits before the terminating 1-bit."""
        data = self.data
        p = self.pos
        n = 0
        while True:
            byte_i = p >> 3
            bit_off = p & 7
            cur = data[byte_i] & (0xFF >> bit_off)
            if cur:
                hi = 8 - cur.bit_length()  # MSB index of first set bit
                n += hi - bit_off
                self.pos = (byte_i << 3) + hi + 1
                return n
            n += 8 - bit_off
            p = (byte_i + 1) << 3

    def read_gamma(self) -> int:
        h = self.read_unary()
        return ((1 << h) | self.read_bits(h)) - 1

    def read_zeta(self, k: int) -> int:
        """Boldi-Vigna zeta_k code (shrinking exponential Golomb)."""
        h = self.read_unary()
        left = 1 << (h * k)
        m = self.read_bits(h * k + k - 1)
        if m < left:
            return m + left - 1
        return (m << 1) + self.read_bits(1) - 1

    def read_delta(self) -> int:
        """Elias delta: gamma-coded bit length, then the mantissa."""
        h = self.read_gamma()
        return ((1 << h) | self.read_bits(h)) - 1

    def read_pi(self, k: int) -> int:
        """Zuckerli pi_k code (Versari et al., "Zuckerli: A New Compressed
        Representation for Graphs", 2020; the reference accepts PI1-PI4
        residual flags, ``comp/flags.rs:89-92``). x = n+1 with bit length
        h: l = ceil(h / 2^k) in unary, then l*2^k - h in k fixed bits,
        then the h-1 low bits of x. pi_0 is bit-identical to gamma (the
        property test pins this)."""
        l = self.read_unary() + 1
        h = (l << k) - self.read_bits(k)
        rem = self.read_bits(h - 1)
        return ((1 << (h - 1)) | rem) - 1

    def read_omega(self) -> int:
        """Elias omega (recursive length-of-length; Elias 1975, accepted
        by the reference as the OMEGA flag, ``comp/flags.rs:88``): groups
        are read leading-1 first, a 0 bit terminates; codes n >= 0 as
        x = n+1 like the other naturals codes here."""
        n = 1
        while self.read_bits(1) == 1:
            n = (1 << n) | self.read_bits(n)
        return n - 1


class LEBitReader(BitReader):
    """LSB-first bit reader — the little-endian flavor produced by
    webgraph-rs / ε-serde toolchains (``endianness=little`` in
    ``.properties``; dispatch: ``load.rs:734-766``, names from
    dsi-bitstream's ``BE::NAME``/``LE::NAME`` = "big"/"little").

    Convention (the natural LE mirror): bit ``i`` of the stream is bit
    ``i & 7`` of byte ``i >> 3`` counting from the LSB, and
    ``read_bits(k)`` returns the first-read bit in the least-significant
    position. Instantaneous-code formulas (gamma/delta/zeta) are shared
    with the BE reader via inheritance — only the two bit primitives
    differ. Validated by writer/reader self-roundtrip (the format is
    self-describing; no LE reference data ships with the reference, so
    codeword-level parity with dsi-bitstream's LE minimal-binary split
    is asserted only through our own writer)."""

    def read_bits(self, k: int) -> int:
        if k == 0:
            return 0
        p = self.pos
        self.pos = p + k
        start = p >> 3
        end = (p + k + 7) >> 3
        chunk = int.from_bytes(self.data[start:end], "little")
        return (chunk >> (p & 7)) & ((1 << k) - 1)

    def read_unary(self) -> int:
        data = self.data
        p = self.pos
        n = 0
        while True:
            byte_i = p >> 3
            bit_off = p & 7
            cur = data[byte_i] >> bit_off
            if cur:
                tz = (cur & -cur).bit_length() - 1  # trailing zeros
                self.pos = (byte_i << 3) + bit_off + tz + 1
                return n + tz
            n += 8 - bit_off
            p = (byte_i + 1) << 3


def nat2int(n: int) -> int:
    """Inverse of the standard nonneg<->int bijection (0,-1,1,-2,2,...)."""
    return (n >> 1) ^ -(n & 1)


# ------------------------------------------------------------ properties


# per-field default codes (comp/flags.rs:45-49); the Java manifest can
# override any field via compressionflags tokens like OUTDEGREES_DELTA
_FIELDS = {
    "OUTDEGREES": "GAMMA",
    "REFERENCES": "UNARY",
    "BLOCKS": "GAMMA",
    "INTERVALS": "GAMMA",
    "RESIDUALS": "ZETA",
}
def _parse_code_token(code: str, zeta_k: int | None = None) -> str:
    """Validate/normalize one compressionflags code token, mirroring the
    reference's ``CompFlags::code_from_str`` (``comp/flags.rs:82-102``):
    bare ``ZETA`` takes the file-level zetak, literal ``ZETA1``-``ZETA7``
    carry their own k (the token's k wins over ``zetak``), ``PI1``-``PI4``
    and ``OMEGA`` are the new-codes set. Returns the canonical token
    (``"ZETA"`` stays parameterless only when no zeta_k is supplied).
    Raises NotImplementedError on anything else, like the reference's
    ``None`` -> unwrap panic path."""
    code = code.upper()
    if code in ("GAMMA", "UNARY", "DELTA", "OMEGA"):
        return code
    if code == "ZETA":
        return f"ZETA{zeta_k}" if zeta_k is not None else "ZETA"
    if code.startswith("ZETA") and code[4:].isdigit():
        k = int(code[4:])
        if 1 <= k <= 7:  # flags.rs:93-99 / "Only ζ₁-ζ₇ are supported"
            return code
    if code.startswith("PI") and code[2:].isdigit():
        k = int(code[2:])
        if 1 <= k <= 4:  # flags.rs:89-92
            return code
    raise NotImplementedError(f"unsupported code {code!r}")


@dataclass
class BvProperties:
    nodes: int
    arcs: int
    window_size: int
    max_ref_count: int
    min_interval_length: int
    zeta_k: int
    codes: dict = None  # field -> code name, per _FIELDS
    endianness: str = "big"  # "big" (Java) | "little" (webgraph-rs)

    def new_reader(self, data: bytes, pos: int = 0) -> "BitReader":
        """Bit reader of the manifest's endianness (``load.rs:734-766``
        dispatch)."""
        cls = BitReader if self.endianness == "big" else LEBitReader
        return cls(data, pos)

    def new_writer(self) -> "BitWriter":
        cls = BitWriter if self.endianness == "big" else LEBitWriter
        return cls()

    def reader_for(self, field: str):
        """Return an unbound read method for the field's code, taken from
        the endianness-correct reader class (grabbing ``BitReader``'s
        methods unconditionally would run BE ``read_unary`` on LE data)."""
        code = (self.codes or _FIELDS)[field]
        rcls = BitReader if self.endianness == "big" else LEBitReader
        if code == "GAMMA":
            return rcls.read_gamma
        if code == "UNARY":
            return rcls.read_unary
        if code == "DELTA":
            return rcls.read_delta
        if code == "OMEGA":
            return rcls.read_omega
        if code.startswith("ZETA"):
            # literal ZETA<k> tokens carry their own k (flags.rs:93-99);
            # bare ZETA falls back to the file-level zetak
            k = int(code[4:]) if code[4:] else self.zeta_k
            return lambda r: r.read_zeta(k)
        if code.startswith("PI"):
            k = int(code[2:])
            return lambda r: r.read_pi(k)
        raise NotImplementedError(code)  # pragma: no cover

    def readers(self):
        """(outdegree, reference, block, interval, residual) read
        functions, bound once (a per-call rebuild would dominate the
        hot decode loop)."""
        cached = getattr(self, "_readers", None)
        if cached is None:
            cached = tuple(
                self.reader_for(f)
                for f in (
                    "OUTDEGREES",
                    "REFERENCES",
                    "BLOCKS",
                    "INTERVALS",
                    "RESIDUALS",
                )
            )
            object.__setattr__(self, "_readers", cached)
        return cached

    def writer_for(self, field: str):
        """Unbound write method ``f(writer, value)`` for the field's code
        (works for both :class:`BitWriter` and :class:`BitCounter`)."""
        code = (self.codes or _FIELDS)[field]
        if code == "GAMMA":
            return lambda w, v: w.write_gamma(v)
        if code == "UNARY":
            return lambda w, v: w.write_unary(v)
        if code == "DELTA":
            return lambda w, v: w.write_delta(v)
        if code == "OMEGA":
            return lambda w, v: w.write_omega(v)
        if code.startswith("ZETA"):
            k = int(code[4:]) if code[4:] else self.zeta_k
            return lambda w, v: w.write_zeta(v, k)
        if code.startswith("PI"):
            k = int(code[2:])
            return lambda w, v: w.write_pi(v, k)
        raise NotImplementedError(code)  # pragma: no cover

    def writers(self):
        """(outdegree, reference, block, interval, residual) write
        functions, bound once — mirror of :meth:`readers`."""
        cached = getattr(self, "_writers", None)
        if cached is None:
            cached = tuple(
                self.writer_for(f)
                for f in (
                    "OUTDEGREES",
                    "REFERENCES",
                    "BLOCKS",
                    "INTERVALS",
                    "RESIDUALS",
                )
            )
            object.__setattr__(self, "_writers", cached)
        return cached


def read_properties(path: str) -> BvProperties:
    """Parse the Java-style ``.properties`` manifest (key=value lines).

    ``compressionflags`` tokens (e.g. ``OUTDEGREES_DELTA|RESIDUALS_PI2``)
    override the per-field default codes; the full reference vocabulary
    (``comp/flags.rs:82-102``) is supported: GAMMA/UNARY/DELTA/OMEGA,
    literal ``ZETA1``-``ZETA7`` (the token's k wins over the ``zetak``
    line, like the reference), bare ``ZETA`` (takes ``zetak``), and
    ``PI1``-``PI4``."""
    kv: dict[str, str] = {}
    with open(path, "r", encoding="utf-8") as f:
        for line in f:
            line = line.strip()
            if not line or line.startswith("#") or "=" not in line:
                continue
            k, v = line.split("=", 1)
            kv[k.strip()] = v.strip()
    codes = dict(_FIELDS)
    zeta_k = int(kv.get("zetak", 3))
    flags = kv.get("compressionflags", "")
    if flags:
        for token in flags.replace(",", "|").split("|"):
            token = token.strip()
            if not token:
                continue
            field, _, code = token.rpartition("_")
            if field.upper() not in codes:
                raise NotImplementedError(
                    f"unsupported compression flag {token!r}"
                )
            try:
                # a literal ZETA<k> token's own k wins over the zetak line,
                # exactly like the reference (flags.rs:93-99: "ZETA2" ->
                # Zeta(2) regardless of zetak); bare ZETA takes zetak
                codes[field.upper()] = _parse_code_token(code, zeta_k)
            except NotImplementedError as e:
                raise NotImplementedError(
                    f"unsupported compression flag {token!r}"
                ) from e
    endianness = kv.get("endianness", "big")  # absent in Java manifests
    if endianness not in ("big", "little"):
        raise NotImplementedError(f"unsupported endianness {endianness!r}")
    if endianness == "little":
        # no external LE fixture ships with the reference: our LE codeword
        # conventions are validated by self-roundtrip only, so flag the
        # unverified-parity risk once instead of silently accepting
        import warnings

        warnings.warn(
            "little-endian BVGraph: codeword-level parity with "
            "dsi-bitstream's LE streams is unverified (no external LE "
            "fixture); files written by this library roundtrip, but "
            "ingesting webgraph-rs-produced LE data is best-effort",
            RuntimeWarning,
            stacklevel=2,
        )
    return BvProperties(
        nodes=int(kv["nodes"]),
        arcs=int(kv["arcs"]),
        window_size=int(kv.get("windowsize", 7)),
        max_ref_count=int(kv.get("maxrefcount", 3)),
        min_interval_length=int(kv.get("minintervallength", 4)),
        zeta_k=zeta_k,
        codes=codes,
        endianness=endianness,
    )


def decode_offsets(
    offsets_bytes: bytes, n: int, endianness: str = "big"
) -> np.ndarray:
    """n+1 absolute bit offsets from the gamma-coded gap stream
    (``mod.rs:120-128``: first gap 0, one trailing end-of-graph offset).
    The offsets stream shares the graph stream's endianness."""
    # NOTE: a vectorized two-pass decode (1-bit boundary scan + batched
    # mantissa gather) was tried and measured 5x SLOWER than this loop —
    # the boundary scan must step through every 1-bit inside mantissas
    # (~9 ones/code on cnr-2000), so the "cheap" pass does ~9x the
    # iterations. Gamma stream decode is chain-sequential; the scalar
    # loop stays.
    r = (BitReader if endianness == "big" else LEBitReader)(offsets_bytes)
    out = np.empty(n + 1, dtype=np.int64)
    acc = 0
    for i in range(n + 1):
        acc += r.read_gamma()
        out[i] = acc
    return out


# ------------------------------------------------------------ list decode


def decode_successors(
    data: bytes,
    offsets,
    x: int,
    props: BvProperties,
    resolve,
    bit_base: int = 0,
) -> list[int]:
    """Decode node ``x``'s successor list; ``resolve(y)`` returns the
    already-decoded list of an earlier node for the reference part.
    ``offsets`` is anything indexable by node id; ``bit_base`` is the
    absolute bit position of ``data[0]`` — nonzero when ``data`` is a
    byte-range slice of the file rather than the whole file.
    Mirrors ``sequential.rs:300-385``."""
    return decode_list_at(
        props.new_reader(data, int(offsets[x]) - bit_base), x, props, resolve
    )


def decode_list_at(
    r: BitReader,
    x: int,
    props: BvProperties,
    resolve,
    acct: dict | None = None,
) -> list[int]:
    """Decode one successor list from the reader's CURRENT position
    (sequential form — enables offsets-free ingestion and the bit-level
    code accounting of the reference's ``analyze codes``). ``acct``, if
    given, accumulates per-field bit totals and arc-class counts in the
    exact taxonomy the Java compressor writes into ``.properties``
    (bitsforoutdegrees/-references/-blocks/-intervals/-residuals,
    copiedarcs/intervalisedarcs/residualarcs, reference-value sums)."""
    rd_out, rd_ref, rd_blk, rd_int, rd_res = props.readers()
    p0 = r.pos
    d = rd_out(r)
    if acct is not None:
        acct["bitsforoutdegrees"] += r.pos - p0
    if d == 0:
        return []
    res: list[int] = []
    if props.window_size:
        p1 = r.pos
        ref = rd_ref(r)
        if acct is not None:
            acct["bitsforreferences"] += r.pos - p1
            acct["_ref_sum"] += ref
            acct["_last_ref"] = ref
            if ref:
                acct["_ref_nonzero"] += 1
        if ref:
            parent = resolve(x - ref)
            p2 = r.pos
            nb = rd_blk(r)
            if nb == 0:
                res.extend(parent)  # no blocks => copy everything
            else:
                # first block verbatim, later blocks are stored minus 1;
                # even-indexed blocks copy, odd-indexed skip, even count
                # copies the tail (masked_iter.rs:34-63)
                blocks = [rd_blk(r)]
                for _ in range(1, nb):
                    blocks.append(rd_blk(r) + 1)
                idx = 0
                for bi, b in enumerate(blocks):
                    end = idx + b
                    if bi % 2 == 0:
                        res.extend(parent[idx:end])
                    idx = end
                if nb % 2 == 0:
                    res.extend(parent[idx:])
            if acct is not None:
                acct["bitsforblocks"] += r.pos - p2
                acct["copiedarcs"] += len(res)
    left = d - len(res)
    if left and props.min_interval_length:
        p3 = r.pos
        n_before_intervals = len(res)
        ic = rd_int(r)
        if ic:
            # first extreme is nat2int-coded relative to x; later extremes
            # are gaps from previous right extreme + 2; lengths are stored
            # minus min_interval_length
            start = x + nat2int(rd_int(r))
            ln = rd_int(r) + props.min_interval_length
            res.extend(range(start, start + ln))
            left -= ln
            start += ln
            for _ in range(1, ic):
                start += 1 + rd_int(r)
                ln = rd_int(r) + props.min_interval_length
                res.extend(range(start, start + ln))
                left -= ln
                start += ln
        if acct is not None:
            acct["bitsforintervals"] += r.pos - p3
            acct["intervalisedarcs"] += len(res) - n_before_intervals
    if left:
        p4 = r.pos
        v0 = rd_res(r)
        prev = x + nat2int(v0)
        res.append(prev)
        if acct is not None:
            _bump(acct["residualexpstats"], v0)
        for _ in range(1, left):
            g = rd_res(r)
            prev += 1 + g
            res.append(prev)
            if acct is not None:
                # the Java gap stats record the UNDECREMENTED gap (g + 1)
                _bump(acct["residualexpstats"], g + 1)
        if acct is not None:
            acct["bitsforresiduals"] += r.pos - p4
            acct["residualarcs"] += left
    res.sort()
    if acct is not None and res:
        # successor gap stats over the final sorted list: folded first
        # offset, then plain consecutive differences
        _bump(acct["successorexpstats"], int2nat(res[0] - x))
        for a, b in zip(res, res[1:]):
            _bump(acct["successorexpstats"], b - a)
    return res


def _bump(hist: list, v: int) -> None:
    """Exponential-bucket increment, Java stats semantics: values < 1 are
    not recorded; bucket = floor(log2 v), clipped to the last bucket."""
    if v >= 1:
        hist[min(v.bit_length() - 1, len(hist) - 1)] += 1


def decode_range(
    data: bytes, offsets, lo: int, hi: int, props: BvProperties,
    bit_base: int = 0,
):
    """Yield (node, successors) for nodes in [lo, hi).

    Backward references resolve recursively (depth <= maxrefcount, the
    compressor's chain bound) with a cache evicted behind the sliding
    window, so memory stays O(window + window*maxrefcount) lists.
    ``bit_base`` positions a byte-range slice (see
    :func:`decode_successors`); references reach back at most
    ``window_size * max_ref_count`` nodes, so a slice starting at that
    seed depth before ``lo`` is always self-sufficient."""
    cache: dict[int, list[int]] = {}

    def resolve(y: int) -> list[int]:
        got = cache.get(y)
        if got is None:
            got = decode_successors(data, offsets, y, props, resolve, bit_base)
            cache[y] = got
        return got

    w = props.window_size
    for x in range(lo, hi):
        yield x, resolve(x)
        cache.pop(x - w, None)


def _balanced_ranges(offsets: np.ndarray, n: int, parts: int) -> list[tuple[int, int]]:
    """Split 0..n into ranges with ~equal compressed BIT size (hubs make
    per-node cost wildly uneven; equal node counts would skew tasks)."""
    total_bits = int(offsets[n])
    cuts = np.searchsorted(
        offsets[: n + 1], np.linspace(0, total_bits, parts + 1)
    ).astype(np.int64)
    cuts[0], cuts[-1] = 0, n
    out = []
    for i in range(parts):
        lo, hi = int(cuts[i]), int(cuts[i + 1])
        if hi > lo:
            out.append((lo, hi))
    return out


# ------------------------------------------------------------ spark source


class _SliceOffsets:
    """Node-id-indexed view over an offsets slice starting at node
    ``base`` — lets :func:`decode_range` keep absolute node indexing
    while each task holds only its own slice of the index."""

    __slots__ = ("arr", "base")

    def __init__(self, arr, base: int):
        self.arr = arr
        self.base = base

    def __getitem__(self, x: int) -> int:
        return self.arr[x - self.base]


def _decoded_frames(
    data: bytes,
    offs: np.ndarray,
    seed: int,
    lo: int,
    hi: int,
    props: "BvProperties",
    bit_base: int = 0,
    chunk: int = 1_000_000,
):
    """Yield pandas ``(src, dst)`` frames for nodes ``[lo, hi)`` decoded
    from a bitstream slice — the shared body of both ingest paths.
    Vectorized (:mod:`~webgraph_rs_spark.bvdecode`) by default;
    ``WEBGRAPH_SPARK_SCALAR_DECODE=1`` forces the scalar reference
    decoder (A/B harness + escape hatch)."""
    import pandas as pd

    if os.environ.get("WEBGRAPH_SPARK_SCALAR_DECODE") == "1":
        sliced = _SliceOffsets(offs, seed)
        src_acc: list[np.ndarray] = []
        dst_acc: list[np.ndarray] = []
        acc = 0
        for x, succs in decode_range(
            data, sliced, lo, hi, props, bit_base=bit_base
        ):
            if not succs:
                continue
            dst = np.asarray(succs, dtype=np.int64)
            src_acc.append(np.full(len(dst), x, dtype=np.int64))
            dst_acc.append(dst)
            acc += len(dst)
            if acc >= chunk:
                yield pd.DataFrame(
                    {"src": np.concatenate(src_acc),
                     "dst": np.concatenate(dst_acc)}
                )
                src_acc, dst_acc, acc = [], [], 0
        if acc:
            yield pd.DataFrame(
                {"src": np.concatenate(src_acc),
                 "dst": np.concatenate(dst_acc)}
            )
        return

    from .bvdecode import decode_range_arrays

    src, dst = decode_range_arrays(
        data, offs, seed, lo, hi, props, bit_base=bit_base
    )
    for i in range(0, len(src), chunk):
        yield pd.DataFrame(
            {"src": src[i : i + chunk], "dst": dst[i : i + chunk]}
        )


def _plan_ranges_task(
    spark: SparkSession, basename: str, n: int, parts: int
) -> DataFrame:
    """Decode the ``.offsets`` gamma stream (or rebuild it from the graph
    stream when the file is missing), split the node domain into
    bit-balanced ranges, and emit one row per range with its byte span
    and offsets-index slice — all inside ONE executor task. The driver
    never runs a per-node loop, never opens ``.graph``, and never holds
    the O(n) offsets array; the only O(n) structure anywhere is this
    task's transient array plus the range rows flowing through the plan
    (the per-range slices, O(n) total, partitioned)."""

    def work(pdf_iter):
        import pandas as pd

        for _ in pdf_iter:
            props_t = read_properties(basename + ".properties")
            if os.path.exists(basename + ".offsets"):
                with open(basename + ".offsets", "rb") as f:
                    offsets = decode_offsets(f.read(), n, props_t.endianness)
            else:
                # `build offsets` fallback: one sequential pass over the
                # bitstream (cli/src/build/offsets.rs)
                with open(basename + ".graph", "rb") as f:
                    offsets = sequential_pass(f.read(), props_t)
            ranges = _balanced_ranges(offsets, n, parts)
            lookback = props_t.window_size * props_t.max_ref_count
            rows = []
            for lo, hi in ranges:
                seed = max(0, lo - lookback)
                rows.append(
                    (
                        int(lo),
                        int(hi),
                        int(seed),
                        int(offsets[seed]) >> 3,
                        # the range task's slice of the index:
                        # offsets[seed..hi] (it never reads past the
                        # START of its last list)
                        [int(v) for v in offsets[seed : hi + 1]],
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=["lo", "hi", "seed", "byte_start", "offs"],
            )

    return spark.range(1).mapInPandas(
        work, "lo long, hi long, seed long, byte_start long, offs array<long>"
    )


def read_bvgraph(
    spark: SparkSession,
    basename: str,
    num_partitions: int | None = None,
    canonical: bool = True,
) -> LinkGraph:
    """Load a BVGraph basename as a :class:`LinkGraph`.

    Driver side: parse ``.properties`` only. An executor task decodes
    the offsets index, splits the node domain into bit-balanced ranges,
    and emits one row per range carrying its byte span and offsets-index
    slice — the driver never reads ``.graph`` bytes, runs no per-node
    loop, and holds no O(n) array. Each range task then opens the file
    itself and reads ONLY its byte range
    ``[offsets[seed]/8 .. offsets[hi]/8)`` where
    ``seed = lo - window_size*max_ref_count`` (the deepest a reference
    chain can reach back), decodes independently, and emits Arrow
    batches (``mapInPandas``). There is no broadcast of any kind, so
    nothing anywhere scales with file size except one transient
    offsets array inside the planning task; at object-store scale the
    per-task ``open`` + ``seek`` becomes a ranged GET and the plan is
    unchanged. One shuffle lands the edges in the canonical hash(src)
    parquet layout every downstream query reuses.
    """
    import pandas as pd

    props = read_properties(basename + ".properties")
    n = props.nodes
    raw = dict(
        line.split("=", 1)
        for line in open(basename + ".properties", encoding="utf-8")
        if "=" in line
    )
    if "shards" in raw:
        return _read_bvgraph_sharded(
            spark, basename, props, int(raw["shards"]),
            int(raw["shardsize"]), num_partitions, canonical,
        )
    if n == 0:
        # degenerate basename: no ranges to decode (repartition(0) would
        # throw), return the empty graph directly
        edges = spark.createDataFrame([], "src long, dst long")
        return LinkGraph(edges, spark.range(0).select("id"), _num_nodes=0, _num_arcs=0)

    parts = num_partitions or spark.sparkContext.defaultParallelism
    # spread the <= parts range rows across parts partitions so each
    # decode task handles ~one range
    ranges_df = _plan_ranges_task(spark, basename, n, parts).repartition(parts)

    def decode_batches(pdf_iter):
        for pdf in pdf_iter:
            for lo, hi, seed, byte_start, offs in zip(
                pdf["lo"], pdf["hi"], pdf["seed"], pdf["byte_start"], pdf["offs"]
            ):
                lo, hi, seed, byte_start = int(lo), int(hi), int(seed), int(byte_start)
                offs = np.asarray(offs, dtype=np.int64)
                # end of the range's bits = start offset of node hi (or
                # EOF bits for the last range): offs[-1] is offsets[hi]
                byte_end = (int(offs[-1]) + 7) >> 3
                with open(basename + ".graph", "rb") as f:
                    f.seek(byte_start)
                    data_l = f.read(byte_end - byte_start)
                yield from _decoded_frames(
                    data_l, offs, seed, lo, hi, props,
                    bit_base=byte_start << 3,
                )

    edges = ranges_df.mapInPandas(decode_batches, "src long, dst long")
    if canonical:
        # decoded lists are already per-node sorted+deduped; one shuffle
        # into the hash(src) layout every downstream iteration reuses
        edges = edges.repartition(parts, "src").sortWithinPartitions("src", "dst")
    vertices = spark.range(n).select("id")
    return LinkGraph(edges, vertices, _num_nodes=n, _num_arcs=props.arcs)


def _read_bvgraph_sharded(
    spark: SparkSession,
    basename: str,
    props: BvProperties,
    nshards: int,
    shardsize: int,
    num_partitions: int | None,
    canonical: bool,
) -> LinkGraph:
    """Ingest a sharded export (``write_bvgraph(..., shards=N)``)
    WITHOUT stitching: each shard is an independent bitstream (windows
    truncate at shard starts), so one task per shard opens only its own
    ``basename-<i>.{graph,offsets}`` pair and decodes — no driver read,
    no broadcast, no serialized prologue of any kind. The export's
    parallelism choice (N contiguous node ranges) is the read
    parallelism; re-export with more shards for finer tasks."""
    import pandas as pd

    n = props.nodes
    if n == 0:
        edges = spark.createDataFrame([], "src long, dst long")
        return LinkGraph(
            edges, spark.range(0).select("id"), _num_nodes=0, _num_arcs=0
        )
    shard_rows = spark.createDataFrame(
        [(i,) for i in range(nshards)], "shard long"
    ).repartition(min(nshards, num_partitions or nshards))

    def decode_shards(pdf_iter):
        for pdf in pdf_iter:
            for shard in pdf["shard"]:
                i = int(shard)
                lo, hi = i * shardsize, min((i + 1) * shardsize, n)
                if hi <= lo:
                    continue
                with open(f"{basename}-{i}.offsets", "rb") as f:
                    offs = decode_offsets(f.read(), hi - lo, props.endianness)
                with open(f"{basename}-{i}.graph", "rb") as f:
                    data_l = f.read()
                # shard streams truncate reference windows at the shard
                # start, so seed == lo: the shard is self-sufficient
                yield from _decoded_frames(data_l, offs, lo, lo, hi, props)

    edges = shard_rows.mapInPandas(decode_shards, "src long, dst long")
    parts = num_partitions or spark.sparkContext.defaultParallelism
    if canonical:
        edges = edges.repartition(parts, "src").sortWithinPartitions(
            "src", "dst"
        )
    vertices = spark.range(n).select("id")
    return LinkGraph(edges, vertices, _num_nodes=n, _num_arcs=props.arcs)


def sequential_pass(
    data: bytes, props: BvProperties, acct: dict | None = None
) -> np.ndarray:
    """One sequential decode of the whole stream with a single reader —
    no ``.offsets`` file needed (backward references resolve from the
    sliding window of the last ``window_size`` decoded lists). Returns
    the n+1 bit offsets; with ``acct``, also fills the per-field code
    accounting. This is the reference's ``build offsets``
    (``cli/src/build/offsets.rs``) and the substrate of ``analyze
    codes`` (``cli/src/analyze/codes.rs``)."""
    n = props.nodes
    r = props.new_reader(data, 0)
    offsets = np.empty(n + 1, dtype=np.int64)
    window: dict[int, list[int]] = {}
    w = props.window_size

    def resolve(y: int) -> list[int]:
        return window[y]  # sequential order guarantees presence

    chains: dict[int, int] = {}  # reference-chain length per window node
    for x in range(n):
        offsets[x] = r.pos
        if acct is not None:
            acct["_last_ref"] = 0
        window[x] = decode_list_at(r, x, props, resolve, acct)
        if acct is not None:
            ref = acct["_last_ref"]
            chains[x] = 0 if ref == 0 else chains[x - ref] + 1
            acct["_chain_sum"] += chains[x]
            chains.pop(x - w, None)
        window.pop(x - w, None)
    offsets[n] = r.pos
    return offsets


def build_offsets(data: bytes, props: BvProperties) -> np.ndarray:
    """Reconstruct the offsets index from the graph bitstream alone."""
    return sequential_pass(data, props)


def analyze_codes(basename: str) -> dict:
    """Bit-level code accounting of a BVGraph file in the exact taxonomy
    the Java compressor records in ``.properties`` — per-field bit totals
    (bitsforoutdegrees/-references/-blocks/-intervals/-residuals) and
    arc-class counts (copiedarcs/intervalisedarcs/residualarcs), plus the
    derived avgref/bitsperlink/bitspernode. On cnr-2000 every one of
    these must equal the values the compressor wrote 15 years ago — a
    whole-stream golden on the decoder's bit accounting."""
    props = read_properties(basename + ".properties")
    with open(basename + ".graph", "rb") as f:
        data = f.read()
    acct = {
        "bitsforoutdegrees": 0,
        "bitsforreferences": 0,
        "bitsforblocks": 0,
        "bitsforintervals": 0,
        "bitsforresiduals": 0,
        "copiedarcs": 0,
        "intervalisedarcs": 0,
        "residualarcs": 0,
        "_ref_sum": 0,
        "_ref_nonzero": 0,
        "_chain_sum": 0,
        "_last_ref": 0,
        # 20 exponential buckets, Java stats semantics (see _bump): the
        # residual stream records the folded first offset and the
        # UNdecremented gaps; the successor stream records the folded
        # first offset and plain consecutive differences
        "residualexpstats": [0] * 20,
        "successorexpstats": [0] * 20,
    }
    offsets = sequential_pass(data, props, acct)
    total_bits = int(offsets[-1])
    n, m = props.nodes, props.arcs
    out = {k: v for k, v in acct.items() if not k.startswith("_")}

    def _avggap(hist: list) -> float:
        # The Java writer's avggap is computed FROM the exponential
        # histogram with each bucket represented by its integer-range
        # midpoint (2^b + 2^{b+1} - 1)/2 — solved by matching cnr-2000's
        # recorded residualavggap=6531.255 / successoravggap=1803.755
        # against the (independently golden) histograms to the last
        # decimal. (The companion avgloggap scalars are CLOSED as
        # unknowable without the 2010 Java source: r5 extended the
        # measured-conventions sweep to 20+ — flat and per-list means of
        # log2/ln over v, v+1, v+2 with firsts folded, unfolded-signed,
        # or |u|+1, writer-sequence decremented gaps, rests-only, and
        # both bucket-midpoint-of-log variants — none matches either
        # recorded scalar, the residual/successor targets sit at
        # inconsistent per-bucket offsets (b+0.723 / b+0.895), and the
        # denominators implied by every tested numerator are
        # non-integral, so the scalar is no simple mean over any tested
        # gap multiset. The 54 other pinned statistics cover the
        # decoder; these two stay omitted.)
        cnt = sum(hist)
        if cnt == 0:
            return 0.0
        mid = sum(c * (2**b + 2 ** (b + 1) - 1) / 2 for b, c in enumerate(hist))
        return round(mid / cnt, 3)

    out.update(
        {
            "nodes": n,
            "arcs": m,
            "total_bits": total_bits,
            # avgref = mean reference-CHAIN length; avgdist = mean
            # reference value (both per the Java stats writer)
            "avgref": round(acct["_chain_sum"] / max(n, 1), 3),
            "avgdist": round(acct["_ref_sum"] / max(n, 1), 3),
            "bitsperlink": round(total_bits / max(m, 1), 3),
            "bitspernode": round(total_bits / max(n, 1), 3),
            "residualavggap": _avggap(acct["residualexpstats"]),
            "successoravggap": _avggap(acct["successorexpstats"]),
        }
    )
    return out


# ------------------------------------------------------------ encoder


class BitWriter:
    """MSB-first bit writer (mirror of :class:`BitReader`)."""

    __slots__ = ("buf", "acc", "nacc", "bits")

    def __init__(self):
        self.buf = bytearray()
        self.acc = 0  # pending bits, MSB-first in the low `nacc` bits
        self.nacc = 0
        self.bits = 0  # total bits written

    def write_bits(self, v: int, k: int) -> None:
        if k == 0:
            return
        self.acc = (self.acc << k) | (v & ((1 << k) - 1))
        self.nacc += k
        self.bits += k
        while self.nacc >= 8:
            self.nacc -= 8
            self.buf.append((self.acc >> self.nacc) & 0xFF)
        self.acc &= (1 << self.nacc) - 1

    def write_unary(self, n: int) -> None:
        while n >= 32:
            self.write_bits(0, 32)
            n -= 32
        self.write_bits(1, n + 1)

    def write_gamma(self, n: int) -> None:
        w = n + 1
        b = w.bit_length()
        self.write_unary(b - 1)
        self.write_bits(w - (1 << (b - 1)), b - 1)

    def write_zeta(self, n: int, k: int) -> None:
        # mirror of Java OutputBitStream.writeZeta (see BitReader.read_zeta)
        x = n + 1
        h = (x.bit_length() - 1) // k
        self.write_unary(h)
        left = 1 << (h * k)
        if x - left < left:
            self.write_bits(x - left, h * k + k - 1)
        else:
            self.write_bits(x, h * k + k)

    def write_delta(self, n: int) -> None:
        w = n + 1
        b = w.bit_length() - 1
        self.write_gamma(b)
        self.write_bits(w - (1 << b), b)

    def write_pi(self, n: int, k: int) -> None:
        # mirror of BitReader.read_pi; fields are emitted as separate
        # write_bits calls in reader order, so the LE subclass inherits
        # a correct pi unchanged (its write_unary/write_bits primitives
        # are the LE mirrors)
        x = n + 1
        h = x.bit_length()
        l = (h + (1 << k) - 1) >> k
        self.write_unary(l - 1)
        self.write_bits((l << k) - h, k)
        self.write_bits(x & ((1 << (h - 1)) - 1), h - 1)

    def write_omega(self, n: int) -> None:
        # mirror of BitReader.read_omega; each group is written as
        # (leading 1, then the low bits) in reader order — valid for both
        # bit orders, see write_pi
        x = n + 1
        groups: list[tuple[int, int]] = []
        while x > 1:
            b = x.bit_length() - 1
            groups.append((x, b))
            x = b
        for gx, b in reversed(groups):
            self.write_bits(1, 1)
            self.write_bits(gx & ((1 << b) - 1), b)
        self.write_bits(0, 1)

    def to_bytes(self) -> bytes:
        out = bytes(self.buf)
        if self.nacc:
            out += bytes([(self.acc << (8 - self.nacc)) & 0xFF])
        return out


class BitCounter:
    """Cost estimator with the :class:`BitWriter` interface — counts bits
    without materializing them (the reference's mock estimator encoder,
    ``bvcomp.rs:470-478``: candidate encodings are costed, only the
    winner is actually written)."""

    __slots__ = ("bits",)

    def __init__(self):
        self.bits = 0

    def write_bits(self, v: int, k: int) -> None:
        self.bits += k

    def write_unary(self, n: int) -> None:
        self.bits += n + 1

    def write_gamma(self, n: int) -> None:
        self.bits += 2 * (n + 1).bit_length() - 1

    def write_zeta(self, n: int, k: int) -> None:
        x = n + 1
        h = (x.bit_length() - 1) // k
        self.bits += h + 1 + (h * k + k - 1 if x - (1 << (h * k)) < (1 << (h * k)) else h * k + k)

    def write_delta(self, n: int) -> None:
        b = (n + 1).bit_length() - 1
        self.bits += 2 * (b + 1).bit_length() - 1 + b

    def write_pi(self, n: int, k: int) -> None:
        h = (n + 1).bit_length()
        self.bits += ((h + (1 << k) - 1) >> k) + k + h - 1

    def write_omega(self, n: int) -> None:
        x = n + 1
        c = 1  # terminating 0 bit
        while x > 1:
            b = x.bit_length() - 1
            c += 1 + b
            x = b
        self.bits += c


class LEBitWriter(BitWriter):
    """LSB-first bit writer (mirror of :class:`LEBitReader`). Gamma and
    delta are inherited (their subfields roundtrip through the LE bit
    primitives unchanged); unary and zeta need LE-specific bit order."""

    def write_bits(self, v: int, k: int) -> None:
        if k == 0:
            return
        self.acc |= (v & ((1 << k) - 1)) << self.nacc
        self.nacc += k
        self.bits += k
        while self.nacc >= 8:
            self.buf.append(self.acc & 0xFF)
            self.acc >>= 8
            self.nacc -= 8

    def write_unary(self, n: int) -> None:
        while n >= 32:
            self.write_bits(0, 32)
            n -= 32
        self.write_bits(1 << n, n + 1)  # LSB-first: n zeros, then the 1

    def write_zeta(self, n: int, k: int) -> None:
        # long codewords are emitted as (x >> 1, then the low bit) so the
        # shared read_zeta — which reads h*k+k-1 bits, tests m < left,
        # then reads the trailing bit — stays valid in LE bit order
        x = n + 1
        h = (x.bit_length() - 1) // k
        self.write_unary(h)
        left = 1 << (h * k)
        if x - left < left:
            self.write_bits(x - left, h * k + k - 1)
        else:
            self.write_bits(x >> 1, h * k + k - 1)
            self.write_bits(x & 1, 1)

    def to_bytes(self) -> bytes:
        out = bytes(self.buf)
        if self.nacc:
            out += bytes([self.acc & 0xFF])
        return out


def int2nat(i: int) -> int:
    """Standard int -> nonneg bijection (inverse of :func:`nat2int`)."""
    return (i << 1) if i >= 0 else (-i << 1) - 1


def encode_successors(x: int, succs, w: BitWriter, zeta_k: int = 3) -> None:
    """Append node ``x``'s list in window-0 / no-interval BV form:
    gamma outdegree, then residuals only (first nat2int-relative to x,
    rest as decremented gaps), all zeta_k — a valid BVGraph bitstream any
    conforming reader accepts (``windowsize=0``, ``minintervallength=0``
    are legal parameter choices of the format, mod.rs:38-45). Window 0
    makes every list self-contained, which is exactly what lets encoding
    parallelize with no cross-partition state."""
    d = len(succs)
    w.write_gamma(d)
    if d == 0:
        return
    prev = int(succs[0])
    w.write_zeta(int2nat(prev - x), zeta_k)
    for s in succs[1:]:
        s = int(s)
        w.write_zeta(s - prev - 1, zeta_k)
        prev = s


def encode_range(lo: int, hi: int, groups: dict, zeta_k: int = 3):
    """Encode nodes [lo, hi) (``groups``: node -> sorted successor list;
    absent nodes are outdegree-0). Returns (payload bytes, total bits,
    per-node bit sizes)."""
    w = BitWriter()
    sizes = []
    for x in range(lo, hi):
        before = w.bits
        encode_successors(x, groups.get(x, ()), w, zeta_k)
        sizes.append(w.bits - before)
    return w.to_bytes(), w.bits, sizes


# ---------------------------------------------- windowed (real) compression


def _diff_blocks(succ_set: set, parent: list) -> tuple[list, list]:
    """Copy-block run lengths + leftover extras of encoding ``succs``
    against ``parent`` (the reference's ``diff_comp``,
    ``comp/bvcomp.rs:309-390``): every element of ``parent`` present in
    the successor set is copied; runs of copied/skipped parent elements
    alternate starting with a (possibly empty) copy run; the trailing run
    is implicit (the decoder copies the parent tail iff the block count
    is even). Returns (run lengths with the trailing run dropped,
    copied elements as a set-for-subtraction list)."""
    runs: list[int] = []
    cur = 0
    copying = True
    copied: list[int] = []
    for p in parent:
        hit = p in succ_set
        if hit:
            copied.append(p)
        if hit == copying:
            cur += 1
        else:
            runs.append(cur)
            copying = hit
            cur = 1
    # drop the trailing run: decoder infers it from block-count parity
    return runs, copied


def _intervalize(extras: list, min_len: int) -> tuple[list, list]:
    """Maximal runs of consecutive ints with length >= min_len become
    (start, len) intervals; the rest are residuals (``bvcomp.rs:279-305``)."""
    ivals: list[tuple[int, int]] = []
    resid: list[int] = []
    i, n = 0, len(extras)
    while i < n:
        j = i
        while j + 1 < n and extras[j + 1] == extras[j] + 1:
            j += 1
        ln = j - i + 1
        if ln >= min_len:
            ivals.append((extras[i], ln))
        else:
            resid.extend(extras[i : j + 1])
        i = j + 1
    return ivals, resid


def _emit_list(
    w, x: int, succs: list, ref: int, parent, props: BvProperties,
    succ_set: set | None = None,
):
    """Write (or cost, if ``w`` is a :class:`BitCounter`) one successor
    list in full BV form — outdegree, reference, copy blocks, intervals,
    residuals — mirroring ``Compressor::write`` (``bvcomp.rs:170-236``);
    the field layout is the exact inverse of :func:`decode_list_at`.
    ``succ_set`` lets the reference-selection loop build the successor
    set once instead of once per candidate."""
    wr_out, wr_ref, wr_blk, wr_int, wr_res = props.writers()
    d = len(succs)
    wr_out(w, d)
    if d == 0:
        return
    rest = succs
    if props.window_size > 0:
        wr_ref(w, ref)
        if ref > 0:
            runs, copied = _diff_blocks(
                succ_set if succ_set is not None else set(succs), parent
            )
            wr_blk(w, len(runs))
            for i, b in enumerate(runs):
                # first block verbatim, later blocks stored minus 1
                wr_blk(w, b if i == 0 else b - 1)
            cset = set(copied)
            rest = [s for s in succs if s not in cset]
    left = len(rest)
    if left and props.min_interval_length:
        ivals, resid = _intervalize(rest, props.min_interval_length)
        wr_int(w, len(ivals))
        prev_end = None
        for st, ln in ivals:
            if prev_end is None:
                wr_int(w, int2nat(st - x))
            else:
                wr_int(w, st - prev_end - 1)
            wr_int(w, ln - props.min_interval_length)
            prev_end = st + ln
        rest = resid
    if rest:
        prev = None
        for s in rest:
            if prev is None:
                wr_res(w, int2nat(s - x))
            else:
                wr_res(w, s - prev - 1)
            prev = s


def encode_range_bv(
    lo: int, hi: int, groups: dict, props: BvProperties,
    use_numpy: bool = True,
) -> tuple[bytes, int, list, dict]:
    """Encode nodes [lo, hi) with the REAL Boldi-Vigna greedy compressor
    (``BvComp::push``, ``comp/bvcomp.rs:428-540``): for each node, cost
    the no-reference encoding and every candidate reference among the
    previous ``window_size`` nodes (skipping empty parents and parents
    whose reference chain is already ``max_ref_count`` deep), write the
    strictly cheapest (ties keep the nearest delta, as the reference's
    ``bits < min_bits`` ascending scan does).

    References never reach before ``lo`` — each range starts a fresh
    window, the same truncation the reference's own parallel compressor
    applies at chunk starts (``start_node``, ``bvcomp.rs:483-485``) —
    which is what makes ranges encodable independently in parallel.

    The candidate-cost pass runs as a vectorized NumPy cost matrix
    (:func:`webgraph_rs_spark.bvcost.cost_matrix` — the window holds raw
    successor lists, so costs are selection-independent and batchable;
    measured ~4x on cnr-2000 vs the scalar BitCounter pass); the
    sequential loop keeps only the chain-depth gate and the actual
    write. ``use_numpy=False`` forces the scalar reference pass (kept
    for the cost-parity tests).

    Returns (payload bytes, bit length, per-node bit sizes, stats with
    the reference's tot_ref/tot_dist accumulators)."""
    win, maxref = props.window_size, props.max_ref_count
    if use_numpy and hi > lo:
        try:
            from .bvcost import _csr, cost_matrix, emit_range

            csr = _csr(lo, hi, groups)
            mat, degs = cost_matrix(lo, hi, groups, props, csr=csr)
            n = hi - lo
            refs_l = [0] * n
            chains_l = [0] * n
            tot_ref = tot_dist = 0
            if win > 0:
                # plain-list scan: NumPy scalar indexing in this O(n*win)
                # sequential loop costs ~10x a list index (measured)
                mat_l = mat.tolist()
                degs_l = degs.tolist()
                for i in range(n):
                    if degs_l[i]:
                        row = mat_l[i]
                        best = row[0]
                        br = 0
                        for delta in range(1, min(win, i) + 1):
                            y = i - delta
                            if chains_l[y] >= maxref or degs_l[y] == 0:
                                continue
                            if row[delta] < best:
                                best = row[delta]
                                br = delta
                        refs_l[i] = br
                        if br:
                            chains_l[i] = chains_l[i - br] + 1
                    tot_ref += chains_l[i]
                    tot_dist += refs_l[i]
            refs = np.asarray(refs_l, dtype=np.int64)
            payload, bits, np_sizes = emit_range(
                lo, hi, groups, props, refs, csr=csr
            )
            return (
                payload,
                bits,
                [int(s) for s in np_sizes],
                {"tot_ref": tot_ref, "tot_dist": tot_dist},
            )
        except (OverflowError, NotImplementedError):
            pass  # OMEGA fields / absurd ids -> scalar reference path
    w = props.new_writer()
    sizes: list[int] = []
    tot_ref = tot_dist = 0
    window: dict[int, list] = {}
    chains_d: dict[int, int] = {}
    for x in range(lo, hi):
        succs = groups.get(x)
        succs = list(succs) if succs is not None else []
        best_ref = 0
        sset = set(succs) if succs else None
        if succs and win > 0:
            c = BitCounter()
            _emit_list(c, x, succs, 0, None, props)
            best = c.bits
            for delta in range(1, min(win, x - lo) + 1):
                y = x - delta
                if chains_d[y] >= maxref:
                    continue
                parent = window[y]
                if not parent:
                    continue
                c = BitCounter()
                _emit_list(c, x, succs, delta, parent, props, sset)
                if c.bits < best:
                    best = c.bits
                    best_ref = delta
        before = w.bits
        _emit_list(
            w, x, succs, best_ref, window.get(x - best_ref), props, sset
        )
        sizes.append(w.bits - before)
        if win > 0:
            window[x] = succs
            chains_d[x] = 0 if best_ref == 0 else chains_d[x - best_ref] + 1
            window.pop(x - win, None)
            chains_d.pop(x - win, None)
        tot_ref += chains_d.get(x, 0)
        tot_dist += best_ref
    return w.to_bytes(), w.bits, sizes, {"tot_ref": tot_ref, "tot_dist": tot_dist}


def _dp_prune_references(refs: list, saved: list, maxref: int) -> None:
    """Extract the maximum-weight subforest whose reference chains are at
    most ``maxref`` deep, from the unconstrained maximum-weight forest
    (``BvCompZ::update_references_for_max_length``,
    ``comp/bvcompz.rs:318-403``): bottom-up DP over the forest where
    ``dyn[i][l]`` is the best weight of the subforest rooted at node i
    with at most ``l`` chain budget left below it (i keeping its parent
    link costs its children one budget unit; i starting a fresh chain
    resets them to full), then a top-down pass zeroes pruned links."""
    n = len(refs)
    out_edges: list[list[int]] = [[] for _ in range(n)]
    for i, r in enumerate(refs):
        if r:
            out_edges[i - r].append(i)
    L = min(maxref, n)
    dyn_cost = [[0.0] * (L + 1) for _ in range(n)]
    dyn_take = [[False] * (L + 1) for _ in range(n)]
    for i in range(n - 1, -1, -1):
        full = 0.0
        for c in out_edges[i]:
            full += dyn_cost[c][L]
        dyn_cost[i][0] = full
        for l in range(1, L + 1):
            take = saved[i]
            for c in out_edges[i]:
                take += dyn_cost[c][l - 1]
            if take > full:
                dyn_cost[i][l] = take
                dyn_take[i][l] = True
            else:
                dyn_cost[i][l] = full
    avail = [L] * n
    for i in range(n):
        if dyn_take[i][avail[i]]:
            for c in out_edges[i]:
                avail[c] = avail[i] - 1
        else:
            refs[i] = 0


def _greedy_readd_references(
    refs: list, costs: list, succs_l: list, win: int, maxref: int
) -> None:
    """Re-introduce valid references the DP pruned
    (``find_additional_references_greedily``, ``comp/bvcompz.rs:405-470``):
    with chain-above and longest-chain-below precomputed, a node may take
    any cached candidate whose combined chain stays within ``maxref``;
    strictly-cheaper keeps the nearest delta, mirroring the reference's
    scan (including its single-pass staleness: forward chains are not
    recomputed as links are re-added)."""
    n = len(refs)
    chain = [0] * n
    for i in range(n):
        if refs[i]:
            chain[i] = chain[i - refs[i]] + 1
    fwd = [0] * n
    for i in range(n - 1, -1, -1):
        if refs[i]:
            p = i - refs[i]
            if fwd[i] + 1 > fwd[p]:
                fwd[p] = fwd[i] + 1
    for i in range(n):
        if refs[i]:
            chain[i] = chain[i - refs[i]] + 1
        minb = costs[i][0]
        for delta in range(1, min(win, i) + 1):
            if chain[i - delta] + fwd[i] + 1 > maxref:
                continue
            b = costs[i][delta]
            if b is None or not succs_l[i - delta]:
                continue
            if b < minb:
                minb = b
                refs[i] = delta
        if refs[i]:
            chain[i] = chain[i - refs[i]] + 1


def encode_range_bvz(
    lo: int,
    hi: int,
    groups: dict,
    props: BvProperties,
    chunk_size: int = 10_000,
) -> tuple[bytes, int, list, dict]:
    """Encode nodes [lo, hi) with the Zuckerli-style reference selection
    (``BvCompZ``, ``comp/bvcompz.rs``; Marzocchi-Versari-Obryk-Alakuijala,
    "Zuckerli: A New Compressed Representation for Graphs", DCC 2020):
    per ``chunk_size`` nodes, (1) build the UNconstrained maximum-weight
    reference forest (every node takes its cheapest window candidate,
    ignoring chain depth), (2) extract the best subforest with chains
    <= ``max_ref_count`` by dynamic programming, (3) greedily re-add
    pruned-but-valid references from the cached cost matrix, then write.
    The reference's own defaults pair this with window 16 (vs the greedy
    compressor's 7) and chunk 10,000 (``impls.rs:332``). Chunks, like
    ranges, are independent reference domains — the parallel plan is
    identical to :func:`encode_range_bv`'s."""
    w = props.new_writer()
    sizes: list[int] = []
    win, maxref = props.window_size, props.max_ref_count
    tot_ref = tot_dist = 0
    for clo in range(lo, hi, max(1, chunk_size)):
        chi = min(clo + max(1, chunk_size), hi)
        n = chi - clo
        succs_l = [list(groups.get(x, ())) for x in range(clo, chi)]
        ssets = [set(s) if s else None for s in succs_l]
        refs = [0] * n
        saved = [0.0] * n
        costs: list[list] = [[None] * (win + 1) for _ in range(n)]
        for i in range(n):
            x = clo + i
            s = succs_l[i]
            c = BitCounter()
            _emit_list(c, x, s, 0, None, props, ssets[i])
            cost0 = c.bits
            costs[i][0] = cost0
            best = cost0
            bref = 0
            if s and win > 0:
                for delta in range(1, min(win, i) + 1):
                    parent = succs_l[i - delta]
                    if not parent:
                        continue
                    c = BitCounter()
                    _emit_list(c, x, s, delta, parent, props, ssets[i])
                    costs[i][delta] = c.bits
                    if c.bits < best:
                        best = c.bits
                        bref = delta
            refs[i] = bref
            saved[i] = float(cost0 - best)
        if win > 0 and maxref < n:
            _dp_prune_references(refs, saved, maxref)
            _greedy_readd_references(refs, costs, succs_l, win, maxref)
        chain = [0] * n
        for i in range(n):
            x = clo + i
            r = refs[i]
            before = w.bits
            _emit_list(
                w, x, succs_l[i], r, succs_l[i - r] if r else None, props,
                ssets[i],
            )
            sizes.append(w.bits - before)
            if r:
                chain[i] = chain[i - r] + 1
            tot_ref += chain[i]
            tot_dist += r
    return w.to_bytes(), w.bits, sizes, {"tot_ref": tot_ref, "tot_dist": tot_dist}


def _properties_text(
    n, m, window_size, max_ref_count, min_interval_length, zeta_k,
    eff_codes, endianness, version,
) -> str:
    """Canonical ``.properties`` text. compressionflags tokens: one per
    field whose code differs from the defaults (flags.rs:188-245);
    version 1 uses parameterized names (ZETA3, PI2), version 0 the bare
    Java names + the zetak line."""
    v1_defaults = {
        "OUTDEGREES": "GAMMA",
        "REFERENCES": "UNARY",
        "BLOCKS": "GAMMA",
        "INTERVALS": "GAMMA",
        "RESIDUALS": "ZETA3",
    }
    tokens = []
    for field in ("OUTDEGREES", "REFERENCES", "BLOCKS", "INTERVALS", "RESIDUALS"):
        c = eff_codes[field]
        eff = f"ZETA{zeta_k}" if c == "ZETA" else c
        if version == 1:
            if eff != v1_defaults[field]:
                tokens.append(f"{field}_{eff}")
        else:
            bare = "ZETA" if eff.startswith("ZETA") else eff
            if eff.startswith("ZETA") and int(eff[4:]) != zeta_k:
                raise ValueError(
                    f"version-0 manifests carry one shared zetak; "
                    f"{field}={eff} conflicts with zetak={zeta_k}"
                )
            if bare != _FIELDS[field]:
                tokens.append(f"{field}_{bare}")
    return (
        "#BVGraph properties\n"
        f"version={version}\n"
        "graphclass=it.unimi.dsi.webgraph.BVGraph\n"
        f"nodes={n}\narcs={m}\n"
        f"windowsize={window_size}\nmaxrefcount={max_ref_count}\n"
        f"minintervallength={min_interval_length}\n"
        f"zetak={zeta_k}\ncompressionflags={'|'.join(tokens)}\n"
        f"endianness={endianness}\n"
    )


def _write_shard(
    basename: str, rng: int, payload: bytes, bits: int, sizes, st, props
) -> dict:
    """Write one export shard ``basename-<rng>.{graph,offsets,properties}``.
    The shard graph stream is the range's bit-payload exactly as the
    single-file stitcher would consume it (zero-padded to a byte); the
    shard offsets stream is a standalone gamma stream (leading gamma(0),
    then one gamma per node size) so each shard is independently
    scannable. The shard properties carry the exact bit lengths the
    stitcher needs to carry-append shards back into the canonical
    single-file triple bit-for-bit."""
    with open(f"{basename}-{rng}.graph", "wb") as f:
        f.write(payload)
    ow = props.new_writer()
    ow.write_gamma(0)
    for s in sizes:
        ow.write_gamma(int(s))
    obits = ow.bits
    with open(f"{basename}-{rng}.offsets", "wb") as f:
        f.write(ow.to_bytes())
    meta = {
        "shard": rng,
        "nodes": len(sizes),
        "graphbits": bits,
        "offsetbits": obits,
        "tot_ref": st["tot_ref"],
        "tot_dist": st["tot_dist"],
    }
    with open(f"{basename}-{rng}.properties", "w", encoding="utf-8") as f:
        f.write("#BVGraph shard\n")
        for k, v in meta.items():
            f.write(f"{k}={v}\n")
    return meta


def stitch_bvgraph_shards(basename: str, out_basename: str | None = None) -> dict:
    """Concatenate a sharded export (``write_bvgraph(..., shards=N)``)
    into the canonical single-file ``.{graph,offsets,properties}`` —
    bit-for-bit identical to what the single-file export writes (pinned
    by pytest on cnr-2000). Graph streams carry-append back to back
    (shard windows truncated at range starts, so the bit content is
    already identical); offsets streams append with each later shard's
    leading ``gamma(0)`` (one '1' bit) elided. Streams at disk speed
    with O(1) memory per shard beyond the shard payload itself."""
    out = out_basename or basename
    root = dict(
        line.split("=", 1)
        for line in open(basename + ".properties", encoding="utf-8")
        if "=" in line
    )
    root = {k.strip(): v.strip() for k, v in root.items()}
    nshards = int(root["shards"])
    endianness = root.get("endianness", "big")
    tot_bits = 0
    with open(out + ".graph", "wb") as fg, open(out + ".offsets", "wb") as fo:
        gs = StreamStitcher(fg, endianness)
        os_ = StreamStitcher(fo, endianness)
        for i in range(nshards):
            meta = dict(
                line.split("=", 1)
                for line in open(f"{basename}-{i}.properties", encoding="utf-8")
                if "=" in line
            )
            gbits = int(meta["graphbits"])
            obits = int(meta["offsetbits"])
            with open(f"{basename}-{i}.graph", "rb") as f:
                gs.append(f.read(), gbits)
            with open(f"{basename}-{i}.offsets", "rb") as f:
                # later shards drop their leading gamma(0): the stitched
                # stream has exactly one stream-start marker
                os_.append(f.read(), obits, skip_bits=0 if i == 0 else 1)
            tot_bits += gbits
        gs.close()
        os_.close()
    text = "".join(
        f"{k}={v}\n"
        for k, v in root.items()
        if k not in ("shards", "shardsize") and not k.startswith("#")
    )
    with open(out + ".properties", "w", encoding="utf-8") as f:
        f.write("#BVGraph properties\n" + text)
    return {"shards": nshards, "bits": tot_bits}


class StreamStitcher:
    """Append bit-payloads to a byte stream with an 8-bit-boundary carry —
    O(len(payload)) per append and O(1) state, replacing the old
    whole-graph driver bignum (which re-copied the accumulated stream on
    every chunk: O(P * total_bits)). Endianness-aware: BE payloads carry
    their partial byte at the bottom of the bignum, LE at the top."""

    __slots__ = ("f", "carry", "carry_bits", "bits", "endianness")

    def __init__(self, f, endianness: str = "big"):
        self.f = f
        self.carry = 0
        self.carry_bits = 0
        self.bits = 0
        self.endianness = endianness

    def append(self, payload: bytes, nbits: int, skip_bits: int = 0) -> None:
        """Append ``nbits`` of ``payload``, optionally dropping its first
        ``skip_bits`` stream bits (used by the shard stitcher to elide
        the per-shard offsets streams' leading ``gamma(0)``)."""
        if skip_bits:
            if self.endianness == "big":
                val = int.from_bytes(payload, "big") >> (
                    len(payload) * 8 - nbits
                )
                val &= (1 << (nbits - skip_bits)) - 1
                nb = (nbits - skip_bits + 7) // 8
                # re-left-align for the no-skip path below
                pad = nb * 8 - (nbits - skip_bits)
                payload = (val << pad).to_bytes(nb, "big") if nb else b""
            else:
                val = int.from_bytes(payload, "little") >> skip_bits
                nb = (nbits - skip_bits + 7) // 8
                payload = val.to_bytes(nb, "little") if nb else b""
            nbits -= skip_bits
        if nbits == 0:
            return
        if self.endianness == "big":
            val = int.from_bytes(payload, "big") >> (len(payload) * 8 - nbits)
            acc = (self.carry << nbits) | val
            total = self.carry_bits + nbits
            keep = total & 7
            out_bits = total - keep
            if out_bits:
                self.f.write((acc >> keep).to_bytes(out_bits // 8, "big"))
            self.carry = acc & ((1 << keep) - 1)
        else:
            val = int.from_bytes(payload, "little") & ((1 << nbits) - 1)
            acc = self.carry | (val << self.carry_bits)
            total = self.carry_bits + nbits
            keep = total & 7
            out_bits = total - keep
            if out_bits:
                self.f.write(
                    (acc & ((1 << out_bits) - 1)).to_bytes(out_bits // 8, "little")
                )
            self.carry = acc >> out_bits
        self.carry_bits = keep
        self.bits += nbits

    def close(self) -> None:
        if self.carry_bits:
            if self.endianness == "big":
                self.f.write(
                    bytes([(self.carry << (8 - self.carry_bits)) & 0xFF])
                )
            else:
                self.f.write(bytes([self.carry & 0xFF]))
            self.carry = 0
            self.carry_bits = 0


def write_bvgraph(
    spark: SparkSession,
    g: LinkGraph,
    basename: str,
    num_partitions: int | None = None,
    zeta_k: int = 3,
    window_size: int = 7,
    max_ref_count: int = 3,
    min_interval_length: int = 4,
    endianness: str = "big",
    selection: str = "greedy",
    chunk_size: int = 10_000,
    codes: dict | None = None,
    shards: int | None = None,
) -> dict:
    """The reference's ``to bvgraph``: write
    ``basename.{graph,offsets,properties}`` with the REAL Boldi-Vigna
    compressor — greedy reference selection over a ``window_size`` node
    window with chain depth <= ``max_ref_count``, copy blocks, interval
    extraction at ``min_interval_length``, zeta_k residuals (defaults
    7/3/4/3 = the reference's ``comp/flags.rs:42-55``). Pass
    ``window_size=0, min_interval_length=0`` for the context-free
    window-0 profile (parallel-friendliest, fattest output).
    ``selection="zuckerli"`` switches to the BvCompZ DP reference
    selection (``comp/bvcompz.rs``; pair it with ``window_size=16``, the
    reference's BvCompZ default) — on cnr-2000 it compresses to 2.837
    bits/arc at window 7 and 2.781 at window 16 vs the greedy 2.897.

    Plan: node domain split into contiguous ranges; one shuffle groups
    each range's edges, each task runs the greedy compressor over its
    range independently (windows truncate at range starts — the
    reference's own ``par_comp`` chunk rule) and emits (range, payload,
    bit length, per-node sizes); the driver streams the P chunks in range
    order (``toLocalIterator`` over a range-sorted frame — one chunk
    resident at a time, NOT a collect of all payloads) through a
    carry-append stitcher into ``.graph`` while gamma-coding the offsets
    stream incrementally. Driver memory is O(largest chunk), independent
    of graph size; ``max_resident_payload`` in the returned stats is the
    observed bound.

    Cost model at scale: the per-range compressor runs the vectorized
    NumPy cost/emission passes (:mod:`webgraph_rs_spark.bvcost`) at
    ~80k nodes/s/core steady-state on cnr-2000 (the scalar BitCounter
    reference path it byte-matches measures ~35-40k in serialized
    alternating A/Bs) — an export, like the
    ingest, is a one-time boundary crossing, and ranges parallelize
    perfectly (1000 executor cores ≈ 8*10^7 nodes/s ≈ 20 min per
    10^11 nodes); the stitch streams at disk speed with O(chunk) driver
    memory, serialized only because the single-file ``.graph`` format
    is one bitstream — or pass ``shards=N`` and skip the stitch
    entirely. Note the achieved ratio is a property of the
    GRAPH: locality-rich web crawls reach ~3 bits/arc, hash-random
    graphs (e.g. the synthetic bench graph) have no copy/interval
    structure and honestly land near the gap-coding entropy (~19
    bits/arc at 2^16 nodes).

    ``shards=N`` switches to the SHARDED layout: N contiguous node
    ranges, each written BY ITS OWN TASK as
    ``basename-<i>.{graph,offsets,properties}`` (shared filesystem
    assumed, as for any single-machine-visible basename), with the root
    ``basename.properties`` as the manifest. No driver stitch tail —
    the export parallelizes end to end; the serialized carry-append
    only runs if/when :func:`stitch_bvgraph_shards` is asked for the
    single-file toolchain-compatible form, which it reproduces
    bit-for-bit (range windows truncate at shard starts, the same rule
    the reference's own parallel compressor applies at chunk starts).

    Returns summary stats ({"bits", "bits_per_link", "avgref", ...}).
    """
    import pandas as pd

    n = g.num_nodes
    m = g.num_arcs
    if shards is not None:
        num_partitions = shards
    parts = num_partitions or spark.sparkContext.defaultParallelism
    size = max(1, (n + parts - 1) // parts)
    if endianness not in ("big", "little"):
        raise NotImplementedError(f"unsupported endianness {endianness!r}")
    if selection not in ("greedy", "zuckerli"):
        raise ValueError(f"unknown selection {selection!r}")
    # per-field code overrides, e.g. codes={"RESIDUALS": "PI2"} — same
    # token vocabulary as the reference's compressionflags
    # (comp/flags.rs:82-102): GAMMA/UNARY/DELTA/OMEGA/ZETA<k>/PI<k>
    eff_codes = dict(_FIELDS)
    if codes:
        for field, c in codes.items():
            if field.upper() not in eff_codes:
                raise ValueError(f"unknown field {field!r}")
            eff_codes[field.upper()] = _parse_code_token(c, zeta_k)
    # version rule (flags.rs:152-156): 1 for little-endian or new codes
    # (the reference's from_properties REQUIRES version=1 for LE)
    new_codes = any(
        c == "OMEGA" or c.startswith("PI") for c in eff_codes.values()
    )
    version = 1 if (endianness == "little" or new_codes) else 0
    props = BvProperties(
        nodes=n,
        arcs=m,
        window_size=window_size,
        max_ref_count=max_ref_count,
        min_interval_length=min_interval_length,
        zeta_k=zeta_k,
        codes=eff_codes,
        endianness=endianness,
    )

    def enc(key, pdf):
        rng = int(key[0])
        lo, hi = rng * size, min((rng + 1) * size, n)
        groups: dict = {}
        pdf = pdf.sort_values(["src", "dst"])
        for src, sub in pdf.groupby("src"):
            groups[int(src)] = sub["dst"].tolist()
        if selection == "zuckerli":
            payload, bits, sizes, st = encode_range_bvz(
                lo, hi, groups, props, chunk_size
            )
        else:
            payload, bits, sizes, st = encode_range_bv(lo, hi, groups, props)
        return pd.DataFrame(
            {
                "rng": [rng],
                "payload": [payload],
                "bits": [bits],
                "sizes": [sizes],
                "tot_ref": [st["tot_ref"]],
                "tot_dist": [st["tot_dist"]],
            }
        )

    if shards is not None:
        os.makedirs(
            os.path.dirname(os.path.abspath(basename)) or ".", exist_ok=True
        )
        n_ranges = (n + size - 1) // size if n else 0

        def enc_shard(key, pdf):
            rng = int(key[0])
            lo, hi = rng * size, min((rng + 1) * size, n)
            groups: dict = {}
            pdf = pdf.sort_values(["src", "dst"])
            for src, sub in pdf.groupby("src"):
                groups[int(src)] = sub["dst"].tolist()
            if selection == "zuckerli":
                payload, bits, sizes, st = encode_range_bvz(
                    lo, hi, groups, props, chunk_size
                )
            else:
                payload, bits, sizes, st = encode_range_bv(
                    lo, hi, groups, props
                )
            _write_shard(basename, rng, payload, bits, sizes, st, props)
            return pd.DataFrame(
                {
                    "rng": [rng],
                    "bits": [bits],
                    "tot_ref": [st["tot_ref"]],
                    "tot_dist": [st["tot_dist"]],
                }
            )

        rows = (
            g.edges.withColumn("rng", (F.col("src") / size).cast("long"))
            .groupBy("rng")
            .applyInPandas(
                enc_shard, "rng long, bits long, tot_ref long, tot_dist long"
            )
            .collect()  # N_shards metadata rows — payloads stay on disk
        )
        seen = {int(r["rng"]) for r in rows}
        tot_bits = sum(int(r["bits"]) for r in rows)
        tot_ref = sum(int(r["tot_ref"]) for r in rows)
        tot_dist = sum(int(r["tot_dist"]) for r in rows)
        for rng in range(n_ranges):
            if rng not in seen:  # all-outdegree-0 span: tiny, driver-side
                lo, hi = rng * size, min((rng + 1) * size, n)
                payload, bits, sizes, st = encode_range_bv(lo, hi, {}, props)
                _write_shard(basename, rng, payload, bits, sizes, st, props)
                tot_bits += bits
        with open(basename + ".properties", "w", encoding="utf-8") as f:
            f.write(
                _properties_text(
                    n, m, window_size, max_ref_count, min_interval_length,
                    zeta_k, eff_codes, endianness, version,
                )
                + f"shards={n_ranges}\nshardsize={size}\n"
            )
        return {
            "nodes": n,
            "arcs": m,
            "bits": tot_bits,
            "bits_per_link": round(tot_bits / max(m, 1), 3),
            "avgref": round(tot_ref / max(n, 1), 3),
            "avgdist": round(tot_dist / max(n, 1), 3),
            "shards": n_ranges,
        }

    chunk_iter = (
        g.edges.withColumn("rng", (F.col("src") / size).cast("long"))
        .groupBy("rng")
        .applyInPandas(
            enc,
            "rng long, payload binary, bits long, sizes array<long>, "
            "tot_ref long, tot_dist long",
        )
        .orderBy("rng")
        .toLocalIterator()
    )

    os.makedirs(os.path.dirname(os.path.abspath(basename)) or ".", exist_ok=True)
    n_ranges = (n + size - 1) // size if n else 0
    tot_ref = tot_dist = 0
    max_resident = 0
    ow = props.new_writer()
    ow.write_gamma(0)  # first offset gap: start of stream
    pos = prev = 0

    def emit_sizes(sizes, fo):
        nonlocal pos, prev
        for s in sizes:
            pos += int(s)
            ow.write_gamma(pos - prev)
            prev = pos
        # drain whole bytes so the offsets stream doesn't accumulate
        if len(ow.buf) >= 1 << 20:
            fo.write(bytes(ow.buf))
            ow.buf.clear()

    with open(basename + ".graph", "wb") as fg, open(
        basename + ".offsets", "wb"
    ) as fo:
        stitch = StreamStitcher(fg, endianness)
        expected = 0
        for row in chunk_iter:
            rng = int(row["rng"])
            # ranges with no edges never reach applyInPandas but still
            # need their outdegree-0 lists — synthesize the gap ranges
            while expected < rng:
                lo, hi = expected * size, min((expected + 1) * size, n)
                payload, bits, sizes, _ = encode_range_bv(lo, hi, {}, props)
                stitch.append(payload, bits)
                emit_sizes(sizes, fo)
                expected += 1
            payload = bytes(row["payload"])
            max_resident = max(max_resident, len(payload))
            stitch.append(payload, int(row["bits"]))
            emit_sizes([int(s) for s in row["sizes"]], fo)
            tot_ref += int(row["tot_ref"])
            tot_dist += int(row["tot_dist"])
            expected += 1
        while expected < n_ranges:
            lo, hi = expected * size, min((expected + 1) * size, n)
            payload, bits, sizes, _ = encode_range_bv(lo, hi, {}, props)
            stitch.append(payload, bits)
            emit_sizes(sizes, fo)
            expected += 1
        acc_bits = stitch.bits
        stitch.close()
        fo.write(ow.to_bytes())

    with open(basename + ".properties", "w", encoding="utf-8") as f:
        f.write(
            _properties_text(
                n, m, window_size, max_ref_count, min_interval_length,
                zeta_k, eff_codes, endianness, version,
            )
        )
    return {
        "nodes": n,
        "arcs": m,
        "bits": acc_bits,
        "bits_per_link": round(acc_bits / max(m, 1), 3),
        "avgref": round(tot_ref / max(n, 1), 3),
        "avgdist": round(tot_dist / max(n, 1), 3),
        "max_resident_payload": max_resident,
    }


def successors(basename: str, x: int) -> list[int]:
    """Random-access successor list of ONE node straight from the
    bitstream — the reference's ``BvGraph::successors``
    (``random_access.rs:243-290``), no Spark session, no full decode.
    Reads only the byte range covering the deepest possible reference
    chain (``window_size * max_ref_count`` nodes back); the offsets
    index decode is the per-file O(n) cost (amortize across calls by
    decoding once and using :func:`decode_successors` directly)."""
    props = read_properties(basename + ".properties")
    n = props.nodes
    if not 0 <= x < n:
        raise IndexError(f"node {x} out of range [0, {n})")
    if os.path.exists(basename + ".offsets"):
        with open(basename + ".offsets", "rb") as f:
            offsets = decode_offsets(f.read(), n, props.endianness)
    else:
        with open(basename + ".graph", "rb") as f:
            offsets = sequential_pass(f.read(), props)
    seed = max(0, x - props.window_size * props.max_ref_count)
    byte_start = int(offsets[seed]) >> 3
    byte_end = (int(offsets[x + 1]) + 7) >> 3
    with open(basename + ".graph", "rb") as f:
        f.seek(byte_start)
        data = f.read(byte_end - byte_start)
    cache: dict[int, list[int]] = {}

    def resolve(y: int) -> list[int]:
        got = cache.get(y)
        if got is None:
            got = decode_successors(
                data, offsets, y, props, resolve, byte_start << 3
            )
            cache[y] = got
        return got

    return resolve(x)


# ------------------------------------------------------------ goldens


def read_golden_labels(path: str) -> np.ndarray:
    """Read a Java big-endian int32-per-node label file (e.g. the
    reference's ``cnr-2000.scc``)."""
    return np.fromfile(path, dtype=">i4").astype(np.int64)


def golden_labels_df(spark: SparkSession, path: str, col: str = "golden") -> DataFrame:
    import pandas as pd

    arr = read_golden_labels(path)
    return spark.createDataFrame(
        pd.DataFrame({"id": np.arange(len(arr), dtype=np.int64), col: arr})
    )
