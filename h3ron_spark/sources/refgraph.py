"""Reader for the reference's persisted graph format (P14 parity).

The reference serializes `PreparedH3EdgeGraph<W>` with bincode 1.x
(fixed-width little-endian ints, u64 sequence lengths) wrapped in an
LZ4 *frame* (h3ron-graph/src/io/serde_util.rs:26-60, lz4_flex) and
ships `data/graph-germany_r7_f64.bincode.lz` as its routing-bench
input (benches/route_germany.rs:15-26). This module decodes that
format with the stdlib only:

- LZ4 frame + block decompression (public LZ4 spec): magic
  0x184D2204, frame descriptor, blocks of [u32 size | high bit =
  stored], each a literals/match-copy sequence stream
- bincode walk of PreparedH3EdgeGraph (prepared.rs:73-78):
  outgoing_edges: HashMap<H3Cell, SmallVec<(H3DirectedEdge,
  OwnedEdgeWeight<W>)>>, h3_resolution: u8, graph_nodes:
  HashMap<H3Cell, NodeType>. The LongEdge shortcut payload
  (prepared.rs:25-36) and its roaring-treemap / IndexBlock byte
  blobs are length-prefixed and skipped — results are identical
  without LongEdges (prepared.rs documents they are a pure
  optimization).

The decoded graph lands as plain numpy arrays -> a Spark DataFrame
(edge, origin, destination, weight) — the same edges-table shape
graph_from_linestrings produces, so every routing operator runs on
the reference's own Germany graph unchanged.
"""

from __future__ import annotations

import os
import struct

import numpy as np

# The reference's committed routing-bench graph (route_germany.rs).
GERMANY_GRAPH = "/root/reference/data/graph-germany_r7_f64.bincode.lz"


def reference_data_available() -> bool:
    """True when the reference checkout's Germany graph file exists.
    Without it ``golden_germany_route`` raises ``FileNotFoundError``
    naming the file; the bench and the tests leave it out."""
    return os.path.exists(GERMANY_GRAPH)


def lz4_frame_decompress(data: bytes) -> bytes:
    """Decompress an LZ4 frame (the subset lz4_flex writes: one
    frame, optional content size/checksums skipped per flags)."""
    pos = 0
    magic = struct.unpack_from("<I", data, pos)[0]
    pos += 4
    if magic != 0x184D2204:
        raise ValueError(f"not an LZ4 frame (magic {magic:#x})")
    flg = data[pos]
    bd = data[pos + 1]
    pos += 2
    version = flg >> 6
    if version != 1:
        raise ValueError(f"unsupported LZ4 frame version {version}")
    content_size_flag = (flg >> 3) & 1
    content_checksum = (flg >> 2) & 1
    block_checksum = (flg >> 4) & 1
    _ = bd
    if content_size_flag:
        pos += 8
    pos += 1  # header checksum byte

    out = bytearray()
    while True:
        if pos + 4 > len(data):
            break
        bsize = struct.unpack_from("<I", data, pos)[0]
        pos += 4
        if bsize == 0:  # EndMark
            break
        stored = bool(bsize & 0x80000000)
        bsize &= 0x7FFFFFFF
        block = data[pos : pos + bsize]
        pos += bsize
        if block_checksum:
            pos += 4
        if stored:
            out += block
        else:
            _lz4_block(block, out)
    if content_checksum:
        pos += 4
    return bytes(out)


def _lz4_block(src: bytes, out: bytearray) -> None:
    """LZ4 block format: token(4b lit len | 4b match len), literals,
    2-byte LE offset, match copy (overlap-allowed)."""
    i = 0
    n = len(src)
    while i < n:
        token = src[i]
        i += 1
        lit = token >> 4
        if lit == 15:
            while True:
                b = src[i]
                i += 1
                lit += b
                if b != 255:
                    break
        if lit:
            out += src[i : i + lit]
            i += lit
        if i >= n:
            break  # last sequence has no match part
        offset = src[i] | (src[i + 1] << 8)
        i += 2
        mlen = (token & 0xF) + 4
        if (token & 0xF) == 15:
            while True:
                b = src[i]
                i += 1
                mlen += b
                if b != 255:
                    break
        start = len(out) - offset
        if offset >= mlen:
            out += out[start : start + mlen]
        else:
            # overlapping match: byte-at-a-time semantics
            for k in range(mlen):
                out.append(out[start + k])


class _Bin:
    """Minimal bincode-1.x (fixed-int little-endian) cursor."""

    __slots__ = ("b", "p")

    def __init__(self, b: bytes):
        self.b = b
        self.p = 0

    def u8(self) -> int:
        v = self.b[self.p]
        self.p += 1
        return v

    def u32(self) -> int:
        v = struct.unpack_from("<I", self.b, self.p)[0]
        self.p += 4
        return v

    def u64(self) -> int:
        v = struct.unpack_from("<Q", self.b, self.p)[0]
        self.p += 8
        return v

    def f64(self) -> float:
        v = struct.unpack_from("<d", self.b, self.p)[0]
        self.p += 8
        return v

    def skip(self, n: int) -> None:
        self.p += n


def parse_prepared_graph(raw: bytes) -> dict:
    """Walk the bincode of PreparedH3EdgeGraph<OrderedFloat<f64>>.

    Returns {"res": int, "origins": int64 array, "edges": int64 array,
    "weights": float64 array, "nodes": (int64 array, int32 array)}
    with one row per (origin cell, directed edge, weight) — LongEdge
    shortcuts skipped."""
    c = _Bin(raw)
    n_map = c.u64()
    origins: list[int] = []
    edges: list[int] = []
    weights: list[float] = []
    o_app = origins.append
    e_app = edges.append
    w_app = weights.append
    for _ in range(n_map):
        cell = c.u64()
        n_list = c.u64()
        for _ in range(n_list):
            edge = c.u64()
            weight = c.f64()
            has_le = c.u8()
            if has_le:
                # Box<(LongEdge, W)>: in_edge, out_edge,
                # IndexBlock{num_indexes u64, bytes}, treemap bytes,
                # then the longedge weight
                c.skip(16)  # in_edge + out_edge
                c.u64()  # num_indexes
                c.skip(c.u64())  # block_data
                c.skip(c.u64())  # roaring treemap blob
                c.f64()  # longedge weight
            o_app(cell)
            e_app(edge)
            w_app(weight)
    res = c.u8()
    n_nodes = c.u64()
    node_cells = np.empty(n_nodes, dtype=np.int64)
    node_types = np.empty(n_nodes, dtype=np.int32)
    for t in range(n_nodes):
        node_cells[t] = c.u64()
        node_types[t] = c.u32()  # bincode enum variant index
    if c.p != len(raw):
        raise ValueError(
            f"trailing bytes after graph decode ({len(raw) - c.p})"
        )
    return {
        "res": res,
        "origins": np.array(origins, dtype=np.int64),
        "edges": np.array(edges, dtype=np.int64),
        "weights": np.array(weights, dtype=np.float64),
        "nodes": (node_cells, node_types),
    }


def load_prepared_graph_file(path: str) -> dict:
    with open(path, "rb") as f:
        data = f.read()
    if data[:4] == b"\x04\x22\x4d\x18":
        data = lz4_frame_decompress(data)
    return parse_prepared_graph(data)


def reference_graph_to_edges(spark, path: str, cache_dir: str | None = None):
    """Decode a reference `.bincode.lz` graph into the engine's edges
    DataFrame (edge, origin, destination, weight). The decode runs
    once and is cached as Parquet next to the session temp dir (the
    P14 persistence model: decode -> store -> route against the
    table); destination cells come from the vectorized disk kernel's
    neighbor math via the existing edge functions."""
    import tempfile

    from h3ron_spark.functions import geo as G

    if cache_dir is None:
        cache_dir = os.path.join(
            tempfile.gettempdir(),
            "h3ron_spark_refgraph_"
            + os.path.basename(path).replace(".", "_"),
        )
    if not os.path.exists(os.path.join(cache_dir, "_SUCCESS")):
        g = load_prepared_graph_file(path)
        import pandas as pd

        pdf = pd.DataFrame(
            {
                "edge": g["edges"],
                "origin": g["origins"],
                "weight": g["weights"],
            }
        )
        # destination is materialized INTO the cache (computed once by
        # the tested edge kernel) so every later read is a pure
        # columnar scan with no Python in the plan
        df = spark.createDataFrame(pdf).select(
            "edge",
            "origin",
            G.h3_edge_destination("edge").alias("destination"),
            "weight",
        )
        df.write.mode("overwrite").parquet(cache_dir)
    return spark.read.parquet(cache_dir).select(
        "edge", "origin", "destination", "weight"
    )
