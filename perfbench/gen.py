"""Seeded input generators owned by the benchmark.

Every random draw is an XXH64 hash of a row key whose hash seed is derived
from the benchmark ``--seed`` and a per-draw salt, so the same seed gives
byte-identical parquet inputs on any machine.  ``xxh64_long`` is bit-equal
to Spark's ``xxhash64`` over one bigint (the self-tests pin that), but the
generators run in NumPy: no JVM is needed, and generation stays outside the
program under test, which only ever sees the parquet files written here.

The distributions reproduce ``sparklead.synth`` (which takes no seed):

* ``pretok_table`` -- ``synth.pretokenized``: 5-200 log-uniform (Zipf-like)
  token ids per doc over a 10k vocabulary, ~18% of docs are copies of one
  of 5 hot 12-token templates, sources exponentially skewed over 20 values.
* ``hdfs_corpus`` -- ``synth.raw_log_corpus``: HDFS-style raw lines
  ``date time pid level component: body`` over 8 planted body templates,
  ~20 lines per ``blk_`` sequence.  The planted anomaly rule: about 12% of
  blocks are fault-prone and emit the ``Exception in receiveBlock`` template
  with probability 1/4 per line; a block is labelled ``Anomaly`` exactly
  when it contains that template, so a bag-of-events detector can learn it.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_P1 = np.uint64(0x9E3779B185EBCA87)
_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_P3 = np.uint64(0x165667B19E3779F9)
_P4 = np.uint64(0x85EBCA77C2B2AE63)
_P5 = np.uint64(0x27D4EB2F165667C5)
_EIGHT = np.uint64(8)


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def xxh64_long(values, seed) -> np.ndarray:
    """XXH64 of each 8-byte little-endian integer in ``values`` (uint64 out).

    Same algorithm as Spark's ``XXH64.hashLong``, so
    ``xxh64_long(v, 42).view(np.int64)`` equals ``F.xxhash64(F.lit(v))``.
    """
    x = np.asarray(values, dtype=np.int64).view(np.uint64)
    with np.errstate(over="ignore"):
        h = np.asarray(seed, dtype=np.uint64) + _P5 + _EIGHT
        h = h ^ (_rotl(x * _P2, 31) * _P1)
        h = _rotl(h, 27) * _P1 + _P4
        h = h ^ (h >> np.uint64(33))
        h = h * _P2
        h = h ^ (h >> np.uint64(29))
        h = h * _P3
        return h ^ (h >> np.uint64(32))


class Draws:
    """Salted hash draws for one benchmark seed."""

    def __init__(self, seed: int):
        self.seed = int(seed)

    def bits(self, keys, salt: int) -> np.ndarray:
        salt_seed = xxh64_long([salt], self.seed)[0]
        return xxh64_long(keys, salt_seed)

    def below(self, keys, salt: int, n: int) -> np.ndarray:
        """Integer draw in [0, n)."""
        return (self.bits(keys, salt) % np.uint64(n)).astype(np.int64)

    def uniform(self, keys, salt: int) -> np.ndarray:
        """Float draw in [0, 1) with 53 bits of resolution."""
        return (self.bits(keys, salt) >> np.uint64(11)).astype(np.float64) * 2.0**-53


def _write_parts(table: pa.Table, out_dir: str, n_files: int) -> list[str]:
    """Split ``table`` into ``n_files`` contiguous parquet files."""
    os.makedirs(out_dir, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    paths = []
    for i, (lo, hi) in enumerate(zip(bounds, bounds[1:])):
        path = os.path.join(out_dir, f"part-{i:05d}.parquet")
        pq.write_table(table.slice(lo, hi - lo), path)
        paths.append(path)
    return paths


# ------------------------------------------------------------ pretokenized

VOCAB_SIZE = 10_000
N_SOURCES = 20
HOT_TEMPLATES = 5
HOT_LEN = 12
HOT_PERCENT = 18


@dataclass
class PretokInput:
    path: str
    meta_path: str
    sum_n_tok: int


def pretok_table(seed: int, n_docs: int) -> pa.Table:
    """``(doc_id string, tokens array<int>, n_tok int, source string)``."""
    d = Draws(seed)
    ids = np.arange(n_docs, dtype=np.int64)
    hot = d.below(ids, 3, 100) < HOT_PERCENT
    hot_id = d.below(ids, 4, HOT_TEMPLATES)
    n_tok = np.where(hot, HOT_LEN, 5 + d.below(ids, 1, 196)).astype(np.int32)
    offsets = np.zeros(n_docs + 1, dtype=np.int64)
    np.cumsum(n_tok, out=offsets[1:])
    doc_of = np.repeat(ids, n_tok)
    pos = np.arange(offsets[-1], dtype=np.int64) - offsets[doc_of]
    # log-uniform ids: floor(exp(u * ln V)) - 1 in [0, V)
    u = d.uniform(doc_of * 1_000_003 + pos, 2)
    tokens = (np.exp(u * np.log(VOCAB_SIZE)) - 1).astype(np.int32)
    hot_base = d.below(np.arange(HOT_TEMPLATES), 6, VOCAB_SIZE)
    hot_tokens = (hot_base[hot_id[doc_of]] + pos * 13) % VOCAB_SIZE
    tokens = np.where(hot[doc_of], hot_tokens, tokens).astype(np.int32)
    src = np.minimum(np.floor(-np.log(d.uniform(ids, 5) + 1e-9) * 4.0), N_SOURCES - 1).astype(int)
    return pa.table(
        {
            "doc_id": pa.array([f"doc_{i:09d}" for i in ids], pa.string()),
            "tokens": pa.ListArray.from_arrays(pa.array(offsets, pa.int32()), pa.array(tokens, pa.int32())),
            "n_tok": pa.array(n_tok, pa.int32()),
            "source": pa.array([f"src{s}" for s in src], pa.string()),
        }
    )


def source_meta_table() -> pa.Table:
    """The broadcast side table, as in ``synth.source_meta``."""
    return pa.table(
        {
            "source": [f"src{i}" for i in range(N_SOURCES)],
            "label": ["anomaly" if i % 7 == 0 else "normal" for i in range(N_SOURCES)],
            "region": [f"region{i % 4}" for i in range(N_SOURCES)],
        }
    )


def write_pretok(seed: int, n_docs: int, root: str, n_files: int) -> PretokInput:
    table = pretok_table(seed, n_docs)
    path, meta_path = os.path.join(root, "pretok"), os.path.join(root, "source_meta")
    _write_parts(table, path, n_files)
    _write_parts(source_meta_table(), meta_path, 1)
    sum_n_tok = int(np.asarray(table.column("n_tok")).sum())
    return PretokInput(path, meta_path, sum_n_tok)


# ------------------------------------------------------------ HDFS raw logs

# body templates: index EXCEPTION is the planted anomaly event
HDFS_TEMPLATES = [
    "Receiving block {b} src: /10.0.{o}.{h}:{p} dest: /10.0.{o}.{h}:50010",
    "BLOCK* NameSystem.allocateBlock: /user/job_{j}/part-{t} {b}",
    "PacketResponder {t} for block {b} terminating",
    "Verification succeeded for {b}",
    "BLOCK* NameSystem.addStoredBlock: blockMap updated: 10.0.{o}.{h}:50010 is added to {b} size {s}",
    "Deleting block {b} file /data/current/{b}",
    "Exception in receiveBlock for block {b} java.io.IOException: Connection reset",
    "Received block {b} of size {s} from /10.0.{o}.{h}",
]
EXCEPTION = 6
COMPONENTS = ("dfs.DataNode$PacketResponder", "dfs.FSNamesystem", "dfs.DataNode$DataXceiver")
LINES_PER_SEQ = 20
FAULT_PRONE_PERCENT = 12


@dataclass
class HdfsInput:
    path: str
    labels_path: str
    seq_ids: list[str]
    anomalous: set[str]


def hdfs_corpus(seed: int, n_lines: int) -> tuple[list[str], list[str], np.ndarray]:
    """Raw lines, every block id, and per block 1 (anomalous), 0 (normal)
    or -1 (no line drew it)."""
    d = Draws(seed)
    n_blocks = max(10, n_lines // LINES_PER_SEQ)
    blocks = np.arange(n_blocks, dtype=np.int64)
    blk_num = d.below(blocks, 20, 10**12)
    blk_neg = d.below(blocks, 21, 2) == 1
    blk_names = [f"blk_{'-' if neg else ''}{num}" for num, neg in zip(blk_num, blk_neg)]
    fault_prone = d.below(blocks, 22, 100) < FAULT_PRONE_PERCENT

    ids = np.arange(n_lines, dtype=np.int64)
    blk = d.below(ids, 11, n_blocks)
    normal_pick = d.below(ids, 10, len(HDFS_TEMPLATES) - 1)
    tpl = np.where(normal_pick >= EXCEPTION, normal_pick + 1, normal_pick)
    tpl = np.where(fault_prone[blk] & (d.below(ids, 23, 4) == 0), EXCEPTION, tpl)
    anomalous = np.zeros(n_blocks, dtype=bool)
    anomalous[blk[tpl == EXCEPTION]] = True

    params = {
        "o": d.below(ids, 12, 255),
        "h": d.below(ids, 13, 255),
        "p": d.below(ids, 14, 30000) + 1024,
        "j": d.below(ids, 15, 50),
        "t": d.below(ids, 16, 8),
        "s": d.below(ids, 17, 67108864) + 1024,
    }
    pid = d.below(ids, 18, 4000)
    comp = d.below(ids, 19, len(COMPONENTS))
    base = np.datetime64(1_200_000_000 + (seed % 1000) * 86_400, "s")
    stamps = (base + ids).astype(str)  # 'YYYY-MM-DDTHH:MM:SS', one line per second
    lines = []
    for i in range(n_lines):
        s = stamps[i]
        k = tpl[i]
        body = HDFS_TEMPLATES[k].format(b=blk_names[blk[i]], **{c: v[i] for c, v in params.items()})
        level = "WARN" if k == EXCEPTION else "INFO"
        date, clock = s[2:4] + s[5:7] + s[8:10], s[11:13] + s[14:16] + s[17:19]
        lines.append(f"{date} {clock} {pid[i]} {level} {COMPONENTS[comp[i]]}: {body}")
    present = np.zeros(n_blocks, dtype=bool)
    present[blk] = True
    return lines, blk_names, np.where(present, anomalous.astype(np.int8), -1)


def write_hdfs(seed: int, n_lines: int, root: str, n_files: int) -> HdfsInput:
    lines, blk_names, flags = hdfs_corpus(seed, n_lines)
    path, labels_path = os.path.join(root, "hdfs_lines"), os.path.join(root, "hdfs_labels")
    _write_parts(pa.table({"m_message": pa.array(lines, pa.string())}), path, n_files)
    seq_ids = [b for b, f in zip(blk_names, flags) if f >= 0]
    anomalous = {b for b, f in zip(blk_names, flags) if f == 1}
    labels = pa.table(
        {"BlockId": seq_ids, "Label": ["Anomaly" if b in anomalous else "Normal" for b in seq_ids]}
    )
    _write_parts(labels, labels_path, 1)
    return HdfsInput(path, labels_path, seq_ids, anomalous)
