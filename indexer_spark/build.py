"""Distributed inverted-index build — the Spark-native reshape of the
reference pipeline (SURVEY.md §3.1).

Reference dataflow: files -> parse -> tokenize -> per-doc TF -> per-term
postings -> flush 100-doc segments behind a global RwLock
(/root/reference/src/lib.rs:292-342, src/tree.rs:186-247). Here the same
computation is expressed with no lock and no driver bottleneck:

  stage "ids"      repartitionByRange(conv_id, turn_idx) -> tokenize
                   (Arrow-batched mapInPandas) -> write the forward rows
                   (doc row + delimited terms/tfs + doc_len + LOCAL
                   per-shard index) to a staging dir partitioned by
                   shard == the stage-1 partition id, in ONE job — the
                   corpus is materialized exactly once — then the
                   docstore ("tok": the forward rows minus their terms
                   payload) from that staging dir. Dense global
                   doc_id = shard_offset + local_idx (replaces the
                   AtomicU64 counter, tree.rs:63-82, with no global
                   window and no pre-count pass): per-shard offsets are
                   computed AFTER the write from a cheap per-shard count
                   aggregate and stored in stats.json; the postings
                   stage bakes absolute ids in, so the query path never
                   pays for the indirection. A shard is the scale-out
                   analog of the reference's 100-doc segment
                   (tree.rs:269).

  stage "postings" per pending shard: whole-file tasks stream the staged
                   forward rows (not exploded rows) into a mapInArrow
                   builder that explodes with numpy, lexsorts (term,
                   doc_id) and lays the doc-id gaps and tfs out as
                   integer list columns (compress.postings_columns), one
                   row per (shard, term), written directly partitionBy(shard)
                   with dynamic partition overwrite (idempotent re-runs)
                   and small parquet row groups so query-time term
                   predicates prune within a shard file.
                   Skew note (quirk Q4: hot punctuation terms): groups
                   are doc-ranges, not terms, so every group is the same
                   size by construction — a hot term costs its postings
                   count spread evenly across ALL shards, never one
                   reducer. This is the salted-merge insight taken to its
                   limit: the doc-partitioned layout makes term salt
                   unnecessary on the build side. Once every shard's
                   postings are committed the staging dir is deleted:
                   like the reference, the index at rest is a docstore
                   plus postings (compaction and update regenerate the
                   forward rows by inverting the postings).

  stage "stats"    global df per term (partial per shard -> final sum,
                   exactly the tree.rs:212/413 partial/final split) +
                   corpus stats (N, avgdl — N includes zero-token docs,
                   quirk Q1).

Every stage is resumable: the manifest (manifest.jsonl) records, per
shard, status + lineage + metrics (terms, postings, bytes, wall ms);
`build_index(resume=True)` skips completed shards.
"""

from __future__ import annotations

import json
import math
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from .compress import encode_positions_doc
from .lexer import term_counts, term_occurrences

# tok is the docstore: one row per document, keyed by (shard, local_idx),
# with what a query resolves (conv_id, turn_idx, role) and scores with
# (doc_len). It stores no terms: like the reference's DocumentStore next
# to its postings, the index at rest is this table plus the postings.
TOK_COLUMNS = ("local_idx", "shard", "conv_id", "turn_idx", "role",
               "doc_len")
TOK_SCHEMA = (
    "local_idx long, shard int, conv_id string, turn_idx int, role string, "
    "doc_len int"
)

# forward rows = tok + each document's terms payload. They live in the
# staging dir only while a build, append, update or compaction needs
# them (the postings stage reads them); compaction and update regenerate
# them from the postings (_forward_rows).
# terms = "\n"-joined tokens (tokens never contain whitespace, so "\n" is
# a safe delimiter); tfs = packed little-endian int32 bytes. Flat strings /
# binary convert through Arrow at C speed — list<string> columns cost
# per-element Python conversion, which dominated the tokenize stage at 2M+
# docs; packed int32 beats the earlier ","-joined decimal string on both
# sides (no str() per count at tokenize, np.frombuffer instead of text
# parsing at postings build).
FORWARD_SCHEMA = TOK_SCHEMA + ", terms string, tfs binary"

# positional variant (BuildConfig.positions): one extra binary column,
# poss = per-term delta-varint position lists concatenated in terms order.
# Each term's blob holds its tf varints, so the postings builder splits it
# at the varint ends without a stored length.
FORWARD_SCHEMA_POS = FORWARD_SCHEMA + ", poss binary"

# one row per (shard, term): docs = doc-id gaps (the first absolute),
# tfs = term frequencies, as integer lists the reader views as numpy
# arrays; blocks = per-block WAND metadata over elements
# [i*block_size, min((i+1)*block_size, df)); nbytes = the
# varint-equivalent payload bytes (compress.postings_columns). Document
# lengths are stored once per document, in tok doc_len: the reader
# gathers each posting's from there.
POSTINGS_SCHEMA = (
    "shard int, term string, df long, nbytes long, "
    "docs array<long>, tfs array<int>, "
    "blocks array<struct<last_doc_id: long, max_tf: int, max_norm: double>>"
)

# positional postings carry one extra payload column: the doc-ordered
# concatenation of per-doc position blobs (lengths recoverable from tfs,
# so no offset table is stored), plus its per-term byte size so the
# reader's fast-path admission gate can count the positions payload
# WITHOUT reading it (term_stats aggregates poss_nbytes the same way it
# aggregates nbytes). Every non-phrase query path selects explicit
# columns, so the columns cost nothing unless a phrase asks.
POSTINGS_SCHEMA_POS = POSTINGS_SCHEMA + ", poss binary, poss_nbytes long"


@dataclass
class BuildConfig:
    shard_docs: int = 1 << 16      # docs per shard (segment analog; also
    #                                the postings-agg memory bound: a group
    #                                holds one shard's (term,doc,tf) tuples)
    block_size: int = 128          # postings per WAND block
    k1: float = 1.2
    b: float = 0.75
    id_partitions: int | None = None
    row_group_bytes: int = 1 << 20  # small parquet row groups on postings
    #                                 => term-predicate pruning within files
    shard_map_json_max: int = 4096  # above this many shards, offsets/counts
    #                                 live in a parquet shard_map table
    positions: bool = False        # record term positions (phrase search);
    #   adds a poss payload column to tok + postings — sticky for the
    #   index lifetime (append/update read it back from stats.json)
    presorted_source: bool = False  # caller asserts every input partition
    #   is sorted by (conv_id, turn_idx) and partitions are range-disjoint
    #   (e.g. an Iceberg table with a conv_id sort order): the ids stage
    #   then skips its range shuffle entirely — shard == scan partition.
    #   Within-partition order is VERIFIED at tokenize time (loud failure);
    #   ids follow scan-partition order instead of global sort order.
    extra_lineage: dict = field(default_factory=dict)


def _tok_path(d): return os.path.join(d, "tok")
def _staging_root(d): return os.path.join(d, "_staging")
def _staging_path(d): return os.path.join(_staging_root(d), "fwd")
def _postings_path(d): return os.path.join(d, "postings")
def _term_stats_path(d): return os.path.join(d, "term_stats")
def _stats_path(d): return os.path.join(d, "stats.json")
def _manifest_path(d): return os.path.join(d, "manifest.jsonl")


def read_manifest(index_dir: str) -> list[dict]:
    p = _manifest_path(index_dir)
    if not os.path.exists(p):
        return []
    with open(p) as f:
        return [json.loads(line) for line in f if line.strip()]


def _append_manifest(index_dir: str, rows: list[dict]) -> None:
    existing = read_manifest(index_dir)
    tmp = _manifest_path(index_dir) + ".tmp"
    with open(tmp, "w") as f:
        for r in existing + rows:
            f.write(json.dumps(r) + "\n")
    os.replace(tmp, _manifest_path(index_dir))


def _shard_map_path(d): return os.path.join(d, "shard_map")


def _ms_since(t: float) -> int:
    """Whole milliseconds of wall time since ``time.time()`` was ``t``."""
    return int((time.time() - t) * 1000)


def _shard_files(root: str, shard: int) -> list[str]:
    """Data files of one hive shard partition (skips _SUCCESS/.crc)."""
    d = os.path.join(root, f"shard={int(shard)}")
    if not os.path.isdir(d):
        return []
    return [
        os.path.join(d, f) for f in sorted(os.listdir(d))
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    ]


def _list_shards(root: str) -> list[int]:
    if not os.path.isdir(root):
        return []
    out = []
    for name in os.listdir(root):
        if name.startswith("shard="):
            try:
                out.append(int(name.split("=", 1)[1]))
            except ValueError:
                pass
    return sorted(out)


def _tok_shard_stats_local(index_dir: str, shards: list[int]) -> list[dict]:
    """Per-shard (n, total_len, max_local) over the tok table WITHOUT a
    Spark job: row counts and local_idx maxima come from parquet footer
    metadata (row-group statistics); total_len reads only the doc_len
    column (4 bytes/doc). Used at or below DRIVER_META_MAX_SHARDS — the
    distributed groupBy path covers cluster-scale shard counts, where a
    driver loop over shard dirs would not fly."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    root = _tok_path(index_dir)
    out = []
    for s in shards:
        files = _shard_files(root, s)
        if not files:
            continue
        n, total_len, max_local = 0, 0, -1
        for fp in files:
            f = pq.ParquetFile(fp)
            md = f.metadata
            n += md.num_rows
            col_names = [md.schema.column(i).name for i in range(md.num_columns)]
            li = col_names.index("local_idx")
            have_stats = True
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(li).statistics
                if st is None or not st.has_min_max:
                    have_stats = False
                    break
                max_local = max(max_local, int(st.max))
            cols = ["doc_len"] if have_stats else ["doc_len", "local_idx"]
            tbl = f.read(columns=cols)
            total_len += int(pc.sum(tbl.column("doc_len")).as_py() or 0)
            if not have_stats:
                max_local = max(
                    max_local, int(pc.max(tbl.column("local_idx")).as_py())
                )
        out.append({
            "shard": int(s), "n": int(n),
            "total_len": int(total_len), "max_local": int(max_local),
        })
    return out


def _tok_conv_bounds_local(index_dir: str) -> dict[int, tuple[bytes, bytes]] | None:
    """Per-shard (min, max) conv_id from tok parquet footer statistics —
    the (conv_id -> shard) lookup update_index uses to prune its
    owner-discovery scan: shards are (conv_id, turn_idx) ranges by
    construction (repartitionByRange at build), so footer bounds locate
    candidate owners with zero data reads. Returns None when any file
    lacks usable statistics (callers fall back to the full scan). At
    cluster scale these bounds live in the table manifest (e.g. Iceberg's
    per-file column bounds) instead of a driver loop.

    Bounds are returned as RAW UTF-8 BYTES and callers must compare
    against encoded conv_ids: decoding with errors='replace' maps broken
    sequences to U+FFFD which sorts ABOVE nearly every real character, so
    a decoded bound could exceed the true min and the prune would
    silently skip the owning shard. Byte order == UTF-8 code-point order,
    so comparing raw bytes is exact for any well-formed value; a value
    the writer stored as a str is re-encoded here for the same reason."""
    import pyarrow.parquet as pq

    root = _tok_path(index_dir)
    bounds: dict[int, tuple[bytes, bytes]] = {}
    for s in _list_shards(root):
        lo = hi = None
        for fp in _shard_files(root, s):
            md = pq.ParquetFile(fp).metadata
            col_names = [md.schema.column(i).name for i in range(md.num_columns)]
            ci = col_names.index("conv_id")
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(ci).statistics
                if st is None or not st.has_min_max:
                    return None
                mn, mx = st.min, st.max
                if isinstance(mn, str):
                    mn = mn.encode("utf-8")
                if isinstance(mx, str):
                    mx = mx.encode("utf-8")
                lo = mn if lo is None or mn < lo else lo
                hi = mx if hi is None or mx > hi else hi
        if lo is not None:
            bounds[int(s)] = (lo, hi)
    return bounds


# above this many shards the offsets/counts map graduates out of
# stats.json into a parquet table (broadcastable; JSON would balloon and
# every stats read would parse it). Tunable via BuildConfig.
SHARD_MAP_JSON_MAX = 4096

# On-disk index format version, stamped into stats.json at build time and
# checked on every open. v2 = per-term nbytes column in postings +
# packed-int32-binary tfs in tok; v3 = postings docs/tfs/dls as integer
# lists (no varint blobs, no block byte offsets) and no tok poss_lens;
# v4 = no postings dls (document lengths only in tok doc_len); v5 = tok
# is the docstore only (no terms/tfs/poss at rest).
# Indexes without the stamp predate v2. Readers/appenders fail fast on
# mismatch instead of silently mixing formats.
FORMAT_VERSION = 5

# Sentinel term for the per-(shard, task) metadata row the postings
# builder emits alongside the real rows: carries n_postings (df), n_terms
# (docs = [n_terms]) and the payload bytes (nbytes, poss_nbytes), and
# doubles as the split-shard guard (two tasks touching one shard -> two
# meta rows). Collision-proof: the lexer emits non-
# alphanumeric characters as SINGLE-char tokens (lexer.py), so no real
# term can be multi-char and start with \x00. Sorts before every real
# term, so it lives in each file's first row group and term-stat pruning
# makes reading it metadata-sized.
META_TERM = "\x00meta"

# At or below this many shards, post-write bookkeeping (per-shard counts,
# postings metrics, duplicate guard) is read driver-side from parquet
# footers / sentinel rows — metadata-sized IO instead of whole Spark
# jobs, which at bench scale were ~half the build's fixed cost. Above it
# (cluster-scale shard counts) the same numbers come from the distributed
# aggregation paths kept alongside.
DRIVER_META_MAX_SHARDS = 512


def read_stats(index_dir: str) -> dict:
    """Read stats.json; when the shard map graduated to parquet
    (stats['shard_map'] == 'parquet'), load offsets/counts from the
    shard_map table so every consumer sees the same dict shape. (At
    10^12-turn scale a reader keeps the table as sorted arrays / a
    broadcast DF instead of a Python dict — docstore() already reads the
    parquet directly.)"""
    with open(_stats_path(index_dir)) as f:
        stats = json.load(f)
    found = int(stats.get("format_version", 1))
    if found != FORMAT_VERSION:
        raise RuntimeError(
            f"index at {index_dir} has on-disk format v{found}; this "
            f"engine reads/writes v{FORMAT_VERSION}. Rebuild the index "
            "with build_index: the postings and tok layouts differ "
            "between versions, and an append or update would mix them."
        )
    if stats.get("shard_map") == "parquet" and "shard_offsets" not in stats:
        import pyarrow.parquet as pq

        t = pq.read_table(_shard_map_path(index_dir))
        shards = t.column("shard").to_pylist()
        stats["shard_offsets"] = dict(
            zip(map(str, shards), map(int, t.column("offset").to_pylist()))
        )
        stats["shard_counts"] = dict(
            zip(map(str, shards), map(int, t.column("count").to_pylist()))
        )
    return stats


def _write_stats(index_dir: str, stats: dict) -> None:
    """Atomically commit stats.json. If the shard map is (or must become)
    parquet-backed, (re)write the shard_map table and keep the big dicts
    OUT of the JSON."""
    stats = dict(stats)
    # strictly increasing epoch across every stats commit: keys the
    # worker-side decoded-postings cache, so entries from a superseded
    # index version are never served after an append/update/rebuild
    try:
        with open(_stats_path(index_dir)) as f:
            on_disk = int(json.load(f).get("epoch", 0))
    except Exception:
        on_disk = 0
    nxt = max(on_disk, int(stats.get("epoch", 0))) + 1
    if on_disk == 0 and "epoch" not in stats:
        # FRESH index (build_index removed the old stats.json): seed the
        # namespace from the wall clock — a plain counter would restart
        # at 1 and a rebuilt index could collide with its predecessor's
        # still-cached entries in long-lived driver/worker processes
        nxt = time.time_ns()
    stats["epoch"] = nxt
    n_shards_mapped = len(stats.get("shard_offsets", ()))
    threshold = int(stats.get("shard_map_json_max", SHARD_MAP_JSON_MAX))
    if stats.get("shard_map") == "parquet" or n_shards_mapped > threshold:
        import pyarrow as pa
        import pyarrow.parquet as pq

        items = sorted(
            (int(s), int(o)) for s, o in stats["shard_offsets"].items()
        )
        counts = stats["shard_counts"]
        tbl = pa.table({
            "shard": pa.array([s for s, _ in items], pa.int32()),
            "offset": pa.array([o for _, o in items], pa.int64()),
            "count": pa.array(
                [int(counts[str(s)]) for s, _ in items], pa.int64()
            ),
        })
        os.makedirs(_shard_map_path(index_dir), exist_ok=True)
        tmp = os.path.join(_shard_map_path(index_dir), ".map.parquet.tmp")
        pq.write_table(tbl, tmp)
        os.replace(tmp, os.path.join(_shard_map_path(index_dir), "map.parquet"))
        stats["shard_map"] = "parquet"
        stats.pop("shard_offsets", None)
        stats.pop("shard_counts", None)
    tmp = _stats_path(index_dir) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(stats, f, indent=1)
    os.replace(tmp, _stats_path(index_dir))


# --------------------------------------------------------------------------
# stage "ids": deterministic dense doc ids + tokenize -> forward index
# --------------------------------------------------------------------------

def _forward_cells(text, positions: bool = False) -> tuple:
    """One text's forward-row cells: (doc_len, terms, tfs), plus poss
    when ``positions`` (see FORWARD_SCHEMA). The tokenizer and
    update_index's re-tokenizer both build their rows from this."""
    if positions:
        occ = term_occurrences(text)
        tfs = [len(v) for v in occ.values()]
    else:
        occ = term_counts(text)
        tfs = list(occ.values())
    cells = (sum(tfs), "\n".join(occ),
             np.fromiter(tfs, dtype=np.int32, count=len(tfs)).tobytes())
    if positions:
        cells += (encode_positions_doc(occ.values()),)
    return cells


def _make_tokenizer(shard_base: int = 0, verify_sorted: bool = False,
                    positions: bool = False):
    """mapInPandas fn: tokenize + assign LOCAL per-shard doc indices.

    Runs once per partition (iterator of Arrow batches); the partition's
    rows arrive in (conv_id, turn_idx) order, so local_idx = running
    index within the partition. The global dense id is
    doc_id = shard_offset + local_idx, with shard offsets computed from
    per-shard counts AFTER the write — the scalable replacement for a
    global row_number window that needs only ONE pass over the corpus
    (no pre-count materialization).

    shard == the stage-1 partition id: each shard is then written as
    exactly ONE parquet file, which is what lets the postings stage read
    whole shards per task with no shuffle at all.
    """
    def fn(batches):
        shard = None
        local = 0
        prev_key = None  # (conv_id, turn_idx) of the previous row
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if shard is None:
                shard = shard_base + int(pdf["pid"].iloc[0])
            if verify_sorted:
                # presorted-source contract: rows of this partition must
                # arrive in (conv_id, turn_idx) order — a violated
                # assertion here is cheap insurance against silently
                # mis-ordered doc ids when the shuffle is skipped
                c = pdf["conv_id"]
                t = pdf["turn_idx"]
                bad = (c.iloc[1:].to_numpy() < c.iloc[:-1].to_numpy()) | (
                    (c.iloc[1:].to_numpy() == c.iloc[:-1].to_numpy())
                    & (t.iloc[1:].to_numpy() < t.iloc[:-1].to_numpy())
                )
                first_bad = (
                    prev_key is not None
                    and (str(c.iloc[0]), int(t.iloc[0])) < prev_key
                )
                if bad.any() or first_bad:
                    raise RuntimeError(
                        "presorted_source=True but input partition "
                        f"{shard} is not sorted by (conv_id, turn_idx)"
                    )
                prev_key = (str(c.iloc[-1]), int(t.iloc[-1]))
            n = len(pdf)
            doc_ids = local + np.arange(n, dtype=np.int64)
            local += n
            dls, *payload = zip(*(_forward_cells(t, positions)
                                  for t in pdf["text"].tolist()))
            yield pd.DataFrame({
                "local_idx": doc_ids,
                "shard": np.full(n, shard, dtype=np.int32),
                "conv_id": pdf["conv_id"].values,
                "turn_idx": pdf["turn_idx"].values,
                "role": pdf["role"].values,
                "doc_len": np.array(dls, dtype=np.int32),
                # terms, tfs[, poss]
                **dict(zip(("terms", "tfs", "poss"), map(list, payload))),
            })

    return fn


def _collect_shard_stats(spark, index_dir, p):
    """Per-shard counts/offsets of a freshly written tok dir: below
    DRIVER_META_MAX_SHARDS this is a driver-side footer read (row counts
    + local_idx maxima from parquet metadata, doc_len column only for
    total_len) — saves a whole Spark job; at cluster-scale shard counts
    the distributed agg does the same numbers. Density-checks local_idx
    per shard. Returns (offsets, counts, n_docs, total_len)."""
    if p <= DRIVER_META_MAX_SHARDS:
        per_shard = _tok_shard_stats_local(
            index_dir, _list_shards(_tok_path(index_dir))
        )
    else:
        per_shard = (
            spark.read.parquet(_tok_path(index_dir))
            .groupBy("shard")
            .agg(
                F.count("*").alias("n"),
                F.sum("doc_len").alias("total_len"),
                F.max("local_idx").alias("max_local"),
            )
            .collect()
        )
    offsets, counts, acc, total_len = {}, {}, 0, 0
    for r in sorted(per_shard, key=lambda r: r["shard"]):
        if r["max_local"] + 1 != r["n"]:
            # doc-id stability invariant: must fail loudly even under -O
            raise RuntimeError(
                f"local_idx not dense within shard {r['shard']} "
                f"(max_local={r['max_local']}, n={r['n']})"
            )
        offsets[int(r["shard"])] = acc
        counts[int(r["shard"])] = int(r["n"])
        acc += int(r["n"])
        total_len += int(r["total_len"] or 0)
    return offsets, counts, acc, total_len


@contextmanager
def _whole_file_scans(spark):
    """Pin file-scan splitting so every scan task reads WHOLE files:
    Spark only splits files larger than maxPartitionBytes, and packs
    small ones up to it at openCostInBytes apiece. Scans planned by an
    action run inside this block give each shard's one file its own
    task, which the postings builder (one shard per task: its memory
    bound) and the one-file-per-shard tok writes rely on."""
    conf = spark.conf
    keys = ("spark.sql.files.maxPartitionBytes",
            "spark.sql.files.openCostInBytes")
    old = {k: conf.get(k) for k in keys}
    for k in keys:
        conf.set(k, str(256 << 20))
    try:
        yield
    finally:
        for k, v in old.items():
            conf.set(k, v)


def _write_forward(spark, fwd: DataFrame, index_dir: str, mode: str,
                   shards: list[int] | None = None) -> None:
    """Commit forward rows (FORWARD_SCHEMA[_POS]): the full rows go to
    the staging dir, where the postings stage reads them, and tok is
    written from there with the docstore columns only (one file per
    shard: whole-file scan tasks) — the tokenizer or inverter runs once.
    ``mode`` is the partition overwrite mode of both writes; ``shards``
    restricts the tok write to the shards this call staged (None: all of
    them).

    Every tok and postings writer sorts by (shard, key): the driver
    point reads (query._FileIndex) search each file's key, so it must be
    strictly increasing within a file. Led by the partition column, this
    order also satisfies the sort Spark plans under a partitioned write,
    so that sort (which can interleave rows of one shard when it spills)
    is not added on top."""
    stage = _staging_path(index_dir)
    (
        fwd.sortWithinPartitions("shard", "local_idx")
        .write.partitionBy("shard")
        .option("partitionOverwriteMode", mode)
        # staged rows are read once, and their payload is near-unique:
        # dictionary pages only cost write time (200,000 positional
        # rows: 2.0 -> 1.8 s)
        .option("parquet.enable.dictionary", "false")
        .mode("overwrite")
        .parquet(stage)
    )
    staged = _list_shards(stage) if shards is None else shards
    paths = [os.path.join(stage, f"shard={int(s)}") for s in staged
             if _shard_files(stage, s)]
    if not paths:  # nothing staged (an empty corpus or batch)
        return
    with _whole_file_scans(spark):
        (
            spark.read.schema(TOK_SCHEMA).option("basePath", stage)
            .parquet(*paths)
            .sortWithinPartitions("shard", "local_idx")
            .write.partitionBy("shard")
            .option("partitionOverwriteMode", mode)
            .mode("overwrite")
            .parquet(_tok_path(index_dir))
        )


def _stage_ids(spark, df, index_dir, cfg: BuildConfig, lineage: str) -> dict:
    t0 = time.time()
    if cfg.presorted_source:
        # input partitions already sorted by (conv_id, turn_idx) and
        # range-disjoint (e.g. an Iceberg table with that sort order):
        # shard == scan partition, ZERO shuffle — the build's only
        # exchange disappears. A split file is harmless (each slice is
        # still sorted and disjoint); within-partition order is verified
        # row-by-row inside the tokenizer. doc_ids then follow scan
        # partition order (file listing order), not global sort order.
        p = df.rdd.getNumPartitions()
    elif cfg.id_partitions:
        p = cfg.id_partitions
    else:
        # count is metadata-cheap on parquet/iceberg sources; shard_docs is
        # the docs-per-shard target
        n_est = df.count()
        p = max(
            spark.sparkContext.defaultParallelism,
            math.ceil(n_est / cfg.shard_docs),
        )
    if cfg.presorted_source:
        parted = df.withColumn("pid", F.spark_partition_id())
    else:
        parted = (
            df.repartitionByRange(p, "conv_id", "turn_idx")
            .sortWithinPartitions("conv_id", "turn_idx")
            .withColumn("pid", F.spark_partition_id())
        )
    # ONE pass over the corpus: shuffle -> tokenize -> write. Global ids
    # are derived afterwards from per-shard counts (metadata-cheap scan
    # of the written files), not from a pre-count of a cached shuffle.
    fwd = parted.mapInPandas(
        _make_tokenizer(verify_sorted=cfg.presorted_source,
                        positions=cfg.positions),
        schema=FORWARD_SCHEMA_POS if cfg.positions else FORWARD_SCHEMA,
    )
    t1 = time.time()
    # static overwrite: this is always a fresh dir (build_index removes
    # stale data), and the dynamic-overwrite commit's per-partition
    # staging+moves are pure fixed cost here (the appenders that DO need
    # dynamic pass it explicitly).
    _write_forward(spark, fwd, index_dir, "static")
    tokenize_ms = _ms_since(t1)

    t1 = time.time()
    offsets, counts, n_docs, total_len = _collect_shard_stats(
        spark, index_dir, p
    )
    shard_stats_ms = _ms_since(t1)
    avgdl = total_len / n_docs if n_docs else 0.0
    stats = {
        "format_version": FORMAT_VERSION,
        "n_docs": int(n_docs),
        "total_len": int(total_len),
        "avgdl": float(avgdl),
        "block_size": cfg.block_size,
        "k1": cfg.k1,
        "b": cfg.b,
        # shard == stage-1 partition id; empty partitions own no file but
        # keep their slot so resume bookkeeping stays dense
        "n_shards": int(p),
        # doc_id = shard_offsets[shard] + local_idx; past
        # shard_map_json_max shards, _write_stats moves the map into the
        # parquet shard_map table (same lookup, broadcastable container)
        "shard_map_json_max": int(cfg.shard_map_json_max),
        "shard_offsets": {str(s): o for s, o in offsets.items()},
        "shard_counts": {str(s): c for s, c in counts.items()},
        # sticky: appends/updates keep writing positions iff the build did
        "positions": bool(cfg.positions),
    }
    _write_stats(index_dir, stats)
    _append_manifest(
        index_dir,
        [{
            "stage": "ids", "shard": -1, "status": "done",
            "n_terms": 0, "n_postings": 0, "n_bytes": 0,
            "lineage": lineage, "wall_ms": _ms_since(t0),
            "tokenize_ms": tokenize_ms, "shard_stats_ms": shard_stats_ms,
            "finished_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }],
    )
    return stats


# --------------------------------------------------------------------------
# stage "postings": per-shard sorted, delta+varint-compressed posting lists
# --------------------------------------------------------------------------

def _binary_values(a) -> np.ndarray:
    """The values of a binary Arrow array concatenated, as a uint8 numpy
    view of its data buffer (no per-row bytes objects)."""
    import pyarrow as pa

    n = len(a)
    if n == 0:
        return np.zeros(0, dtype=np.uint8)
    wide = pa.types.is_large_binary(a.type)
    _validity, offs, data = a.buffers()
    off = np.frombuffer(offs, dtype=np.int64 if wide else np.int32)[
        a.offset:a.offset + n + 1]
    if data is None:
        return np.zeros(0, dtype=np.uint8)
    return np.frombuffer(data, dtype=np.uint8)[off[0]:off[-1]]


def _binary_array(offsets: np.ndarray, data: np.ndarray):
    """A binary Arrow array over ``data`` (uint8) cut at ``offsets``
    (len n + 1, starting at 0), with no per-value bytes objects."""
    import pyarrow as pa

    return pa.Array.from_buffers(pa.binary(), offsets.size - 1, [
        None, pa.py_buffer(np.ascontiguousarray(offsets, dtype=np.int32)),
        pa.py_buffer(np.ascontiguousarray(data)),
    ])


def _permute_entries(big: np.ndarray, tfs: np.ndarray, order: np.ndarray,
                     where: str):
    """Reorder the entries of a positions stream WITHOUT per-entry
    Python slicing: one uint8 buffer + a vectorized gather index (output
    byte -> input byte). Entries tile ``big`` contiguously and entry i
    holds tfs[i] varints, so every entry ends at the end of varint
    cumsum(tfs)[i] - 1 (no stored lengths). Returns (the entries'
    bytes in ``order``, each one's byte length in that order, and its
    start offsets with the total appended)."""
    from .compress import varint_ends

    ends = varint_ends(big)
    if ends.size != int(tfs.sum()):
        raise RuntimeError(
            f"positions misaligned in {where}: "
            f"{ends.size} varints vs {int(tfs.sum())} positions"
        )
    if (int(ends[-1]) if ends.size else 0) != big.size:
        raise RuntimeError(f"positions byte-length mismatch in {where}")
    ent_end = ends[np.cumsum(tfs) - 1]
    ent_len = np.diff(ent_end, prepend=0)
    s_o = (ent_end - ent_len)[order]
    l_o = ent_len[order]
    out_prev = np.concatenate(([0], np.cumsum(l_o)))
    gather = (
        np.arange(int(out_prev[-1]), dtype=np.int64)
        - np.repeat(out_prev[:-1], l_o)
        + np.repeat(s_o, l_o)
    )
    return big[gather], l_o, out_prev


def _make_postings_builder(
    avgdl: float, k1: float, b: float, block_size: int,
    offsets: dict[int, int], positions: bool = False,
):
    """One shard's forward rows (an Arrow table) -> its postings rows as
    Arrow record batches: the sentinel meta row, then one row per term
    in term order (see POSTINGS_SCHEMA), or nothing for a shard without
    a single term."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from .compress import postings_columns

    def fn(tbl):
        shard = int(tbl.column("shard")[0].as_py())
        # absolute doc_id baked into the postings: the query path never
        # sees the local/offset indirection
        base = offsets[shard]
        tbl = tbl.filter(pc.not_equal(tbl.column("terms"), "")) \
            .combine_chunks()
        if tbl.num_rows == 0:
            return
        col = {c: tbl.column(c).chunk(0) for c in tbl.column_names}
        # explode the doc rows at C speed: split + dictionary-encode
        # inside pyarrow, so the whole shard's term stream stays in
        # contiguous Arrow buffers (no per-term Python str objects, no
        # object-hash factorize). UTF-8 byte order equals code-point
        # order, so sort_indices over the dictionary ranks the terms.
        tlists = pc.split_pattern(col["terms"], "\n")
        lens = pc.list_value_length(tlists).to_numpy().astype(np.int64)
        doc_rep = np.repeat(
            base + col["local_idx"].to_numpy().astype(np.int64), lens)
        # each posting's document length: its block max_norm and nbytes
        # count it, the postings do not store it
        dl_rep = np.repeat(col["doc_len"].to_numpy().astype(np.int64), lens)
        tfs = np.frombuffer(_binary_values(col["tfs"]),
                            dtype=np.int32).astype(np.int64)
        # sort by (term, doc_id) via integer codes (dictionary >> strings)
        enc = pc.list_flatten(tlists).dictionary_encode()
        dic = enc.dictionary
        sort_idx = pc.sort_indices(dic).to_numpy().astype(np.int64)
        rank = np.empty(len(dic), dtype=np.int64)
        rank[sort_idx] = np.arange(len(dic), dtype=np.int64)
        codes = rank[enc.indices.to_numpy()]
        order = np.lexsort((doc_rep, codes))
        codes, doc_s = codes[order], doc_rep[order]
        starts = np.concatenate(
            ([0], np.nonzero(np.diff(codes))[0] + 1, [codes.size])
        )
        n_terms = starts.size - 1
        out = postings_columns(doc_s, tfs[order], dl_rep[order], starts,
                               avgdl, k1=k1, b=b, block_size=block_size)
        nbytes = out.pop("nbytes")
        names = ["shard", "term", "df", "nbytes", "docs", "tfs", "blocks"]
        arrays = [
            pa.array(np.full(n_terms, shard, dtype=np.int32)),
            dic.take(pa.array(sort_idx[codes[starts[:-1]]])),
            pa.array(np.diff(starts)),
            pa.array(nbytes),
            out["docs"], out["tfs"], out["blocks"],
        ]
        if positions:
            # permute each doc row's concatenated per-term position blobs
            # into (term, doc_id) order (_permute_entries); the per-doc
            # delta chains stay intact, so the query side decodes a
            # term's whole payload in one varint pass
            big, ent_len, ent_off = _permute_entries(
                _binary_values(col["poss"]), tfs, order, f"shard {shard}")
            # per-term positions payload bytes, known for free here (the
            # fast-path gate reads them via term_stats, never the payload)
            term_bytes = np.add.reduceat(ent_len, starts[:-1])
            names += ["poss", "poss_nbytes"]
            arrays += [
                _binary_array(ent_off[starts], big),
                pa.array(term_bytes.astype(np.int64)),
            ]
        data = pa.RecordBatch.from_arrays(arrays, names=names)
        # sentinel meta row FIRST (META_TERM sorts before all real terms,
        # preserving the term-sorted layout): per-(shard, task) metrics the
        # post-write bookkeeping reads back without re-aggregating the
        # table (df = the shard's postings, docs = [its terms]), plus the
        # split-shard guard (>1 meta row per shard means a shard's file
        # was split across tasks)
        meta = [[shard], [META_TERM], [int(doc_s.size)],
                [int(nbytes.sum())], [[n_terms]], [[]], [[]]]
        if positions:
            meta += [[b""], [int(term_bytes.sum())]]
        yield pa.RecordBatch.from_arrays(
            [pa.array(v, data.schema.field(i).type)
             for i, v in enumerate(meta)], schema=data.schema)
        yield data

    return fn


def _make_streaming_builder(avgdl, k1, b, block_size, offsets,
                            positions: bool = False):
    """mapInArrow wrapper: accumulate a task's batches (whole shard
    files), then run the per-shard builder for each shard present."""
    import pyarrow as pa

    builder = _make_postings_builder(avgdl, k1, b, block_size, offsets,
                                     positions=positions)

    def fn(batches):
        acc = [rb for rb in batches if rb.num_rows]
        if not acc:
            return
        whole = pa.Table.from_batches(acc)
        shard = whole.column("shard").to_numpy()
        for sh in dict.fromkeys(shard.tolist()):
            yield from builder(whole.filter(pa.array(shard == sh)))

    return fn


def _invert_postings(docs, post, shard: int, base: int,
                     positions: bool = False) -> dict:
    """One shard's documents ``docs`` (an Arrow table: each one's
    local_idx in the shard and the columns to carry with it) and its
    postings rows ``post`` (the meta row is skipped; None: the shard has
    no postings) -> docs' columns in local_idx order plus each
    document's terms, tfs[, poss] (FORWARD_SCHEMA's payload), as a dict
    of Arrow arrays: the inverse of _make_postings_builder. A document
    without a term (an empty, stop-word-only or tombstoned turn) gets an
    empty payload. ``base`` is the shard's doc-id offset. Each row's
    terms come in term order; every term's position blob is its own
    delta chain, so the builder lays the same postings out of either
    order."""
    import pyarrow as pa
    import pyarrow.compute as pc

    docs = docs.sort_by("local_idx")
    n = docs.num_rows
    if not np.array_equal(docs.column("local_idx").to_numpy(), np.arange(n)):
        raise ValueError(f"docstore rows of shard {shard} are not dense")
    if post is None:
        post = pa.table({"term": pa.array([], pa.string()),
                         "df": pa.array([], pa.int64()),
                         "docs": pa.array([], pa.list_(pa.int64())),
                         "tfs": pa.array([], pa.list_(pa.int32())),
                         "poss": pa.array([], pa.binary())})
    post = post.filter(pc.not_equal(post.column("term"), META_TERM))
    df = post.column("df").to_numpy().astype(np.int64)
    gaps = pc.list_flatten(post.column("docs")).to_numpy().astype(np.int64)
    tfs = pc.list_flatten(post.column("tfs")).to_numpy().astype(np.int64)
    if not gaps.size == tfs.size == int(df.sum()):
        raise ValueError(f"postings of shard {shard} do not hold df values")
    # each term row's gaps start absolute: one cumsum, minus the running
    # total carried into each row
    heads = np.cumsum(df) - df
    cs = np.cumsum(gaps)
    local = cs - np.repeat(cs[heads] - gaps[heads], df) - base
    if local.size and not 0 <= local.min() <= local.max() < n:
        raise ValueError(f"postings of shard {shard} name a doc outside "
                         "its docstore")
    # doc-major; stable, so a doc's entries keep the rows' term order
    order = np.argsort(local, kind="stable")
    starts = np.concatenate(([0], np.cumsum(np.bincount(local,
                                                        minlength=n))))
    entry_terms = post.column("term").take(
        pa.array(np.repeat(np.arange(df.size), df)[order])).combine_chunks()
    cols = {c: docs.column(c).combine_chunks() for c in docs.column_names}
    cols["terms"] = pc.binary_join(pa.ListArray.from_arrays(
        pa.array(starts.astype(np.int32)), entry_terms), "\n")
    cols["tfs"] = _binary_array(
        starts * 4, tfs[order].astype(np.int32).view(np.uint8))
    if positions:
        big, _len, ent_off = _permute_entries(
            _binary_values(post.column("poss").combine_chunks()), tfs,
            order, f"shard {shard}")
        cols["poss"] = _binary_array(ent_off[starts], big)
    return cols


def _forward_rows(spark, index_dir: str, stats: dict, positions: bool,
                  shards: list[int] | None = None,
                  remap: str | None = None) -> DataFrame:
    """The forward rows (FORWARD_SCHEMA[_POS]) of an index's documents,
    regenerated from its postings with no shuffle: a mapInArrow whose
    tasks (at most one per core) each read their shards' whole tok and
    postings files with pyarrow, as query._TaskDocLens reads tok, and
    run _invert_postings on each shard, so every shard's rows come from
    one task. ``shards``: only those shards' documents. ``remap``: a dir
    partitioned like tok whose rows replace tok's and also give each
    document its new key (to_shard, to_local), which its row then
    carries (compaction's re-sharding). What compaction and update
    re-shard or re-tokenize, now that the index keeps no forward payload
    at rest. The list columns never pass through the JVM: converting
    them to Arrow row by row cost more than the inversion."""
    offsets = {int(s): int(o) for s, o in stats["shard_offsets"].items()}
    tok_root, post_root = _tok_path(index_dir), _postings_path(index_dir)
    doc_cols = [c for c in TOK_COLUMNS if c != "shard"]
    if remap:
        doc_cols += ["to_shard", "to_local"]
    post_cols = ["term", "df", "docs", "tfs"] + (["poss"] if positions
                                                 else [])
    names = [*TOK_COLUMNS, "terms", "tfs"] + (["poss"] if positions else [])

    def invert(batches):
        import pyarrow as pa
        import pyarrow.parquet as pq

        def read(root, sh, cols):
            files = _shard_files(root, sh)
            if files:
                return pa.concat_tables(pq.read_table(f, columns=cols)
                                        for f in files)

        for rb in batches:
            for sh in map(todo.__getitem__, rb.column("id").to_pylist()):
                docs = read(remap or tok_root, sh, doc_cols)
                if docs is None:
                    continue
                cols = _invert_postings(docs, read(post_root, sh, post_cols),
                                        sh, offsets[sh], positions)
                if remap:
                    cols["local_idx"] = cols["to_local"]
                    cols["shard"] = cols["to_shard"]
                else:
                    cols["shard"] = pa.array(
                        np.full(docs.num_rows, sh, dtype=np.int32))
                yield pa.RecordBatch.from_arrays([cols[c] for c in names],
                                                 names=names)

    todo = _list_shards(tok_root) if shards is None else [int(s)
                                                          for s in shards]
    # spark.range, not createDataFrame over the list: the first local
    # relation of a session costs ~2 s of JVM warm-up
    tasks = max(1, min(len(todo), spark.sparkContext.defaultParallelism))
    return spark.range(0, len(todo), 1, tasks).mapInArrow(
        invert, schema=FORWARD_SCHEMA_POS if positions else FORWARD_SCHEMA)


def _drop_staged(index_dir: str, shards: list[int]) -> None:
    """Delete the staged forward rows of ``shards`` (their postings are
    committed), and the whole staging dir once no shard is left in it: a
    partial build (build_index's ``_only_shards``) keeps the rest for
    its resume."""
    import shutil

    stage = _staging_path(index_dir)
    for s in shards:
        shutil.rmtree(os.path.join(stage, f"shard={int(s)}"),
                      ignore_errors=True)
    if not _list_shards(stage):
        shutil.rmtree(_staging_root(index_dir), ignore_errors=True)


def _stage_postings(
    spark, index_dir, cfg: BuildConfig, stats: dict, pending: list[int],
    lineage: str,
) -> None:
    if not pending:
        _drop_staged(index_dir, [])
        return
    t0 = time.time()
    # shard == stage-1 partition => exactly one staged file per shard, so
    # a scan whose tasks get WHOLE files needs no shuffle at all: each
    # task streams its shard(s) straight from parquet into the builder
    # (_whole_file_scans). A duplicate-(shard,term) guard below turns any
    # violation of that assumption into a loud build failure rather than
    # silent postings corruption.
    stage = _staging_path(index_dir)
    paths = []
    for s in pending:
        if _shard_files(stage, s):
            paths.append(os.path.join(stage, f"shard={int(s)}"))
        elif _shard_files(_tok_path(index_dir), s):
            # a shard with documents but no forward rows: building from
            # nothing would commit empty postings for it
            raise RuntimeError(
                f"shard {int(s)} of {index_dir} has no staged forward "
                f"rows under {stage}, so its postings cannot be built; "
                "rebuild the index with build_index"
            )
    postings_ms = 0
    if paths:
        positions = bool(stats.get("positions", cfg.positions))
        fwd_cols = ["shard", "local_idx", "doc_len", "terms", "tfs"]
        if positions:
            fwd_cols.append("poss")
        src = (
            spark.read.schema(
                FORWARD_SCHEMA_POS if positions else FORWARD_SCHEMA)
            .option("basePath", stage)
            .parquet(*paths)
            .select(*fwd_cols)
        )
        offsets = {int(s): int(o) for s, o in stats["shard_offsets"].items()}
        built = src.mapInArrow(
            _make_streaming_builder(
                stats["avgdl"], cfg.k1, cfg.b, cfg.block_size, offsets,
                positions=positions,
            ),
            schema=POSTINGS_SCHEMA_POS if positions else POSTINGS_SCHEMA,
        )
        # builder emits term-sorted rows per shard; small row groups
        # turn parquet term stats into the reference's term
        # dictionary (tree.rs:116-125).
        # Fresh full build (no existing postings dir) -> static
        # overwrite commit; resume/append/update must preserve the
        # other shards' partitions -> dynamic.
        overwrite_mode = (
            "dynamic" if os.path.exists(_postings_path(index_dir))
            else "static"
        )
        t1 = time.time()
        with _whole_file_scans(spark):
            (
                # (shard, term) order: see _write_forward
                built.sortWithinPartitions("shard", "term")
                .write.partitionBy("shard")
                .option("partitionOverwriteMode", overwrite_mode)
                .option("parquet.block.size", str(cfg.row_group_bytes))
                # the writer counts each column's open page at its raw
                # size against the row-group target; a list column's raw
                # values are ~5x its stored bytes, so at the default
                # 1 MiB pages a file split into row groups of a fraction
                # of the target (2 per 320 KB file on a 25,000-turn
                # index, where v2 kept 1): 64 KiB pages keep 1, and
                # every extra row group costs each point read a lookup
                .option("parquet.page.size", str(64 << 10))
                # doc-id gaps are near-unique, so their dictionary pages
                # only add bytes: plain + zstd stores them 4.7% smaller
                # (796,121 -> 758,848 B on a 25,000-turn index)
                .option("parquet.enable.dictionary#docs.list.element",
                        "false")
                .mode("overwrite")
                .parquet(_postings_path(index_dir))
            )
        postings_ms = _ms_since(t1)
    wall = _ms_since(t0)

    # per-shard metrics + split-shard guard from the builder's own
    # sentinel meta rows (one per (shard, task)) — no re-aggregation of
    # the table. Below DRIVER_META_MAX_SHARDS this is a driver-side
    # pyarrow read; above, a term-pruned Spark scan. Either way, row-group
    # term statistics prune the read to each file's first row group
    # (META_TERM sorts before every real term), so the just-written
    # payload bytes are never touched again. The guard is strictly
    # stronger than the old duplicate-(shard,term) count: ANY split of a
    # shard across tasks yields two meta rows, even a split whose halves
    # hold disjoint terms.
    t1 = time.time()
    metrics: dict[int, dict] = {}

    def _acc_meta(shard_val: int, n_postings: int, n_terms: list) -> None:
        m = metrics.setdefault(
            int(shard_val), {"n_terms": 0, "n_postings": 0, "tasks": 0}
        )
        m["n_terms"] += int(n_terms[0])
        m["n_postings"] += int(n_postings)
        m["tasks"] += 1

    pend = [int(s) for s in pending]
    if not os.path.isdir(_postings_path(index_dir)):
        metrics = {}  # empty corpus: no postings were written at all
    elif len(pend) <= DRIVER_META_MAX_SHARDS:
        import pyarrow.dataset as pads

        ds = pads.dataset(
            _postings_path(index_dir), format="parquet", partitioning="hive"
        )
        if "term" in ds.schema.names:
            tbl = ds.to_table(
                columns=["shard", "df", "docs"],
                filter=pads.field("shard").isin(pend)
                & (pads.field("term") == META_TERM),
            )
            for row in zip(*(tbl.column(c).to_pylist()
                             for c in ("shard", "df", "docs"))):
                _acc_meta(*row)
    else:
        meta_rows = (
            spark.read.schema(POSTINGS_SCHEMA)
            .parquet(_postings_path(index_dir))
            .filter(F.col("shard").isin(pend) & (F.col("term") == META_TERM))
            .select("shard", "df", "docs")
            .collect()
        )
        for r in meta_rows:
            _acc_meta(r["shard"], r["df"], r["docs"])

    shard_bytes, max_file = {}, 0
    for s in pending:
        sd = os.path.join(_postings_path(index_dir), f"shard={int(s)}")
        tot = 0
        if os.path.isdir(sd):
            for f in os.listdir(sd):
                sz = os.path.getsize(os.path.join(sd, f))
                tot += sz
                max_file = max(max_file, sz)
        shard_bytes[s] = tot
    # the query path's shuffle-free scorer needs whole-file tasks; record
    # the largest committed postings file so IndexReader can verify the
    # scan conf honors that invariant (same guard idea as the tok read)
    stats["max_postings_file_bytes"] = max(
        int(stats.get("max_postings_file_bytes", 0)), int(max_file)
    )
    _write_stats(index_dir, stats)
    meta_ms = _ms_since(t1)
    dup = sum(1 for m in metrics.values() if m["tasks"] > 1)
    if dup:
        raise RuntimeError(
            f"postings build split {dup} shards across tasks (multiple "
            "meta rows per shard); raise maxPartitionBytes above the "
            "largest tok file size"
        )
    now = time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())
    rows = []
    for s in pending:
        r = metrics.get(int(s))
        rows.append({
            "stage": "postings", "shard": int(s), "status": "done",
            "n_terms": int(r["n_terms"]) if r else 0,
            "n_postings": int(r["n_postings"]) if r else 0,
            "n_bytes": int(shard_bytes.get(s, 0)),
            # avgdl the block max_norms were computed with: the pruned
            # scorer must rescale its upper bounds if the corpus avgdl
            # later drifts upward (see IndexReader/_make_pruned_scorer)
            "avgdl_build": float(stats["avgdl"]),
            "lineage": lineage, "wall_ms": wall,
            # the stage's two walls: the Spark job that builds and writes
            # every pending shard, then the meta-row read, split-shard
            # guard and stats commit
            "postings_ms": postings_ms, "meta_ms": meta_ms,
            "finished_at": now,
        })
    _append_manifest(index_dir, rows)
    _drop_staged(index_dir, pending)


def _stage_term_stats(spark, index_dir) -> None:
    positional = bool(read_stats(index_dir).get("positions"))
    if not os.path.isdir(_postings_path(index_dir)):
        # no shard has a document (an empty corpus): commit an empty
        # term dictionary from the driver, no Spark job
        import pyarrow as pa
        import pyarrow.parquet as pq

        cols = ["df", "nbytes"] + (["poss_nbytes"] if positional else [])
        os.makedirs(_term_stats_path(index_dir), exist_ok=True)
        pq.write_table(
            pa.schema([("term", pa.string())]
                      + [(c, pa.int64()) for c in cols]).empty_table(),
            os.path.join(_term_stats_path(index_dir), "part-00000.parquet"),
        )
        return
    schema = POSTINGS_SCHEMA_POS if positional else POSTINGS_SCHEMA
    post = spark.read.schema(schema).parquet(_postings_path(index_dir))
    # nbytes = compressed postings payload per term: the reader's driver
    # fast path keys on it. Read from the stored per-row column — this
    # scan touches only (term, df, nbytes[, poss_nbytes]), never the
    # payload bytes. Sentinel meta rows are bookkeeping, not terms.
    # coalesce: NULL nbytes (mixed-format index) must degrade to 0, never
    # crash global_dfs. Positional indexes aggregate poss_nbytes the same
    # way so the phrase fast-path gate can count the positions payload;
    # shards written before the column existed contribute NULLs (sum
    # skips them — the gate then under-counts those shards, which errs
    # permissive exactly like the pre-column behavior it replaces).
    aggs = [
        F.sum("df").alias("df"),
        F.coalesce(F.sum("nbytes"), F.lit(0)).alias("nbytes"),
    ]
    if positional:
        aggs.append(
            F.coalesce(F.sum("poss_nbytes"), F.lit(0)).alias("poss_nbytes")
        )
    ts = post.filter(F.col("term") != META_TERM).groupBy("term").agg(*aggs)
    np_parts = max(2, int(spark.conf.get("spark.sql.shuffle.partitions")) // 8)
    # hash repartition + in-file term sort (NOT repartitionByRange, whose
    # RangePartitioner adds a whole sampling job per build): global_dfs'
    # pyarrow point lookups prune on row-group term min/max stats, which a
    # per-file sort provides; file-level range layout only saves checking
    # a handful of footers and isn't worth a job. A 10^12-doc deployment
    # fronting this with a dictionary service would range-bucket by term
    # prefix instead.
    (
        ts.repartition(np_parts, "term")
        .sortWithinPartitions("term")
        .write.mode("overwrite")
        .parquet(_term_stats_path(index_dir))
    )


# --------------------------------------------------------------------------

def build_index(
    spark: SparkSession,
    transcripts: DataFrame,
    index_dir: str,
    cfg: BuildConfig | None = None,
    resume: bool = False,
    _only_shards: list[int] | None = None,  # test hook: partial build
) -> dict:
    """Build (or resume building) the index at ``index_dir``.

    Returns the corpus stats dict. With ``resume=True``, completed stages
    and shards (per manifest.jsonl) are skipped; interrupted shard writes
    are safely redone via dynamic partition overwrite.
    """
    cfg = cfg or BuildConfig()
    from .session import warm_workers

    warm_workers(spark)
    os.makedirs(index_dir, exist_ok=True)
    lineage = json.dumps(
        {"source": "transcripts", **cfg.extra_lineage}, sort_keys=True
    )

    manifest = read_manifest(index_dir) if resume else []
    if not resume:
        # fresh build into a previously used dir: drop the stale manifest
        # AND the stale data dirs. Dynamic partition overwrite only
        # replaces shards present in the NEW build — a smaller rebuild
        # (fewer shards) would otherwise leave ghost tok/postings shards
        # that inflate n_docs/offsets and keep serving dead postings,
        # and a killed build's staged forward rows would stay on disk.
        import shutil

        if os.path.exists(_manifest_path(index_dir)):
            os.remove(_manifest_path(index_dir))
        if os.path.exists(_stats_path(index_dir)):
            os.remove(_stats_path(index_dir))
        for stale in (_tok_path(index_dir), _postings_path(index_dir),
                      _term_stats_path(index_dir), _shard_map_path(index_dir),
                      _staging_root(index_dir)):
            if os.path.exists(stale):
                shutil.rmtree(stale)

    ids_done = any(r["stage"] == "ids" and r["status"] == "done" for r in manifest)
    if ids_done:
        stats = read_stats(index_dir)
    else:
        stats = _stage_ids(spark, transcripts, index_dir, cfg, lineage)

    n_shards = stats["n_shards"]
    done = {
        r["shard"] for r in read_manifest(index_dir)
        if r["stage"] == "postings" and r["status"] == "done"
    }
    pending = [s for s in range(n_shards) if s not in done]
    if _only_shards is not None:
        pending = [s for s in pending if s in set(_only_shards)]
    # committed shards' staged rows: a build killed between its postings
    # commit and the staging drop left them behind
    _drop_staged(index_dir, sorted(done))
    _stage_postings(spark, index_dir, cfg, stats, pending, lineage)
    _stage_term_stats(spark, index_dir)
    return stats


def compact_index(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    cfg: BuildConfig | None = None,
) -> dict:
    """Rewrite an index into full-size shards WITHOUT retokenizing.

    An append/streaming workload accumulates one small shard per batch
    (each with its own tok/postings files and term_stats rows); over
    time the shard count — not the data volume — becomes the cost
    driver. Compaction regenerates the forward rows by inverting the
    stored postings (_forward_rows: each document's docstore row with
    its terms, tfs[, poss]), re-shards them by the canonical
    (conv_id, turn_idx) order into ceil(n_docs / shard_docs) shards,
    reassigns dense doc ids, and reruns the postings + stats stages —
    the expensive lexing work is never repeated (no `text` is ever read;
    the source table isn't touched at all).

    Produces a NEW immutable index at ``out_dir`` and leaves ``src_dir``
    untouched — the round-5 serving posture (replicas over immutable
    snapshots) switches readers over and drops the old dir. Query
    results are identical to a fresh build_index over the same corpus
    with the same config (tested, incl. doc_id identity: both orders
    are the global (conv_id, turn_idx) sort).

    ``cfg.positions=False`` on a positional source DROPS the positions
    payload (the measured 1.6x postings bytes) — the cheap way off the
    positional price if phrase/near queries turned out unused. The
    reverse (adding positions) needs the raw text: use build_index.
    """
    src_stats = read_stats(src_dir)
    src_positions = bool(src_stats.get("positions"))
    if cfg is None:
        cfg = BuildConfig(
            block_size=int(src_stats["block_size"]),
            k1=float(src_stats["k1"]), b=float(src_stats["b"]),
            positions=src_positions,
        )
    if cfg.positions and not src_positions:
        raise ValueError(
            "cannot add positions during compaction (the raw text is "
            "not stored); rebuild with build_index(positions=True)"
        )
    if os.path.abspath(src_dir) == os.path.abspath(out_dir):
        raise ValueError(
            "compaction writes a new immutable index; out_dir must "
            "differ from src_dir"
        )
    import shutil

    os.makedirs(out_dir, exist_ok=True)
    for stale in (_manifest_path(out_dir), _stats_path(out_dir)):
        if os.path.exists(stale):
            os.remove(stale)
    for stale in (_tok_path(out_dir), _postings_path(out_dir),
                  _term_stats_path(out_dir), _shard_map_path(out_dir),
                  _staging_root(out_dir)):
        if os.path.exists(stale):
            shutil.rmtree(stale)

    t0 = time.time()
    lineage = json.dumps(
        {"source": "compact", "from": os.path.abspath(src_dir),
         "src_epoch": int(src_stats.get("epoch", 0)),
         **cfg.extra_lineage},
        sort_keys=True,
    )
    n_docs = int(src_stats["n_docs"])
    p = cfg.id_partitions or max(1, math.ceil(n_docs / cfg.shard_docs))
    # the new doc ids come from the docstore alone: range-partition it
    # by the canonical key into p shards (shard = partition id, local_idx
    # = row number in the sorted partition: the low 33 bits of the
    # monotonic id) and record them per source shard, where the
    # inverter picks them up. Only the payload's move to its new shard
    # is a shuffle, and no Python stage runs twice (a range partitioner
    # samples its input in a job of its own).
    remap = os.path.join(_staging_root(out_dir), "remap")
    pid = F.spark_partition_id()
    (
        spark.read.schema(TOK_SCHEMA).parquet(_tok_path(src_dir))
        .repartitionByRange(p, "conv_id", "turn_idx")
        .sortWithinPartitions("conv_id", "turn_idx")
        .select("shard", "local_idx", pid.alias("to_shard"),
                (F.monotonically_increasing_id()
                 - F.shiftleft(pid.cast("long"), 33)).alias("to_local"),
                "conv_id", "turn_idx", "role", "doc_len")
        .write.partitionBy("shard").mode("overwrite").parquet(remap)
    )
    # hashed on the new shard: each shard's rows meet in one task, so
    # it stages exactly one file
    fwd = _forward_rows(spark, src_dir, src_stats, cfg.positions,
                        remap=remap).repartition(p, "shard")
    _write_forward(spark, fwd, out_dir, "static")
    offsets, counts, n_out, total_len = _collect_shard_stats(
        spark, out_dir, p
    )
    if n_out != n_docs:
        raise RuntimeError(
            f"compaction lost rows: src n_docs={n_docs}, rewritten={n_out}"
        )
    stats = {
        "format_version": FORMAT_VERSION,
        "n_docs": n_docs,
        "total_len": int(total_len),
        "avgdl": (total_len / n_docs) if n_docs else 0.0,
        "block_size": cfg.block_size,
        "k1": cfg.k1,
        "b": cfg.b,
        "n_shards": int(p),
        "shard_map_json_max": int(cfg.shard_map_json_max),
        "shard_offsets": {str(s): o for s, o in offsets.items()},
        "shard_counts": {str(s): c for s, c in counts.items()},
        "positions": bool(cfg.positions),
    }
    _write_stats(out_dir, stats)
    _append_manifest(
        out_dir,
        [{
            "stage": "ids", "shard": -1, "status": "done",
            "n_terms": 0, "n_postings": 0, "n_bytes": 0,
            "lineage": lineage, "wall_ms": int((time.time() - t0) * 1000),
            "finished_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }],
    )
    _stage_postings(spark, out_dir, cfg, stats, list(range(p)), lineage)
    _stage_term_stats(spark, out_dir)
    return read_stats(out_dir)


def append_index(
    spark: SparkSession,
    new_transcripts: DataFrame,
    index_dir: str,
    cfg: BuildConfig | None = None,
    batch_label: str = "append",
    dedupe_batch: bool = False,
) -> dict:
    """Incrementally index an append-only batch of new turns.

    The Spark-native upgrade of the reference's freshness check
    (lib.rs:210-224: re-index only what changed): new docs get dense ids
    continuing from the current N, land in NEW shards (old shards are
    immutable, like the reference's flushed segments), and global stats
    (N, total_len, avgdl) plus term_stats are refreshed. Queries across
    old+new shards stay exact: each shard's manifest records the avgdl
    its block maxima were built with, and the pruned scorer rescales
    upper bounds when the corpus avgdl has drifted (safe:
    norm(a_new)/norm(a_old) < a_new/a_old for a_new > a_old).

    Crash-safe with ``dedupe_batch=True`` (what streaming.stream_index
    passes), via write-ahead manifest rows:

      1. an ``append_intent`` row (batch label + the pinned bases:
         base_docs, base_shards, base_total_len, partition count p) is
         committed BEFORE any data mutates;
      2. all data writes are deterministic functions of those bases and
         idempotent (same doc ids, same shard slots, dynamic partition
         overwrite), so a replay after a crash anywhere in the middle —
         including after stats.json already advanced — recomputes
         byte-identical state from the intent row's bases;
      3. an ``append_commit`` row is appended only after postings, stats
         AND term_stats are all committed. A replayed batch whose commit
         row exists is skipped entirely.

    Without ``dedupe_batch``, repeated labels are allowed (manual callers
    own their dedup) and no intent pinning happens.

    Encoding params (block_size/k1/b) are pinned to the values in
    stats.json: appended shards MUST match the original build — a
    block_size mismatch breaks per-block decode offsets and a k1/b
    mismatch makes stored block max_norms unsafe for pruned search.
    """
    cfg = cfg or BuildConfig()
    from dataclasses import replace as _dc_replace

    from .session import warm_workers

    warm_workers(spark)
    stats = read_stats(index_dir)
    if (cfg.block_size, cfg.k1, cfg.b, cfg.positions) != (
        stats["block_size"], stats["k1"], stats["b"],
        bool(stats.get("positions", False)),
    ):
        cfg = _dc_replace(
            cfg, block_size=int(stats["block_size"]),
            k1=float(stats["k1"]), b=float(stats["b"]),
            positions=bool(stats.get("positions", False)),
        )

    intent = None
    if dedupe_batch:
        manifest = read_manifest(index_dir)
        if any(
            r.get("stage") == "append_commit" and r.get("batch") == batch_label
            for r in manifest
        ):
            return stats  # batch fully committed earlier: exactly-once skip
        intent = next(
            (r for r in manifest
             if r.get("stage") == "append_intent" and r.get("batch") == batch_label),
            None,
        )

    lineage = json.dumps(
        {"source": "transcripts", "batch": batch_label, **cfg.extra_lineage},
        sort_keys=True,
    )

    t0 = time.time()
    if intent is not None:
        # crash replay: reuse the pinned bases, ignore the (possibly
        # already advanced) stats.json values
        base_docs = int(intent["base_docs"])
        base_shards = int(intent["base_shards"])
        base_total_len = int(intent["base_total_len"])
        p = int(intent["p"])
    else:
        base_docs, base_shards = stats["n_docs"], stats["n_shards"]
        base_total_len = int(
            stats.get("total_len", int(round(stats["avgdl"] * base_docs)))
        )
        if cfg.id_partitions:
            p = cfg.id_partitions
        else:
            n_est = new_transcripts.count()
            p = max(
                spark.sparkContext.defaultParallelism,
                math.ceil(max(n_est, 1) / cfg.shard_docs),
            )
        if dedupe_batch:
            _append_manifest(
                index_dir,
                [{
                    "stage": "append_intent", "shard": -1, "status": "pending",
                    "batch": batch_label, "base_docs": int(base_docs),
                    "base_shards": int(base_shards),
                    "base_total_len": base_total_len, "p": int(p),
                    "lineage": lineage,
                    "finished_at": time.strftime(
                        "%Y-%m-%dT%H:%M:%SZ", time.gmtime()
                    ),
                }],
            )
    parted = (
        new_transcripts.repartitionByRange(p, "conv_id", "turn_idx")
        .sortWithinPartitions("conv_id", "turn_idx")
        .withColumn("pid", F.spark_partition_id())
    )
    fwd = parted.mapInPandas(
        _make_tokenizer(shard_base=base_shards, positions=cfg.positions),
        schema=FORWARD_SCHEMA_POS if cfg.positions else FORWARD_SCHEMA,
    )
    new_shards = list(range(base_shards, base_shards + p))
    t1 = time.time()
    _write_forward(spark, fwd, index_dir, "dynamic", new_shards)
    tokenize_ms = _ms_since(t1)

    if p <= DRIVER_META_MAX_SHARDS:
        per_shard = _tok_shard_stats_local(index_dir, new_shards)
    else:
        per_shard = (
            spark.read.parquet(_tok_path(index_dir))
            .filter(F.col("shard").isin(new_shards))
            .groupBy("shard")
            .agg(
                F.count("*").alias("n"),
                F.sum("doc_len").alias("total_len"),
                F.max("local_idx").alias("max_local"),
            )
            .collect()
        )
    offsets = {int(s): int(o) for s, o in stats["shard_offsets"].items()}
    counts = {int(s): int(c) for s, c in stats["shard_counts"].items()}
    acc, new_len = base_docs, 0
    for r in sorted(per_shard, key=lambda r: r["shard"]):
        if r["max_local"] + 1 != r["n"]:
            raise RuntimeError(
                f"local_idx not dense within appended shard {r['shard']} "
                f"(max_local={r['max_local']}, n={r['n']})"
            )
        offsets[int(r["shard"])] = acc
        counts[int(r["shard"])] = int(r["n"])
        acc += int(r["n"])
        new_len += int(r["total_len"] or 0)
    n_new = acc - base_docs
    new_stats = dict(stats)
    new_stats["n_docs"] = base_docs + n_new
    # base_total_len, not stats["total_len"]: on a crash replay stats.json
    # may already include this batch's length
    new_stats["total_len"] = base_total_len + new_len
    new_stats["shard_offsets"] = {str(s): o for s, o in offsets.items()}
    new_stats["shard_counts"] = {str(s): c for s, c in counts.items()}
    new_stats["avgdl"] = (
        new_stats["total_len"] / new_stats["n_docs"] if new_stats["n_docs"] else 0.0
    )
    new_stats["n_shards"] = base_shards + p

    _append_manifest(
        index_dir,
        [{
            "stage": "ids", "shard": -1, "status": "done",
            "n_terms": 0, "n_postings": n_new, "n_bytes": 0,
            "lineage": lineage, "wall_ms": _ms_since(t0),
            "tokenize_ms": tokenize_ms,
            "finished_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }],
    )
    # new shards' blocks use the NEW global avgdl (recorded per shard)
    _stage_postings(spark, index_dir, cfg, new_stats, new_shards, lineage)
    _write_stats(index_dir, new_stats)
    _stage_term_stats(spark, index_dir)
    # commit point: the batch is only "done" once postings + stats +
    # term_stats are all on disk (streaming keys exactly-once on this row)
    _append_manifest(
        index_dir,
        [{
            "stage": "append_commit", "shard": -1, "status": "done",
            "batch": batch_label, "n_postings": n_new, "n_terms": 0,
            "n_bytes": 0, "lineage": lineage,
            "wall_ms": int((time.time() - t0) * 1000),
            "finished_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }],
    )
    return new_stats


def update_index(
    spark: SparkSession,
    changed: DataFrame,
    index_dir: str,
    cfg: BuildConfig | None = None,
    batch_label: str = "update",
) -> dict:
    """Re-index modified turns IN PLACE — the reference's freshness
    re-index path (/root/reference/src/lib.rs:210-224: a file whose mtime
    is newer than indexed_at is re-tokenized), minus its duplicate-postings
    bug (quirk Q2: the reference re-adds postings without removing the old
    ones; here the owning shard is rebuilt, so old postings cannot
    survive).

    ``changed`` columns: (conv_id, turn_idx, text). Semantics:
      - a key that exists in the index gets its text replaced; its doc_id
        is STABLE (same shard slot, same local_idx), so ids, N and
        shard_offsets never change;
      - text '' tombstones the turn: it keeps its id, counts in N
        (quirk Q1: empty docs count), and simply owns no postings
        (null text is indistinguishable from "no change" after the left
        join and is ignored — use '' to tombstone);
      - keys not present in the index are ignored (append_index is the
        path for new turns).

    Shard-granular: only shards owning a changed key have their tok +
    postings files rewritten (dynamic partition overwrite): their forward
    rows are regenerated from their postings (_forward_rows), the
    changed turns re-tokenized, and the postings rebuilt; stats
    (total_len/avgdl) and term_stats are refreshed. avgdl drift in either
    direction stays safe for pruned search: upward drift is rescaled by
    the reader (per-shard avgdl_build), downward drift only makes stored
    block maxima looser upper bounds.

    Scale note: locating owners is a broadcast semi-join over the tok
    table, pruned first by the per-shard conv_id footer bounds (shards
    are (conv_id, turn_idx) ranges by construction, so the bounds ARE the
    (conv_id -> shard) lookup) — updating 1 turn in a 32-shard index
    scans only the owning shard's file. At 10^12 turns the same bounds
    live in the table manifest (Iceberg per-file column bounds) instead
    of a driver footer loop; the per-shard rewrite cost is unchanged.
    """
    cfg = cfg or BuildConfig()
    from dataclasses import replace as _dc_replace

    from .session import warm_workers

    warm_workers(spark)
    stats = read_stats(index_dir)
    if (cfg.block_size, cfg.k1, cfg.b, cfg.positions) != (
        stats["block_size"], stats["k1"], stats["b"],
        bool(stats.get("positions", False)),
    ):
        cfg = _dc_replace(
            cfg, block_size=int(stats["block_size"]),
            k1=float(stats["k1"]), b=float(stats["b"]),
            positions=bool(stats.get("positions", False)),
        )
    lineage = json.dumps(
        {"source": "transcripts", "batch": batch_label, **cfg.extra_lineage},
        sort_keys=True,
    )
    t0 = time.time()

    keys = (
        changed.select(
            "conv_id", "turn_idx", F.col("text").alias("_new_text")
        )
        .dropDuplicates(["conv_id", "turn_idx"])
    )
    tok = spark.read.schema(TOK_SCHEMA).parquet(_tok_path(index_dir))
    # owner discovery, pruned: candidate shards from the footer conv_id
    # bounds first (zero data reads), then the exact broadcast semi-join
    # scans only those shards' files (partition pruning on `shard`)
    scan = tok
    if int(stats["n_shards"]) <= DRIVER_META_MAX_SHARDS:
        bounds = _tok_conv_bounds_local(index_dir)
        if bounds is not None:
            # raw-bytes comparison against the footer byte bounds (see
            # _tok_conv_bounds_local: decoded bounds are unsound)
            convs = [
                r["conv_id"].encode("utf-8")
                for r in keys.select("conv_id").distinct().collect()
            ]
            cand = sorted(
                s for s, (lo, hi) in bounds.items()
                if any(lo <= c <= hi for c in convs)
            )
            if not cand:
                return stats
            scan = tok.filter(F.col("shard").isin(cand))
    affected = sorted(
        r["shard"]
        for r in scan.join(F.broadcast(keys), ["conv_id", "turn_idx"])
        .select("shard").distinct().collect()
    )
    if not affected:
        return stats
    if len(affected) <= DRIVER_META_MAX_SHARDS:
        pre_len = {
            r["shard"]: int(r["total_len"])
            for r in _tok_shard_stats_local(index_dir, affected)
        }
    else:
        pre_len = {
            r["shard"]: int(r["tl"])
            for r in tok.filter(F.col("shard").isin(affected))
            .groupBy("shard").agg(F.sum("doc_len").alias("tl")).collect()
        }

    pos_on = bool(cfg.positions)
    payload = ["terms", "tfs"] + (["poss"] if pos_on else [])

    def retok(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mask = pdf["_new_text"].notna().to_numpy()
            if mask.any():
                pdf = pdf.copy()
                loc = [pdf.columns.get_loc(c) for c in ("doc_len", *payload)]
                for i in np.flatnonzero(mask):
                    cells = _forward_cells(pdf["_new_text"].iat[i], pos_on)
                    for j, v in zip(loc, cells):
                        pdf.iat[i, j] = v
            yield pdf[[*TOK_COLUMNS, *payload]]

    # no shuffle: each shard's regenerated rows come from one task and
    # the broadcast join keeps them there, so each rewritten shard dir
    # keeps exactly ONE staged file, the whole-file-task invariant the
    # postings stage relies on
    sub = _forward_rows(spark, index_dir, stats, pos_on, affected).join(
        F.broadcast(keys), ["conv_id", "turn_idx"], "left")
    fwd = sub.mapInPandas(
        retok, schema=FORWARD_SCHEMA_POS if pos_on else FORWARD_SCHEMA)
    _write_forward(spark, fwd, index_dir, "dynamic", affected)

    if len(affected) <= DRIVER_META_MAX_SHARDS:
        post = _tok_shard_stats_local(index_dir, affected)
    else:
        post = (
            spark.read.parquet(_tok_path(index_dir))
            .filter(F.col("shard").isin(affected))
            .groupBy("shard")
            .agg(
                F.count("*").alias("n"),
                F.sum("doc_len").alias("total_len"),
                F.max("local_idx").alias("max_local"),
            )
            .collect()
        )
    counts = {int(s): int(c) for s, c in stats["shard_counts"].items()}
    new_len_delta = 0
    for r in post:
        s = int(r["shard"])
        if not (r["max_local"] + 1 == r["n"] == counts[s]):
            raise RuntimeError(
                f"update changed shard {s}'s row population "
                f"(max_local={r['max_local']}, n={r['n']}, "
                f"expected {counts[s]}) — doc-id stability violated"
            )
        new_len_delta += int(r["total_len"] or 0) - pre_len.get(s, 0)
    new_stats = dict(stats)
    base_total = int(
        stats.get("total_len", int(round(stats["avgdl"] * stats["n_docs"])))
    )
    new_stats["total_len"] = base_total + new_len_delta
    new_stats["avgdl"] = (
        new_stats["total_len"] / new_stats["n_docs"]
        if new_stats["n_docs"] else 0.0
    )
    # postings for the affected shards are rebuilt against the NEW avgdl;
    # untouched shards keep their recorded avgdl_build and the reader
    # rescales their block maxima if avgdl rose
    _stage_postings(spark, index_dir, cfg, new_stats, affected, lineage)
    _write_stats(index_dir, new_stats)
    _stage_term_stats(spark, index_dir)
    _append_manifest(
        index_dir,
        [{
            "stage": "update_commit", "shard": -1, "status": "done",
            "batch": batch_label, "n_terms": 0,
            "n_postings": len(affected), "n_bytes": 0, "lineage": lineage,
            "wall_ms": int((time.time() - t0) * 1000),
            "finished_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }],
    )
    return new_stats


def delete_turns(
    spark: SparkSession,
    keys: DataFrame,
    index_dir: str,
    cfg: BuildConfig | None = None,
) -> dict:
    """Tombstone turns: update_index with empty text — the turn keeps its
    doc_id and stays in N (quirk Q1), but owns no postings, so it can
    never match a query. ``keys`` columns: (conv_id, turn_idx)."""
    changed = keys.select("conv_id", "turn_idx", F.lit("").alias("text"))
    return update_index(spark, changed, index_dir, cfg, batch_label="delete")


def docstore(spark: SparkSession, index_dir: str) -> DataFrame:
    """Docstore view (tree.rs:21-31 analog): the tok table, which holds
    only the docstore columns (no terms payload at rest), with
    doc_id = shard_offset + local_idx via a broadcast join on the tiny
    shard->offset map (at 10^12 scale the map is a broadcast table)."""
    stats = read_stats(index_dir)
    if stats.get("shard_map") == "parquet":
        # graduated container: read + broadcast the parquet table directly
        # (no driver dict round-trip)
        off = spark.read.parquet(_shard_map_path(index_dir)).select(
            "shard", F.col("offset").alias("_off")
        )
    else:
        off = spark.createDataFrame(
            [(int(s), int(o)) for s, o in stats["shard_offsets"].items()],
            "shard int, _off long",
        )
    return (
        spark.read.parquet(_tok_path(index_dir))
        .join(F.broadcast(off), "shard")
        .select(
            (F.col("_off") + F.col("local_idx")).alias("doc_id"),
            "shard", "conv_id", "turn_idx", "role", "doc_len",
        )
    )


def shard_bounds(stats: dict) -> tuple[list[int], list[tuple[int, int]]]:
    """The stats shard map as locate_doc_ids searches it: the shard
    offsets in ascending order, and (shard, doc count) per offset."""
    pairs = sorted(
        (int(o), int(s)) for s, o in stats["shard_offsets"].items()
    )
    counts = stats["shard_counts"]
    return ([o for o, _ in pairs],
            [(s, int(counts[str(s)])) for _, s in pairs])


def locate_doc_ids(stats: dict, doc_ids: list[int],
                   bounds=None) -> dict[int, tuple[int, int]]:
    """doc_id -> (shard, local_idx) using the stats offsets — lets point
    lookups push shard partition pruning + local_idx row-group stats down
    to the tok scan instead of filtering a computed column. ``bounds``:
    shard_bounds(stats), for a caller that keeps it per snapshot."""
    import bisect

    offsets, shards = bounds if bounds is not None else shard_bounds(stats)
    out = {}
    for d in doc_ids:
        i = bisect.bisect_right(offsets, d) - 1
        if i < 0:
            continue
        shard, count = shards[i]
        if d - offsets[i] < count:
            out[int(d)] = (shard, int(d - offsets[i]))
    return out
