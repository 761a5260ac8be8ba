"""Per-layer tracing for the benchmark.

Spark runs the engine inside separate Python worker processes, where
wrappers installed in this process cannot reach. The traced run therefore
replays one pass of each path's per-task work here, on the same generated
inputs and through the same public functions:

* encode: read each source file with pyarrow, then `tokenc.local.write_table`
  at the benchmark's row-group size;
* decode: `tokenc.local.read_table` on every file of the encoded container;
* lookup: the sorted-index probe, bloom probe, page filter and row-range
  decode that `engine.get` / `engine.scan` run, for the same key draws.

Spans come from two places: `Tracer.region` around the calls this file
makes, and wrappers that `Tracer.install` puts on the module attributes the
engine calls through (every binding a caller holds, since `engine`, `files`
and `local` import `encode_chunk` / `decode_chunk` by name). Spans stay in
memory; a layer's self time is its spans' time minus their child spans.
Whatever the replay wall holds outside every span is reported as
`unattributed_s`.
"""

from __future__ import annotations

import contextlib
import functools
import os
import statistics
from collections import Counter, defaultdict
from time import perf_counter

import numpy as np

# (module, function) -> (codec name, direction); the codec modules are
# reached from `tokenc.chunk` through module references
CODEC_FUNCS = {
    ("plain", "encode_numeric"): ("plain", "encode"),
    ("plain", "encode_byte_array"): ("plain", "encode"),
    ("plain", "encode_bool"): ("plain", "encode"),
    ("plain", "decode_numeric"): ("plain", "decode"),
    ("plain", "decode_byte_array"): ("plain", "decode"),
    ("plain", "decode_bool"): ("plain", "decode"),
    ("rle", "encode"): ("rle", "encode"),
    ("rle", "decode"): ("rle", "decode"),
    ("delta_bp", "encode"): ("delta_bp", "encode"),
    ("delta_bp", "decode"): ("delta_bp", "decode"),
    ("dict_codec", "encode_numeric"): ("dict", "encode"),
    ("dict_codec", "encode_binary"): ("dict", "encode"),
    ("dict_codec", "decode_numeric"): ("dict", "decode"),
    ("dict_codec", "decode_binary"): ("dict", "decode"),
    # the paged dict encoder factorizes once per chunk, then assembles pages
    ("dict_codec", "factorize_numeric"): ("dict", "encode"),
    ("dict_codec", "factorize_binary"): ("dict", "encode"),
    ("dict_codec", "assemble_numeric"): ("dict", "encode"),
    ("dict_codec", "assemble_binary"): ("dict", "encode"),
    ("fsst", "encode"): ("fsst", "encode"),
    ("fsst", "decode"): ("fsst", "decode"),
    ("delta_ba", "encode_dlba"): ("dlba", "encode"),
    ("delta_ba", "decode_dlba"): ("dlba", "decode"),
    ("delta_ba", "encode_dba"): ("dba", "encode"),
    ("delta_ba", "decode_dba"): ("dba", "decode"),
    ("bss", "encode"): ("bss", "encode"),
    ("bss", "decode"): ("bss", "decode"),
    ("for_bp", "encode"): ("for", "encode"),
    ("for_bp", "decode"): ("for", "decode"),
    ("rle_soa", "encode"): ("rles", "encode"),
    ("rle_soa", "decode"): ("rles", "decode"),
}
CODECS = ["plain", "rle", "delta_bp", "dict", "fsst", "dlba", "dba", "bss",
          "for", "rles"]

# span name -> per-layer metric that carries its self time
SELF_TIME_METRICS = {
    "files.src_read": "files.src_read_s",
    "files.blob_read": "files.blob_read_s",
    "files.write": "files.write_self_s",
    "engine.encode": "engine.encode_self_s",
    "engine.decode": "engine.decode_self_s",
    "engine.lookup": "engine.lookup_self_s",
    "selector.choose": "selector.choose_s",
    "chunk.encode": "chunk.encode_self_s",
    "chunk.decode": "chunk.decode_self_s",
    "chunk.page_filter": "chunk.page_filter_s",
    "chunk.decode_rows": "chunk.decode_rows_s",
    "compress.compress": "compress.compress_s",
    "compress.decompress": "compress.decompress_s",
    "sorted_index.probe": "sorted_index.probe_s",
    "bloom.probe": "bloom.probe_s",
}


def _out_nbytes(out) -> int:
    """Bytes of the arrays a codec decoder returned."""
    items = out if isinstance(out, tuple) else (out,)
    return sum(a.nbytes for a in items if isinstance(a, np.ndarray))


class Tracer:
    """In-memory span recorder. A disabled tracer records nothing, so the
    same replay code runs traced and untraced."""

    def __init__(self, enabled: bool = True):
        self.enabled = enabled
        self.spans: list[list] = []     # [name, t0, t1, parent index]
        self.counters: Counter = Counter()
        self.memos: list[dict] = []     # selector caches seen (kept alive)
        self._stack: list[int] = []
        self._opaque = 0
        self._patches: list[tuple] = []

    def _open(self, name: str) -> list | None:
        if not self.enabled or self._opaque:
            return None
        rec = [name, perf_counter(), 0.0,
               self._stack[-1] if self._stack else -1]
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        return rec

    def _close(self, rec: list) -> None:
        rec[2] = perf_counter()
        self._stack.pop()

    @contextlib.contextmanager
    def region(self, name: str):
        """Span around a call made from the benchmark's own code."""
        rec = self._open(name)
        try:
            yield
        finally:
            if rec is not None:
                self._close(rec)

    def _wrap(self, name, fn, opaque=False, after=None):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            rec = tracer._open(name)
            if rec is None:
                return fn(*args, **kwargs)
            tracer._opaque += opaque
            try:
                out = fn(*args, **kwargs)
            finally:
                tracer._opaque -= opaque
                tracer._close(rec)
            if after is not None:
                after(args, kwargs, out)
            return out
        return wrapper

    def patch(self, owner, attr: str, name: str, **kw) -> None:
        orig = getattr(owner, attr)
        self._patches.append((owner, attr, orig))
        setattr(owner, attr, self._wrap(name, orig, **kw))

    def install(self) -> None:
        """Wrap the module attributes the engine calls through."""
        from tokenc import compress, engine, files, local, selector
        from tokenc import codecs as codec_pkg

        self.patch(local, "_encode_rowgroup", "engine.encode")
        self.patch(engine, "encode_chunk", "chunk.encode")
        for owner in (engine, files, local):
            self.patch(owner, "decode_chunk", "chunk.decode")

        def memo(args, kwargs, out):
            cache = kwargs.get("cache")
            if cache is not None and all(cache is not m for m in self.memos):
                self.memos.append(cache)
        # opaque: the selector's trial encodes are selector time
        self.patch(selector, "choose", "selector.choose", opaque=True,
                   after=memo)

        def comp(args, kwargs, out):
            self.counters["compress.in_bytes"] += len(args[0])
            self.counters["compress.out_bytes"] += len(out)
        self.patch(compress, "compress", "compress.compress", after=comp)
        self.patch(compress, "decompress", "compress.decompress")
        for (mod, fn), (codec, direction) in CODEC_FUNCS.items():
            name = f"codecs.{codec}.{direction}"

            def out_bytes(args, kwargs, out, name=name):
                self.counters[name + ".out_bytes"] += _out_nbytes(out)
            self.patch(getattr(codec_pkg, mod), fn, name, opaque=True,
                       after=out_bytes if direction == "decode" else None)

        # the blob read inside local.read_table goes through local.pq
        pq_mod = local.pq
        read = self._wrap("files.blob_read", pq_mod.read_table)

        class _Pq:
            read_table = staticmethod(read)

            def __getattr__(self, attr):
                return getattr(pq_mod, attr)
        self._patches.append((local, "pq", pq_mod))
        local.pq = _Pq()

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def self_times(self) -> tuple[dict, dict, float]:
        """-> (self seconds by span name, calls by span name, summed
        duration of the top-level spans)."""
        child = [0.0] * len(self.spans)
        top = 0.0
        for name, t0, t1, parent in self.spans:
            if parent >= 0:
                child[parent] += t1 - t0
            else:
                top += t1 - t0
        self_s: dict = defaultdict(float)
        calls: Counter = Counter()
        for i, (name, t0, t1, _p) in enumerate(self.spans):
            self_s[name] += (t1 - t0) - child[i]
            calls[name] += 1
        return self_s, calls, top


# --------------------------------------------------------------------------
# replays
# --------------------------------------------------------------------------

def replay_encode(tr: Tracer, src_files, specs, out_dir, rg_bytes) -> int:
    import pyarrow.parquet as pq

    from tokenc import local

    rows = 0
    for i, f in enumerate(src_files):
        with tr.region("files.src_read"):
            tbl = pq.read_table(f)
        tr.counters["files.src_read_bytes"] += tbl.nbytes
        with tr.region("files.write"):
            local.write_table(tbl, os.path.join(out_dir, str(i)), specs=specs,
                              target_raw_bytes=rg_bytes)
        rows += tbl.num_rows
    return rows


def replay_decode(tr: Tracer, enc_files, specs) -> tuple[int, int]:
    """-> (rows, sum of n_tok) decoded."""
    import pyarrow.compute as pc

    from tokenc import local

    rows = ntok = 0
    for f in enc_files:
        with tr.region("engine.decode"):
            tbl = local.read_table(f, specs)
        rows += tbl.num_rows
        ntok += pc.sum(tbl["n_tok"]).as_py() or 0
    return rows, ntok


class LookupInputs:
    """The encoded container loaded once, untimed: per row group its
    blobs (as the byte views the engine decodes), its doc_id bloom and
    the sorted index `engine.sorted_index_for` builds."""

    def __init__(self, enc_files, specs, index, key="doc_id"):
        import pyarrow as pa
        import pyarrow.parquet as pq

        tbl = pa.concat_tables(pq.read_table(f) for f in enc_files)
        self.specs = specs
        self.key = key
        self.key_i = [s.name for s in specs].index(key)
        self.index = index
        self.row_of = {r: i for i, r in enumerate(tbl["rg_id"].to_pylist())}
        self.n_rowgroups = tbl.num_rows
        self.blooms = [None if b is None else bytes(b) for b in
                       tbl[f"{key}_meta"].combine_chunks().field("bloom")
                       .to_pylist()]
        self.blobs = [[np.frombuffer(tbl[f"{s.name}_blob"][i].as_buffer(),
                                     np.uint8)
                       for s in specs] for i in range(tbl.num_rows)]


def _decode_runs(tr: Tracer, lk: LookupInputs, row: int, runs, residual):
    """Decode `runs` of every column of row group `row` and apply the
    residual predicate -> (rows decoded, returned pyarrow table)."""
    import pyarrow as pa

    from tokenc import chunk, engine

    cols = []
    for j, spec in enumerate(lk.specs):
        with tr.region("chunk.decode_rows"):
            cds, _ = chunk.decode_chunk_rows_multi(lk.blobs[row][j], runs)
        with tr.region("engine.lookup"):
            arrs = [engine._rebuild(cd, spec) for cd in cds]
            cols.append(arrs[0] if len(arrs) == 1 else pa.concat_arrays(arrs))
    with tr.region("engine.lookup"):
        tbl = pa.table(cols, names=[s.name for s in lk.specs])
        out = tbl.filter(residual(tbl[lk.key]))
    return tbl.num_rows, out


def replay_get(tr: Tracer, lk: LookupInputs, keys) -> list:
    import pyarrow as pa
    import pyarrow.compute as pc

    from tokenc import bloom, chunk

    with tr.region("sorted_index.probe"):
        ids = sorted({i for v in keys for i in lk.index.lookup(v)})
    rows = [lk.row_of[i] for i in ids]
    tr.counters["lookup.rowgroups_after_stats"] += len(rows)
    with tr.region("bloom.probe"):
        hashes = [bloom.hash_values(np.array([v.encode()], dtype=object))
                  for v in keys]
        live = [(r, [v for v, h in zip(keys, hashes)
                     if lk.blooms[r] is None
                     or bool(bloom.might_contain(lk.blooms[r], h).any())])
                for r in rows]
    live = [(r, vs) for r, vs in live if vs]
    tr.counters["lookup.rowgroups_after_bloom"] += len(live)
    out = []
    for r, vs in live:
        with tr.region("chunk.page_filter"):
            runs = chunk.page_filter_row_runs_multi(lk.blobs[r][lk.key_i], vs)
        value_set = pa.array(vs, pa.string())
        out.append(_finish(tr, lk, r, runs,
                           lambda col: pc.is_in(col, value_set=value_set)))
    return out


def replay_scan(tr: Tracer, lk: LookupInputs, lo: str, hi: str) -> list:
    import pyarrow.compute as pc

    from tokenc import chunk

    with tr.region("sorted_index.probe"):
        ids = lk.index.probe(lo, hi)
    rows = [lk.row_of[i] for i in ids]
    tr.counters["lookup.rowgroups_after_stats"] += len(rows)
    tr.counters["lookup.rowgroups_after_bloom"] += len(rows)  # no bloom tier
    out = []
    for r in rows:
        with tr.region("chunk.page_filter"):
            runs = chunk.page_filter_row_runs(lk.blobs[r][lk.key_i], lo, hi)
        out.append(_finish(
            tr, lk, r, runs,
            lambda col: pc.and_(pc.greater_equal(col, lo),
                                pc.less_equal(col, hi))))
    return out


def _finish(tr, lk, r, runs, residual):
    if runs is None:  # no usable page directory: the whole chunk
        runs = [(0, 1 << 31)]
    if not runs:
        return None
    decoded, out = _decode_runs(tr, lk, r, runs, residual)
    tr.counters["lookup.rows_decoded"] += decoded
    tr.counters["lookup.rows_returned"] += out.num_rows
    tr.counters["lookup.rowgroups_decoded"] += 1
    tr.counters["lookup.rowgroups_useful"] += out.num_rows > 0
    return out


def layer_metrics(tr: Tracer, wall: float, n_lookups: int) -> dict:
    """Per-layer metrics of one traced replay of wall time `wall`."""
    self_s, calls, top = tr.self_times()
    c = tr.counters
    m = {metric: self_s.get(span, 0.0)
         for span, metric in SELF_TIME_METRICS.items()}
    m["files.src_read_MB"] = c["files.src_read_bytes"] / 1e6
    m["selector.calls"] = calls["selector.choose"]
    m["selector.memo_entries"] = sum(len(x) for x in tr.memos)
    for codec in CODECS:
        enc = self_s.get(f"codecs.{codec}.encode", 0.0)
        dec = self_s.get(f"codecs.{codec}.decode", 0.0)
        out = c[f"codecs.{codec}.decode.out_bytes"]
        m[f"codecs.{codec}.encode_s"] = enc
        m[f"codecs.{codec}.decode_s"] = dec
        m[f"codecs.{codec}.decode_MBps"] = out / dec / 1e6 if dec else 0.0
    m["compress.calls"] = calls["compress.compress"]
    m["compress.ratio"] = (c["compress.in_bytes"] / c["compress.out_bytes"]
                           if c["compress.out_bytes"] else 0.0)
    n = max(n_lookups, 1)
    m["lookup.rowgroups_after_stats"] = c["lookup.rowgroups_after_stats"] / n
    m["lookup.rowgroups_after_bloom"] = c["lookup.rowgroups_after_bloom"] / n
    m["lookup.rows_decoded_per_row_returned"] = (
        c["lookup.rows_decoded"] / max(c["lookup.rows_returned"], 1))
    m["lookup.rowgroups_useful_ratio"] = (
        c["lookup.rowgroups_useful"] / max(c["lookup.rowgroups_decoded"], 1))
    m["replay.wall_s"] = wall
    m["unattributed_s"] = wall - top
    m["unattributed_frac"] = (wall - top) / wall if wall else 0.0
    return m


def medians(per_replay: list[dict]) -> dict:
    return {k: statistics.median(d[k] for d in per_replay)
            for k in per_replay[0]}
