#!/usr/bin/env python3
"""tokenc benchmark: seeded workloads against the public Spark API.

Run from the repository root:

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 28 --trace 0

`--trace 0` prints every end-to-end metric; `--trace 1` prints every
per-layer metric from an in-process replay (see spans.py). The last stdout
line is one JSON object {"correct", "attempted", "failed", "metrics"}; the
lines before it restate each metric with its unit, sample count and spread.
The exit code is 0 only when every output was correct. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import time
import traceback

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK = os.path.join(ROOT, ".perfbench_work")

WORKLOADS = {"ingest": "encode", "train_read": "decode"}
# One round of each workload, repeated for --seconds: two passes of its own
# kind, interleaved with one pass of the other kind and two lookups (a get
# and a scan each), so that every run reports every end-to-end metric.
ROUNDS = {
    "ingest": ["encode", "lookup", "decode", "encode", "lookup"],
    "train_read": ["decode", "lookup", "encode", "decode", "lookup"],
}
DEFAULT_DOCS = 24 * 4096        # 24 source files of one datagen block each
RG_BYTES = 32 << 20             # encode row-group target (engine default)
GET_KEYS = 8
WARM_LOOKUPS = 2                # get/scan pairs in set-up
SCAN_DOCS = 100
TAIL_BEYOND = 10                # samples required beyond a tail percentile


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)))
    p.add_argument("--docs", type=int, default=DEFAULT_DOCS,
                   help="source documents (default %(default)s)")
    return p.parse_args(argv)


def doc_name(i: int) -> str:
    return f"doc_{i:012d}"  # tokenc.datagen's doc_id format


def tail_quantile(n: int) -> float:
    """Highest quantile <= 0.9 with TAIL_BEYOND samples beyond it, never
    below the median."""
    return max(0.5, min(0.9, 1 - TAIL_BEYOND / n)) if n else 0.5


def quantile(xs, q: float) -> float:
    import numpy as np

    return float(np.percentile(xs, 100 * q))


def iqr_frac(xs) -> float:
    if len(xs) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / statistics.median(xs)


def total_mem_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


class Reference:
    """What correct outputs are, computed with pyarrow from the source
    files: table aggregates and, per doc index, n_tok, token sum and
    source."""

    def __init__(self, src_files):
        import numpy as np
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        ntok, toksum, source, index = [], [], [], []
        self.rows = self.id_bytes = self.src_bytes = 0
        for f in src_files:
            t = pq.read_table(f)
            self.rows += t.num_rows
            self.id_bytes += pc.sum(pc.binary_length(t["doc_id"])).as_py()
            self.src_bytes += pc.sum(pc.binary_length(t["source"])).as_py()
            tok = t["tokens"].combine_chunks()
            offs = np.asarray(tok.offsets)
            vals = np.asarray(tok.values).astype(np.int64)
            csum = np.concatenate(([0], np.cumsum(vals)))
            toksum.append(csum[offs[1:]] - csum[offs[:-1]])
            ntok.append(np.asarray(t["n_tok"]).astype(np.int64))
            source.extend(t["source"].to_pylist())
            index.extend(int(d[4:]) for d in t["doc_id"].to_pylist())
        order = np.argsort(np.asarray(index))
        self.ntok = np.concatenate(ntok)[order]
        self.toksum = np.concatenate(toksum)[order]
        self.source = [source[i] for i in order]
        self.ntok_total = int(self.ntok.sum())
        self.tok_total = int(self.toksum.sum())
        if sorted(index) != list(range(self.rows)):
            raise RuntimeError("source doc_ids are not 0..rows-1")
        # raw logical bytes, as bench.py defines them: string bytes, 4 per
        # token, 4 per n_tok value
        self.raw_bytes = (self.id_bytes + 4 * self.ntok_total
                          + self.src_bytes + 4 * self.rows)

    def row_ok(self, r) -> bool:
        i = int(r["doc_id"][4:])
        toks = r["tokens"]
        return (r["n_tok"] == len(toks) == self.ntok[i]
                and sum(toks) == self.toksum[i]
                and r["source"] == self.source[i])


class Bench:
    def __init__(self, args):
        self.t0 = time.perf_counter()
        self.args = args
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []

    # ---------------------------------------------------------------- setup
    def start_session(self):
        from pyspark.sql import SparkSession

        tmp = os.path.join(WORK, "tmp")
        mem_mb = min(4096, total_mem_mb() // 4)
        self.spark = (
            SparkSession.builder.master(f"local[{self.args.cores}]")
            .appName("tokenc-perfbench")
            .config("spark.driver.memory", f"{mem_mb}m")
            .config("spark.driver.extraJavaOptions",
                    f"-XX:+UseParallelGC -XX:-UsePerfData "
                    f"-Djava.io.tmpdir={tmp}")
            .config("spark.local.dir", os.path.join(WORK, "spark_local"))
            .config("spark.hadoop.hadoop.tmp.dir", tmp)
            .config("spark.sql.warehouse.dir", os.path.join(WORK, "warehouse"))
            .config("spark.sql.shuffle.partitions", str(self.args.cores))
            .config("spark.sql.execution.arrow.maxRecordsPerBatch", "8192")
            .config("spark.sql.parquet.compression.codec", "zstd")
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .getOrCreate())
        self.spark.sparkContext.setLogLevel("ERROR")

    def setup(self):
        """Session, source, warm-up, one-time encode and persist. Every
        workload pays the same set-up, reported as setup_s."""
        from tokenc.datagen import (BLOCK_DOCS, TOKENS_ARROW_SCHEMA,
                                    synth_tokens_df)
        from tokenc.files import list_parquet_files
        from tokenc.schema import specs_from_arrow_schema

        a = self.args
        self.start_session()
        spark = self.spark
        self.schema = TOKENS_ARROW_SCHEMA
        self.specs = specs_from_arrow_schema(TOKENS_ARROW_SCHEMA,
                                             bloom_columns=["doc_id"])
        self.src_dir = os.path.join(WORK, "src")
        self.enc_dir = os.path.join(WORK, "enc")
        # one file per datagen block, so no block is generated twice
        files = -(-a.docs // BLOCK_DOCS)
        (synth_tokens_df(spark, a.docs, seed=a.seed, partitions=files)
         .write.option("compression", "snappy").parquet(self.src_dir))
        self.src_files = list_parquet_files(self.src_dir)
        self.lookup_rng = random.Random(a.seed)
        # the one-time encode is also the warm-up of the encode path:
        # Python worker spin-up and the selector's per-worker memo
        self.encoded().write.parquet(self.enc_dir)
        self.enc_files = list_parquet_files(self.enc_dir)
        self.table = spark.read.parquet(self.enc_dir).persist()
        self.table.count()
        # one pass of each family warms its plans; lookups need a few more
        self.warm = {"encode": [self.encode_pass()],
                     "decode": [self.decode_pass()], "get": [], "scan": []}
        for _ in range(WARM_LOOKUPS):
            for op, draw in (("get", self.draw_get), ("scan", self.draw_scan)):
                keys = draw()
                self.warm[op].append((keys, getattr(self, op)(keys)))
        self.setup_s = time.perf_counter() - self.t0

    # ----------------------------------------------------------- operations
    def encoded(self):
        from tokenc.files import encode_files

        return encode_files(self.spark, self.src_files, self.specs,
                            target_raw_bytes=RG_BYTES)

    def encode_pass(self):
        """One encode_files pass forced by an aggregate over every
        column's enc_bytes -> the aggregate row."""
        from pyspark.sql import functions as F

        aggs = [F.sum("n_rows").alias("rows")]
        for s in self.specs:
            aggs += [F.sum(f"{s.name}_meta.enc_bytes").alias(f"{s.name}_enc"),
                     F.sum(f"{s.name}_meta.n_values").alias(f"{s.name}_nv")]
        return self.encoded().agg(*aggs).collect()[0]

    def encode_ok(self, r) -> bool:
        ref = self.ref
        return (r["rows"] == ref.rows and r["doc_id_nv"] == ref.rows
                and r["n_tok_nv"] == ref.rows and r["source_nv"] == ref.rows
                and r["tokens_nv"] == ref.ntok_total
                and all(r[f"{s.name}_enc"] > 0 for s in self.specs))

    def decode_pass(self):
        from pyspark.sql import functions as F

        from tokenc.files import decode_files

        dec = decode_files(self.spark, self.enc_files, self.specs, self.schema)
        return dec.agg(
            F.count("*").alias("rows"), F.sum("n_tok").alias("ntok"),
            F.sum(F.size("tokens")).alias("ntok_len"),
            F.sum(F.expr("aggregate(tokens, 0L, (a, x) -> a + x)"))
            .alias("toks"),
            F.sum(F.octet_length("doc_id")).alias("id_bytes"),
            F.sum(F.octet_length("source")).alias("src_bytes")).collect()[0]

    def decode_ok(self, r) -> bool:
        ref = self.ref
        return (r["rows"] == ref.rows and r["ntok"] == ref.ntok_total
                and r["ntok_len"] == ref.ntok_total
                and r["toks"] == ref.tok_total
                and r["id_bytes"] == ref.id_bytes
                and r["src_bytes"] == ref.src_bytes)

    def draw_get(self) -> list[str]:
        return [doc_name(i) for i in
                self.lookup_rng.sample(range(self.args.docs), GET_KEYS)]

    def draw_scan(self) -> list[str]:
        lo = self.lookup_rng.randrange(self.args.docs - SCAN_DOCS + 1)
        return [doc_name(i) for i in range(lo, lo + SCAN_DOCS)]

    def get(self, keys):
        from tokenc import engine

        return engine.get(self.table, self.specs, self.schema, "doc_id",
                          keys).collect()

    def scan(self, keys):
        from tokenc import engine

        return engine.scan(self.table, self.specs, self.schema,
                           [("doc_id", "between", (keys[0], keys[-1]))]
                           ).collect()

    def rows_ok(self, rows, keys) -> bool:
        return (sorted(r["doc_id"] for r in rows) == sorted(keys)
                and all(self.ref.row_ok(r) for r in rows))

    def timed(self, what: str, fn, check) -> float:
        """Run one operation; count it and whether its output was right.
        A raised error counts as a failed operation."""
        self.attempted += 1
        t = time.perf_counter()
        try:
            out = fn()
        except Exception:
            traceback.print_exc()
            self.failed += 1
            self.notes.append(f"{what} raised")
            return time.perf_counter() - t
        wall = time.perf_counter() - t
        if not check(out):
            self.failed += 1
            self.notes.append(f"wrong result from {what}")
        return wall

    def gate(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.append(f"gate failed: {what}")

    def run_op(self, family: str, samples: dict) -> None:
        """One timed operation of `family`; a lookup is a get and a scan."""
        if family == "encode":
            samples["encode"].append(self.timed(
                "encode pass", self.encode_pass, self.encode_ok))
        elif family == "decode":
            samples["decode"].append(self.timed(
                "decode pass", self.decode_pass, self.decode_ok))
        else:
            for op, draw in (("get", self.draw_get), ("scan", self.draw_scan)):
                keys = draw()
                samples[op].append(self.timed(
                    op, lambda: getattr(self, op)(keys),
                    lambda rows: self.rows_ok(rows, keys)))

    # ---------------------------------------------------------------- gates
    def container_gates(self) -> dict:
        """Untimed checks on the one-time encode: manifest n_rows sums to
        the source rows and every blob's CRC32 matches its manifest entry.
        -> sizes and codec picks read from the container."""
        from collections import Counter

        import pyarrow.parquet as pq

        from tokenc import local

        self.gate(not local.verify(self.enc_dir), "blob CRC32 vs manifest")
        picks: Counter = Counter()
        n_rows = 0
        for f in self.enc_files:
            t = pq.read_table(f, columns=["n_rows"] + [
                f"{s.name}_meta" for s in self.specs])
            n_rows += sum(t["n_rows"].to_pylist())
            for s in self.specs:
                picks.update(t[f"{s.name}_meta"].combine_chunks()
                             .field("codec").to_pylist())
        self.gate(n_rows == self.ref.rows, "manifest n_rows vs source rows")
        enc_bytes = sum(os.path.getsize(f) for f in self.enc_files)
        src_bytes = sum(os.path.getsize(f) for f in self.src_files)
        return {"enc_disk_bytes": enc_bytes, "src_disk_bytes": src_bytes,
                "picks": picks}

    # ------------------------------------------------------------------ run
    def run(self) -> dict:
        a = self.args
        self.setup()
        self.ref = Reference(self.src_files)
        for r in self.warm["encode"]:
            self.gate(self.encode_ok(r), "warm-up encode pass")
        for r in self.warm["decode"]:
            self.gate(self.decode_ok(r), "warm-up decode pass")
        for op in ("get", "scan"):
            for keys, rows in self.warm[op]:
                self.gate(self.rows_ok(rows, keys), f"warm-up {op}")
        sizes = self.container_gates()
        print(f"source: {self.ref.rows} docs in {len(self.src_files)} files, "
              f"{self.ref.raw_bytes / 1e6:.1f} MB raw, "
              f"{sizes['src_disk_bytes'] / 1e6:.1f} MB snappy parquet; "
              f"container {sizes['enc_disk_bytes'] / 1e6:.1f} MB; "
              f"{a.cores} cores")
        if a.trace:
            metrics = self.traced(sizes)
        else:
            metrics = self.untraced(sizes)
        for note in self.notes:
            print("FAILED:", note)
        return {"correct": self.failed == 0, "attempted": self.attempted,
                "failed": self.failed, "metrics": metrics}

    def untraced(self, sizes) -> dict:
        from procs import WorkerRssSampler, jvm_process

        a = self.args
        samples = {"encode": [], "decode": [], "get": [], "scan": []}
        with WorkerRssSampler(jvm_process().pid) as rss:
            # at least one full round; then stop at the first operation
            # that ends after --seconds
            end = time.perf_counter() + a.seconds
            rounds = 0
            while rounds == 0 or time.perf_counter() < end:
                for family in ROUNDS[a.workload]:
                    if rounds and time.perf_counter() >= end:
                        break
                    self.run_op(family, samples)
                rounds += 1
        raw_mb = self.ref.raw_bytes / 1e6
        out = {}

        def put(name, value, unit, note=""):
            out[name] = {"value": value, "unit": unit}
            print(f"{name} = {value:.6g} {unit}{note}")

        put("setup_s", self.setup_s, "s", " (session, source, warm-up, "
            "one-time encode and persist; measured once)")
        for fam, name in (("encode", "encode_MBps"), ("decode", "read_MBps")):
            xs = samples[fam]
            put(name, raw_mb / statistics.median(xs), "MB/s",
                f" (median of {len(xs)} passes of {raw_mb:.1f} MB; pass IQR "
                f"{100 * iqr_frac(xs):.1f}% of median; passes "
                f"{' '.join(f'{x:.3f}' for x in xs)} s)")
        put("stored_bytes_per_raw_byte",
            sizes["enc_disk_bytes"] / self.ref.raw_bytes, "ratio")
        put("size_vs_snappy",
            sizes["enc_disk_bytes"] / sizes["src_disk_bytes"], "ratio")
        for op in ("get", "scan"):
            ms = [1000 * x for x in samples[op]]
            q = tail_quantile(len(ms))
            put(f"{op}_ms_p50", statistics.median(ms), "ms",
                f" ({len(ms)} samples; IQR {100 * iqr_frac(ms):.1f}% of "
                f"median; samples {' '.join(f'{x:.0f}' for x in ms)} ms)")
            put(f"{op}_ms_p90", quantile(ms, q), "ms",
                f" (reported percentile p{100 * q:.0f}: the highest <= p90 "
                f"with {TAIL_BEYOND} of {len(ms)} samples beyond it)")
        put("ok_frac", (self.attempted - self.failed) / self.attempted,
            "ratio", f" ({self.failed} of {self.attempted} operations and "
            "checks failed)")
        put("worker_peak_rss_MB", rss.peak_bytes / 1e6, "MB",
            f" ({rss.samples} samples of the PySpark worker processes)")
        return out

    # --------------------------------------------------------------- traced
    def spark_ops(self, family: str, n: int) -> dict:
        """n untraced operations of `family` under one job group -> jobs,
        tasks and failed tasks per operation, and the median op wall."""
        sc = self.spark.sparkContext
        group = f"perfbench-{family}"
        sc.setJobGroup(group, f"perfbench {family}")
        samples = {"encode": [], "decode": [], "get": [], "scan": []}
        for _ in range(n):
            self.run_op(family, samples)
        sc.setJobGroup("perfbench-other", "perfbench")
        walls = [w for xs in samples.values() for w in xs]
        st = sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        tasks = failed = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for sid in (info.stageIds if info else ()):
                stage = st.getStageInfo(sid)
                if stage is not None:
                    tasks += stage.numCompletedTasks + stage.numFailedTasks
                    failed += stage.numFailedTasks
        return {"jobs_per_op": len(jobs) / len(walls),
                "tasks_per_op": tasks / len(walls), "failed_tasks": failed,
                "op_wall": statistics.median(walls)}

    def traced(self, sizes) -> dict:
        import spans

        from tokenc import engine

        a = self.args
        end = time.perf_counter() + a.seconds
        primary = WORKLOADS[a.workload]
        spark_stats = self.spark_ops(primary, 2)
        lookup_stats = self.spark_ops("lookup", 2)
        index = engine.sorted_index_for(self.table, "doc_id")
        lk = spans.LookupInputs(self.enc_files, self.specs, index)
        gets = [self.draw_get() for _ in range(8)]
        scans = [self.draw_scan() for _ in range(8)]
        replay_dir = os.path.join(WORK, "replay")

        def replay(tracer):
            """One replay of all three paths -> (wall, encode/decode walls)."""
            shutil.rmtree(replay_dir, ignore_errors=True)
            if tracer.enabled:
                tracer.install()
            try:
                t0 = time.perf_counter()
                rows = spans.replay_encode(tracer, self.src_files, self.specs,
                                            replay_dir, RG_BYTES)
                t1 = time.perf_counter()
                drows, dntok = spans.replay_decode(tracer, self.enc_files,
                                                    self.specs)
                t2 = time.perf_counter()
                looked = [spans.replay_get(tracer, lk, k) for k in gets]
                looked += [spans.replay_scan(tracer, lk, k[0], k[-1])
                           for k in scans]
                t3 = time.perf_counter()
            finally:
                tracer.uninstall()
            self.gate(rows == self.ref.rows, "replayed encode rows")
            self.gate(drows == self.ref.rows and dntok == self.ref.ntok_total,
                      "replayed decode rows")
            for keys, parts in zip(gets + scans, looked):
                got = [r for p in parts if p is not None
                       for r in p.to_pylist()]
                self.gate(self.rows_ok(got, keys), "replayed lookup rows")
            return t3 - t0, {"encode": t1 - t0, "decode": t2 - t1}

        replay(spans.Tracer(enabled=False))  # warm-up, not measured
        plain_walls, traced_walls, layer_runs, path_walls = [], [], [], []
        while len(traced_walls) < 2 or time.perf_counter() < end:
            # alternate which replay of the pair runs first
            for traced in ((False, True) if len(traced_walls) % 2
                           else (True, False)):
                tracer = spans.Tracer(enabled=traced)
                wall, paths = replay(tracer)
                if traced:
                    traced_walls.append(wall)
                    layer_runs.append(spans.layer_metrics(
                        tracer, wall, len(gets) + len(scans)))
                else:
                    plain_walls.append(wall)
                    path_walls.append(paths)
        m = spans.medians(layer_runs)
        for codec in spans.CODECS:
            m[f"selector.picks.{codec}"] = sizes["picks"].get(codec, 0)
        m["lookup.rowgroups_total"] = lk.n_rowgroups
        m["trace.overhead_frac"] = (statistics.median(traced_walls)
                                    / statistics.median(plain_walls) - 1)
        busy = statistics.median(p[primary] for p in path_walls)
        m["spark.residual_frac"] = 1 - busy / (spark_stats["op_wall"]
                                               * a.cores)
        for k in ("jobs_per_op", "tasks_per_op"):
            m[f"spark.{k}"] = spark_stats[k]
            m[f"spark.lookup_{k}"] = lookup_stats[k]
        m["spark.failed_tasks"] = (spark_stats["failed_tasks"]
                                   + lookup_stats["failed_tasks"])
        out = {}
        for name in sorted(m):
            unit = metric_unit(name)
            out[name] = {"value": m[name], "unit": unit}
            print(f"{name} = {m[name]:.6g} {unit}")
        print(f"unattributed = {m['unattributed_s']:.6g} s of a "
              f"{m['replay.wall_s']:.6g} s replay "
              f"({100 * m['unattributed_frac']:.2f}%; median of "
              f"{len(layer_runs)} traced replays)")
        return out

    def close(self):
        if self.spark is not None:
            from procs import stop_spark

            stop_spark(self.spark)
            self.spark = None


PER_OP_UNITS = {"spark.jobs_per_op": "jobs/op",
                "spark.tasks_per_op": "tasks/op",
                "spark.lookup_jobs_per_op": "jobs/op",
                "spark.lookup_tasks_per_op": "tasks/op",
                "lookup.rowgroups_after_stats": "rowgroups/op",
                "lookup.rowgroups_after_bloom": "rowgroups/op"}


def metric_unit(name: str) -> str:
    if name in PER_OP_UNITS:
        return PER_OP_UNITS[name]
    if name.endswith("_MBps"):
        return "MB/s"
    if name.endswith("_MB"):
        return "MB"
    if name.endswith("_s"):
        return "s"
    if name.endswith(("_frac", "_ratio", ".ratio")) or "_per_" in name:
        return "ratio"
    return "count"


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "tokenc", "__init__.py")):
        print(f"perfbench: no tokenc package under {ROOT}", file=sys.stderr)
        return 2
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    # Spark's Python workers import tokenc from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark_local")
    # no hsperfdata files under /tmp from the spark-submit launcher JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    sys.path.insert(0, ROOT)
    bench = Bench(args)
    try:
        result = bench.run()
    finally:
        bench.close()
        shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps(result))
    sys.stdout.flush()
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
