"""Point-fetch API (engine.get) and auto-wired sorted indexes: the
reference's SkipRows+ReadByNumber analog (reader/reader.go:179-253)
composed from sorted-index probe → dict/bloom confirm → page-directory
row runs → exact residual; scan() builds-and-memoizes the index itself
when the manifest's sorted flags say the layout is clustered."""

from __future__ import annotations

import time
import uuid

import numpy as np
import pandas as pd
import pytest


@pytest.fixture(scope="module")
def kv_enc(spark):
    """Range-clustered (k, payload, tag) with bloom + distinct on k."""
    from pyspark.sql import functions as F
    from pyspark.sql.pandas.types import to_arrow_schema

    from tokenc.engine import encode_df
    from tokenc.schema import specs_from_arrow_schema

    n = 30_000
    df = (spark.range(n).select(
        F.col("id").alias("k"),
        (F.col("id") * 3 + 1).cast("double").alias("payload"),
        F.concat(F.lit("v"), (F.col("id") % 5).cast("string")).alias("tag"))
        .repartitionByRange(8, "k").sortWithinPartitions("k"))
    schema = to_arrow_schema(df.schema)
    specs = specs_from_arrow_schema(schema, bloom_columns=["k"])
    enc = encode_df(df, specs, target_raw_bytes=32 << 10).cache()
    enc.count()
    return enc, specs, schema


@pytest.fixture(scope="module")
def doc_enc(spark):
    """The benchmark's lookup shape, persisted: range-clustered
    `doc_%012d` keys — all sharing their first 8 bytes, so the byte-array
    page bounds tell no two apart — beside a wide list column split into
    pages."""
    from pyspark.sql import functions as F
    from pyspark.sql.pandas.types import to_arrow_schema

    from tokenc.engine import encode_df
    from tokenc.schema import specs_from_arrow_schema

    df = (spark.range(6000).select(
        F.format_string("doc_%012d", F.col("id")).alias("doc_id"),
        F.sequence(F.lit(0), F.col("id") % 40 + 20).cast("array<int>")
        .alias("tokens"),
        (F.col("id") % 40 + 21).cast("int").alias("n_tok"))
        .repartitionByRange(4, "doc_id").sortWithinPartitions("doc_id"))
    schema = to_arrow_schema(df.schema)
    specs = specs_from_arrow_schema(schema, bloom_columns=["doc_id"])
    enc = encode_df(df, specs, target_raw_bytes=64 << 10,
                    page_bytes=8 << 10).cache()
    enc.count()
    return enc, specs, schema


def _spark_jobs(spark, fn):
    """fn() and the number of Spark jobs it ran, counted with the public
    status tracker under a job group of its own. A marker job in a second
    group runs after it: listener events arrive in order, so once the
    marker shows, every job of the first group does."""
    sc = spark.sparkContext
    group, marker = (f"lookup-{uuid.uuid4().hex}" for _ in range(2))
    try:
        sc.setJobGroup(group, "lookup")
        out = fn()
        sc.setJobGroup(marker, "marker")
        sc.parallelize([0], 1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    st = sc.statusTracker()
    deadline = time.monotonic() + 30
    while not st.getJobIdsForGroup(marker):
        assert time.monotonic() < deadline, "marker job never showed"
        time.sleep(0.05)
    return out, len(st.getJobIdsForGroup(group))


def _list_rows_decoded(monkeypatch):
    """Rows of LIST chunks decoded in this process through
    engine.decode_chunk_rows_multi, appended to the returned list."""
    import tokenc.engine as eng
    from tokenc.chunk import F_IS_LIST

    rows, real = [], eng.decode_chunk_rows_multi

    def counting(blob, runs):
        cds, decoded = real(blob, runs)
        if blob[7] & F_IS_LIST:
            rows.append(sum(cd.n_rows for cd in cds))
        return cds, decoded

    monkeypatch.setattr(eng, "decode_chunk_rows_multi", counting)
    return rows


def _doc_lookups(doc_enc):
    """-> (get, scan) closures on doc_enc returning sorted collected rows:
    a 4-key get and a 100-key range scan."""
    import tokenc.engine as eng

    enc, specs, schema = doc_enc
    keys = [f"doc_{i:012d}" for i in (5, 777, 2048, 5999)]
    lo, hi = "doc_000000001000", "doc_000000001099"

    def get(**kw):
        return sorted(eng.get(enc, specs, schema, "doc_id", keys,
                              **kw).collect())

    def scan(**kw):
        return sorted(eng.scan(enc, specs, schema,
                               [("doc_id", "between", (lo, hi))],
                               **kw).collect())

    return get, scan


def _want(keys):
    ks = sorted(keys)
    return pd.DataFrame({
        "k": ks,
        "payload": [float(k * 3 + 1) for k in ks],
        "tag": [f"v{k % 5}" for k in ks]})


class TestGet:
    def test_scattered_point_fetch(self, spark, kv_enc):
        from tokenc.engine import get

        enc, specs, schema = kv_enc
        keys = [3, 4444, 12001, 29999]
        got = get(enc, specs, schema, "k", keys).orderBy("k").toPandas()
        pd.testing.assert_frame_equal(got.reset_index(drop=True),
                                      _want(keys))

    def test_absent_keys_empty(self, spark, kv_enc):
        from tokenc.engine import get

        enc, specs, schema = kv_enc
        assert get(enc, specs, schema, "k", [-5, 10 ** 9]).count() == 0

    def test_mixed_present_absent(self, spark, kv_enc):
        from tokenc.engine import get

        enc, specs, schema = kv_enc
        got = get(enc, specs, schema, "k", [77, -1, 20000]) \
            .orderBy("k").toPandas()
        pd.testing.assert_frame_equal(got.reset_index(drop=True),
                                      _want([77, 20000]))

    def test_probe_touches_few_groups(self, spark, kv_enc):
        """The point of get(): candidate row groups ≪ manifest size."""
        from tokenc.engine import sorted_index_for

        enc, specs, schema = kv_enc
        idx = sorted_index_for(enc, "k")
        assert idx is not None and idx.clustered
        total = len(idx.rg_ids) + len(idx.no_stats_ids)
        keys = [3, 4444, 12001, 29999]
        cand = {i for v in keys for i in idx.lookup(v)}
        assert total >= 16
        assert len(cand) <= len(keys) + len(idx.no_stats_ids)
        assert len(cand) < total / 2

    def test_string_key_fetch(self, spark):
        from pyspark.sql import functions as F
        from pyspark.sql.pandas.types import to_arrow_schema

        from tokenc.engine import encode_df, get
        from tokenc.schema import specs_from_arrow_schema

        df = (spark.range(5000).select(
            F.format_string("key%06d", F.col("id")).alias("k"),
            F.col("id").alias("v"))
            .repartitionByRange(4, "k").sortWithinPartitions("k"))
        schema = to_arrow_schema(df.schema)
        specs = specs_from_arrow_schema(schema, bloom_columns=["k"])
        enc = encode_df(df, specs, target_raw_bytes=16 << 10).cache()
        got = get(enc, specs, schema, "k",
                  ["key000123", "key004999", "nope"]).orderBy("k").toPandas()
        assert got["k"].tolist() == ["key000123", "key004999"]
        assert got["v"].tolist() == [123, 4999]

    def test_unclustered_layout_still_exact(self, spark):
        """Hash-shuffled keys: every group spans the id range, the index
        probe is unselective, bloom + residual still make it exact."""
        from pyspark.sql import functions as F
        from pyspark.sql.pandas.types import to_arrow_schema

        from tokenc.engine import encode_df, get
        from tokenc.schema import specs_from_arrow_schema

        df = (spark.range(8000).select(
            F.col("id").alias("k"), (F.col("id") % 97).alias("v"))
            .repartition(4, F.hash("id")))
        schema = to_arrow_schema(df.schema)
        specs = specs_from_arrow_schema(schema, bloom_columns=["k"])
        enc = encode_df(df, specs, target_raw_bytes=16 << 10).cache()
        got = get(enc, specs, schema, "k", [17, 6021]).orderBy("k").toPandas()
        assert got["k"].tolist() == [17, 6021]
        assert got["v"].tolist() == [17 % 97, 6021 % 97]

    def test_unknown_key_column_raises(self, spark, kv_enc):
        from tokenc.engine import get

        enc, specs, schema = kv_enc
        with pytest.raises(KeyError):
            get(enc, specs, schema, "nope", [1])

    def test_decimal_key_fetch(self, spark):
        """Regression: decimal stats, sorted index, bloom and page bounds
        hold UNSCALED integers; a probe of 30 or 30.5 read as unscaled 30
        — a row group far from the one holding 30.00 / 30.50 (unscaled
        3000 / 3050) — and fetched nothing."""
        from decimal import Decimal

        from pyspark.sql import functions as F
        from pyspark.sql.pandas.types import to_arrow_schema

        from tokenc.engine import encode_df, get
        from tokenc.schema import specs_from_arrow_schema
        from tokenc.sorted_index import SortedKeyIndex

        df = (spark.range(20_000).select(
            F.col("id").alias("k"),
            (F.col("id") / 100).cast("decimal(10,2)").alias("price"))
            .repartitionByRange(4, "k").sortWithinPartitions("k"))
        schema = to_arrow_schema(df.schema)
        specs = specs_from_arrow_schema(schema, bloom_columns=["price"])
        enc = encode_df(df, specs, target_raw_bytes=16 << 10).cache()
        enc.count()
        for auto in (True, False):
            for probe, k in ((30, 3000), (30.5, 3050),
                             (Decimal("30.50"), 3050)):
                got = get(enc, specs, schema, "price", [probe],
                          auto_index=auto).toPandas()
                assert got["k"].tolist() == [k], (probe, auto)
        # an explicit index holds the same unscaled integers
        idx = SortedKeyIndex.build(enc, "price")
        got = get(enc, specs, schema, "price", [30], index=idx).toPandas()
        assert got["k"].tolist() == [3000]
        enc.unpersist()


class TestLookupLaunch:
    """A selective lookup on a persisted frame with a memoized index runs
    ONE JVM-only Spark job and decodes in the calling process, where the
    wide columns decode only the rows whose key matches."""

    def test_one_job_and_matching_rows_only(self, spark, doc_enc,
                                            monkeypatch):
        from tokenc.chunk import F_PAGED

        enc = doc_enc[0]
        assert enc.first()["tokens_blob"][7] & F_PAGED  # wide column paged
        get, scan = _doc_lookups(doc_enc)
        get(), scan()  # warm: builds and memoizes the index
        rows = _list_rows_decoded(monkeypatch)
        got, jobs = _spark_jobs(spark, get)
        assert jobs == 1
        assert sum(rows) == 4, rows
        rows.clear()
        scanned, jobs = _spark_jobs(spark, scan)
        assert jobs == 1
        assert sum(rows) == 100, rows
        monkeypatch.undo()
        assert len(got) == 4 and len(scanned) == 100
        assert got == get(auto_index=False)
        assert scanned == scan(auto_index=False)

    def test_byte_cap_keeps_distributed_path(self, spark, doc_enc,
                                             monkeypatch):
        import tokenc.engine as eng

        get, scan = _doc_lookups(doc_enc)
        want = get(auto_index=False), scan(auto_index=False)
        get(), scan()  # warm
        monkeypatch.setattr(eng, "_LOCAL_LOOKUP_BYTES", 0)
        rows = _list_rows_decoded(monkeypatch)
        got, jobs = _spark_jobs(spark, lambda: (get(), scan()))
        assert rows == [], "decoded in the calling process"
        assert jobs >= 4  # per lookup: fingerprint + distributed decode
        assert got == want

    def test_decoded_rows_over_cap_decode_distributed(self, doc_enc,
                                                       monkeypatch):
        """The cap also bounds the rows decoded in the calling process: a
        scan of every row, whose decoded rows outgrow the encoded blobs it
        fetched, drops them and decodes distributed, exactly."""
        import tokenc.engine as eng

        enc, specs, schema = doc_enc

        def scan_all(**kw):
            return sorted(eng.scan(enc, specs, schema,
                                   [("doc_id", ">=", "doc_")], **kw).collect())

        want = scan_all(auto_index=False)
        scan_all()  # warm
        idx = eng._sorted_indexes[enc]["doc_id"][2]
        monkeypatch.setattr(eng, "_LOCAL_LOOKUP_BYTES", idx.fetch_bytes(
            idx.rg_ids, [s.name for s in specs]))
        local, real = [], eng._decode_local

        def decode_local(fn, batches):
            local.append(real(fn, batches))
            return local[-1]

        monkeypatch.setattr(eng, "_decode_local", decode_local)
        got = scan_all()
        assert local == [None], "the fetch was not tried, or not dropped"
        assert len(got) == 6000 and got == want

    def test_fingerprint_checked_when_filter_folds_away(self, spark,
                                                        doc_enc):
        """A candidate filter the optimizer proves empty drops the fetch's
        observation with it; the fingerprint must still be checked."""
        from pyspark.sql import functions as F

        import tokenc.engine as eng

        enc = doc_enc[0]
        token = eng._index_mat_token(enc, "doc_id")[0]

        def folded(df):
            return df.where(F.lit(False))

        for ids in (["x"], []):
            assert eng._fetch_checked(enc, folded, ["rg_id"], [token],
                                      ids) == []
            assert eng._fetch_checked(enc, folded, ["rg_id"], [(-1, 0)],
                                      ids) is None

    def test_naive_timestamps_match_distributed_path(self, spark):
        """The in-process decode hands Spark the same instants as the
        mapInArrow path, which reads a naive Arrow timestamp as UTC: no
        re-localization to a non-UTC session time zone."""
        import pyarrow as pa
        from pyspark.sql import functions as F

        from tokenc.engine import encode_df, get
        from tokenc.schema import specs_from_arrow_schema

        schema = pa.schema([pa.field("k", pa.int64()),
                            pa.field("ts", pa.timestamp("us")),
                            pa.field("tl", pa.list_(pa.timestamp("us")))])
        df = (spark.range(3001).select(
            F.col("id").alias("k"),
            F.timestamp_seconds(F.col("id") * 3600).alias("ts"),
            F.array(F.timestamp_seconds(F.col("id"))).alias("tl"))
            .repartitionByRange(2, "k").sortWithinPartitions("k"))
        specs = specs_from_arrow_schema(schema)
        enc = encode_df(df, specs, target_raw_bytes=8 << 10).cache()
        enc.count()
        tz = spark.conf.get("spark.sql.session.timeZone")
        spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
        try:
            got = [sorted(get(enc, specs, schema, "k", [5, 2500],
                              auto_index=auto).collect())
                   for auto in (True, False)]
        finally:
            spark.conf.set("spark.sql.session.timeZone", tz)
            enc.unpersist()
        assert len(got[0]) == 2 and got[0] == got[1]


class TestAutoIndex:
    def test_index_memoized_across_scans(self, spark, monkeypatch):
        """scan() builds the sorted index once per (handle, column) and
        reuses it — the second scan must not collect the manifest again."""
        from pyspark.sql import functions as F
        from pyspark.sql.pandas.types import to_arrow_schema

        import tokenc.engine as eng
        from tokenc.schema import specs_from_arrow_schema
        from tokenc.sorted_index import SortedKeyIndex

        df = (spark.range(20_000).select(
            F.col("id").alias("k"), (F.col("id") % 10).alias("v"))
            .repartitionByRange(4, "k").sortWithinPartitions("k"))
        schema = to_arrow_schema(df.schema)
        specs = specs_from_arrow_schema(schema)
        enc = eng.encode_df(df, specs, target_raw_bytes=16 << 10).cache()
        enc.count()

        calls = []
        real_build = SortedKeyIndex.build.__func__

        def counting_build(cls, enc_df, column):
            calls.append(column)
            return real_build(cls, enc_df, column)

        monkeypatch.setattr(SortedKeyIndex, "build",
                            classmethod(counting_build))
        r1 = eng.scan(enc, specs, schema, [("k", "between", (100, 200))])
        r2 = eng.scan(enc, specs, schema, [("k", "between", (5000, 5100))])
        assert r1.count() == 101 and r2.count() == 101
        assert calls.count("k") == 1, calls

    def test_uncached_frame_never_auto_indexes(self, spark, monkeypatch):
        """Regression (r5): an UNPERSISTED encode whose lineage contains
        repartitionByRange re-samples range boundaries per action, so
        content-hash rg_ids differ between an index-build action and the
        scan action — an rg_id IN-list from one must never filter the
        other. Auto-indexing must skip unpersisted frames entirely (the
        single-action stats prunes stay correct) and the scan result must
        be exact. (_is_persisted goes through df.storageLevel, which asks
        Spark's cacheManager by canonicalized PLAN equality — so the plan
        here must not collide with a frame another test cached, hence the
        odd row count.)"""
        from pyspark.sql import functions as F
        from pyspark.sql.pandas.types import to_arrow_schema

        import tokenc.engine as eng
        from tokenc.schema import specs_from_arrow_schema
        from tokenc.sorted_index import SortedKeyIndex

        df = (spark.range(21_001).select(
            F.col("id").alias("k"), (F.col("id") % 11).alias("v"))
            .repartitionByRange(4, "k").sortWithinPartitions("k"))
        schema = to_arrow_schema(df.schema)
        specs = specs_from_arrow_schema(schema)
        enc = eng.encode_df(df, specs, target_raw_bytes=16 << 10)  # no cache

        calls = []
        real_build = SortedKeyIndex.build.__func__

        def counting_build(cls, enc_df, column):
            calls.append(column)
            return real_build(cls, enc_df, column)

        monkeypatch.setattr(SortedKeyIndex, "build",
                            classmethod(counting_build))
        out = eng.scan(enc, specs, schema, [("k", "between", (100, 200))])
        assert out.count() == 101
        assert calls == [], "auto-index must not build on unpersisted frames"
        got = eng.get(enc, specs, schema, "k", [5, 19999]) \
            .orderBy("k").toPandas()
        assert got["k"].tolist() == [5, 19999]
        assert calls == []

    def test_auto_index_prunes_clustered_scan(self, spark, kv_enc):
        """Result parity: auto-indexed scan == auto_index=False scan."""
        from tokenc.engine import scan

        enc, specs, schema = kv_enc
        filt = [("k", "between", (1000, 1500))]
        a = scan(enc, specs, schema, filt).orderBy("k").toPandas()
        b = scan(enc, specs, schema, filt,
                 auto_index=False).orderBy("k").toPandas()
        pd.testing.assert_frame_equal(a, b)
        assert len(a) == 501

    def test_stale_materialization_token_rebuilds(self, spark, monkeypatch):
        """Regression (r5 review): the memo is keyed on the DataFrame
        HANDLE, but an unpersist + re-cache re-materializes the lineage
        with different content-hash rg_ids — a stale index's IN-list
        would silently match zero row groups. Every reuse checks the
        materialization fingerprint (its own 1-row job, or read by the
        lookup's fetch job); a mismatch must rebuild."""
        import copy

        from pyspark.sql import functions as F
        from pyspark.sql.pandas.types import to_arrow_schema

        import tokenc.engine as eng
        from tokenc.schema import specs_from_arrow_schema
        from tokenc.sorted_index import SortedKeyIndex

        df = (spark.range(22_000).select(
            F.col("id").alias("k"), (F.col("id") % 13).alias("v"))
            .repartitionByRange(4, "k").sortWithinPartitions("k"))
        schema = to_arrow_schema(df.schema)
        specs = specs_from_arrow_schema(schema)
        enc = eng.encode_df(df, specs, target_raw_bytes=16 << 10).cache()
        enc.count()

        calls = []
        real_build = SortedKeyIndex.build.__func__

        def counting_build(cls, enc_df, column):
            calls.append(column)
            return real_build(cls, enc_df, column)

        monkeypatch.setattr(SortedKeyIndex, "build",
                            classmethod(counting_build))
        assert eng.scan(enc, specs, schema,
                        [("k", "between", (100, 200))]).count() == 101
        assert calls.count("k") == 1
        # simulate a re-materialized handle: the memo entry's fingerprint
        # no longer matches what the aggregate sees
        tok, state, idx = eng._sorted_indexes[enc]["k"]
        eng._sorted_indexes[enc]["k"] = ((-1, "gone", "gone"), state, idx)
        assert eng.scan(enc, specs, schema,
                        [("k", "between", (100, 200))]).count() == 101
        assert calls.count("k") == 2, calls
        # the same through get(), present and absent keys, with the memo's
        # index ALSO stale (rg_ids of another materialization): a lookup
        # must rebuild, never return a silent empty result
        for keys in ([150, 21_999], [-5]):
            tok, state, idx = eng._sorted_indexes[enc]["k"]
            stale = copy.copy(idx)
            stale.rg_ids = [f"old{r}" for r in idx.rg_ids]
            stale.rg_bytes = {f"old{r}": b for r, b in idx.rg_bytes.items()}
            eng._sorted_indexes[enc]["k"] = ((-1, "gone", "gone"), state,
                                             stale)
            n = calls.count("k")
            got = eng.get(enc, specs, schema, "k", keys).orderBy("k")
            assert got.toPandas()["k"].tolist() == [k for k in keys if k > 0]
            assert calls.count("k") == n + 1, calls

    def test_unpersist_recache_scan_stays_exact(self, spark):
        """End-to-end guarantee behind the fingerprint: whatever rg_ids
        the re-materialization produced, a scan after unpersist+re-cache
        returns exact rows (never a silent empty result)."""
        from pyspark.sql import functions as F
        from pyspark.sql.pandas.types import to_arrow_schema

        import tokenc.engine as eng
        from tokenc.schema import specs_from_arrow_schema

        df = (spark.range(23_000).select(
            F.col("id").alias("k"), (F.col("id") % 17).alias("v"))
            .repartitionByRange(4, "k").sortWithinPartitions("k"))
        schema = to_arrow_schema(df.schema)
        specs = specs_from_arrow_schema(schema)
        enc = eng.encode_df(df, specs, target_raw_bytes=16 << 10).cache()
        enc.count()
        filt = [("k", "between", (700, 900))]
        assert eng.scan(enc, specs, schema, filt).count() == 201
        enc.unpersist()
        enc.cache()
        enc.count()
        assert eng.scan(enc, specs, schema, filt).count() == 201

    def test_unsorted_layout_skips_index_build(self, spark, monkeypatch):
        """Regression (r5 review): scan() only uses CLUSTERED indexes, so
        an unsorted layout must not pay the full-manifest collect + sort
        just to discard the result — the 1-row all-sorted pre-check skips
        it. get() on the same frame still builds (overlap-tolerant probe
        is useful for point lookups on any layout)."""
        from pyspark.sql import functions as F
        from pyspark.sql.pandas.types import to_arrow_schema

        import tokenc.engine as eng
        from tokenc.schema import specs_from_arrow_schema
        from tokenc.sorted_index import SortedKeyIndex

        # (id*37) % 9000 is a bijection that scrambles row order, so the
        # chunks really are internally UNsorted (a plain hash repartition
        # of spark.range still hands each reducer its ids ascending)
        df = (spark.range(9_000).select(
            ((F.col("id") * 37) % 9000).alias("k"),
            (F.col("id") % 7).alias("v"))
            .repartition(4, F.hash("id")))
        schema = to_arrow_schema(df.schema)
        specs = specs_from_arrow_schema(schema)
        enc = eng.encode_df(df, specs, target_raw_bytes=16 << 10).cache()
        enc.count()

        calls = []
        real_build = SortedKeyIndex.build.__func__

        def counting_build(cls, enc_df, column):
            calls.append(column)
            return real_build(cls, enc_df, column)

        monkeypatch.setattr(SortedKeyIndex, "build",
                            classmethod(counting_build))
        assert eng.scan(enc, specs, schema,
                        [("k", "between", (100, 200))]).count() == 101
        assert calls == [], "clustered-only caller must skip the build"
        got = eng.get(enc, specs, schema, "k", [42]).toPandas()
        assert got["k"].tolist() == [42]
        assert calls == ["k"], "point fetch builds the index after a skip"


class TestNarrowRuns:
    """engine._narrow_runs keeps exactly the rows whose key can match, in
    the domain Spark's residual compares in."""

    @staticmethod
    def _rows(reps):
        import pyarrow as pa

        import tokenc.engine as eng
        from tokenc.schema import specs_from_arrow_schema

        tbl = pa.table({
            "f": pa.array([1.5, -0.0, None, float("nan"), 0.0, 7.0] * reps),
            "i": pa.array([3, None, 5, -7, 3, 9] * reps, pa.int64()),
            "s": pa.array(["doc_a", None, "doc_b", "doc_c", "doc_a", "x"]
                          * reps)})
        specs = specs_from_arrow_schema(tbl.schema)
        row = eng._encode_rowgroup(tbl, specs)

        def rows(col, runs=((0, 1 << 31),), **kw):
            spec = next(s for s in specs if s.name == col)
            runs, key = eng._narrow_runs(row[f"{col}_blob"], spec,
                                         list(runs), **kw)
            got = [r for a, b in runs for r in range(a, min(b, tbl.num_rows))]
            # the key rows come back with the runs, aligned to them
            assert [str(v) for k in key for v in k.to_pylist()] == \
                [str(v) for v in tbl.column(col).take(
                    pa.array(got, pa.int64())).to_pylist()]
            return got, runs

        return rows

    def test_residual_domains(self):
        rows = self._rows(2)
        # -0.0 equals 0.0; NaN rows are kept (Spark orders NaN highest)
        assert rows("f", values=[0.0])[0] == [1, 3, 4, 7, 9, 10]
        assert rows("f", lo=1.0)[0] == [0, 3, 5, 6, 9, 11]
        assert rows("i", values=[3])[0] == [0, 4, 6, 10]
        assert rows("i", lo=-7, hi=4)[0] == [0, 3, 4, 6, 9, 10]  # no nulls
        assert rows("s", values=["doc_a", b"x"])[0] == [0, 4, 5, 6, 10, 11]
        assert rows("s", lo="doc_b", hi="doc_c")[0] == [2, 3, 8, 9]
        assert rows("s", values=["nope"])[0] == []
        # a float probe on an int key compares in float64: runs unchanged
        assert rows("i", values=[3.0])[1] == [(0, 1 << 31)]

    def test_scattered_matches_merge_to_a_superset(self):
        from tokenc.engine import _NARROW_MAX_RUNS

        rows = self._rows(300)
        got, runs = rows("i", values=[3])
        assert len(runs) == _NARROW_MAX_RUNS
        assert set(got) >= {r for r in range(1800) if r % 6 in (0, 4)}
        # a merged run never spans rows outside the runs it narrows
        runs_in = [(0, 3), (5, 9), (20, 1800)]
        got, runs = rows("i", runs=runs_in, values=[3])
        inside = {r for a, b in runs_in for r in range(a, b)}
        assert {r for r in inside if r % 6 in (0, 4)} <= set(got) <= inside
        assert len(runs) == _NARROW_MAX_RUNS
