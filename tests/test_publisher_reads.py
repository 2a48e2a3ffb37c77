"""Publisher reads in one shared session: cached footer schemas,
per-call SQL views, and no per-read growth of session tables or temp
dirs (the deployment shape of a dashboard backend serving concurrent
clients, RT/gmall-publisher SugarController.java:30-73)."""

from __future__ import annotations

import contextlib
import importlib.util
import io
import os
import tempfile
import threading
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql.conf import RuntimeConfig

from gmall_realtime_flink_spark import catalog, session
from gmall_realtime_flink_spark.plans import REGISTRY

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _generate(out: str, seed: int) -> str:
    path = os.path.join(ROOT, "tools", "gen_testdata.py")
    spec = importlib.util.spec_from_file_location("gen_testdata", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    with contextlib.redirect_stdout(io.StringIO()):
        mod.generate(0.001, out, seed=seed)
    return out


def _rows(spark, entry: str, corpus: str) -> list[tuple]:
    df = REGISTRY[entry].builder(spark, corpus)
    return sorted(tuple(r) for r in df.collect())


def test_parquet_schema_is_probed_once_per_file_version(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": pa.array([1, 2], pa.int64())}), path)
    first = catalog.parquet_schema(spark, path)
    assert catalog.parquet_schema(spark, path) is first
    entries = len(catalog._SCHEMAS)

    # a rewritten file (new size and mtime) is probed again
    pq.write_table(
        pa.table({"a": pa.array([1], pa.int64()), "b": pa.array(["x"])}),
        path,
    )
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    assert catalog.parquet_schema(spark, path).fieldNames() == ["a", "b"]
    # ... and its entry replaces the old version's, so a rewritten
    # table does not grow the cache
    assert len(catalog._SCHEMAS) == entries


def test_g1_region_flag_only_below_an_8g_heap():
    # G1 picks regions of 4 MB or more from an 8 GB heap on; the flag
    # would shrink them there
    assert session.g1_region_option("1g") == "-XX:G1HeapRegionSize=4m"
    assert session.g1_region_option("4096m") == "-XX:G1HeapRegionSize=4m"
    assert session.g1_region_option("7g") == "-XX:G1HeapRegionSize=4m"
    for big in ("8g", "16g", "64G", "8192", "1t"):
        assert session.g1_region_option(big) is None, big
    assert session.heap_mb("2gb") == 2048
    assert session.heap_mb("512") == 512
    assert session.heap_mb("one gig") is None


def test_load_sets_nanos_as_long_only_when_missing(spark, sf_dir, monkeypatch):
    key = catalog.NANOS_AS_LONG
    try:
        # a session built elsewhere, without the conf: load sets it
        spark.conf.set(key, "false")
        assert catalog.load(spark, sf_dir, "events").count() > 0
        assert spark.conf.get(key) == "true"

        # a configured session is only read, never written
        def no_set(self, k, v):
            raise AssertionError(f"conf.set({k!r}) on a configured session")

        monkeypatch.setattr(RuntimeConfig, "set", no_set)
        assert dict(catalog.load(spark, sf_dir, "events").dtypes)["ts"] == (
            "timestamp"
        )
    finally:
        monkeypatch.undo()
        spark.conf.set(key, "true")


def test_concurrent_sql_reads_resolve_their_own_corpus(spark, tmp_path):
    """Two clients read the SQL publisher entries over two different
    corpora at once; each must get exactly its single-threaded result,
    and no view may outlive a read. Session-wide temp views named after
    the tables would let one client's query resolve the other's."""
    corpora = [
        _generate(str(tmp_path / "a"), seed=1),
        _generate(str(tmp_path / "b"), seed=2),
    ]
    entries = ("province_stats_sql", "keyword_stats_sql")
    want = {(c, e): _rows(spark, e, c) for c in corpora for e in entries}
    for e in entries:
        assert want[(corpora[0], e)] != want[(corpora[1], e)], e

    tables = {t.name for t in spark.catalog.listTables()}
    barrier = threading.Barrier(len(corpora))
    got: dict[tuple, list] = {}
    errors: list[BaseException] = []

    def client(corpus: str) -> None:
        try:
            barrier.wait()
            for _ in range(3):
                for e in entries:
                    got.setdefault((corpus, e), []).append(
                        _rows(spark, e, corpus)
                    )
        except BaseException as exc:  # re-raised in the test thread
            errors.append(exc)

    threads = [threading.Thread(target=client, args=(c,)) for c in corpora]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    assert {t.name for t in spark.catalog.listTables()} == tables
    for key, results in got.items():
        assert len(results) == 3
        for r in results:
            assert r == want[key], f"{key} resolved another corpus's tables"


def _route_config_reload(spark, sf_dir, tmp_path) -> int:
    """streaming_route_config_reload over events and a config kept
    outside the watched temp dir; returns the routed row count."""
    from gmall_realtime_flink_spark.streaming import jobs

    inputs = tmp_path / "route_inputs"
    if not inputs.exists():
        (inputs / "events").mkdir(parents=True)
        os.symlink(
            os.path.abspath(os.path.join(sf_dir, "events.parquet")),
            inputs / "events" / "part-000.parquet",
        )
        spark.createDataFrame(
            [("view", "insert", "dwd_page_log", "k")],
            ["source_table", "operate_type", "sink_table", "sink_columns"],
        ).write.parquet(str(inputs / "config"))
    out = str(tmp_path / "routed" / uuid.uuid4().hex)
    jobs.streaming_route_config_reload(
        spark, str(inputs / "events"), str(inputs / "config"), out
    )
    return spark.read.parquet(out).count()


def _reader(entry: str):
    if entry == "streaming_route_config_reload":
        return _route_config_reload
    return lambda spark, sf_dir, _: REGISTRY[entry].builder(spark, sf_dir).count()


@pytest.mark.parametrize(
    "entries, reads",
    [
        (("streaming_unique_visit", "streaming_uv_dropdup"), 200),
        (
            ("streaming_cdc_route", "streaming_route_config_reload"),
            10,
        ),
    ],
    ids=["memory_sink", "file_sinks"],
)
def test_repeated_streaming_reads_leave_no_tables_or_temp_dirs(
    spark, sf_dir, tmp_path, monkeypatch, entries, reads
):
    """Repeated streaming_* reads: each stages its input, checkpoints
    and fills a memory or file sink, and none of it may outlive the
    read — the session's table list and the temp-dir count stay flat."""
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp))
    tables = {t.name for t in spark.catalog.listTables()}
    for i in range(reads):
        entry = entries[i % len(entries)]
        assert _reader(entry)(spark, sf_dir, tmp_path) > 0
        assert os.listdir(tmp) == [], (i, entry)
        assert {t.name for t in spark.catalog.listTables()} == tables
