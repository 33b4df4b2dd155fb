"""Self-test of the benchmark's load generator and output checks.

Run from the repository root: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import glob
import json
import os
import sys

import pyarrow.parquet as pq
import pytest

PERFBENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.dirname(PERFBENCH))
sys.path.insert(0, PERFBENCH)

import checks  # noqa: E402
import loadgen  # noqa: E402

TINY = 0.02  # input size multiplier for the self-test


def _files(d: str) -> dict[str, bytes]:
    out = {}
    for p in sorted(glob.glob(os.path.join(d, "*"))):
        with open(p, "rb") as f:
            out[os.path.basename(p)] = f.read()
    return out


@pytest.mark.parametrize("workload", loadgen.WORKLOADS)
def test_same_seed_reproduces_input_byte_for_byte(tmp_path, workload):
    a = loadgen.ensure(str(tmp_path / "a"), workload, 7, TINY, procs=2)
    b = loadgen.ensure(str(tmp_path / "b"), workload, 7, TINY, procs=1)
    assert _files(a) == _files(b)


def _keys(d: str, col: str) -> set:
    keys = set()
    for p in glob.glob(os.path.join(d, "*.parquet")):
        keys |= set(pq.read_table(p, columns=[col]).column(col).to_pylist())
    return keys


@pytest.mark.parametrize("workload", loadgen.WORKLOADS)
def test_two_seeds_give_disjoint_inputs(tmp_path, workload):
    col = "doc_id" if workload == "neardup_chain" else "conv_id"
    a = _keys(loadgen.ensure(str(tmp_path), workload, 1, TINY, procs=1), col)
    b = _keys(loadgen.ensure(str(tmp_path), workload, 2, TINY, procs=1), col)
    assert a and b and not (a & b)
    if workload == "neardup_chain":
        texts = [_keys(loadgen.cache_dir(str(tmp_path), workload, s, TINY), "text") for s in (1, 2)]
        assert not (texts[0] & texts[1])


def test_incremental_days_are_equal_and_whole(tmp_path):
    scale = loadgen.DAYS / loadgen.SIZES["pipeline_incremental"]  # one conversation a day
    d = loadgen.ensure(str(tmp_path), "pipeline_incremental", 3, scale, procs=1)
    meta = json.load(open(os.path.join(d, "expected.json")))
    assert len(meta["days"]) == loadgen.DAYS
    assert len({day["expected"]["rows"] for day in meta["days"]}) == 1
    for day in meta["days"]:
        ts = pq.read_table(os.path.join(d, day["file"]), columns=["ts"]).column("ts")
        assert {str(t.as_py().date()) for t in ts} == {day["day"]}


def test_union_find_keepers():
    rows = [
        (5, "b0", 1), (3, "b0", 1),  # 3-5 share a bucket
        (5, "b1", 2), (9, "b1", 2),  # 5-9: chain 3-5-9
        (7, "b0", 4),  # alone
        (8, "b1", None),  # NULL key: a node, never an edge
        (8, "b0", 4),  # 7-8
    ]
    assert checks.union_find_keepers(rows) == {3, 7}


@pytest.fixture(scope="module")
def spark():
    from illumio_spark.session import build_session

    s = build_session(app_name="perfbench-selftest", master="local[2]", shuffle_partitions=2)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def _write_back(table, path: str) -> None:
    """Rewrite a Spark-written parquet file; `ts` goes back as UTC micros
    so Spark still reads it as TimestampType."""
    import pyarrow as pa

    if "ts" in table.column_names:
        i = table.schema.get_field_index("ts")
        table = table.set_column(i, "ts", table.column("ts").cast(pa.timestamp("us", tz="UTC")))
    pq.write_table(table, path)


def _rewrite_first_file(directory: str, fn) -> None:
    """Rewrite the first non-empty data file, dropping its Hadoop .crc
    sidecar: the output is wrong, not unreadable."""
    files = sorted(glob.glob(os.path.join(directory, "*.parquet")))
    path = [p for p in files if pq.read_metadata(p).num_rows][0]
    _write_back(fn(pq.read_table(path)), path)
    crc = os.path.join(directory, f".{os.path.basename(path)}.crc")
    if os.path.exists(crc):
        os.remove(crc)


def test_corrupted_routed_row_is_caught(spark, tmp_path):
    import pyarrow as pa

    import run
    from illumio_spark.plans.pipeline import run_pipeline
    from illumio_spark.sources.tableio import TableIO

    data = loadgen.ensure(str(tmp_path / "cache"), "pipeline_batch", 5, TINY, procs=1)
    meta = json.load(open(os.path.join(data, "expected.json")))
    wl = run.PipelineBatch(spark, meta, data, str(tmp_path))
    io = TableIO(str(tmp_path / "tables"))
    run_pipeline(spark, spark.read.parquet(wl.path), io=io, run_id="r")
    assert wl.check(io, "r", meta["expected"]) == []

    def corrupt(t: pa.Table) -> pa.Table:
        texts = t.column("routed_text").to_pylist()
        texts[0] = texts[0] + "x"
        return t.set_column(t.schema.get_field_index("routed_text"), "routed_text",
                            pa.array(texts, pa.string()))

    _rewrite_first_file(str(tmp_path / "tables" / "pipeline_out" / "run_id=r" / "sink=routed_events"),
                        corrupt)
    bad = wl.check(io, "r", meta["expected"])
    assert any(b.startswith("routed_events:") for b in bad)
    # counts still agree: only the digest sees a changed byte
    assert not any(b.startswith("rollups") for b in bad)


def test_dropped_dead_letter_row_is_caught(spark, tmp_path):
    import run
    from illumio_spark.plans.pipeline import run_pipeline
    from illumio_spark.sources.tableio import TableIO

    data = loadgen.ensure(str(tmp_path / "cache"), "pipeline_batch", 6, TINY, procs=1)
    meta = json.load(open(os.path.join(data, "expected.json")))
    wl = run.PipelineBatch(spark, meta, data, str(tmp_path))
    io = TableIO(str(tmp_path / "tables"))
    run_pipeline(spark, spark.read.parquet(wl.path), io=io, run_id="r")
    sink = tmp_path / "tables" / "pipeline_out" / "run_id=r" / "sink=dead_letter"
    _rewrite_first_file(str(sink), lambda t: t.slice(1))
    assert any(b.startswith("dead_letter:") for b in wl.check(io, "r", meta["expected"]))


def test_planted_path_has_the_band_keys_spark_gives(spark, tmp_path):
    """loadgen's band keys equal band_signatures', and in Spark's band table
    the planted path's documents share buckets only with their neighbours."""
    from illumio_spark.operators.dedup import band_signatures

    data = loadgen.ensure(str(tmp_path / "cache"), "neardup_chain", 5, TINY, procs=1)
    corpus = os.path.join(data, "corpus.parquet")
    docs = {r["doc_id"]: r["text"] for r in pq.read_table(corpus).to_pylist()}
    got: dict = {}
    for r in band_signatures(spark.read.parquet(corpus)).collect():
        got.setdefault(r["doc_id"], set()).add((int(r["band_idx"][len("band"):]), r["band_key"]))
    assert got == {i: loadgen.band_keys(t.split()) for i, t in docs.items()}
    path = sorted(docs)[-loadgen.PATH_DOCS:]
    buckets: dict = {}
    for i in path:
        for k in got[i]:
            buckets.setdefault(k, []).append(i)
    pairs = sorted(tuple(m) for m in buckets.values() if len(m) > 1)
    assert pairs == list(zip(path, path[1:]))


def test_dropped_keeper_is_caught(spark, tmp_path):
    import run

    data = loadgen.ensure(str(tmp_path / "cache"), "neardup_chain", 5, TINY, procs=1)
    meta = json.load(open(os.path.join(data, "expected.json")))
    wl = run.NeardupChain(spark, meta, data, str(tmp_path))
    op = wl.op()
    assert op.mismatches == []
    assert 0 < wl.last_keepers < meta["rows"]  # the planted chains merge
    _rewrite_first_file(wl.out(wl.last_run), lambda t: t.slice(1))
    bad = wl.check(wl.last_run)
    assert bad and "1 missing" in bad[0]
