"""Output checks: the same order-independent digest computed two ways.

A sink's digest is (row count, sum of a 60-bit md5 prefix per row). The
row string joins the sink's columns with U+001F, writes NULL as U+0000 and
timestamps as epoch seconds. `rows_digest` computes it in Python over the
oracle's rows. `spark_digests` computes it in one Spark job over the sink
tables the program committed. The sum is order-independent, so partitioning
and file order do not matter, and any changed, dropped or extra row changes
it.

The near-dup check is a union-find over the collected band table: documents
sharing any (band_idx, band_key) bucket are one component, and the keeper
of a component is its minimum id.
"""

from __future__ import annotations

import hashlib

import pandas as pd

SEP = "\x1f"
NULL = "\x00"
DIGEST_HEX = 15  # 60 bits: a sum over 2^20 rows stays far below decimal(38)

SINK_COLUMNS = {
    "routed_events": [
        "conv_id", "turn_idx", "event_class", "event_type", "severity", "routed_text", "ts",
    ],
    "dead_letter": ["conv_id", "turn_idx", "raw_text", "error_reason", "ts"],
}


def _cell(v) -> str:
    if v is None or (not isinstance(v, str) and pd.isna(v)):
        return NULL
    if isinstance(v, pd.Timestamp):
        return str(v.value // 1_000_000_000)
    return str(v)


def rows_digest(pdf: pd.DataFrame, columns: list[str]) -> dict:
    total = 0
    for row in pdf[columns].itertuples(index=False, name=None):
        s = SEP.join(_cell(v) for v in row)
        total += int(hashlib.md5(s.encode("utf-8")).hexdigest()[:DIGEST_HEX], 16)
    return {"n": len(pdf), "sum": str(total)}


def merge_digests(parts: list[dict]) -> dict:
    return {"n": sum(p["n"] for p in parts), "sum": str(sum(int(p["sum"]) for p in parts))}


def oracle_digests(pdf: pd.DataFrame) -> dict:
    """{sink: digest} of the oracle's answer for one input frame."""
    from illumio_spark import oracle

    out = oracle.run(pdf)
    return {sink: rows_digest(out[sink], cols) for sink, cols in SINK_COLUMNS.items()}


def _row_hash_col(columns: list[str]):
    from pyspark.sql import functions as F

    cells = []
    for c in columns:
        v = F.col(c).cast("long") if c == "ts" else F.col(c)
        cells.append(F.coalesce(v.cast("string"), F.lit(NULL)))
    h = F.md5(F.concat_ws(SEP, *cells))
    return F.conv(F.substring(h, 1, DIGEST_HEX), 16, 10).cast("decimal(38,0)")


def sink_digest_frame(df, sink: str):
    """One-row (sink, n, sum) aggregate of a sink DataFrame."""
    from pyspark.sql import functions as F

    return df.agg(
        F.lit(sink).alias("sink"),
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(_row_hash_col(SINK_COLUMNS[sink])), F.lit(0).cast("decimal(38,0)"))
        .alias("sum"),
    )


def spark_digests(frames: dict) -> dict:
    """{sink: digest} for {sink: DataFrame}, in one Spark job."""
    it = iter(frames.items())
    sink, df = next(it)
    agg = sink_digest_frame(df, sink)
    for sink, df in it:
        agg = agg.unionByName(sink_digest_frame(df, sink))
    return {r["sink"]: {"n": int(r["n"]), "sum": str(int(r["sum"]))} for r in agg.collect()}


def pipeline_mismatches(got: dict, rollups: dict, expected: dict) -> list[str]:
    """Differences between committed sinks/rollups and the oracle's answer.

    `got` is spark_digests over the sinks, `rollups` maps sink → summed
    rollup n_rows, `expected` is the loadgen's oracle_digests."""
    bad = []
    for sink in SINK_COLUMNS:
        if got.get(sink) != expected[sink]:
            bad.append(f"{sink}: got {got.get(sink)} expected {expected[sink]}")
        if rollups.get(sink, 0) != expected[sink]["n"]:
            bad.append(f"rollups[{sink}]: got {rollups.get(sink, 0)} expected {expected[sink]['n']}")
    return bad


def union_find_keepers(band_rows) -> set:
    """Minimum id of every connected component of the band-bucket graph.

    `band_rows` iterates (doc_id, band_idx, band_key); rows with a NULL key
    still make their document a node, as in compact_neardup_frontier."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    bucket_first: dict = {}
    for doc, band_idx, band_key in band_rows:
        parent.setdefault(doc, doc)
        if band_key is None:
            continue
        first = bucket_first.setdefault((band_idx, band_key), doc)
        a, b = find(first), find(doc)
        if a != b:
            lo, hi = (a, b) if a < b else (b, a)
            parent[hi] = lo
    return {d for d in parent if find(d) == d}
