"""Seeded load generator: builds one workload's input tables and the
oracle's answer for them, and caches both per (workload, seed, scale).

Run as a script in its own process (`python3 perfbench/loadgen.py
--workload W --seed N --scale S --out DIR`), so the benchmark's driver
process never holds the generated frames and its peak RSS is the
program's. Generation and the oracle fan out over a small process pool.

Inputs:
  - transcripts come from `illumio_spark.synth`'s per-conversation
    generator. Seed N takes conversation indices from N * BLOCK upwards,
    so two seeds never share a conversation and one seed always rebuilds
    the same rows. The first is the hot conversation, holding HOT_FRAC of
    the pipeline turns.
  - pipeline_unicode rewrites a fixed share of those turns to carry the
    non-ASCII content of real transcripts, and raises the malformed share.
  - pipeline_incremental gives every conversation INCR_TURNS turns and
    deals the conversations round-robin onto DAYS event-days, so every day
    holds the same number of turns. It writes one file per day, so days
    can be revealed one at a time.
  - neardup_chain builds base documents in the measured shape of the
    sf0.1 documents table (see build_documents), replicates each one
    REPLICAS times in a chain (each replica is the previous one with a few
    words changed), and plants exact and near duplicates on top in
    BENCH/bench_sf1.docs_corpus's shares. Last comes one planted path of
    documents that fixes the CC round count (see _planted_path).

Every output is written to a temp dir and renamed into place, with
`expected.json` as the commit marker, so a cache entry is whole or absent.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import re
import shutil
import sys
import tempfile

import numpy as np
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

import checks  # noqa: E402

VERSION = 8  # bump when a generator below changes shape
BLOCK = 1_000_000  # conversation indices per seed
HOT_FRAC = 0.2  # share of pipeline turns in the one hot conversation
DAYS = 45  # event-days of the incremental table
INCR_TURNS = 13  # turns per incremental conversation, so every day is the same size
EPOCH = pd.Timestamp("2026-01-01")

# per workload at scale 1: turns outside the hot conversation (batch,
# unicode), conversations (incremental) or base documents (neardup)
SIZES = {
    "pipeline_batch": 43_000,
    "pipeline_unicode": 43_000,
    "pipeline_incremental": 900,
    "neardup_chain": 2000,
}
WORKLOADS = tuple(SIZES)

# -- pipeline_unicode --------------------------------------------------------
UNICODE_SHARE = 0.35  # turns rewritten with non-ASCII content
EXTRA_MALFORMED_SHARE = 0.05  # on top of synth's ~1%
UNICODE_WORDS = [
    "“quoted”", "em—dash", "数据", "東京", "naïve",
    "façade", "…", "‘tick’", "Ωmega", "한국어",
]
UNICODE_DIGITS = ["١٢", "٣", "１２", "४५", "๒"]
EDGE_SPACES = [" ", "　", " ", " ", " "]
UNICODE_MALFORMED = [
    "　",
    "   ",
    '{"event_type":"  ","severity":"高"}',
    "act=完了 sn=only",
    "“garbage” — text",
    '{"event_type":"user.login","severity":"wärn',
]
_NUM_FIELD = re.compile(r"(count|interval_sec)=(\d+)")

# -- neardup_chain -----------------------------------------------------------
# The sf0.1 documents table, measured: 5,000 docs; word counts uniform on
# 10..99; every word drawn uniformly from the 30 below (each 1.7-1.8% of
# the 270k words); 250 docs (5%) are another doc's text plus " dup".
DOC_WORDS = [
    "a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter",
    "group", "hash", "join", "key", "line", "merge", "order", "part", "query",
    "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
    "value", "vector", "window",
]
DOC_WORDS_MIN, DOC_WORDS_MAX = 10, 99
BASE_DUP_SHARE = 0.05  # base docs that copy another base doc plus " dup"
REPLICAS = 10
MUTATIONS = 2  # words changed per replica step
EXACT_DUP_SHARE = 0.005  # planted on top, as in bench_sf1.docs_corpus
NEAR_DUP_SHARE = 0.003
# A power of two, so every seed's ids share their low bytes: the keeper ids
# are written PLAIN and snappy-compressed, and with a decimal block their
# size varied by 30% between seeds.
DOC_ID_BLOCK = 1 << 24
# The CC loop runs until the slowest component has contracted. Replica
# chains alone need 3 or 4 rounds depending on the seed, which moved the
# operation time by about 15% between seeds. A simple path whose ids grow
# along it needs 4 rounds for any length from 10 to 17 documents, so with
# it every seed runs 4 rounds.
PATH_DOCS = 13
PATH_WORDS = 30
PATH_MUTATIONS = 3  # words replaced per step along the path


_M64 = (1 << 64) - 1
_P1, _P2, _P3, _P4, _P5 = (0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9,
                           0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5)


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round(acc: int, lane: int) -> int:
    return _rotl((acc + lane * _P2) & _M64, 31) * _P1 & _M64


def xxh64(data: bytes, seed: int) -> int:
    """XXH64 of `data` as an unsigned int; Spark's xxhash64 uses the same."""
    n, i, seed = len(data), 0, seed & _M64
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M64, (seed + _P2) & _M64, seed, (seed - _P1) & _M64]
        while i + 32 <= n:
            v = [_round(v[j], int.from_bytes(data[i + 8 * j:i + 8 * j + 8], "little"))
                 for j in range(4)]
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M64
        for x in v:
            h = ((h ^ _round(0, x)) * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        h ^= _round(0, int.from_bytes(data[i:i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        h ^= int.from_bytes(data[i:i + 4], "little") * _P1 & _M64
        h = (_rotl(h, 23) * _P2 + _P3) & _M64
        i += 4
    for b in data[i:]:
        h ^= b * _P5 & _M64
        h = _rotl(h, 11) * _P1 & _M64
    h = (h ^ (h >> 33)) * _P2 & _M64
    h = (h ^ (h >> 29)) * _P3 & _M64
    return h ^ (h >> 32)


def spark_xxhash64(*values: str | int) -> int:
    """F.xxhash64 over string and long values: each value's hash seeds the
    next, starting from 42."""
    h = 42
    for v in values:
        h = xxh64(v.encode() if isinstance(v, str) else (v & _M64).to_bytes(8, "little"), h)
    return h - (1 << 64) if h >> 63 else h


def band_keys(words: list[str]) -> set[tuple[int, int]]:
    """{(band, key)} of one document, as operators.dedup.band_signatures
    computes them: min-hashes of its 3-word shingles, banded."""
    from illumio_spark.operators.dedup import N_BANDS, N_MINHASH

    shingles = [" ".join(words[p:p + 3]) for p in range(len(words) - 2)]
    mh = [min(spark_xxhash64(f"s{i}-", s) for s in shingles) for i in range(N_MINHASH)]
    rows = N_MINHASH // N_BANDS
    return {(b, spark_xxhash64(*mh[b * rows:(b + 1) * rows])) for b in range(N_BANDS)}


def _rng(*key: int) -> np.random.Generator:
    return np.random.Generator(np.random.PCG64([VERSION, *key]))


def conv_indices(seed: int, n_conv: int) -> range:
    start = seed * BLOCK
    return range(start, start + n_conv)


def batch_indices(seed: int, turns: int) -> range:
    """The seed's hot conversation, then as many conversations as it takes
    to reach `turns` turns, so every seed's input is the same size (synth's
    zipf turn counts would otherwise move it by ±10%)."""
    from illumio_spark import synth

    start = seed * BLOCK
    idx, total = start + 1, 0
    while total < turns:
        total += synth._n_turns(synth._conv_rng(idx))  # the generator's first draw
        idx += 1
    return range(start, idx)


def _json_object(t: str) -> dict | None:
    try:
        obj = json.loads(t)
    except ValueError:
        return None
    return obj if isinstance(obj, dict) else None


def _unicode_turns(pdf: pd.DataFrame, seed: int, conv_idx: int) -> pd.DataFrame:
    rng = _rng(seed, conv_idx, 1)
    texts = pdf["text"].tolist()
    for i, t in enumerate(texts):
        u = rng.random()
        if u < EXTRA_MALFORMED_SHARE:
            texts[i] = UNICODE_MALFORMED[int(rng.integers(len(UNICODE_MALFORMED)))]
            continue
        if u >= EXTRA_MALFORMED_SHARE + UNICODE_SHARE or not t or not t.strip():
            continue
        kind = int(rng.integers(4))
        obj = _json_object(t)
        if obj is not None:
            obj["action"] = f"{obj.get('action', '')}{UNICODE_WORDS[int(rng.integers(len(UNICODE_WORDS)))]}"
            obj.setdefault("labels", {})["zone"] = UNICODE_WORDS[int(rng.integers(len(UNICODE_WORDS)))]
            t = json.dumps(obj, ensure_ascii=False, separators=(",", ":"))
        elif t.startswith("act="):
            if kind == 0:
                digits = UNICODE_DIGITS[int(rng.integers(len(UNICODE_DIGITS)))]
                t = _NUM_FIELD.sub(lambda m: f"{m.group(1)}={digits}", t, count=1)
            words = [UNICODE_WORDS[int(w)] for w in rng.integers(0, len(UNICODE_WORDS), 3)]
            t = f"{t} {' '.join(words)}"
        if kind == 1:
            t = t + EDGE_SPACES[int(rng.integers(len(EDGE_SPACES)))]
        elif kind == 2:
            t = EDGE_SPACES[int(rng.integers(len(EDGE_SPACES)))] + t
        texts[i] = t
    pdf["text"] = texts
    return pdf


def _retime(pdf: pd.DataFrame, day: int) -> pd.DataFrame:
    """Move a conversation onto event-day `day`, keeping its turn gaps.
    It starts before 20:00, so its INCR_TURNS turns (at most 5 min apart)
    end the same day."""
    ts = pdf["ts"]
    start = ts.iloc[0]
    into_day = (start - start.normalize()) % pd.Timedelta(hours=20)
    pdf["ts"] = (ts - start + into_day + EPOCH + pd.Timedelta(days=day)).astype(
        "datetime64[us]"
    )
    return pdf


def _transcript_chunk(args) -> tuple[pd.DataFrame, dict]:
    """Generate conversations and the oracle's answer for them. For the
    incremental workload the answer is kept per event-day."""
    from illumio_spark import synth

    workload, seed, idxs, size = args
    blocks = []
    first = seed * BLOCK  # the seed's first conversation; the hot one
    for idx in idxs:
        if workload == "pipeline_incremental":
            pdf = _retime(synth._gen_conversation(idx, INCR_TURNS), (idx - first) % DAYS)
        elif idx == first:
            pdf = synth._gen_conversation(idx, int(size * HOT_FRAC / (1 - HOT_FRAC)))
        else:
            pdf = synth._gen_conversation(idx)
        if workload == "pipeline_unicode":
            pdf = _unicode_turns(pdf, seed, idx)
        blocks.append(pdf)
    pdf = pd.concat(blocks, ignore_index=True)
    nonascii = int(pdf["text"].fillna("").str.contains(r"[^\x00-\x1b\x20-\x7f]").sum())
    if workload == "pipeline_incremental":
        day = pdf["ts"].dt.strftime("%Y-%m-%d")
        exp = {d: checks.oracle_digests(g.drop(columns="day")) | {"rows": len(g)}
               for d, g in pdf.assign(day=day).groupby("day")}
    else:
        exp = checks.oracle_digests(pdf) | {"rows": len(pdf)}
    return pdf, {"expected": exp, "nonascii": nonascii}


def _merge(parts: list[dict]) -> dict:
    out = {sink: checks.merge_digests([p[sink] for p in parts]) for sink in checks.SINK_COLUMNS}
    out["rows"] = sum(p["rows"] for p in parts)
    return out


def _write_transcripts(pdf: pd.DataFrame, path: str) -> None:
    """Parquet with UTC-adjusted timestamps, so Spark reads `ts` as the
    pipeline's TimestampType."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pdf = pdf.assign(ts=pdf["ts"].dt.tz_localize("UTC"))
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path)


def _chunks(seq, n: int) -> list:
    seq = list(seq)
    step = max(1, -(-len(seq) // n))
    return [seq[i:i + step] for i in range(0, len(seq), step)]


def _pool_map(fn, jobs: list, procs: int) -> list:
    if procs <= 1 or len(jobs) <= 1:
        return [fn(j) for j in jobs]
    import multiprocessing as mp

    with mp.get_context("spawn").Pool(procs) as pool:
        return pool.map(fn, jobs, chunksize=1)


def build_transcripts(workload: str, seed: int, size: int, out: str, procs: int) -> dict:
    if workload == "pipeline_incremental":
        idxs = conv_indices(seed, size)
    else:
        idxs = batch_indices(seed, size)
    # the hot conversation sits alone in the first job so it overlaps the rest
    jobs = [[idxs[0]]] + _chunks(idxs[1:], 4 * procs)
    res = _pool_map(_transcript_chunk, [(workload, seed, j, size) for j in jobs], procs)
    pdf = pd.concat([r[0] for r in res], ignore_index=True)
    meta = {
        "workload": workload,
        "seed": seed,
        "rows": len(pdf),
        "conversations": len(idxs),
        "nonascii_share": sum(r[1]["nonascii"] for r in res) / max(len(pdf), 1),
    }
    if workload == "pipeline_incremental":
        day = pdf["ts"].dt.strftime("%Y-%m-%d")
        days = sorted(day.unique())
        meta["days"] = []
        for d in days:
            fname = f"day_{d}.parquet"
            _write_transcripts(pdf[day == d].reset_index(drop=True), os.path.join(out, fname))
            parts = [r[1]["expected"][d] for r in res if d in r[1]["expected"]]
            meta["days"].append({"day": d, "file": fname, "expected": _merge(parts)})
    else:
        _write_transcripts(pdf, os.path.join(out, "input.parquet"))
        meta["file"] = "input.parquet"
        meta["expected"] = _merge([r[1]["expected"] for r in res])
    return meta


def _planted_path(seed: int) -> list[str]:
    """PATH_DOCS texts, each sharing exactly one band with the one before it
    and none with any earlier one, so their star edges form a simple path.
    Their words are tokens no other document has, so nothing else joins
    the path."""
    rng = _rng(seed, 4)
    fresh = (f"p{seed}t{k}" for k in itertools.count())
    docs = [[next(fresh) for _ in range(PATH_WORDS)]]
    keys = [band_keys(docs[0])]
    while len(docs) < PATH_DOCS:
        cand = list(docs[-1])
        for pos in rng.choice(PATH_WORDS, PATH_MUTATIONS, replace=False):
            cand[int(pos)] = next(fresh)
        k = band_keys(cand)
        if len(k & keys[-1]) == 1 and not any(k & old for old in keys[:-1]):
            docs.append(cand)
            keys.append(k)
    return [" ".join(d) for d in docs]


def build_documents(seed: int, n_base: int, out: str) -> dict:
    """Replica chains of sf0.1-shaped documents plus planted duplicates.

    bench_sf1.docs_corpus varies a replica by appending " variant-r", so
    every replica joins its base doc in one shallow star. Here replica r
    is replica r-1 with MUTATIONS words replaced by seed-specific tokens,
    so a family is a chain whose far ends share few bands: the CC rounds
    that the chain's depth drives are what this workload measures. The
    tokens also keep two seeds' replicas apart."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = _rng(seed, 3)
    vocab = np.array(DOC_WORDS, dtype=object)
    lengths = rng.integers(DOC_WORDS_MIN, DOC_WORDS_MAX + 1, n_base)
    base = [list(vocab[rng.integers(0, len(vocab), int(n))]) for n in lengths]
    for b in rng.choice(n_base, int(n_base * BASE_DUP_SHARE), replace=False):
        base[int(b)] = base[int(rng.integers(n_base))] + ["dup"]
    ids, texts = [], []
    base_id = seed * DOC_ID_BLOCK
    for b, words in enumerate(base):
        words = list(words)
        for r in range(REPLICAS):
            if r:
                for pos in rng.integers(0, len(words), MUTATIONS):
                    words[int(pos)] = f"v{seed}r{r}w{int(rng.integers(1000))}"
            ids.append(base_id + r * n_base + b)
            texts.append(" ".join(words))
    n = len(ids)
    pick = rng.permutation(n)
    n_exact, n_near = int(n * EXACT_DUP_SHARE), int(n * NEAR_DUP_SHARE)
    next_id = base_id + REPLICAS * n_base
    for k, i in enumerate(pick[:n_exact]):
        ids.append(next_id + k)
        texts.append(texts[int(i)])
    next_id += n_exact
    for k, i in enumerate(pick[n_exact:n_exact + n_near]):
        ids.append(next_id + k)
        texts.append(texts[int(i)] + " trailing near dup suffix")
    next_id += n_near
    for k, t in enumerate(_planted_path(seed)):  # ids grow along the path
        ids.append(next_id + k)
        texts.append(t)
    table = pa.table({"doc_id": pa.array(ids, pa.int64()), "text": pa.array(texts, pa.string())})
    pq.write_table(table, os.path.join(out, "corpus.parquet"))
    return {
        "workload": "neardup_chain",
        "seed": seed,
        "rows": len(ids),
        "base_docs": n_base,
        "replicas": REPLICAS,
        "path_docs": PATH_DOCS,
        "file": "corpus.parquet",
    }


def build(workload: str, seed: int, scale: float, out: str, procs: int) -> dict:
    n = max(int(SIZES[workload] * scale), 2)
    if workload == "neardup_chain":
        return build_documents(seed, n, out)
    return build_transcripts(workload, seed, n, out, procs)


def cache_dir(root: str, workload: str, seed: int, scale: float) -> str:
    return os.path.join(root, f"{workload}-v{VERSION}-seed{seed}-x{scale:g}")


def ensure(root: str, workload: str, seed: int, scale: float, procs: int = 4) -> str:
    """Build the cache entry unless it exists; returns its directory."""
    final = cache_dir(root, workload, seed, scale)
    if os.path.exists(os.path.join(final, "expected.json")):
        return final
    os.makedirs(root, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=".building-", dir=root)
    try:
        meta = build(workload, seed, scale, tmp, procs)
        with open(os.path.join(tmp, "expected.json"), "w") as f:
            json.dump(meta, f, indent=1, sort_keys=True)
        shutil.rmtree(final, ignore_errors=True)
        os.replace(tmp, final)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return final


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--scale", type=float, default=1.0)
    ap.add_argument("--out", required=True, help="cache root")
    a = ap.parse_args()
    print(ensure(a.out, a.workload, a.seed, a.scale))


if __name__ == "__main__":
    main()
