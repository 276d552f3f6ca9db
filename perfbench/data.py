"""Seeded benchmark inputs and their oracles, cached inside the checkout.

Generation is the load generator's work, not the program's, so it runs in
a spawned process before set-up is timed and is cached under
``.perfbench_cache`` keyed by (kind, seed, size) and a hash of this file and
of the engine's webtext generator: a changed generator never reuses stale
inputs.

* ``webtext_replay`` — ``sources.webtext.generate_webtext`` rows sorted by
  event time (a crawl log replayed in order), split into parquet files, plus
  a punctuation row on an unused url ``PUNCT_URL`` one hour after the last
  event, so the final watermark passes every row. Alongside: the closure
  oracle pairs from ``kernels.closure_pairs``.
* ``batch_tables`` — the four tables the 13 headline queries read
  (``events``, ``lineitem``, ``documents``, ``embeddings``), generated with
  the schema and value distributions of the repo's sf-scaled test tables
  (TESTDATA.md) from a fixed seed, plus the DuckDB ``oracle_sql()`` digest
  of every headline query.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile

import numpy as np
import pandas as pd

PUNCT_URL = "https://punctuation.invalid/"
TABLE_SEED = 42

_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]


def prepare(fn, *args):
    """Run ``fn(*args)`` in a child interpreter and return its JSON result,
    so the generator's memory never counts toward the driver's resident
    memory. The child has exited when this returns."""
    proc = subprocess.run([sys.executable, __file__, fn.__name__, json.dumps(args)],
                          stdout=subprocess.PIPE, text=True, check=True)
    return json.loads(proc.stdout.splitlines()[-1])


ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _file_hash(*paths: str) -> str:
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:10]


def _version() -> str:
    return _file_hash(__file__, os.path.join(
        ROOT, "statefulstreamprocessor_spark", "sources", "webtext.py"))


def _cached(cache: str, key: str, build) -> str:
    """Directory ``cache/key-<version>``; ``build(tmpdir)`` fills it once."""
    path = os.path.join(cache, f"{key}-{_version()}")
    if os.path.exists(os.path.join(path, "_DONE")):
        return path
    tmp = tempfile.mkdtemp(dir=cache, prefix=".build-")
    try:
        build(tmp)
        open(os.path.join(tmp, "_DONE"), "w").close()
        shutil.rmtree(path, ignore_errors=True)
        os.replace(tmp, path)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return path


# ------------------------------------------------------------------ webtext
def ts_us(col) -> np.ndarray:
    """Epoch microseconds of a timestamp column; naive values are UTC (the
    engine's session time zone)."""
    utc = pd.to_datetime(pd.Series(col), utc=True).dt.tz_convert(None)
    return utc.to_numpy().astype("datetime64[us]").astype(np.int64)


def closure_oracle(pdf: pd.DataFrame) -> pd.DataFrame:
    """Closure-join pairs (url, r_us, s_us) of a webtext frame."""
    from statefulstreamprocessor_spark.kernels import closure_pairs

    pdf = pdf[pdf["url"] != PUNCT_URL]
    ts = ts_us(pdf["warc_ts"])
    frames = []
    for url, idx in pdf.groupby("url", sort=True).indices.items():
        side = pdf["side"].to_numpy()[idx]
        rt = np.sort(ts[idx][side == "r"])
        st = np.sort(ts[idx][side == "s"])
        ri, si = closure_pairs(rt, st)
        if len(ri):
            frames.append(pd.DataFrame({"url": url, "r_us": rt[ri], "s_us": st[si]}))
    if not frames:
        return pd.DataFrame({"url": [], "r_us": [], "s_us": []})
    return pd.concat(frames, ignore_index=True)


def _punctuation(pdf: pd.DataFrame) -> pd.DataFrame:
    p = pdf.iloc[:1].copy()
    p["url"] = PUNCT_URL
    p["warc_ts"] = (pdf["warc_ts"].max() + pd.Timedelta(hours=1)).to_datetime64()
    p["warc_ts"] = p["warc_ts"].astype("datetime64[us]")
    return p


def webtext_replay(cache: str, seed: int, n_rows: int, n_files: int) -> str:
    """Input dir ``<path>/input`` (n_files parquet files) + ``oracle.parquet``
    + ``reference.parquet`` (url, ts_us, text of every input row)."""
    from statefulstreamprocessor_spark.sources.webtext import generate_webtext

    def build(tmp: str) -> None:
        pdf = generate_webtext(n_rows, seed=seed)
        pdf = pdf.sort_values("warc_ts", kind="stable").reset_index(drop=True)
        inp = os.path.join(tmp, "input")
        os.makedirs(inp)
        # split only between distinct event times: a row whose time equals
        # the watermark must arrive in the batch that advanced it
        ts = ts_us(pdf["warc_ts"])
        cuts = [int(np.searchsorted(ts, ts[min(len(ts) - 1, k * len(ts) // n_files)]))
                for k in range(1, n_files)]
        bounds = [0, *cuts, len(pdf)]
        for i in range(n_files):
            part = pdf.iloc[bounds[i]:bounds[i + 1]]
            if i == n_files - 1:
                part = pd.concat([part, _punctuation(pdf)], ignore_index=True)
            part.to_parquet(os.path.join(inp, f"part-{i:04d}.parquet"), index=False)
        closure_oracle(pdf).to_parquet(os.path.join(tmp, "oracle.parquet"), index=False)
        pd.DataFrame({"url": pdf["url"], "ts_us": ts, "text": pdf["text"]}).to_parquet(
            os.path.join(tmp, "reference.parquet"), index=False)

    return _cached(cache, f"webtext-s{seed}-n{n_rows}-f{n_files}", build)


def replay_inputs(cache: str, seed: int, n_rows: int, n_files: int, warmup_rows: int) -> list:
    """Timed replay input and the one-file warm-up input."""
    return [webtext_replay(cache, seed, n_rows, n_files),
            webtext_replay(cache, seed, warmup_rows, 1)]


# ------------------------------------------------------------- batch tables
def _events(rng: np.random.Generator, sf: float) -> pd.DataFrame:
    n = int(1_000_000 * sf)
    span_us = 30 * 86_400 * 1_000_000
    ts = np.unique(rng.integers(0, span_us, size=n + n // 10))
    ts = np.sort(rng.choice(ts, size=n, replace=False))
    start = np.datetime64("2024-01-01T00:00:00", "us")
    return pd.DataFrame({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": start + ts.astype("timedelta64[us]"),
        "user_id": rng.integers(0, max(int(15_000 * sf), 10), size=n, dtype=np.int64),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, size=n)],
        "value": np.round(rng.exponential(50.0, size=n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)],
    })


def _lineitem(rng: np.random.Generator, sf: float) -> pd.DataFrame:
    n = int(6_000_000 * sf)
    ship = np.datetime64("1995-01-01", "us") + (
        rng.integers(1, 2500, size=n) * 86_400_000_000).astype("timedelta64[us]")
    return pd.DataFrame({
        "l_orderkey": rng.integers(0, int(1_500_000 * sf), size=n, dtype=np.int64),
        "l_partkey": rng.integers(0, int(200_000 * sf), size=n, dtype=np.int64),
        "l_suppkey": rng.integers(0, int(10_000 * sf), size=n, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, size=n, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, size=n).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, size=n), 2),
        "l_discount": rng.integers(0, 11, size=n) / 100.0,
        "l_tax": rng.integers(0, 9, size=n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, size=n)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, size=n)],
        "l_shipdate": ship,
    })


def _documents(rng: np.random.Generator, sf: float) -> pd.DataFrame:
    n = int(50_000 * sf)
    vocab = np.array(_VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), size=rng.integers(10, 100))])
             for _ in range(n)]
    # 5% near duplicates (another document plus the word "dup"; a copy of
    # a near duplicate gets a second one), 0.16% exact copies
    for i in rng.choice(n, size=n // 20, replace=False):
        texts[i] = texts[(i + int(rng.integers(1, n))) % n] + " dup"
    for i in rng.choice(n, size=max(n // 625, 1), replace=False):
        texts[i] = texts[(i + int(rng.integers(1, n))) % n]
    ids = np.arange(n, dtype=np.int64)
    return pd.DataFrame({
        "doc_id": ids,
        "text": texts,
        "lang": rng.choice(_LANGS, size=n, p=_LANG_P),
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng: np.random.Generator, sf: float) -> pd.DataFrame:
    n, dim, k = int(20_000 * sf), 64, 10
    centers = rng.normal(size=(k, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    label = rng.integers(0, k, size=n).astype(np.int32)
    v = rng.normal(size=(n, dim)) + 0.56 * centers[label]
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pd.DataFrame({"vec_id": np.arange(n, dtype=np.int64),
                         "embedding": list(v), "label": label})


TABLES = {"events": _events, "lineitem": _lineitem,
          "documents": _documents, "embeddings": _embeddings}


def batch_tables(cache: str, sf: float) -> str:
    def build(tmp: str) -> None:
        for name, gen in TABLES.items():
            rng = np.random.Generator(np.random.PCG64([TABLE_SEED, hash_name(name)]))
            gen(rng, sf).to_parquet(os.path.join(tmp, f"{name}.parquet"), index=False)

    return _cached(cache, f"tables-sf{sf}", build)


def batch_inputs(cache: str, sf: float, names: list[str]) -> list:
    """The tables and the oracle digests of ``names``."""
    tables = batch_tables(cache, sf)
    return [tables, oracle_digests(tables, names)]


def hash_name(name: str) -> int:
    return int(hashlib.sha256(name.encode()).hexdigest()[:8], 16)


def oracle_digests(tables_dir: str, names: list[str]) -> dict[str, dict]:
    """DuckDB ``oracle_sql()`` digest per query, cached next to the tables
    and keyed by the hash of the files that define the oracle SQL and the
    canonicalization (``scripts/check_oracles.py``, imported).
    """
    key = _file_hash(os.path.join(ROOT, "__spark_entry__.py"),
                     os.path.join(ROOT, "scripts", "check_oracles.py"))
    path = os.path.join(tables_dir, f"oracle_digests-{key}.json")
    if os.path.exists(path):
        with open(path) as f:
            got = json.load(f)
        if all(n in got for n in names):
            return got
    import check_oracles
    import duckdb

    import __spark_entry__

    oracles = __spark_entry__.oracle_sql()

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{os.path.join(tables_dir, t)}.parquet'")
        out = {}
        for name in names:
            res = con.execute(oracles[name])
            cols = [d[0] for d in res.description]
            h, n = check_oracles.digest(cols, res.fetchall())
            out[name] = {"hash": h, "rows": n, "columns": sorted(cols)}
    finally:
        con.close()
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(out, f, indent=1)
    os.replace(tmp, path)
    return out


if __name__ == "__main__":
    sys.path[:0] = [ROOT, os.path.join(ROOT, "scripts")]
    print(json.dumps(globals()[sys.argv[1]](*json.loads(sys.argv[2]))))
