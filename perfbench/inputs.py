"""Seeded input generator, input manifest and oracle recount.

Each workload reads one generated input directory holding a lineitem-shaped
`lineitem.parquet` and a part-shaped `part.parquet`, in the column types of
the sf0.1 test tables. The expected verdict counts are computed here,
once per input and before any timing, by running the program's
`validate_verdicts` oracle SQL (plain ANSI SQL over l_orderkey/l_partkey) in
DuckDB: no graft code executes to produce them.

Inputs are cached by (workload input, seed, core count) under
`.bench_build/inputs`, so generation is paid once per seed.
"""

import json
import os
import shutil
import time

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# bump when the generated bytes or the manifest layout change
GEN_VERSION = 3

# sf0.1 shape: 150k order keys over 600k lines, 20k parts, 1000 suppliers
KEYS_PER_DOC = 0.25
N_PARTS = 20000

# The rule-trigger moduli of DocGen's injection table (ok % p == 0 breaks a
# rule). The dense mix draws a share of its order keys as multiples of one
# of them; 41 is left out because it fires only on odd part keys.
RULE_MODULI = np.array([89, 83, 79, 97, 73, 71, 67, 61, 59, 53, 47, 43],
                       dtype=np.int64)
DENSE_SHARE = 0.40

# name -> (docs, key mix, layout)
INPUTS = {
    "natural_600k": (600_000, "natural", "single"),
    "dense_300k": (300_000, "dense", "multi"),
}
# the stream replays the first STREAM_FILES * STREAM_DOCS rows of the
# single-file input, one file per micro-batch
STREAM_FILES = 4
STREAM_DOCS = 25_000

SCHEMA = pa.schema([
    ("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
    ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
    ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
    ("l_discount", pa.float64()), ("l_tax", pa.float64()),
    ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
    ("l_shipdate", pa.timestamp("us")),
])


def lineitem(seed, n, mix):
    rng = np.random.default_rng(seed)
    n_keys = int(n * KEYS_PER_DOC)
    ok = rng.integers(0, n_keys, n, dtype=np.int64)
    if mix == "dense":
        hit = rng.random(n) < DENSE_SHARE
        p = RULE_MODULI[rng.integers(0, len(RULE_MODULI), int(hit.sum()))]
        ok[hit] = p * (rng.random(len(p)) * (n_keys // p)).astype(np.int64)
    qty = rng.integers(1, 51, n).astype(np.float64)
    day0 = np.datetime64("1995-01-02", "us")
    ship = day0 + rng.integers(0, 2498, n).astype("timedelta64[D]")
    flags = np.array(["A", "N", "R"])
    status = np.array(["O", "F"])
    cols = [
        ok,
        rng.integers(0, N_PARTS, n, dtype=np.int64),
        rng.integers(0, 1000, n, dtype=np.int64),
        rng.integers(1, 8, n, dtype=np.int32),
        qty,
        np.round(qty * rng.uniform(900.0, 2100.0, n), 2),
        rng.integers(0, 11, n) / 100.0,
        rng.integers(0, 9, n) / 100.0,
        flags[rng.integers(0, 3, n)],
        status[rng.integers(0, 2, n)],
        ship,
    ]
    return pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, SCHEMA)], schema=SCHEMA)


def part(seed):
    rng = np.random.default_rng(seed + 1)
    words = np.array(["large", "hot", "blue", "ring", "bolt", "steel"])
    return pa.table({
        "p_partkey": np.arange(N_PARTS, dtype=np.int64),
        "p_name": words[rng.integers(0, len(words), N_PARTS)],
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, N_PARTS).astype(str)),
        "p_type": np.array(["LARGE", "ECONOMY", "SMALL"])[rng.integers(0, 3, N_PARTS)],
        "p_size": rng.integers(1, 51, N_PARTS, dtype=np.int32),
        "p_retailprice": np.round(900.0 + np.arange(N_PARTS) * 0.1, 2),
    })


def write_single(table, path):
    """One file, one row group: the sf0.1 layout that Tables.read fans out."""
    pq.write_table(table, path, row_group_size=table.num_rows)


def write_multi(table, path, n_files):
    """A directory of n_files files, so the scan splits without fan-out."""
    os.makedirs(path)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        write_single(table.slice(i * step, step), f"{path}/part-{i:05d}.parquet")


def parquet_files(path):
    if os.path.isdir(path):
        return sorted(os.path.join(path, f) for f in os.listdir(path)
                      if f.endswith(".parquet"))
    return [path]


def oracle_counts(files, oracle_sql):
    """Verdict-class counts and severity totals of the expected per-doc
    verdicts, from the program's own oracle SQL run in DuckDB."""
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        paths = ", ".join("'" + f.replace("'", "''") + "'" for f in files)
        con.execute(f"CREATE VIEW lineitem AS SELECT * FROM read_parquet([{paths}])")
        row = con.execute(f"""
            SELECT count(*),
              sum(CASE WHEN verdict = 'valid' THEN 1 ELSE 0 END),
              sum(CASE WHEN verdict = 'acceptable' THEN 1 ELSE 0 END),
              sum(CASE WHEN verdict = 'invalid' THEN 1 ELSE 0 END),
              sum(CASE WHEN verdict = 'rejected' THEN 1 ELSE 0 END),
              sum(n_fatal), sum(n_error), sum(n_warn), sum(n_info)
            FROM ({oracle_sql}) v""").fetchone()
        spans = con.execute("""
            SELECT avg(CASE WHEN l_orderkey % 71 = 0 THEN 0 ELSE
                3 + CAST(l_orderkey % 59 = 0 AS INT)
                  + 2 * CAST(l_orderkey % 47 = 0 AS INT) END)
            FROM lineitem""").fetchone()[0]
    finally:
        con.close()
    keys = ["n_docs", "n_valid", "n_acceptable", "n_invalid", "n_rejected",
            "n_fatal", "n_error", "n_warn", "n_info"]
    return dict(zip(keys, (int(v) for v in row))), float(spans)


def describe(files):
    meta = [pq.ParquetFile(f).metadata for f in files]
    return {
        "rows": sum(m.num_rows for m in meta),
        "files": len(files),
        "row_groups": sum(m.num_row_groups for m in meta),
        "bytes": sum(os.path.getsize(f) for f in files),
    }


def prune(root, keep):
    """Keep the `keep` most recently used inputs; generated data is large."""
    dirs = [os.path.join(root, d) for d in os.listdir(root)]
    dirs = [d for d in dirs if os.path.isdir(d)]
    dirs.sort(key=os.path.getmtime, reverse=True)
    for d in dirs[keep:]:
        shutil.rmtree(d, ignore_errors=True)


def ensure(root, name, seed, nproc, oracle_sql, keep=6):
    """Returns (input dir, manifest), generating the input on a cache miss."""
    n, mix, layout = INPUTS[name]
    d = os.path.join(root, f"{name}-s{seed}-c{nproc}")
    man_path = os.path.join(d, "manifest.json")
    if os.path.exists(man_path):
        with open(man_path) as f:
            man = json.load(f)
        if man.get("gen_version") == GEN_VERSION:
            os.utime(d)
            return d, man
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(root, exist_ok=True)
    prune(root, keep - 1)
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    t0 = time.time()
    li = lineitem(seed, n, mix)
    if layout == "single":
        write_single(li, f"{tmp}/lineitem.parquet")
        os.makedirs(f"{tmp}/stream")
        for i in range(STREAM_FILES):
            write_single(li.slice(i * STREAM_DOCS, STREAM_DOCS),
                         f"{tmp}/stream/batch-{i:02d}.parquet")
    else:
        # two files per core: with Spark's split sizing every file becomes
        # its own scan partition, so the scan has >= nproc partitions
        write_multi(li, f"{tmp}/lineitem.parquet", 2 * nproc)
    write_single(part(seed), f"{tmp}/part.parquet")
    gen_s = time.time() - t0
    files = parquet_files(f"{tmp}/lineitem.parquet")
    counts, spans = oracle_counts(files, oracle_sql)
    man = {
        "gen_version": GEN_VERSION,
        "input": name, "seed": seed, "mix": mix, "layout": layout,
        "lineitem": dict(describe(files), oracle=counts),
        "part": describe([f"{tmp}/part.parquet"]),
        "fired_frac": 1.0 - counts["n_valid"] / counts["n_docs"],
        "spans_per_doc": spans,
        "gen_s": gen_s,
        "oracle_s": time.time() - t0 - gen_s,
    }
    if layout == "single":
        stream = parquet_files(f"{tmp}/stream")
        man["stream"] = describe(stream)
        man["stream"]["oracle"] = oracle_counts(stream, oracle_sql)[0]
    with open(f"{tmp}/manifest.json", "w") as f:
        json.dump(man, f, indent=1)
    os.rename(tmp, d)
    return d, man
