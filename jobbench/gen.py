"""Seeded input generator for the job benchmark.

Every table reproduces the harness star schema's physical parquet types
(the shapes the engine's queries and their DuckDB oracles are written
against) with values drawn from one numpy Generator seeded by the run's
seed: the same (seed, shape, GEN_VERSION) always yields byte-identical
files.

Inputs are cached under ``<checkout>/.bench_build/inputs/<key>`` and
published with a temp dir + ``rename``: a crashed or concurrent build can
never leave a directory at the final path that looks complete, because
the manifest is written inside the temp dir before the rename and the
rename of a directory onto an existing non-empty one fails instead of
replacing it. A cache hit is verified by regenerating every file in
memory and comparing digests with the manifest and with the bytes on
disk, so a hit costs about what a miss does and setup time does not
depend on which seeds earlier runs used.
"""
import hashlib
import io
import json
import os
import shutil
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

# Bump on any change to what a (seed, shape) generates.
GEN_VERSION = "1"

# Fact tables are split into this many files so a scan plans at least
# 2x the cores of a 4-core host.
FACT_FILES = 8
FACTS = ("lineitem", "orders", "events")

VOCAB = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
_RANK = {w: i for i, w in enumerate(VOCAB)}
LANGS = (("en", 0.41), ("zh", 0.15), ("es", 0.15), ("fr", 0.15), ("de", 0.14))

# Row counts per unit of scale follow the harness fixture (sf = scale).
PER_SF = {"customer": 150_000, "supplier": 10_000, "part": 200_000,
          "orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000}

# star: scale of the star schema; docs/vecs: corpus and embedding rows.
# lake adds CSV exports, a seed corpus and `batches` append batches.
SHAPES = {
    "curation_job": {"star": 0.01, "docs": 500, "vecs": 500},
    "lake_ingest": {"star": 0.005, "docs": 500, "vecs": 500,
                    "corpus": 1000, "batches": 4, "batch": 100,
                    "exact_dup": 0.10, "near_dup": 0.10},
}

ORACLE_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
                 "lineitem", "events", "documents", "embeddings")
CSV_TABLES = ("lineitem", "orders", "nation", "region", "supplier")


def _ts(rng, n, lo, hi):
    lo_d = np.datetime64(lo, "D")
    days = (np.datetime64(hi, "D") - lo_d).astype(int)
    return (lo_d + rng.integers(0, days + 1, n)).astype("datetime64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _choice(rng, values, n, p=None):
    return np.asarray(values, dtype=object)[
        rng.choice(len(values), n, p=p)]


def _docs(rng, ids, n_tok_lo=10, n_tok_hi=100):
    """Documents in the fixture's shape: uniform tokens over a small
    vocabulary, so shingle sets overlap the way the fixture's do."""
    n = len(ids)
    lens = rng.integers(n_tok_lo, n_tok_hi + 1, n)
    toks = rng.integers(0, len(VOCAB), int(lens.sum()))
    vocab = np.asarray(VOCAB, dtype=object)
    texts, off = [], 0
    for k in lens:
        texts.append(" ".join(vocab[toks[off:off + k]]))
        off += k
    return texts


def _near_copy(rng, text):
    """One token replaced (and a marker token appended): a near
    duplicate whose shingle Jaccard with the source stays above 0.5 for
    the >= 30-token sources it is drawn from."""
    toks = text.split()
    i = int(rng.integers(0, len(toks)))
    toks[i] = VOCAB[(_RANK.get(toks[i], 0) + 1) % len(VOCAB)]
    return " ".join(toks + ["dup"])


def _doc_table(rng, ids, texts):
    ids = np.asarray(ids, dtype=np.int64)
    langs, p = zip(*LANGS)
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(_choice(rng, langs, len(ids), p=p), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in ids], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def star_tables(rng, sf):
    n = {k: max(1, int(round(v * sf))) for k, v in PER_SF.items()}
    nc, ns, np_, no, nl, ne = (n["customer"], n["supplier"], n["part"],
                               n["orders"], n["lineitem"], n["events"])
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, nc, -999.99, 9999.99),
        "c_mktsegment": pa.array(_choice(rng, [
            "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
            nc), pa.string())})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, ns, -999.99, 9999.99)})
    adj = ["small", "red", "blue", "hot", "old", "large", "new", "cold"]
    noun = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
    pk = np.arange(np_)
    t["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": pa.array(_choice(rng, [f"{a} {b}" for a in adj
                                         for b in noun], np_), pa.string()),
        "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, np_)],
                            pa.string()),
        "p_type": pa.array(_choice(rng, ["ECONOMY", "LARGE", "MEDIUM",
                                         "PROMO", "SMALL", "STANDARD"], np_),
                           pa.string()),
        "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1)})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": pa.array(_choice(rng, ["F", "O", "P"], no),
                                  pa.string()),
        "o_totalprice": _money(rng, no, 1000.0, 500000.0),
        "o_orderdate": pa.array(_ts(rng, no, "1995-01-01", "2001-08-01"),
                                pa.timestamp("us")),
        "o_orderpriority": pa.array(_choice(rng, [
            "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            no), pa.string())})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, np_, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, nl, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": pa.array(_choice(rng, ["A", "N", "R"], nl),
                                 pa.string()),
        "l_linestatus": pa.array(_choice(rng, ["F", "O"], nl), pa.string()),
        "l_shipdate": pa.array(_ts(rng, nl, "1995-01-02", "2001-11-04"),
                               pa.timestamp("us"))})
    gaps = rng.exponential(1.0, ne)
    span_us = 30 * 86400 * 1_000_000
    offs = (np.cumsum(gaps) / gaps.sum() * (span_us - 1)).astype(np.int64)
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + offs,
                       pa.timestamp("us")),
        "user_id": pa.array(
            rng.integers(0, max(1, int(15_000 * sf)), ne), pa.int64()),
        "event_type": pa.array(_choice(rng, [
            "click", "error", "purchase", "signup", "view"], ne), pa.string()),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, ne), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    return t


def doc_tables(rng, n_docs, n_vecs):
    texts = _docs(rng, np.arange(n_docs))
    # 2% near duplicates of earlier long documents, so dedup queries
    # find pairs to report
    for i in range(1, n_docs):
        if rng.random() < 0.02:
            j = int(rng.integers(0, i))
            if len(texts[j].split()) >= 30:
                texts[i] = _near_copy(rng, texts[j])
    vec = rng.standard_normal((n_vecs, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    return {
        "documents": _doc_table(rng, np.arange(n_docs), texts),
        "embeddings": pa.table({
            "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32())}),
    }


def lake_tables(rng, shape):
    """Seed corpus plus append batches with a stated share of exact and
    near duplicates of corpus documents (new doc ids, same or one-token
    edited text); the rest is novel."""
    nc, k, b = shape["corpus"], shape["batches"], shape["batch"]
    corpus = _docs(rng, np.arange(nc), n_tok_lo=30)
    out = {"lake/corpus": _doc_table(rng, np.arange(nc), corpus)}
    n_exact = int(round(b * shape["exact_dup"]))
    n_near = int(round(b * shape["near_dup"]))
    for i in range(k):
        ids = nc + i * b + np.arange(b)
        src = rng.integers(0, nc, n_exact + n_near)
        texts = ([corpus[j] for j in src[:n_exact]] +
                 [_near_copy(rng, corpus[j]) for j in src[n_exact:]] +
                 _docs(rng, ids[n_exact + n_near:]))
        out[f"lake/batch_{i:02d}"] = _doc_table(rng, ids, texts)
    return out


def generate(seed, workload):
    """All files of one input set as {relative path: bytes}."""
    shape = SHAPES[workload]
    rng = np.random.default_rng([int(seed), 0x6a6f62])
    tables = star_tables(rng, shape["star"])
    tables.update(doc_tables(rng, shape["docs"], shape["vecs"]))
    if "corpus" in shape:
        tables.update(lake_tables(rng, shape))
    files = {}
    for name, tbl in tables.items():
        if name in FACTS:
            step = -(-tbl.num_rows // FACT_FILES)
            for p in range(FACT_FILES):
                files[f"{name}.parquet/part-{p:05d}.parquet"] = _parquet(
                    tbl.slice(p * step, step))
        else:
            files[f"{name}.parquet"] = _parquet(tbl)
    if "corpus" not in shape:
        # single-file copies of every table for the DuckDB oracle
        # (tools/check_oracle.py reads <dir>/<table>.parquet as one file)
        for name in ORACLE_TABLES:
            files[f"oracle/{name}.parquet"] = (
                files[f"{name}.parquet"] if name not in FACTS
                else _parquet(tables[name]))
    else:
        for name in CSV_TABLES:
            buf = io.BytesIO()
            tbl = tables[name]
            cols = [c.cast(pa.string()) if pa.types.is_timestamp(c.type)
                    else c for c in tbl.columns]
            pacsv.write_csv(pa.table(cols, names=tbl.column_names), buf)
            files[f"csv/{name}.csv"] = buf.getvalue()
    return files


def _parquet(tbl):
    sink = pa.BufferOutputStream()
    pq.write_table(tbl, sink)
    return sink.getvalue().to_pybytes()


def _sha(b):
    return hashlib.sha256(b).hexdigest()


def key(seed, workload):
    """Cache key: generator version, workload shape (scale and sizes)
    and seed."""
    shape = hashlib.sha256(json.dumps(SHAPES[workload], sort_keys=True)
                           .encode()).hexdigest()[:8]
    return f"v{GEN_VERSION}-{workload}-{shape}-seed{int(seed)}"


def ensure(cache_root, seed, workload):
    """Generate or verify the inputs of (seed, workload). Returns
    (input dir, "miss" | "hit", manifest)."""
    final = os.path.join(cache_root, key(seed, workload))
    files = generate(seed, workload)
    manifest = {"key": key(seed, workload),
                "files": {p: {"sha256": _sha(b), "bytes": len(b)}
                          for p, b in sorted(files.items())}}
    if os.path.isdir(final):
        _verify(final, manifest)
        return final, "hit", manifest
    os.makedirs(cache_root, exist_ok=True)
    tmp = os.path.join(cache_root, f".tmp-{uuid.uuid4().hex}")
    try:
        for path, data in files.items():
            full = os.path.join(tmp, path)
            os.makedirs(os.path.dirname(full), exist_ok=True)
            with open(full, "wb") as f:
                f.write(data)
        with open(os.path.join(tmp, "manifest.json"), "w") as f:
            json.dump(manifest, f, indent=1, sort_keys=True)
        try:
            os.rename(tmp, final)
        except OSError:
            if not os.path.isdir(final):
                raise
            # a concurrent build published first; use and verify its copy
            _verify(final, manifest)
            return final, "hit", manifest
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return final, "miss", manifest


def _verify(final, manifest):
    with open(os.path.join(final, "manifest.json")) as f:
        stored = json.load(f)
    if stored != manifest:
        raise RuntimeError(f"cached inputs {final} do not match what the "
                           f"generator produces for {manifest['key']}")
    for path, meta in manifest["files"].items():
        with open(os.path.join(final, path), "rb") as f:
            if _sha(f.read()) != meta["sha256"]:
                raise RuntimeError(f"cached input {final}/{path} is corrupt")


def input_bytes(manifest):
    return sum(m["bytes"] for m in manifest["files"].values())
