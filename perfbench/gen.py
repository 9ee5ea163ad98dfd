"""Seeded input generators for the benchmark.

Every input is a parquet file written with fixed writer options, so the same
seed gives the same bytes; `describe` records rows, bytes and a sha256 of
each file.
"""
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The vocabulary of the repository's `documents` test table.
VOCAB = ("query row stream the spark line small fast group customer batch sort "
         "value hash filter big data dup part column order scan a slow agg key "
         "window table merge vector join").split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]

DOCS_SCHEMA = pa.schema([
    ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
    ("source", pa.string()), ("n_chars", pa.int64())])
VEC_SCHEMA = pa.schema([
    ("vec_id", pa.int64()),
    ("embedding", pa.list_(pa.field("element", pa.float64(), nullable=False)))])
QUERY_SCHEMA = pa.schema([
    ("query_id", pa.int64()),
    ("query_vec", pa.list_(pa.field("element", pa.float64(), nullable=False)))])
TEXT_QUERY_SCHEMA = pa.schema([("query_id", pa.int64()), ("text", pa.string())])

STREAMS = {"ingest_search": 1, "curate": 2, "vectors": 3}


def _rng(seed, stream):
    return np.random.Generator(np.random.PCG64([seed, STREAMS[stream]]))


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _doc_text(rng, i, texts):
    """One document: random vocabulary words with sentence punctuation. A
    few documents are exact or near copies of earlier ones, carry an email,
    phone number or IPv4 address, or repeat one phrase, so that every curation
    gate has something to decide."""
    roll = rng.random()
    if i > 20 and roll < 0.03:
        return texts[int(rng.integers(0, i))]
    if i > 20 and roll < 0.06:
        words = texts[int(rng.integers(0, i))].split(" ")
        for _ in range(1 + int(rng.integers(0, 2))):
            words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        return " ".join(words)
    if roll < 0.08:
        phrase = " ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), 3))
        return " ".join([phrase] * int(rng.integers(6, 20)))
    n = int(rng.integers(8, 100))
    words = [VOCAB[j] for j in rng.integers(0, len(VOCAB), n)]
    for j in range(int(rng.integers(4, 12)), n, int(rng.integers(6, 14))):
        words[j] += "."
    if roll < 0.10:
        pii = ["contact user%d@example.com" % i, "call +1-555-%04d" % (i % 10000),
               "host 10.%d.%d.7" % (i % 250, i % 199)][int(rng.integers(0, 3))]
        words.insert(int(rng.integers(0, n)), pii)
    return " ".join(words)


def documents(seed, stream, n):
    rng = _rng(seed, stream)
    texts = []
    for i in range(n):
        texts.append(_doc_text(rng, i, texts))
    langs = rng.choice(len(LANGS), size=n, p=LANG_P)
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[j] for j in langs]),
        "source": pa.array(["src%d" % (i % 20) for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    }, schema=DOCS_SCHEMA)


def text_queries(seed, n):
    rng = np.random.Generator(np.random.PCG64([seed, 11]))
    qs = [" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), int(rng.integers(2, 5))))
          for _ in range(n)]
    return pa.table({"query_id": pa.array(np.arange(n, dtype=np.int64)),
                     "text": pa.array(qs)}, schema=TEXT_QUERY_SCHEMA)


def _list_array(mat):
    flat = pa.array(mat.reshape(-1), type=pa.float64())
    offsets = pa.array(np.arange(0, mat.size + 1, mat.shape[1], dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, flat, type=VEC_SCHEMA.field("embedding").type)


def _unit_rows(rng, m, dim):
    """`m` directions drawn uniformly on the unit sphere, rounded to float32
    precision."""
    x = rng.standard_normal((m, dim))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return x.astype(np.float32).astype(np.float64)


def vectors(seed, path, n, dim, n_queries, chunk=65536):
    """Vectors shaped like the repository's `embeddings` test table: unit
    length, float32 precision, no cluster structure (its labels explain none
    of the spread) and stored in id order. Written in row groups of `chunk`
    rows, so peak memory stays at one chunk. Returns the query table, drawn
    the same way."""
    rng = _rng(seed, "vectors")
    with pq.ParquetWriter(path, VEC_SCHEMA, compression="snappy") as w:
        for lo in range(0, n, chunk):
            m = min(chunk, n - lo)
            w.write_table(pa.table({
                "vec_id": pa.array(np.arange(lo, lo + m, dtype=np.int64)),
                "embedding": _list_array(_unit_rows(rng, m, dim))}, schema=VEC_SCHEMA))
    return pa.table({"query_id": pa.array(np.arange(n_queries, dtype=np.int64)),
                     "query_vec": _list_array(_unit_rows(rng, n_queries, dim))},
                    schema=QUERY_SCHEMA)


def describe(path):
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return {"file": os.path.basename(path),
            "rows": pq.ParquetFile(path).metadata.num_rows,
            "bytes": os.path.getsize(path), "sha256": h.hexdigest()}


def generate(workload, seed, out_dir, sizes):
    """Write the workload's inputs under `out_dir`; return their descriptions."""
    os.makedirs(out_dir, exist_ok=True)
    files = []
    if "docs" in sizes:
        n = sizes["docs"] + sizes.get("append_batch", 0) * sizes.get("appends", 0)
        _write(documents(seed, workload, n), os.path.join(out_dir, "documents.parquet"))
        files.append("documents.parquet")
    if "text_queries" in sizes:
        _write(text_queries(seed, sizes["text_queries"]), os.path.join(out_dir, "text_queries.parquet"))
        files.append("text_queries.parquet")
    if "vectors" in sizes:
        q = vectors(seed, os.path.join(out_dir, "vectors.parquet"), sizes["vectors"],
                    sizes["dim"], sizes["queries"])
        _write(q, os.path.join(out_dir, "queries.parquet"))
        files += ["vectors.parquet", "queries.parquet"]
    return [describe(os.path.join(out_dir, f)) for f in files]
