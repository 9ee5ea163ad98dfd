"""Answer checks against DuckDB, run after the timed loop has ended.

Each check returns a list of (name, ok, detail); a failed check counts as a
failed operation. Scores are compared on the engine's 6-dp grid: two engines
may round a score that sits on a rounding boundary to neighbouring grid
points, so ranks may swap only between scores within TOL of each other.
"""
import re

import duckdb

TOL = 2.5e-6
K = 10

# The `local/hash-64` embedder in SQL: component i is the top 53 bits of the
# first 8 little-endian MD5 bytes of "i|blob", mapped to [-1, 1). Cosine is
# scale-invariant, so the L2 normalisation is skipped.
EMB_SQL = """list_transform(range(0, 64),
  i -> CAST(md5_number_upper(CAST(i AS VARCHAR) || '|' || {t}) >> 11 AS DOUBLE)
       / 9007199254740992.0 * 2 - 1)"""

CHUNK_SQL = """SELECT CAST(doc_id AS VARCHAR) || '-' || CAST(u.pos AS VARCHAR) AS id,
       doc_id, u.chunk AS chunk
FROM (SELECT doc_id, unnest(list_transform(
        range(0, CAST(ceil(length(text) / 128.0) AS BIGINT)),
        i -> {'pos': i, 'chunk': substr(text, CAST(i * 128 + 1 AS BIGINT), 128)})) AS u
      FROM documents WHERE length(text) > 0)"""


def connect(threads):
    con = duckdb.connect()
    con.execute("SET threads = %d" % threads)
    con.execute("SET enable_progress_bar = false")
    return con


def topk_ok(got_ids, got_scores, expected, n):
    """`expected` is the oracle's ranking (id, score), longer than `n` so
    that ties at the cut can be recognised."""
    if len(got_ids) != n or len(got_scores) != n or len(set(got_ids)) != n:
        return False, "got %d rows (%d distinct), expected %d" % (len(got_ids), len(set(got_ids)), n)
    exp = dict(expected)
    for i, (gid, gs) in enumerate(zip(got_ids, got_scores)):
        eid, es = expected[i]
        if abs(gs - es) > TOL:
            return False, "rank %d: score %.6f, expected %.6f" % (i + 1, gs, es)
        if gid != eid and (gid not in exp or abs(exp[gid] - gs) > TOL):
            return False, "rank %d: id %s, expected %s" % (i + 1, gid, eid)
    return True, ""


def check_quickstart(con, input_dir, answers):
    con.execute("CREATE OR REPLACE VIEW documents AS SELECT * FROM '%s/documents.parquet'" % input_dir)
    con.execute("CREATE OR REPLACE TABLE emb AS SELECT id, doc_id, %s AS v FROM (%s)"
                % (EMB_SQL.format(t="chunk"), CHUNK_SQL))
    out = []
    for a in answers:
        if a["kind"] == "count":
            want = con.execute("SELECT count(*) FROM emb WHERE doc_id < ?", [a["docs_upto"]]).fetchone()[0]
            out.append(("count@%d" % a["iteration"], a["count"] == want,
                        "" if a["count"] == want else "count %d, expected %d" % (a["count"], want)))
        elif a["kind"] == "query":
            rows = con.execute(
                "WITH q AS (SELECT %s AS qv) SELECT id, round(list_cosine_similarity(v, qv), 6) AS s "
                "FROM emb, q WHERE doc_id < ? ORDER BY s DESC, id ASC LIMIT %d"
                % (EMB_SQL.format(t="?"), K + 10), [a["query"], a["docs_upto"]]).fetchall()
            ok, why = topk_ok(a["ids"], a["scores"], rows, min(K, len(rows)))
            out.append(("query '%s'@%d" % (a["query"], a["docs_upto"]), ok, why))
    return out


def check_search(con, input_dir, answers, singles=4):
    """Sampled: the first `singles` single-vector answers and the first
    similarity-join batch, each ranked by a top-k scan of the vectors."""
    picked = [a for a in answers if a["kind"] == "single"][:singles]
    batches = [a for a in answers if a["kind"] == "batch"][:1]
    qids = sorted({a["qid"] for a in picked} | {q for b in batches for q in b["qids"]})
    if not qids:
        return []
    con.execute("CREATE OR REPLACE TABLE vecs AS SELECT 'v' || lpad(CAST(vec_id AS VARCHAR), 7, '0') AS id, "
                "embedding FROM '%s/vectors.parquet'" % input_dir)
    qvec = dict(con.execute("SELECT query_id, query_vec FROM '%s/queries.parquet'" % input_dir).fetchall())
    ranked = {qid: con.execute(
        "SELECT id, round(list_cosine_similarity(embedding, ?::DOUBLE[]), 6) AS s FROM vecs "
        "ORDER BY s DESC, id ASC LIMIT %d" % (K + 10), [qvec[qid]]).fetchall() for qid in qids}
    out = []
    for a in picked:
        ok, why = topk_ok(a["ids"], a["scores"], ranked[a["qid"]], K)
        out.append(("single q%d" % a["qid"], ok, why))
    for b in batches:
        for qid in b["qids"]:
            rows = [r for r in b["rows"] if r[0] == qid]
            ranks_ok = [r[1] for r in rows] == list(range(1, len(rows) + 1))
            ok, why = topk_ok([r[2] for r in rows], [r[3] for r in rows], ranked[qid], K)
            out.append(("batch q%d" % qid, ok and ranks_ok, why or ("" if ranks_ok else "ranks out of order")))
    return out


def _norm(v):
    if isinstance(v, bool) or v is None:
        return v
    if isinstance(v, (int, float)):
        return round(float(v), 6)
    return str(v)


def check_curate(con, input_dir, answers):
    con.execute("CREATE OR REPLACE VIEW documents AS SELECT * FROM '%s/documents.parquet'" % input_dir)
    out = []
    dec = next((a for a in answers if a["kind"] == "decisions"), None)
    if dec is None:
        return [("curate decisions", False, "no decision frame was recorded")]
    # every CTE materialised once: the oracle reads some CTEs several times,
    # and re-evaluating them (md5 per shingle) triples its run time
    sql = re.sub(r"(^|,)(\s*)(\w+) AS \(", r"\1\2\3 AS MATERIALIZED (", dec["oracle_sql"], flags=re.M)
    res = con.execute(sql)
    cols = [d[0] for d in res.description]
    want = res.fetchall()
    if sorted(cols) != sorted(dec["columns"]):
        out.append(("curate decisions", False, "columns %s, expected %s" % (dec["columns"], cols)))
        return out
    order = [dec["columns"].index(c) for c in cols]
    got = sorted(([_norm(r[j]) for j in order] for r in dec["rows"]), key=lambda r: str(r))
    exp = sorted(([_norm(x) for x in r] for r in want), key=lambda r: str(r))
    bad = next((i for i, (g, e) in enumerate(zip(got, exp)) if g != e), None)
    ok = len(got) == len(exp) and bad is None
    out.append(("curate decisions", ok, "" if ok else "%d rows vs %d; first mismatch %s vs %s" % (
        len(got), len(exp), got[bad] if bad is not None else None, exp[bad] if bad is not None else None)))
    man = next((a for a in answers if a["kind"] == "manifest"), None)
    if man is not None:
        m = man["json"]
        ki, si, shi = cols.index("kept"), cols.index("split"), cols.index("shard")
        train = [r for r in want if r[ki] and r[si] == "train"]
        want_shards = len({r[shi] for r in train})
        docs = sum(s["docs"] for s in m["shards"])
        ok = docs == len(train) and m["n_shards"] == want_shards
        out.append(("curate manifest", ok, "" if ok else "%d docs in %d shards, expected %d in %d" % (
            docs, m["n_shards"], len(train), want_shards)))
    return out


def check_ingest_search(con, input_dir, answers):
    return check_quickstart(con, input_dir, answers) + check_search(con, input_dir, answers)


CHECKS = {"ingest_search": check_ingest_search, "curate": check_curate}
