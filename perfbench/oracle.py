"""DuckDB replay of the curate queries' declared oracle SQL on the generated
corpus (once per corpus: results are cached), and the sink expectation
derived from the oracle's v6 keepers.

Rows and column types compare as in the repository's oracle gate
(``tools/oracle_check.py``, whose ``normalize`` and ``type_mismatches`` are
used here): columns sorted by name, floats rounded to 9 places, every cell
stringified, rows sorted; types folded to the classes the gate tells apart.
"""
import hashlib
import json
import os
import sys

import duckdb

import gen

sys.path.insert(0, os.path.join(os.getcwd(), "tools"))
from oracle_check import normalize, type_mismatches  # noqa: E402


def _oracle(corpus_path, sqls):
    """Every query's oracle rows, normalised, and column types, plus v6's
    keepers."""
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{corpus_path}')")
    out = {"queries": {}, "v6_keepers": []}
    for q, sql in sorted(sqls.items()):
        rel = con.sql(sql)
        cols, types, rows = list(rel.columns), [str(t) for t in rel.types], rel.fetchall()
        if q == "pipeline_clean_corpus_v6":
            out["v6_keepers"] = [{"doc_id": r["doc_id"], "clean_md5": r["clean_md5"]}
                                 for r in (dict(zip(cols, x)) for x in rows) if r["keep"]]
        ncols, nrows = normalize(rows, cols)
        out["queries"][q] = {"columns": cols, "types": types, "sorted_columns": ncols,
                             "rows": [list(r) for r in nrows]}
    con.close()
    return out


def oracle(corpus_path, sqls, cache_dir):
    """``_oracle``, run once per corpus and SQL text: the result is cached
    under ``cache_dir`` keyed by a digest of both."""
    h = hashlib.sha256()
    with open(corpus_path, "rb") as f:
        h.update(f.read())
    h.update(json.dumps(sqls, sort_keys=True).encode())
    path = os.path.join(cache_dir, h.hexdigest()[:32] + ".json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    out = _oracle(corpus_path, sqls)
    os.makedirs(cache_dir, exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump(out, f)
    os.replace(path + ".tmp", path)
    return out


def replay(corpus_path, query_rows, cache_dir):
    """Compare every query's Spark rows and column types with its oracle
    SQL's."""
    want = oracle(corpus_path, {q: v["oracle_sql"] for q, v in query_rows.items()}, cache_dir)
    out = {}
    for q, got in sorted(query_rows.items()):
        w = want["queries"][q]
        s_cols, s_norm = normalize(got["rows"], got["columns"])
        o_norm = [tuple(r) for r in w["rows"]]
        types = type_mismatches(got["types"], got["columns"], w["types"], w["columns"])
        if s_cols != w["sorted_columns"]:
            out[q] = (False, f"columns {s_cols} != {w['sorted_columns']}")
        elif types:
            out[q] = (False, f"column types (name, spark, oracle) differ: {types}")
        elif s_norm != o_norm:
            bad = [(x, y) for x, y in zip(s_norm, o_norm) if x != y]
            first = bad[0] if bad else None
            out[q] = (False, f"{len(s_norm)} vs {len(o_norm)} rows, {len(bad)} differ; first {first}")
        else:
            out[q] = (True, f"{len(s_norm)} rows")
    return {"queries": out, "v6_keepers": want["v6_keepers"]}


def keeper_expectation(keepers, batches, partitions):
    """Digest and object names of the keepers as the benchmark sinks them:
    doc_id order, ``batches`` contiguous batches, objects named
    ``corpus-{doc_id mod partitions}-{lowest doc_id in that group and
    batch}.gz``."""
    rows = sorted(keepers, key=lambda r: r["doc_id"])
    step = max(1, -(-len(rows) // batches))
    hs = gen.HashSum()
    names = set()
    for lo in range(0, len(rows), step):
        first = {}
        for r in rows[lo:lo + step]:
            p = r["doc_id"] % partitions
            hs.add("corpus", p, r["doc_id"], r["clean_md5"])
            first[p] = min(first.get(p, r["doc_id"]), r["doc_id"])
        names.update(f"corpus-{p}-{d}.gz" for p, d in first.items())
    return dict(hs.as_dict(), names=sorted(names))
