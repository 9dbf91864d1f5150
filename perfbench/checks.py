"""Correctness gates of the benchmark, one per workload.

Each gate takes the harness result and the recorded golden values and
returns (failed operations, attempted operations, problems). An operation
is a domain for crawl_jsonl (and its traced frontier leg) and a query for
curation_queries.
"""
import glob
import json
import os
import sys
from pathlib import Path


def canonical_domain(raw):
    """The canonical form of a seed line: trimmed, lower case, one trailing
    dot dropped, IDNA (punycode) labels; invalid IDNA stays lower case."""
    s = raw.strip().lower()
    if s.endswith(".") and len(s) > 1:
        s = s[:-1]
    if not s:
        return s
    try:
        return s.encode("idna").decode("ascii")
    except UnicodeError:
        return s


def frontier_errors(c, want):
    """Problems of one committed frontier crawl: invariants for any seed,
    plus the golden digest and crawled count when `want` is given."""
    errs = []
    if c["duplicate_domains"]:
        errs.append(f"{c['duplicate_domains']} duplicate domains")
    if c["rounds_with_rank_gaps"]:
        errs.append(f"{c['rounds_with_rank_gaps']} rounds with non-contiguous pop ranks")
    if c["output_rows"] != c["crawled"]:
        errs.append(f"{c['output_rows']} output rows for {c['crawled']} crawled")
    if want and (c["digest"], c["crawled"]) != (want["digest"], want["crawled"]):
        errs.append(f"digest/crawled {c['digest']}/{c['crawled']} != golden "
                    f"{want['digest']}/{want['crawled']}")
    return errs


def check_crawl_jsonl(res, golden):
    chk = res["check"]
    default_seed = res["seed"] == golden["seed"]
    with open(chk["input"], encoding="utf-8") as f:
        lines = [ln.strip() for ln in f if ln.strip()]
    parts = sorted(glob.glob(os.path.join(chk["output"], "part-*")))
    out = []
    for p in parts:
        with open(p, encoding="utf-8") as f:
            out.extend(f.read().splitlines())
    bad = max(0, len(out) - len(lines))
    for i, raw in enumerate(lines):
        try:
            ok = json.loads(out[i])["domain"] == canonical_domain(raw)
        except (IndexError, ValueError, KeyError, TypeError):
            ok = False
        bad += 0 if ok else 1
    bad = min(bad, len(lines))
    problems = [f"{bad} of {len(lines)} output lines fail the line check"] if bad else []

    iters = res["iterations"]
    ref = iters[0]["check"]["digest"]
    if default_seed and ref != golden["crawl_jsonl"]["digest"]:
        problems.append(f"output digest {ref} != golden {golden['crawl_jsonl']['digest']}")
        bad = len(lines)
    failed, attempted = 0, len(lines) * len(iters)
    for it in iters:
        if it["check"]["digest"] == ref:
            failed += bad
        else:
            failed += len(lines)
            problems.append(f"call output digest {it['check']['digest']} != {ref}")

    # the traced run's frontier leg
    if "frontier" in chk:
        c = chk["frontier"]
        want = golden["frontier_leg"] if default_seed else None
        errs = frontier_errors(c, want)
        attempted += max(c["crawled"], 1)
        failed += max(c["crawled"], 1) if errs else 0
        problems += [f"frontier leg: {e}" for e in errs]
    return failed, attempted, problems


def check_curation_queries(res, golden):
    import duckdb
    import pyarrow.parquet as pq
    # the repository's oracle-check hash, so that this gate and that check
    # cannot drift apart; prefixed with the row count
    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "scripts"))
    from oracle_check import table_hash

    def hashed(rows, cols):
        return f"{len(rows)}:{table_hash(rows, cols)}"

    chk = res["check"]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{chk['documents']}/*.parquet')")
    want = golden["curation_queries"] if res["seed"] == golden["seed"] else None
    problems = []
    for q, out in sorted(chk["outputs"].items()):
        tbl = pq.read_table(out)
        spark_hash = hashed([tuple(r[c] for c in tbl.column_names)
                             for r in tbl.to_pylist()], tbl.column_names)
        cur = con.execute(chk["oracle_sql"][q])
        oracle_hash = hashed(cur.fetchall(), [d[0] for d in cur.description])
        if spark_hash != oracle_hash:
            problems.append(f"{q}: {spark_hash} != DuckDB oracle {oracle_hash}")
        elif want and spark_hash != want[q]:
            problems.append(f"{q}: {spark_hash} != golden {want[q]}")
    n = len(res["iterations"])
    return len(problems) * n, len(chk["outputs"]) * n, problems


GATES = {
    "crawl_jsonl": check_crawl_jsonl,
    "curation_queries": check_curation_queries,
}
