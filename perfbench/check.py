"""Independent correctness checks of one benchmark run, in DuckDB.

The reference is a fold of the staged change events: per doc_id the
max-LSN *valid* event (the engine's validation rules), deletes dropped.

    python3 perfbench/check.py <workload> <stage_dir> <run_out_dir>

prints one JSON object: {"checks": n, "failed": n, "problems": [...]}.
`checks` counts the whole-run checks (final state, error rows, near-dup
flags); `failed` counts failed checks plus every lookup and scan whose
result differs from the reference (each such read is a failed operation)."""
import json
import os
import sys

import duckdb

VALID = ("doc_id IS NOT NULL AND op IN ('I', 'U', 'D') AND (op = 'D' OR "
         "(tokens IS NOT NULL AND NOT (n_tok IS NOT NULL AND n_tok <> len(tokens))))")


def _events(con, workload, stage):
    batches = os.path.join(stage, "batches", "batch-*", "*.parquet")
    sql = (f"SELECT lsn, op, doc_id, tokens, n_tok, coalesce(source, 'unknown') AS source, "
           f"cast(regexp_extract(filename, 'batch-([0-9]+)', 1) AS int) AS b "
           f"FROM read_parquet('{batches}', filename = true)")
    if workload == "trickle_mor":
        with open(os.path.join(stage, "base")) as f:
            base = os.path.join(f.read().strip(), "base_events", "*.parquet")
        sql += (f" UNION ALL SELECT lsn, op, doc_id, tokens, n_tok, "
                f"coalesce(source, 'unknown'), -1 FROM read_parquet('{base}')")
    con.execute(f"CREATE TABLE evs AS {sql}")
    con.execute(f"CREATE VIEW valid AS SELECT * FROM evs WHERE {VALID}")


def _live(upto, keys=None):
    """Reference live rows after batch `upto` (optionally only `keys`)."""
    where = f"b <= {int(upto)}"
    if keys is not None:
        where += " AND doc_id IN (SELECT k FROM keys)"
    return (f"SELECT doc_id, tokens, n_tok, source FROM ("
            f"SELECT doc_id, arg_max(op, lsn) AS op, arg_max(tokens, lsn) AS tokens, "
            f"arg_max(n_tok, lsn) AS n_tok, arg_max(source, lsn) AS source "
            f"FROM valid WHERE {where} GROUP BY doc_id) WHERE op <> 'D'")


def read_jsonl(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def _rowkey(doc_id, tokens, n_tok, source):
    return (doc_id, tuple(tokens) if tokens is not None else None,
            int(n_tok) if n_tok is not None else None, source)


def check(workload, stage, out):
    con = duckdb.connect()
    _events(con, workload, stage)
    last = con.execute("SELECT max(b) FROM evs").fetchone()[0]
    checks, failed, problems = 0, 0, []

    def problem(n, msg):
        nonlocal failed
        failed += n
        problems.append(msg)

    # 1. final live view == reference fold of every staged event
    checks += 1
    final = os.path.join(out, "final_state", "*.parquet")
    con.execute(f"CREATE VIEW eng AS SELECT doc_id, tokens, cast(n_tok AS bigint) AS n_tok, "
                f"source FROM read_parquet('{final}')")
    con.execute(f"CREATE VIEW ref AS {_live(last)}")
    diff = con.execute(
        "SELECT (SELECT count(*) FROM (SELECT * FROM eng EXCEPT ALL SELECT * FROM ref)), "
        "(SELECT count(*) FROM (SELECT * FROM ref EXCEPT ALL SELECT * FROM eng))").fetchone()
    if diff != (0, 0):
        problem(1, f"final state: {diff[0]} rows not in reference, {diff[1]} missing")

    # 2. error rows == invalid staged events (batches only; the base's
    # errors belong to the pre-loaded table)
    checks += 1
    invalid = con.execute(f"SELECT count(*) FROM evs WHERE b >= 0 AND NOT ({VALID})").fetchone()[0]
    with open(os.path.join(out, "error_count.txt")) as f:
        errors = int(f.read().strip())
    if errors != invalid:
        problem(1, f"error rows: engine {errors}, reference {invalid}")

    # 3. every lookup returns the reference row as of its batch
    lookups = read_jsonl(os.path.join(out, "lookups.jsonl"))
    failed_lookups = 0
    for b in sorted({lk["b"] for lk in lookups}):
        mine = [lk for lk in lookups if lk["b"] == b]
        con.execute("CREATE OR REPLACE TEMP TABLE keys AS SELECT unnest(?) AS k",
                    [sorted({lk["key"] for lk in mine})])
        ref = {r[0]: _rowkey(*r) for r in con.execute(_live(b, keys=True)).fetchall()}
        for lk in mine:
            got = [_rowkey(r["doc_id"], r["tokens"], r["n_tok"], r["source"]) for r in lk["rows"]]
            want = [ref[lk["key"]]] if lk["key"] in ref else []
            if got != want:
                failed_lookups += 1
    if failed_lookups:
        problem(failed_lookups, f"lookups: {failed_lookups} of {len(lookups)} differ from the reference")

    # 4. every scan aggregate equals the reference's as of its batch
    scans = read_jsonl(os.path.join(out, "scans.jsonl"))
    failed_scans = 0
    for b in sorted({s["b"] for s in scans}):
        rows, ntok = con.execute(
            f"SELECT count(*), coalesce(sum(n_tok), 0) FROM ({_live(b)})").fetchone()
        failed_scans += sum(1 for s in scans if s["b"] == b and (s["rows"], s["n_tok"]) != (rows, ntok))
    if failed_scans:
        problem(failed_scans, f"scans: {failed_scans} of {len(scans)} differ from the reference")

    # 5. near-dup flags == one-shot recomputation of the incremental rule
    if workload == "stream_neardup":
        checks += 1
        with open(os.path.join(out, "neardup_ref.sql")) as f:
            sql = f.read()
        flags = os.path.join(out, "flags", "*.parquet")
        d = con.execute(
            f"WITH r AS ({sql}), e AS (SELECT doc_id, dup_of, agree FROM read_parquet('{flags}')) "
            f"SELECT (SELECT count(*) FROM (SELECT * FROM e EXCEPT ALL SELECT * FROM r)), "
            f"(SELECT count(*) FROM (SELECT * FROM r EXCEPT ALL SELECT * FROM e))").fetchone()
        if d != (0, 0):
            problem(1, f"near-dup flags: {d[0]} not in reference, {d[1]} missing")

    return {"checks": checks, "failed": failed, "problems": problems}


if __name__ == "__main__":
    print(json.dumps(check(*sys.argv[1:4])))
