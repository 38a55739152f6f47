"""Seeded input staging, in DuckDB.

The seed-free part is the engine's own generator (`CdcGenerator.events`
over the 5000-document corpus in perfbench/data), written once per
checkout by the JVM (`perfbench.Main corpus`). From it and the seed this
module writes one workload's input:

  batches/batch-%05d/part-*.parquet  change batches, the engine's event schema
  lookups.json                       lookup keys after each batch
  base                               (trickle_mor) the directory of the
                                     seed-free pre-loaded table's input

The seed sets (for trickle_mor all but the replica keys and token shifts,
which its seed-free base table fixes):
  * replica keys: each corpus doc spawns `replicas` docs whose ids carry a
    seeded hash prefix, so bucket placement changes with the seed;
  * per-doc token shifts, so replicas are not exact duplicates;
  * event timing: each doc's events are spread over the stream from a
    seeded offset, so every batch carries the same op mix;
  * the planted near-duplicate share (stream_neardup);
  * which events fall in which batch, and the lookup keys.
The engine sees only the parquet written here."""
import json
import os
import shutil

import duckdb

STRIDE = 10_000_000       # CdcGenerator.LsnStride: lsn = rep * STRIDE + corpus id
TIE_BITS = 23             # low LSN bits: a per-event tie-break, unique per stream
NEAR_DUP_SLOT = 15        # tie-break slot of a planted near-dup copy (reps < 15)
NEAR_DUP_SHARE = 0.10
BASE_KEY_SEED = 0         # trickle_mor's base table is the same for every seed


def stage_dir(work, workload, seed, size):
    return os.path.join(work, "stage", f"{workload}-s{seed}-r{size['replicas']}"
                                       f"-e{size['every']}-b{size['batches']}-l{size['lookups']}")


def base_dir(work, size):
    """trickle_mor's pre-loaded table input: seed-free, so the table is
    built once per checkout and forked per cycle."""
    return os.path.join(work, "stage", f"trickle_base-r{size['replicas']}-e{size['every']}")


TRICKLE_SIZES = [0.03, 0.01, 0.04, 0.02, 0.06]


def trickle_fractions(batches):
    """Batch sizes as fractions of the table, in a fixed order, so
    the in-line fold lands at the same batch for every seed (the seed
    still decides which events each batch holds)."""
    return [TRICKLE_SIZES[i % len(TRICKLE_SIZES)] for i in range(batches)]


def ensure(work, corpus, workload, seed, size):
    d = stage_dir(work, workload, seed, size)
    if os.path.exists(os.path.join(d, "ready")):
        return d
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    con = duckdb.connect()
    con.execute("SET threads = 4")
    if workload == "trickle_mor":
        # base: every doc's insert, keyed independently of the seed; the
        # seed times the updates/deletes that follow
        _replicate(con, corpus, BASE_KEY_SEED, seed, size)
        bd = base_dir(work, size)
        if not os.path.exists(os.path.join(bd, "base_events")):
            shutil.rmtree(bd, ignore_errors=True)
            con.execute(f"CREATE TABLE b0 AS SELECT *, {_lsn('0', '1', u='0')} AS lsn2 "
                        f"FROM ev WHERE r = 0")
            _copy(con, "SELECT * FROM b0", os.path.join(bd, "base_events.tmp"), 1)
            os.rename(os.path.join(bd, "base_events.tmp"), os.path.join(bd, "base_events"))
        with open(os.path.join(d, "base"), "w") as f:
            f.write(bd)
        con.execute(f"CREATE TABLE base AS SELECT * FROM read_parquet('{bd}/base_events/*.parquet')")
        con.execute(f"CREATE TABLE s AS SELECT *, (1::BIGINT << 62) + {_lsn('r - 1', 'reps - 1')} "
                    f"AS lsn2 FROM ev WHERE r > 0")
        table = con.execute("SELECT count(DISTINCT doc_id) FROM base").fetchone()[0]
        counts = [max(1, int(f * table)) for f in trickle_fractions(size["batches"])]
        _write_batches(con, d, seed, size, counts, extra_keys="base")
    elif workload == "stream_neardup":
        # insert-heavy: every doc's insert, the hot docs' updates, and
        # near-dup copies of a seeded share of the inserts
        _replicate(con, corpus, seed, seed, size)
        con.execute("CREATE TABLE kept AS SELECT *, CASE WHEN id % 50 = 0 THEN reps ELSE 1 END "
                    "AS span FROM ev WHERE r = 0 OR id % 50 = 0")
        cols = "id, r, reps, tie, op, doc_id, tokens, n_tok, source"
        con.execute(f"""CREATE TABLE s AS
            SELECT {cols}, {_lsn('r', 'span')} AS lsn2 FROM kept
            UNION ALL BY NAME
            SELECT id, r, reps, tie - r + {NEAR_DUP_SLOT} AS tie, op, doc_id || '~nd' AS doc_id,
                   -- two tokens edited
                   list_transform(tokens, (t, i) -> CASE
                       WHEN i - 1 = {_h(seed, 3, 'tie')} % len(tokens) THEN ((t + 101) % 65536)::INT
                       WHEN i - 1 = {_h(seed, 4, 'tie')} % len(tokens) THEN ((t + 977) % 65536)::INT
                       ELSE t END) AS tokens,
                   n_tok, source,
                   -- after the source's insert, before the end of the stream
                   {_lsn('0', '1', u=f"u / span + (1 - u / span) * (0.2 + 0.8 * {_unit(seed, 5, 'tie')})",
                         tie=f'tie - r + {NEAR_DUP_SLOT}')} AS lsn2
            FROM kept
            WHERE r = 0 AND doc_id IS NOT NULL AND len(tokens) >= 8
              AND n_tok = len(tokens) AND {_unit(seed, 2, 'tie')} < {NEAR_DUP_SHARE}""")
        _write_batches(con, d, seed, size, None)
        _order_mtimes(d, size["batches"])
    else:
        raise ValueError(workload)
    open(os.path.join(d, "ready"), "w").close()
    return d


def _h(seed, salt, *cols):
    return f"hash({int(seed)}, {salt}, {', '.join(cols)})"


def _unit(seed, salt, *cols):
    return f"({_h(seed, salt, *cols)} % 1000000) / 1e6"


def _lsn(pos, span, u="u", tie="tie"):
    """LSN from the normalized time (pos + u) / span, unique by `tie`;
    per doc a later `pos` always gets a larger LSN."""
    return f"((floor(({pos} + {u}) / ({span}) * 1e9)::BIGINT << {TIE_BITS}) + {tie})"


def _replicate(con, corpus, key_seed, time_seed, size):
    """Table `ev`: every `every`-th corpus doc's events, `replicas` times,
    with replica keys and token shifts from `key_seed` and time offsets
    `u` from `time_seed`; plus the corpus id, the event's index `r` within
    its doc, the doc's event count `reps` and a unique tie-break."""
    replicas = size["replicas"]
    assert 5000 * replicas * 16 < (1 << TIE_BITS), "too many replicas for the LSN layout"
    cid = f"lsn % {STRIDE}"
    key = _h(key_seed, 0, cid, "k")
    con.execute(f"""CREATE TABLE ev AS
        SELECT {cid} AS id, lsn // {STRIDE} AS r,
               1 + ({cid}) % 3 + CASE WHEN ({cid}) % 50 = 0 THEN 12 ELSE 0 END AS reps,
               {_unit(time_seed, 1, cid, 'k')} AS u,
               (({cid}) * {replicas} + k) * 16 + lsn // {STRIDE} AS tie,
               op,
               CASE WHEN doc_id IS NULL THEN NULL
                    ELSE lpad(to_hex({key}), 16, '0') || '-' || doc_id || '-' || k END AS doc_id,
               list_transform(tokens, t -> ((t + {key} % 65536) % 65536)::INT) AS tokens,
               n_tok, source
        FROM read_parquet('{corpus}/*.parquet'), range({replicas}) AS rk(k)
        WHERE ({cid}) % {size['every']} = 0""")


def _copy(con, select, out_dir, files):
    """Write `select` (ordered by LSN) as `files` parquet files."""
    os.makedirs(out_dir)
    for f in range(files):
        con.execute(f"""COPY (SELECT lsn2 AS lsn, op, doc_id, tokens, n_tok, source,
                              to_timestamp(1700000000 + (lsn2 >> {TIE_BITS}) / 1e9 * 86400) AS ingest_ts
                            FROM ({select}) WHERE tie % {files} = {f} ORDER BY lsn2)
                        TO '{out_dir}/part-{f}.parquet' (FORMAT parquet)""")


def _write_batches(con, d, seed, size, counts, extra_keys=None):
    """Split table `s` by LSN into batches — equal counts, or `counts` —
    and pick each batch's lookup keys."""
    n = con.execute("SELECT count(*) FROM s").fetchone()[0]
    b_n = size["batches"]
    if counts is None:
        counts = [n * (b + 1) // b_n - n * b // b_n for b in range(b_n)]
    assert sum(counts) <= n, f"stream has {n} events, the batches need {sum(counts)}"
    cuts = [0]
    for c in counts:
        cuts.append(cuts[-1] + c)
    con.execute("CREATE TABLE sb AS SELECT *, row_number() OVER (ORDER BY lsn2) - 1 AS rn FROM s")
    case = " ".join(f"WHEN rn < {cuts[b + 1]} THEN {b}" for b in range(b_n))
    con.execute(f"CREATE TABLE st AS SELECT *, CASE {case} ELSE -1 END AS b FROM sb")
    keys_sql = "SELECT doc_id FROM st WHERE b >= 0" + (
        f" UNION SELECT doc_id FROM {extra_keys}" if extra_keys else "")
    con.execute(f"CREATE TABLE all_keys AS SELECT DISTINCT doc_id FROM ({keys_sql}) "
                f"WHERE doc_id IS NOT NULL")
    lookups = []
    k = size["lookups"]
    own = k - max(1, k // 5)
    for b in range(b_n):
        _copy(con, f"SELECT * FROM st WHERE b = {b}", os.path.join(d, "batches", f"batch-{b:05d}"),
              size["files"])
        # mostly keys of the batch just committed, the rest uniform
        mine = [r[0] for r in con.execute(
            f"SELECT DISTINCT doc_id FROM st WHERE b = {b} AND doc_id IS NOT NULL "
            f"ORDER BY {_h(seed, 7, str(b), 'doc_id')} LIMIT {own}").fetchall()]
        rest = [r[0] for r in con.execute(
            f"SELECT doc_id FROM all_keys ORDER BY {_h(seed, 8, str(b), 'doc_id')} "
            f"LIMIT {k - len(mine)}").fetchall()]
        lookups.append(mine + rest)
    with open(os.path.join(d, "lookups.json"), "w") as f:
        json.dump(lookups, f)


def _order_mtimes(d, batches):
    """The file stream source takes files in modification-time order:
    give batch b's files a strictly later time than batch b-1's."""
    t0 = 1_700_000_000
    for b in range(batches):
        bd = os.path.join(d, "batches", f"batch-{b:05d}")
        for f in os.listdir(bd):
            os.utime(os.path.join(bd, f), (t0 + 10 * b, t0 + 10 * b))
